"""Unigram-LM (SentencePiece-style) tokenizer training + encoding.

The third major tokenizer family next to :mod:`datapipe.bpe` (merge
learning) and :mod:`datapipe.wordpiece` (greedy longest-match): Kudo
2018's unigram language model, the trainer behind SentencePiece's
default mode (what T5 / LLaMA shipped). A piece vocabulary carries
unigram probabilities; a word's segmentation is the Viterbi-best
product of piece probabilities; training alternates expectation and
maximization over the corpus, then prunes to the target vocab size.

Exactness discipline (what makes the DuckDB oracle twin possible):

- **Hard EM (Viterbi E-step).** The E-step assigns each word its
  single best segmentation and counts pieces from it, so the M-step's
  cross-word aggregation is a pure INTEGER sum (word frequency ×
  piece multiplicity) — order-independent, engine-independent. Soft
  EM's forward-backward expected counts would be order-dependent
  float sums; hard EM is the recognized variant that keeps the
  fixpoint reproducible.
- **Laplace-smoothed probabilities** ``p = (c+1)/(T+|V|)`` with
  ``T = Σc`` over the (constant-per-round) vocabulary: one exact
  IEEE division of two integers < 2^53 — bit-identical in Python and
  SQL. Smoothing keeps every piece (in particular every single
  character) strictly positive, so segmentation never dead-ends and
  zero-count pieces survive to the next round exactly as the model
  says they should.
- **No logarithms.** Viterbi compares PRODUCTS of probabilities
  accumulated left-to-right: IEEE multiply is bit-portable across
  engines, ``log``/``exp`` are not. Underflow is impossible in
  practice: pieces ≥ 1/(T+|V|) and words are bounded (a 100-piece
  segmentation of the rarest pieces still sits far above the
  double's 1e-308 floor for any corpus below ~1e3-token words).
- **Deterministic tie-breaks.** The per-position scan runs longest
  piece first with strict ``>`` improvement, so equal-score paths
  resolve to the longest final piece — the same argmax-ties-to-
  longest rule the oracle's CASE cascade implements. Seed and prune
  cutoffs order by ``(count DESC, piece ASC)``.

Scale shape (100 TB): the corpus shuffles ONCE into the word
histogram (the Sennrich reduction — tokenization never crosses word
boundaries, so all statistics live on distinct words weighted by
frequency). Every EM round is one Arrow-kernel map over that
Zipf-small relation plus a ≤|V|-row aggregate collected to the
driver; the vocabulary itself (alphabet + ``seed_k`` pieces) rides
along as a closure. Encoding never re-walks text either: distinct
words encode once, documents join back by word (the tok6 move).

Reference parity: the reference repo (a scraper/Postgres pipeline)
has no tokenizer; this module is part of the LLM-datapipe surface
the brief adds on top.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.functions.text import tokens
from enriched_crime_incident_data_pipeline_spark.session import local_frame

MAX_PIECE_LEN = 4

# every full-length substring of each distinct word, one element per
# (position, length≤maxlen) pair; the inner sequence bound
# least(maxlen, chars-remaining) is ≥ 1 for every position, so the
# bounds stay ascending (sequence(1, 0) would count DOWN)
_SUBSTRINGS = (
    "flatten(transform(sequence(1, length(w)), p -> "
    "transform(sequence(1, least({maxlen}, length(w) - p + 1)),"
    " l -> substr(w, p, l))))"
)


def viterbi_segment(
    word: str, probs: dict, max_len: int = MAX_PIECE_LEN
) -> list:
    """Viterbi-best segmentation of ``word`` under unigram ``probs``:
    maximize the left-to-right product of piece probabilities, pieces
    up to ``max_len`` chars, per-position scan longest-first with
    strict improvement (ties → longest piece). The Python reference
    model — the Arrow kernel and the oracle's recursive-CTE DP are
    pinned to it by test. Requires every single character of ``word``
    to be in ``probs`` (the trainer guarantees it)."""
    n = len(word)
    best: list = [None] * (n + 1)
    back: list = [None] * (n + 1)
    best[0] = 1.0
    for i in range(1, n + 1):
        bs = None
        bp = None
        for ln in range(min(max_len, i), 0, -1):
            piece = word[i - ln : i]
            p = probs.get(piece)
            if p is None or best[i - ln] is None:
                continue
            cand = best[i - ln] * p
            if bs is None or cand > bs:
                bs = cand
                bp = (i - ln, piece)
        best[i] = bs
        back[i] = bp
    assert best[n] is not None, f"unsegmentable word {word!r}"
    out: list = []
    i = n
    while i > 0:
        j, piece = back[i]
        out.append(piece)
        i = j
    out.reverse()
    return out


def _word_hist(docs: DataFrame, text_col: str) -> DataFrame:
    """``(w, freq)`` corpus word histogram — the single corpus-wide
    shuffle all training statistics reduce to."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _substring_counts(wh: DataFrame, max_len: int) -> DataFrame:
    """``(piece, cnt)`` — corpus-occurrence counts (weighted by word
    frequency) of every substring of length 1..``max_len``. Work ∝
    distinct-words × max_len × avg word length, never corpus size."""
    expr = _SUBSTRINGS.format(maxlen=max_len)
    return (
        wh.select(F.col("freq"), F.explode(F.expr(expr)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )


def _probs(counts: dict) -> dict:
    tot = sum(counts.values()) + len(counts)
    return {p: float(c + 1) / float(tot) for p, c in counts.items()}


def _estep_counts(
    wh: DataFrame, probs: dict, max_len: int
) -> DataFrame:
    """One hard-EM E-step: Viterbi-segment every distinct word under
    ``probs`` (closure-shipped — the vocab is alphabet + seed_k
    pieces, tiny at any corpus size) and return integer piece counts
    ``(piece, cnt)`` weighted by word frequency. Per-batch partial
    aggregation in the kernel keeps the shuffle at ≤ |V| rows per
    partition."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            agg: dict = {}
            for w, f in zip(pdf["w"], pdf["freq"]):
                fi = int(f)
                for piece in viterbi_segment(w, probs, max_len):
                    agg[piece] = agg.get(piece, 0) + fi
            yield pd.DataFrame(
                {"piece": list(agg.keys()), "c": list(agg.values())}
            )

    return (
        wh.mapInPandas(gen, "piece string, c bigint")
        .groupBy("piece")
        .agg(F.sum("c").alias("cnt"))
    )


def _train_counts(
    docs: DataFrame,
    text_col: str,
    seed_k: int,
    rounds: int,
    max_len: int,
) -> tuple:
    """Run seed + ``rounds`` hard-EM rounds; returns ``(wh, counts)``
    where ``counts`` maps every vocab piece (all single chars + the
    top-``seed_k`` multi-char seeds) to its final integer E-step
    count. The vocab SET is fixed after seeding (prune-at-the-end);
    Laplace smoothing keeps unused pieces alive across rounds."""
    wh = _word_hist(docs, text_col).localCheckpoint(eager=False)
    subs = _substring_counts(wh, max_len)
    singles = subs.filter(F.length("piece") == 1).collect()
    multis = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(seed_k)
        .collect()
    )
    counts = {r["piece"]: int(r["cnt"]) for r in singles}
    counts.update({r["piece"]: int(r["cnt"]) for r in multis})
    for _ in range(rounds):
        new = {
            r["piece"]: int(r["cnt"])
            for r in _estep_counts(wh, _probs(counts), max_len).collect()
        }
        counts = {p: new.get(p, 0) for p in counts}
    return wh, counts


def _prune(counts: dict, keep_k: int) -> dict:
    """Final vocab: ALL single characters (encodability guarantee,
    the SentencePiece invariant) + the top-``keep_k`` multi-char
    pieces by (final count DESC, piece ASC)."""
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:keep_k]
    out = dict(singles)
    out.update(multis)
    return out


def learn_unigram_vocab(
    docs: DataFrame,
    seed_k: int = 60,
    keep_k: int = 40,
    rounds: int = 2,
    max_len: int = MAX_PIECE_LEN,
    text_col: str = "text",
) -> DataFrame:
    """``(piece, cnt, nchars)`` — the pruned unigram-LM vocabulary
    with each piece's final hard-EM count. Training cost: one corpus
    shuffle (word histogram) + ``rounds`` kernel passes over distinct
    words; every collect is vocab-bounded."""
    _, counts = _train_counts(docs, text_col, seed_k, rounds, max_len)
    final = _prune(counts, keep_k)
    spark = docs.sparkSession
    return local_frame(
        spark,
        [(p, c, len(p)) for p, c in sorted(final.items())],
        "piece string, cnt bigint, nchars int",
    )


def _encode_words_kernel(
    wh: DataFrame, probs: dict, max_len: int
) -> DataFrame:
    """``(w, n_p, pstr)`` — Viterbi piece count + space-joined piece
    string per DISTINCT word. Map-only; documents join back by word,
    so text is never re-walked (the tok6 shape)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_p = []
            pstr = []
            for w in pdf["w"]:
                pieces = viterbi_segment(w, probs, max_len)
                n_p.append(len(pieces))
                pstr.append(" ".join(pieces))
            yield pd.DataFrame(
                {"w": pdf["w"], "n_p": n_p, "pstr": pstr}
            )

    return wh.select("w").mapInPandas(
        gen, "w string, n_p int, pstr string"
    )


def unigram_encode(
    docs: DataFrame,
    seed_k: int = 60,
    keep_k: int = 40,
    rounds: int = 2,
    max_len: int = MAX_PIECE_LEN,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Viterbi encode audit under the trained + pruned
    vocabulary: ``(doc_id, n_words, n_pieces, fp)`` where ``fp`` is
    the md5 of the '|'-joined per-word piece strings in document
    order — pinning the exact segmentation cross-engine, not just
    its length. Wordless documents emit no row (groupBy semantics,
    matching the SQL twin)."""
    wh, counts = _train_counts(docs, text_col, seed_k, rounds, max_len)
    final = _prune(counts, keep_k)
    enc = _encode_words_kernel(wh, _probs(final), max_len)
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    ).filter(F.length("w") >= 1)
    return (
        words.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_p").cast("bigint").alias("n_pieces"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("pos"),
                                    F.col("pstr").alias("pstr"),
                                )
                            )
                        ),
                        lambda s: s["pstr"],
                    ),
                )
            ).alias("fp"),
        )
    )
