"""Distributed BPE merge learning (tokenizer training).

Byte-pair-encoding tokenizers (GPT-2's vocab, SentencePiece BPE) are
trained by iterating: count adjacent symbol pairs across the corpus,
merge the most frequent pair everywhere, repeat. The count step is
the scale problem — one row per adjacent symbol occurrence, corpus-
wide — and it is exactly a map-side-combinable groupBy, so each
training round is one explode+groupBy shuffle over O(total tokens)
rows plus a broadcast of the single winning pair. Nothing about the
loop needs a driver-side corpus: the winner is a 1-row relation
(pulled as two scalars for the kernel path, or broadcast into the
expression path), and round lineage is cut with an eager
``localCheckpoint`` per iteration, so the plan stays flat at any
corpus size and any merge count.

Re-segmentation semantics are the standard greedy left-to-right
non-overlapping pass. Two interchangeable implementations, pinned
equal by ``tests/test_text_pipeline.py``:

- **Arrow kernel (default)** — ``mapInPandas`` over ``(doc_id, arr)``
  applying the merge with a Python list walk: O(d) character work per
  d-token document, map-only, embarrassingly parallel. This is the
  100 TB read path: a growing-string fold costs O(d²) copies on a
  100 k-token web document; the kernel is linear.
- **Column-expression fold** (``use_kernel=False``) — a sequential
  ``aggregate`` fold with the space-joined output string as the
  accumulator (the same position-ordered-fold contract as
  :mod:`datapipe.lm`, reproducible bit-for-bit by any ordered-
  aggregate SQL engine, e.g. DuckDB ``list_reduce``). Kept as the
  oracle-shaped twin and for engines where Python workers are
  unavailable; quadratic in document length, so use the kernel for
  real corpora.

In both, a symbol completing the winning pair fuses with the
just-emitted left symbol into ``a + US + b`` (US = unit separator, a
byte the tokenizer alphabet never contains), otherwise it appends.
Because the fused symbol is a *new* string, runs like ``a a a`` under
merge ``(a, a)`` greedily produce ``[a·a, a]`` — the textbook BPE
pass — with no special-casing.

Ties on pair frequency break deterministically (count desc, then
pair lexicographic asc), so the learned merge table is reproducible
across engines and partitionings.

**Scaling note — merges × passes.** Training does one corpus pass
per merge rule; at a production vocab (50 k merges) that is 50 k
shuffled passes, which no engine should pay. The production norm is
:func:`learn_bpe_merges_sampled`: train the merge table on a
deterministic hash-sample of documents (pair frequencies concentrate
fast — a few % of a web corpus pins the same top pairs), then encode
the FULL corpus once per rule with the learned table (map-only, no
counting shuffle). ``sample == full`` on unambiguous-frequency
corpora is pinned by test; the tok4 oracle twin checks it end-to-end.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import hash32
from enriched_crime_incident_data_pipeline_spark.functions.text import tokens
from enriched_crime_incident_data_pipeline_spark.session import local_frame

SEP = "\x1f"

_SYM_SCHEMA = "doc_id bigint, arr array<string>"

_PAIRS = (
    "transform(slice(arr, 1, greatest(size(arr) - 1, 0)),"
    " (x, i) -> struct(x AS a, element_at(arr, i + 2) AS b))"
)

# greedy left-to-right merge of the (ma, mb) pair as a sequential
# string fold; `right()` checks that the accumulator's LAST emitted
# symbol is exactly ma (symbols never contain spaces). Quadratic in
# document length (accumulator copy per step) — oracle twin only;
# the kernel below is the linear production path.
_APPLY = f"""
split(aggregate(arr, '', (acc, v) -> CASE
  WHEN acc = '' THEN v
  WHEN v = mb AND acc = ma
    THEN concat(ma, '{SEP}', mb)
  WHEN v = mb AND right(acc, length(ma) + 1) = concat(' ', ma)
    THEN concat(substr(acc, 1, length(acc) - length(ma)),
                ma, '{SEP}', mb)
  ELSE concat(acc, ' ', v) END), ' ')
"""


def merge_pair(arr: list, ma: str, mb: str) -> list:
    """Greedy left-to-right non-overlapping merge of (ma, mb) over a
    symbol list — the Python reference model of ``_APPLY``,
    O(len(arr)). The kernels below are its vectorized twin (pinned
    equal by test_text_pipeline)."""
    out: list = []
    fused = ma + SEP + mb
    for v in arr:
        if out and v == mb and out[-1] == ma:
            out[-1] = fused
        else:
            out.append(v)
    return out


# ---------------------------------------------------------------
# Vectorized batch state: documents are flattened to one int-code
# array (dictionary-encoded symbols) + per-doc lengths. Every rule
# application and pair count is then numpy on int64 — no per-token
# Python objects in the hot loop, which is what makes the kernel's
# per-byte constant competitive with a JVM expression at any doc
# length (the growing-string fold it replaces was O(d²) per doc).
# ---------------------------------------------------------------


def _flatten_batch(arrs) -> tuple:
    """list-of-token-arrays → (codes int64, doclen int64, uniq list,
    uniq_map dict)."""
    seqs = [np.asarray(a, dtype=object) for a in arrs]
    doclen = np.fromiter(
        (s.size for s in seqs), dtype=np.int64, count=len(seqs)
    )
    flat = (
        np.concatenate(seqs)
        if seqs and doclen.sum() > 0
        else np.empty(0, dtype=object)
    )
    codes, uniq = pd.factorize(flat)
    uniq_list = list(uniq)
    uniq_map = {s: i for i, s in enumerate(uniq_list)}
    return codes.astype(np.int64), doclen, uniq_list, uniq_map


def _doc_break_positions(doclen: np.ndarray, n: int) -> np.ndarray:
    """Pair positions (i, i+1) that straddle a document boundary:
    i where i+1 is some document's first token."""
    if doclen.size <= 1 or n < 2:
        return np.empty(0, dtype=np.int64)
    starts = np.cumsum(doclen)[:-1]
    return starts[(starts > 0) & (starts < n)] - 1


def _apply_rules_np(codes, doclen, uniq_list, uniq_map, rules):
    """Replay ``rules`` (string pairs) over the flattened batch.
    Greedy non-overlap is resolved vectorized: matches on the
    ORIGINAL sequence, with alternate-position selection inside
    consecutive-match runs (runs only occur when ma == mb — a fused
    symbol can never re-match as the left of its own rule within the
    pass, exactly the single-pass semantics of merge_pair)."""
    for ma, mb in rules:
        ca = uniq_map.get(ma)
        cb = uniq_map.get(mb)
        n = codes.size
        if ca is None or cb is None or n < 2:
            continue
        match = (codes[:-1] == ca) & (codes[1:] == cb)
        match[_doc_break_positions(doclen, n)] = False
        p = np.flatnonzero(match)
        if p.size == 0:
            continue
        if ca == cb and p.size > 1:
            idx = np.arange(p.size)
            run_start = np.concatenate(([True], np.diff(p) != 1))
            gs = np.maximum.accumulate(np.where(run_start, idx, 0))
            p = p[((idx - gs) % 2) == 0]
        fused = ma + SEP + mb
        fc = uniq_map.get(fused)
        if fc is None:
            fc = len(uniq_list)
            uniq_list.append(fused)
            uniq_map[fused] = fc
        codes[p] = fc
        codes = np.delete(codes, p + 1)
        doc_of = np.searchsorted(np.cumsum(doclen), p, side="right")
        doclen = doclen - np.bincount(doc_of, minlength=doclen.size)
    return codes, doclen


def _pair_counts_np(codes, doclen, uniq_list):
    """(a, b, c) distinct adjacent-pair counts of the flattened
    batch — the map-side combine, done vectorized before anything
    leaves the worker."""
    n = codes.size
    if n < 2:
        return pd.DataFrame({"a": [], "b": [], "c": []})
    valid = np.ones(n - 1, dtype=bool)
    valid[_doc_break_positions(doclen, n)] = False
    k = len(uniq_list)
    keys = codes[:-1] * k + codes[1:]
    u, c = np.unique(keys[valid], return_counts=True)
    return pd.DataFrame(
        {
            "a": [uniq_list[x] for x in u // k],
            "b": [uniq_list[x] for x in u % k],
            "c": c.astype(np.int64),
        }
    )


def _apply_rules_kernel(sym: DataFrame, rules: list) -> DataFrame:
    """Map-only merge pass over ``(doc_id, arr)`` applying a whole
    rule list in ONE Arrow kernel hop: linear per-document cost per
    rule (the expression fold is quadratic — see module docstring),
    and a single Python worker round-trip no matter how many rules
    ride along (the fixed cost that dominates short-corpus rounds)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            codes, doclen, uniq_list, uniq_map = _flatten_batch(pdf["arr"])
            codes, doclen = _apply_rules_np(
                codes, doclen, uniq_list, uniq_map, rules
            )
            su = np.array(uniq_list + [""], dtype=object)
            out = np.split(su[codes], np.cumsum(doclen)[:-1])
            pdf = pdf.copy()
            pdf["arr"] = [list(x) for x in out]
            yield pdf

    return sym.mapInPandas(gen, _SYM_SCHEMA)


def _count_pairs_kernel(sym: DataFrame, rules: list) -> DataFrame:
    """Adjacent-pair counts with the rule replay fused in: one Arrow
    hop replays ``rules`` over each document AND pre-aggregates pair
    counts per batch (a Counter), so the shuffle carries one row per
    DISTINCT pair per batch instead of one row per token occurrence —
    the map-side-combine a JVM hash-agg would do, done before the
    data ever leaves the Python worker. Finished by a tiny
    ``groupBy(a, b).sum``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"a": [], "b": [], "c": []})
                continue
            codes, doclen, uniq_list, uniq_map = _flatten_batch(pdf["arr"])
            codes, doclen = _apply_rules_np(
                codes, doclen, uniq_list, uniq_map, rules
            )
            yield _pair_counts_np(codes, doclen, uniq_list)

    return (
        sym.mapInPandas(gen, "a string, b string, c bigint")
        .groupBy("a", "b")
        .agg(F.sum("c").alias("c"))
    )


def adjacent_pair_counts(sym: DataFrame) -> DataFrame:
    """``(a, b, c)`` corpus-wide adjacent-pair frequencies over a
    ``(doc_id, arr)`` symbol relation. One explode + one combinable
    groupBy; no joins."""
    return (
        sym.select(F.explode(F.expr(_PAIRS)).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _train(
    docs: DataFrame,
    iters: int,
    id_col: str,
    text_col: str,
    apply_last: bool,
    use_kernel: bool = True,
    checkpoint_every: int = 8,
):
    """Shared training loop → (raw symbols, final symbols, merges).

    Kernel path (default): one job per training round — the round-k
    pair count reads ``base`` (the last checkpointed symbol state)
    through a single Arrow hop that replays the ≤ ``checkpoint_every``
    rules learned since, and ``base`` is re-materialized only every
    ``checkpoint_every`` rounds. Per-round cost stays
    O(tokens · checkpoint_every) with O(iters / checkpoint_every)
    materializations — flat lineage at any merge count, without the
    per-round checkpoint+collect job overhead that dominates wall
    time on short corpora.
    """
    spark = docs.sparkSession
    sym0 = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("arr")
    )
    if use_kernel:
        # LAZY localCheckpoint, not an eager one (r5): round 1's pair
        # count materializes it inside its own job, so the separate
        # tokenize-and-materialize job barrier disappears; rounds
        # 2..k read the checkpointed blocks, and — unlike persist(),
        # whose CacheManager entry leaks until an explicit
        # unpersist() that no caller of the returned sym0 can safely
        # issue — the blocks are ContextCleaner-reclaimed when the
        # RDD drops (the _pin rationale). (Widening here was
        # A/B-measured and LOSES — 2.9 vs 1.7 s at sf0.1: 32 tasks of
        # scheduling per round × 4 rounds swamps a sub-millisecond
        # numpy count. On a cluster the scan arrives split and the
        # rounds parallelize anyway.)
        sym0 = sym0.localCheckpoint(eager=False)
    else:
        sym0 = sym0.localCheckpoint(eager=True)
    if not use_kernel:
        sym = sym0
        merges = None
        for it in range(1, iters + 1):
            top = (
                adjacent_pair_counts(sym)
                .orderBy(F.desc("c"), "a", "b")
                .limit(1)
                .select(
                    F.lit(it).alias("it"),
                    F.col("a").alias("ma"),
                    F.col("b").alias("mb"),
                    F.col("c").alias("cnt"),
                )
                .localCheckpoint(eager=True)
            )
            merges = top if merges is None else merges.unionByName(top)
            if it < iters or apply_last:
                sym = (
                    sym.crossJoin(F.broadcast(top.select("ma", "mb")))
                    .select("doc_id", F.expr(_APPLY).alias("arr"))
                    .localCheckpoint(eager=True)
                )
        return sym0, sym, merges

    base = sym0
    pending: list = []  # rules learned since `base` was materialized
    rows: list = []
    for it in range(1, iters + 1):
        top = (
            _count_pairs_kernel(base, pending)
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:  # degenerate corpus: no adjacent pairs left
            break
        r = top[0]
        rows.append((it, r["a"], r["b"], r["c"]))
        if it < iters or apply_last:
            pending.append((r["a"], r["b"]))
            if len(pending) >= checkpoint_every:
                base = _apply_rules_kernel(base, pending).localCheckpoint(
                    eager=True
                )
                pending = []
    sym = _apply_rules_kernel(base, pending) if pending else base
    merges = local_frame(
        spark,
        rows, "it int, ma string, mb string, cnt bigint"
    )
    return sym0, sym, merges


def apply_merges(
    sym: DataFrame, merge_rows: list, use_kernel: bool = True
) -> DataFrame:
    """Encode a ``(doc_id, arr)`` symbol relation with an already-
    learned merge table (rows with ``ma``/``mb`` in training order):
    one map-only pass per rule, no counting shuffle. This is the
    full-corpus read path after sampled training."""
    if use_kernel:
        return _apply_rules_kernel(
            sym, [(r["ma"], r["mb"]) for r in merge_rows]
        )
    for r in merge_rows:
        pair = F.broadcast(
            local_frame(
                sym.sparkSession,
                [(r["ma"], r["mb"])], "ma string, mb string"
            )
        )
        sym = sym.crossJoin(pair).select(
            "doc_id", F.expr(_APPLY).alias("arr")
        )
    return sym


def learn_bpe_merges(
    docs: DataFrame,
    iters: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_kernel: bool = True,
) -> DataFrame:
    """``(it, a, b, cnt)`` — the first ``iters`` learned merge rules
    in training order. ``a``/``b`` may themselves be fused symbols
    from earlier rounds (joined with the US byte)."""
    _, _, merges = _train(
        docs, iters, id_col, text_col, apply_last=False, use_kernel=use_kernel
    )
    return merges.select(
        "it", F.col("ma").alias("a"), F.col("mb").alias("b"), "cnt"
    )


def bpe_encode_lengths(
    docs: DataFrame,
    iters: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_kernel: bool = True,
) -> DataFrame:
    """Tokenizer read path: train ``iters`` merges, encode the corpus
    with them, and report ``(doc_id, n_raw, n_bpe)`` sequence lengths
    — the compression audit a tokenizer-training run publishes. The
    encode is the same greedy merge as training (linear Arrow kernel
    by default), so cost per rule is one map-only pass."""
    sym0, sym, _ = _train(
        docs, iters, id_col, text_col, apply_last=True, use_kernel=use_kernel
    )
    raw = sym0.select("doc_id", F.size("arr").cast("bigint").alias("n_raw"))
    enc = sym.select("doc_id", F.size("arr").cast("bigint").alias("n_bpe"))
    return raw.join(enc, "doc_id")


_WORD_SYM_SCHEMA = "w string, freq bigint, arr array<string>"

_CHARS = "transform(sequence(1, length(w)), p -> substr(w, p, 1))"


def _word_hist_syms(docs: DataFrame, text_col: str) -> DataFrame:
    """``(w, freq, arr)`` — the corpus word histogram with each word
    exploded to its character-symbol array. THE classic BPE training
    reduction (Sennrich et al. 2016; every production trainer): pair
    frequencies over the corpus equal pair frequencies over DISTINCT
    words weighted by word frequency, because merges never cross word
    boundaries. The corpus is scanned/shuffled ONCE (a map-side-
    combinable groupBy); every training round after that runs over
    the Zipf-small distinct-word relation."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("w", "freq", F.expr(_CHARS).alias("arr"))
    )


def _pair_counts_weighted_np(codes, doclen, uniq_list, freq):
    """Adjacent-pair counts weighted per row (the word's corpus
    frequency) — exact int64 accumulation via ``np.add.at`` (float
    bincount weights would round above 2^53)."""
    n = codes.size
    if n < 2:
        return pd.DataFrame({"a": [], "b": [], "c": []})
    valid = np.ones(n - 1, dtype=bool)
    valid[_doc_break_positions(doclen, n)] = False
    wpos = np.repeat(freq.astype(np.int64), doclen)[: n - 1]
    k = len(uniq_list)
    keys = codes[:-1] * k + codes[1:]
    u, inv = np.unique(keys[valid], return_inverse=True)
    c = np.zeros(u.size, dtype=np.int64)
    np.add.at(c, inv, wpos[valid])
    return pd.DataFrame(
        {
            "a": [uniq_list[x] for x in u // k],
            "b": [uniq_list[x] for x in u % k],
            "c": c,
        }
    )


def _count_pairs_weighted_kernel(sym: DataFrame, rules: list) -> DataFrame:
    """Frequency-weighted twin of :func:`_count_pairs_kernel` over the
    ``(w, freq, arr)`` word-symbol relation: one Arrow hop replays
    ``rules`` and pre-aggregates weighted pair counts per batch."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"a": [], "b": [], "c": []})
                continue
            codes, doclen, uniq_list, uniq_map = _flatten_batch(pdf["arr"])
            codes, doclen = _apply_rules_np(
                codes, doclen, uniq_list, uniq_map, rules
            )
            yield _pair_counts_weighted_np(
                codes, doclen, uniq_list, pdf["freq"].to_numpy()
            )

    return (
        sym.mapInPandas(gen, "a string, b string, c bigint")
        .groupBy("a", "b")
        .agg(F.sum("c").alias("c"))
    )


def _apply_rules_word_kernel(sym: DataFrame, rules: list) -> DataFrame:
    """Map-only rule replay over ``(w, freq, arr)`` (same numpy walk
    as :func:`_apply_rules_kernel`, word-keyed schema)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            codes, doclen, uniq_list, uniq_map = _flatten_batch(pdf["arr"])
            codes, doclen = _apply_rules_np(
                codes, doclen, uniq_list, uniq_map, rules
            )
            su = np.array(uniq_list + [""], dtype=object)
            out = np.split(su[codes], np.cumsum(doclen)[:-1])
            pdf = pdf.copy()
            pdf["arr"] = [list(x) for x in out]
            yield pdf

    return sym.mapInPandas(gen, _WORD_SYM_SCHEMA)


def _train_chars(
    docs: DataFrame,
    iters: int,
    text_col: str,
    apply_last: bool,
    checkpoint_every: int = 8,
):
    """Character-level training loop over the word histogram →
    (word symbols after all applied rules, merge rows). Round
    structure mirrors :func:`_train`'s kernel path; the relation the
    rounds scan is distinct words, not the corpus."""
    sym0 = _word_hist_syms(docs, text_col).localCheckpoint(eager=False)
    base = sym0
    pending: list = []
    rows: list = []
    for it in range(1, iters + 1):
        top = (
            _count_pairs_weighted_kernel(base, pending)
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        rows.append((it, r["a"], r["b"], r["c"]))
        if it < iters or apply_last:
            pending.append((r["a"], r["b"]))
            if len(pending) >= checkpoint_every:
                base = _apply_rules_word_kernel(base, pending).localCheckpoint(
                    eager=True
                )
                pending = []
    sym = _apply_rules_word_kernel(base, pending) if pending else base
    return sym, rows


def learn_bpe_merges_chars(
    docs: DataFrame,
    iters: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(it, a, b, cnt)`` — classic CHARACTER-level BPE merge rules
    (word-bounded, like GPT-2/SentencePiece), trained on the word
    histogram: the corpus shuffles once into ``(word, freq)``; each
    round's pair count is a frequency-weighted aggregation over
    distinct words only. At 100 TB the histogram is ~10⁵–10⁸ rows
    regardless of corpus size, so a full 50 k-merge vocabulary is
    50 k rounds over a tiny relation — the exact-train answer to the
    merges×passes note (the hash-sampled path stays as the
    approximate alternative). Ties break (count desc, pair asc) as in
    :func:`learn_bpe_merges`."""
    spark = docs.sparkSession
    _, rows = _train_chars(docs, iters, text_col, apply_last=False)
    return local_frame(
        spark,
        rows, "it int, a string, b string, cnt bigint"
    )


def bpe_encode_chars(
    docs: DataFrame,
    iters: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-BPE read path: train ``iters`` merges on the word
    histogram, then size every document under the learned vocabulary
    WITHOUT re-walking any text — each distinct word's piece count is
    known from the final word-symbol relation, so the corpus-side
    cost is one word-explode + one equi-join + one groupBy. Returns
    ``(doc_id, n_words, n_chars, n_bpe)``."""
    sym, _ = _train_chars(docs, iters, text_col, apply_last=True)
    word_pieces = sym.select(
        "w", F.size("arr").cast("bigint").alias("_np")
    )
    per_word = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("w"),
        )
        .filter(F.length("w") >= 1)
    )
    return (
        per_word.join(word_pieces, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum("_np").cast("bigint").alias("n_bpe"),
        )
    )


def learn_bpe_merges_sampled(
    docs: DataFrame,
    iters: int = 3,
    sample_bp: int = 5000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Merge table trained on a deterministic md5-hash document sample
    (``sample_bp`` basis points of the corpus, engine-reproducible —
    the same ``hash32``/``% 10000`` split as stratified sampling).
    The production answer to merges×passes: training cost scales with
    the SAMPLE, the full corpus is only touched by the one-pass
    encode (:func:`apply_merges` / :func:`bpe_encode_sampled`)."""
    sampled = docs.filter(
        hash32(F.concat(F.lit("bpe:"), F.col(id_col).cast("string")))
        % 10000
        < sample_bp
    )
    return learn_bpe_merges(sampled, iters, id_col, text_col)


def bpe_encode_sampled(
    docs: DataFrame,
    iters: int = 3,
    sample_bp: int = 5000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sampled-training read path: learn ``iters`` merges on the hash
    sample, then encode the FULL corpus once with the learned table —
    ``(doc_id, n_raw, n_bpe)`` for every document. Training shuffles
    only sample-sized pair counts; the full-corpus work is map-only."""
    merge_rows = [
        {"ma": r["a"], "mb": r["b"]}
        for r in learn_bpe_merges_sampled(
            docs, iters, sample_bp, id_col, text_col
        ).orderBy("it").collect()
    ]
    # lazy cut (r5): both consumers (the encode kernel and the raw
    # length projection) scan every partition inside the final job,
    # so the blocks materialize there — the dedicated tokenize job
    # disappears
    sym0 = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("arr")
    ).localCheckpoint(eager=False)
    enc = apply_merges(sym0, merge_rows)
    raw = sym0.select("doc_id", F.size("arr").cast("bigint").alias("n_raw"))
    return raw.join(
        enc.select("doc_id", F.size("arr").cast("bigint").alias("n_bpe")),
        "doc_id",
    )
