"""Train/eval decontamination: n-gram overlap between a training
corpus and a held-out evaluation set.

The standard pre-training hygiene step (popularized by GPT-3/PaLM data
cards): a training document is *contaminated* if it shares at least
one word n-gram (n=8..13 in the literature) with any eval document.
Both sides shingle once, the eval shingle set is tiny relative to the
training corpus, so the probe is a broadcast semi-join — the 100 TB
plan is: shingle train (map-only), broadcast the distinct eval-gram
set, count matches per doc without ever shuffling the corpus.

Reference parity note: the reference pipeline (see SURVEY.md) has no
decontamination surface; this is part of the beyond-parity
LLM-data-pipeline operator set (BASELINE.json north star).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.functions.text import tokens
from enriched_crime_incident_data_pipeline_spark.operators.parallelism import (
    fan_out,
)


def doc_ngrams(docs: DataFrame, n: int = 8) -> DataFrame:
    """Distinct word ``n``-grams per document: (doc_id, gram).

    Documents shorter than ``n`` tokens contribute their full token
    sequence as a single gram (same clamp as ``word_shingles``), so
    short eval docs still participate in the overlap check.

    The token array is materialized as a column BEFORE the shingle
    transform: a higher-order-function lambda re-evaluates outer
    expressions per element, so tokenizing inside the lambda would
    rerun the normalize/split regex once per gram position (~n× the
    work). Narrow scans fan out first (PLANS.md #8).
    """
    toks = fan_out(docs).select("doc_id", tokens(F.col("text")).alias("toks"))
    n_sh = F.greatest(F.size(F.col("toks")) - F.lit(n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n)),
    )
    return toks.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))


def ngram_contamination(
    train: DataFrame, eval_docs: DataFrame, n: int = 8
) -> DataFrame:
    """Per-training-document contamination report against an eval set.

    Returns (doc_id, n_shared, contaminated): the number of distinct
    train-doc n-grams that appear in ANY eval document, and a 0/1
    flag. Every training doc appears in the output (n_shared=0 when
    clean), so the result is a drop-list join key for the corpus
    build.

    Scale shape: the eval-gram set is broadcast (eval benchmarks are
    MBs, the corpus is TBs); the train side is shingled map-only and
    aggregated per doc_id — one shuffle on doc_id, no corpus-vs-corpus
    join.
    """
    eval_grams = doc_ngrams(eval_docs, n).select("gram").distinct()
    train_grams = doc_ngrams(train, n)
    shared = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        train.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("int").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def with_contamination_flag(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    eval_grams: frozenset | None = None,
) -> DataFrame:
    """All input columns + a 0/1 ``contaminated`` flag appended
    IN-ROW (r5) — the filter shape for composed corpus builds.

    :func:`ngram_contamination` materializes a separate per-doc
    report relation, which a build must join back (and therefore
    must checkpoint its input to avoid double-executing the upstream
    lineage). Here the eval-gram set is collected once (eval
    benchmarks are MBs by definition — the asymmetry this whole
    module is built on), broadcast as a Python frozenset, and each
    row probes its own grams through an Arrow-batched kernel with
    early exit on the first hit — no per-gram explode, no groupBy
    shuffle, no join-back, so the corpus build's
    language→quality→scrub→decontaminate chain stays a single linear
    map stage. Flag truth value is identical to
    ``ngram_contamination(...).contaminated`` (tokens come from the
    same JVM ``tokens()`` expression; same short-doc clamp — a doc
    with fewer than ``n`` tokens contributes its full token sequence
    as one gram; existence ≡ n_shared>0).

    Why a kernel and not pure column expressions (measured, r5,
    corpus_build3 @ sf0.1): the all-JVM formulation — eval grams as
    one broadcast MAP column probed with ``element_at`` inside an
    ``exists`` — ran **73 s vs 8.5 s** for the whole build, because
    Spark map columns are ArrayBasedMapData: ``element_at`` is a
    LINEAR SCAN of the map per probe, so the probe cost is
    O(|doc grams| × |eval grams|) per row and grows quadratically
    with SF. The frozenset probe is O(1) per gram amortized and the
    kernel early-exits per row. For eval sets too large to collect
    (not benchmarks), use :func:`ngram_contamination`'s broadcast
    hash JOIN instead — joins get a real hash table; map columns
    don't.

    ``eval_grams`` injects a pre-collected gram set — composed builds
    use it to fold the gram collection into ONE driver job shared
    with their other broadcast artifacts."""
    egrams = (
        eval_grams
        if eval_grams is not None
        else frozenset(
            r[0]
            for r in doc_ngrams(eval_docs, n)
            .select("gram")
            .distinct()
            .collect()
        )
    )
    probe = GramProbe(train.sparkSession.sparkContext, egrams, n)
    cols = train.columns
    # materialize the token array in its own projection first (same
    # reasoning as doc_ngrams: don't re-tokenize per gram position)
    return (
        train.withColumn("_toks", tokens(F.col("text")))
        .withColumn("contaminated", probe.flag(F.col("_toks")))
        .select(*cols, "contaminated")
    )


class GramProbe:
    """The eval-gram probe of :func:`with_contamination_flag`, built
    once: ONE broadcast of the gram set and ONE ``pandas_udf`` that
    flags a token array (0/1, ``int``) when any of its ``n``-grams —
    or, under ``n`` tokens, the whole sequence — is in the set. A fold
    that probes every micro-batch builds it once per fold instead of
    re-broadcasting and re-creating the UDF per batch, and releases
    the broadcast with :meth:`release` when the fold ends."""

    def __init__(self, sc, grams: frozenset, n: int) -> None:
        bset = sc.broadcast(grams)

        @F.pandas_udf("int")
        def _probe(toks_col: pd.Series) -> pd.Series:
            s = bset.value
            out = []
            for toks in toks_col:
                t = [] if toks is None else list(toks)
                hit = 0
                for i in range(max(len(t) - (n - 1), 1)):
                    if " ".join(t[i : i + n]) in s:
                        hit = 1
                        break
                out.append(hit)
            return pd.Series(out, dtype="int32")

        self._bset = bset
        self._udf = _probe

    def flag(self, toks: Column) -> Column:
        """The 0/1 contamination flag of a token-array column."""
        return self._udf(toks)

    def release(self) -> None:
        """Destroy the broadcast; the probe is unusable afterwards."""
        self._bset.destroy()


def bloom_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    k: int | None = None,
    m: int | None = None,
) -> DataFrame:
    """Per-doc contamination flag through a BLOOM FILTER of the eval
    grams — the production decontamination structure when the
    blocklist side outgrows an exact broadcast set (e.g. filtering a
    crawl against EVERY known benchmark + prior-training corpus):
    memory is ``m`` bits however many grams go in. No false
    negatives; false positives are md5-deterministic, so even they
    are oracle-checkable bit-for-bit. Returns
    ``(doc_id, contaminated)`` over the train docs.

    Probe shape — the packed-bitset answer to the map-column trap
    (SCALING.md r5): the ≤``m``-bit filter rides as ONE broadcast
    ``array<long>`` of ``m/64`` words, and a probe is
    ``element_at(words, pos >> 6) & (1 << (pos & 63))`` — array
    ``element_at`` is O(1) positional access (unlike map columns,
    which linear-scan), so the whole corpus side is a map-only JVM
    projection: no Python worker, no per-gram explode, no shuffle.
    The k md5s per gram are the probe cost, exactly as in
    :mod:`datapipe.sketch`'s engine-reproducible Bloom."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.sketch import (
        BLOOM_K,
        BLOOM_M,
        bloom_build,
    )

    k = BLOOM_K if k is None else k
    m = BLOOM_M if m is None else m
    nwords = (m + 63) // 64
    bits = bloom_build(
        doc_ngrams(eval_docs, n).select("gram").distinct(),
        F.col("gram"),
        k,
        m,
    )
    # pack the set bits into a dense word array: bit_or the masks per
    # 64-bit word, then densify through a ONE-ROW map lookup (the
    # linear map scan is fine here — it runs nwords·|words| times
    # total during construction, not per corpus row)
    packed = (
        bits.select(
            F.shiftright(F.col("bit"), 6).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").alias(
                "v"
            ),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(v)").alias("v"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("w"), F.col("v")))
            ).alias("_wm")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(nwords - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_wm"), i.cast("int")),
                    F.lit(0).cast("bigint"),
                ),
            ).alias("_bloom_words")
        )
    )
    # one SQL expression over (_toks, _bloom_words): grams by
    # position, k md5 positions per gram (md5 computed ONCE per j),
    # forall-bit-test against the packed words
    prefixes = ", ".join(f"'bloom{j}:'" for j in range(k))
    probe_sql = f"""CAST(exists(
      transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)),
                i -> concat_ws(' ', slice(_toks, i, {n}))),
      g -> forall(
        transform(array({prefixes}),
                  p -> CAST(conv(substring(md5(concat(p, g)), 1, 8),
                                 16, 10) AS BIGINT) % {m}),
        q -> (element_at(_bloom_words,
                         CAST(shiftright(q, 6) AS INT) + 1)
              & shiftleft(CAST(1 AS BIGINT), CAST(q % 64 AS INT))) != 0)
    ) AS INT)"""
    return (
        train.crossJoin(F.broadcast(packed))
        .withColumn("_toks", tokens(F.col("text")))
        .select("doc_id", F.expr(probe_sql).alias("contaminated"))
    )


def ngram_overlap_fraction(
    train: DataFrame, eval_docs: DataFrame, n: int = 8
) -> DataFrame:
    """Fractional contamination score per training document — the
    GPT-3/PaLM-style report metric: of a doc's distinct ``n``-grams,
    what fraction appears anywhere in the eval set. Returns
    ``(doc_id, n_grams, n_shared, overlap_frac)``; unlike
    :func:`ngram_contamination`'s 0/1 flag, the fraction supports
    graduated policies (drop > 50%, down-weight > 10%, audit > 0).

    Same scale shape as the boolean variant: eval grams broadcast
    (benchmarks are MBs, the corpus TBs), train side shingled
    map-only, one shuffle on doc_id. ``overlap_frac`` is a single
    int/int IEEE division, so the oracle reproduces it bit-for-bit.
    """
    eval_grams = doc_ngrams(eval_docs, n).select("gram").distinct()
    tg = doc_ngrams(train, n)
    hit = tg.join(
        F.broadcast(eval_grams.withColumn("_hit", F.lit(1))), "gram", "left"
    )
    return (
        hit.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("int")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("overlap_frac"),
        )
    )


def cross_snapshot_new_docs(
    new_docs: DataFrame, old_docs: DataFrame, key_col: str = "fingerprint"
) -> DataFrame:
    """Incremental-corpus dedup: keep only new-snapshot docs whose
    content fingerprint does not already exist in the previous
    snapshot (left-anti join on the fingerprint).

    The same idempotent-append shape as the reference's
    ``ON CONFLICT DO NOTHING`` insert (src/db/incidents.py:42),
    lifted from a key column to a content hash.
    """
    old_keys = old_docs.select(key_col).distinct()
    return new_docs.join(old_keys, key_col, "left_anti")


def semantic_decontaminate(
    embeddings: DataFrame,
    eval_mod: int = 50,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: training vectors whose cosine
    to ANY held-out eval vector reaches ``threshold`` —
    ``(vec_id, n_eval_hits, max_cos)``.

    The semantic complement of :func:`ngram_contamination` (n-gram
    decon misses paraphrases; embedding decon catches them — the
    protocol of GPT-4-era data cards). Same broadcast shape: the eval
    set is sampled/small (here ``id % eval_mod == 0``, the corpus
    eval-set convention shared with ``ss11``), so it broadcasts and
    the training side never shuffles — per-row work is |eval| cosine
    folds, map-only, then one groupBy on the (already filtered, tiny)
    hit relation. Norms are precomputed per side before the join
    (PLANS.md #12); the cosine fold order matches the oracle's
    sequential dot product, so the threshold comparison is
    bit-reproducible.
    """
    from enriched_crime_incident_data_pipeline_spark.functions.vectors import (
        cosine_from_norms,
        l2_norm,
    )

    train = embeddings.filter(F.col(id_col) % eval_mod != 0).select(
        F.col(id_col),
        F.col(vec_col).alias("_tv"),
        l2_norm(F.col(vec_col)).alias("_tn"),
    )
    ev = embeddings.filter(F.col(id_col) % eval_mod == 0).select(
        F.col(id_col).alias("_eid"),
        F.col(vec_col).alias("_ev"),
        l2_norm(F.col(vec_col)).alias("_en"),
    )
    cos = cosine_from_norms(
        F.col("_tv"), F.col("_ev"), F.col("_tn"), F.col("_en")
    )
    return (
        train.crossJoin(F.broadcast(ev))
        .select(id_col, cos.alias("_cos"))
        .filter(F.col("_cos") >= F.lit(threshold))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_eval_hits"),
            F.max("_cos").alias("max_cos"),
        )
    )


def scrub_contaminated_spans(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    eval_grams: frozenset | None = None,
) -> DataFrame:
    """SURGICAL decontamination: rather than dropping a contaminated
    document wholesale (:func:`ngram_contamination` + filter — and a
    long document with one quoted benchmark item loses all its clean
    text), remove ONLY the tokens covered by an eval-colliding
    ``n``-gram and keep the rest. The graduated policy real curation
    runs use for high-value long documents.

    Returns ``(doc_id, n_tokens, n_masked, scrubbed_text)``:
    original token count, tokens removed, and the surviving tokens
    re-joined in order (empty string when everything was covered).

    Same kernel shape as :func:`with_contamination_flag` (eval grams
    are a broadcast frozenset, probes O(1) amortized), but the kernel
    walks every gram position to build the coverage mask instead of
    early-exiting — still O(d) per d-token document, map-only, no
    shuffle, no join-back."""
    egrams = (
        eval_grams
        if eval_grams is not None
        else frozenset(
            r[0]
            for r in doc_ngrams(eval_docs, n)
            .select("gram")
            .distinct()
            .collect()
        )
    )
    bset = train.sparkSession.sparkContext.broadcast(egrams)

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    rel = train.select(
        F.col("doc_id"), tokens(F.col("text")).alias("_toks")
    )
    id_t = rel.schema["doc_id"].dataType
    out_schema = StructType(
        [
            StructField("doc_id", id_t),
            StructField("n_tokens", IntegerType()),
            StructField("n_masked", IntegerType()),
            StructField("scrubbed_text", StringType()),
        ]
    )

    def gen(batches):
        s = bset.value
        for pdf in batches:
            ids, n_tok, n_msk, texts = [], [], [], []
            for i, toks in zip(pdf["doc_id"], pdf["_toks"]):
                t = [] if toks is None else list(toks)
                d = len(t)
                covered = [False] * d
                for p in range(max(d - (n - 1), 1)):
                    if " ".join(t[p : p + n]) in s:
                        for q in range(p, min(p + n, d)):
                            covered[q] = True
                ids.append(i)
                n_tok.append(d)
                n_msk.append(sum(covered))
                texts.append(
                    " ".join(tk for tk, c in zip(t, covered) if not c)
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_tokens": pd.Series(n_tok, dtype="int32"),
                    "n_masked": pd.Series(n_msk, dtype="int32"),
                    "scrubbed_text": texts,
                }
            )

    return rel.mapInPandas(gen, out_schema)
