"""Streaming-native corpus refresh: the incremental version of the
batch refresh report (``registry.q_corpus_refresh1``).

The batch refresh answers, for every ARRIVING doc, "what is your
admission verdict against the standing corpus?" (exact_dup >
near_dup_old > near_dup_new > contaminated > kept).  The lakehouse
shape real pipelines run is not a nightly batch recompute but the
st7 ingest feeding this refresh incrementally: arriving documents
stream in id-ordered micro-batches, and each batch is judged against

1. **static old-fingerprint state** — the standing corpus's distinct
   normalized-text md5s, written once at stream start (dc2's
   mechanism; a left join per batch, |old| never rescanned as text);
2. **the growing band index** — seeded with the standing corpus's
   MinHash bands and appended per batch (dd12's mechanism via
   :func:`datapipe.dedup.incremental_lsh_pairs`: batch bands probe
   the index, work ∝ |batch| × hit-rate, the corpus NEVER
   self-joins).  A pair whose smaller id is old flags near_dup_old;
   a pair whose smaller id is new flags near_dup_new — with
   id-ordered arrival the smaller side is always already indexed (or
   in the same batch), so the greater side is always judged in its
   own batch: the fold is PREFIX-STABLE and the final verdict table
   is byte-identical to the batch refresh for any id-ordered split
   (pinned by ``test_multimodal_streaming.py`` and the shared
   ``corpus_refresh1`` oracle of ``st28_stream_corpus_refresh``);
3. **static eval-gram state** — the eval set's 8-gram frozenset,
   collected ONCE at stream start into one
   :class:`datapipe.decontaminate.GramProbe` (one broadcast, one
   ``pandas_udf``) that every batch reuses and the fold releases at
   its end (dc6's mechanism: benchmarks are MBs by definition; the
   stream never shuffles for decontamination).

Per micro-batch, each arriving document flows ONCE through every
probe (the multi-way stream-join pipeline shape): ONE projection over
the batch text computes its fingerprint, contamination flag and 16
MinHash minima (``with_minhash_cols``, whose SQL-text expressions are
generated once, not rebuilt per batch), pinned lazily with the text
dropped. Its bands (``bands_from_sigs``) probe the index; the state
is read ONCE per batch under ``schemas.REFRESH_STATE_SCHEMA`` (no
footer job); and the verdict resolves within the row — left-join the
seed's fingerprint kind, left-join the near pairs' ``min(a)``, one
CASE chain — with no union, no group-by over flags and no join-back.
The batch costs its state write plus the write's broadcast probes:
three to four Spark jobs.

Unlike the st7 ingest (which rebuilds corpus text), the refresh is a
pure CLASSIFIER: per batch it writes one verdict row per arriving
doc plus the batch's bands into the batch's directory of the single
state relation (the layout, replay and watermark contract of
:mod:`streaming.fold`).  State size is the band index (∝ docs seen ×
bands/doc, the same artifact dd12 already persists) plus the two
static side inputs — bounded by index size, never by stream length.
An arriving doc must have ``doc_id >= cutoff``: the batch refresh
counts a smaller id as old, so a batch holding one is rejected like
an out-of-order batch.

Scale: per batch the only wide ops are the band equi-join against
the index (65k-value bucket domain), the fingerprint join
(broadcast-sized: distinct md5s of the standing corpus), and the
verdict left-joins over BATCH-sized relations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
    bands_from_sigs,
    incremental_lsh_pairs,
    with_minhash_cols,
)
from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
    GramProbe,
    doc_ngrams,
)
from enriched_crime_incident_data_pipeline_spark.functions.text import (
    doc_fingerprint,
    tokens,
)
from enriched_crime_incident_data_pipeline_spark.schemas import (
    REFRESH_STATE_SCHEMA,
)
from enriched_crime_incident_data_pipeline_spark.streaming.fold import (
    FoldState,
    kind_sql,
    run_fold,
)

# the state's three kinds: band rows (seed + every batch), verdict
# rows, and the seed's old-corpus fingerprint rows
_STATE = "refresh_state"
_BAND = kind_sql(REFRESH_STATE_SCHEMA, "doc_id", "band_id", "band_hash")
_VERDICT = kind_sql(REFRESH_STATE_SCHEMA, "doc_id", "verdict")
_FINGERPRINT = kind_sql(REFRESH_STATE_SCHEMA, "fingerprint")


def corpus_refresh_batch(
    state_dir: str, cutoff: int, probe: GramProbe
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function that classifies one
    micro-batch of arriving documents against the refresh state under
    ``state_dir``.  ``cutoff`` is the standing-corpus id boundary
    (ids < cutoff are the old corpus); ``probe`` is the contamination
    probe over the pre-collected static eval-gram set, built once per
    fold by its owner, who releases it when the fold ends."""
    # the state, the per-row probes and aggregates, built once per fold
    state = FoldState(state_dir, _STATE, REFRESH_STATE_SCHEMA)
    fingerprint = doc_fingerprint(F.col("text")).alias("fingerprint")
    contaminated = probe.flag(tokens(F.col("text"))).alias("contaminated")
    min_a = F.min("a").alias("_mina")
    # exact_dup > near_dup_old > near_dup_new > contaminated > kept;
    # near_old ⇔ ∃ partner a < cutoff ⇔ min(a) < cutoff
    verdict = (
        "CASE WHEN _old THEN 'exact_dup'"
        f" WHEN _mina < {int(cutoff)} THEN 'near_dup_old'"
        " WHEN _mina IS NOT NULL THEN 'near_dup_new'"
        " WHEN contaminated = 1 THEN 'contaminated'"
        " ELSE 'kept' END AS verdict"
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # ONE pass over the batch text: fingerprint, contamination
        # flag and the 16 MinHash minima in a single projection,
        # pinned with the text dropped, so every later consumer (band
        # probe, verdict, state write) reads (id, fp, flag, 16 longs).
        # The pin is lazy: the batch's one write job computes it once
        # (concurrent stages wait on the cached block) and reuses it.
        # No fan_out: inside foreachBatch the batch is a static frame,
        # and micro-batch sizing belongs to the source.
        base = (
            with_minhash_cols(
                batch_df.select("doc_id", "text", fingerprint, contaminated)
            )
            .drop("text")
            .localCheckpoint(eager=False)
        )
        new_bands = bands_from_sigs(base)
        bands_out, obs = state.observe_ids(new_bands, batch_id)
        # ONE state read per batch; the index always exists (seeded
        # with the old corpus's bands at stream start). The static
        # fingerprint set lives in the seed directory (batch=-1).
        prior = state.prior(spark, batch_id)
        index = prior.filter("band_id IS NOT NULL").select(
            "doc_id", "band_id", "band_hash"
        )
        old_fps = prior.filter("fingerprint IS NOT NULL").selectExpr(
            "fingerprint", "true AS _old"
        )
        near = (
            incremental_lsh_pairs(new_bands, index)
            .withColumnRenamed("b", "doc_id")
            .groupBy("doc_id")
            .agg(min_a)
        )
        # the verdict resolves WITHIN the row: the seed's fingerprints
        # are distinct by construction and `near` is one row per doc,
        # so both left joins keep one row per arriving doc, and one
        # precedence chain picks the verdict
        verdicts = (
            base.select("doc_id", "fingerprint", "contaminated")
            .join(old_fps, "fingerprint", "left")
            .join(near, "doc_id", "left")
            .selectExpr("doc_id", verdict)
        )
        state.write(
            bands_out.selectExpr(*_BAND).unionByName(
                verdicts.selectExpr(*_VERDICT)
            ),
            batch_id,
        )
        # a smaller-id batch after a larger one would need to
        # retro-flag already-emitted verdicts, and an id below the
        # cutoff is old to the batch refresh: fail loudly instead
        state.guard_ids(
            obs,
            batch_id,
            "refresh",
            "prefix-stable verdicts require id-ordered batches",
            floor=cutoff,
        )

    return fn


def run_corpus_refresh_stream(
    spark: SparkSession,
    new_docs_dir: str,
    schema,
    state_dir: str,
    old_docs: DataFrame,
    eval_docs: DataFrame,
    cutoff: int,
    ngram: int = 8,
    state_partitions: int | str | None = "auto",
) -> DataFrame:
    """Seed the refresh state from ``old_docs`` (band index +
    fingerprint set) and ``eval_docs`` (static gram set), run an
    AvailableNow stream of arriving documents from ``new_docs_dir``
    through :func:`corpus_refresh_batch`, and return the accumulated
    verdict table ``(doc_id, verdict)`` — one row per arriving doc,
    pinned ≡ the batch refresh (``q_corpus_refresh1``) for any
    id-ordered split."""
    # seed: old bands + old fingerprints under batch=-1 in ONE write
    # (r11) — the standing corpus is the BIG side at scale, so its
    # text is scanned once (with_minhash_cols computes the fingerprint
    # and the 16 minhash minima in the same pass, corpus_build3's
    # fusion idiom) instead of once per artifact; eval grams collected
    # ONCE as before
    from enriched_crime_incident_data_pipeline_spark.streaming.windows import (
        bounded_run_conf,
    )

    # conf scope covers seed + fold (r11): shuffle partitions track
    # state volume, and ADAPTIVE EXECUTION IS OFF for the fold —
    # Structured Streaming itself never applies AQE to micro-batch
    # plans (repeated re-planning doesn't amortize), but a
    # foreachBatch body is a batch plan where Spark leaves it on;
    # here every shuffle is already pinned to ``state_partitions``
    # (nothing for AQE coalescing to do) and AQE materializes EVERY
    # exchange as its own driver job — measured 17 → 9 jobs per st28
    # batch / 10-14 → 3-6 per st7 batch, ~0.3-0.8 s/batch at sf0.1.
    # A deployment whose band buckets skew re-enables AQE by sizing
    # partitions via $SPARK_GRAFT_STATE_PARTITIONS and flipping the
    # session conf — the fold restores whatever was set before.
    state = FoldState(state_dir, _STATE, REFRESH_STATE_SCHEMA)
    probe = None
    with bounded_run_conf(spark, state_partitions, adaptive=False):
        try:
            old_base = with_minhash_cols(
                old_docs.select(
                    "doc_id",
                    "text",
                    doc_fingerprint(F.col("text")).alias("fingerprint"),
                )
                # text is consumed inside the same pass; drop it before
                # the pin so the checkpointed relation is (id, fp, 16
                # longs)
            ).drop("text").localCheckpoint(eager=False)
            state.write(
                bands_from_sigs(old_base).selectExpr(*_BAND).unionByName(
                    old_base.select("fingerprint").distinct()
                    .selectExpr(*_FINGERPRINT)
                ),
                -1,
            )
            probe = GramProbe(
                spark.sparkContext,
                frozenset(
                    r[0]
                    for r in doc_ngrams(eval_docs, ngram)
                    .select("gram")
                    .distinct()
                    .collect()
                ),
                ngram,
            )
            run_fold(
                spark,
                new_docs_dir,
                schema,
                state_dir,
                corpus_refresh_batch(state_dir, cutoff, probe),
            )
        finally:
            if probe is not None:
                probe.release()
    return (
        state.read(spark)
        .filter(F.col("verdict").isNotNull())
        .select("doc_id", "verdict")
    )
