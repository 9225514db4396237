"""Continuous corpus ingest: the streaming version of the batch
corpus builds (``registry.q_corpus_build2/3``).

Each micro-batch of arriving documents is deduplicated against the
PERSISTENT state of everything ingested before it, then appended:

1. **near-dup drop** — the batch's MinHash bands probe the standing
   band index via :func:`datapipe.dedup.incremental_lsh_pairs`
   (new-vs-corpus + new-vs-new equi-joins, never corpus²); a new doc
   drops iff it collides with ANY earlier doc (smaller id, in the
   index or in the batch). The band index is append-only and keeps
   the bands of every SEEN doc — kept or dropped — so transitive
   duplicate chains keep collapsing onto the earliest occurrence.
2. **segment drop** — surviving docs split into 10-token segments
   (:func:`datapipe.dedup.doc_segments`); segments whose hash is in
   the seen-segment state (or occurs earlier within the batch) drop;
   docs are rebuilt from the survivors.
3. **idempotent append** — rebuilt docs, batch bands, and surviving
   segment hashes are written into the batch's directory of the
   single state relation (the layout, replay and watermark contract
   of :mod:`streaming.fold`).

Keep-EARLIEST is the streaming-correct keeper rule: the batch
builds' keep-longest (``dedup_drop_list``) needs the whole cluster
before choosing, so a later, longer duplicate would have to
retroactively un-serve an already-appended keeper — impossible in an
append-only stream. With keep-earliest every decision depends only
on documents with smaller ids, which makes the fold PREFIX-STABLE:
ingesting the corpus in any number of id-ordered micro-batches
produces byte-identical state to one batch over everything (pinned
by ``tests/test_multimodal_streaming.py``), and the registry's
``st7_stream_corpus_ingest`` twin is plain batch SQL.

Scale: per batch the only wide ops are the band equi-join against
the index (partitioned by (band_id, band_hash) — the 65k-value
bucket domain), the segment-hash anti-join (uniform 128-bit key),
and one groupBy per rebuilt doc. State is parquet, append-only,
partitionable; work per batch is ∝ |batch| × hit-rate, never
∝ |corpus|.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
    bands_from_sigs,
    doc_segments,
    incremental_lsh_pairs,
    keep_first_segment,
    lsh_candidate_pairs,
    minhash_bands,
    rebuild_winners,
    with_minhash_cols,
)
from enriched_crime_incident_data_pipeline_spark.schemas import INGEST_STATE_SCHEMA
from enriched_crime_incident_data_pipeline_spark.streaming.fold import (
    FoldState,
    kind_sql,
    run_fold,
)

# the state's three kinds: band rows (every SEEN doc), surviving
# segment hashes, and rebuilt corpus rows
_STATE = "ingest_state"
_BAND = kind_sql(INGEST_STATE_SCHEMA, "doc_id", "band_id", "band_hash")
_SEG = kind_sql(INGEST_STATE_SCHEMA, "seg_hash")
_CORPUS = kind_sql(INGEST_STATE_SCHEMA, "doc_id", "n_kept", "deduped_text")


def corpus_ingest_batch(
    state_dir: str, seg_tokens: int = 10
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function that folds one micro-batch
    of documents (``doc_id``, ``text``, …) into the corpus state under
    ``state_dir``."""

    state = FoldState(state_dir, _STATE, INGEST_STATE_SCHEMA)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # ALL per-batch cuts are LAZY (r6, the r5 lazy-cut rule) and —
        # r11 — the whole fold is ONE state-write job. The lazy
        # checkpoints cut each multi-consumer relation (base,
        # kept_docs, kept_segs): within the one job the first stage
        # that computes a pinned relation caches its blocks and later
        # stages read them — two stages racing on a not-yet-cached pin
        # can compute a batch-sized map chain twice (measured small
        # next to the saved job barriers; the work is bounded by ONE
        # batch, never the corpus).
        # ONE MinHash pass over the batch text (the refresh fold's
        # shape): the 16 minima ride a projection of (id, text), and
        # the text stays, because segments and the rebuild need it.
        # No fan_out: inside foreachBatch the batch is a static frame,
        # and micro-batch sizing belongs to the source.
        base = with_minhash_cols(batch_df.select("doc_id", "text")).localCheckpoint(
            eager=False
        )
        new_bands = bands_from_sigs(base)
        # every doc emits one band row per band, so min/max doc_id
        # over the band table equals min/max over the batch
        bands_out, obs = state.observe_ids(new_bands, batch_id)
        # ONE state read per batch; each consumer picks its kind by
        # the witness column
        prior = state.prior(spark, batch_id)
        if prior is not None:
            index = prior.filter("band_id IS NOT NULL").select(
                "doc_id", "band_id", "band_hash"
            )
            pairs = incremental_lsh_pairs(new_bands, index)
        else:
            # new_bands is a projection of the pinned base — the
            # default pin would just add a per-batch job
            pairs = lsh_candidate_pairs(new_bands, pin=False)
        # keep-earliest: a pair (a, b) with a < b drops b; with
        # id-ordered arrival the greater side is always in this batch
        dropped = pairs.select(F.col("b").alias("doc_id")).distinct()
        kept_docs = (
            base.select("doc_id", "text")
            .join(dropped, "doc_id", "left_anti")
            .localCheckpoint(eager=False)
        )
        # segment text is projected away right after the map-side md5:
        # the seen-state anti-join and the keeper aggregate move only
        # (seg_hash, encoded id·2²¹+idx) — text re-enters via the
        # doc-keyed rebuild join, the same never-shuffle-text shape
        # as the batch twin's segment_dedup
        segs = doc_segments(kept_docs, seg_tokens).select(
            "doc_id", "seg_idx", "seg_hash"
        )
        if prior is not None:
            seen = prior.filter("seg_hash IS NOT NULL").select("seg_hash")
            segs = segs.join(seen, "seg_hash", "left_anti")
        kept_segs = keep_first_segment(segs).localCheckpoint(eager=False)
        rebuilt = rebuild_winners(kept_segs, kept_docs, seg_tokens)
        state.write(
            bands_out.selectExpr(*_BAND)
            .unionByName(kept_segs.selectExpr(*_SEG))
            .unionByName(rebuilt.selectExpr(*_CORPUS)),
            batch_id,
        )
        # keep-earliest assumes id-ordered arrival (docs arrive
        # chronologically, ids assigned monotonically). An
        # out-of-order batch would need to retract an already-appended
        # doc — fail loudly instead of silently producing a different
        # corpus than the batch twin.
        state.guard_ids(
            obs, batch_id, "ingest", "keep-earliest dedup requires id-ordered batches"
        )

    return fn


def run_corpus_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    schema,
    state_dir: str,
    seg_tokens: int = 10,
    state_partitions: int | str | None = "auto",
) -> DataFrame:
    """Run an AvailableNow documents stream from ``docs_dir`` (one
    micro-batch per file, in file-timestamp order) through
    :func:`corpus_ingest_batch` and return the resulting corpus
    state ``(doc_id, n_kept, deduped_text)``.

    ``state_partitions`` sizes ``spark.sql.shuffle.partitions`` for
    the per-batch fold — the same deployment knob as
    ``run_available_now``: every wide op inside the fold (band probe,
    seen-segment anti-join, keeper aggregate, rebuild groupBy) runs
    over BATCH-sized relations, so task count should track batch
    volume, not CPU count; it also bounds the file count of each
    per-batch state write, which the next batch pays to re-read. The
    default ``"auto"`` resolves the ``$SPARK_GRAFT_STATE_PARTITIONS``
    deployment knob (``streaming.windows.default_state_partitions``).
    The session conf is restored after the bounded run."""
    from enriched_crime_incident_data_pipeline_spark.streaming.windows import (
        bounded_run_conf,
    )

    # AQE off for the fold (r11): the fold's shuffles are pinned to
    # ``state_partitions`` (nothing for AQE coalescing to do) and AQE
    # materializes every exchange as its own driver job — measured
    # 10-14 → 3-6 jobs per batch, ~0.3-0.8 s/batch at sf0.1; see
    # corpus_refresh.py's runner for the full rationale.
    with bounded_run_conf(spark, state_partitions, adaptive=False):
        fn = corpus_ingest_batch(state_dir, seg_tokens)
        run_fold(spark, docs_dir, schema, state_dir, fn)
    return (
        FoldState(state_dir, _STATE, INGEST_STATE_SCHEMA)
        .read(spark)
        .filter(F.col("n_kept").isNotNull())
        .select("doc_id", "n_kept", "deduped_text")
    )


def batch_twin(docs: DataFrame, seg_tokens: int = 10) -> DataFrame:
    """The batch-SQL-expressible equivalent of the streamed ingest:
    drop every doc that is the GREATER side of any LSH candidate pair
    (keep-earliest), then corpus-wide segment dedup. Prefix-stability
    of the streaming fold means this equals the stream's final state
    for any id-ordered batch split."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        segment_dedup,
    )

    pairs = lsh_candidate_pairs(minhash_bands(docs))
    dropped = pairs.select(F.col("b").alias("doc_id")).distinct()
    return segment_dedup(
        docs.join(dropped, "doc_id", "left_anti"), seg_tokens=seg_tokens
    )
