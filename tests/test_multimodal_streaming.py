"""Multimodal plumbing, embedding near-dup, and Structured Streaming.

Streaming equivalence contract: a bounded ``Trigger.AvailableNow``
run of the streaming formulation must equal its batch twin (the
driver oracle-checks the same equivalence at sf0.01).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
    embedding_near_dup_pairs,
)
from enriched_crime_incident_data_pipeline_spark.datapipe.multimodal import (
    extract_features,
    fake_feature,
)

SF_DIR = "/root/testdata/sf0.001"


def test_fake_feature_pinned():
    # byte-histogram moments: acc[i % 8] += byte, normalized
    assert fake_feature(b"") == [0.0] * 8
    assert fake_feature(None) == [0.0] * 8
    feats = fake_feature(bytes([1, 2, 3, 4, 5, 6, 7, 8, 9]))
    # acc = [1+9, 2, 3, 4, 5, 6, 7, 8] → total 45
    assert feats == [
        round(v / 45.0, 6) for v in [10, 2, 3, 4, 5, 6, 7, 8]
    ]


def test_extract_features_mapinpandas(spark):
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"abcd"), "image/png", None, None, None),
            (2, "audio", None, "audio/wav", None, None, None),
        ],
        schema=(
            "media_id long, kind string, content binary, mime string,"
            " width int, height int, duration_ms int"
        ),
    )
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows[1]["n_bytes"] == 4
    assert rows[2]["n_bytes"] == 0
    assert len(rows[1]["feature"]) == 8
    assert rows[2]["feature"] == [0.0] * 8


def test_embedding_near_dup_exact_vs_blocked(spark):
    # centroids = vecs 0,1 (orthogonal); 2 near 0, 3 near 1
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.99, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.01]),
        ],
        schema="vec_id long, embedding array<float>",
    )
    want = [(0, 2), (1, 3)]
    exact = embedding_near_dup_pairs(emb, threshold=0.9).collect()
    assert sorted((r["a"], r["b"]) for r in exact) == want
    blocked = embedding_near_dup_pairs(
        emb, threshold=0.9, block_clusters=2
    ).collect()
    assert sorted((r["a"], r["b"]) for r in blocked) == want


def test_stream_tumbling_equals_batch(spark):
    from enriched_crime_incident_data_pipeline_spark.sources import load_table
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_events,
        tumbling_counts,
    )

    streamed = run_available_now(
        tumbling_counts(stream_events(spark, SF_DIR)),
        "t_stream_tumbling",
        "complete",
    )
    e = load_table(spark, SF_DIR, "events")
    batch = (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_sessions_equals_batch(spark):
    from enriched_crime_incident_data_pipeline_spark.sources import load_table
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        session_counts_stateful,
        stream_events,
    )
    from pyspark.sql import Window

    streamed = run_available_now(
        session_counts_stateful(stream_events(spark, SF_DIR)),
        "t_stream_sessions",
        "update",
    )
    e = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    batch = (
        e.withColumn("_n", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("_n").cast("bigint").alias("n_sessions"))
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_ingest_incremental_checkpoint(spark, tmp_path):
    """Exactly-once incremental ingest: the checkpoint remembers
    processed files, so a re-run picks up only new arrivals — the
    Structured-Streaming replacement for the reference's MAX(ts)
    watermark pruning (src/scrape/normanpd.py:23-27)."""
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        stream_incidents_raw,
    )

    bronze = str(tmp_path / "bronze")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    cols = ["datetime_str", "incident_num", "location", "nature", "incident_ori"]

    def raw(rows):
        return spark.createDataFrame(rows, schema=cols)

    def run_once():
        q = (
            stream_incidents_raw(spark, bronze)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    day1 = [("1/2/2026 0:03", "2026-001", "MAIN ST", "Theft", "OK0140200")]
    raw(day1).coalesce(1).write.mode("append").parquet(bronze)
    run_once()
    assert spark.read.parquet(sink).count() == 1

    day2 = [("1/3/2026 9:30", "2026-002", "VINE ST", "Fraud", "OK0140200")]
    raw(day2).coalesce(1).write.mode("append").parquet(bronze)
    run_once()
    out = spark.read.parquet(sink)
    # both days present exactly once — day1 not reprocessed
    assert out.count() == 2
    assert out.select("incident_num").distinct().count() == 2


def test_kmeans_centroids_separate_clusters(spark):
    from enriched_crime_incident_data_pipeline_spark.datapipe.similarity import (
        train_kmeans_centroids,
    )

    # two tight direction-clusters; init from first 2 vectors
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [0.9, 0.1]), (3, [0.95, 0.05]),
        (4, [0.1, 0.9]), (5, [0.05, 0.95]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = {
        r["cluster"]: r["centroid"]
        for r in train_kmeans_centroids(emb, k=2, iterations=3).collect()
    }
    assert set(cents) == {0, 1}
    # cluster 0 converges toward the x-heavy mean, cluster 1 y-heavy
    assert cents[0][0] > cents[0][1]
    assert cents[1][1] > cents[1][0]
    # means of the assigned members: {0,2,3} and {1,4,5}
    # (1e-6: embeddings are stored float32)
    assert abs(cents[0][0] - (1.0 + 0.9 + 0.95) / 3) < 1e-6
    assert abs(cents[1][1] - (1.0 + 0.9 + 0.95) / 3) < 1e-6


def test_stream_corpus_ingest_prefix_stable(spark, tmp_path):
    """The streamed corpus ingest (3 id-ordered micro-batches through
    foreachBatch state) must produce byte-identical corpus state to
    the one-shot batch twin — the prefix-stability contract of the
    keep-earliest keeper rule."""
    import pyarrow.parquet as pq

    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
        batch_twin,
        run_corpus_ingest_stream,
    )

    src = "/root/testdata/sf0.001/documents.parquet"
    t = pq.read_table(src).sort_by("doc_id")
    n = t.num_rows
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        p = os.path.join(docs_dir, f"b{i}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), p)
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    schema = spark.read.parquet(src).schema
    streamed = run_corpus_ingest_stream(spark, docs_dir, schema, state_dir)
    batch = batch_twin(spark.read.parquet(src))
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    assert got, "ingest must keep documents at sf0.001"


def test_stream_corpus_ingest_rejects_out_of_order_batch(spark, tmp_path):
    """keep-earliest dedup is only correct for id-ordered arrival;
    an out-of-order batch must fail loudly, not silently diverge
    from the batch twin."""
    import pytest as _pytest

    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
        corpus_ingest_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    fn = corpus_ingest_batch(state_dir)
    fn(docs.filter(F.col("doc_id").between(100, 199)), 0)
    with _pytest.raises(ValueError, match="out-of-order"):
        fn(docs.filter(F.col("doc_id") < 100), 1)
    # r11: the rejected batch's SINGLE state directory is un-written —
    # no band/segment/corpus trace at all
    assert not os.path.exists(
        os.path.join(state_dir, "ingest_state", "batch=1")
    )


def test_stream_corpus_ingest_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch (crash →
    replay) must leave the state byte-identical, not duplicated."""
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
        corpus_ingest_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    fn = corpus_ingest_batch(state_dir)
    b0 = docs.filter(F.col("doc_id") < 250)
    b1 = docs.filter(F.col("doc_id") >= 250)
    def _corpus_rows():
        # r11: corpus rows live in the single ingest_state relation,
        # kind-dispatched by the non-null witness column
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, "ingest_state")
            )
            .filter(F.col("n_kept").isNotNull())
            .select("doc_id", "n_kept", "deduped_text")
            .collect()
        )

    fn(b0, 0)
    fn(b1, 1)
    once = _corpus_rows()
    fn(b1, 1)  # replay
    twice = _corpus_rows()
    assert twice == once



def test_corpus_ingest_batch_fixed_cost(spark, tmp_path):
    """A repeated ingest micro-batch (a replay of the second batch,
    under the fold's conf: AQE off, shuffle partitions pinned) runs at
    most 5 Spark jobs — the state write and its broadcast probes: the
    one MinHash pass is pinned lazily and rides them, and the state
    read declares its schema — and compiles no new class."""
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
        corpus_ingest_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    fn = corpus_ingest_batch(state_dir)
    b1 = docs.filter(F.col("doc_id") >= 250)
    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def jobs_and_compiles(group):
        c0 = compiles.METRIC_COMPILATION_TIME().getCount()
        sc.setJobGroup(group, group)
        try:
            fn(b1, 1)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return n_jobs, compiles.METRIC_COMPILATION_TIME().getCount() - c0

    prev = {
        k: spark.conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    }
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fn(docs.filter(F.col("doc_id") < 250), 0)
        jobs_and_compiles("ingest_warm")
        n_jobs, n_compiles = jobs_and_compiles("ingest_again")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert n_jobs <= 5
    assert n_compiles == 0

def test_stream_decontaminate_equals_batch_probe(spark):
    """st8: the AvailableNow streaming contamination guard emits
    exactly the batch probe's contaminated-doc set."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        doc_ngrams,
    )
    from enriched_crime_incident_data_pipeline_spark.registry import (
        spark_queries,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]
        for r in spark_queries()["st8_stream_decontaminate"](
            spark, sf_dir
        ).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = doc_ngrams(docs.filter(F.col("doc_id") % 7 == 0), 8).select(
        "gram"
    ).distinct()
    want = {
        r["doc_id"]
        for r in doc_ngrams(docs.filter(F.col("doc_id") % 7 != 0), 8)
        .join(F.broadcast(ev), "gram")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert got == want and got


def test_stateless_ivf_assign_equals_batch_argmax(spark):
    """st10's streaming-safe row-expression assigner must reproduce
    the batch groupBy max_by assignment bit-for-bit, ties included."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.similarity import (
        ivf_assignments,
        stateless_ivf_assign,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent_rows = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 16).collect()
    ]
    want = {
        (r["vec_id"], r["cluster"])
        for r in ivf_assignments(emb, 16).collect()
    }
    got = {
        (r["vec_id"], r["cluster"])
        for r in stateless_ivf_assign(emb, cent_rows)
        .select("vec_id", "cluster")
        .collect()
    }
    assert got == want and got


def _dhash_model(content: bytes) -> int:
    """Pure-Python reference model of the dHash kernel."""
    if not content:
        return 0
    cells = [0] * 72
    for i, byte in enumerate(content):
        cells[i % 72] += byte
    h = 0
    for r in range(8):
        for c in range(8):
            if cells[r * 9 + c] > cells[r * 9 + c + 1]:
                h |= 1 << (r * 8 + c)
    return h - (1 << 64) if h >= 1 << 63 else h


def test_dhash_kernel_matches_python_model(spark):
    from enriched_crime_incident_data_pipeline_spark.datapipe.multimodal import (
        dhash_signatures,
    )

    payloads = [
        (1, b"the quick brown fox jumps over the lazy dog" * 8),
        (2, b"the quick brown fox jumps over the lazy dog" * 8),  # exact dup
        (3, bytes(range(256)) * 3),
        (4, b"x"),  # shorter than one grid pass
        (5, b""),
        (6, None),
    ]
    media = spark.createDataFrame(
        [(i, bytearray(p) if p is not None else None) for i, p in payloads],
        schema="media_id long, content binary",
    )
    got = {
        r["media_id"]: r["dhash"]
        for r in dhash_signatures(media).collect()
    }
    for i, p in payloads:
        assert got[i] == _dhash_model(p or b""), f"media {i}"
    assert got[1] == got[2]


def test_phash_near_dup_finds_dups_and_stays_banded(spark):
    from enriched_crime_incident_data_pipeline_spark.datapipe.multimodal import (
        phash_near_dup_pairs,
    )

    base = b"incident report: armed robbery at 123 main street, suspect fled north " * 6
    # flip a couple of bytes -> near-identical byte fold -> small hamming
    near = bytearray(base)
    near[10] ^= 1
    media = spark.createDataFrame(
        [
            (1, bytearray(base)),
            (2, bytearray(base)),          # exact dup: hamming 0
            (3, bytearray(bytes(near))),   # near dup
            (4, bytes(range(256)) * 2),    # unrelated
        ],
        schema="media_id long, content binary",
    )
    pairs = phash_near_dup_pairs(media, max_hamming=3)
    got = {(r["media_a"], r["media_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert (1, 4) not in got and (2, 4) not in got and (3, 4) not in got
    # candidate generation is a band equi-join, never a cartesian
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stream_sliding_equals_batch(spark):
    from enriched_crime_incident_data_pipeline_spark.sources import load_table
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        sliding_counts,
        stream_events,
    )

    streamed = run_available_now(
        sliding_counts(stream_events(spark, SF_DIR)),
        "t_stream_sliding",
        "complete",
    )
    e = load_table(spark, SF_DIR, "events")
    batch = (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows
    # every event lands in exactly window/slide = 2 windows
    n_events = e.count()
    assert sum(r[2] for r in srows) == 2 * n_events


def test_truncated_dim_recall_full_dim_is_perfect(spark):
    from enriched_crime_incident_data_pipeline_spark.datapipe.similarity import (
        truncated_dim_recall,
    )
    from enriched_crime_incident_data_pipeline_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.first()["embedding"])
    # truncating to the full dimension must reproduce exact search
    full = truncated_dim_recall(emb, trunc_dim=dim, query_mod=100, k=5)
    assert all(r["recall"] == 1.0 for r in full.collect())
    # a real truncation stays a valid ratio in [0, 1]
    part = truncated_dim_recall(emb, trunc_dim=8, query_mod=100, k=5)
    rows = part.collect()
    assert rows and all(0.0 <= r["recall"] <= 1.0 for r in rows)


def test_semantic_decontaminate_flags_planted_dup(spark):
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        semantic_decontaminate,
    )

    # eval vector is id 0 (0 % 2 == 0); id 1 duplicates it, id 3 is
    # orthogonal — only the duplicate may be flagged
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),   # same direction as eval 0
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r
        for r in semantic_decontaminate(
            emb, eval_mod=2, threshold=0.9
        ).collect()
    }
    assert set(got) == {1}
    assert got[1]["n_eval_hits"] == 1
    assert got[1]["max_cos"] == pytest.approx(1.0)


def test_mm6_curve_monotone_and_anchored(spark):
    """Curve invariants: pair counts and media_affected non-
    decreasing in the Hamming cutoff, and the widest point equals
    the mm5 pair relation's size (same banded generator)."""
    from pyspark.sql import functions as F

    from enriched_crime_incident_data_pipeline_spark.registry import (
        spark_queries,
    )

    sf = "/root/testdata/sf0.001"
    qs = spark_queries()
    rows = sorted(
        (r["max_hamming"], r["n_pairs"], r["media_affected"])
        for r in qs["mm6_phash_threshold_curve"](spark, sf).collect()
    )
    assert [h for h, _, _ in rows] == [0, 1, 2, 3]
    for (h1, p1, m1), (h2, p2, m2) in zip(rows, rows[1:]):
        assert p1 <= p2 and m1 <= m2
    assert rows[-1][1] == qs["mm5_phash_neardup"](spark, sf).count() > 0


def test_stream_corpus_refresh_prefix_stable_and_idempotent(spark, tmp_path):
    """The streaming refresh (st28) must (a) produce the batch
    refresh's exact verdict table when arriving docs stream in
    id-ordered micro-batches — every verdict depends only on
    smaller-id docs plus static state, so the fold is prefix-stable
    — (b) leave state unchanged on an at-least-once replay, and
    (c) reject an out-of-order batch loudly."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pytest as _pytest

    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        GramProbe,
        doc_ngrams,
    )
    from enriched_crime_incident_data_pipeline_spark.registry.corpus import (
        q_corpus_refresh1,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_refresh import (
        corpus_refresh_batch,
        run_corpus_refresh_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    src = sf_dir + "/documents.parquet"
    cutoff = 250
    t = pq.read_table(src).sort_by("doc_id")
    new_t = t.filter(pc.field("doc_id") >= cutoff)
    n = new_t.num_rows
    assert n > 0
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        p = os.path.join(docs_dir, f"b{i}.parquet")
        pq.write_table(new_t.slice(cuts[i], cuts[i + 1] - cuts[i]), p)
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    docs = spark.read.parquet(src)
    old_docs = docs.filter(F.col("doc_id") < cutoff)
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    streamed = run_corpus_refresh_stream(
        spark,
        docs_dir,
        spark.read.parquet(src).schema,
        state_dir,
        old_docs,
        eval_docs,
        cutoff,
    )
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in q_corpus_refresh1(spark, sf_dir).collect()}
    assert got == want
    assert len(got) == n, "one verdict row per arriving doc"

    # replay idempotency: re-fold the LAST batch with its original
    # batch_id; the per-batch overwrite must leave state identical
    grams = frozenset(
        r[0]
        for r in doc_ngrams(eval_docs, 8).select("gram").distinct().collect()
    )
    probe = GramProbe(spark.sparkContext, grams, 8)
    fn = corpus_refresh_batch(state_dir, cutoff, probe)
    last = spark.read.parquet(os.path.join(docs_dir, "b2.parquet"))
    # the AvailableNow run used batch ids 0..2
    fn(last, 2)
    # r11: verdicts live in the single refresh_state relation, kind-
    # dispatched by the non-null witness column
    replayed = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(state_dir, "refresh_state"))
        .filter(F.col("verdict").isNotNull())
        .select("doc_id", "verdict")
        .collect()
    }
    assert replayed == want

    # out-of-order rejection: a batch whose min id precedes the
    # watermark must raise and leave no state trace (single per-batch
    # directory since r11)
    with _pytest.raises(ValueError, match="out-of-order"):
        fn(spark.read.parquet(os.path.join(docs_dir, "b0.parquet")), 3)
    assert not os.path.exists(
        os.path.join(state_dir, "refresh_state", "batch=3")
    )


_TINY_CUTOFF = 12


def _tiny_refresh(spark, tmp_path):
    """The refresh fold over 12 standing docs (ids 0-11) and one
    arriving batch of 8 (ids 12-19). Docs 0 and 1 share one
    normalized text and arriving doc 12 is a third copy of it; the
    rest are unrelated. Returns the state dir, the arriving batch,
    the eval grams and the verdict rows."""
    import random

    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        doc_ngrams,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_refresh import (
        run_corpus_refresh_stream,
    )

    rng = random.Random(11)
    vocab = [f"v{i}" for i in range(400)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(20))) for i in range(20)
    ]
    copy = "The quick brown fox jumps over the lazy dog twice"
    rows[0] = (0, copy)
    rows[1] = (1, "the QUICK, brown fox -- jumps over the lazy dog twice!")
    rows[12] = (12, "the quick brown fox jumps over the lazy dog TWICE.")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs_dir = str(tmp_path / "docs")
    docs.filter(F.col("doc_id") >= _TINY_CUTOFF).coalesce(1).write.parquet(
        docs_dir
    )
    old_docs = docs.filter(F.col("doc_id") < _TINY_CUTOFF)
    eval_docs = spark.createDataFrame(
        [(900, " ".join(vocab[:10]))], "doc_id long, text string"
    )
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    verdicts = run_corpus_refresh_stream(
        spark, docs_dir, docs.schema, state_dir, old_docs, eval_docs, _TINY_CUTOFF
    ).collect()
    grams = frozenset(
        r[0] for r in doc_ngrams(eval_docs, 8).select("gram").collect()
    )
    batch = spark.read.parquet(docs_dir)
    return state_dir, batch, grams, verdicts


def test_stream_corpus_refresh_exact_dup_is_one_verdict(spark, tmp_path):
    """Two standing docs with one normalized text plus one arriving
    copy: the copy gets exactly one verdict row, exact_dup (it is also
    a near-dup of both, and exact wins), and every other arrival one
    row each."""
    _, _, _, verdicts = _tiny_refresh(spark, tmp_path)
    assert [r["verdict"] for r in verdicts if r["doc_id"] == 12] == ["exact_dup"]
    assert sorted(r["doc_id"] for r in verdicts) == list(range(12, 20))


def test_corpus_refresh_batch_fixed_cost(spark, tmp_path):
    """A repeated refresh micro-batch (a replay of the same batch,
    under the fold's conf: AQE off, shuffle partitions pinned) runs at
    most 4 Spark jobs — the lazily pinned text pass rides the state
    write, the state read declares its schema, so the rest are the
    write and its broadcast probes — and compiles no new class."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        GramProbe,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_refresh import (
        corpus_refresh_batch,
    )

    state_dir, batch, grams, _ = _tiny_refresh(spark, tmp_path)
    probe = GramProbe(spark.sparkContext, grams, 8)
    fn = corpus_refresh_batch(state_dir, _TINY_CUTOFF, probe)
    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def jobs_and_compiles(group):
        c0 = compiles.METRIC_COMPILATION_TIME().getCount()
        sc.setJobGroup(group, group)
        try:
            fn(batch, 0)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return n_jobs, compiles.METRIC_COMPILATION_TIME().getCount() - c0

    prev = {
        k: spark.conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    }
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs_and_compiles("refresh_warm")
        n_jobs, n_compiles = jobs_and_compiles("refresh_again")
    finally:
        probe.release()
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert n_jobs <= 4
    assert n_compiles == 0



def test_corpus_refresh_batch_rejects_ids_below_cutoff(spark, tmp_path):
    """An arriving doc with ``doc_id < cutoff`` is old to the batch
    refresh, so a batch holding one contradicts the refresh contract:
    it must fail loudly and leave no state trace — also as the
    stream's FIRST batch, where no watermark exists yet to catch it."""
    import shutil

    import pytest as _pytest

    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        GramProbe,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_refresh import (
        corpus_refresh_batch,
    )

    state_dir, _, grams, _ = _tiny_refresh(spark, tmp_path)
    # back to the state as the stream starts: the seed alone, no
    # arriving batch and no watermark
    state_path = os.path.join(state_dir, "refresh_state")
    shutil.rmtree(os.path.join(state_path, "batch=0"))
    os.remove(os.path.join(state_dir, "_id_watermark"))
    probe = GramProbe(spark.sparkContext, grams, 8)
    fn = corpus_refresh_batch(state_dir, _TINY_CUTOFF, probe)
    straddling = spark.createDataFrame(
        [(i, f"arriving doc number {i} of the straddling batch") for i in range(8, 16)],
        "doc_id long, text string",
    )
    try:
        with _pytest.raises(ValueError, match="cutoff"):
            fn(straddling, 0)
    finally:
        probe.release()
    assert sorted(d for d in os.listdir(state_path) if d.startswith("batch=")) == [
        "batch=-1"
    ]
    assert not os.path.exists(os.path.join(state_dir, "_id_watermark"))


def test_fold_kind_projections_null_cast_the_other_columns():
    """Each kind projection lists the state schema's columns in order
    (the ``batch`` partition column aside): the kind's own columns by
    name, every other one as a typed NULL."""
    from enriched_crime_incident_data_pipeline_spark.schemas import (
        INGEST_STATE_SCHEMA,
        REFRESH_STATE_SCHEMA,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.fold import (
        kind_sql,
    )

    assert kind_sql(REFRESH_STATE_SCHEMA, "doc_id", "verdict") == (
        "doc_id",
        "CAST(NULL AS INT) AS band_id",
        "CAST(NULL AS BINARY) AS band_hash",
        "verdict",
        "CAST(NULL AS STRING) AS fingerprint",
    )
    assert kind_sql(INGEST_STATE_SCHEMA, "seg_hash") == (
        "CAST(NULL AS BIGINT) AS doc_id",
        "CAST(NULL AS INT) AS band_id",
        "CAST(NULL AS BINARY) AS band_hash",
        "seg_hash",
        "CAST(NULL AS INT) AS n_kept",
        "CAST(NULL AS STRING) AS deduped_text",
    )

def test_stream_corpus_folds_write_their_declared_state_schemas(
    spark, tmp_path
):
    """Both corpus folds read their state under a declared schema;
    what they write (read back with inference) must be exactly it."""
    from enriched_crime_incident_data_pipeline_spark.schemas import (
        INGEST_STATE_SCHEMA,
        REFRESH_STATE_SCHEMA,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
        run_corpus_ingest_stream,
    )

    def fields(schema):
        return [(f.name, f.dataType) for f in schema]

    state_dir, batch, _, _ = _tiny_refresh(spark, tmp_path / "refresh")
    written = spark.read.parquet(os.path.join(state_dir, "refresh_state"))
    assert fields(written.schema) == fields(REFRESH_STATE_SCHEMA)

    ingest_dir = str(tmp_path / "ingest")
    os.makedirs(ingest_dir)
    run_corpus_ingest_stream(
        spark, str(tmp_path / "refresh" / "docs"), batch.schema, ingest_dir
    )
    written = spark.read.parquet(os.path.join(ingest_dir, "ingest_state"))
    assert fields(written.schema) == fields(INGEST_STATE_SCHEMA)


def test_frame_dhash_honors_id_col(spark):
    """ADVICE r8: frame_dhash_signatures took an id_col parameter but
    hardcoded the output column to media_id, so frame_match_pairs
    with a non-default id broke at fr.select(id_col, ...)."""
    from enriched_crime_incident_data_pipeline_spark.datapipe.multimodal import (
        frame_dhash_signatures,
        frame_match_pairs,
    )

    media = spark.createDataFrame(
        [(1, b"a" * 200), (2, b"a" * 200), (3, b"zqx" * 64)],
        "vid long, content binary",
    )
    fr = frame_dhash_signatures(media, id_col="vid")
    assert fr.columns == ["vid", "frame_idx", "fhash"]
    pairs = frame_match_pairs(media, min_shared=2, id_col="vid").collect()
    assert {(r["media_a"], r["media_b"]) for r in pairs} == {(1, 2)}


def test_deletion_variant_hot_cap_bounds_degenerate_domain(spark):
    """ADVICE r8 + r10: a skewed name domain (many identical names)
    fans out n²/2 pairs from one variant bucket; the opt-in
    max_ids_per_variant anti-join cap drops the hot bucket BEFORE
    the self-join. The DEFAULT is None = exact (r10 advisor: a
    silent always-on cap was a recall-affecting surprise) — er4
    passes 256 explicitly for its bounded-join contract."""
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        deletion_variant_pairs,
    )

    rows = [(i, "SameName") for i in range(30)] + [
        (100, "Unique#1"),
        (101, "Unique#2"),
    ]
    df = spark.createDataFrame(rows, "id long, nm string")
    capped = deletion_variant_pairs(
        df, "id", "nm", max_ids_per_variant=8
    ).collect()
    # the 30-way identical bucket is dropped; the unique pair stays
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(100, 101)}
    # default (no cap) is EXACT: every pair from the hot bucket kept
    full = deletion_variant_pairs(df, "id", "nm").count()
    assert full == 30 * 29 // 2 + 1


def _conf(spark):
    return (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )


def test_bounded_runners_reject_bad_state_partitions_untouched(
    spark, tmp_path
):
    """``state_partitions`` is an int, ``"auto"`` or ``None``: any other
    string fails at the call, before the session conf is written (it
    used to be written verbatim into spark.sql.shuffle.partitions)."""
    import pytest as _pytest

    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
        run_corpus_ingest_stream,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_refresh import (
        run_corpus_refresh_stream,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.source import (
        stream_events,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming.windows import (
        run_available_now,
    )

    src = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(src)
    before = _conf(spark)
    runs = {
        "available_now": lambda sp: run_available_now(
            stream_events(spark, "/root/testdata/sf0.001"),
            "bad_state_partitions",
            "append",
            state_partitions=sp,
        ),
        "corpus_ingest": lambda sp: run_corpus_ingest_stream(
            spark, str(tmp_path), docs.schema, str(tmp_path),
            state_partitions=sp,
        ),
        "corpus_refresh": lambda sp: run_corpus_refresh_stream(
            spark, str(tmp_path), docs.schema, str(tmp_path), docs, docs,
            cutoff=0, state_partitions=sp,
        ),
    }
    for name, run in runs.items():
        for bad in ("Auto", "8 "):
            with _pytest.raises(ValueError, match="state_partitions"):
                run(bad)
            assert _conf(spark) == before, (name, bad)


def test_bounded_run_conf_restored_after_failing_fold(spark, tmp_path):
    """A fold that raises mid-stream (an out-of-order batch) still
    restores the shuffle-partition and adaptive-execution conf it
    pinned for the run."""
    import pyarrow.parquet as pq
    import pytest as _pytest

    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
        run_corpus_ingest_stream,
    )

    src = "/root/testdata/sf0.001/documents.parquet"
    t = pq.read_table(src).sort_by("doc_id")
    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    # the second file to arrive holds the LOWER ids: rejected
    for i, part in enumerate((t.slice(100, 100), t.slice(0, 100))):
        p = os.path.join(docs_dir, f"b{i}.parquet")
        pq.write_table(part, p)
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    saved = _conf(spark)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        with _pytest.raises(Exception, match="out-of-order"):
            run_corpus_ingest_stream(
                spark, docs_dir, spark.read.parquet(src).schema, state_dir,
                state_partitions=3,
            )
        assert _conf(spark) == ("7", "true")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved[0])
        spark.conf.set("spark.sql.adaptive.enabled", saved[1])
