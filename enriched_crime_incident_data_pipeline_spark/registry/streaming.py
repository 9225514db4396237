"""Streaming family (st*): Structured Streaming twins pinned to batch semantics.

Split out of registry.py (r6); function bodies unchanged. ``QUERIES``
and ``ORACLES`` are assembled into the full registry by
``registry/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import hash32, minhash_bands
from enriched_crime_incident_data_pipeline_spark.datapipe.similarity import ivf_assignments
from enriched_crime_incident_data_pipeline_spark.functions.text import tokens
from enriched_crime_incident_data_pipeline_spark.session import local_frame
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table

from enriched_crime_incident_data_pipeline_spark.registry._shared import (
    _KS_DRIFT_SQL,
    _LINEAR_TREND_SQL,
    _MIXTURE_CURVE_SQL,
    _MAX_CONCURRENCY_SQL,
    _COS,
    _DC7_BLOOM_SQL,
    _HASH32,
    _MINHASH_BANDS_SQL,
    _NORM,
    _SESSIONIZATION_SQL,
    _TOKENS,
    _TOKEN_COUNT,
    _TUMBLING_SQL,
    _documents_as_media,
)




def q_st3_stream_static_join(spark, sf_dir):
    # stream-static broadcast join: streaming events enriched against
    # a static dimension, then a streaming aggregation
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_events,
    )

    dim = local_frame(
        spark,
        [("click", 1), ("view", 2), ("error", 3), ("purchase", 4), ("signup", 5)],
        "event_type string, w int",
    )
    s = stream_events(spark, sf_dir).join(F.broadcast(dim), "event_type")
    agg = (
        s.groupBy("event_type", "w")
        .count()
        .select(
            "event_type",
            (F.col("count") * F.col("w")).cast("bigint").alias("weighted_n"),
        )
    )
    return run_available_now(
        agg, "st3_static_join", "complete"
    )


def q_st15_stream_temporal_enrich(spark, sf_dir):
    # stream-static temporal (SCD2 as-of) enrichment: arriving fact
    # events join the static dimension-history table on key +
    # interval containment — STATELESS on the stream side (each
    # micro-batch joins the static relation; no watermark state),
    # the streaming twin of scd3. AvailableNow run ≡ the batch
    # lookup, same oracle SQL.
    from enriched_crime_incident_data_pipeline_spark.operators.scd import (
        scd2_intervals,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    ev = load_table(spark, sf_dir, "events")
    # the dimension HISTORY is a maintained table in any real
    # deployment, not something rebuilt per arriving batch — pin it
    # once before the stream starts, so each micro-batch joins the
    # materialized intervals instead of re-running the version window
    dim = scd2_intervals(
        ev.filter(F.col("event_type").isin("signup", "purchase")).select(
            F.col("event_id").alias("dim_event_id"),
            "user_id",
            "ts",
            F.col("value").alias("dim_value"),
        ),
        ["user_id"],
        "ts",
        "dim_event_id",
    ).localCheckpoint(eager=True)
    # normalize the raw stream's TIMESTAMP_NTZ once in the projection
    # (one cast per fact row). Left inside the join residual, Spark
    # wraps EVERY candidate comparison in the zone cast — the SMJ
    # evaluates the residual per (fact, version) pair, so the cast
    # runs ~versions-per-key times per fact: measured 18 s vs 3 s on
    # the 10M-event backfill
    facts = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
    )
    joined = facts.join(
        dim,
        (facts["user_id"] == dim["user_id"])
        & (dim["valid_from"] <= facts["ts"])
        & (dim["valid_to"].isNull() | (facts["ts"] < dim["valid_to"])),
        "left",
    ).select(
        facts["event_id"], facts["user_id"], facts["ts"],
        "dim_event_id", "dim_value",
    )
    # NO state_partitions override: this query is STATELESS (no
    # aggregation/dedup/stream-stream join → zero state stores), so
    # shuffle partitioning should track DATA volume like any batch
    # join — pinning it to a small state-sized count strangled the
    # join at the 10M-event backfill point (62 s → 28 s at sf10;
    # with the projection-cast fix above, 7.2 s vs the 3.5 s batch
    # twin — the residue is micro-batch machinery + sink collection)
    return run_available_now(
        joined, "st15_temporal_enrich", "append", state_partitions=None
    )


def q_st6_stream_lsh_probe(spark, sf_dir):
    # continuous dedup: a document stream computes row-wise MinHash
    # bands (stateless map — possible only because signatures no
    # longer groupBy) and probes the STATIC band index via a
    # stream-static equi-join; dropDuplicates dedups multi-band hits.
    # Bounded AvailableNow run ≡ the batch incremental probe.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        minhash_bands,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    index = minhash_bands(docs.filter(F.col("doc_id") % 5 != 0)).select(
        F.col("doc_id").alias("b"), "band_id", "band_hash"
    )
    new_stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    probes = minhash_bands(new_stream).select(
        F.col("doc_id").alias("a"), "band_id", "band_hash"
    )
    hits = (
        probes.join(index, ["band_id", "band_hash"])
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .dropDuplicates(["a", "b"])
    )
    return run_available_now(
        hits, "st6_lsh_probe", "append"
    )


def q_st17_stream_bloom_probe(spark, sf_dir):
    # continuous decontamination at ingest (r5): arriving docs probe
    # the STATIC packed-bitset Bloom of the eval grams — the whole
    # probe is a stateless map (broadcast 1-row bitset crossJoin +
    # column exprs, see dc7), so it is legal on a stream unchanged
    # and batch ≡ stream bit-for-bit; the oracle is dc7's SQL
    # restricted to the streamed split.
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        bloom_decontaminate,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    stream_train = (
        stream_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 != 0)
        .select("doc_id", "text")
    )
    out = bloom_decontaminate(stream_train, eval_docs, n=8)
    # stateless broadcast-bloom probe: shuffle tracks data volume
    # (st15's reasoning), so keep the session default
    return run_available_now(
        out, "st17_bloom_probe", "append", state_partitions=None
    )


def q_st14_stream_phash_probe(spark, sf_dir):
    # continuous IMAGE dedup at ingest: arriving media compute their
    # dHash row-wise (the Arrow kernel is a stateless map, legal on a
    # stream) and probe the STATIC signature band index via a
    # stream-static equi-join; multi-band hits dedup, then the exact
    # bit_count(xor) Hamming verify runs on candidates only — the
    # multimodal twin of st6's text LSH probe.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        simhash_bands,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.multimodal import (
        dhash_signatures,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    static_sig = dhash_signatures(
        _documents_as_media(docs.filter(F.col("doc_id") % 5 != 0))
    ).withColumnRenamed("dhash", "simhash")
    index = simhash_bands(static_sig, "media_id").select(
        F.col("media_id").alias("_ib"),
        "band_idx",
        "band_val",
        F.col("simhash").alias("_sb"),
    )
    stream_media = (
        stream_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("content"),
        )
    )
    probe_sig = dhash_signatures(stream_media).withColumnRenamed(
        "dhash", "simhash"
    )
    probes = simhash_bands(probe_sig, "media_id").select(
        F.col("media_id").alias("_ia"),
        "band_idx",
        "band_val",
        F.col("simhash").alias("_sa"),
    )
    hits = (
        probes.join(index, ["band_idx", "band_val"])
        .select(
            F.least("_ia", "_ib").alias("a"),
            F.greatest("_ia", "_ib").alias("b"),
            F.col("_sa"),
            F.col("_sb"),
        )
        .dropDuplicates(["a", "b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"),
        )
        .filter(F.col("hamming") <= 3)
        .select("a", "b", "hamming")
    )
    return run_available_now(
        hits, "st14_phash_probe", "append"
    )


def _two_batch_corpus_fold(spark, sf_dir, label, run, min_id=None):
    """Stage ``documents`` (ids ``>= min_id`` when given) as TWO
    id-ordered micro-batch files under a fresh temp root, call
    ``run(docs_dir, schema, state_dir)``, and return its result
    detached from the on-disk state."""
    import os
    import shutil
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")
    t = pq.read_table(src).sort_by("doc_id")
    if min_id is not None:
        t = t.filter(pc.field("doc_id") >= min_id)
    n = t.num_rows
    base = tempfile.mkdtemp(prefix=f"spark_graft_{label}_")
    try:
        docs_dir = os.path.join(base, "docs")
        os.makedirs(docs_dir)
        # TWO micro-batches, not three: the r9 floor decomposition
        # (SCALING §r9) measured the steady-state cost as ~1.4 s seed
        # + ~1.65 s/batch FIXED machinery (writes + joins over tiny
        # relations) + ~0.5 s stream overhead — per-batch probe work
        # is a small fraction at sf0.1, so batch count IS the cost
        # dial. Two batches still exercise index-append +
        # cross-batch probing; the 3-batch prefix-stability contract
        # stays pinned by test_multimodal_streaming.
        cuts = [0, n // 2, n]
        for i in range(2):
            path = os.path.join(docs_dir, f"batch{i}.parquet")
            pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
            # file-stream source processes oldest-mtime first: pin the
            # arrival order to the id order the folds assume
            os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
        schema = spark.read.parquet(src).schema
        state_dir = os.path.join(base, "state")
        os.makedirs(state_dir)
        out = run(docs_dir, schema, state_dir)
        # detach the result from the on-disk state (localCheckpoint
        # pins the rows in block storage), then remove the whole temp
        # root — docs, state parquet, and the per-run streaming
        # checkpoint — so repeated invocations don't leak under /tmp
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_st7_stream_corpus_ingest(spark, sf_dir):
    # continuous corpus ingest: the documents table arrives as
    # id-ordered micro-batches; each batch probes the persistent band
    # index (incremental LSH — work ∝ |batch|, never |corpus|²),
    # drops near-dups of anything earlier, segment-dedups against the
    # seen-segment state, and idempotently appends. Keep-earliest
    # makes the fold prefix-stable, so the final state equals the
    # batch twin (and the plain-SQL oracle) for any id-ordered split.
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
        run_corpus_ingest_stream,
    )

    return _two_batch_corpus_fold(
        spark,
        sf_dir,
        "st7",
        lambda docs_dir, schema, state_dir: run_corpus_ingest_stream(
            spark, docs_dir, schema, state_dir
        ),
    )


def q_st8_stream_decontaminate(spark, sf_dir):
    # continuous eval-contamination guard: the training-doc stream
    # shingles 8-grams map-only and probes the BROADCAST static
    # eval-gram set (eval benchmarks are MBs, the corpus is TBs — the
    # stream never shuffles); dropDuplicates emits each contaminated
    # doc id once. Bounded AvailableNow run ≡ the batch probe.
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        doc_ngrams,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    eval_grams = (
        doc_ngrams(docs.filter(F.col("doc_id") % 7 == 0), 8)
        .select("gram")
        .distinct()
    )
    train_stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 != 0
    )
    hits = (
        doc_ngrams(train_stream, 8)
        .join(F.broadcast(eval_grams), "gram")
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )
    return run_available_now(
        hits, "st8_decontaminate", "append"
    )


def q_st9_stream_hll(spark, sf_dir):
    # continuous distinct-count: the HLL register table IS a streaming
    # aggregation — max-per-register is order-insensitive and
    # mergeable, exactly what makes HLL a streaming sketch; the
    # bounded complete-mode AvailableNow run equals the batch register
    # table bit-for-bit. State is 1024 rows forever, regardless of
    # stream length.
    from enriched_crime_incident_data_pipeline_spark.datapipe.sketch import (
        hll_registers,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    li = stream_table(spark, sf_dir, "lineitem")
    regs = hll_registers(li, F.col("l_partkey").cast("string"))
    out = regs.select(
        F.col("register").cast("bigint").alias("register"),
        F.col("rho").cast("bigint").alias("rho"),
    )
    return run_available_now(out, "st9_hll", "complete")


def q_st18_stream_word_hist(spark, sf_dir):
    # continuous word-histogram maintenance — the tok5 tokenizer-
    # training feeder as a stream: (word, freq) IS a streaming
    # aggregation (counts merge across micro-batches, order-
    # insensitive), so arriving documents keep the histogram current
    # and character-BPE training can re-run over the maintained state
    # at any time WITHOUT rescanning the corpus. State is bounded by
    # the vocabulary (Zipf-small), not the stream length; the
    # AvailableNow complete-mode run equals the batch histogram
    # exactly (same oracle as tok5's wh stage).
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    docs = stream_table(spark, sf_dir, "documents")
    hist = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return run_available_now(
        hist, "st18_word_hist", "complete"
    )


def q_st19_stream_heavy_hitters(spark, sf_dir):
    # continuous frequent-items: the per-key count table IS a
    # streaming aggregation (counts merge per micro-batch); the ≥ T
    # read-out filters the maintained state, so "which keys are heavy
    # RIGHT NOW" is query-time work over state bounded by the key
    # domain, not the stream length. Batch twin: sk8 (whose CMS pass
    # is the work-gate for enormous domains; the state table here is
    # the exact verify layer kept continuously current).
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    ev = stream_table(spark, sf_dir, "events")
    counts = (
        ev.select(F.col("user_id").cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_available_now(
        counts, "st19_heavy", "complete"
    )
    return out.filter(F.col("n") >= 80)


def q_st16_stream_quantile(spark, sf_dir):
    # continuous quantiles: the histogram bucket→count table IS a
    # streaming aggregation (counts merge across micro-batches), the
    # same property that makes it a distributed sketch (sk7). State
    # is ~#buckets rows forever, bounded by the VALUE DOMAIN, not the
    # stream length. The quantile read-out runs as a batch query over
    # the maintained sketch — query-time work independent of how much
    # data has streamed past. AvailableNow run ≡ the batch sketch,
    # same oracle SQL as the batch formulation.
    from enriched_crime_incident_data_pipeline_spark.datapipe.sketch import (
        histogram_buckets,
        histogram_quantile_readout,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    ev = stream_table(spark, sf_dir, "events")
    buckets = histogram_buckets(ev, F.col("value"), 5.0)
    state = run_available_now(
        buckets, "st16_quantile", "complete"
    )
    return histogram_quantile_readout(
        state, 5.0, qs=((1, 4), (1, 2), (19, 20), (99, 100))
    )


def q_st10_stream_embed_probe(spark, sf_dir):
    # continuous SemDeDup ingest probe: arriving vectors (vec_id % 5
    # == 0) assign to the corpus' IVF centroids via a STATELESS row
    # expression (no groupBy state on the stream), then stream-static
    # equi-join the corpus within their cluster and keep cosine >=
    # 0.3 matches — the incremental twin of dd14's pair generator:
    # work per vector ∝ its cluster's corpus size, never |corpus|.
    from enriched_crime_incident_data_pipeline_spark.datapipe.similarity import (
        ivf_assignments,
        stateless_ivf_assign,
    )
    from enriched_crime_incident_data_pipeline_spark.functions.vectors import (
        cosine_from_norms,
        l2_norm,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    cent_rows = [
        (r["vec_id"], r["embedding"])
        for r in corpus.filter(F.col("vec_id") < 16).collect()
    ]
    static = (
        corpus.join(ivf_assignments(corpus, 16).select("vec_id", "cluster"), "vec_id")
        .select(
            F.col("vec_id").alias("match_id"),
            F.col("embedding").alias("_bvec"),
            l2_norm(F.col("embedding")).alias("_bn"),
            "cluster",
        )
    )
    stream = stream_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    )
    probes = stateless_ivf_assign(stream, cent_rows).select(
        "vec_id",
        F.col("embedding").alias("_avec"),
        l2_norm(F.col("embedding")).alias("_an"),
        "cluster",
    )
    hits = (
        probes.join(static, "cluster")
        .withColumn(
            "cosine",
            cosine_from_norms(
                F.col("_avec"), F.col("_bvec"), F.col("_an"), F.col("_bn")
            ),
        )
        .filter(F.col("cosine") >= 0.3)
        .select("vec_id", "match_id", "cosine")
    )
    return run_available_now(
        hits, "st10_embed_probe", "append"
    )



def q_st11_stream_ohlc(spark, sf_dir):
    # continuous OHLC bars: the ts5 aggregation as a complete-mode
    # streaming window — min_by/max_by on the fixed-width
    # (epoch_us, event_id) key are order-insensitive and mergeable
    # across micro-batches, so the bounded AvailableNow run equals
    # the batch bars exactly
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_events,
    )

    s = stream_events(spark, sf_dir)
    val = F.col("value").cast("double")
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    bars = (
        s.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min_by(val, key).alias("open"),
            F.max(val).alias("high"),
            F.min(val).alias("low"),
            F.max_by(val, key).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "open", "high", "low", "close", "n",
        )
    )
    return run_available_now(bars, "st11_ohlc", "complete")



def q_st12_stream_temperature_sample(spark, sf_dir):
    # continuous corpus sampling at ingest: per-stratum keep
    # thresholds derive from the STATIC corpus composition (one
    # map-side count, broadcast); the document stream then filters
    # with the pure hash predicate — stateless map, no stream
    # shuffle. Bounded AvailableNow run ≡ the batch tp12 kept set.
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        hash32,
    )

    stratum = (
        F.when(F.col("doc_id") % 10 < 6, "heavy")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("light")
    )
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "stratum", stratum
    )
    counts = docs.groupBy("stratum").agg(F.count(F.lit(1)).alias("_n"))
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "stratum",
        F.floor(
            F.sqrt(
                F.col("_nmin").cast("double") / F.col("_n").cast("double")
            )
            * F.lit(4294967296.0)
        ).alias("_thr"),
    )
    stream = stream_table(spark, sf_dir, "documents").withColumn(
        "stratum", stratum
    )
    h = hash32(F.concat(F.lit("temp:"), F.col("doc_id").cast("string")))
    kept = (
        stream.join(F.broadcast(rates), "stratum")
        .filter(h < F.col("_thr"))
        .select("doc_id", "stratum")
    )
    return run_available_now(
        kept, "st12_temp_sample", "append"
    )


def q_st4_stream_dedup(spark, sf_dir):
    # watermarked streaming dedup feeding a streaming aggregation —
    # the exactly-once ingest shape for at-least-once feeds
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_events,
    )

    s = stream_events(spark, sf_dir)
    dd = s.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = dd.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return run_available_now(agg, "st4_dedup", "complete")


def q_st5_stream_stream_join(spark, sf_dir):
    # stream-stream interval join: purchases ⋈ views of the same user
    # within the preceding hour. Watermarks on BOTH sides + the
    # time-range conjunct bound the join state (views older than the
    # range + watermark are evicted) — the shape that stays flat on an
    # unbounded feed. Bounded AvailableNow run ≡ the batch twin.
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_events,
    )

    # project to the 3 join/output columns BEFORE the join: the
    # stream-stream join buffers BOTH inputs in the state store, so
    # every non-projected column (props JSON, page, amounts…) would
    # be serialized into state row-by-row — at sf0.1 that alone made
    # the join ~2× slower (see SCALING.md round-4 st5 note); on an
    # unbounded feed it's the difference between state ∝ needed bytes
    # and state ∝ full-event bytes
    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "2 hours")
        .alias("p")
    )
    v = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "2 hours")
        .alias("v")
    )
    j = p.join(
        v,
        F.expr(
            "p.user_id = v.user_id"
            " AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
        ),
    )
    out = j.select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("v.event_id").alias("view_id"),
        F.col("p.user_id").alias("user_id"),
    )
    # 8 state partitions: sized to the sf0.1 state volume (~40 k
    # buffered rows) — see run_available_now's docstring; 32 was pure
    # per-store commit overhead (the round-3 "st5 regression" was
    # noise around that fixed cost, root-caused in SCALING.md r4)
    return run_available_now(out, "st5_join", "append")


def q_st1_stream_tumbling(spark, sf_dir):
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_events,
        tumbling_counts,
    )

    s = stream_events(spark, sf_dir)
    return run_available_now(
        tumbling_counts(s), "st1_tumbling", "complete"
    )


def q_st13_stream_sliding(spark, sf_dir):
    # overlapping sliding windows (10 min every 5 min) as a
    # watermarked streaming aggregation; the bounded AvailableNow run
    # must equal the batch expansion (each event in exactly 2
    # windows), which is what the oracle computes
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        sliding_counts,
        stream_events,
    )

    s = stream_events(spark, sf_dir)
    return run_available_now(
        sliding_counts(s), "st13_sliding", "complete"
    )


def q_st2_stream_sessions(spark, sf_dir):
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        session_counts_stateful,
        stream_events,
    )

    s = stream_events(spark, sf_dir)
    return run_available_now(
        session_counts_stateful(s), "st2_sessions", "update",
    )


def q_st20_stream_decayed_counts(spark, sf_dir):
    # continuous freshness-weighted frequency (ts7 as a stream): the
    # per-type decayed count IS a streaming aggregation - each
    # arriving event adds its 2^-age_days weight (age vs the STATIC
    # corpus watermark, one scalar broadcast) and float adds of
    # 2^-30-multiples below 2^53 never round, so merge order across
    # micro-batches is irrelevant and the bounded complete-mode run
    # equals the ts7 batch table bit-for-bit. State is one row per
    # event type forever.
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    ev_static = load_table(spark, sf_dir, "events")
    now = ev_static.agg(F.max("ts").alias("_now"))
    wts = F.array(*[F.lit(w) for w in _TS7_WEIGHTS_ST])
    ev = stream_table(spark, sf_dir, "events")
    aged = ev.join(F.broadcast(now)).select(
        "event_type",
        F.element_at(
            wts,
            F.least(
                F.datediff(F.to_date("_now"), F.to_date("ts")), F.lit(30)
            )
            + 1,
        ).alias("_w"),
    )
    out = aged.groupBy("event_type").agg(
        F.sum("_w").alias("decayed"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    return run_available_now(
        out, "st20_decayed", "complete"
    )


_TS7_WEIGHTS_ST = [2.0 ** -b for b in range(31)]


def q_st21_stream_asof(spark, sf_dir):
    # streaming as-of enrichment — the asof family (asof1-5) was
    # batch-only; this closes it. Window functions don't run on
    # streams, but the union-tag window only orders the RIGHT side:
    # asof_intervals converts the static view dimension to validity
    # intervals once (batch window, greatest-tiebreak ties become
    # empty intervals), and arriving purchases join STATELESS on
    # key + containment + the 30-minute backward tolerance residual
    # (match-then-null-out composes as one predicate because the
    # containment match is unique). AvailableNow ≡ batch
    # asof_join(tolerance=30min) — the asof4 oracle, same SQL.
    from enriched_crime_incident_data_pipeline_spark.operators.asof import (
        asof_intervals,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    dim = asof_intervals(
        views, ["user_id"], "ts", "event_id"
    ).localCheckpoint(eager=True)
    # normalize the stream's TIMESTAMP_NTZ in the projection (the
    # st15 lesson: a cast left inside the join residual re-runs per
    # candidate pair in the SMJ)
    facts = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    joined = facts.join(
        dim,
        (facts["user_id"] == dim["user_id"])
        & (dim["valid_from"] <= facts["ts"])
        & (dim["valid_to"].isNull() | (facts["ts"] < dim["valid_to"]))
        & (
            dim["valid_from"]
            >= facts["ts"] - F.expr("INTERVAL 30 MINUTES")
        ),
        "left",
    ).select(
        facts["event_id"],
        facts["user_id"],
        facts["ts"],
        F.col("asof_event_id").alias("view_event_id"),
        F.col("asof_value").alias("view_value"),
    )
    # stateless (no aggregation/dedup/stream-stream join): no
    # state_partitions override — shuffle tracks data volume
    return run_available_now(
        joined, "st21_stream_asof", "append", state_partitions=None
    )


def q_st22_stream_weighted_sample(spark, sf_dir):
    # streaming twin of tp15: maintained exact-k weighted sample via
    # applyInPandasWithState. E-S keys are MERGEABLE (top-k of a
    # union = top-k of per-part top-ks), so bounded per-salt state
    # (32 buckets x k candidates, O(k) forever) maintains the EXACT
    # sample over any stream length; keys are computed statelessly
    # per row with the same sqrt-tier expressions as the batch op
    # (bit-identical doubles). AvailableNow then the latest-gen
    # per-salt union tops out to tp15's 100 rows exactly — same
    # oracle SQL.
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        es_key_exprs,
    )
    from enriched_crime_incident_data_pipeline_spark.functions.text import (
        token_count,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        finalize_weighted_sample,
        run_available_now,
        stream_table,
        stream_weighted_sample,
    )

    docs = stream_table(spark, sf_dir, "documents")
    tier_in = F.floor(token_count(F.col("text")) / 64).cast("int")
    t, key = es_key_exprs(tier_in)
    keyed = docs.select(
        "doc_id", t.alias("tier"), key.alias("es_key")
    )
    emitted = stream_weighted_sample(keyed, k=100)
    table = run_available_now(
        emitted, "st22_weighted_sample", "update"
    )
    return finalize_weighted_sample(table, k=100)


def q_st23_stream_ks_drift(spark, sf_dir):
    # continuous distribution-drift monitor (dq7 as a stream): the
    # per-(source, value) histogram IS a streaming aggregation —
    # integer counts merge exactly in any micro-batch order, and the
    # state is |sources| × value-domain rows (a histogram, never the
    # row stream). The exact-KS epilogue (ks_drift_from_counts, the
    # same code path dq7's batch form calls) runs on the maintained
    # state — precisely the production shape: the stream keeps
    # histograms current forever; the alert evaluator computes
    # sup|F_s − F| on demand. AvailableNow ≡ batch dq7 by
    # construction (global histogram = sum of per-source state).
    from enriched_crime_incident_data_pipeline_spark.operators.health import (
        ks_drift_from_counts,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    docs = stream_table(spark, sf_dir, "documents")
    counts = docs.groupBy(
        F.col("source").alias("g"), F.col("n_chars").alias("x")
    ).agg(F.count(F.lit(1)).alias("cnt_s"))
    state = run_available_now(
        counts, "st23_ks_drift", "complete"
    )
    return ks_drift_from_counts(state, group_col="source")


def q_st24_stream_concurrency(spark, sf_dir):
    # live peak-concurrency monitor (ts9 as a stream): each arriving
    # event contributes a +1 delta at its start instant and a −1 at
    # start+30min (one stateless explode — no second readStream),
    # and the per-(user, instant) NET delta histogram IS a streaming
    # aggregation: integer deltas merge exactly in any micro-batch
    # order, so arrival order never matters. State is the delta
    # histogram (bounded by the key × instant domain — with
    # time-quantized telemetry, far below the row stream), never the
    # raw rows. The sweep epilogue (peak_from_deltas — the code path
    # batch ts9 ends in) runs over the maintained state; the
    # net-per-instant sufficiency argument lives in its docstring.
    # AvailableNow ≡ batch ts9 by construction; one oracle serves
    # both.
    from enriched_crime_incident_data_pipeline_spark.operators.timeseries import (
        peak_from_deltas,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    ev = stream_table(spark, sf_dir, "events")
    # file-stream parquet surfaces ts as TIMESTAMP_NTZ; session TZ is
    # pinned UTC, so the cast is an exact identity
    s_us = F.unix_micros(F.col("ts").cast("timestamp"))
    deltas = ev.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(s_us.alias("t"), F.lit(1).alias("d")),
                F.struct(
                    (s_us + F.lit(1800000000).cast("long")).alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("sd"),
    ).select("user_id", F.col("sd.t").alias("t"), F.col("sd.d").alias("d"))
    net = deltas.groupBy("user_id", "t").agg(F.sum("d").alias("d_net"))
    state = run_available_now(
        net, "st24_concurrency", "complete"
    )
    return peak_from_deltas(state, ["user_id"], "t", "d_net").select(
        "user_id",
        "max_concurrency",
        F.col("peak_at").alias("peak_at_us"),
    )


def q_st25_stream_trend(spark, sf_dir):
    # live drift-line monitor (stat6 as a stream): the five exact
    # decimal co-moment sums per event_type ARE a streaming
    # aggregation — integers merge in any micro-batch order, state
    # is |types| × 6 cells — and the OLS epilogue
    # (trend_from_moments, the code path batch stat6 ends in) runs
    # over the maintained state. The stream CANNOT re-base x against
    # the global min (that min is itself a stream aggregation), and
    # doesn't need to: num/den/vary are exactly shift-invariant in
    # integer arithmetic (proof in trend_from_moments), so the
    # un-rebased streaming sums and stat6's rebased batch sums yield
    # bit-identical outputs — one oracle serves both.
    from enriched_crime_incident_data_pipeline_spark.functions.stats import (
        trend_from_moments,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    ev = stream_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    base = ev.select(
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast(dec).alias("x"),
        F.floor(F.col("value") * F.lit(1000.0)).cast(dec).alias("y"),
    )
    sums = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    state = run_available_now(
        sums, "st25_trend", "complete"
    )
    return trend_from_moments(state)


def q_st26_stream_session_window(spark, sf_dir):
    # the one streaming surface the registry had not exercised:
    # Spark's NATIVE session_window aggregation (st2 demonstrates
    # the applyInPandasWithState route; this is the built-in gap-
    # merge operator, whose state the engine merges across
    # micro-batches itself). Per (user, session): bounds, event
    # count, decimal-exact value total. Session semantics pinned by
    # the oracle AND a boundary fixture: an event's window is
    # [ts, ts+30min) and Spark merges windows that overlap OR TOUCH
    # — a gap of exactly 30min still merges; only a strictly larger
    # gap starts a new session.
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_events,
    )

    s = stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return run_available_now(
        agg, "st26_session_window", "complete"
    )


def q_st27_stream_mixture(spark, sf_dir):
    # live mixture monitor (tp16 as a stream): the per-stratum doc
    # counts ARE a streaming aggregation (integer counts merge in
    # any micro-batch order; state = |strata| rows) and the
    # three-temperature weight/share epilogue — exactly the
    # arithmetic batch tp16 ends in — runs over the maintained
    # state. The dashboard a data-mixing run watches while ingest
    # is still appending. tp16's oracle serves the twin verbatim.
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    docs = stream_table(spark, sf_dir, "documents")
    counts = docs.withColumn(
        "stratum",
        F.when(F.col("doc_id") % 10 < 6, "heavy")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("light"),
    ).groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    state = run_available_now(
        counts, "st27_mixture", "complete"
    )
    dec = "decimal(38,0)"
    weights = {
        "T=2_flatten": F.floor(
            F.sqrt(F.col("n_docs").cast("double") * F.lit(1e6))
        ).cast(dec),
        "T=1_natural": F.col("n_docs").cast(dec),
        "T=0.5_sharpen": (
            F.col("n_docs").cast(dec) * F.col("n_docs").cast(dec)
        ),
    }
    outs = []
    for label, w in weights.items():
        per = state.select(
            F.lit(label).alias("temperature"),
            "stratum",
            "n_docs",
            w.alias("weight"),
        )
        tot = per.agg(F.sum("weight").alias("_tot"))
        outs.append(
            per.crossJoin(F.broadcast(tot)).select(
                "temperature",
                "stratum",
                "n_docs",
                F.col("weight").cast("bigint").alias("weight"),
                F.expr(
                    "CAST((weight * 10000) DIV _tot AS BIGINT)"
                ).alias("share_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_st31_incident_feed_source(spark, sf_dir):
    # the reference's incremental poller as a CUSTOM Spark streaming
    # source (Spark 4 Python DataSourceStreamReader): offset = the
    # high-water incident id (the reference's MAX watermark made a
    # real streaming offset), latestOffset reads only file NAMES
    # (upto-<maxid>.jsonl — the producer publishes its high-water
    # mark), id-range partitions fan reads across executors, and
    # range replay over the append-only spool is what makes the
    # ingest exactly-once by construction rather than by
    # conflict-skip. Events pose as incidents (nature = event_type);
    # the bounded run aggregates per nature, so the plain batch
    # GROUP BY is the oracle. See sources/incident_feed.py.
    import shutil
    import tempfile

    from enriched_crime_incident_data_pipeline_spark.sources.incident_feed import (
        IncidentFeedDataSource,
        write_spool_frame,
    )

    import os

    import pandas as pd
    import pyarrow.parquet as pq

    try:
        spark.dataSource.register(IncidentFeedDataSource)
    except Exception:
        pass  # already registered in this session
    # spool construction is FIXTURE SCAFFOLDING (the producer side of
    # the feed), built with pyarrow like st7's arrival files — the
    # engine's query path never collects fact-scale data. r10: the
    # poll frames render via the vectorized producer helper (pandas
    # ``to_json``), not a per-row dict + ``json.dumps`` loop — same
    # spool rows, ~10× less driver-side Python.
    t = pq.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "ts", "event_type"],
    ).sort_by("event_id")
    pdf = pd.DataFrame(
        {
            "incident_id": t.column("event_id").to_pandas().astype("int64"),
            "ts": t.column("ts").to_pandas().astype(str),
            "location": None,
            "nature": t.column("event_type").to_pandas().astype(str),
        }
    )
    spool = tempfile.mkdtemp(prefix="spark_graft_st31_")
    try:
        n = len(pdf)
        cuts = [0, n // 3, 2 * n // 3, n]
        for i in range(3):
            batch = pdf.iloc[cuts[i] : cuts[i + 1]]
            if len(batch):  # tiny tables can make a third empty
                write_spool_frame(spool, batch)
        stream = (
            spark.readStream.format("incident_feed")
            .option("path", spool)
            .load()
        )
        counts = stream.groupBy("nature").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        from enriched_crime_incident_data_pipeline_spark.streaming import (
            run_available_now,
        )

        return run_available_now(
            counts, "st31_incident_feed", "complete"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(spool, ignore_errors=True)


def q_st33_stream_order_audit(spark, sf_dir):
    # dq12's watermark-sizing audit as a live stream (the repo's
    # FIFTH applyInPandasWithState operator): per-user state (gen,
    # running-max ts, cumulative event/late counters) folds each
    # micro-batch along the event_id append sequence — a late event
    # relative to a PREVIOUS batch's maximum is counted exactly once,
    # against state — and finalize keeps each user's last generation
    # and runs the SAME epilogue code path as batch dq12
    # (operators/health.order_audit_report), so dq12's oracle serves
    # verbatim. The asymmetry worth noting: the audit MEASURES
    # event-time disorder and tolerates any amount of it; only
    # event-ID arrival order is contracted (st7's file-source
    # guarantee). State O(|users|)×5 longs. See
    # streaming/order_audit.py; 3-way id-split ≡ pinned in
    # test_streaming_pipeline.py.
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        finalize_order_audit,
        run_available_now,
        stream_order_counters,
        stream_table,
    )

    ev = stream_table(spark, sf_dir, "events")
    emitted = run_available_now(
        stream_order_counters(ev),
        "st33_order_audit",
        "update",
    )
    return finalize_order_audit(emitted)


def q_st32_stream_k_anonymity(spark, sf_dir):
    # live privacy gate (r8 verdict item 7): dq11's quasi-identifier
    # audit as the repo's FOURTH applyInPandasWithState operator —
    # per-(nation, segment) state (gen, cumulative size) folds each
    # micro-batch's arrivals, emits the running size plus an under-k
    # alert flag per touched group, and finalize keeps each group's
    # last generation and runs the SAME epilogue code path as batch
    # dq11 (operators/health.k_anonymity_report), so dq11's oracle
    # serves verbatim. Integer counts merge in any batch order — no
    # ordering contract. State O(|quasi-id domain|)×2 longs. See
    # streaming/kanon.py; multi-batch ≡ and alert-flip semantics
    # pinned in test_streaming_pipeline.py.
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        finalize_k_anonymity,
        run_available_now,
        stream_group_sizes,
        stream_table,
    )

    cust = stream_table(spark, sf_dir, "customer")
    emitted = run_available_now(
        stream_group_sizes(cust, k=5),
        "st32_k_anonymity",
        "update",
    )
    return finalize_k_anonymity(emitted, k=5)


def q_st30_stream_gap_monitor(spark, sf_dir):
    # live gap-distribution monitor (ts10 as a stream; the repo's
    # THIRD applyInPandasWithState operator): per-user state
    # (last_ts, gen, counts[44]) folds each micro-batch's gaps
    # against the carried timestamp — batch boundaries create no
    # seams — and emits cumulative bucket counts; finalize keeps each
    # user's last generation and runs the SAME epilogue code path as
    # batch ts10 (gap_histogram_report), so ts10's oracle serves
    # verbatim. State O(|users|)×44 longs; emissions ≤44 rows per
    # user per batch. See streaming/gaps.py.
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        finalize_gap_histogram,
        run_available_now,
        stream_gap_buckets,
        stream_table,
    )

    ev = stream_table(spark, sf_dir, "events")
    emitted = run_available_now(
        stream_gap_buckets(ev), "st30_gap_monitor", "update",
    )
    return finalize_gap_histogram(emitted)


def q_st29_stream_schema_drift(spark, sf_dir):
    # continuous schema-drift monitor (dq10 as a stream): the
    # per-(key, value-type) snapshot counters ARE a streaming
    # aggregation — integer counts merge in any micro-batch order,
    # state is the key×type domain (≤5 types/key), never the event
    # stream — and the drift epilogue (drift_from_type_counts, the
    # code path batch dq10 ends in) runs over the maintained state.
    # The snapshot cut and event totals are driver scalars: in
    # production the cut is the PREVIOUS run's published watermark (a
    # parameter); here it is derived from the static table so dq10's
    # oracle pins the twin exactly. AvailableNow ≡ batch dq10 by
    # construction.
    from enriched_crime_incident_data_pipeline_spark.operators.health import (
        drift_from_type_counts,
    )
    from enriched_crime_incident_data_pipeline_spark.streaming import (
        run_available_now,
        stream_table,
    )

    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(F.unix_micros("ts").alias("t"))
        .agg(
            F.min("t").alias("_mn"),
            F.max("t").alias("_mx"),
            F.count(F.lit(1)).cast("bigint").alias("_rows2"),
        )
        .select(
            F.expr("CAST((_mn + _mx) DIV 2 AS BIGINT)").alias("_cut"),
            "_rows2",
        )
        .collect()[0]
    )
    cut, rows2_val = b["_cut"], b["_rows2"]
    rows1_val = ev.filter(F.unix_micros("ts") <= F.lit(cut)).count()
    stream = stream_table(spark, sf_dir, "events")
    # the file-stream source surfaces ts as TIMESTAMP_NTZ; the session
    # is pinned to UTC so the cast is the identity on the instant
    kv = stream.select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.explode(F.from_json(F.col("props"), "map<string,string>")).alias(
            "key", "val"
        ),
    )
    ty = (
        F.when(F.col("val").isNull(), "null")
        .when(F.col("val").rlike("^-?[0-9]+$"), "int")
        .when(F.col("val").rlike("^-?[0-9]*\\.[0-9]+$"), "float")
        .when(F.col("val").isin("true", "false"), "bool")
        .otherwise("string")
    )
    counts = kv.select(
        "key",
        ty.alias("ty"),
        (F.col("t") <= F.lit(cut)).cast("int").alias("in1"),
    ).groupBy("key", "ty").agg(
        F.sum("in1").cast("bigint").alias("n1"),
        F.count(F.lit(1)).cast("bigint").alias("n2"),
    )
    state = run_available_now(
        counts, "st29_schema_drift", "complete"
    )
    rows1 = local_frame(spark, [(rows1_val,)], "_rows1 bigint")
    rows2 = local_frame(spark, [(rows2_val,)], "_rows2 bigint")
    return drift_from_type_counts(state, rows1, rows2)


def q_st28_stream_corpus_refresh(spark, sf_dir):
    # streaming-native corpus refresh (r7 verdict item 4): the
    # corpus_refresh1 verdict table produced INCREMENTALLY — arriving
    # docs (id >= 250) stream in id-ordered micro-batches; each
    # batch probes the PERSISTED band index (seeded from the standing
    # corpus, appended per batch — dd12's incremental-LSH mechanism,
    # never a batch recompute), the static old-fingerprint set, and
    # the once-collected eval-gram broadcast. Prefix-stable (every
    # verdict depends only on smaller-id docs + static state), so the
    # accumulated verdicts equal the batch refresh for any id-ordered
    # split and corpus_refresh1's oracle serves verbatim. State is
    # bounded by band-index size. See streaming/corpus_refresh.py.
    from enriched_crime_incident_data_pipeline_spark.streaming.corpus_refresh import (
        run_corpus_refresh_stream,
    )

    cutoff = 250

    def run(docs_dir, schema, state_dir):
        docs = load_table(spark, sf_dir, "documents")
        old_docs = docs.filter(F.col("doc_id") < cutoff)
        eval_docs = docs.filter(F.col("doc_id") % 50 == 0).select(
            "doc_id", "text"
        )
        return run_corpus_refresh_stream(
            spark, docs_dir, schema, state_dir, old_docs, eval_docs, cutoff
        )

    return _two_batch_corpus_fold(spark, sf_dir, "st28", run, min_id=cutoff)


QUERIES = {
    "st33_stream_order_audit": q_st33_stream_order_audit,
    "st32_stream_k_anonymity": q_st32_stream_k_anonymity,
    "st31_incident_feed_source": q_st31_incident_feed_source,
    "st30_stream_gap_monitor": q_st30_stream_gap_monitor,
    "st29_stream_schema_drift": q_st29_stream_schema_drift,
    "st28_stream_corpus_refresh": q_st28_stream_corpus_refresh,
    "st27_stream_mixture": q_st27_stream_mixture,
    "st26_stream_session_window": q_st26_stream_session_window,
    "st25_stream_trend": q_st25_stream_trend,
    "st24_stream_concurrency": q_st24_stream_concurrency,
    "st23_stream_ks_drift": q_st23_stream_ks_drift,
    "st20_stream_decayed_counts": q_st20_stream_decayed_counts,
    "st7_stream_corpus_ingest": q_st7_stream_corpus_ingest,
    "st6_stream_lsh_probe": q_st6_stream_lsh_probe,
    "st8_stream_decontaminate": q_st8_stream_decontaminate,
    "st1_stream_tumbling": q_st1_stream_tumbling,
    "st13_stream_sliding": q_st13_stream_sliding,
    "st14_stream_phash_probe": q_st14_stream_phash_probe,
    "st17_stream_bloom_probe": q_st17_stream_bloom_probe,
    "st18_stream_word_hist": q_st18_stream_word_hist,
    "st19_stream_heavy_hitters": q_st19_stream_heavy_hitters,
    "st15_stream_temporal_enrich": q_st15_stream_temporal_enrich,
    "st21_stream_asof": q_st21_stream_asof,
    "st22_stream_weighted_sample": q_st22_stream_weighted_sample,
    "st16_stream_quantile": q_st16_stream_quantile,
    "st2_stream_sessions": q_st2_stream_sessions,
    "st3_stream_static_join": q_st3_stream_static_join,
    "st9_stream_hll": q_st9_stream_hll,
    "st10_stream_embed_probe": q_st10_stream_embed_probe,
    "st11_stream_ohlc": q_st11_stream_ohlc,
    "st12_stream_temperature_sample": q_st12_stream_temperature_sample,
    "st4_stream_dedup": q_st4_stream_dedup,
    "st5_stream_stream_join": q_st5_stream_stream_join,
}

def oracles() -> dict[str, str]:
    out = {
        # st23 maintains the dq7 histogram as streaming state; the
        # statistic over it is identical, so one oracle serves both
        "st23_stream_ks_drift": _KS_DRIFT_SQL,
        # st24 maintains the ts9 net-delta histogram as streaming
        # state; the sweep statistic over it is identical, so one
        # oracle serves both.
        "st24_stream_concurrency": _MAX_CONCURRENCY_SQL,
        # st25 maintains the stat6 co-moments as streaming state;
        # shift-invariance makes the statistic identical, so one
        # oracle serves both.
        "st25_stream_trend": _LINEAR_TREND_SQL,
        "st27_stream_mixture": _MIXTURE_CURVE_SQL,
        "st26_stream_session_window": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS t, value FROM events
            ),
            flagged AS (
              SELECT user_id, t, value,
                CASE WHEN max(t) OVER w IS NULL
                          OR t - max(t) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_s
              FROM e
              WINDOW w AS (
                PARTITION BY user_id ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              )
            ),
            sess AS (
              SELECT user_id, t, value,
                sum(new_s) OVER (
                  PARTITION BY user_id ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS sid
              FROM flagged
            )
            SELECT user_id,
                   make_timestamp(min(t)) AS session_start,
                   make_timestamp(max(t) + 1800000000) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS total_value
            FROM sess GROUP BY user_id, sid
""",
        "st22_stream_weighted_sample": f"""
            WITH base AS (
              SELECT doc_id,
                CAST(least(greatest(({_TOKEN_COUNT}) // 64, 0), 4)
                     AS INT) AS tier,
                CAST({_HASH32.format(x="'es:' || doc_id")} + 1 AS DOUBLE)
                  / 4294967296.0 AS u
              FROM documents
            )
            SELECT doc_id, tier,
              CASE tier
                WHEN 0 THEN u
                WHEN 1 THEN sqrt(u)
                WHEN 2 THEN sqrt(sqrt(u))
                WHEN 3 THEN sqrt(sqrt(sqrt(u)))
                ELSE sqrt(sqrt(sqrt(sqrt(u)))) END AS es_key
            FROM base
            ORDER BY es_key DESC, doc_id LIMIT 100
""",
        "st21_stream_asof": """
                    SELECT p.event_id, p.user_id, p.ts,
                           v.event_id AS view_event_id,
                           v.value AS view_value
                    FROM (SELECT * FROM events
                          WHERE event_type = 'purchase') p
                    LEFT JOIN LATERAL (
                      SELECT event_id, value FROM events v
                      WHERE v.user_id = p.user_id
                        AND v.event_type = 'view'
                        AND v.ts <= p.ts
                        AND v.ts >= p.ts - INTERVAL 30 MINUTE
                      ORDER BY v.ts DESC, v.event_id DESC LIMIT 1
                    ) v ON true
                """,
        "st20_stream_decayed_counts": """
                    WITH now_t AS (SELECT max(ts) AS now FROM events),
                    aged AS (
                      SELECT event_type,
                             least(date_diff('day', CAST(ts AS DATE),
                                             CAST(now AS DATE)), 30) AS b
                      FROM events, now_t
                    )
                    SELECT event_type,
                           sum(([1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125, 0.00390625, 0.001953125, 0.0009765625, 0.00048828125, 0.000244140625, 0.0001220703125, 6.103515625e-05, 3.0517578125e-05, 1.52587890625e-05, 7.62939453125e-06, 3.814697265625e-06, 1.9073486328125e-06, 9.5367431640625e-07, 4.76837158203125e-07, 2.384185791015625e-07, 1.1920928955078125e-07, 5.960464477539063e-08, 2.9802322387695312e-08, 1.4901161193847656e-08, 7.450580596923828e-09, 3.725290298461914e-09, 1.862645149230957e-09, 9.313225746154785e-10])[b + 1]) AS decayed,
                           CAST(count(*) AS BIGINT) AS n_events
                    FROM aged GROUP BY event_type
                """,
        "st3_stream_static_join": """
                    SELECT e.event_type,
                           CAST(count(*) * max(d.w) AS BIGINT) AS weighted_n
                    FROM events e
                    JOIN (VALUES ('click', 1), ('view', 2), ('error', 3),
                                 ('purchase', 4), ('signup', 5)) AS d(event_type, w)
                      ON e.event_type = d.event_type
                    GROUP BY e.event_type
                """,
        "st1_stream_tumbling": _TUMBLING_SQL,
        "st13_stream_sliding": """
                    WITH expanded AS (
                      SELECT time_bucket(INTERVAL '5 minutes', ts)
                               - j.jn * INTERVAL '5 minutes' AS window_start,
                             event_type, value
                      FROM events, (SELECT unnest(range(2)) AS jn) j
                    )
                    SELECT window_start, event_type, count(*) AS n,
                           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                             AS total_value
                    FROM expanded GROUP BY 1, 2
                """,
        "st2_stream_sessions": _SESSIONIZATION_SQL,
        "st14_stream_phash_probe": """
                    WITH hx AS (
                      SELECT doc_id, hex(encode(text)) AS h,
                             octet_length(encode(text)) AS nb
                      FROM documents
                    ),
                    pos AS (
                      SELECT doc_id, h, unnest(range(nb)) AS i FROM hx
                    ),
                    cellsum AS (
                      SELECT doc_id, CAST(i % 72 AS INTEGER) AS k,
                             CAST(sum(('0x' || substr(h, CAST(2 * i + 1 AS INTEGER), 2))
                                      ::INTEGER) AS BIGINT) AS s
                      FROM pos GROUP BY doc_id, i % 72
                    ),
                    grid AS (
                      SELECT d.doc_id, CAST(g.k AS INTEGER) AS k
                      FROM documents d
                      CROSS JOIN (SELECT unnest(range(72)) AS k) g
                    ),
                    cells AS (
                      SELECT grid.doc_id, grid.k, COALESCE(cellsum.s, 0) AS s
                      FROM grid LEFT JOIN cellsum
                        ON grid.doc_id = cellsum.doc_id AND grid.k = cellsum.k
                    ),
                    bits AS (
                      SELECT a.doc_id,
                             CAST((a.k // 9) * 8 + (a.k % 9) AS INTEGER) AS j,
                             CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
                      FROM cells a JOIN cells b
                        ON a.doc_id = b.doc_id AND b.k = a.k + 1
                      WHERE a.k % 9 <> 8
                    ),
                    bands AS (
                      SELECT doc_id, CAST(j // 16 AS INTEGER) AS band_idx,
                             CAST(sum(CAST(bit AS BIGINT)
                                      * (1::BIGINT << (j % 16))) AS BIGINT) AS band_val
                      FROM bits GROUP BY doc_id, j // 16
                    ),
                    cand AS (
                      SELECT DISTINCT least(p.doc_id, x.doc_id) AS a,
                                      greatest(p.doc_id, x.doc_id) AS b
                      FROM bands p JOIN bands x
                        ON p.band_idx = x.band_idx AND p.band_val = x.band_val
                      WHERE p.doc_id % 5 = 0 AND x.doc_id % 5 <> 0
                    ),
                    ham AS (
                      SELECT c.a, c.b,
                             CAST(sum(CASE WHEN ba.bit <> bb.bit
                                      THEN 1 ELSE 0 END) AS INTEGER) AS hamming
                      FROM cand c
                      JOIN bits ba ON ba.doc_id = c.a
                      JOIN bits bb ON bb.doc_id = c.b AND bb.j = ba.j
                      GROUP BY c.a, c.b
                    )
                    SELECT a, b, hamming FROM ham WHERE hamming <= 3
                """,
        "st5_stream_stream_join": """
                    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
                           p.user_id AS user_id
                    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
                    JOIN (SELECT * FROM events WHERE event_type = 'view') v
                      ON p.user_id = v.user_id
                     AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
                """,
        "st4_stream_dedup": """
                    SELECT event_type, count(*) AS cnt FROM (
                      SELECT DISTINCT * FROM events
                    ) GROUP BY event_type
                """,
        "st7_stream_corpus_ingest": f"""
                    WITH bands AS MATERIALIZED ({_MINHASH_BANDS_SQL}),
                    pairs AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    kept AS (
                      SELECT * FROM documents
                      WHERE doc_id NOT IN (SELECT b FROM pairs)
                    ),
                    stoks AS (
                      SELECT doc_id, {_TOKENS} AS ts FROM kept
                      WHERE {_NORM} <> ''
                    ),
                    sseg AS (
                      SELECT doc_id, CAST(g.i AS BIGINT) AS seg_idx,
                             array_to_string(
                               list_slice(ts, CAST(g.i * 10 + 1 AS INTEGER),
                                          CAST(g.i * 10 + 10 AS INTEGER)), ' ') AS seg
                      FROM stoks, LATERAL (
                        SELECT unnest(range(CAST(ceil(len(ts) / 10.0) AS BIGINT))) AS i
                      ) g
                    ),
                    skept AS (
                      SELECT doc_id, seg_idx, seg FROM (
                        SELECT doc_id, seg_idx, seg,
                               row_number() OVER (PARTITION BY md5(seg)
                                                  ORDER BY doc_id, seg_idx) AS rn
                        FROM sseg
                      ) WHERE rn = 1
                    )
                    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
                           string_agg(seg, ' ' ORDER BY seg_idx) AS deduped_text
                    FROM skept GROUP BY doc_id
                """,
        "st6_stream_lsh_probe": f"""
                    WITH bands AS ({_MINHASH_BANDS_SQL}),
                    nb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
                    ob AS (SELECT * FROM bands WHERE doc_id % 5 <> 0)
                    SELECT DISTINCT least(n.doc_id, o.doc_id) AS a,
                           greatest(n.doc_id, o.doc_id) AS b
                    FROM nb n JOIN ob o
                      ON n.band_id = o.band_id AND n.band_hash = o.band_hash
                    WHERE n.doc_id <> o.doc_id
                """,
        "st8_stream_decontaminate": f"""
                    WITH w AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
                    g AS (
                      SELECT DISTINCT doc_id,
                             array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
                      FROM w, unnest(generate_series(1, greatest(len(toks) - 7, 1)))
                               AS t(i)
                    ),
                    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0)
                    SELECT DISTINCT g.doc_id
                    FROM g JOIN ev USING (gram)
                    WHERE g.doc_id % 7 <> 0
                """,
        "st10_stream_embed_probe": f"""
                    WITH e AS (
                      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                    ),
                    corpus AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
                    newv AS (SELECT * FROM e WHERE vec_id % 5 = 0),
                    cent AS (SELECT vec_id AS cid, v AS cv FROM corpus
                             WHERE vec_id < 16),
                    cassign AS (
                      SELECT vec_id, cid AS cluster FROM (
                        SELECT c.vec_id, cent.cid,
                          row_number() OVER (PARTITION BY c.vec_id ORDER BY
                            list_dot_product(c.v, cent.cv)
                              / (sqrt(list_dot_product(c.v, c.v))
                                 * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                            cent.cid) AS rn
                        FROM corpus c, cent
                      ) WHERE rn = 1
                    ),
                    nassign AS (
                      SELECT vec_id, cid AS cluster FROM (
                        SELECT n.vec_id, cent.cid,
                          row_number() OVER (PARTITION BY n.vec_id ORDER BY
                            list_dot_product(n.v, cent.cv)
                              / (sqrt(list_dot_product(n.v, n.v))
                                 * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                            cent.cid) AS rn
                        FROM newv n, cent
                      ) WHERE rn = 1
                    )
                    SELECT a.vec_id, b.vec_id AS match_id, {_COS} AS cosine
                    FROM newv a
                    JOIN nassign na ON a.vec_id = na.vec_id
                    JOIN cassign ca ON ca.cluster = na.cluster
                    JOIN corpus b ON b.vec_id = ca.vec_id
                    WHERE {_COS} >= 0.3
                """,
        "st19_stream_heavy_hitters": """
                    SELECT CAST(user_id AS VARCHAR) AS key,
                           count(*) AS n
                    FROM events GROUP BY 1 HAVING count(*) >= 80
                """,
        "st18_stream_word_hist": f"""
                    SELECT arr[i] AS w, count(*) AS freq
                    FROM (SELECT {_TOKENS} AS arr FROM documents),
                         unnest(generate_series(1, len(arr))) AS s(i)
                    WHERE length(arr[i]) >= 1
                    GROUP BY 1
                """,
        "st9_stream_hll": """
                    WITH h AS (
                      SELECT ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13))::BIGINT AS h
                      FROM lineitem
                    ),
                    parts AS (
                      SELECT h // 4398046511104 AS register,
                             h % 4398046511104 AS w
                      FROM h
                    )
                    SELECT register,
                           CAST(max(CASE WHEN w = 0 THEN 43
                                         ELSE 43 - length(bin(w)) END) AS BIGINT)
                             AS rho
                    FROM parts GROUP BY register
                """,
        "st12_stream_temperature_sample": f"""
                    WITH strat AS (
                      SELECT doc_id,
                             CASE WHEN doc_id % 10 < 6 THEN 'heavy'
                                  WHEN doc_id % 10 < 9 THEN 'mid'
                                  ELSE 'light' END AS stratum
                      FROM documents
                    ),
                    counts AS (
                      SELECT stratum, count(*) AS n FROM strat GROUP BY stratum
                    ),
                    nmin AS (SELECT min(n) AS nmin FROM counts),
                    rates AS (
                      SELECT stratum,
                             CAST(floor(sqrt(CAST(nmin AS DOUBLE)
                                             / CAST(n AS DOUBLE))
                                        * 4294967296.0) AS BIGINT) AS thr
                      FROM counts, nmin
                    )
                    SELECT d.doc_id, d.stratum
                    FROM strat d JOIN rates r ON d.stratum = r.stratum
                    WHERE {_HASH32.format(x="'temp:' || CAST(d.doc_id AS VARCHAR)")} < r.thr
                """,
        "st16_stream_quantile": """
                    WITH b AS (
                      SELECT CAST(floor(value / 5.0) AS BIGINT) AS bucket,
                             count(*) AS cnt
                      FROM events GROUP BY 1
                    ),
                    c AS (
                      SELECT bucket, cnt,
                             CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum
                      FROM b
                    ),
                    n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM b),
                    qs (q_num, q_den) AS (VALUES (1, 4), (1, 2), (19, 20), (99, 100)),
                    ks AS (
                      SELECT q_num, q_den,
                             (n_total * CAST(q_num AS BIGINT)
                              + CAST(q_den AS BIGINT) - 1) // CAST(q_den AS BIGINT)
                               AS k,
                             n_total
                      FROM qs, n
                    )
                    SELECT q_num, q_den, k, n_total, c.bucket,
                           CAST(c.bucket AS DOUBLE) * 5.0
                             + 5.0 * (CAST(ks.k - (c.cum - c.cnt) AS DOUBLE)
                                      / CAST(c.cnt AS DOUBLE)) AS est
                    FROM ks JOIN c ON c.cum >= ks.k AND (c.cum - c.cnt) < ks.k
                """,
        "st17_stream_bloom_probe": _DC7_BLOOM_SQL,
        "st11_stream_ohlc": """
                    SELECT date_trunc('hour', ts) AS bucket,
                           min_by(CAST(value AS DOUBLE),
                                  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                                    || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                             AS open,
                           max(CAST(value AS DOUBLE)) AS high,
                           min(CAST(value AS DOUBLE)) AS low,
                           max_by(CAST(value AS DOUBLE),
                                  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                                    || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                             AS close,
                           CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1
                """,
        "st15_stream_temporal_enrich": """
                    WITH dim AS (
                      SELECT event_id AS dim_event_id, user_id, ts,
                             value AS dim_value
                      FROM events WHERE event_type IN ('signup', 'purchase')
                    ),
                    iv AS (
                      SELECT dim_event_id, user_id, dim_value,
                             ts AS valid_from,
                             lead(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, dim_event_id) AS valid_to
                      FROM dim
                    ),
                    facts AS (
                      SELECT event_id, user_id, ts FROM events
                      WHERE event_type = 'error'
                    )
                    SELECT f.event_id, f.user_id, f.ts,
                           i.dim_event_id, i.dim_value
                    FROM facts f LEFT JOIN iv i
                      ON i.user_id = f.user_id AND i.valid_from <= f.ts
                         AND (i.valid_to IS NULL OR f.ts < i.valid_to)
                """,
    }
    # st28 accumulates the corpus_refresh1 verdict table incrementally;
    # prefix-stability makes the final state identical, so the batch
    # refresh oracle serves verbatim.
    from enriched_crime_incident_data_pipeline_spark.registry import corpus as _corpus

    out["st28_stream_corpus_refresh"] = _corpus.oracles()["corpus_refresh1"]
    # st29 maintains dq10's per-(key,type) snapshot counters as
    # streaming state; the epilogue is the same code path, so the
    # batch drift oracle serves verbatim.
    from enriched_crime_incident_data_pipeline_spark.registry import quality as _quality

    out["st29_stream_schema_drift"] = _quality.oracles()["dq10_schema_drift"]
    out["st32_stream_k_anonymity"] = _quality.oracles()["dq11_k_anonymity"]
    out["st33_stream_order_audit"] = _quality.oracles()["dq12_event_order_audit"]
    # st30 maintains ts10's gap histogram as per-user streaming state
    # and ends in the same epilogue code path — one oracle for both.
    from enriched_crime_incident_data_pipeline_spark.registry import temporal as _temporal

    out["st30_stream_gap_monitor"] = _temporal.oracles()["ts10_gap_histogram"]
    out["st31_incident_feed_source"] = """
        SELECT event_type AS nature, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """
    return out
