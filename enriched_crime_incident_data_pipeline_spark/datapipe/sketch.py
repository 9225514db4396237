"""Deterministic sketches: KMV distinct-count, Bloom membership,
count-min frequency.

Approximate aggregates are a core 100 TB capability (billions of
distinct keys don't fit exact state), but the usual implementations
(HLL, ``approx_count_distinct``) are engine-specific and so can't be
oracle-checked. KMV with an md5-derived hash is the exception: the
k smallest distinct hash values — and therefore the estimate
``(k-1) / (kth_smallest / 2^32)`` — are a pure function of the value
set, reproducible bit-for-bit in any engine with md5.

Execution shape: the hash-distinct pass is a groupBy (map-side
combine eats the duplicate mass before the shuffle — for heavy-hitter
distributions the shuffle carries ~one row per distinct per
partition), and the global k-smallest is ``orderBy().limit(k)``,
which Spark executes as TakeOrdered: per-partition partial top-k,
driver-side merge of k·P rows — never a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import hash32
from enriched_crime_incident_data_pipeline_spark.session import local_frame

KMV_K = 256


def kmv_distinct_estimate(df: DataFrame, col: Column, k: int = KMV_K) -> DataFrame:
    """One-row DataFrame ``(k, kth_hash, estimate)`` estimating the
    number of distinct values of ``col``.

    Requires ≥ k distinct values (the estimator's usual regime); with
    fewer the estimate degrades toward the exact count but stays
    deterministic. ``col`` must be a string column (hash the
    canonical string form of whatever you count).
    """
    hashes = df.select(hash32(col).alias("h")).groupBy("h").agg(F.lit(1).alias("_"))
    kmin = hashes.orderBy("h").limit(k)
    return kmin.agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.max("h").alias("kth_hash"),
        (
            (F.count(F.lit(1)) - F.lit(1)).cast("double")
            * F.lit(4294967296.0)
            / F.max("h")
        ).alias("estimate"),
    )


# Bloom filter: m bits, k md5-derived hash positions per key. The
# md5 basis makes the bit set — and therefore every false positive —
# a pure function of the build keys, so membership is exactly
# reproducible in any engine (unlike Spark's own bloom_filter_agg,
# whose xxhash layout is engine-internal).
BLOOM_M = 1 << 16
BLOOM_K = 3

# count-min: d independent md5-derived rows of w counters.
CMS_D = 4
CMS_W = 1024


def bloom_positions(col: Column, k: int = BLOOM_K, m: int = BLOOM_M) -> Column:
    """array<long> of the ``k`` bit positions for a key."""
    return F.array(
        *[hash32(F.concat(F.lit(f"bloom{j}:"), col)) % m for j in range(k)]
    )


def bloom_build(df: DataFrame, col: Column, k: int = BLOOM_K, m: int = BLOOM_M) -> DataFrame:
    """The filter itself: one row per set bit (``bit`` long).

    At most ``m`` rows regardless of build cardinality — a groupBy
    with map-side combine absorbs the duplicate mass, and the result
    broadcasts to probes.
    """
    return (
        df.select(F.explode(bloom_positions(col, k, m)).alias("bit"))
        .groupBy("bit")
        .agg(F.lit(1).alias("_"))
        .select("bit")
    )


def bloom_probe(
    probes: DataFrame,
    bits: DataFrame,
    col: Column,
    id_col: str,
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """Membership probe: (id_col, hit) with hit=1 iff every one of the
    key's bit positions is set. No false negatives; false positives
    are deterministic given the build set.

    The bit relation (≤ m rows) is broadcast, so probing a 100 TB key
    stream is map-side only plus one per-id aggregation.
    """
    pos = probes.select(
        F.col(id_col),
        F.explode(F.array_distinct(bloom_positions(col, k, m))).alias("bit"),
        F.size(F.array_distinct(bloom_positions(col, k, m))).alias("n_pos"),
    )
    hits = (
        pos.join(F.broadcast(bits), "bit")
        .groupBy(id_col, "n_pos")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        probes.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce((F.col("n_hit") == F.col("n_pos")).cast("int"), F.lit(0)).alias(
                "hit"
            ),
        )
    )


def cms_entries(col: Column, d: int = CMS_D, w: int = CMS_W) -> Column:
    """array<struct<j,bucket>> — one counter coordinate per sketch row."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (hash32(F.concat(F.lit(f"cms{j}:"), col)) % w)
                .cast("int")
                .alias("bucket"),
            )
            for j in range(d)
        ]
    )


def cms_counters(df: DataFrame, col: Column, d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """Build the d×w counter matrix as (j, bucket, cnt) — at most d·w
    rows whatever the stream size.

    The stream is reduced per key FIRST (one map-side-combined
    groupBy), then only the distinct keys explode into d coordinates
    with their counts as weights: the d× row amplification applies to
    the distinct-key relation, never to the raw stream."""
    keyed = df.groupBy(col.alias("_cms_key")).agg(
        F.count(F.lit(1)).alias("_cms_n")
    )
    pos = keyed.select(
        F.explode(cms_entries(F.col("_cms_key"), d, w)).alias("e"), "_cms_n"
    ).select("e.j", "e.bucket", "_cms_n")
    return pos.groupBy("j", "bucket").agg(F.sum("_cms_n").alias("cnt"))


def cms_estimates(
    keys: DataFrame,
    counters: DataFrame,
    col: Column,
    id_col: str,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Point-query the sketch for each key: (id_col, est) with
    est = min over rows of the key's counter — an overestimate of the
    true frequency, exact when no collisions. Counter matrix is
    broadcast."""
    pos = keys.select(
        F.col(id_col), F.explode(cms_entries(col, d, w)).alias("e")
    ).select(id_col, "e.j", "e.bucket")
    return (
        pos.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy(id_col)
        .agg(F.min("cnt").cast("int").alias("est"))
    )


# HyperLogLog: m = 2^HLL_B registers over a 52-bit md5-derived hash
# (13 hex digits — stays exact in any engine's 64-bit integer AND in
# doubles). Top HLL_B bits pick the register; the remaining 42 bits
# give rho via integer bit-length (no log2 — `bin()` string length,
# which Spark and DuckDB compute identically). The harmonic
# denominator needs NO fold-order pinning: every term 2^-rho is a
# dyadic rational in [2^-43, 1] and the total stays < 2^10, so every
# partial sum spans at most bits 2^9..2^-43 = 53 significand bits —
# exactly representable in a double, no rounding in ANY addition
# order, hence bit-reproducible across engines and partitionings.
HLL_B = 10
HLL_M = 1 << HLL_B
_HLL_W_BITS = 52 - HLL_B
# alpha_m for m >= 128 (Flajolet et al. 2007)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def hll_registers(df: DataFrame, col: Column) -> DataFrame:
    """``(register, rho)``: max leading-zero rank per register.

    One groupBy on the 52-bit hash's top bits — map-side combinable
    max, no skew (uniform key). This IS the mergeable sketch state:
    union of corpora = max of registers, the property that lets 1000
    executors each keep 1 KiB of state for a corpus-wide distinct
    count.
    """
    h = F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")
    reg = F.shiftright(h, _HLL_W_BITS)
    w = h - F.shiftleft(reg, _HLL_W_BITS)
    # rho = run of leading zeros in the 42-bit suffix + 1
    #     = 42 - bit_length(w) + 1; all-zero suffix -> 43
    rho = F.when(w == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    return (
        df.select(reg.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_distinct_estimate(df: DataFrame, col: Column) -> DataFrame:
    """One-row ``(m, observed, raw_estimate)`` HyperLogLog distinct
    count of ``col`` (string column; hash the canonical string form).

    ``raw_estimate`` is the uncorrected HLL estimator
    ``alpha_m * m^2 / (sum(2^-rho) + (m - observed))`` — empty
    registers contribute ``2^0 = 1``. The small/large-range
    corrections of the paper need ``ln``, a transcendental whose last
    ulp differs across engines; they are deliberately omitted so the
    value is bit-reproducible (document the ±1.04/sqrt(m) ≈ 3.2%
    standard error instead). The denominator is exact in any addition
    order (see the module note), so no ordered fold is needed.
    """
    regs = hll_registers(df, col)
    return regs.agg(
        F.lit(HLL_M).alias("m"),
        F.count(F.lit(1)).cast("int").alias("observed"),
        (
            F.lit(HLL_ALPHA * HLL_M * HLL_M)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("rho")))
                + (F.lit(HLL_M) - F.count(F.lit(1))).cast("double")
            )
        ).alias("raw_estimate"),
    )


def hll_grouped_registers(
    df: DataFrame, group_cols: list[str], col: Column
) -> DataFrame:
    """Per-group HLL register tables: ``(*group_cols, register, rho)``.

    This is the distributed sketch-state shape for count-distinct
    ROLLUPS: each group's 1024-row register table is a complete,
    mergeable sketch — union of groups = ``max`` of registers — so a
    100 TB pipeline computes the leaf level once (one map-side-
    combinable groupBy) and derives every coarser level by merging
    tiny register tables instead of rescanning the fact data.
    """
    h = F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")
    reg = F.shiftright(h, _HLL_W_BITS)
    w = h - F.shiftleft(reg, _HLL_W_BITS)
    rho = F.when(w == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    return (
        df.select(*group_cols, reg.alias("register"), rho.alias("rho"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge_registers(
    regs: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge register tables up a hierarchy: the coarser level's
    sketch is ``max(rho)`` per register — associative/commutative/
    idempotent, so merged state equals the sketch computed directly
    from the union'd raw data (the property the oracle checks)."""
    keys = [*group_cols, "register"]
    return regs.groupBy(*keys).agg(F.max("rho").alias("rho"))


def hll_estimates_from_registers(
    regs: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Raw HLL estimate per group from register state:
    ``(*group_cols, m, observed, raw_estimate)``. Same estimator (and
    the same exact-in-any-order dyadic denominator) as
    :func:`hll_distinct_estimate`."""
    grouped = regs.groupBy(*group_cols) if group_cols else regs.groupBy()
    return grouped.agg(
        F.lit(HLL_M).alias("m"),
        F.count(F.lit(1)).cast("int").alias("observed"),
        (
            F.lit(HLL_ALPHA * HLL_M * HLL_M)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("rho")))
                + (F.lit(HLL_M) - F.count(F.lit(1))).cast("double")
            )
        ).alias("raw_estimate"),
    )


def kmv_set_estimates(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: Column,
    col_b: Column,
    k: int = KMV_K,
) -> DataFrame:
    """KMV sketch SET ALGEBRA over two value sets: one row
    ``(k_used, kth_hash, n_both, union_est, inter_est, jaccard_est)``.

    The property that makes KMV more than a distinct counter: the k
    minimum hashes of A ∪ B are a UNIFORM SAMPLE of the union, so the
    fraction of them present in both sides estimates the Jaccard
    similarity, and |A∩B| ≈ ρ·|A∪B| — set intersection sizes from two
    1-KiB sketches, no re-scan of either side (Beyer et al., SIGMOD
    2007). Each side's sketch is its distinct-hash min-set; merging =
    take the k smallest of the union of sketches (TakeOrdered, never
    a global sort). All estimator arithmetic is integer counts + one
    correctly-rounded divide/multiply chain, bit-reproducible
    cross-engine (the same md5-hash determinism as the other
    sketches).
    """
    ha = df_a.select(hash32(col_a).alias("h")).distinct()
    hb = df_b.select(hash32(col_b).alias("h")).distinct()
    tagged = ha.select(
        "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    ).unionAll(hb.select("h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")))
    merged = tagged.groupBy("h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    kmin = merged.orderBy("h").limit(k)
    base = kmin.agg(
        F.count(F.lit(1)).cast("int").alias("k_used"),
        F.max("h").alias("kth_hash"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("int").alias("n_both"),
    )
    # degenerate-input guard (r5, ADVICE): empty inputs give
    # k_used = 0 / kth_hash NULL, and a lone value hashing to exactly
    # 0 gives kth_hash = 0 — the estimator row would be a silent
    # divide-by-zero/NULL-propagation artifact. Emit explicit NULL
    # estimates for those states instead of a meaningless number.
    degenerate = (
        (F.col("k_used") == 0)
        | F.col("kth_hash").isNull()
        | (F.col("kth_hash") == 0)
    )
    return (
        base.withColumn(
            "union_est",
            F.when(degenerate, F.lit(None).cast("double")).otherwise(
                (F.col("k_used") - 1).cast("double")
                * F.lit(4294967296.0)
                / F.col("kth_hash")
            ),
        )
        .withColumn(
            "inter_est",
            F.when(degenerate, F.lit(None).cast("double")).otherwise(
                (F.col("n_both").cast("double") * F.col("union_est"))
                / F.col("k_used").cast("double")
            ),
        )
        .withColumn(
            "jaccard_est",
            F.when(degenerate, F.lit(None).cast("double")).otherwise(
                F.col("n_both").cast("double")
                / F.col("k_used").cast("double")
            ),
        )
    )


def histogram_quantile_sketch(
    df: DataFrame,
    col: Column,
    width: float,
    qs: tuple = ((1, 2), (19, 20), (99, 100)),
) -> DataFrame:
    """Mergeable fixed-width-histogram quantile sketch: one row per
    requested quantile ``(q_num, q_den, k, n_total, bucket, est)``.

    The sketch state is the bucket→count table (``floor(x/width)``
    keyed), whose size is bounded by the VALUE DOMAIN, not the data:
    merging two sketches is summing counts per bucket — exactly what
    Spark's partial aggregation already does map-side, so one
    ``groupBy`` pass over the fact data builds the merged sketch and
    the shuffle carries ~#buckets rows per partition regardless of
    input size. The quantile read-out (cumulative counts + containing
    bucket + linear interpolation) runs over that tiny bucket relation
    only — the global window is over hundreds of rows, never the fact
    table. Estimate error is bounded by construction: the true k-th
    smallest value lies inside the chosen bucket, so |est − true| <
    width (pinned in ``test_graph_sketch.py``).

    Everything is integer arithmetic (counts, ceil via integer div)
    plus one float divide/multiply chain in a fixed evaluation order —
    bit-reproducible cross-engine, same determinism contract as the
    other sketches. Quantiles are passed as exact rationals
    ``(q_num, q_den)`` so ``k = ceil(q·N)`` never touches floats.
    """
    return histogram_quantile_readout(
        histogram_buckets(df, col, width), width, qs
    )


def histogram_buckets(df: DataFrame, col: Column, width: float) -> DataFrame:
    """The sketch STATE: ``(bucket, cnt)`` with ``bucket =
    floor(col/width)``. A plain count groupBy, so it is equally a
    complete-mode streaming aggregation — counts are mergeable, which
    is what makes the histogram a streaming sketch (st16)."""
    return (
        df.select(F.floor(col / F.lit(float(width))).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantile_readout(
    buckets: DataFrame, width: float, qs: tuple
) -> DataFrame:
    """Quantile read-out over a (bucket, cnt) sketch table — runs
    only over the tiny bucket relation, never the fact data."""
    from pyspark.sql.window import Window

    spark = buckets.sparkSession
    cum_w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = buckets.withColumn("cum", F.sum("cnt").over(cum_w))
    total = buckets.agg(F.sum("cnt").alias("n_total"))
    qrows = local_frame(
        spark,
        [(int(qn), int(qd)) for qn, qd in qs], "q_num int, q_den int"
    )
    ks = qrows.crossJoin(F.broadcast(total)).withColumn(
        "k",
        F.expr(
            "(n_total * CAST(q_num AS BIGINT) + CAST(q_den AS BIGINT) - 1)"
            " div CAST(q_den AS BIGINT)"
        ),
    )
    hit = ks.join(
        F.broadcast(cum),
        (F.col("cum") >= F.col("k"))
        & ((F.col("cum") - F.col("cnt")) < F.col("k")),
    )
    w = F.lit(float(width))
    return hit.select(
        "q_num",
        "q_den",
        "k",
        "n_total",
        "bucket",
        (
            F.col("bucket").cast("double") * w
            + w
            * (
                (F.col("k") - (F.col("cum") - F.col("cnt"))).cast("double")
                / F.col("cnt").cast("double")
            )
        ).alias("est"),
    )


def heavy_hitters_exact(
    df: DataFrame,
    col: Column,
    threshold: int,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """EXACT frequent items via a two-pass sketch-then-verify plan —
    the 100 TB answer to "which keys appear ≥ T times" when the key
    domain is enormous (URLs, shingles) but the heavy set is tiny:

    1. one mergeable CMS build (d·w counters) straight off the RAW
       stream — each row explodes into its d coordinates and
       map-side combine caps the shuffle at d·w rows per partition
       (see the build note below for why key-reduce-first is wrong
       here);
    2. the counter matrix (d·w ≤ 4096 ints) collects once and rides
       the row filter as a LITERAL array — each row's estimate is
       ``array_min`` over its d coordinates, pure JVM column math,
       no join, no distinct pass;
    3. rows whose estimate clears T (CMS never underestimates ⇒ no
       false negatives) proceed to the exact groupBy + HAVING — the
       expensive exact aggregation shuffles ONLY the sketch
       survivors, and collisions (false positives) die there.

    The output is therefore EXACT (= plain GROUP BY HAVING) for any
    sketch size; d/w tune only how much the verify pass shuffles.
    Returns ``(key, n)`` with n ≥ threshold.

    The counter matrix rides as a ONE-ROW broadcast ``array<long>``
    (the dc7 packed-probe shape) rather than a d·w-element literal —
    a 4096-literal expression tree costs seconds of analysis/codegen
    per plan (measured: the literal formulation was 3.2 s at sf0.1,
    ~2.5 s of it plan compilation), and the broadcast form also
    drops the driver collect barrier.

    Build note: this deliberately does NOT use :func:`cms_counters`'s
    key-reduce-first build — reducing per key first IS the exact
    domain-wide groupBy this operator exists to avoid. The raw-
    coordinate build explodes each ROW into its d coordinates and
    groupBys (j, bucket): d× row amplification, but the map-side
    combine caps every partition's shuffle contribution at d·w rows,
    so the build shuffles O(partitions · d · w) whatever the key
    domain. (cms_counters keeps key-reduce-first — right for Zipf
    streams where distinct ≪ rows; both builds produce the same
    matrix.)"""
    raw = (
        df.select(F.explode(cms_entries(col, d, w)).alias("e"))
        .groupBy(F.col("e.j").alias("j"), F.col("e.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    flat = (
        raw
        .select(
            (F.col("j") * w + F.col("bucket")).cast("int").alias("p"),
            F.col("cnt"),
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("p"), F.col("cnt")))
            ).alias("_m")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(d * w - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_m"), i.cast("int")),
                    F.lit(0).cast("bigint"),
                ),
            ).alias("_cms")
        )
    )
    est = F.array_min(
        F.transform(
            cms_entries(col, d, w),
            lambda e: F.element_at(
                F.col("_cms"), e["j"] * w + e["bucket"] + 1
            ),
        )
    )
    shortlist = df.crossJoin(F.broadcast(flat)).filter(
        est >= F.lit(threshold)
    )
    return (
        shortlist.groupBy(col.alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold)
    )


def group_heavy_hitters_exact(
    df: DataFrame,
    group_col: Column,
    col: Column,
    threshold: int,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Per-GROUP exact frequent items ("heavy users per event type")
    with ONE global sketch: the shortlist uses the same global CMS
    probe as :func:`heavy_hitters_exact`, and stays complete for
    every group because the global estimate dominates — for any
    (group, key), CMS-estimate(key) ≥ global-count(key) ≥
    per-group-count(key), so a row filtered out can never belong to
    a (group, key) pair meeting the threshold. Only survivors reach
    the exact (group, key) groupBy + HAVING; collisions die there.
    Output == plain GROUP BY (group, key) HAVING, at any sketch
    size, without building |groups| sketches."""
    raw = (
        df.select(F.explode(cms_entries(col, d, w)).alias("e"))
        .groupBy(F.col("e.j").alias("j"), F.col("e.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    flat = (
        raw
        .select(
            (F.col("j") * w + F.col("bucket")).cast("int").alias("p"),
            F.col("cnt"),
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("p"), F.col("cnt")))
            ).alias("_m")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(d * w - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_m"), i.cast("int")),
                    F.lit(0).cast("bigint"),
                ),
            ).alias("_cms")
        )
    )
    est = F.array_min(
        F.transform(
            cms_entries(col, d, w),
            lambda e: F.element_at(
                F.col("_cms"), e["j"] * w + e["bucket"] + 1
            ),
        )
    )
    return (
        df.crossJoin(F.broadcast(flat))
        .filter(est >= F.lit(threshold))
        .groupBy(group_col.alias("grp"), col.alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold)
    )
