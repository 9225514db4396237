"""General SQL analytics: sorts/limits, pivot/rollup/cube, set ops, window analytics (wa*), stats, histograms, JSON/map/array ops.

Split out of registry.py (r6); function bodies unchanged. ``QUERIES``
and ``ORACLES`` are assembled into the full registry by
``registry/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from enriched_crime_incident_data_pipeline_spark.functions.text import STOPWORDS
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table

from enriched_crime_incident_data_pipeline_spark.registry._shared import (
    _LINEAR_TREND_SQL,
    _SQL1,
    _STOPWORD_SETS,
    _TOKEN_COUNT,
    _dec,
)




# ---------------------------------------------------------------------------
# engine capabilities beyond the reference's operator set (OLAP core)
# ---------------------------------------------------------------------------


def q_topk_per_group(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


def q_sort_limit(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


def q_pivot(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "error", "purchase", "signup"]
    out = (
        e.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


def q_rollup(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def q_cube(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


def q_percentiles(spark, sf_dir):
    # exact linear-interpolation percentiles (global sort per group is
    # confined to each group's values; both engines interpolate on the
    # exact sorted doubles, so results are bit-equal)
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )


def q_set_ops(spark, sf_dir):
    # EXCEPT / INTERSECT / UNION ALL over key sets
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    buyers = orders.select(F.col("o_custkey").alias("c_custkey"))
    without = building.subtract(buyers).withColumn(
        "status", F.lit("no_orders")
    )
    with_orders = building.intersect(buyers).withColumn(
        "status", F.lit("has_orders")
    )
    return without.unionByName(with_orders)


def q_set_ops_all(spark, sf_dir):
    # multiset set-algebra (bag semantics): EXCEPT ALL keeps surplus
    # multiplicities, INTERSECT ALL keeps min(multiplicity) — the
    # variant `set_ops`' distinct forms can't express.  Spark plans
    # both as counted aggregates + generate, never a row-pair join.
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderpriority")
    y97 = orders.filter(
        (F.to_date("o_orderdate") >= F.lit("1997-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderpriority")
    surplus = y96.exceptAll(y97).withColumn("bag", F.lit("surplus_96"))
    common = y96.intersectAll(y97).withColumn("bag", F.lit("common"))
    return surplus.unionByName(common)


def q_json2_schema_profile(spark, sf_dir):
    # semi-structured schema profiling — the discovery pass a lake
    # runs before trusting a JSON column: per key, presence count
    # and the observed value-type histogram (int/float/bool/null/
    # string by regex over the stringified scalar — deterministic,
    # engine-identical) plus the dominant type (count desc, name
    # DESC on ties — the rule both engines pin below). One
    # from_json + explode (map-side) and one key-domain
    # groupBy; the key domain, not the row count, bounds the output.
    e = load_table(spark, sf_dir, "events")
    kv = e.select(
        F.explode(
            F.from_json(F.col("props"), "map<string,string>")
        ).alias("key", "val")
    )
    t = (
        F.when(F.col("val").isNull(), "null")
        .when(F.col("val").rlike("^-?[0-9]+$"), "int")
        .when(F.col("val").rlike("^-?[0-9]*\\.[0-9]+$"), "float")
        .when(F.col("val").isin("true", "false"), "bool")
        .otherwise("string")
    )
    counts = kv.select("key", t.alias("t")).groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("t") == "int").cast("int")).cast("bigint").alias("n_int"),
        F.sum((F.col("t") == "float").cast("int")).cast("bigint").alias("n_float"),
        F.sum((F.col("t") == "bool").cast("int")).cast("bigint").alias("n_bool"),
        F.sum((F.col("t") == "null").cast("int")).cast("bigint").alias("n_null"),
        F.sum((F.col("t") == "string").cast("int")).cast("bigint").alias("n_string"),
    )
    # dominant type: argmax over the five counters, ties by name DESC
    # — a row-local greatest(struct) over the aggregated counts
    cand = F.array(
        F.struct(F.col("n_bool").alias("c"), F.lit("bool").alias("t")),
        F.struct(F.col("n_float").alias("c"), F.lit("float").alias("t")),
        F.struct(F.col("n_int").alias("c"), F.lit("int").alias("t")),
        F.struct(F.col("n_null").alias("c"), F.lit("null").alias("t")),
        F.struct(F.col("n_string").alias("c"), F.lit("string").alias("t")),
    )
    # array_max picks max count; ties resolve to the LAST max in
    # struct order... struct comparison: (c, t) — equal c compares t
    # lexicographically and max picks the GREATEST name. To get
    # name-ASC on ties, compare on (c, reversed-name) is overkill —
    # instead sort candidates by name and rely on (c, t) max picking
    # the lexicographically largest name among tied counts; pin that
    # rule ("count desc, name desc on ties") and mirror it in SQL.
    dom = F.array_max(cand)["t"]
    return counts.select(
        "key", "n", "n_int", "n_float", "n_bool", "n_null", "n_string",
        dom.alias("dominant_type"),
    )


def q_json_extract(spark, sf_dir):
    # JSON path extraction from the events props column
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count("_k").alias("n_k"),
            F.sum("_k").cast("bigint").alias("sum_k"),
            F.max("_k").alias("max_k"),
        )
    )


def q_inc_agg_merge(spark, sf_dir):
    # incremental aggregation: three disjoint arrival batches folded
    # through algebraic state == full-history recompute (exactly)
    from enriched_crime_incident_data_pipeline_spark.operators.incremental import (
        agg_state,
        finalize_agg,
        merge_agg_states,
    )

    li = load_table(spark, sf_dir, "lineitem")
    states = [
        agg_state(li.filter(F.col("l_orderkey") % 3 == i), "l_returnflag", "l_quantity")
        for i in range(3)
    ]
    return finalize_agg(merge_agg_states(states, "l_returnflag"))


def q_ol3_grouped_mad_outliers(spark, sf_dir):
    # the MAD-based robust outlier gate (r10; completes the ol1/ol2
    # family — the z-score breaks when the tail inflates sigma, the
    # IQR fence saturates at 25/75, the MAD rule |x - med| > 3 *
    # 1.4826 * MAD is the textbook robust-sigma gate): per
    # o_orderpriority group over o_totalprice, the median, the MAD
    # (two exact-percentile passes, stat2's mechanics — Spark
    # percentile == DuckDB quantile_cont, the stat5 parity), the
    # robust sigma, and the count/share outside the gate. Fence
    # relations live on the <=|groups| domain and broadcast back;
    # the float chain (1.4826 scaling, comparisons) is the identical
    # op sequence in both engines.
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    dev = orders.select("o_orderpriority", "o_totalprice").join(
        F.broadcast(med), "o_orderpriority"
    )
    mad = dev.select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("absdev"),
    ).groupBy("o_orderpriority").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad")
    )
    fences = med.join(mad, "o_orderpriority").select(
        "o_orderpriority",
        "med",
        "mad",
        (F.lit(1.4826) * F.col("mad")).alias("robust_sigma"),
    )
    j = orders.select("o_orderpriority", "o_totalprice").join(
        F.broadcast(fences), "o_orderpriority"
    )
    out = (
        F.abs(F.col("o_totalprice") - F.col("med"))
        > F.lit(3.0) * F.col("robust_sigma")
    ).cast("int")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.first("med").alias("median_price"),
            F.first("mad").alias("mad"),
            F.first("robust_sigma").alias("robust_sigma"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(out).cast("bigint").alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            "median_price",
            "mad",
            "robust_sigma",
            "n_rows",
            "n_outliers",
            F.expr(
                "CAST((n_outliers * 10000) DIV n_rows AS BIGINT)"
            ).alias("outlier_bp"),
        )
    )


def q_ol2_iqr_outliers(spark, sf_dir):
    # the ROBUST outlier gate (ol1's z-score breaks when the tail
    # itself inflates σ; Tukey fences don't): per group, exact
    # interpolated quartiles (Spark percentile ≡ DuckDB quantile_cont
    # — the stat5 parity), fences at 1.5·IQR, and the count/share of
    # rows outside. One percentile agg over the ≤|groups| domain,
    # broadcast back, one conditional agg. Published as the per-group
    # fence table the gate runs with.
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.25)").alias("q1"),
        F.expr("percentile(l_extendedprice, 0.75)").alias("q3"),
    )
    fences = q.select(
        "l_returnflag",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    j = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(fences), "l_returnflag"
    )
    out = (
        (F.col("l_extendedprice") < F.col("lo_fence"))
        | (F.col("l_extendedprice") > F.col("hi_fence"))
    ).cast("int")
    return j.groupBy("l_returnflag").agg(
        F.first("q1").alias("q1"),
        F.first("q3").alias("q3"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(out).cast("bigint").alias("n_outliers"),
    ).select(
        "l_returnflag",
        "q1",
        "q3",
        "n_rows",
        "n_outliers",
        F.expr("CAST((n_outliers * 10000) DIV n_rows AS BIGINT)").alias(
            "outlier_bp"
        ),
    )


def q_ol1_zscore_outliers(spark, sf_dir):
    # per-group z-score outliers from decimal-exact moments — one agg
    # pass, broadcast the tiny per-group stats back onto the rows
    from enriched_crime_incident_data_pipeline_spark.functions.stats import (
        dec2,
        mean_from_moments,
        moments,
        var_from_moments,
    )

    ev = load_table(spark, sf_dir, "events")
    m = moments(F.col("value"))
    stats = ev.groupBy("event_type").agg(
        m["n"].alias("_n"), m["s"].alias("_s"), m["ss"].alias("_ss")
    )
    stats = stats.select(
        "event_type",
        mean_from_moments(F.col("_n"), F.col("_s")).alias("_mean"),
        F.sqrt(var_from_moments(F.col("_n"), F.col("_s"), F.col("_ss"))).alias("_sd"),
    )
    z = (dec2(F.col("value")).cast("double") - F.col("_mean")) / F.col("_sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.col("_sd") > 0)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_id", "event_type", "value", "z")
    )


def q_hist1_totalprice(spark, sf_dir):
    # fixed-width histogram binning: pure map + one groupBy
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "bucket", F.floor(F.col("o_totalprice") / F.lit(20000.0)).cast("int")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_sql1_sql_api(spark, sf_dir):
    # the engine's SQL surface: temp views + spark.sql — the same
    # ANSI text runs unchanged on the oracle engine
    from enriched_crime_incident_data_pipeline_spark.sources.catalog import (
        register_views,
    )

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_SQL1)


def q_wa1_lead_lag(spark, sf_dir):
    # day-over-day revenue delta; the lag window partitions by year so
    # no stage orders more than one year of daily aggregates on a
    # single partition (the daily rollup is already
    # bounded-cardinality)
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum(_dec("o_totalprice")).alias("rev_dec"))
    w = Window.partitionBy("yr").orderBy("day")
    prev = F.lag("rev_dec").over(w)
    return daily.select(
        "yr",
        "day",
        F.col("rev_dec").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        (F.col("rev_dec") - prev).cast("double").alias("delta"),
    )


def q_wa2_rolling(spark, sf_dir):
    # 7-row trailing frame over per-day order counts (ROWS BETWEEN);
    # the explicit sum/count division keeps the mean an exact
    # int-ratio on both engines
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    w = Window.partitionBy("yr").orderBy("day").rowsBetween(-6, 0)
    roll_sum = F.sum("n_orders").over(w)
    roll_cnt = F.count(F.lit(1)).over(w)
    return daily.select(
        "yr",
        "day",
        F.col("n_orders").cast("int").alias("n_orders"),
        roll_sum.cast("int").alias("roll7_orders"),
        (roll_sum.cast("double") / roll_cnt.cast("double")).alias("roll7_avg"),
    )


def q_wa3_range_frame(spark, sf_dir):
    # per-customer trailing-90-day spend: RANGE frame over an integer
    # day number — value-based frames include all peers, so ties on
    # the order date are handled identically in both engines
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")).alias("dayn"),
        _dec("o_totalprice").alias("price_dec"),
    )
    w = Window.partitionBy("o_custkey").orderBy("dayn").rangeBetween(-90, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.count(F.lit(1)).over(w).cast("int").alias("n_90d"),
        F.sum("price_dec").over(w).cast("double").alias("spend_90d"),
    )


def q_wa8_dist_functions(spark, sf_dir):
    # distribution analytics: percent_rank / cume_dist over the
    # per-segment balance order — both are exact ratios of integer
    # rank counts ((r-1)/(n-1), n_le/n), bit-identical cross-engine.
    # Partitioned by segment: no global single-partition window.
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def q_wa4_ntile(spark, sf_dir):
    # account-balance quartiles per market segment; deterministic
    # tie-break by custkey
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


def q_wa5_grouping_sets(spark, sf_dir):
    # explicit GROUPING SETS (finer than cube/rollup) with grouping()
    # markers distinguishing NULL-as-subtotal from NULL data
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_gs"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty,
               count(*) AS n_rows
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


def q_wa6_unpivot(spark, sf_dir):
    # wide→long melt of part measures (Spark `unpivot`); values cast
    # to a common double type as unpivot requires
    part = load_table(spark, sf_dir, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    )
    return wide.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="measure",
        valueColumnName="value",
    )


def q_agg1_ordered_listagg(spark, sf_dir):
    # ordered string aggregation: collect → sort → join makes the
    # result order-deterministic regardless of partitioning (raw
    # collect_list order is partition-dependent and never exposed)
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(
            F.array_sort(F.collect_set(F.year("o_orderdate").cast("int"))),
            ",",
        ).alias("active_years"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_arr1_token_sets(spark, sf_dir):
    # array set algebra over token arrays: distinct size, stopword
    # intersection, union with a literal vocabulary
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.col("text"), " "))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_distinct"),
        F.size(F.array_intersect(toks, sw)).alias("n_stop"),
        F.size(F.array_union(toks, sw)).alias("n_union"),
        F.size(F.array_except(toks, sw)).alias("n_content"),
    )


def q_udf1_pandas_parity(spark, sf_dir):
    # the UDF-safety contract: an Arrow-batched Pandas UDF whose
    # result is bit-identical to the JVM expression twin (and to the
    # DuckDB oracle) — proves Python stages can swap in without a
    # correctness diff
    from enriched_crime_incident_data_pipeline_spark.functions.udfs import (
        token_count_udf,
    )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count_udf(F.col("text")).alias("n_tokens")
    )


def q_udtf2_word_offsets(spark, sf_dir):
    # the table-function extensibility surface (Spark 4 Python UDTF):
    # one doc row → one row per word with running char offset; output
    # pinned equal to the relational twin (explode + running-sum
    # window) — UDTFs are the escape hatch, built-ins the hot path
    from enriched_crime_incident_data_pipeline_spark.functions.tablefns import (
        register_word_offsets,
    )

    register_word_offsets(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 100).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT doc_id, s.idx, s.word, s.char_offset
        FROM _udtf_docs, LATERAL word_offsets(text) s
        """
    )


def q_map1_props_map(spark, sf_dir):
    # JSON props as a typed map column: from_json → explode entries →
    # per-(key, value) aggregation
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    pairs = ev.select(F.explode(m).alias("key", "value"))
    return pairs.groupBy("key", "value").agg(
        F.count(F.lit(1)).cast("int").alias("n")
    )


def q_wa7_semi_join(spark, sf_dir):
    # left-semi: orders with at least one returned lineitem — the
    # EXISTS shape; semi-join never duplicates the left side
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R")
    return orders.join(
        returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("totalprice"),
    )


def q_hist2_equidepth(spark, sf_dir):
    # equi-depth (decile) histogram WITHOUT a global sort: exact
    # percentile boundaries (1 row) broadcast back; bucket assignment
    # is a map-only fold over the boundary array
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.expr(
            "percentile(l_extendedprice,"
            " array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("bs")
    )
    joined = li.select("l_extendedprice").crossJoin(F.broadcast(bounds))
    bucket = F.aggregate(
        F.col("bs"),
        F.lit(0),
        lambda acc, x: acc
        + F.when(F.col("l_extendedprice") > x, 1).otherwise(0),
    )
    return (
        joined.select(bucket.alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )

def q_stat7_lorenz_curve(spark, sf_dir):
    # concentration audit — "what share of events do the least/most
    # active users produce": the exact Lorenz polyline over user
    # activity, in integer bp. The w1 trick makes it scale-safe: no
    # rank over the user domain — users collapse to the activity
    # HISTOGRAM (one map-side groupBy user, one groupBy n), and the
    # ordered cumulative window runs over distinct activity LEVELS
    # only (bounded by max events-per-user, never user count).
    # Emits one polyline vertex per level: users at that level,
    # cumulative user share and cumulative event share (ascending
    # activity — the Lorenz convention; Gini is the area gap, and
    # stat4 computes it independently). All integer bp.
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    hist = per_user.groupBy("n").agg(
        F.count(F.lit(1)).alias("users"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        F.col("n").cast("bigint").alias("n_events_level"),
        F.col("users").cast("bigint").alias("users_at_level"),
        F.sum("users").over(w).alias("cum_users"),
        F.sum(F.col("users") * F.col("n")).over(w).alias("cum_events"),
    )
    tot = per_user.agg(
        F.count(F.lit(1)).alias("_tu"),
        F.sum("n").alias("_te"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "n_events_level",
        "users_at_level",
        F.expr("CAST((cum_users * 10000) DIV _tu AS BIGINT)").alias(
            "cum_users_bp"
        ),
        F.expr("CAST((cum_events * 10000) DIV _te AS BIGINT)").alias(
            "cum_events_bp"
        ),
    )


def q_stat6_linear_trend(spark, sf_dir):
    # per-type OLS drift line — "is this metric trending, and how
    # hard": slope and fit strength of value-vs-time per event_type,
    # in EXACT integer arithmetic (built-in regr_slope is float-sum
    # order-dependent). Values quantize to milli-units, times to
    # epoch seconds re-based against the GLOBAL min (a broadcast
    # scalar — magnitude control without a per-group pass, and slope
    # is shift-invariant); the five co-moment sums are
    # decimal(38,0) and map-side combinable, so the whole reduce
    # state is |types| x 5 cells and the answer is exact under any
    # partitioning. slope = (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) published
    # as sign-safe milli-units/day; fit strength r² in integer bp
    # via the TWO-STEP floored division ((|num|·10⁴ DIV vary)·|num|)
    # DIV den — num² itself overflows decimal(38) at sf0.1 — which
    # under-reads the one-shot floor by at most the dropped
    # remainder's share yet is the identical deterministic value in
    # both engines. Degenerate groups (all at one instant or
    # constant value) pin to 0.
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    tmin = ev.agg(F.min(F.unix_timestamp("ts")).alias("_t0"))
    base = ev.crossJoin(F.broadcast(tmin)).select(
        "event_type",
        (F.unix_timestamp("ts") - F.col("_t0")).cast(dec).alias("x"),
        F.floor(F.col("value") * F.lit(1000.0)).cast(dec).alias("y"),
    )
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    from enriched_crime_incident_data_pipeline_spark.functions.stats import (
        trend_from_moments,
    )

    return trend_from_moments(agg)


def q_ol4_gate_agreement(spark, sf_dir):
    # the gate-AGREEMENT audit (r10): ol1/ol2/ol3 each publish one
    # outlier rule on its own column — this runs all THREE rules on
    # the SAME column (events.value per event_type, ol1's
    # setting — the column with the real tail) and publishes the 8-cell agreement histogram: rows
    # flagged by every subset of {z-score > 2.5, Tukey 1.5·IQR fence,
    # 3·1.4826·MAD}. The cells where the gates DISAGREE are the
    # decision evidence: z-only cells mean the tail inflated σ
    # (trust the robust gates); robust-only cells mean a heavy but
    # legitimate tail the z-gate absorbed. All three stats relations
    # live on the ≤|groups| domain and broadcast back; the verdict
    # is ONE conditional pass over the fact rows; float chains are
    # the identical op sequences the three parent gates already pin.
    from enriched_crime_incident_data_pipeline_spark.functions.stats import (
        dec2,
        mean_from_moments,
        moments,
        var_from_moments,
    )

    ev = load_table(spark, sf_dir, "events")
    m = moments(F.col("value"))
    zs = ev.groupBy("event_type").agg(
        m["n"].alias("_n"), m["s"].alias("_s"), m["ss"].alias("_ss")
    ).select(
        "event_type",
        mean_from_moments(F.col("_n"), F.col("_s")).alias("_mean"),
        F.sqrt(
            var_from_moments(F.col("_n"), F.col("_s"), F.col("_ss"))
        ).alias("_sd"),
    )
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("_q1"),
        F.expr("percentile(value, 0.75)").alias("_q3"),
        F.expr("percentile(value, 0.5)").alias("_med"),
    )
    mad = (
        ev.select("event_type", "value")
        .join(F.broadcast(q.select("event_type", "_med")), "event_type")
        .select(
            "event_type",
            F.abs(F.col("value") - F.col("_med")).alias("_absdev"),
        )
        .groupBy("event_type")
        .agg(F.expr("percentile(_absdev, 0.5)").alias("_mad"))
    )
    g = (
        zs.join(q, "event_type")
        .join(mad, "event_type")
        .select(
            "event_type",
            "_mean",
            "_sd",
            "_med",
            (F.col("_q1") - 1.5 * (F.col("_q3") - F.col("_q1"))).alias(
                "_lo_fence"
            ),
            (F.col("_q3") + 1.5 * (F.col("_q3") - F.col("_q1"))).alias(
                "_hi_fence"
            ),
            (F.lit(1.4826) * F.col("_mad")).alias("_robust_sigma"),
        )
    )
    j = ev.select("event_type", "value").join(
        F.broadcast(g), "event_type"
    )
    flag_z = (F.col("_sd") > 0) & (
        F.abs(
            (dec2(F.col("value")).cast("double") - F.col("_mean"))
            / F.col("_sd")
        )
        > 2.5
    )
    flag_iqr = (F.col("value") < F.col("_lo_fence")) | (
        F.col("value") > F.col("_hi_fence")
    )
    flag_mad = (
        F.abs(F.col("value") - F.col("_med"))
        > F.lit(3.0) * F.col("_robust_sigma")
    )
    cells = j.groupBy(
        flag_z.alias("flag_z"),
        flag_iqr.alias("flag_iqr"),
        flag_mad.alias("flag_mad"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    return cells.select(
        "flag_z",
        "flag_iqr",
        "flag_mad",
        "n_rows",
        F.expr(
            "CAST((n_rows * 10000) DIV (sum(n_rows) OVER ()) AS BIGINT)"
        ).alias("share_bp"),
    )


QUERIES = {
    "ol4_gate_agreement": q_ol4_gate_agreement,
    "stat6_linear_trend": q_stat6_linear_trend,
    "stat7_lorenz_curve": q_stat7_lorenz_curve,
    "topk_per_group": q_topk_per_group,
    "sort_limit": q_sort_limit,
    "pivot": q_pivot,
    "rollup": q_rollup,
    "cube": q_cube,
    "percentiles": q_percentiles,
    "set_ops": q_set_ops,
    "set_ops_all": q_set_ops_all,
    "hist2_equidepth": q_hist2_equidepth,
    "json_extract": q_json_extract,
    "json2_schema_profile": q_json2_schema_profile,
    "inc_agg_merge": q_inc_agg_merge,
    "sql1_sql_api": q_sql1_sql_api,
    "ol1_zscore_outliers": q_ol1_zscore_outliers,
    "ol2_iqr_outliers": q_ol2_iqr_outliers,
    "ol3_grouped_mad_outliers": q_ol3_grouped_mad_outliers,
    "hist1_totalprice": q_hist1_totalprice,
    "wa1_lead_lag": q_wa1_lead_lag,
    "wa2_rolling": q_wa2_rolling,
    "wa3_range_frame": q_wa3_range_frame,
    "wa4_ntile": q_wa4_ntile,
    "wa8_dist_functions": q_wa8_dist_functions,
    "wa5_grouping_sets": q_wa5_grouping_sets,
    "wa6_unpivot": q_wa6_unpivot,
    "wa7_semi_join": q_wa7_semi_join,
    "udf1_pandas_parity": q_udf1_pandas_parity,
    "udtf2_word_offsets": q_udtf2_word_offsets,
    "agg1_ordered_listagg": q_agg1_ordered_listagg,
    "arr1_token_sets": q_arr1_token_sets,
    "map1_props_map": q_map1_props_map,
}

def oracles() -> dict[str, str]:
    return {
        "ol4_gate_agreement": """
            WITH zs AS (
              SELECT event_type,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       / count(*) AS mean,
                     sqrt(greatest(
                       CAST(sum(CAST(value AS DECIMAL(18,2))
                                * CAST(value AS DECIMAL(18,2)))
                         AS DOUBLE) / count(*)
                       - (CAST(sum(CAST(value AS DECIMAL(18,2)))
                           AS DOUBLE) / count(*))
                         * (CAST(sum(CAST(value AS DECIMAL(18,2)))
                             AS DOUBLE) / count(*)),
                       0.0)) AS sd
              FROM events GROUP BY event_type
            ),
            q AS (
              SELECT event_type,
                     quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.75) AS q3,
                     quantile_cont(value, 0.5) AS med
              FROM events GROUP BY event_type
            ),
            mad AS (
              SELECT o.event_type,
                     quantile_cont(abs(o.value - q.med), 0.5) AS mad
              FROM events o JOIN q USING (event_type)
              GROUP BY o.event_type
            ),
            g AS (
              SELECT zs.event_type, zs.mean, zs.sd, q.med,
                     q.q1 - 1.5 * (q.q3 - q.q1) AS lo_fence,
                     q.q3 + 1.5 * (q.q3 - q.q1) AS hi_fence,
                     1.4826 * mad.mad AS robust_sigma
              FROM zs
              JOIN q USING (event_type)
              JOIN mad USING (event_type)
            ),
            fl AS (
              SELECT (g.sd > 0 AND
                      abs((CAST(CAST(o.value AS DECIMAL(18,2))
                            AS DOUBLE) - g.mean) / g.sd) > 2.5) AS flag_z,
                     (o.value < g.lo_fence
                      OR o.value > g.hi_fence) AS flag_iqr,
                     (abs(o.value - g.med)
                      > 3.0 * g.robust_sigma) AS flag_mad
              FROM events o JOIN g USING (event_type)
            )
            SELECT flag_z, flag_iqr, flag_mad,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST((count(*) * 10000) // (sum(count(*)) OVER ())
                     AS BIGINT) AS share_bp
            FROM fl GROUP BY 1, 2, 3
""",
        "ol3_grouped_mad_outliers": """
            WITH med AS (
              SELECT o_orderpriority,
                     quantile_cont(o_totalprice, 0.5) AS med
              FROM orders GROUP BY o_orderpriority
            ),
            mad AS (
              SELECT o.o_orderpriority,
                     quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad
              FROM orders o JOIN med m USING (o_orderpriority)
              GROUP BY o.o_orderpriority
            ),
            f AS (
              SELECT med.o_orderpriority, med.med, mad.mad,
                     1.4826 * mad.mad AS robust_sigma
              FROM med JOIN mad USING (o_orderpriority)
            )
            SELECT o.o_orderpriority,
                   any_value(f.med) AS median_price,
                   any_value(f.mad) AS mad,
                   any_value(f.robust_sigma) AS robust_sigma,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN abs(o.o_totalprice - f.med)
                        > 3.0 * f.robust_sigma THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers,
                   CAST((sum(CASE WHEN abs(o.o_totalprice - f.med)
                        > 3.0 * f.robust_sigma THEN 1 ELSE 0 END) * 10000)
                        // count(*) AS BIGINT) AS outlier_bp
            FROM orders o JOIN f USING (o_orderpriority)
            GROUP BY o.o_orderpriority
""",
        "ol2_iqr_outliers": """
            WITH q AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.25) AS q1,
                     quantile_cont(l_extendedprice, 0.75) AS q3
              FROM lineitem GROUP BY l_returnflag
            ),
            f AS (
              SELECT l_returnflag, q1, q3,
                     q1 - 1.5 * (q3 - q1) AS lo_fence,
                     q3 + 1.5 * (q3 - q1) AS hi_fence
              FROM q
            )
            SELECT l.l_returnflag,
                   any_value(f.q1) AS q1,
                   any_value(f.q3) AS q3,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN l.l_extendedprice < f.lo_fence
                            OR l.l_extendedprice > f.hi_fence
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   CAST((sum(CASE WHEN l.l_extendedprice < f.lo_fence
                             OR l.l_extendedprice > f.hi_fence
                             THEN 1 ELSE 0 END) * 10000) // count(*)
                     AS BIGINT) AS outlier_bp
            FROM lineitem l JOIN f USING (l_returnflag)
            GROUP BY l.l_returnflag
""",
        "stat6_linear_trend": _LINEAR_TREND_SQL,
        "stat7_lorenz_curve": """
            WITH pu AS (
              SELECT user_id, count(*) AS n FROM events GROUP BY 1
            ),
            hist AS (
              SELECT n, count(*) AS users FROM pu GROUP BY 1
            ),
            cum AS (
              SELECT n, users,
                     sum(users) OVER (
                       ORDER BY n
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum_users,
                     sum(users * n) OVER (
                       ORDER BY n
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum_events
              FROM hist
            ),
            tot AS (
              SELECT count(*) AS tu, sum(n) AS te FROM pu
            )
            SELECT CAST(n AS BIGINT) AS n_events_level,
                   CAST(users AS BIGINT) AS users_at_level,
                   CAST((cum_users * 10000) // tu AS BIGINT)
                     AS cum_users_bp,
                   CAST((cum_events * 10000) // te AS BIGINT)
                     AS cum_events_bp
            FROM cum CROSS JOIN tot
""",
        "json2_schema_profile": """
            WITH kv AS (
              SELECT k AS key,
                     json_extract_string(props, '$.' || k) AS val
              FROM (
                SELECT props, unnest(json_keys(props)) AS k FROM events
              )
            ),
            typed AS (
              SELECT key,
                     CASE WHEN val IS NULL THEN 'null'
                          WHEN regexp_full_match(val, '-?[0-9]+')
                            THEN 'int'
                          WHEN regexp_full_match(val, '-?[0-9]*\\.[0-9]+')
                            THEN 'float'
                          WHEN val IN ('true', 'false') THEN 'bool'
                          ELSE 'string' END AS t
              FROM kv
            ),
            agg AS (
              SELECT key,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN t = 'int' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_int,
                     CAST(sum(CASE WHEN t = 'float' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_float,
                     CAST(sum(CASE WHEN t = 'bool' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_bool,
                     CAST(sum(CASE WHEN t = 'null' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_null,
                     CAST(sum(CASE WHEN t = 'string' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_string
              FROM typed GROUP BY key
            )
            SELECT key, n, n_int, n_float, n_bool, n_null, n_string,
                   (SELECT t FROM (
                      SELECT 'bool' AS t, n_bool AS c
                      UNION ALL SELECT 'float', n_float
                      UNION ALL SELECT 'int', n_int
                      UNION ALL SELECT 'null', n_null
                      UNION ALL SELECT 'string', n_string)
                    ORDER BY c DESC, t DESC LIMIT 1) AS dominant_type
            FROM agg
""",
        "topk_per_group": """
                    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
                    FROM (
                      SELECT *, row_number() OVER (
                        PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
                      FROM orders
                    ) WHERE rn <= 3
                """,
        "sort_limit": """
                    SELECT o_orderkey, o_totalprice FROM orders
                    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
                """,
        "pivot": """
                    SELECT CAST(ts AS DATE) AS day,
                           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                           count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
                           count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup
                    FROM events GROUP BY 1
                """,
        "rollup": """
                    SELECT l_returnflag, l_linestatus, count(*) AS cnt
                    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
                """,
        "cube": """
                    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                             AS sum_qty
                    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
                """,
        "percentiles": """
                    SELECT l_returnflag,
                           quantile_cont(l_extendedprice, 0.5) AS p50,
                           quantile_cont(l_extendedprice, 0.95) AS p95
                    FROM lineitem GROUP BY l_returnflag
                """,
        "set_ops": """
                    SELECT c_custkey, 'no_orders' AS status FROM (
                      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                      EXCEPT SELECT o_custkey FROM orders
                    )
                    UNION ALL
                    SELECT c_custkey, 'has_orders' AS status FROM (
                      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                      INTERSECT SELECT o_custkey FROM orders
                    )
                """,
        "hist2_equidepth": """
                    WITH bounds AS (
                      SELECT quantile_cont(l_extendedprice,
                               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
                      FROM lineitem
                    )
                    SELECT len(list_filter(bs, x -> l_extendedprice > x))
                             AS bucket,
                           count(*) AS n,
                           min(l_extendedprice) AS lo,
                           max(l_extendedprice) AS hi
                    FROM lineitem CROSS JOIN bounds
                    GROUP BY 1
                """,
        "set_ops_all": """
                    WITH y96 AS (
                      SELECT o_orderpriority FROM orders
                      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                        AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
                    ),
                    y97 AS (
                      SELECT o_orderpriority FROM orders
                      WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
                        AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                    )
                    SELECT o_orderpriority, 'surplus_96' AS bag
                    FROM (SELECT * FROM y96 EXCEPT ALL SELECT * FROM y97)
                    UNION ALL
                    SELECT o_orderpriority, 'common' AS bag
                    FROM (SELECT * FROM y96 INTERSECT ALL SELECT * FROM y97)
                """,
        "json_extract": """
                    SELECT event_type,
                           count(CAST(json_extract_string(props, '$.k') AS INTEGER))
                             AS n_k,
                           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                                AS BIGINT) AS sum_k,
                           max(CAST(json_extract_string(props, '$.k') AS INTEGER))
                             AS max_k
                    FROM events GROUP BY event_type
                """,
        "sql1_sql_api": _SQL1,
        "ol1_zscore_outliers": """
                    WITH stats AS (
                      SELECT event_type,
                             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                               AS mean,
                             sqrt(greatest(
                               CAST(sum(CAST(value AS DECIMAL(18,2))
                                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                 / count(*)
                               - (CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                  / count(*))
                                 * (CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                                    / count(*)),
                               0.0)) AS sd
                      FROM events GROUP BY event_type
                    )
                    SELECT event_id, e.event_type, value,
                           (CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) - mean) / sd AS z
                    FROM events e JOIN stats s ON e.event_type = s.event_type
                    WHERE sd > 0
                      AND abs((CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) - mean) / sd)
                          > 2.5
                """,
        "hist1_totalprice": """
                    SELECT CAST(floor(o_totalprice / 20000.0) AS INTEGER) AS bucket,
                           count(*) AS n
                    FROM orders GROUP BY 1
                """,
        "inc_agg_merge": """
                    SELECT l_returnflag, count(*) AS n,
                           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                             AS sum_value,
                           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                             / count(*) AS avg_value,
                           min(l_quantity) AS min_value, max(l_quantity) AS max_value
                    FROM lineitem GROUP BY l_returnflag
                """,
        "wa1_lead_lag": """
                    WITH daily AS (
                      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                             CAST(o_orderdate AS DATE) AS day,
                             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                      FROM orders GROUP BY 1, 2
                    )
                    SELECT yr, day, CAST(rev AS DOUBLE) AS revenue,
                           CAST(lag(rev) OVER w AS DOUBLE) AS prev_revenue,
                           CAST(rev - lag(rev) OVER w AS DOUBLE) AS delta
                    FROM daily WINDOW w AS (PARTITION BY yr ORDER BY day)
                """,
        "wa2_rolling": """
                    WITH daily AS (
                      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                             CAST(o_orderdate AS DATE) AS day,
                             count(*) AS n_orders
                      FROM orders GROUP BY 1, 2
                    )
                    SELECT yr, day, CAST(n_orders AS INTEGER) AS n_orders,
                           CAST(sum(n_orders) OVER w AS INTEGER) AS roll7_orders,
                           CAST(sum(n_orders) OVER w AS DOUBLE)
                             / CAST(count(*) OVER w AS DOUBLE) AS roll7_avg
                    FROM daily
                    WINDOW w AS (PARTITION BY yr ORDER BY day
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                """,
        "wa3_range_frame": """
                    WITH o AS (
                      SELECT o_orderkey, o_custkey,
                             CAST(o_orderdate AS DATE) AS day,
                             date_diff('day', DATE '1992-01-01',
                                       CAST(o_orderdate AS DATE)) AS dayn,
                             CAST(o_totalprice AS DECIMAL(18,2)) AS price
                      FROM orders
                    )
                    SELECT o_orderkey, o_custkey, day,
                           CAST(count(*) OVER w AS INTEGER) AS n_90d,
                           CAST(sum(price) OVER w AS DOUBLE) AS spend_90d
                    FROM o
                    WINDOW w AS (PARTITION BY o_custkey ORDER BY dayn
                                 RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
                """,
        "wa4_ntile": """
                    SELECT c_custkey, c_mktsegment,
                           CAST(c_acctbal AS DOUBLE) AS acctbal,
                           CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                                               ORDER BY c_acctbal DESC, c_custkey)
                                AS INTEGER) AS quartile
                    FROM customer
                """,
        "wa8_dist_functions": """
                    SELECT c_custkey, c_mktsegment,
                           percent_rank() OVER (PARTITION BY c_mktsegment
                                                ORDER BY c_acctbal DESC, c_custkey)
                             AS pct_rank,
                           cume_dist() OVER (PARTITION BY c_mktsegment
                                             ORDER BY c_acctbal DESC, c_custkey)
                             AS cume
                    FROM customer
                """,
        "wa5_grouping_sets": """
                    SELECT l_returnflag, l_linestatus,
                           CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
                           CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
                           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                             AS sum_qty,
                           count(*) AS n_rows
                    FROM lineitem
                    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                            (l_returnflag), ())
                """,
        "wa6_unpivot": """
                    SELECT p_partkey, 'p_retailprice' AS measure,
                           CAST(p_retailprice AS DOUBLE) AS value FROM part
                    UNION ALL
                    SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
                """,
        "wa7_semi_join": """
                    SELECT o_orderkey, o_orderpriority,
                           CAST(o_totalprice AS DOUBLE) AS totalprice
                    FROM orders o
                    WHERE EXISTS (SELECT 1 FROM lineitem l
                                  WHERE l.l_orderkey = o.o_orderkey
                                    AND l.l_returnflag = 'R')
                """,
        "agg1_ordered_listagg": """
                    WITH y AS (
                      SELECT DISTINCT o_orderpriority,
                             CAST(year(o_orderdate) AS INTEGER) AS yr
                      FROM orders
                    ),
                    n AS (SELECT o_orderpriority, count(*) AS n_orders
                          FROM orders GROUP BY 1)
                    SELECT y.o_orderpriority,
                           string_agg(CAST(yr AS VARCHAR), ',' ORDER BY yr)
                             AS active_years,
                           any_value(n.n_orders) AS n_orders
                    FROM y JOIN n ON y.o_orderpriority = n.o_orderpriority
                    GROUP BY y.o_orderpriority
                """,
        "arr1_token_sets": f"""
                    WITH t AS (
                      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                      FROM documents
                    )
                    SELECT doc_id,
                           CAST(len(toks) AS INTEGER) AS n_distinct,
                           CAST(len(list_filter(toks,
                                x -> list_contains({_STOPWORD_SETS['en']}, x)))
                             AS INTEGER) AS n_stop,
                           CAST(len(list_distinct(list_concat(toks,
                                {_STOPWORD_SETS['en']}))) AS INTEGER) AS n_union,
                           CAST(len(list_filter(toks,
                                x -> NOT list_contains({_STOPWORD_SETS['en']}, x)))
                             AS INTEGER) AS n_content
                    FROM t
                """,
        "udf1_pandas_parity": f"""
                    SELECT doc_id, {_TOKEN_COUNT} AS n_tokens FROM documents
                """,
        "udtf2_word_offsets": """
                    WITH ex AS (
                      SELECT doc_id,
                             generate_subscripts(parts, 1) - 1 AS idx,
                             unnest(parts) AS word
                      FROM (
                        SELECT doc_id, string_split(text, ' ') AS parts
                        FROM documents WHERE doc_id < 100
                      )
                    )
                    SELECT doc_id, CAST(idx AS INT) AS idx, word,
                           CAST(coalesce(sum(length(word) + 1) OVER (
                             PARTITION BY doc_id ORDER BY idx
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                           ), 0) AS INT) AS char_offset
                    FROM ex
                """,
        "map1_props_map": """
                    WITH pairs AS (
                      SELECT unnest(json_keys(props)) AS key, props FROM events
                    ),
                    kv AS (
                      SELECT key,
                             CAST(json_extract_string(props, '$.' || key) AS INTEGER)
                               AS value
                      FROM pairs
                    )
                    SELECT key, value, CAST(count(*) AS INTEGER) AS n
                    FROM kv GROUP BY key, value
                """,
    }
