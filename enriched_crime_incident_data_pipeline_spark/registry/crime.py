"""Reference-pipeline queries (SURVEY.md §2): projections, predicates, joins, aggregates, windows, scalar functions over the incidents pipeline.

Split out of registry.py (r6); function bodies unchanged. ``QUERIES``
and ``ORACLES`` are assembled into the full registry by
``registry/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from enriched_crime_incident_data_pipeline_spark.enrich.geocode import geocode_misses, with_coordinates
from enriched_crime_incident_data_pipeline_spark.enrich.weather import with_weather
from enriched_crime_incident_data_pipeline_spark.functions.geography import side_of_town_col
from enriched_crime_incident_data_pipeline_spark.operators.dedup import idempotent_append
from enriched_crime_incident_data_pipeline_spark.operators.derive import to_silver
from enriched_crime_incident_data_pipeline_spark.operators.emsstat import propagate_emsstat_selfjoin
from enriched_crime_incident_data_pipeline_spark.operators.health import null_count_health
from enriched_crime_incident_data_pipeline_spark.operators.ranks import frequency_rank_table, with_frequency_rank
from enriched_crime_incident_data_pipeline_spark.plans.events_adapter import (events_as_incidents_raw, synthetic_location_dim, synthetic_weather_hourly)
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table
from enriched_crime_incident_data_pipeline_spark.sources.urls import classify_report_urls

from enriched_crime_incident_data_pipeline_spark.registry._shared import (
    _DEDUPED,
    _FLAGSHIP_SQL,
    _LOCDIM,
    _P6_CLASSIFIED,
    _S5_PARSE_SQL,
    _SIDE_EXPR,
    _silver_deduped,
)




# ---------------------------------------------------------------------------
# flagship: the full reference pipeline, end-to-end (SURVEY §3.1)
# ---------------------------------------------------------------------------


def enriched_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline over the fixture tables up to its sink:
    bronze → silver → dedup+EMSSTAT → ranks → coordinates →
    side-of-town → weather, every column (pre-projection). The
    flagship query projects it; the CLI's ``report`` and ``export``
    sink it."""
    from enriched_crime_incident_data_pipeline_spark.operators.emsstat import (
        dedup_and_propagate,
    )
    from enriched_crime_incident_data_pipeline_spark.plans.pipeline import (
        enrich_after_emsstat,
    )

    events = load_table(spark, sf_dir, "events")
    silver = to_silver(events_as_incidents_raw(events))
    # dedup + EMSSTAT fused onto one (ts, location) shuffle (duplicate
    # incident rows agree on ts/location); the result feeds both the
    # enrichment DAG and the weather work-list. EAGER localCheckpoint,
    # not lazy persist: the parse+shuffle lineage runs once as its own
    # job and is CUT from every consumer's plan (a lazy persist leaves
    # the full lineage in the first consumer's plan and only caches as
    # a side effect). The weather table is pinned for the same reason:
    # in deployment it IS a maintained table, and unpinned its
    # work-list aggregation re-runs inside the gold job. Measured
    # (sf0.1, median-of-3 end-to-end): 3.7 -> 2.5 s.
    # r5 session-2: base goes LAZY — Dataset.localCheckpoint truncates
    # the logical plan at call time either way (the 3.7→2.5 s note
    # above contrasted eager checkpoint vs lazy PERSIST, which doesn't
    # truncate); the weather cut below is base's first consumer and
    # scans every partition, so its (still eager) job materializes
    # base's blocks and the dedicated base job disappears. wh stays
    # EAGER: the gold job references base through two subtrees (its
    # own joins + wh's lineage), and sequencing the wh job first is
    # what guarantees base materializes exactly once.
    base = dedup_and_propagate(silver).localCheckpoint(eager=False)
    dim = synthetic_location_dim(events)
    wh = synthetic_weather_hourly(with_coordinates(base, dim)).localCheckpoint(
        eager=True
    )
    return enrich_after_emsstat(base, dim, wh)


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enriched_crime_incident_data_pipeline_spark.sinks.output import (
        gold_projection,
    )

    return gold_projection(enriched_incidents(spark, sf_dir))

# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------


def q_p1_projection(spark, sf_dir):
    # P1 output projection (main.py:22-25): column-subset select
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


def q_p2_star(spark, sf_dir):
    # P2 star projection (temp.py:14): SELECT * — the CSV-export scan
    return load_table(spark, sf_dir, "region")


def q_p3_point_lookup(spark, sf_dir):
    # P3 point-lookup filter (location.py:39)
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") == 500).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_p4_null_health(spark, sf_dir):
    # P4/A5 conditional NULL counts (main.py:108-112) in ONE pass
    li = load_table(spark, sf_dir, "lineitem")
    return null_count_health(li, ["l_quantity", "l_returnflag"])


def q_p6_url_classify(spark, sf_dir):
    # S1/S3/P6/F6/F11: regex-classify report hrefs built from order dates
    o = load_table(spark, sf_dir, "orders")
    hrefs = o.select(
        F.concat(
            F.lit("/sites/default/files/documents/"),
            F.date_format("o_orderdate", "yyyy-MM"),
            F.lit("/"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.when(F.col("o_orderkey") % 3 == 0, "_daily_incident_summary.pdf")
            .when(F.col("o_orderkey") % 3 == 1, "_daily_case_summary.pdf")
            .otherwise("_daily_arrest_summary.pdf"),
        ).alias("href")
    )
    out = classify_report_urls(hrefs)
    return out.filter(F.col("report_kind").isNotNull())


def q_s2_watermark_prune(spark, sf_dir):
    # S2/P5 strict-> watermark cutoff on the incident URL list
    import datetime as dt

    from enriched_crime_incident_data_pipeline_spark.sources.urls import (
        new_incident_urls,
    )

    o = load_table(spark, sf_dir, "orders")
    hrefs = o.select(
        F.concat(
            F.lit("/sites/default/files/documents/"),
            F.date_format("o_orderdate", "yyyy-MM"),
            F.lit("/"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.when(F.col("o_orderkey") % 3 == 0, "_daily_incident_summary.pdf")
            .when(F.col("o_orderkey") % 3 == 1, "_daily_case_summary.pdf")
            .otherwise("_daily_arrest_summary.pdf"),
        ).alias("href")
    )
    return new_incident_urls(hrefs, dt.date(1997, 6, 30)).select(
        "href", "report_date"
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


def q_j1_broadcast_join(spark, sf_dir):
    # J1 inner equi-join, small dim broadcast (weather.py:34)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "c_name", "c_mktsegment", "o_totalprice"
    )


def q_j2_emsstat_selfjoin(spark, sf_dir):
    # J2 literal self-join propagation; oracle uses the window-max
    # fixpoint (src/db/incidents.py:48-55 — semantically identical)
    silver = _silver_deduped(spark, sf_dir)
    return propagate_emsstat_selfjoin(silver).select("incident_num", "emsstat")


def q_j3_cache_antijoin(spark, sf_dir):
    # J3 geocode-cache miss list: distinct locations anti-join cache
    silver = _silver_deduped(spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    cache = synthetic_location_dim(events).filter(
        F.col("latitude") < 35.2226  # pretend only southern half is cached
    )
    return geocode_misses(silver, cache)


def q_j5_weather_joinback(spark, sf_dir):
    # J5 weather write-back keyed on BOTH ts and location
    # (weather.py:61, TECHNICAL.md:171-177)
    events = load_table(spark, sf_dir, "events")
    silver = _silver_deduped(spark, sf_dir)
    dim = synthetic_location_dim(events)
    coords = with_coordinates(silver, dim)
    wh = synthetic_weather_hourly(coords)
    return with_weather(coords, wh).select("incident_num", "weather")


def q_j7_anti_join(spark, sf_dir):
    # J7 key anti-join (ON CONFLICT DO NOTHING core): customers with
    # no URGENT order — non-empty on this data
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey"
    )


def q_s6_idempotent_append(spark, sf_dir):
    # S6 idempotent batch insert: keys not already present
    o = load_table(spark, sf_dir, "orders")
    existing = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    inserted = idempotent_append(o, existing, "o_orderkey")
    return inserted.select("o_orderkey")


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


def q_a1_groupby_count(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))


def q_a3_watermark_max(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.agg(F.max(F.to_date("o_orderdate")).alias("watermark"))


def q_a4_global_count(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n"))


def q_a6_distinct_single(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderpriority").distinct()


def q_a7_distinct_multi(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("c_nationkey", "o_orderpriority")
        .distinct()
    )


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------


def q_w1_frequency_rank(spark, sf_dir):
    # W1/W2 RANK over grouped counts, tie-gap semantics
    o = load_table(spark, sf_dir, "orders")
    return frequency_rank_table(o, "o_orderpriority", "freq_rank")


def q_j4_rank_joinback(spark, sf_dir):
    # J4 rank write-back join to every fact row
    li = load_table(spark, sf_dir, "lineitem")
    return with_frequency_rank(li, "l_returnflag", "flag_rank").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "flag_rank"
    )


def q_w3_window_max(spark, sf_dir):
    # W3 max-over-partition (EMSSTAT fixpoint shape) on events
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts"))
    flag = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return e.select(
        "event_id",
        F.max(flag).over(w).cast("int").alias("any_error_that_day"),
    )


# ---------------------------------------------------------------------------
# §2.7 scalar functions
# ---------------------------------------------------------------------------


def q_f1_derivations(spark, sf_dir):
    # F1-F4 + F10: ts parse, day-of-week (1=Sunday), hour, EMS flag
    return _silver_deduped(spark, sf_dir).select(
        "incident_num", "incident_ts", "day_of_week", "time_of_day", "emsstat"
    )


def q_f5_date_format(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day")
    )


def q_f13_side_of_town(spark, sf_dir):
    # F13/F14/U3 bearing + compass bucket as pure column math over
    # pseudo-coordinates derived from customer keys
    c = load_table(spark, sf_dir, "customer")
    lat = F.lit(35.2226) + ((F.col("c_custkey") % 21) - 10).cast("double") * 0.013
    lon = F.lit(-97.4395) + ((F.col("c_custkey") % 17) - 8).cast("double") * 0.019
    return c.select(
        "c_custkey", side_of_town_col(lat, lon).alias("side_of_town")
    )


def q_f15_element_at(spark, sf_dir):
    # F15/P8 array index by hour with bounds guard
    emb = load_table(spark, sf_dir, "embeddings")
    idx = (F.col("vec_id") * 7 % 80).cast("int")
    return emb.select(
        "vec_id",
        F.when(idx < F.size("embedding"), F.element_at("embedding", idx + 1)).alias(
            "code"
        ),
    )


def q_j9_nullsafe_join(spark, sf_dir):
    # null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    # match each other — the equi-join family's missing member (a
    # plain ON k = k silently drops NULL groups).  Both sides are
    # aggregated FIRST so the NULL group is one row per side, never a
    # NULL×NULL cross blow-up; Spark still plans a hash join (the
    # null-safe condition is a join key wrapped in coalesce/knownnotnull).
    ev = load_table(spark, sf_dir, "events")
    bucket = F.when(
        F.col("value") >= 100, (F.col("user_id") % 10).cast("long")
    )  # value < 100 → NULL bucket
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(bucket.alias("bk"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(bucket.alias("bk"))
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    return clicks.join(
        views, clicks["bk"].eqNullSafe(views["bk"]), "inner"
    ).select(clicks["bk"].alias("bucket"), "n_clicks", "n_views")


def q_s5_pdf_parse(spark, sf_dir):
    # the reference's PDF text-block parse rules
    # (parse_incidents.py:40-56) run engine-side on a deterministic
    # text-blocks fixture — header/trailer drop, split +
    # remove-first-empty, pad/merge, positional 5-field extraction
    from enriched_crime_incident_data_pipeline_spark.sources.pdf import (
        parse_report_blocks,
        synthetic_report_blocks,
    )

    docs = load_table(spark, sf_dir, "documents")
    return parse_report_blocks(synthetic_report_blocks(docs))


def q_s5b_pdf_decode(spark, sf_dir):
    # REAL-BYTES twin of s5: the same documents-derived report blocks
    # are written as an actual Flate-compressed PDF (pure-Python
    # writer), scanned back via binaryFile, decoded by the from-scratch
    # pure-Python PDF text extractor (sources/pdf_decode.py — closes
    # the U4 partial: no PyMuPDF anywhere), then parsed by the SAME
    # engine-side rules as s5. The oracle is s5's oracle verbatim — so
    # a driver-green row here proves the byte decode itself, not just
    # the parse rules. Fixture construction (collect + write) is
    # driver-side by design: it manufactures the input file.
    import os
    import shutil
    import tempfile

    from enriched_crime_incident_data_pipeline_spark.sources.pdf import (
        parse_report_blocks,
        pdf_binary_to_blocks,
        read_pdf_binary,
        synthetic_report_blocks,
    )
    from enriched_crime_incident_data_pipeline_spark.sources.pdf_decode import (
        pdf_from_block_rows,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = synthetic_report_blocks(docs).collect()
    base = tempfile.mkdtemp(prefix="spark_graft_s5b_")
    with open(os.path.join(base, "daily.pdf"), "wb") as fh:
        fh.write(
            pdf_from_block_rows(
                [
                    (r["page_number"], r["block_idx"], r["block_text"])
                    for r in rows
                ]
            )
        )
    parsed = parse_report_blocks(
        pdf_binary_to_blocks(read_pdf_binary(spark, base))
    ).select(
        F.lit("reports/daily.pdf").alias("path"),
        "page_number",
        "block_idx",
        "datetime_str",
        "incident_num",
        "location",
        "nature",
        "incident_ori",
    )
    out = parsed.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_a10_count_distinct(spark, sf_dir):
    # distinct-aggregate: planned as a two-phase expand + aggregate
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )



def q_j11_interval_overlap(spark, sf_dir):
    # interval-overlap join (interval x interval): 2h maintenance
    # windows vs 30min activity windows — bucket-exploded equi-join
    # with start-bucket attribution (each pair found exactly once, no
    # dedup shuffle), never a nested loop
    from enriched_crime_incident_data_pipeline_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", F.unix_timestamp("ts").cast("bigint").alias("_lo")
    )
    windows = base.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("win_id"),
        F.col("_lo").alias("w_lo"),
        (F.col("_lo") + 7200).alias("w_hi"),
    )
    activity = base.select(
        F.col("event_id").alias("act_id"),
        F.col("_lo").alias("a_lo"),
        (F.col("_lo") + 1800).alias("a_hi"),
    )
    out = interval_overlap_join(
        windows, activity, "win_id", "w_lo", "w_hi",
        "act_id", "a_lo", "a_hi", bucket_width=3600,
    )
    return out.filter(F.col("win_id") != F.col("act_id"))


def q_j8_full_outer(spark, sf_dir):
    # FULL OUTER join of two sparse per-nation aggregates — rows
    # survive from either side with NULLs on the other
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    s = (
        supp.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    c = (
        cust.filter(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    return (
        s.alias("s")
        .join(c.alias("c"), F.col("s.nk") == F.col("c.nk"), "full_outer")
        .select(
            F.coalesce(F.col("s.nk"), F.col("c.nk")).alias("nk"),
            "n_supp",
            "n_cust",
        )
    )

QUERIES = {
    "flagship_enriched_report": q_flagship,
    "p1_projection": q_p1_projection,
    "p2_star": q_p2_star,
    "p3_point_lookup": q_p3_point_lookup,
    "p4_null_health": q_p4_null_health,
    "p6_url_classify": q_p6_url_classify,
    "s2_watermark_prune": q_s2_watermark_prune,
    "j1_broadcast_join": q_j1_broadcast_join,
    "j2_emsstat_selfjoin": q_j2_emsstat_selfjoin,
    "j3_cache_antijoin": q_j3_cache_antijoin,
    "j5_weather_joinback": q_j5_weather_joinback,
    "j7_anti_join": q_j7_anti_join,
    "s6_idempotent_append": q_s6_idempotent_append,
    "a1_groupby_count": q_a1_groupby_count,
    "a3_watermark_max": q_a3_watermark_max,
    "a4_global_count": q_a4_global_count,
    "a6_distinct_single": q_a6_distinct_single,
    "a7_distinct_multi": q_a7_distinct_multi,
    "w1_frequency_rank": q_w1_frequency_rank,
    "j4_rank_joinback": q_j4_rank_joinback,
    "w3_window_max": q_w3_window_max,
    "f1_derivations": q_f1_derivations,
    "f5_date_format": q_f5_date_format,
    "f13_side_of_town": q_f13_side_of_town,
    "f15_element_at": q_f15_element_at,
    "s5_pdf_parse": q_s5_pdf_parse,
    "s5b_pdf_decode": q_s5b_pdf_decode,
    "j9_nullsafe_join": q_j9_nullsafe_join,
    "j11_interval_overlap": q_j11_interval_overlap,
    "a10_count_distinct": q_a10_count_distinct,
    "j8_full_outer": q_j8_full_outer,
}

def oracles() -> dict[str, str]:
    return {
        "flagship_enriched_report": _FLAGSHIP_SQL,
        "p1_projection": "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
        "p2_star": "SELECT * FROM region",
        "p3_point_lookup": "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 500",
        "p4_null_health": """
                    SELECT count(*) AS total_rows,
                           count(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_l_quantity,
                           count(CASE WHEN l_returnflag IS NULL THEN 1 END) AS null_l_returnflag
                    FROM lineitem
                """,
        "p6_url_classify": f"SELECT * FROM ({_P6_CLASSIFIED}) WHERE report_kind IS NOT NULL",
        "s2_watermark_prune": f"""
                    SELECT href, report_date FROM ({_P6_CLASSIFIED})
                    WHERE report_kind = 'incident' AND report_date > DATE '1997-06-30'
                """,
        "j1_broadcast_join": """
                    SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
                    FROM orders JOIN customer ON o_custkey = c_custkey
                """,
        "j2_emsstat_selfjoin": f"""
                    SELECT incident_num,
                           CAST(max(emsstat) OVER (PARTITION BY incident_ts, location)
                                AS INTEGER) AS emsstat
                    FROM ({_DEDUPED})
                """,
        "j3_cache_antijoin": f"""
                    WITH locdim AS ({_LOCDIM}),
                    cache AS (SELECT loc FROM locdim WHERE latitude < 35.2226),
                    locs AS (SELECT DISTINCT location AS loc FROM ({_DEDUPED}))
                    SELECT loc FROM locs WHERE loc NOT IN (SELECT loc FROM cache)
                """,
        "j5_weather_joinback": f"""
                    WITH locdim AS ({_LOCDIM}),
                    coords AS (
                      SELECT s.incident_num, s.incident_ts, d.latitude, d.longitude
                      FROM ({_DEDUPED}) s LEFT JOIN locdim d ON s.location = d.loc
                    ),
                    wh AS (
                      SELECT DISTINCT latitude, longitude,
                             CAST(incident_ts AS DATE) AS date, hour(incident_ts) AS hour,
                             CAST((day(CAST(incident_ts AS DATE)) * 24 + hour(incident_ts))
                                  % 100 AS INTEGER) AS weather_code
                      FROM coords WHERE latitude IS NOT NULL AND longitude IS NOT NULL
                    )
                    SELECT c.incident_num, w.weather_code AS weather
                    FROM coords c LEFT JOIN wh w
                      ON c.latitude = w.latitude AND c.longitude = w.longitude
                     AND CAST(c.incident_ts AS DATE) = w.date
                     AND hour(c.incident_ts) = w.hour
                """,
        "j7_anti_join": """
                    SELECT c_custkey FROM customer
                    WHERE NOT EXISTS (
                      SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
                    )
                """,
        "s6_idempotent_append": """
                    SELECT o_orderkey FROM orders WHERE o_orderkey % 2 <> 0
                """,
        "a1_groupby_count": "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
        "a3_watermark_max": "SELECT max(CAST(o_orderdate AS DATE)) AS watermark FROM orders",
        "a4_global_count": "SELECT count(*) AS n FROM lineitem",
        "a6_distinct_single": "SELECT DISTINCT o_orderpriority FROM orders",
        "a7_distinct_multi": """
                    SELECT DISTINCT c_nationkey, o_orderpriority
                    FROM orders JOIN customer ON o_custkey = c_custkey
                """,
        "w1_frequency_rank": """
                    SELECT o_orderpriority,
                           CAST(rank() OVER (ORDER BY count(*) DESC) AS INTEGER) AS freq_rank
                    FROM orders GROUP BY o_orderpriority
                """,
        "j4_rank_joinback": """
                    WITH r AS (
                      SELECT l_returnflag,
                             CAST(rank() OVER (ORDER BY count(*) DESC) AS INTEGER) AS flag_rank
                      FROM lineitem GROUP BY l_returnflag
                    )
                    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, r.flag_rank
                    FROM lineitem l LEFT JOIN r USING (l_returnflag)
                """,
        "w3_window_max": """
                    SELECT event_id,
                           CAST(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                                OVER (PARTITION BY user_id, CAST(ts AS DATE))
                                AS INTEGER) AS any_error_that_day
                    FROM events
                """,
        "f1_derivations": f"""
                    SELECT incident_num, incident_ts, day_of_week, time_of_day, emsstat
                    FROM ({_DEDUPED})
                """,
        "f5_date_format": """
                    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day
                    FROM orders
                """,
        "f13_side_of_town": f"""
                    SELECT c_custkey, {_SIDE_EXPR} AS side_of_town FROM (
                      SELECT c_custkey,
                             35.2226 + CAST(c_custkey % 21 - 10 AS DOUBLE) * 0.013 AS latitude,
                             -97.4395 + CAST(c_custkey % 17 - 8 AS DOUBLE) * 0.019 AS longitude
                      FROM customer
                    )
                """,
        "f15_element_at": """
                    SELECT vec_id,
                           CASE WHEN CAST(vec_id * 7 % 80 AS INTEGER) < len(embedding)
                                THEN embedding[CAST(vec_id * 7 % 80 AS INTEGER) + 1]
                           END AS code
                    FROM embeddings
                """,
        "j9_nullsafe_join": """
                    WITH clicks AS (
                      SELECT CASE WHEN value >= 100 THEN user_id % 10 END AS bk,
                             count(*) AS n_clicks
                      FROM events WHERE event_type = 'click' GROUP BY 1
                    ),
                    views AS (
                      SELECT CASE WHEN value >= 100 THEN user_id % 10 END AS bk,
                             count(*) AS n_views
                      FROM events WHERE event_type = 'view' GROUP BY 1
                    )
                    SELECT clicks.bk AS bucket, n_clicks, n_views
                    FROM clicks JOIN views
                      ON clicks.bk IS NOT DISTINCT FROM views.bk
                """,
        "a10_count_distinct": """
                    SELECT l_returnflag,
                           count(DISTINCT l_suppkey) AS n_supp,
                           count(DISTINCT l_partkey) AS n_part,
                           count(*) AS n_rows
                    FROM lineitem GROUP BY l_returnflag
                """,
        "s5_pdf_parse": _S5_PARSE_SQL,
        "s5b_pdf_decode": _S5_PARSE_SQL,
        "j8_full_outer": """
                    WITH s AS (
                      SELECT s_nationkey AS nk, count(*) AS n_supp
                      FROM supplier WHERE s_acctbal > 9000 GROUP BY 1
                    ),
                    c AS (
                      SELECT c_nationkey AS nk, count(*) AS n_cust
                      FROM customer WHERE c_acctbal > 9900 GROUP BY 1
                    )
                    SELECT coalesce(s.nk, c.nk) AS nk, n_supp, n_cust
                    FROM s FULL OUTER JOIN c ON s.nk = c.nk
                """,
        "j11_interval_overlap": """
                    WITH base AS (
                      SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS lo
                      FROM events
                    ),
                    w AS (
                      SELECT event_id AS win_id, lo AS w_lo, lo + 7200 AS w_hi
                      FROM base WHERE event_id % 97 = 0
                    ),
                    a AS (
                      SELECT event_id AS act_id, lo AS a_lo, lo + 1800 AS a_hi
                      FROM base
                    )
                    SELECT w.win_id, a.act_id,
                           CAST(least(w.w_hi, a.a_hi)
                                - greatest(w.w_lo, a.a_lo) AS BIGINT) AS overlap_len
                    FROM w JOIN a
                      ON w.w_lo <= a.a_hi AND a.a_lo <= w.w_hi
                    WHERE w.win_id <> a.act_id
                """,
    }
