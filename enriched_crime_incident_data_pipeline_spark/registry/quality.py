"""Data-quality and entity ops: constraint audits (dq*), entity resolution, fuzzy matching, geo grids, tree paths.

Split out of registry.py (r6); function bodies unchanged. ``QUERIES``
and ``ORACLES`` are assembled into the full registry by
``registry/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table
from enriched_crime_incident_data_pipeline_spark.session import local_frame

from enriched_crime_incident_data_pipeline_spark.registry._shared import (
    _KS_DRIFT_SQL,
    _STOPWORD_SETS,
    _TOKENS,
    _TOKEN_COUNT,
)




def q_dq9_reconciliation(spark, sf_dir):
    # header/detail reconciliation — the warehouse close-of-books
    # audit: does each order header's total equal the sum of its
    # line items? Exact integer cents (floor(x·100) per line, the
    # dq8 idiom — the audit DEFINES its quantization rather than
    # trusting float sums), one map-side-combinable groupBy on
    # l_orderkey + one co-partitioned left join; the report is a
    # single summary row (headers with no lines, exact matches,
    # mismatches, worst and total absolute drift in cents) so the
    # output never scales with the fact table.
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lsum = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * F.lit(100.0))
        ).cast("bigint").alias("line_cents")
    )
    j = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0))
        .cast("bigint")
        .alias("o_cents"),
    ).join(lsum, orders["o_orderkey"] == lsum["l_orderkey"], "left")
    diff = F.abs(F.col("o_cents") - F.col("line_cents"))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("line_cents").isNull().cast("int"))
        .cast("bigint")
        .alias("n_no_lines"),
        F.sum((diff == 0).cast("int")).cast("bigint").alias("n_exact"),
        F.sum((diff > 0).cast("int")).cast("bigint").alias("n_mismatched"),
        F.max(diff).cast("bigint").alias("max_abs_diff_cents"),
        F.sum(diff).cast("bigint").alias("total_abs_diff_cents"),
    )


def q_dq8_benford(spark, sf_dir):
    # first-significant-digit (Benford) audit over order prices —
    # the fabricated-data / broken-generator tripwire finance and
    # data-quality teams run on amount columns: natural multi-scale
    # amounts follow P(d) = log10(1+1/d); a synthetic or truncated
    # feed doesn't. Exact integer path end-to-end: amounts quantize
    # to cents (floor(x·100) — the first significant digit is
    # invariant under the ×10^k shift), the leading digit is the
    # first character of the INTEGER's decimal string (identical in
    # both engines — no float formatting), shares are integer basis
    # points, and the Benford expectation is a fixed literal table
    # (floor(log10(1+1/d)·10^4), precomputed — no runtime log). One
    # map-side-combinable 9-cell groupBy + a broadcast scalar total.
    li = load_table(spark, sf_dir, "lineitem")
    dig = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice") * F.lit(100.0))
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    ).filter(F.col("digit") >= 1)
    counts = dig.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_tot"))
    benford = F.array(
        *[F.lit(x) for x in [3010, 1760, 1249, 969, 791, 669, 579, 511, 457]]
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST((n * 10000) DIV _tot AS BIGINT)").alias("share_bp"),
        F.element_at(benford, F.col("digit")).cast("bigint").alias(
            "benford_bp"
        ),
        F.abs(
            F.expr("CAST((n * 10000) DIV _tot AS BIGINT)")
            - F.element_at(benford, F.col("digit")).cast("bigint")
        ).alias("abs_dev_bp"),
    )


def q_dq3_volume_anomaly(spark, sf_dir):
    # ingest-volume anomaly monitor: daily event counts vs the robust
    # MAD band — flag days where |count - median| > 3·MAD (the
    # data-quality tripwire a continuous pipeline runs after every
    # load). Daily counts are a map-side-combinable groupBy; the
    # median/MAD scalars broadcast back; all comparisons exact.
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    med = daily.agg(F.expr("percentile(n, 0.5)").alias("med"))
    dev = daily.crossJoin(F.broadcast(med))
    mad = dev.agg(
        F.first("med").alias("med"),
        F.expr("percentile(abs(n - med), 0.5)").alias("mad"),
    )
    return (
        daily.crossJoin(F.broadcast(mad))
        .select(
            "day",
            F.col("n").cast("bigint").alias("n"),
            (
                F.abs(F.col("n").cast("double") - F.col("med"))
                > F.lit(3.0) * F.col("mad")
            )
            .cast("int")
            .alias("is_anomaly"),
        )
    )


def q_geo1_grid_join(spark, sf_dir):
    # 2-D proximity self-join via grid blocking: cell equi-join +
    # exact Chebyshev residual, never a cartesian (plan-asserted)
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        grid_proximity_join,
    )

    cust = load_table(spark, sf_dir, "customer")
    points = cust.select(
        F.col("c_custkey").alias("pid"),
        (F.col("c_custkey") % 89).cast("int").alias("px"),
        (F.col("c_custkey") % 97).cast("int").alias("py"),
    )
    return grid_proximity_join(points, "pid", "px", "py", radius=1)



def q_geo2_grid_knn(spark, sf_dir):
    # bounded-radius nearest neighbor: grid-blocked directed
    # candidates (3x3 neighborhood equi-join), integer-exact squared
    # distance, min_by argmin per query point — no sort window, no
    # cartesian
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        grid_nearest_neighbor,
    )

    cust = load_table(spark, sf_dir, "customer")
    points = cust.select(
        F.col("c_custkey").alias("pid"),
        (F.col("c_custkey") % 89).cast("int").alias("px"),
        (F.col("c_custkey") % 97).cast("int").alias("py"),
    )
    return grid_nearest_neighbor(points, "pid", "px", "py", radius=2)


def q_fuzzy1_name_pairs(spark, sf_dir):
    # fuzzy dedup of near-identical names: prefix blocking + exact
    # levenshtein residual (the dirty-address clustering shape from
    # the reference's location strings)
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        fuzzy_name_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    return fuzzy_name_pairs(cust, "c_custkey", "c_name", max_distance=1)


def q_er2_blocking_recall(spark, sf_dir):
    # the eval every blocking scheme owes its users: measured recall
    # of fuzzy1's prefix blocking against EXHAUSTIVE ground truth on
    # a bounded audit sample (custkey % 7 = 0 AND custkey < 20000 —
    # deterministic, and the absolute cap keeps the sample's
    # quadratic exact pass fixed-size at ANY corpus scale; the full
    # corpus never sees a pairwise product). Ground truth = all
    # sample pairs with levenshtein <= 1 (broadcast self-join over
    # the capped sample); blocked = fuzzy_name_pairs on the same
    # sample (already levenshtein-verified, so blocked ⊆ truth and
    # precision is 1 by construction — recall is the number that
    # can be lost). Empty truth pins recall to 10000 (vacuous).
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        fuzzy_name_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    sample = cust.filter(
        (F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") < 20000)
    ).select("c_custkey", "c_name")
    a = sample.select(
        F.col("c_custkey").alias("ka"), F.col("c_name").alias("na")
    )
    b = sample.select(
        F.col("c_custkey").alias("kb"), F.col("c_name").alias("nb")
    )
    truth = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ka") < F.col("kb"))
        .filter(F.levenshtein(F.col("na"), F.col("nb"), 1) >= 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_pairs"))
    )
    blocked = fuzzy_name_pairs(sample, "c_custkey", "c_name", 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("blocked_pairs")
    )
    n = sample.agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
    return (
        n.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(blocked))
        .select(
            "n_sampled",
            "true_pairs",
            "blocked_pairs",
            F.expr(
                "CAST(CASE WHEN true_pairs = 0 THEN 10000"
                " ELSE (blocked_pairs * 10000) DIV true_pairs"
                " END AS BIGINT)"
            ).alias("recall_bp"),
        )
    )


def q_er4_deletion_blocking(spark, sf_dir):
    # the FIX er2's measured weakness calls for (prefix blocking
    # recalls only 3757 bp of true distance-1 pairs at sf0.01):
    # DELETION-NEIGHBORHOOD blocking (FastSS / the symmetric-delete
    # idea behind SymSpell) restricted to the last D=6 positions —
    # each name emits itself plus the 6 variants with one of its last
    # 6 chars deleted; candidates join on the variant string. A
    # substitution at any of the last 6 positions makes both names
    # share that position's deletion variant; an indel there makes
    # the longer name's variant equal the shorter's identity — so the
    # scheme is COMPLETE for edits in the suffix window while staying
    # linear (7 keys/name, block sizes bounded like any equi-key
    # blocking; D dials the completeness window vs key volume).
    # Verified with exact levenshtein on the originals; both recalls
    # published against er2's exhaustive capped-sample truth — the
    # artifact IS the measured gain (3757 → 10000 bp at sf0.01).
    cust = load_table(spark, sf_dir, "customer")
    # lazily pin the capped sample: seven consumers (truth a/b, the
    # prefix blocking's two sides, the variant table's two sides, n)
    # would otherwise each re-scan customer (7 FileScans measured)
    sample = cust.filter(
        (F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") < 20000)
    ).select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("nm")
    ).localCheckpoint(eager=False)
    a = sample.select(F.col("k").alias("ka"), F.col("nm").alias("na"))
    b = sample.select(F.col("k").alias("kb"), F.col("nm").alias("nb"))
    truth = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ka") < F.col("kb"))
        .filter(F.levenshtein(F.col("na"), F.col("nb"), 1) >= 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_pairs"))
    )
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        fuzzy_name_pairs,
    )

    prefix_pairs = fuzzy_name_pairs(sample, "k", "nm", 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("prefix_pairs")
    )
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        deletion_variant_pairs,
    )

    # cap passed EXPLICITLY (the operator's default is exact, r10):
    # 256 keeps er4's join bounded on a degenerate name domain; the
    # measured max bucket here is 38 ids at every SF so it never
    # fires and the pinned output is unchanged
    deletion_pairs = deletion_variant_pairs(
        sample, "k", "nm", max_distance=1, window=6,
        max_ids_per_variant=256,
    ).agg(F.count(F.lit(1)).cast("bigint").alias("deletion_pairs"))
    n = sample.agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
    return (
        n.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(prefix_pairs))
        .crossJoin(F.broadcast(deletion_pairs))
        .select(
            "n_sampled",
            "true_pairs",
            "prefix_pairs",
            "deletion_pairs",
            F.expr(
                "CAST(CASE WHEN true_pairs = 0 THEN 10000"
                " ELSE (prefix_pairs * 10000) DIV true_pairs"
                " END AS BIGINT)"
            ).alias("recall_prefix_bp"),
            F.expr(
                "CAST(CASE WHEN true_pairs = 0 THEN 10000"
                " ELSE (deletion_pairs * 10000) DIV true_pairs"
                " END AS BIGINT)"
            ).alias("recall_deletion_bp"),
        )
    )


def q_er3_cluster_cohesion(spark, sf_dir):
    # the SECOND number an ER rollout needs (er2 measured pair
    # recall; this measures what transitive closure costs): cluster
    # cohesion = the share of intra-cluster pairs that are DIRECTLY
    # similar (levenshtein <= 1) — chaining (a~b, b~c but a!~c)
    # drags it below 10000, and a curator reads it before trusting
    # the merged entities. NB the configuration matters: er1's
    # 1-char-tail blocking makes clusters cliques (cohesion
    # structurally 10000 — proven in fuzzy_name_pairs' docstring),
    # so the audit runs the 2-char-tail + distance-1 configuration
    # where chaining genuinely occurs ("…01"~"…02"~"…12" chains
    # while "…01"!~"…12"). Intra-cluster pairwise work is bounded by
    # blocking-bounded cluster sizes (Σ|c|², never the table²).
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        connected_components,
    )
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        fuzzy_name_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    pairs = fuzzy_name_pairs(
        cust, "c_custkey", "c_name", max_distance=1, block_tail=2
    )
    cc = connected_components(pairs, "id_a", "id_b")
    # pin the membership relation: both sides of the intra-cluster
    # self-join below derive from it, and without the pin each side
    # re-runs the cc-customer join (the dq10/er4 1-row-relation
    # pattern, r10). Post-pin the epilogue cost is the bounded
    # levenshtein itself (~1.4 s over 742k intra pairs at sf0.1,
    # measured ~1.9 µs/call — throughput floor, not plan waste).
    mem = cc.join(
        cust.select(
            F.col("c_custkey").alias("node"), F.col("c_name").alias("nm")
        ),
        "node",
    ).localCheckpoint(eager=False)
    a = mem.select(
        F.col("cluster_id"), F.col("node").alias("ka"), F.col("nm").alias("na")
    )
    b = mem.select(
        F.col("cluster_id"), F.col("node").alias("kb"), F.col("nm").alias("nb")
    )
    intra = a.join(b, "cluster_id").filter(F.col("ka") < F.col("kb"))
    return intra.agg(
        F.count(F.lit(1)).cast("bigint").alias("intra_pairs"),
        F.sum(
            (F.levenshtein(F.col("na"), F.col("nb"), 1) >= 0).cast("int")
        ).cast("bigint").alias("direct_pairs"),
    ).select(
        "intra_pairs",
        "direct_pairs",
        F.expr(
            "CAST(CASE WHEN intra_pairs = 0 THEN 10000"
            " ELSE (direct_pairs * 10000) DIV intra_pairs"
            " END AS BIGINT)"
        ).alias("cohesion_bp"),
    )


def q_er5_block_size_profile(spark, sf_dir):
    # the BLOCKING-COST artifact for the ER family (r10; gr15 is the
    # graph twin): per blocking configuration (fuzzy prefix blocking
    # at tail=1 — er1's config — and tail=2 — er3's), the block-size
    # log2 histogram with each bucket's share of the candidate-pair
    # sum sigma s·(s−1)/2 — the quantity the blocked self-join
    # actually pays, and the number that says when a config needs
    # er4's hot-bucket cap. One name scan per config (the block key
    # is a column expression), a block groupBy, then a <=64-row
    # histogram; the share window runs over the histogram only.
    cust = load_table(spark, sf_dir, "customer")
    outs = []
    for tail in (1, 2):
        blk = cust.select(
            F.concat(
                F.expr(
                    f"substring(c_name, 1, length(c_name) - {tail})"
                ),
                F.lit("#"),
                F.length("c_name").cast("string"),
            ).alias("blk")
        )
        sizes = blk.groupBy("blk").agg(
            F.count(F.lit(1)).cast("bigint").alias("s")
        )
        hist = sizes.select(
            F.length(F.conv(F.col("s").cast("string"), 10, 2))
            .cast("int")
            .alias("bucket"),
            "s",
        ).groupBy("bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum("s").cast("bigint").alias("n_names"),
            F.sum(F.expr("s * (s - 1) DIV 2")).cast("bigint").alias(
                "cand_pairs"
            ),
        )
        outs.append(
            hist.select(
                F.lit(f"tail{tail}").alias("scheme"),
                "bucket",
                "n_blocks",
                "n_names",
                "cand_pairs",
                F.expr(
                    "CAST(CASE WHEN sum(cand_pairs) OVER"
                    " (PARTITION BY 1) = 0 THEN 0"
                    " ELSE (cand_pairs * 10000) DIV"
                    " (sum(cand_pairs) OVER (PARTITION BY 1)) END"
                    " AS BIGINT)"
                ).alias("pair_share_bp"),
            )
        )
    return outs[0].unionByName(outs[1])


def q_er1_entity_clusters(spark, sf_dir):
    # entity resolution end-to-end: fuzzy-blocked name pairs (fuzzy1)
    # -> connected components -> one canonical entity per component
    # (root = min member id, its name is the canonical form) with a
    # member count. Blocking bounds the pair fan-out, CC edges scale
    # with the fuzzy-dup count (not the table), the canonical join is
    # a plain equi-join on the entity root.
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        connected_components,
    )
    from enriched_crime_incident_data_pipeline_spark.operators.spatial import (
        fuzzy_name_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    pairs = fuzzy_name_pairs(cust, "c_custkey", "c_name", max_distance=1)
    cc = connected_components(pairs, "id_a", "id_b")
    members = (
        cust.select("c_custkey")
        .join(cc, cust["c_custkey"] == cc["node"], "left")
        .select(
            F.coalesce("cluster_id", F.col("c_custkey")).alias("entity_id"),
        )
    )
    canon = cust.select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("canonical_name"),
    )
    return (
        members.groupBy("entity_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_members"))
        .join(canon, "entity_id")
        .select("entity_id", "n_members", "canonical_name")
    )


def q_dq15_fk_fanout_profile(spark, sf_dir):
    # the JOIN-PLANNING artifact dq5's orphan audit doesn't give: the
    # orders->lineitem fan-out DISTRIBUTION (how many lineitems each
    # order key fans into, including zero) — the histogram that
    # decides broadcast-vs-shuffle thresholds, AQE skew-split
    # expectations, and salting needs for the lake's hottest join.
    # One fact groupBy on the FK (map-side combinable count), a
    # left join from the parent domain filling absent keys with
    # fan-out 0, then a <=|distinct fanouts|-row histogram; the share
    # window runs over the histogram only.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    fo = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("fanout")
    )
    dom = orders.select("o_orderkey").join(fo, "o_orderkey", "left").select(
        F.coalesce("fanout", F.lit(0)).cast("bigint").alias("fanout")
    )
    hist = dom.groupBy("fanout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    return hist.select(
        "fanout",
        "n_orders",
        F.expr(
            "CAST((n_orders * 10000) DIV (sum(n_orders) OVER ())"
            " AS BIGINT)"
        ).alias("share_bp"),
    )


def q_dq1_constraint_audit(spark, sf_dir):
    # data-quality audit: the constraint surface a schemaless lake
    # loses vs the reference's Postgres DDL (PK uniqueness, NOT NULL,
    # FK integrity, CHECK ranges — src/db/schema.py:10-26) recast as
    # violation-count queries.  Each check is a pruned single-purpose
    # scan (pushdown filter + column pruning); the FK checks are hash
    # joins on the key
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def named(name, df):
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    pk_dup = named(
        "orders_pk_dup",
        orders.agg(
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
                "violations"
            )
        ),
    )
    null_cust = named(
        "orders_null_cust",
        orders.filter(F.col("o_custkey").isNull()).agg(
            F.count(F.lit(1)).alias("violations")
        ),
    )
    qty_range = named(
        "li_qty_range",
        li.filter(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).agg(F.count(F.lit(1)).alias("violations")),
    )
    disc_range = named(
        "li_discount_range",
        li.filter(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).agg(F.count(F.lit(1)).alias("violations")),
    )
    orphan = named(
        "li_orphan",
        li.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti"
        ).agg(F.count(F.lit(1)).alias("violations")),
    )
    ship_before = named(
        "li_ship_before_order",
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.to_date("l_shipdate") < F.to_date("o_orderdate"))
        .agg(F.count(F.lit(1)).alias("violations")),
    )
    return (
        pk_dup.unionByName(null_cust)
        .unionByName(qty_range)
        .unionByName(disc_range)
        .unionByName(orphan)
        .unionByName(ship_before)
    )


def q_dq2_profile(spark, sf_dir):
    # single-pass column profiling (null + exact distinct counts per
    # column): the multi-distinct aggregate plans as ONE expand +
    # aggregate — one shuffle for the whole profile, not one per column
    orders = load_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nn{i}")
        )
        aggs.append(F.countDistinct(c).alias(f"nd{i}"))
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn{i}, nd{i}" for i, c in enumerate(cols)
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args})"
        " as (column_name, n_nulls, n_distinct)"
    )

def q_dq4_fd_audit(spark, sf_dir):
    # functional-dependency audit for the candidate FD source -> lang:
    # per source, row count, distinct-rhs count, the deterministic
    # majority lang (ties -> lower value), and the repair distance
    # (rows outside the majority). FD discovery/repair is the classic
    # data-quality sweep; counts + comparisons only, bit-exact.
    from enriched_crime_incident_data_pipeline_spark.operators.health import (
        fd_audit,
    )

    docs = load_table(spark, sf_dir, "documents")
    return fd_audit(docs, "source", "lang")


def q_dq5_ri_audit(spark, sf_dir):
    # referential-integrity audit across the fact->dim edges a
    # warehouse health sweep publishes: for each declared FK edge,
    # child row count, orphan rows (no parent), orphan rate in
    # integer basis points. Each edge is one left-anti count against
    # the parent key projection - broadcast where the parent is a
    # dim, shuffle-pruned otherwise; counts only, bit-exact. The
    # lineitem->orders edge is clean by construction, so the audit
    # also checks an INTENTIONALLY-violated edge: events.user_id
    # against the customer key space (synthetic users are not
    # customers - nonzero orphan rate proves the probe works).
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")

    def edge(name, child, key, parent, pkey):
        n = child.count()
        orphans = child.join(
            parent.select(F.col(pkey).alias(key)).distinct(),
            key,
            "left_anti",
        ).count()
        return (name, n, orphans, orphans * 10000 // n if n else 0)

    rows = [
        edge("lineitem.l_orderkey->orders", li.select("l_orderkey"),
             "l_orderkey", orders, "o_orderkey"),
        edge("orders.o_custkey->customer", orders.select("o_custkey"),
             "o_custkey", cust, "c_custkey"),
        edge("events.user_id->customer", ev.select(
            F.col("user_id").alias("user_id")), "user_id",
            cust.select(F.col("c_custkey").cast("bigint").alias("user_id")),
            "user_id"),
    ]
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return local_frame(
        spark,
        rows,
        StructType(
            [
                StructField("fk_edge", StringType()),
                StructField("n_child_rows", LongType()),
                StructField("n_orphans", LongType()),
                StructField("orphan_rate_bp", LongType()),
            ]
        ),
    )



def q_dq6_token_drift(spark, sf_dir):
    # per-source distribution-drift audit: total-variation distance
    # between each source's token distribution and the corpus-wide
    # one, in EXACT integer basis points — the snapshot-drift tripwire
    # a continuous corpus pipeline runs per provider (KL/chi-square
    # need per-token fractional denominators; TV = (1/2)Σ|p_t − q_t|
    # admits ONE common denominator N_s·N, so the whole statistic is
    # integer arithmetic). Tokens absent from a source contribute
    # N_s·(N − C_s) in closed form — never a source×all-tokens
    # product. DECIMAL(38) guards the ×10⁴ headroom at 100 TB token
    # counts; two map-side-combinable aggs + one join on token.
    from enriched_crime_incident_data_pipeline_spark.functions.text import (
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.length("w") >= 1)
    ost = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("o"))
    ct = ost.groupBy("w").agg(F.sum("o").alias("c"))
    ns = ost.groupBy("source").agg(F.sum("o").alias("n_s"))
    tot = ct.agg(F.sum("c").alias("n"))
    dec = "decimal(38,0)"
    terms = (
        ost.join(ct, "w")
        .join(ns, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.abs(
                F.col("o").cast(dec) * F.col("n").cast(dec)
                - F.col("c").cast(dec) * F.col("n_s").cast(dec)
            ).alias("term"),
            "c",
        )
        .groupBy("source")
        .agg(F.sum("term").alias("present"), F.sum("c").alias("c_s"))
    )
    return (
        terms.join(ns, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_tokens"),
            F.expr(
                "CAST(((present + CAST(n_s AS decimal(38,0))"
                " * (n - c_s)) * 10000)"
                " DIV (2 * CAST(n_s AS decimal(38,0))"
                " * CAST(n AS decimal(38,0))) AS BIGINT)"
            ).alias("drift_bp"),
        )
    )


def q_dq7_ks_drift(spark, sf_dir):
    # per-source NUMERIC distribution drift: exact two-sample
    # Kolmogorov–Smirnov statistic (each source's doc-length ECDF vs
    # the corpus-wide one) in pure integer arithmetic — the numeric
    # companion to dq6's token-TV audit (KS is what detects a
    # provider silently truncating or padding documents even when
    # token frequencies barely move). Exactness without
    # densification: sup|F_s − F| over a pair of step functions is
    # attained either AT one of the source's own jump points or just
    # BEFORE one (between consecutive source points F_s is constant
    # while F rises monotonically, so |F_s − F| peaks at an interval
    # endpoint — and the right endpoint of interval [a,b) is exactly
    # the "just-before" candidate of the next source point b, with
    # the initial interval covered by the first point's cum_s=0
    # just-before candidate). So each source needs only its OWN
    # (source, value) rows — never a source × all-distinct-values
    # product — and both candidates use cumulative counts already on
    # the row: D_at = |cum_s·N − cum·N_s|, D_before =
    # |(cum_s−cnt_s)·N − (cum−cnt)·N_s|; KS_bp = 10⁴·max(D)/(N_s·N)
    # — all integers, one common denominator (the dq6 trick), no
    # float ECDFs to disagree across engines. Property-pinned vs a
    # brute-force dense-grid Python model in test_properties.py.
    # Shuffles: two map-side-combinable groupBys sized by the
    # DISTINCT-VALUE relation (bounded by the value domain, like a
    # histogram — not by row count), one equi-join on value. The one
    # unpartitioned window runs over distinct values only.
    from enriched_crime_incident_data_pipeline_spark.operators.health import (
        ks_drift,
    )

    return ks_drift(
        load_table(spark, sf_dir, "documents"), "source", "n_chars"
    )


_PK_SPEC = [
    # (table, [key columns]) — lineitem's key is composite
    ("region", ["r_regionkey"]),
    ("nation", ["n_nationkey"]),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("orders", ["o_orderkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]


def q_dq14_key_uniqueness(spark, sf_dir):
    # the lake-wide primary-key gate (dq5 audits FK orphans; this is
    # the PK side): for EVERY table, rows vs distinct key tuples,
    # duplicate-key count, and null-key rows — the invariant every
    # downstream join/merge silently assumes. One count-distinct agg
    # per table (map-side partial + the standard distinct expand),
    # unioned into a 10-row report; no joins anywhere.
    #
    # Null semantics (r10, advisor): n_keys counts distinct key
    # tuples among rows where NO key field is null — Spark's
    # count_distinct(a, b) already skips any-null tuples, and the
    # oracle pins the same with a FILTER (DuckDB's row-value
    # count(DISTINCT (a, b)) would otherwise count a null-field row
    # as a distinct value).  dup_key_rows is therefore duplicates
    # among non-null-keyed rows: n_rows - null_key_rows - n_keys;
    # null-keyed rows are reported solely via null_key_rows.
    outs = []
    for t, keys in _PK_SPEC:
        df = load_table(spark, sf_dir, t)
        kc = [F.col(k) for k in keys]
        null_any = kc[0].isNull()
        for c in kc[1:]:
            null_any = null_any | c.isNull()
        outs.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct(*kc).cast("bigint").alias("n_keys"),
                F.sum(null_any.cast("int")).cast("bigint").alias(
                    "null_key_rows"
                ),
            ).select(
                "table_name",
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("null_key_rows") - F.col("n_keys"))
                .cast("bigint")
                .alias("dup_key_rows"),
                "null_key_rows",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_dq13_column_profile(spark, sf_dir):
    # the table profile every lake catalog shows next to a dataset
    # (and the input to dq-rule generation): per column, null count /
    # null share / distinct cardinality over the events table, one
    # row per column. One aggregate computes every cell — the
    # multi-distinct agg compiles to Spark's Expand (one scan,
    # |cols|× rows into the partial agg, the planner's standard
    # multi-distinct strategy — honest cost, stated here), then a
    # stack unpivots to the ≤|cols|-row profile. Exact integers;
    # timestamps profile by instant.
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    cells = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for c in cols:
        cells.append(
            F.sum(F.col(c).isNull().cast("int"))
            .cast("bigint")
            .alias(f"_null_{c}")
        )
        cells.append(
            F.count_distinct(F.col(c)).cast("bigint").alias(f"_nd_{c}")
        )
    one = ev.agg(*cells)
    return one.select(
        F.expr(
            "stack("
            + str(len(cols))
            + ", "
            + ", ".join(f"'{c}', _null_{c}, _nd_{c}" for c in cols)
            + ") AS (col_name, n_null, n_distinct)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "col_name",
        "n_rows",
        "n_null",
        F.expr("CAST((n_null * 10000) DIV n_rows AS BIGINT)").alias(
            "null_bp"
        ),
        "n_distinct",
    )


def q_dq12_event_order_audit(spark, sf_dir):
    # the ordering audit the engine's own streaming contracts depend
    # on: st7/st21/st28's carried state is only correct when events
    # arrive in event-time order per key, and this measures whether a
    # feed actually satisfies that — per user, an event is LATE when
    # its ts precedes the running max ts over earlier event_ids (the
    # append sequence). One per-user window (partitioned, never a
    # global row sort) → 1-row summary: events, late count/share,
    # worst lateness in seconds, users affected. Exact integers via
    # epoch micros. The number feeds directly into watermark sizing:
    # withWatermark's delay threshold must exceed max_lateness_s or
    # the late tail is dropped.
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    from enriched_crime_incident_data_pipeline_spark.operators.health import (
        order_audit_report,
    )

    t = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
    ).withColumn("_rm", F.max("t").over(w))
    late = F.col("_rm").isNotNull() & (F.col("t") < F.col("_rm"))
    per_user = t.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(late.cast("int")).cast("bigint").alias("n_late"),
        F.max(
            F.when(late, (F.col("_rm") - F.col("t"))).otherwise(F.lit(0))
        ).alias("max_late_us"),
    )
    return order_audit_report(per_user)


def q_dq11_k_anonymity(spark, sf_dir):
    # the privacy audit a training-data release runs before shipping
    # rows with demographic-ish columns: treat (nation, market
    # segment) as the quasi-identifier and report how identifying the
    # combination is — the dataset is k-anonymous for k = the
    # smallest group size, and re-identification risk concentrates in
    # the small groups. One groupBy over the quasi-id domain, then a
    # ≤|groups|-row summary: group count, min/max sizes, singleton
    # count, rows in groups below the k=5 release bar and their share
    # in bp. All integers; output is one row whatever the table size.
    from enriched_crime_incident_data_pipeline_spark.operators.health import (
        k_anonymity_report,
    )

    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return k_anonymity_report(g, k=5)


def q_dq10_schema_drift(spark, sf_dir):
    # snapshot-over-snapshot JSON schema drift (r7 verdict item 6):
    # json2's key-domain profile AS OF the epoch-µs midpoint vs AS OF
    # now, diffed with the cdc2 idiom — keys added, dominant-type
    # flips ('removed' cannot occur: cumulative snapshots only grow),
    # plus the integer-bp presence-rate change. One conditional-agg
    # pass over the exploded kv relation; output bounded by the key
    # domain. See operators/health.py:schema_drift.
    from enriched_crime_incident_data_pipeline_spark.operators.health import (
        schema_drift,
    )

    return schema_drift(load_table(spark, sf_dir, "events"))


def q_ta17_filter_attribution(spark, sf_dir):
    # the FILTER-SHRINKAGE attribution report (r10): ta7 publishes
    # the per-doc keep/drop verdict — this answers the question every
    # curation run gets asked next: WHICH rule shrank the corpus, and
    # by how many documents and tokens? (The published ablation table
    # of the Gopher-rule literature, measured on this corpus.) Per
    # rule: failing-doc count, its share of the corpus in bp, and the
    # token mass those docs carry (overlapping by design — it's
    # per-rule attribution — with the 'any' row giving the de-duped
    # union, i.e. what ta7 actually drops). ONE conditional-agg pass
    # over the same quality_features ta7 gates on (no per-rule
    # re-scans), stack-unpivoted to the fixed 6-row report; shares
    # derive from the same 1-row relation, so nothing re-aggregates.
    from enriched_crime_incident_data_pipeline_spark.functions.text import (
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    base = docs.select(
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("sw"),
        feats["digit_ratio"].alias("dg"),
        feats["punct_ratio"].alias("pc"),
    )
    rules = [
        ("len_min", F.col("n_tokens") < 10),
        ("len_max", F.col("n_tokens") > 500),
        ("stopword", F.col("sw") < 0.05),
        ("digit", F.col("dg") > 0.2),
        ("punct", F.col("pc") > 0.2),
    ]
    any_fail = rules[0][1]
    for _, pred in rules[1:]:
        any_fail = any_fail | pred
    cells = [F.count(F.lit(1)).cast("bigint").alias("_n_docs")]
    for name, pred in rules + [("any", any_fail)]:
        cells.append(
            F.sum(pred.cast("int")).cast("bigint").alias(f"_f_{name}")
        )
        cells.append(
            F.sum(F.when(pred, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"_t_{name}")
        )
    one = base.agg(*cells)
    names = [n for n, _ in rules] + ["any"]
    return one.select(
        F.expr(
            "stack(6, "
            + ", ".join(f"'{n}', _f_{n}, _t_{n}" for n in names)
            + ") AS (rule, n_fail, tokens_lost)"
        ),
        "_n_docs",
    ).select(
        "rule",
        "n_fail",
        F.expr(
            "CAST(CASE WHEN _n_docs = 0 THEN 0"
            " ELSE (n_fail * 10000) DIV _n_docs END AS BIGINT)"
        ).alias("fail_share_bp"),
        "tokens_lost",
    )


def q_geo3_grid_density_profile(spark, sf_dir):
    # the GRID-SIZING artifact for the spatial family (r10; er5's
    # idiom on geo1/geo2's grid): per cell size g = 1/4/16, the
    # cell-occupancy log2 histogram with each bucket's share of the
    # within-cell candidate-pair sum Σ s·(s−1)/2 — the term a grid
    # proximity join pays per cell (the 3×3 neighborhood probe
    # multiplies it by a bounded constant ≤9). Coarser cells mean
    # fewer join keys but quadratically fatter buckets; this curve
    # is how the cell size is chosen BEFORE running geo1 at scale.
    # One point scan per config (the cell key is a column
    # expression), a cell groupBy, a ≤64-row histogram; the share
    # window runs over the histogram only.
    cust = load_table(spark, sf_dir, "customer")
    points = cust.select(
        (F.col("c_custkey") % 89).cast("int").alias("px"),
        (F.col("c_custkey") % 97).cast("int").alias("py"),
    )
    outs = []
    for g in (1, 4, 16):
        sizes = points.groupBy(
            F.expr(f"px DIV {g}").alias("cx"),
            F.expr(f"py DIV {g}").alias("cy"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("s"))
        hist = sizes.select(
            F.length(F.conv(F.col("s").cast("string"), 10, 2))
            .cast("int")
            .alias("bucket"),
            "s",
        ).groupBy("bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("s").cast("bigint").alias("n_points"),
            F.sum(F.expr("s * (s - 1) DIV 2")).cast("bigint").alias(
                "cand_pairs"
            ),
        )
        outs.append(
            hist.select(
                F.lit(f"g{g}").alias("scheme"),
                "bucket",
                "n_cells",
                "n_points",
                "cand_pairs",
                F.expr(
                    "CAST(CASE WHEN sum(cand_pairs) OVER"
                    " (PARTITION BY 1) = 0 THEN 0"
                    " ELSE (cand_pairs * 10000) DIV"
                    " (sum(cand_pairs) OVER (PARTITION BY 1)) END"
                    " AS BIGINT)"
                ).alias("pair_share_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_er6_distance_threshold_curve(spark, sf_dir):
    # the VERIFY-THRESHOLD pricing artifact for the ER family (r10;
    # dd27 is the Jaccard twin): within er3's tail-2 prefix blocking,
    # how many candidate pairs verify at levenshtein ≤ 1 / 2 / 3 —
    # the knob that trades merge recall against false merges, priced
    # on the corpus before committing a threshold. ONE blocked
    # candidate relation (block sizes bounded — er5 publishes the
    # histogram), ONE bounded-levenshtein evaluation per pair
    # (threshold=3 short-circuits the DP past the bound, ~2× on
    # exhaustive passes), every threshold a conditional cell of ONE
    # 1-row aggregate, stack-unpivoted to the 3-row curve.
    cust = load_table(spark, sf_dir, "customer")
    blk = F.concat(
        F.expr("substring(c_name, 1, length(c_name) - 2)"),
        F.lit("#"),
        F.length("c_name").cast("string"),
    )
    names = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("nm"),
        blk.alias("blk"),
    )
    left = names.select(
        F.col("id").alias("id_a"), F.col("nm").alias("nm_a"), "blk"
    )
    right = names.select(
        F.col("id").alias("id_b"), F.col("nm").alias("nm_b"), "blk"
    )
    cand = (
        left.join(right, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.levenshtein(F.col("nm_a"), F.col("nm_b"), 3).alias("lev"))
    )
    cells = [F.count(F.lit(1)).cast("bigint").alias("n_candidates")]
    for t in (1, 2, 3):
        cells.append(
            F.sum(((F.col("lev") >= 0) & (F.col("lev") <= t)).cast("int"))
            .cast("bigint")
            .alias(f"np_{t}")
        )
    one = cand.agg(*cells)
    return one.select(
        F.expr(
            "stack(3, "
            + ", ".join(f"{t}, np_{t}" for t in (1, 2, 3))
            + ") AS (threshold, n_pairs)"
        ),
        "n_candidates",
    ).select(
        F.col("threshold").cast("int").alias("threshold"),
        "n_pairs",
        "n_candidates",
        F.expr(
            "CAST(CASE WHEN n_candidates = 0 THEN 0"
            " ELSE (n_pairs * 10000) DIV n_candidates END AS BIGINT)"
        ).alias("share_of_candidates_bp"),
    )


QUERIES = {
    "ta17_filter_attribution": q_ta17_filter_attribution,
    "geo3_grid_density_profile": q_geo3_grid_density_profile,
    "er6_distance_threshold_curve": q_er6_distance_threshold_curve,
    "dq13_column_profile": q_dq13_column_profile,
    "dq15_fk_fanout_profile": q_dq15_fk_fanout_profile,
    "er5_block_size_profile": q_er5_block_size_profile,
    "dq14_key_uniqueness": q_dq14_key_uniqueness,
    "dq12_event_order_audit": q_dq12_event_order_audit,
    "dq10_schema_drift": q_dq10_schema_drift,
    "dq11_k_anonymity": q_dq11_k_anonymity,
    "dq8_benford": q_dq8_benford,
    "dq9_reconciliation": q_dq9_reconciliation,
    "dq7_ks_drift": q_dq7_ks_drift,
    "dq5_ri_audit": q_dq5_ri_audit,
    "dq6_token_drift": q_dq6_token_drift,
    "dq4_fd_audit": q_dq4_fd_audit,
    "dq1_constraint_audit": q_dq1_constraint_audit,
    "dq2_profile": q_dq2_profile,
    "dq3_volume_anomaly": q_dq3_volume_anomaly,
    "geo1_grid_join": q_geo1_grid_join,
    "geo2_grid_knn": q_geo2_grid_knn,
    "fuzzy1_name_pairs": q_fuzzy1_name_pairs,
    "er1_entity_clusters": q_er1_entity_clusters,
    "er2_blocking_recall": q_er2_blocking_recall,
    "er4_deletion_blocking": q_er4_deletion_blocking,
    "er3_cluster_cohesion": q_er3_cluster_cohesion,
}


def _dq14_oracle_sql() -> str:
    """Oracle generated from _PK_SPEC so the two engines cannot
    drift: n_keys is FILTERed to rows with no null key field (DuckDB
    row-value count(DISTINCT (a, b)) counts a null-field tuple as a
    value; Spark's count_distinct skips it), and dup_key_rows is
    n_rows - null_key_rows - n_keys on both sides."""
    blocks = []
    for t, keys in _PK_SPEC:
        nn = " AND ".join(f"{k} IS NOT NULL" for k in keys)
        anynull = " OR ".join(f"{k} IS NULL" for k in keys)
        tup = ", ".join(keys)
        blocks.append(f"""
              SELECT '{t}' AS table_name,
                     CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(count(DISTINCT ({tup})) FILTER (WHERE {nn})
                       AS BIGINT) AS n_keys,
                     CAST(count(*)
                          - sum(CASE WHEN {anynull} THEN 1 ELSE 0 END)
                          - count(DISTINCT ({tup})) FILTER (WHERE {nn})
                       AS BIGINT) AS dup_key_rows,
                     CAST(sum(CASE WHEN {anynull} THEN 1 ELSE 0 END)
                       AS BIGINT) AS null_key_rows
              FROM {t}""")
    return "\n              UNION ALL".join(blocks)


def oracles() -> dict[str, str]:
    return {
        "ta17_filter_attribution": f"""
            WITH base AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     {_TOKEN_COUNT} AS n_tokens,
                     len(list_filter({_TOKENS},
                         t -> list_contains({_STOPWORD_SETS['en']}, t))) AS sw_hits,
                     length(text) - length(regexp_replace(text,
                       '[\\.,;:!\\?''"()\\[\\]{{}}-]', '', 'g')) AS punct_chars,
                     length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                       AS digit_chars
              FROM documents
            ),
            flags AS (
              SELECT n_tokens,
                     n_tokens < 10 AS f_len_min,
                     n_tokens > 500 AS f_len_max,
                     (CASE WHEN n_tokens > 0
                           THEN CAST(sw_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                           ELSE 0.0 END) < 0.05 AS f_stopword,
                     (CASE WHEN n_chars > 0
                           THEN CAST(digit_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                           ELSE 0.0 END) > 0.2 AS f_digit,
                     (CASE WHEN n_chars > 0
                           THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                           ELSE 0.0 END) > 0.2 AS f_punct
              FROM base
            ),
            agg AS MATERIALIZED (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(CASE WHEN f_len_min THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                     CAST(sum(CASE WHEN f_len_min THEN n_tokens ELSE 0 END) AS BIGINT) AS t1,
                     CAST(sum(CASE WHEN f_len_max THEN 1 ELSE 0 END) AS BIGINT) AS f2,
                     CAST(sum(CASE WHEN f_len_max THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
                     CAST(sum(CASE WHEN f_stopword THEN 1 ELSE 0 END) AS BIGINT) AS f3,
                     CAST(sum(CASE WHEN f_stopword THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
                     CAST(sum(CASE WHEN f_digit THEN 1 ELSE 0 END) AS BIGINT) AS f4,
                     CAST(sum(CASE WHEN f_digit THEN n_tokens ELSE 0 END) AS BIGINT) AS t4,
                     CAST(sum(CASE WHEN f_punct THEN 1 ELSE 0 END) AS BIGINT) AS f5,
                     CAST(sum(CASE WHEN f_punct THEN n_tokens ELSE 0 END) AS BIGINT) AS t5,
                     CAST(sum(CASE WHEN f_len_min OR f_len_max OR f_stopword
                                   OR f_digit OR f_punct
                              THEN 1 ELSE 0 END) AS BIGINT) AS f6,
                     CAST(sum(CASE WHEN f_len_min OR f_len_max OR f_stopword
                                   OR f_digit OR f_punct
                              THEN n_tokens ELSE 0 END) AS BIGINT) AS t6
              FROM flags
            )
            SELECT rule, n_fail,
                   CAST(CASE WHEN n_docs = 0 THEN 0
                        ELSE (n_fail * 10000) // n_docs END AS BIGINT)
                     AS fail_share_bp,
                   tokens_lost
            FROM (
              SELECT 'len_min' AS rule, f1 AS n_fail, t1 AS tokens_lost, n_docs FROM agg
              UNION ALL SELECT 'len_max', f2, t2, n_docs FROM agg
              UNION ALL SELECT 'stopword', f3, t3, n_docs FROM agg
              UNION ALL SELECT 'digit', f4, t4, n_docs FROM agg
              UNION ALL SELECT 'punct', f5, t5, n_docs FROM agg
              UNION ALL SELECT 'any', f6, t6, n_docs FROM agg
            )
""",
        "geo3_grid_density_profile": """
            WITH
              pts AS MATERIALIZED (
                SELECT CAST(c_custkey % 89 AS INTEGER) AS px,
                       CAST(c_custkey % 97 AS INTEGER) AS py
                FROM customer
              ),
              g1 AS (
                WITH sizes AS (
                  SELECT px // 1 AS cx, py // 1 AS cy,
                         CAST(count(*) AS BIGINT) AS s
                  FROM pts GROUP BY 1, 2
                ),
                hist AS (
                  SELECT CAST(length(bin(s)) AS INTEGER) AS bucket,
                         CAST(count(*) AS BIGINT) AS n_cells,
                         CAST(sum(s) AS BIGINT) AS n_points,
                         CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
                  FROM sizes GROUP BY 1
                )
                SELECT 'g1' AS scheme, bucket, n_cells, n_points, cand_pairs,
                       CAST(CASE WHEN sum(cand_pairs) OVER () = 0 THEN 0
                            ELSE (cand_pairs * 10000)
                                 // (sum(cand_pairs) OVER ()) END
                         AS BIGINT) AS pair_share_bp
                FROM hist
              ),
              g4 AS (
                WITH sizes AS (
                  SELECT px // 4 AS cx, py // 4 AS cy,
                         CAST(count(*) AS BIGINT) AS s
                  FROM pts GROUP BY 1, 2
                ),
                hist AS (
                  SELECT CAST(length(bin(s)) AS INTEGER) AS bucket,
                         CAST(count(*) AS BIGINT) AS n_cells,
                         CAST(sum(s) AS BIGINT) AS n_points,
                         CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
                  FROM sizes GROUP BY 1
                )
                SELECT 'g4' AS scheme, bucket, n_cells, n_points, cand_pairs,
                       CAST(CASE WHEN sum(cand_pairs) OVER () = 0 THEN 0
                            ELSE (cand_pairs * 10000)
                                 // (sum(cand_pairs) OVER ()) END
                         AS BIGINT) AS pair_share_bp
                FROM hist
              ),
              g16 AS (
                WITH sizes AS (
                  SELECT px // 16 AS cx, py // 16 AS cy,
                         CAST(count(*) AS BIGINT) AS s
                  FROM pts GROUP BY 1, 2
                ),
                hist AS (
                  SELECT CAST(length(bin(s)) AS INTEGER) AS bucket,
                         CAST(count(*) AS BIGINT) AS n_cells,
                         CAST(sum(s) AS BIGINT) AS n_points,
                         CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
                  FROM sizes GROUP BY 1
                )
                SELECT 'g16' AS scheme, bucket, n_cells, n_points, cand_pairs,
                       CAST(CASE WHEN sum(cand_pairs) OVER () = 0 THEN 0
                            ELSE (cand_pairs * 10000)
                                 // (sum(cand_pairs) OVER ()) END
                         AS BIGINT) AS pair_share_bp
                FROM hist
              )
            SELECT * FROM g1
            UNION ALL SELECT * FROM g4
            UNION ALL SELECT * FROM g16
""",
        "er6_distance_threshold_curve": """
            WITH names AS (
              SELECT c_custkey AS id, c_name AS nm,
                     substring(c_name, 1, length(c_name) - 2)
                       || '#' || CAST(length(c_name) AS VARCHAR) AS blk
              FROM customer
            ),
            cand AS MATERIALIZED (
              SELECT levenshtein(l.nm, r.nm) AS lev
              FROM names l JOIN names r ON l.blk = r.blk AND l.id < r.id
            ),
            cells AS MATERIALIZED (
              SELECT CAST(count(*) AS BIGINT) AS n_candidates,
                     CAST(sum(CASE WHEN lev <= 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS np_1,
                     CAST(sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS np_2,
                     CAST(sum(CASE WHEN lev <= 3 THEN 1 ELSE 0 END)
                       AS BIGINT) AS np_3
              FROM cand
            )
            SELECT CAST(threshold AS INTEGER) AS threshold, n_pairs,
                   n_candidates,
                   CAST(CASE WHEN n_candidates = 0 THEN 0
                        ELSE (n_pairs * 10000) // n_candidates END
                     AS BIGINT) AS share_of_candidates_bp
            FROM (
              SELECT 1 AS threshold, np_1 AS n_pairs, n_candidates FROM cells
              UNION ALL SELECT 2, np_2, n_candidates FROM cells
              UNION ALL SELECT 3, np_3, n_candidates FROM cells
            )
""",
        "er5_block_size_profile": """
            WITH
              tail1 AS (
                WITH sizes AS (
                  SELECT substring(c_name, 1, length(c_name) - 1)
                           || '#' || CAST(length(c_name) AS VARCHAR) AS blk,
                         CAST(count(*) AS BIGINT) AS s
                  FROM customer GROUP BY 1
                ),
                hist AS (
                  SELECT CAST(length(bin(s)) AS INTEGER) AS bucket,
                         CAST(count(*) AS BIGINT) AS n_blocks,
                         CAST(sum(s) AS BIGINT) AS n_names,
                         CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
                  FROM sizes GROUP BY 1
                )
                SELECT 'tail1' AS scheme, bucket, n_blocks, n_names,
                       cand_pairs,
                       CAST(CASE WHEN sum(cand_pairs) OVER () = 0 THEN 0
                            ELSE (cand_pairs * 10000)
                                 // (sum(cand_pairs) OVER ()) END
                         AS BIGINT) AS pair_share_bp
                FROM hist
              ),
              tail2 AS (
                WITH sizes AS (
                  SELECT substring(c_name, 1, length(c_name) - 2)
                           || '#' || CAST(length(c_name) AS VARCHAR) AS blk,
                         CAST(count(*) AS BIGINT) AS s
                  FROM customer GROUP BY 1
                ),
                hist AS (
                  SELECT CAST(length(bin(s)) AS INTEGER) AS bucket,
                         CAST(count(*) AS BIGINT) AS n_blocks,
                         CAST(sum(s) AS BIGINT) AS n_names,
                         CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
                  FROM sizes GROUP BY 1
                )
                SELECT 'tail2' AS scheme, bucket, n_blocks, n_names,
                       cand_pairs,
                       CAST(CASE WHEN sum(cand_pairs) OVER () = 0 THEN 0
                            ELSE (cand_pairs * 10000)
                                 // (sum(cand_pairs) OVER ()) END
                         AS BIGINT) AS pair_share_bp
                FROM hist
              )
            SELECT * FROM tail1 UNION ALL SELECT * FROM tail2
""",
        "dq15_fk_fanout_profile": """
            WITH fo AS (
              SELECT l_orderkey AS o_orderkey,
                     CAST(count(*) AS BIGINT) AS fanout
              FROM lineitem GROUP BY 1
            ),
            dom AS (
              SELECT CAST(coalesce(fo.fanout, 0) AS BIGINT) AS fanout
              FROM orders o LEFT JOIN fo USING (o_orderkey)
            ),
            hist AS (
              SELECT fanout, CAST(count(*) AS BIGINT) AS n_orders
              FROM dom GROUP BY fanout
            )
            SELECT fanout, n_orders,
                   CAST((n_orders * 10000) // (sum(n_orders) OVER ())
                     AS BIGINT) AS share_bp
            FROM hist
""",
        "dq14_key_uniqueness": _dq14_oracle_sql(),
        "dq13_column_profile": """
            WITH cells AS (
              SELECT CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
                     CAST(count(DISTINCT event_id) AS BIGINT) AS nd_event_id,
                     CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
                     CAST(count(DISTINCT ts) AS BIGINT) AS nd_ts,
                     CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user_id,
                     CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
                     CAST(count(DISTINCT event_type) AS BIGINT) AS nd_event_type,
                     CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
                     CAST(count(DISTINCT value) AS BIGINT) AS nd_value,
                     CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
                     CAST(count(DISTINCT props) AS BIGINT) AS nd_props
              FROM events
            ),
            prof AS (
              SELECT 'event_id' AS col_name, n_rows, null_event_id AS n_null, nd_event_id AS n_distinct FROM cells
              UNION ALL SELECT 'ts' AS col_name, n_rows, null_ts AS n_null, nd_ts AS n_distinct FROM cells
              UNION ALL SELECT 'user_id' AS col_name, n_rows, null_user_id AS n_null, nd_user_id AS n_distinct FROM cells
              UNION ALL SELECT 'event_type' AS col_name, n_rows, null_event_type AS n_null, nd_event_type AS n_distinct FROM cells
              UNION ALL SELECT 'value' AS col_name, n_rows, null_value AS n_null, nd_value AS n_distinct FROM cells
              UNION ALL SELECT 'props' AS col_name, n_rows, null_props AS n_null, nd_props AS n_distinct FROM cells
            )
            SELECT col_name, n_rows, n_null,
                   CAST((n_null * 10000) // n_rows AS BIGINT) AS null_bp,
                   n_distinct
            FROM prof
""",
        "dq12_event_order_audit": """
            WITH t AS (
              SELECT user_id, epoch_us(ts) AS t,
                     max(epoch_us(ts)) OVER (PARTITION BY user_id
                       ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS rm
              FROM events
            ),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(CASE WHEN rm IS NOT NULL AND t < rm
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                     CAST(max(CASE WHEN rm IS NOT NULL AND t < rm
                              THEN rm - t ELSE 0 END) AS BIGINT)
                       AS max_late_us,
                     CAST(count(DISTINCT CASE WHEN rm IS NOT NULL AND t < rm
                              THEN user_id END) AS BIGINT)
                       AS n_users_affected
              FROM t
            )
            SELECT n_events, n_late,
                   CAST((n_late * 10000) // n_events AS BIGINT)
                     AS late_share_bp,
                   CAST(max_late_us // 1000000 AS BIGINT) AS max_lateness_s,
                   n_users_affected
            FROM s
""",
        "dq11_k_anonymity": """
            WITH g AS (
              SELECT c_nationkey, c_mktsegment, count(*) AS sz
              FROM customer GROUP BY 1, 2
            ),
            s AS (
              SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
                     CAST(count(*) AS BIGINT) AS n_groups,
                     CAST(min(sz) AS BIGINT) AS k_anonymity,
                     CAST(max(sz) AS BIGINT) AS max_group,
                     CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_singleton_groups,
                     CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
                       AS rows_below_k5
              FROM g
            )
            SELECT n_rows, n_groups, k_anonymity, max_group,
                   n_singleton_groups, rows_below_k5,
                   CAST((rows_below_k5 * 10000) // n_rows AS BIGINT)
                     AS risk_share_bp
            FROM s
""",
        "dq10_schema_drift": """
            WITH b AS (
              SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS cut,
                     CAST(count(*) AS BIGINT) AS rows2
              FROM events
            ),
            r1 AS (
              SELECT CAST(count(*) AS BIGINT) AS rows1
              FROM events, b WHERE epoch_us(ts) <= b.cut
            ),
            kv AS (
              SELECT epoch_us(ts) AS t, k AS key,
                     json_extract_string(props, '$.' || k) AS val
              FROM (
                SELECT ts, props, unnest(json_keys(props)) AS k FROM events
              )
            ),
            typed AS (
              SELECT t, key,
                     CASE WHEN val IS NULL THEN 'null'
                          WHEN regexp_full_match(val, '-?[0-9]+')
                            THEN 'int'
                          WHEN regexp_full_match(val, '-?[0-9]*\\.[0-9]+')
                            THEN 'float'
                          WHEN val IN ('true', 'false') THEN 'bool'
                          ELSE 'string' END AS ty,
                     CASE WHEN t <= b.cut THEN 1 ELSE 0 END AS in1
              FROM kv, b
            ),
            agg AS (
              SELECT key,
                     CAST(sum(in1) AS BIGINT) AS n1,
                     CAST(count(*) AS BIGINT) AS n2,
                     CAST(sum(CASE WHEN ty='int' THEN in1 ELSE 0 END) AS BIGINT) AS a_int,
                     CAST(sum(CASE WHEN ty='int' THEN 1 ELSE 0 END) AS BIGINT) AS b_int,
                     CAST(sum(CASE WHEN ty='float' THEN in1 ELSE 0 END) AS BIGINT) AS a_float,
                     CAST(sum(CASE WHEN ty='float' THEN 1 ELSE 0 END) AS BIGINT) AS b_float,
                     CAST(sum(CASE WHEN ty='bool' THEN in1 ELSE 0 END) AS BIGINT) AS a_bool,
                     CAST(sum(CASE WHEN ty='bool' THEN 1 ELSE 0 END) AS BIGINT) AS b_bool,
                     CAST(sum(CASE WHEN ty='null' THEN in1 ELSE 0 END) AS BIGINT) AS a_null,
                     CAST(sum(CASE WHEN ty='null' THEN 1 ELSE 0 END) AS BIGINT) AS b_null,
                     CAST(sum(CASE WHEN ty='string' THEN in1 ELSE 0 END) AS BIGINT) AS a_string,
                     CAST(sum(CASE WHEN ty='string' THEN 1 ELSE 0 END) AS BIGINT) AS b_string
              FROM typed GROUP BY key
            ),
            doms AS (
              SELECT key, n1, n2,
                     CASE WHEN n1 = 0 THEN NULL ELSE (
                       SELECT t FROM (
                         SELECT 'bool' AS t, a_bool AS c
                         UNION ALL SELECT 'float', a_float
                         UNION ALL SELECT 'int', a_int
                         UNION ALL SELECT 'null', a_null
                         UNION ALL SELECT 'string', a_string)
                       ORDER BY c DESC, t DESC LIMIT 1) END AS dominant_t1,
                     (SELECT t FROM (
                        SELECT 'bool' AS t, b_bool AS c
                        UNION ALL SELECT 'float', b_float
                        UNION ALL SELECT 'int', b_int
                        UNION ALL SELECT 'null', b_null
                        UNION ALL SELECT 'string', b_string)
                      ORDER BY c DESC, t DESC LIMIT 1) AS dominant_t2
              FROM agg
            )
            SELECT key,
                   CASE WHEN n1 = 0 THEN 'added'
                        WHEN dominant_t1 <> dominant_t2 THEN 'type_flip'
                        ELSE 'stable' END AS status,
                   n1 AS n_t1, n2 AS n_t2, dominant_t1, dominant_t2,
                   CAST((n2 * 10000) // rows2 - (n1 * 10000) // rows1
                     AS BIGINT) AS presence_drift_bp
            FROM doms, b, r1
        """,
        "er4_deletion_blocking": """
            WITH s AS (
              SELECT c_custkey AS k, c_name AS nm FROM customer
              WHERE c_custkey % 7 = 0 AND c_custkey < 20000
            ),
            truth AS (
              SELECT count(*) AS true_pairs
              FROM s a JOIN s b ON a.k < b.k
              WHERE levenshtein(a.nm, b.nm) <= 1
            ),
            pre AS (
              SELECT count(*) AS prefix_pairs
              FROM (SELECT k, nm,
                      substring(nm, 1, length(nm) - 1)
                        || '#' || CAST(length(nm) AS VARCHAR) AS blk
                    FROM s) a
              JOIN (SELECT k, nm,
                      substring(nm, 1, length(nm) - 1)
                        || '#' || CAST(length(nm) AS VARCHAR) AS blk
                    FROM s) b
                ON a.blk = b.blk AND a.k < b.k
              WHERE levenshtein(a.nm, b.nm) <= 1
            ),
            var AS (
              SELECT k, nm,
                     CASE WHEN p = 0 THEN nm
                          ELSE substring(nm, 1, length(nm) - p)
                               || substring(nm, length(nm) - p + 2, p - 1)
                     END AS v
              FROM s, unnest(generate_series(0, 6)) AS t(p)
              WHERE length(nm) >= p
            ),
            dels AS (
              SELECT count(*) AS deletion_pairs FROM (
                SELECT DISTINCT a.k AS ka, b.k AS kb, a.nm AS na, b.nm AS nb
                FROM var a JOIN var b ON a.v = b.v AND a.k < b.k
              ) WHERE levenshtein(na, nb) <= 1
            ),
            n AS (SELECT count(*) AS n_sampled FROM s)
            SELECT CAST(n_sampled AS BIGINT) AS n_sampled,
                   CAST(true_pairs AS BIGINT) AS true_pairs,
                   CAST(prefix_pairs AS BIGINT) AS prefix_pairs,
                   CAST(deletion_pairs AS BIGINT) AS deletion_pairs,
                   CAST(CASE WHEN true_pairs = 0 THEN 10000
                        ELSE (prefix_pairs * 10000) // true_pairs
                        END AS BIGINT) AS recall_prefix_bp,
                   CAST(CASE WHEN true_pairs = 0 THEN 10000
                        ELSE (deletion_pairs * 10000) // true_pairs
                        END AS BIGINT) AS recall_deletion_bp
            FROM n, truth, pre, dels
""",
        "er2_blocking_recall": """
            WITH s AS (
              SELECT c_custkey AS k, c_name AS nm FROM customer
              WHERE c_custkey % 7 = 0 AND c_custkey < 20000
            ),
            truth AS (
              SELECT count(*) AS true_pairs
              FROM s a JOIN s b ON a.k < b.k
              WHERE levenshtein(a.nm, b.nm) <= 1
            ),
            blocked AS (
              SELECT count(*) AS blocked_pairs
              FROM (
                SELECT a.k
                FROM (SELECT k, nm,
                        substring(nm, 1, length(nm) - 1)
                          || '#' || CAST(length(nm) AS VARCHAR) AS blk
                      FROM s) a
                JOIN (SELECT k, nm,
                        substring(nm, 1, length(nm) - 1)
                          || '#' || CAST(length(nm) AS VARCHAR) AS blk
                      FROM s) b
                  ON a.blk = b.blk AND a.k < b.k
                WHERE levenshtein(a.nm, b.nm) <= 1
              )
            ),
            n AS (SELECT count(*) AS n_sampled FROM s)
            SELECT CAST(n_sampled AS BIGINT) AS n_sampled,
                   CAST(true_pairs AS BIGINT) AS true_pairs,
                   CAST(blocked_pairs AS BIGINT) AS blocked_pairs,
                   CAST(CASE WHEN true_pairs = 0 THEN 10000
                        ELSE (blocked_pairs * 10000) // true_pairs
                        END AS BIGINT) AS recall_bp
            FROM n, truth, blocked
""",
        "dq9_reconciliation": """
            WITH lsum AS (
              SELECT l_orderkey,
                     CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS line_cents
              FROM lineitem GROUP BY 1
            ),
            j AS (
              SELECT CAST(floor(o.o_totalprice * 100) AS BIGINT) AS o_cents,
                     l.line_cents
              FROM orders o LEFT JOIN lsum l ON o.o_orderkey = l.l_orderkey
            )
            SELECT CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CASE WHEN line_cents IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_no_lines,
                   CAST(sum(CASE WHEN abs(o_cents - line_cents) = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
                   CAST(sum(CASE WHEN abs(o_cents - line_cents) > 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
                   CAST(max(abs(o_cents - line_cents)) AS BIGINT)
                     AS max_abs_diff_cents,
                   CAST(sum(abs(o_cents - line_cents)) AS BIGINT)
                     AS total_abs_diff_cents
            FROM j
""",
        "dq8_benford": """
            WITH dig AS (
              SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100)
                                       AS BIGINT) AS VARCHAR), 1, 1)
                          AS INT) AS digit
              FROM lineitem
            ),
            counts AS (
              SELECT digit, count(*) AS n FROM dig
              WHERE digit >= 1 GROUP BY 1
            ),
            tot AS (SELECT sum(n) AS t FROM counts),
            exp_bp AS (
              SELECT * FROM (VALUES
                (1, 3010), (2, 1760), (3, 1249), (4, 969), (5, 791),
                (6, 669), (7, 579), (8, 511), (9, 457)
              ) AS v(digit, benford_bp)
            )
            SELECT c.digit,
                   CAST(c.n AS BIGINT) AS n,
                   CAST((c.n * 10000) // t.t AS BIGINT) AS share_bp,
                   CAST(e.benford_bp AS BIGINT) AS benford_bp,
                   CAST(abs((c.n * 10000) // t.t - e.benford_bp)
                        AS BIGINT) AS abs_dev_bp
            FROM counts c, tot t
            JOIN exp_bp e ON e.digit = c.digit
""",
        "dq7_ks_drift": _KS_DRIFT_SQL,
        "dq6_token_drift": f"""
            WITH words AS (
              SELECT source, arr[i] AS w
              FROM (SELECT source, {_TOKENS} AS arr FROM documents),
                   unnest(generate_series(1, len(arr))) AS s(i)
              WHERE length(arr[i]) >= 1
            ),
            ost AS (SELECT source, w, count(*) AS o
                    FROM words GROUP BY 1, 2),
            ct AS (SELECT w, SUM(o) AS c FROM ost GROUP BY 1),
            ns AS (SELECT source, SUM(o) AS n_s FROM ost GROUP BY 1),
            tot AS (SELECT SUM(c) AS n FROM ct),
            terms AS (
              SELECT ost.source,
                     SUM(abs(CAST(ost.o AS HUGEINT) * tot.n
                             - CAST(ct.c AS HUGEINT) * ns.n_s))
                       AS present,
                     SUM(ct.c) AS c_s
              FROM ost JOIN ct USING (w) JOIN ns USING (source), tot
              GROUP BY 1
            )
            SELECT terms.source,
                   CAST(ns.n_s AS BIGINT) AS n_tokens,
                   CAST((
                     (terms.present
                      + CAST(ns.n_s AS HUGEINT) * (tot.n - terms.c_s))
                     * 10000
                   ) // (2 * CAST(ns.n_s AS HUGEINT) * tot.n)
                   AS BIGINT) AS drift_bp
            FROM terms JOIN ns USING (source), tot
""",
        "dq5_ri_audit": """
                    WITH e1 AS (
                      SELECT count(*) AS n,
                             count(*) FILTER (o_orderkey IS NULL) AS orph
                      FROM lineitem l LEFT JOIN (
                        SELECT DISTINCT o_orderkey FROM orders
                      ) o ON l.l_orderkey = o.o_orderkey
                    ),
                    e2 AS (
                      SELECT count(*) AS n,
                             count(*) FILTER (c_custkey IS NULL) AS orph
                      FROM orders r LEFT JOIN (
                        SELECT DISTINCT c_custkey FROM customer
                      ) c ON r.o_custkey = c.c_custkey
                    ),
                    e3 AS (
                      SELECT count(*) AS n,
                             count(*) FILTER (ck IS NULL) AS orph
                      FROM events v LEFT JOIN (
                        SELECT DISTINCT CAST(c_custkey AS BIGINT) AS ck
                        FROM customer
                      ) c ON v.user_id = c.ck
                    )
                    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
                           CAST(n AS BIGINT) AS n_child_rows,
                           CAST(orph AS BIGINT) AS n_orphans,
                           CAST(orph * 10000 // n AS BIGINT) AS orphan_rate_bp
                    FROM e1
                    UNION ALL
                    SELECT 'orders.o_custkey->customer',
                           CAST(n AS BIGINT), CAST(orph AS BIGINT),
                           CAST(orph * 10000 // n AS BIGINT) FROM e2
                    UNION ALL
                    SELECT 'events.user_id->customer',
                           CAST(n AS BIGINT), CAST(orph AS BIGINT),
                           CAST(orph * 10000 // n AS BIGINT) FROM e3
                """,
        "dq4_fd_audit": """
                    WITH pair AS (
                      SELECT source, lang, count(*) AS c
                      FROM documents GROUP BY source, lang
                    )
                    SELECT source,
                           CAST(sum(c) AS BIGINT) AS n_rows,
                           CAST(count(*) AS BIGINT) AS n_distinct_rhs,
                           first(lang ORDER BY c DESC, lang) AS majority_rhs,
                           CAST(sum(c) - max(c) AS BIGINT) AS n_violations
                    FROM pair GROUP BY source
                """,
        "dq1_constraint_audit": """
                    SELECT 'orders_pk_dup' AS check_name,
                           count(*) - count(DISTINCT o_orderkey) AS violations
                    FROM orders
                    UNION ALL
                    SELECT 'orders_null_cust', count(*) FROM orders
                    WHERE o_custkey IS NULL
                    UNION ALL
                    SELECT 'li_qty_range', count(*) FROM lineitem
                    WHERE l_quantity < 1 OR l_quantity > 50
                    UNION ALL
                    SELECT 'li_discount_range', count(*) FROM lineitem
                    WHERE l_discount < 0 OR l_discount > 1
                    UNION ALL
                    SELECT 'li_orphan', count(*) FROM lineitem
                    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
                    UNION ALL
                    SELECT 'li_ship_before_order', count(*)
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    WHERE CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE)
                """,
        "dq2_profile": """
                    SELECT 'o_orderkey' AS column_name,
                           count(*) - count(o_orderkey) AS n_nulls,
                           count(DISTINCT o_orderkey) AS n_distinct FROM orders
                    UNION ALL
                    SELECT 'o_custkey', count(*) - count(o_custkey),
                           count(DISTINCT o_custkey) FROM orders
                    UNION ALL
                    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
                           count(DISTINCT o_orderstatus) FROM orders
                    UNION ALL
                    SELECT 'o_totalprice', count(*) - count(o_totalprice),
                           count(DISTINCT o_totalprice) FROM orders
                    UNION ALL
                    SELECT 'o_orderdate', count(*) - count(o_orderdate),
                           count(DISTINCT o_orderdate) FROM orders
                    UNION ALL
                    SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
                           count(DISTINCT o_orderpriority) FROM orders
                """,
        "dq3_volume_anomaly": """
                    WITH daily AS (
                      SELECT CAST(ts AS DATE) AS day, count(*) AS n
                      FROM events GROUP BY 1
                    ),
                    med AS (SELECT quantile_cont(n, 0.5) AS med FROM daily),
                    mad AS (
                      SELECT any_value(m.med) AS med,
                             quantile_cont(abs(d.n - m.med), 0.5) AS mad
                      FROM daily d, med m
                    )
                    SELECT d.day, CAST(d.n AS BIGINT) AS n,
                           CAST(CASE WHEN abs(CAST(d.n AS DOUBLE) - m.med)
                                          > 3.0 * m.mad
                                     THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
                    FROM daily d, mad m
                """,
        "geo2_grid_knn": """
                    WITH pts AS (
                      SELECT c_custkey AS pid,
                             CAST(c_custkey % 89 AS INTEGER) AS px,
                             CAST(c_custkey % 97 AS INTEGER) AS py
                      FROM customer
                    ),
                    cand AS (
                      SELECT a.pid, b.pid AS nn_id,
                             CAST((a.px - b.px) * (a.px - b.px)
                                  + (a.py - b.py) * (a.py - b.py) AS BIGINT) AS d2
                      FROM pts a JOIN pts b
                        ON abs(a.px - b.px) <= 2 AND abs(a.py - b.py) <= 2
                       AND a.pid <> b.pid
                    )
                    SELECT pid, nn_id, d2 FROM (
                      SELECT pid, nn_id, d2,
                             row_number() OVER (PARTITION BY pid
                                                ORDER BY d2, nn_id) AS rn
                      FROM cand
                    ) WHERE rn = 1
                """,
        "geo1_grid_join": """
                    WITH pts AS (
                      SELECT c_custkey AS pid,
                             CAST(c_custkey % 89 AS INTEGER) AS px,
                             CAST(c_custkey % 97 AS INTEGER) AS py
                      FROM customer
                    )
                    SELECT a.pid AS id_a, b.pid AS id_b,
                           b.px - a.px AS dx, b.py - a.py AS dy
                    FROM pts a, pts b
                    WHERE a.pid < b.pid
                      AND abs(a.px - b.px) <= 1 AND abs(a.py - b.py) <= 1
                """,
        "fuzzy1_name_pairs": """
                    WITH blocked AS (
                      SELECT c_custkey AS id, c_name AS name,
                             substring(c_name, 1, length(c_name) - 1)
                               || '#' || CAST(length(c_name) AS VARCHAR) AS block
                      FROM customer
                    )
                    SELECT a.id AS id_a, b.id AS id_b,
                           CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
                    FROM blocked a JOIN blocked b USING (block)
                    WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 1
                """,
        "er3_cluster_cohesion": """
                    WITH RECURSIVE blocked AS (
                      SELECT c_custkey AS id, c_name AS name,
                             substring(c_name, 1, length(c_name) - 2)
                               || '#' || CAST(length(c_name) AS VARCHAR)
                               AS block
                      FROM customer
                    ),
                    pairs AS (
                      SELECT a.id AS a, b.id AS b
                      FROM blocked a JOIN blocked b USING (block)
                      WHERE a.id < b.id
                        AND levenshtein(a.name, b.name) <= 1
                    ),
                    edges AS (
                      SELECT a, b FROM pairs
                      UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label
                      FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (
                      SELECT node, min(label) AS cluster_id
                      FROM reach GROUP BY node
                    ),
                    mem AS (
                      SELECT cc.cluster_id, cc.node, c.c_name AS nm
                      FROM cc JOIN customer c ON c.c_custkey = cc.node
                    ),
                    intra AS (
                      SELECT a.nm AS na, b.nm AS nb
                      FROM mem a JOIN mem b
                        ON a.cluster_id = b.cluster_id AND a.node < b.node
                    )
                    SELECT CAST(count(*) AS BIGINT) AS intra_pairs,
                           CAST(sum(CASE WHEN levenshtein(na, nb) <= 1
                                    THEN 1 ELSE 0 END) AS BIGINT)
                             AS direct_pairs,
                           CAST(CASE WHEN count(*) = 0 THEN 10000
                                ELSE (sum(CASE WHEN levenshtein(na, nb) <= 1
                                          THEN 1 ELSE 0 END) * 10000)
                                     // count(*) END AS BIGINT)
                             AS cohesion_bp
                    FROM intra
                """,
        "er1_entity_clusters": """
                    WITH RECURSIVE blocked AS (
                      SELECT c_custkey AS id, c_name AS name,
                             substring(c_name, 1, length(c_name) - 1)
                               || '#' || CAST(length(c_name) AS VARCHAR) AS block
                      FROM customer
                    ),
                    pairs AS (
                      SELECT a.id AS a, b.id AS b
                      FROM blocked a JOIN blocked b USING (block)
                      WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 1
                    ),
                    edges AS (
                      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label
                      FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (
                      SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
                    ),
                    members AS (
                      SELECT coalesce(cc.cluster_id, c.c_custkey) AS entity_id
                      FROM customer c LEFT JOIN cc ON c.c_custkey = cc.node
                    )
                    SELECT m.entity_id, CAST(count(*) AS INTEGER) AS n_members,
                           any_value(k.c_name) AS canonical_name
                    FROM members m JOIN customer k ON k.c_custkey = m.entity_id
                    GROUP BY m.entity_id
                """,
    }
