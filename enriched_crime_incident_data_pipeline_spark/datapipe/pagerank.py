"""PageRank-style link authority over a distributed edge relation.

Corpus curation pipelines weight web documents by link authority
(Common Crawl publishes harmonic/PageRank centrality per host and
crawl-frontier schedulers prioritize by it), and the reference's
scrape layer is exactly a link graph: report pages -> PDF links
(``/root/reference/src/scrape/normanpd.py`` discovers edges, the URL
table dedups nodes). This module is the general primitive: given an
``(src, dst)`` edge DataFrame, compute the damped power-iteration
rank of every node.

Semantics follow the public GraphX ``staticPageRank`` formulation
(unnormalized, no dangling-mass redistribution)::

    rank_0(v)   = 1.0
    rank_k+1(v) = alpha + (1 - alpha) * sum_{(u,v) in E} rank_k(u) / outdeg(u)

with ``alpha = 0.15``. Each iteration is one id-keyed join (ranks
onto edges) plus one groupBy on ``dst`` — cost per round is
O(|E| + |V|) shuffle rows with NO growth across rounds, and the
iteration count is a fixed small constant, so the operator has the
same bounded-rounds scale shape as ``clusters.connected_components``.
The weighted edge relation (edges + out-degrees) is computed once and
pinned with an eager ``localCheckpoint`` so the per-round plan never
re-derives it and lineage stays flat.

Two summation modes:

- ``ordered=False`` (production default): plain ``F.sum`` — map-side
  combinable, skew-tolerant (a node with 10^8 in-links partial-
  aggregates), but float addition order is partition-dependent, so
  results are reproducible only to ~1 ulp per add.
- ``ordered=True`` (reproducible mode, what the oracle-twinned
  registry query uses): per-node contributions are collected, sorted
  by source id, and folded sequentially, giving bit-identical
  doubles across engines and partitionings — the same
  position-ordered-fold contract as ``datapipe.lm``. The collect
  bounds per-node memory by in-degree, so this mode is for graphs
  whose max in-degree is task-sized (dedup graphs, curated citation
  sets); at web scale use the default and accept ulp jitter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
    DRIVER_GRAPH_EDGES,
)
from enriched_crime_incident_data_pipeline_spark.session import local_frame

ALPHA = 0.15


def _pin(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _pagerank_local(
    head,
    iters: int,
    alpha: float,
    tol: float | None,
    dangling: bool,
    n_nodes: int | None,
    stats: dict | None,
    members: set,
):
    """Driver-resident power iteration — float-for-float the ordered
    distributed recurrence: per-dst contributions fold in ascending
    src order (the ``ordered=True`` contract), and the update is the
    identical ``alpha + (1-alpha) * incoming`` double expression.
    The distributed iterate keys rank state on ``nodes`` every round
    (the left join rebuilds it), so endpoints OUTSIDE the node set
    never hold rank and never contribute — ``members`` (endpoints
    verified present in ``nodes``) restricts the driver state the
    same way (r6, ADVICE). Nodes outside the edge set share one
    trajectory (``bg``): 1.0, then ``alpha`` (+ the dangling teleport
    when enabled) — tracked as a scalar, never enumerated, so the
    driver holds O(|E|) state no matter how many nodes the graph
    has. Returns ``(endpoint_ranks: dict, bg: float, rounds: int)``."""
    edges = [(r[0], r[1]) for r in head]
    outdeg: dict = {}
    for u, _ in edges:
        # out-degree counts EVERY edge (matching the distributed
        # groupBy over the raw edge relation), including edges whose
        # dst is outside the node set
        outdeg[u] = outdeg.get(u, 0) + 1
    endpoints = sorted(
        ({u for u, _ in edges} | {v for _, v in edges}) & members
    )
    in_lists: dict = {}
    for u, v in edges:
        if u in members and v in members:
            in_lists.setdefault(v, []).append(u)
    for v in in_lists:
        in_lists[v].sort()
    dang_ep = [k for k in endpoints if k not in outdeg]
    n_bg = (n_nodes - len(endpoints)) if n_nodes is not None else 0
    ranks = {k: 1.0 for k in endpoints}
    bg = 1.0
    rounds = 0
    for _ in range(iters):
        prev, prev_bg = ranks, bg
        add = 0.0
        if dangling:
            dmass = 0.0
            for k in dang_ep:
                dmass += prev[k]
            dmass += n_bg * prev_bg
            add = dmass / n_nodes
        new = {}
        for k in endpoints:
            s = 0.0
            for u in in_lists.get(k, ()):
                s += prev[u] / float(outdeg[u])
            new[k] = alpha + (1.0 - alpha) * (s + add)
        bg = alpha + (1.0 - alpha) * add
        ranks = new
        rounds += 1
        if tol is not None:
            delta = 0.0
            for k in endpoints:
                d = abs(ranks[k] - prev[k])
                if d > delta:
                    delta = d
            if n_bg > 0:
                d = abs(bg - prev_bg)
                if d > delta:
                    delta = d
            if delta <= tol:
                break
    if stats is not None:
        stats["rounds"] = rounds
        stats["tier"] = "driver"
    return ranks, bg, rounds


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 5,
    alpha: float = ALPHA,
    ordered: bool = False,
    tol: float | None = None,
    dangling: bool = False,
    stats: dict | None = None,
    driver_graph_edges: int = DRIVER_GRAPH_EDGES,
    nodes_cover_edges: bool = False,
) -> DataFrame:
    """``(id, rank)`` for every node after ``iters`` damped rounds.

    ``nodes_cover_edges`` (r7): caller contract that every edge
    endpoint appears in ``nodes``. When the graph is BUILT that way
    (the registry call sites: ``nodes`` = all doc_ids and edges are
    pairs of doc_ids), the driver tier's node-membership probe —
    one broadcast semi-join + collect per call, measured +0.33-0.37 s
    at sf0.1 in the r7 interleaved A/B — proves a fact the caller
    already knows, so ``True`` skips it (``members`` = all
    endpoints). Callers that cannot guarantee coverage keep the
    default and pay the probe; results are identical either way
    whenever the contract holds (property-pinned).

    ``edges`` must have columns ``src``/``dst`` (duplicate edges
    count twice, matching multigraph semantics); ``nodes`` one
    column ``id`` covering at least every endpoint. Nodes with no
    in-links converge to ``alpha``.

    ``tol`` (r5): convergence early exit — after each round, one
    scalar action computes ``max |rank_k+1 − rank_k|`` over the two
    pinned iterates (a |V|-row id join, the same cheap-scalar shape
    as CC's ``sum(label)`` probe) and the loop stops once it is
    ≤ ``tol``. ``tol=0.0`` exits only at a bit-exact fixpoint, so the
    result is IDENTICAL to running all ``iters`` rounds — the safe
    setting under an unrolled-SQL oracle. DAGs reach that fixpoint in
    depth+1 rounds (rank mass only flows downward), which is where
    the early exit actually fires; cyclic graphs converge
    geometrically and should use a small positive ``tol`` when ulp
    drift is acceptable. Pass ``stats={}`` to read back
    ``stats["rounds"]``.

    ``dangling`` (r5): redistribute dangling mass — nodes with no
    out-links leak their rank in the GraphX-style unnormalized
    variant (the default here, matching the gr1 oracle); with
    ``dangling=True`` each round adds ``Σ_dangling rank(u) / N`` to
    every node's incoming sum (the classic random-surfer teleport
    from dangling nodes). The dangling rank sum is one scalar
    aggregate per round over the pinned iterate restricted to the
    (pinned once) dangling id set — never a join of the full graph.
    """
    # driver tier (r5, the connected_components move): link graphs
    # after near-dup banding are tiny even on a 100 TB corpus, so one
    # partition-incremental take both decides the strategy and
    # delivers the edges; the iteration runs at the driver with the
    # ORDERED fold semantics (sorted-src sequential double adds — a
    # strict subset of both modes' contracts) and O(|E|) driver
    # state, replacing per-round join+agg+checkpoint jobs with one
    # broadcast map join. Graphs past the cap keep the distributed
    # plan. driver_graph_edges=0 forces the distributed path.
    if driver_graph_edges > 0:
        head = edges.select("src", "dst").take(driver_graph_edges + 1)
        if len(head) <= driver_graph_edges:
            from pyspark.sql.types import DoubleType, StructField, StructType

            node_t = nodes.schema[0].dataType
            # rank state lives on `nodes` in the distributed iterate,
            # so the driver tier needs endpoint ∈ nodes membership to
            # match it exactly (r6, ADVICE). r7: the probe is skipped
            # when the caller guarantees coverage, and otherwise FUSES
            # with the n_nodes count when that count is needed anyway
            # (dangling/tol) — one column-pruned scan of nodes either
            # way, with the collect bounded by the ≤2·cap endpoint
            # count, never |nodes|.
            eps = sorted({r[0] for r in head} | {r[1] for r in head})
            need_n = dangling or tol is not None
            n_nodes_i: int | None = None
            members: set = set()
            if nodes_cover_edges:
                members = set(eps)
                if need_n:
                    n_nodes_i = nodes.count()
            elif eps:
                ep_df = local_frame(
                    edges.sparkSession,
                    [(x,) for x in eps],
                    StructType([StructField("id", node_t)]),
                )
                if need_n:
                    # one job returns BOTH scalars: left-mark nodes
                    # against the broadcast endpoints, aggregate
                    # count(*) + the marked-id list (≤ |eps| entries)
                    row = (
                        nodes.select("id")
                        .join(
                            F.broadcast(
                                ep_df.withColumn("_m", F.lit(1))
                            ),
                            "id",
                            "left",
                        )
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.collect_list(
                                F.when(F.col("_m") == 1, F.col("id"))
                            ).alias("mem"),
                        )
                        .collect()[0]
                    )
                    n_nodes_i = row["n"]
                    members = set(row["mem"])
                else:
                    members = {
                        r[0]
                        for r in nodes.select("id")
                        .join(F.broadcast(ep_df), "id", "leftsemi")
                        .collect()
                    }
            elif need_n:
                n_nodes_i = nodes.count()
            ranks_d, bg, _ = _pagerank_local(
                head, iters, alpha, tol, dangling, n_nodes_i, stats, members
            )
            local = local_frame(
                edges.sparkSession,
                sorted(ranks_d.items()),
                StructType(
                    [
                        StructField("id", node_t),
                        StructField("_r", DoubleType()),
                    ]
                ),
            )
            return (
                nodes.select("id")
                .join(F.broadcast(local), "id", "left")
                .select(
                    "id", F.coalesce("_r", F.lit(bg)).alias("rank")
                )
            )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    weighted = _pin(
        edges.join(deg, "src").select(
            "src", "dst", F.col("outdeg").cast("double").alias("outdeg")
        )
    )
    if dangling:
        dang = _pin(
            nodes.join(
                weighted.select("src").distinct(),
                nodes["id"] == F.col("src"),
                "left_anti",
            ).select("id")
        )
        n_nodes = float(nodes.count())
    ranks = nodes.select("id", F.lit(1.0).alias("rank"))
    rounds = 0
    for _ in range(iters):
        prev = ranks
        contribs = weighted.join(
            ranks, weighted["src"] == ranks["id"]
        ).select(
            "dst", "src", (F.col("rank") / F.col("outdeg")).alias("c")
        )
        if ordered:
            summed = contribs.groupBy("dst").agg(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("src"), F.col("c")))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ).alias("s")
            )
        else:
            summed = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        incoming = F.coalesce(F.col("s"), F.lit(0.0))
        if dangling:
            dmass = (
                ranks.join(dang, "id").agg(F.sum("rank")).first()[0] or 0.0
            )
            incoming = incoming + F.lit(dmass / n_nodes)
        ranks = _pin(
            nodes.join(summed, nodes["id"] == summed["dst"], "left").select(
                "id",
                (F.lit(alpha) + F.lit(1.0 - alpha) * incoming).alias("rank"),
            )
        )
        rounds += 1
        if tol is not None:
            delta = (
                ranks.join(
                    prev.select(
                        F.col("id").alias("_pid"),
                        F.col("rank").alias("_prev"),
                    ),
                    ranks["id"] == F.col("_pid"),
                )
                .agg(F.max(F.abs(F.col("rank") - F.col("_prev"))))
                .first()[0]
            )
            if delta is not None and delta <= tol:
                break
    if stats is not None:
        stats["rounds"] = rounds
    return ranks


def _ppr_local(head, iters: int, alpha: float, members: set, seeds: set):
    """Driver-resident personalized power iteration — float-for-float
    the distributed recurrence below: ``r_0(v) = 1_S(v)``,
    ``r_{k+1}(v) = alpha·1_S(v) + (1-alpha)·incoming`` with the
    ordered (ascending-src) contribution fold. Out-of-edge background
    splits into TWO scalar trajectories: non-seed background is 0.0
    forever (teleport 0, no in-edges), seed background is 1.0 then
    constant ``alpha`` from round 1. Returns
    ``(endpoint_ranks, seed_bg, nonseed_bg)``."""
    edges = [(r[0], r[1]) for r in head]
    outdeg: dict = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    endpoints = sorted(
        ({u for u, _ in edges} | {v for _, v in edges}) & members
    )
    in_lists: dict = {}
    for u, v in edges:
        if u in members and v in members:
            in_lists.setdefault(v, []).append(u)
    for v in in_lists:
        in_lists[v].sort()
    ranks = {k: (1.0 if k in seeds else 0.0) for k in endpoints}
    seed_bg = 1.0
    for _ in range(iters):
        prev = ranks
        new = {}
        for k in endpoints:
            s = 0.0
            for u in in_lists.get(k, ()):
                s += prev[u] / float(outdeg[u])
            base = alpha if k in seeds else 0.0
            new[k] = base + (1.0 - alpha) * s
        seed_bg = alpha
        ranks = new
    return ranks, seed_bg, 0.0


def personalized_pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    alpha: float = ALPHA,
    ordered: bool = False,
    driver_graph_edges: int = DRIVER_GRAPH_EDGES,
    nodes_cover_edges: bool = False,
) -> DataFrame:
    """``(id, rank)`` — PageRank personalized to a seed set (random
    walks restart at SEEDS, not uniformly): ``r_0 = 1_S`` and
    ``r_{k+1}(v) = alpha·1_S(v) + (1-alpha)·Σ_{u→v} r_k(u)/out(u)``
    — the crawl-frontier/seed-expansion scorer (rank mass measures
    proximity to the seeds through the link structure; nodes
    unreachable from seeds score exactly 0). The unnormalized analog
    of gr1's variant: same damped update, the teleport constant
    restricted to seeds.

    ``seeds`` is a 1-column ``id`` relation and is broadcast — seed
    sets are small by construction (crawl seeds, trusted domains).
    Driver tier under the shared take cap (bounded extra probe: seed
    membership of the ≤2·cap endpoints rides one broadcast semi-join
    against ``seeds``, not a scan of anything corpus-sized);
    distributed tier pins a per-node seed flag once and reuses it
    every round. ``ordered=True`` uses the ascending-src fold — the
    bit-exact cross-engine mode (the gr1 contract). ``dangling`` and
    ``tol`` are deliberately not offered here: dangling teleport
    interacts with personalization (mass restarts at seeds) and is a
    different operator."""
    e_proj = edges.select("src", "dst")
    node_t = nodes.schema[0].dataType
    seed_ids = seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
    if driver_graph_edges > 0:
        head = e_proj.take(driver_graph_edges + 1)
        if len(head) <= driver_graph_edges:
            from pyspark.sql.types import DoubleType, StructField, StructType

            eps = sorted({r[0] for r in head} | {r[1] for r in head})
            members: set = set(eps)
            ep_df = None
            if eps:
                ep_df = local_frame(
                    edges.sparkSession,
                    [(x,) for x in eps],
                    StructType([StructField("id", node_t)]),
                )
            if not nodes_cover_edges and ep_df is not None:
                members = {
                    r[0]
                    for r in nodes.select("id")
                    .join(F.broadcast(ep_df), "id", "leftsemi")
                    .collect()
                }
            seed_eps: set = set()
            if ep_df is not None:
                seed_eps = {
                    r[0]
                    for r in seed_ids.join(
                        F.broadcast(ep_df), "id", "leftsemi"
                    ).collect()
                }
            ranks_d, seed_bg, nonseed_bg = _ppr_local(
                head, iters, alpha, members, seed_eps
            )
            local = local_frame(
                edges.sparkSession,
                sorted(ranks_d.items()),
                StructType(
                    [
                        StructField("id", node_t),
                        StructField("_r", DoubleType()),
                    ]
                ),
            )
            return (
                nodes.select("id")
                .join(
                    F.broadcast(seed_ids.withColumn("_s", F.lit(1))),
                    "id",
                    "left",
                )
                .join(F.broadcast(local), "id", "left")
                .select(
                    "id",
                    F.coalesce(
                        "_r",
                        F.when(F.col("_s") == 1, F.lit(seed_bg)).otherwise(
                            F.lit(nonseed_bg)
                        ),
                    ).alias("rank"),
                )
            )
    deg = e_proj.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    weighted = _pin(
        e_proj.join(deg, "src").select(
            "src", "dst", F.col("outdeg").cast("double").alias("outdeg")
        )
    )
    flags = _pin(
        nodes.select("id")
        .join(
            F.broadcast(seed_ids.withColumn("_s", F.lit(1))), "id", "left"
        )
        .select("id", F.coalesce("_s", F.lit(0)).alias("_s"))
    )
    ranks = flags.select(
        "id", F.col("_s").cast("double").alias("rank")
    )
    for _ in range(iters):
        contribs = weighted.join(
            ranks, weighted["src"] == ranks["id"]
        ).select(
            "dst", "src", (F.col("rank") / F.col("outdeg")).alias("c")
        )
        if ordered:
            summed = contribs.groupBy("dst").agg(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("src"), F.col("c")))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ).alias("s")
            )
        else:
            summed = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        incoming = F.coalesce(F.col("s"), F.lit(0.0))
        ranks = _pin(
            flags.join(summed, flags["id"] == summed["dst"], "left").select(
                "id",
                (
                    F.lit(alpha) * F.col("_s").cast("double")
                    + F.lit(1.0 - alpha) * incoming
                ).alias("rank"),
            )
        )
    return ranks
