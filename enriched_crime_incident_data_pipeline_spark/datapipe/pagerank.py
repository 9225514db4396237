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
from pyspark.sql.types import DoubleType, StructField

from enriched_crime_incident_data_pipeline_spark.datapipe.graph_tier import (
    DRIVER_GRAPH_EDGES,
    _fetch_edges,
    _node_keyed,
    _probe,
)

ALPHA = 0.15


def _power_local(
    head,
    iters: int,
    alpha: float,
    members: set,
    seeds: set | None = None,
    tol: float | None = None,
    dangling: bool = False,
    n_nodes: int | None = None,
):
    """Driver-resident power iteration — float-for-float the ordered
    distributed tier of :func:`_power_iteration`: per-dst
    contributions fold in ascending src order (the ``ordered=True``
    contract), and the update is the identical
    ``t(v) + (1-alpha) * incoming`` double expression. The teleport is
    ``t(v) = alpha`` for PageRank (``seeds=None``, ``r_0 = 1``) and
    ``alpha·1_S(v)`` for personalized PageRank (``seeds`` = the seed
    endpoints, ``r_0 = 1_S``).

    Rank state is restricted to ``members`` (endpoints present in
    ``nodes``; see ``graph_tier._probe``). Teleporting nodes outside
    the edge set share one trajectory ``bg``: 1.0, then ``alpha``
    (+ the dangling teleport when enabled) — tracked as a scalar,
    never enumerated, so the driver holds O(|E|) state no matter how
    many nodes the graph has. A non-teleporting one (a non-seed)
    stays 0.0: ``dangling`` is PageRank-only. Returns
    ``(endpoint_ranks: dict, bg: float, rounds: int)``."""
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
    tele = {
        k: alpha if seeds is None or k in seeds else 0.0 for k in endpoints
    }
    dang_ep = [k for k in endpoints if k not in outdeg]
    n_bg = (n_nodes - len(endpoints)) if n_nodes is not None else 0
    ranks = {
        k: 1.0 if seeds is None or k in seeds else 0.0 for k in endpoints
    }
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
            new[k] = tele[k] + (1.0 - alpha) * (s + add)
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
    return ranks, bg, rounds


def _power_iteration(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame | None,
    iters: int,
    alpha: float,
    ordered: bool,
    tol: float | None,
    dangling: bool,
    stats: dict | None,
    driver_graph_edges: int,
    nodes_cover_edges: bool,
) -> DataFrame:
    """Both tiers of :func:`pagerank` (``seeds=None``) and
    :func:`personalized_pagerank`. The driver tier runs the ORDERED
    fold (sorted-src sequential double adds — a strict subset of both
    modes' contracts)."""
    e_proj = edges.select("src", "dst")
    ids = nodes.select("id")
    flagged = None
    if seeds is not None:
        seed_ids = seeds.select(
            F.col(seeds.columns[0]).alias("id")
        ).distinct()
        flagged = ids.join(
            F.broadcast(seed_ids.withColumn("_s", F.lit(1))), "id", "left"
        )
    head = _fetch_edges(e_proj, driver_graph_edges)
    if head is not None:
        eps = sorted({r[0] for r in head} | {r[1] for r in head})
        members, n_nodes = _probe(
            ids, eps, nodes_cover_edges, count=dangling or tol is not None
        )
        seed_eps = None
        if seeds is not None:
            seed_eps, _ = _probe(
                seed_ids, eps, key_t=ids.schema["id"].dataType
            )
        ranks, bg, rounds = _power_local(
            head, iters, alpha, members, seed_eps, tol, dangling, n_nodes
        )
        if stats is not None:
            stats["rounds"] = rounds
            stats["tier"] = "driver"
        fill = F.lit(bg)
        if flagged is not None:
            ids = flagged
            fill = F.when(F.col("_s") == 1, fill).otherwise(F.lit(0.0))
        return _node_keyed(
            ids,
            sorted(ranks.items()),
            [StructField("rank", DoubleType())],
            fill,
        )
    if flagged is None:
        base, r0, tele = ids, F.lit(1.0), F.lit(alpha)
    else:
        # the per-node seed flag, pinned once and read every round
        base = flagged.select(
            "id", F.coalesce("_s", F.lit(0)).alias("_s")
        ).localCheckpoint(eager=True)
        r0 = F.col("_s").cast("double")
        tele = F.lit(alpha) * F.col("_s").cast("double")
    # damped power iteration over ``base`` from ``rank = r0`` with
    # update ``tele + (1-alpha) * incoming``; the weighted edges, the
    # dangling id set and every iterate are pinned with an eager
    # localCheckpoint, so no round re-derives them and lineage stays
    # flat
    deg = e_proj.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    weighted = e_proj.join(deg, "src").select(
        "src", "dst", F.col("outdeg").cast("double").alias("outdeg")
    ).localCheckpoint(eager=True)
    if dangling:
        dang = base.join(
            weighted.select("src").distinct(),
            base["id"] == F.col("src"),
            "left_anti",
        ).select("id").localCheckpoint(eager=True)
        n_nodes = float(base.count())
    ranks = base.select("id", r0.alias("rank"))
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
        ranks = base.join(summed, base["id"] == summed["dst"], "left").select(
            "id", (tele + F.lit(1.0 - alpha) * incoming).alias("rank")
        ).localCheckpoint(eager=True)
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

    ``edges`` must have columns ``src``/``dst`` (duplicate edges
    count twice, matching multigraph semantics); ``nodes`` one
    column ``id`` covering at least every endpoint. Nodes with no
    in-links converge to ``alpha``.

    Edge lists under ``driver_graph_edges`` iterate at the driver
    (``graph_tier``). ``nodes_cover_edges`` is the caller's promise
    that every edge endpoint appears in ``nodes`` (true where the
    graph is BUILT that way: the registry's ``nodes`` are all doc_ids
    and its edges pairs of doc_ids); it skips the driver tier's
    membership probe. Results are identical either way whenever the
    promise holds (property-pinned).

    ``tol``: convergence early exit — after each round, one scalar
    action computes ``max |rank_k+1 − rank_k|`` over the two pinned
    iterates (a |V|-row id join, the same cheap-scalar shape as CC's
    ``sum(label)`` probe) and the loop stops once it is ≤ ``tol``.
    ``tol=0.0`` exits only at a bit-exact fixpoint, so the result is
    IDENTICAL to running all ``iters`` rounds — the safe setting
    under an unrolled-SQL oracle. DAGs reach that fixpoint in depth+1
    rounds (rank mass only flows downward), which is where the early
    exit actually fires; cyclic graphs converge geometrically and
    should use a small positive ``tol`` when ulp drift is acceptable.
    Pass ``stats={}`` to read back ``stats["rounds"]`` (and
    ``stats["tier"] == "driver"`` on the driver tier).

    ``dangling``: redistribute dangling mass — nodes with no
    out-links leak their rank in the GraphX-style unnormalized
    variant (the default here, matching the gr1 oracle); with
    ``dangling=True`` each round adds ``Σ_dangling rank(u) / N`` to
    every node's incoming sum (the classic random-surfer teleport
    from dangling nodes). The dangling rank sum is one scalar
    aggregate per round over the pinned iterate restricted to the
    (pinned once) dangling id set — never a join of the full graph.
    """
    return _power_iteration(
        edges, nodes, None, iters, alpha, ordered, tol, dangling, stats,
        driver_graph_edges, nodes_cover_edges,
    )


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
    of gr1's variant: the same iteration with the teleport restricted
    to seeds.

    ``seeds`` is a 1-column ``id`` relation and is broadcast — seed
    sets are small by construction (crawl seeds, trusted domains).
    The driver tier (``graph_tier``) adds one bounded probe: seed
    membership of the ≤2·cap endpoints, one broadcast semi-join
    against ``seeds``. ``ordered=True`` uses the ascending-src fold —
    the bit-exact cross-engine mode (the gr1 contract). ``dangling``
    and ``tol`` are deliberately not offered here: dangling teleport
    interacts with personalization (mass restarts at seeds) and is a
    different operator."""
    return _power_iteration(
        edges, nodes, seeds, iters, alpha, ordered, None, False, None,
        driver_graph_edges, nodes_cover_edges,
    )
