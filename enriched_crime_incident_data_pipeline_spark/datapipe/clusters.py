"""Duplicate-cluster formation: connected components over candidate
pairs.

Pair-level dedup (MinHash/LSH, SimHash, embedding cosine —
``datapipe/dedup.py``) emits *edges*; an actual corpus clean needs
*clusters* with one canonical survivor each, i.e. connected
components of the candidate graph (A~B and B~C must collapse to one
group even when A~C was never emitted as a pair).

Implementation — two physical strategies behind one contract:

1. SMALL graphs (≤ ``SMALL_GRAPH_EDGES`` undirected edges — the
   overwhelming common case: after banding, edges scale with the
   number of NEAR-DUPS, not documents, so even a 100 TB corpus's
   duplicate graph is usually thousands-to-millions of edges):
   shuffle the whole edge list to ONE task and run path-compressed
   union-by-min union-find. One Spark job total, versus ~8 rounds ×
   fixed job overhead that dominated the round-3 bench
   (``dd14_semdedup`` 17.8 s was ≈ all CC barrier cost). Below
   ``graph_tier.DRIVER_GRAPH_EDGES`` the same union-find runs at the
   driver instead, with no kernel job at all.
2. LARGE graphs: iterative min-label propagation with POINTER-JUMPING
   compression, the standard DataFrame-only formulation (GraphX /
   GraphFrames' min-propagation plus the path-halving step of
   union-find). Each round is (a) propagate: every node takes the min
   label over itself and its neighbors — one join + one groupBy — and
   (b) compress: ``label(v) ← label(label(v))`` — one self-join on
   the label table. Propagation alone needs O(diameter) rounds, which
   an adversarial duplicate *chain* (boilerplate series:
   doc₁~doc₂~…~docₙ) turns into O(n); compression doubles the
   distance a label has travelled every round, so the fixpoint
   arrives in O(log diameter) rounds on any graph (pinned by the
   long-chain test in ``tests/test_graph_sketch.py``, which forces
   this path with ``small_graph_edges=0``). Labels are monotonically
   non-increasing, so the fixpoint is detected by a scalar
   ``sum(label)`` comparison (one cheap action per round against the
   persisted iterate — no row-level diff).

Both strategies emit the identical labelling (component minimum), so
the oracle contract is strategy-independent; equivalence is pinned in
``tests/test_graph_sketch.py``.

Scale notes: each round shuffles |edges| + |nodes| rows, partitioned
by key; the iterate is persisted and the previous one unpersisted, and
every ``_CHECKPOINT_EVERY`` rounds the iterate is ``localCheckpoint``-ed
so the logical plan cannot grow with round count (unbounded iterate
lineage is the classic driver-OOM failure of DataFrame CC loops).
Near-dup graphs are overwhelmingly tiny components (pairs →
triangles) where 2-3 rounds suffice; the log-round guarantee is the
insurance for the pathological shapes a 100 TB corpus will contain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from enriched_crime_incident_data_pipeline_spark.datapipe.graph_tier import (
    DRIVER_GRAPH_EDGES,
    _fetch_edges,
    _node_frame,
)

# localCheckpoint cadence: truncates iterate lineage so plan size is
# bounded by the cadence, not the round count
_CHECKPOINT_EVERY = 4

# Edge-count ceiling for the single-task union-find fast path. Each
# distributed round is a synchronization barrier (join + groupBy +
# a scalar action), so an 8-round loop over a few-thousand-edge dedup
# graph pays ~8× fixed job overhead for work one core finishes in
# milliseconds. Below this many (undirected) edges the whole edge set
# is shuffled to ONE task and resolved with path-compressed union-find
# — one job, exact same labels. 1M edges ≈ tens of MB of Python dict:
# comfortably inside any executor. Above it, the O(log diameter)
# distributed loop runs as before — that path is the 100 TB story,
# this one removes the constant that dominates every real near-dup
# graph (they are overwhelmingly tiny: pairs and triangles).
SMALL_GRAPH_EDGES = 1_000_000


def _union_find(pairs) -> dict:
    """``{node: component label}`` over an iterable of ``(a, b)``
    pairs, nodes in first-seen order: path-compressed, union-by-min
    union-find. The root of every set is kept at the component's
    minimum node id (the larger root is always attached under the
    smaller), so the label is identical to the distributed min-label
    fixpoint."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # union-by-min: root stays the min id
    return {n: find(n) for n in parent}


def _single_task_components(sym: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL edge list in one task
    (:func:`_union_find` over every batch)."""
    node_t = sym.schema["src"].dataType
    out_schema = StructType(
        [StructField("node", node_t), StructField("label", node_t)]
    )

    def kernel(batches):
        import pandas as pd

        labels = _union_find(
            pair
            for pdf in batches
            for pair in zip(pdf["src"].tolist(), pdf["dst"].tolist())
        )
        yield pd.DataFrame(
            {"node": list(labels), "label": list(labels.values())}
        )

    return sym.repartition(1).mapInPandas(kernel, schema=out_schema)


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    jump_after: int = 0,
    stats: dict | None = None,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
    driver_graph_edges: int = DRIVER_GRAPH_EDGES,
) -> DataFrame:
    """Component label (the component's minimum node id) for every
    node that appears in ``edges``. Returns ``(node, cluster_id)``.

    Three physical strategies behind one contract:

    - ``|edges| <= min(small_graph_edges, driver_graph_edges)`` →
      union-find at the driver (the ``graph_tier`` driver tier); the
      labels return as a local relation.
    - ``|edges| <= small_graph_edges`` → single-task union-find
      (:func:`_single_task_components`): the edge list is shuffled to
      one task and resolved in one job, off the driver. Near-dup
      graphs after banding are small even when the corpus is 100 TB
      (edges ∝ near-dups, not docs), so one of these two tiers is the
      common case, and both remove the per-round fixed job cost of
      the distributed loop.
    - larger graphs → iterative min-label propagation with
      pointer-jumping compression from round ``jump_after`` (default
      0 — always on: the compression self-join is cheap relative to a
      whole extra round, and it's what turns O(diameter) into
      O(log diameter) on adversarial chains).

    Pass ``stats={}`` to receive ``stats["rounds"]`` (number of
    distributed rounds; 1 for the single-task path) and
    ``stats["mode"]`` (``"single_task"`` or ``"distributed"``) and,
    for single-task, ``stats["tier"]`` (``"driver"`` or
    ``"executor"``). Set ``small_graph_edges=0`` to force the
    distributed path.
    """
    # Pin the projected edge list ONCE before anything consumes it:
    # the union's two branches, the strategy-deciding count and the
    # tier's own read would otherwise EACH re-evaluate the caller's
    # edge lineage — for er3 that lineage is a blocked
    # bounded-levenshtein pass, measured ~2 s per re-run at sf0.1.
    # Lazy checkpoint: materialized by whichever action touches it
    # first, every later consumer reads the pinned rows.
    pinned = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint(eager=False)
    sym = pinned.union(
        pinned.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # strategy decision: ONE count against the pinned edges, not the
    # other algorithms' take (it also materializes the checkpoint — the
    # count's cost IS the one unavoidable edge-lineage evaluation,
    # after which every tier reads cached rows). For an above-cap graph
    # a take(cap+1) would collect ~cap rows to the driver only to
    # discard them (measured ~1 s at er3's 135k-edge graph), and any
    # shuffle in the edge lineage makes an incremental take moot —
    # partition 0 already runs the whole upstream.
    n_edges = pinned.count()
    if n_edges <= min(small_graph_edges, driver_graph_edges):
        # driver tier: collect the pinned edges — cheap, they are
        # already materialized — and resolve at the driver
        if stats is not None:
            stats["rounds"] = 1
            stats["mode"] = "single_task"
            stats["tier"] = "driver"
        return _node_frame(
            edges.sparkSession,
            sorted(_union_find(pinned.collect()).items()),
            sym.schema["src"].dataType,
            "cluster_id",
        )
    if n_edges <= small_graph_edges:
        # executor single-task tier: union-find is direction-blind,
        # so the kernel reads the DIRECTED pinned pairs (half the
        # rows the old sym feed shuffled into the one task)
        labels = _single_task_components(pinned).localCheckpoint(eager=True)
        if stats is not None:
            stats["rounds"] = 1
            stats["mode"] = "single_task"
            stats["tier"] = "executor"
        return labels.select("node", F.col("label").alias("cluster_id"))
    if stats is not None:
        stats["mode"] = "distributed"
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    rounds = 0
    for it in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("_nbr_min"))
        )
        new_labels = labels.join(
            nbr_min, labels["node"] == nbr_min["dst"], "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce("_nbr_min", "label")).alias("label"),
        )
        if it >= jump_after:
            # pointer jumping: label(v) ← label(label(v)). Every label
            # value is itself a node id present in the table (labels
            # start as node ids and min() only moves within that
            # domain), so the lookup always hits; left+coalesce guards
            # the invariant anyway. Doubles the distance a label has
            # travelled per round — O(diameter) becomes O(log
            # diameter) on the long-chain graphs that get here.
            parent = new_labels.select(
                F.col("node").alias("_pnode"), F.col("label").alias("_plabel")
            )
            new_labels = new_labels.join(
                parent, new_labels["label"] == parent["_pnode"], "left"
            ).select(
                "node",
                F.coalesce("_plabel", "label").alias("label"),
            )
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            # eager localCheckpoint: cuts the iterate's lineage so the
            # logical plan cannot grow with round count
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels.unpersist()
        labels = new_labels
        rounds = it + 1
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    sym.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("node", F.col("label").alias("cluster_id"))


def dup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Assign every document its duplicate-cluster id (minimum doc id
    of its component; docs in no pair are their own singleton) and a
    canonical flag — the keep/drop verdict of a corpus dedup pass.
    """
    cc = connected_components(pairs)
    return (
        docs.select(id_col)
        .join(cc, docs[id_col] == cc["node"], "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def dedup_drop_list(
    members: DataFrame,
    doc_sizes: DataFrame,
    node_col: str = "node",
    cluster_col: str = "cluster_id",
    size_col: str = "n_tokens",
) -> DataFrame:
    """Keeper selection over duplicate clusters: per cluster keep the
    LONGEST member (ties → lowest id) and emit the drop-list
    ``(doc_id, cluster_id, keeper_id)`` — the rows a corpus clean
    deletes. Keep-longest is the standard near-dup keeper heuristic
    (the duplicate with the most content survives).

    The keeper argmax is ``max_by`` on a (size, -id) struct — a
    map-side-combinable aggregation, not a per-cluster sort window —
    so one shuffle on the cluster id at any scale; the keeper table
    (one row per cluster) broadcasts back onto the MEMBERS relation
    (r6: onto ``members``, not the sized join — sizes are only needed
    for the argmax, and joining back onto ``sized`` re-executed the
    ``doc_sizes`` scan a second time; corpus_build3's kdocs cut paid
    a full extra corpus-blocks pass for columns it never read)."""
    sized = members.join(doc_sizes, node_col)
    keepers = sized.groupBy(cluster_col).agg(
        F.max_by(
            node_col,
            F.struct(F.col(size_col), (-F.col(node_col)).alias("_neg")),
        ).alias("keeper_id")
    )
    return (
        members.join(F.broadcast(keepers), cluster_col)
        .filter(F.col(node_col) != F.col("keeper_id"))
        .select(
            F.col(node_col).alias("doc_id"), cluster_col, "keeper_id"
        )
    )


def _lpa_local(head, rounds: int) -> dict:
    """Driver-resident synchronous LPA — the same (count desc, label
    asc) adoption as the distributed rounds; comparisons only, so
    driver==distributed exactly."""
    sym: dict = {}
    for r in head:
        a, b = r[0], r[1]
        sym.setdefault(a, []).append(b)
        sym.setdefault(b, []).append(a)
    lab = {v: v for v in sym}
    for _ in range(rounds):
        new = {}
        for v, nbrs in sym.items():
            c: dict = {}
            for u in nbrs:
                lu = lab[u]
                c[lu] = c.get(lu, 0) + 1
            new[v] = min(c, key=lambda k: (-c[k], k))
        lab = new
    return lab


def label_propagation_communities(
    edges: DataFrame,
    rounds: int = 3,
    a_col: str = "a",
    b_col: str = "b",
    driver_graph_edges: int = DRIVER_GRAPH_EDGES,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al.
    2007) over an undirected edge list — the DENSITY signal next to
    connected_components' pure connectivity: two near-dup triangles
    joined by one bridge edge are ONE component but TWO communities,
    which is what boilerplate-family audits actually want to see.

    Deterministic variant: labels start as the node id; each round
    every node adopts the (count desc, label asc)-best label among
    its NEIGHBORS' previous-round labels — the argmax is ``min_by``
    on a ``(-count, label)`` struct, a map-side-combinable
    aggregation, never a per-node sort window. Synchronous rounds +
    total tie order make the result a pure function of the graph
    (classic async LPA is famously run-order-dependent — useless
    under a cross-engine oracle).

    Scale: each round is one |E|-row equi-join (labels onto the
    symmetrized edges) + two hash aggregations — O(|E|) shuffle rows
    per round, a fixed small round count, and the edge relation is
    pinned once so its upstream lineage (LSH banding at real call
    sites) never re-executes per round. Returns
    ``(node, community)`` for every edge endpoint.

    Edge lists under ``driver_graph_edges`` run the same rounds at the
    driver (``graph_tier``); pass 0 to force the distributed path."""
    e_proj = edges.select(F.col(a_col).alias("v"), F.col(b_col).alias("u"))
    head = _fetch_edges(e_proj, driver_graph_edges)
    if head is not None:
        return _node_frame(
            edges.sparkSession,
            sorted(_lpa_local(head, rounds).items()),
            e_proj.schema["v"].dataType,
            "community",
        )
    sym = (
        e_proj.union(
            edges.select(F.col(b_col).alias("v"), F.col(a_col).alias("u"))
        )
    ).localCheckpoint(eager=True)
    labels = sym.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(rounds):
        nbr = sym.join(labels, sym["u"] == labels["node"]).select(
            "v", "lab"
        )
        cnt = nbr.groupBy("v", "lab").agg(F.count(F.lit(1)).alias("c"))
        labels = cnt.groupBy("v").agg(
            F.min_by(
                "lab", F.struct((-F.col("c")).alias("nc"), F.col("lab"))
            ).alias("lab")
        ).select(F.col("v").alias("node"), "lab")
    return labels.select("node", F.col("lab").alias("community"))


def _kcore_local(head, k: int, rounds: int) -> list:
    """Driver-resident peeling — the same synchronous recurrence as
    the distributed rounds (integer degrees + comparisons only, so
    driver == distributed exactly). Returns ``(node, core_deg)`` for
    the surviving nodes with their degree inside the survivor
    subgraph after ``rounds`` peels (early exit at fixpoint — a
    no-op peel removes nobody, so stopping early equals running all
    rounds)."""
    edges = [(r[0], r[1]) for r in head]
    surv = {x for e in edges for x in e}
    for _ in range(rounds):
        deg: dict = {}
        for a, b in edges:
            if a in surv and b in surv:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
        new = {v for v in surv if deg.get(v, 0) >= k}
        if new == surv:
            break
        surv = new
    deg = {}
    for a, b in edges:
        if a in surv and b in surv:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
    return [(v, deg.get(v, 0)) for v in sorted(surv)]


def k_core(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 8,
    a_col: str = "a",
    b_col: str = "b",
    driver_graph_edges: int = DRIVER_GRAPH_EDGES,
) -> DataFrame:
    """``(node, core_deg)`` — the synchronous ``rounds``-round k-core
    peel of an undirected edge list: every round simultaneously drops
    all nodes whose degree WITHIN the current survivor subgraph is
    below ``k``; survivors are returned with their degree inside the
    final subgraph. At fixpoint (no round removes anybody — reached
    within graph-diameter-ish rounds on near-dup graphs) this is the
    classic k-core (Seidman 1983), the density band between
    connected_components' pure connectivity and gr5's communities:
    boilerplate rings and tight duplicate families survive the peel,
    chains and stars do not.

    Synchronous peeling is a pure function of the graph (no
    traversal order), and every quantity is an integer degree or a
    comparison — bit-exact across engines, so the oracle is the same
    recurrence unrolled in SQL. A peel past the fixpoint is a no-op,
    so the engine may exit early while staying equal to the
    fixed-``rounds`` oracle.

    Scale: each round is one semi-join of the pinned symmetrized
    edge relation against the (shrinking) survivor set plus one
    map-side-combinable degree count — O(|E|) per round, fixed round
    count. Edge lists under ``driver_graph_edges`` peel at the driver
    (``graph_tier``)."""
    e_proj = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    head = _fetch_edges(e_proj, driver_graph_edges)
    if head is not None:
        return _node_frame(
            edges.sparkSession,
            _kcore_local(head, k, rounds),
            e_proj.schema["a"].dataType,
            "core_deg",
            LongType(),
        )
    e = e_proj.localCheckpoint(eager=True)
    sym = e.select(F.col("a").alias("v"), F.col("b").alias("u")).union(
        e.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )
    surv = sym.select("v").distinct().localCheckpoint(eager=True)
    n_surv = surv.count()
    for _ in range(rounds):
        alive = sym.join(surv, "v", "leftsemi").join(
            surv.select(F.col("v").alias("u")), "u", "leftsemi"
        )
        deg = alive.groupBy("v").agg(F.count(F.lit(1)).alias("_d"))
        new_surv = deg.filter(F.col("_d") >= k).select("v").localCheckpoint(
            eager=True
        )
        n_new = new_surv.count()
        surv = new_surv
        if n_new == n_surv:
            break  # fixpoint: further peels are no-ops
        n_surv = n_new
    alive = sym.join(surv, "v", "leftsemi").join(
        surv.select(F.col("v").alias("u")), "u", "leftsemi"
    )
    deg = alive.groupBy("v").agg(F.count(F.lit(1)).alias("_d"))
    return (
        surv.join(deg, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.coalesce("_d", F.lit(0)).cast("bigint").alias("core_deg"),
        )
    )


def _scc_local(head) -> list:
    """Driver-resident Tarjan (iterative — no Python recursion-depth
    cliff on long cycles) over a take-delivered edge list. Returns
    ``sorted((node, scc_id))`` with ``scc_id`` = the component's
    MINIMUM member id — the engine-independent labelling the
    distributed peeling tier and the oracle's closure definition
    (``min{u : u →* v and v →* u}``) both produce, so the three
    implementations agree row-for-row regardless of traversal
    order."""
    adj: dict = {}
    nodes: set = set()
    for r in head:
        u, v = r[0], r[1]
        nodes.add(u)
        nodes.add(v)
        adj.setdefault(u, []).append(v)
    for u in adj:
        adj[u].sort()
    index: dict = {}
    low: dict = {}
    onstk: set = set()
    stk: list = []
    out: dict = {}
    counter = 0
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stk.append(v)
                onstk.add(v)
            descend = False
            nbrs = adj.get(v, ())
            while pi < len(nbrs):
                w = nbrs[pi]
                pi += 1
                work[-1] = (v, pi)
                if w not in index:
                    work.append((w, 0))
                    descend = True
                    break
                if w in onstk and index[w] < low[v]:
                    low[v] = index[w]
            if descend:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                cid = min(comp)
                for w in comp:
                    out[w] = cid
            work.pop()
            if work and low[v] < low[work[-1][0]]:
                low[work[-1][0]] = low[v]
    return sorted(out.items())


def _minlabel_fixpoint(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """``(node, lbl)`` with ``lbl`` = min id over {node} ∪ its
    ancestors along directed ``edges (src, dst)``, restricted to
    ``nodes``. Plain monotone min-propagation to fixpoint: each
    round is one join + one map-side-combinable min-agg over
    O(|E|+|V|) rows; labels only decrease, so the fixpoint probe is
    a changed-row count against the pinned iterate. O(diameter)
    rounds — acceptable for the SCC fallback tier (the common path
    is the driver Tarjan; see strongly_connected_components)."""
    lbl = nodes.select("node", F.col("node").alias("lbl")).localCheckpoint(
        eager=True
    )
    while True:
        incoming = (
            edges.join(lbl, edges["src"] == lbl["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("_in"))
        )
        new = (
            lbl.join(incoming, "node", "left")
            .select(
                "node",
                F.least(
                    "lbl", F.coalesce("_in", F.col("lbl"))
                ).alias("lbl"),
                (F.col("_in") < F.col("lbl")).alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        changed = new.filter(F.col("_chg")).count()
        lbl = new.select("node", "lbl")
        if changed == 0:
            return lbl


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    driver_graph_edges: int = DRIVER_GRAPH_EDGES,
) -> DataFrame:
    """``(node, scc_id)`` — strongly connected components of the
    directed edge list, ``scc_id`` = minimum member id. The directed
    analogue of :func:`connected_components` for citation/link
    graphs: CC/k-core/LPA treat edges as undirected; SCC answers
    "which pages mutually reach each other", the unit a link-graph
    audit contracts cycles by.

    Edge lists under ``driver_graph_edges`` run iterative Tarjan at
    the driver (``graph_tier``) — O(|E|) exact. Past the cap:
    forward/backward min-label PEELING, exact at any size: each outer
    round computes f(v) = min ancestor-or-self and b(v) = min
    descendant-or-self over the ACTIVE subgraph (two min-propagation
    fixpoints);
    mutual-reachability makes f and b constant on an SCC, so a whole
    SCC finishes exactly when f == b (its min member is inside), at
    least the active-minimum's SCC finishes every round (f(m)=b(m)=m
    trivially), and finished nodes leave the active set. Under-
    propagation can never finish a node wrongly (f(v)=b(v)=m
    certifies real paths both ways), so correctness never depends on
    round counts — only progress speed does.

    Scale: near-dup/citation SCC inputs are edge-proportional to
    duplicates, not corpus size — the driver tier is the 100 TB
    common path, the peeling tier the insurance (O(condensation
    depth) outer rounds × O(diameter) propagation rounds, each one
    join+agg shuffle)."""
    e_proj = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    head = _fetch_edges(e_proj, driver_graph_edges)
    if head is not None:
        return _node_frame(
            edges.sparkSession,
            _scc_local(head),
            e_proj.schema["src"].dataType,
            "scc_id",
        )
    e = e_proj.localCheckpoint(eager=True)
    active = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_active = active.count()
    done_parts: list = []
    while n_active > 0:
        ea = e.join(
            active.select(F.col("node").alias("src")), "src", "leftsemi"
        ).join(
            active.select(F.col("node").alias("dst")), "dst", "leftsemi"
        )
        fwd = _minlabel_fixpoint(ea, active)
        bwd = _minlabel_fixpoint(
            ea.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ),
            active,
        )
        finished = (
            fwd.join(
                bwd.select("node", F.col("lbl").alias("_b")), "node"
            )
            .filter(F.col("lbl") == F.col("_b"))
            .select("node", F.col("lbl").alias("scc_id"))
            .localCheckpoint(eager=True)
        )
        done_parts.append(finished)
        active = active.join(finished, "node", "left_anti").localCheckpoint(
            eager=True
        )
        n_active = active.count()
    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.union(part)
    return out


def bfs_hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    id_col: str = "id",
) -> DataFrame:
    """Multi-source BFS hop distances, bounded at ``rounds`` hops —
    the seed-proximity / crawl-horizon measure (how many near-dup /
    citation hops a document sits from a trusted set).

    ``edges`` is directed ``(src, dst)`` (symmetrize at the call
    site for undirected semantics); ``seeds`` carries ``id_col``.
    Returns ``(id, dist)`` for every node within ``rounds`` hops;
    unreached nodes are absent (their distance is not 0, and a
    sentinel would just be a full-node-set join).

    Frontier form of min-plus: round ``h`` expands only the nodes
    FIRST discovered at ``h-1`` (join on src, distinct dst, anti-join
    the known set), so each edge is traversed at most once per
    endpoint discovery and total work is O(E · avg-multiplicity),
    never rounds × E state rewrites. Correctness is
    horizon-independent: a fixed-round cap can only truncate the
    frontier, never mis-label a reached node — dist(v) ≤ rounds is
    exact because BFS layers are discovered in order. The edge
    relation is lazily checkpointed once (``rounds`` consumers); the
    accumulated distance set is checkpointed per round so the
    anti-join never re-derives prior rounds' lineage.
    """
    sym = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint(eager=False)
    dist = (
        seeds.select(F.col(id_col).cast("long").alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint(eager=False)
    )
    frontier = dist.select("id")
    for h in range(1, rounds + 1):
        reached = (
            sym.join(frontier, sym["src"] == frontier["id"])
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new = (
            reached.join(dist.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(h).cast("int"))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionByName(new).localCheckpoint(eager=False)
        frontier = new.select("id")
    return dist
