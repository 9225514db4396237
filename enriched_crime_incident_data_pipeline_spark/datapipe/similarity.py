"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline; IVF (inverted-file)
bucketing is the scale path: assign every vector to its nearest
centroid once (map-only vs a broadcast centroid table), then probe
only the query's cluster — at 100 TB the probe reads 1/n_centroids of
the data, and the assignment table is partitionable by cluster.

Dot products accumulate in double, sequentially, via
``zip_with`` + ``aggregate`` — bit-identical to the DuckDB oracle's
``list_dot_product`` on a DOUBLE[] cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.functions.vectors import (
    cosine_from_norms,
    l2_norm,
)
from enriched_crime_incident_data_pipeline_spark.session import local_frame


def brute_force_neighbors(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector:
    ``(neighbor_id, rank)``. The query vector is broadcast (1-row
    cross join); scoring is a map-only pass over all vectors."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), l2_norm(F.col(vec_col)).alias("_qn")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("neighbor_id"),
            cosine_from_norms(
                F.col(vec_col), F.col("_qvec"), l2_norm(F.col(vec_col)), F.col("_qn")
            ).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k by cosine with a dense 1..k rank. orderBy+limit compiles
    to TakeOrderedAndProject (per-partition top-k, then merge) — the
    rank window runs over only the k survivors, never the corpus."""
    topk = scored.orderBy(F.desc("cosine"), "neighbor_id").limit(k)
    w = Window.orderBy(F.desc("cosine"), "neighbor_id")
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "neighbor_id", "rank", "cosine"
    )


def ivf_assignments(
    embeddings: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer, deterministic variant: the first
    ``n_centroids`` stored vectors (by id) act as centroids; every
    vector is assigned to the nearest centroid by cosine:
    ``(vec_id, cluster)``.

    (A production build plugs k-means centroids in the same shape;
    the assignment join/argmax plumbing is identical.)"""
    cent = embeddings.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = embeddings.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_vn")
    ).crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col("_cid"),
        cosine_from_norms(
            F.col(vec_col), F.col("_cvec"), F.col("_vn"), F.col("_cn")
        ).alias("_cos"),
    )
    # argmax as an aggregation (map-side combinable), not a sort
    # window: max_by on (cos, -cid) picks highest cosine, lowest cid
    # on ties — identical to ORDER BY _cos DESC, _cid ASC limit 1
    return scored.groupBy(id_col).agg(
        F.max_by("_cid", F.struct(F.col("_cos"), (-F.col("_cid")).alias("_t")))
        .cast("int")
        .alias("cluster")
    )


def ivf_topk_neighbors(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the query's IVF cluster."""
    assign = ivf_assignments(embeddings, n_centroids, id_col, vec_col)
    with_cluster = embeddings.join(assign, id_col)
    q_cluster = assign.filter(F.col(id_col) == query_vec_id).select(
        F.col("cluster").alias("_qc")
    )
    candidates = with_cluster.join(
        F.broadcast(q_cluster), with_cluster["cluster"] == F.col("_qc")
    )
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), l2_norm(F.col(vec_col)).alias("_qn")
    )
    scored = (
        candidates.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("neighbor_id"),
            cosine_from_norms(
                F.col(vec_col), F.col("_qvec"), l2_norm(F.col(vec_col)), F.col("_qn")
            ).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def _rademacher_plane(plane: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane coefficients from md5 — the same
    formula any engine can reproduce (DuckDB twin:
    ``('0x' || substr(md5('hp{j}:{d}'), 1, 8))::BIGINT % 2``)."""
    import hashlib

    return [
        1
        if int(hashlib.md5(f"hp{plane}:{d}".encode()).hexdigest()[:8], 16) % 2
        == 0
        else -1
        for d in range(dim)
    ]


def hyperplane_signatures(
    embeddings: DataFrame,
    n_planes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Signed-random-projection LSH (SimHash for embeddings): a
    ``n_planes``-bit signature per vector; cosine-similar vectors
    agree on most bits, so equal signatures are near-duplicate /
    ANN candidate buckets — the 100 TB path where the quadratic
    all-pairs cosine is replaced by an equi-join on ``sig``.

    Engine-exact by construction: components are quantized
    ``floor(x·10⁶)`` to integers first, hyperplanes are md5-derived
    Rademacher (±1) vectors, so every projection is an integer sum —
    no float accumulation order anywhere. The signature pass is
    map-only (array expressions, no shuffle); the one shuffle is the
    final bucket-size count by ``sig``.

    Returns ``(vec_id, sig, bucket_size)``.
    """
    quant = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )
    sig = None
    for j in range(n_planes):
        coefs = F.array(
            *[F.lit(c) for c in _rademacher_plane(j, dim)]
        ).cast("array<long>")
        proj = F.aggregate(
            F.zip_with(quant, coefs, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig + term
    signed = embeddings.select(F.col(id_col), sig.alias("sig"))
    w = Window.partitionBy("sig")
    return signed.withColumn(
        "bucket_size", F.count(F.lit(1)).over(w)
    )


def hyperplane_near_dup_pairs(
    embeddings: DataFrame,
    n_planes: int = 16,
    dim: int = 64,
    band_bits: int = 8,
    max_hamming: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate candidate pairs from hyperplane signatures via
    banded LSH: pairs agreeing exactly on ≥1 signature band, kept if
    their full-signature Hamming distance ≤ ``max_hamming``.

    The pigeonhole guarantee: with ``n_planes/band_bits`` bands, any
    pair within Hamming distance ``n_bands − 1`` shares a band, so
    recall is exact up to that distance and approximate beyond — the
    standard LSH contract. The join key is ``(band_idx, band_val)``
    (an equi-join on small ints); the corpus is never self-joined on
    anything wider, so candidate volume is governed by bucket sizes,
    not n². Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``,
    each pair once.
    """
    sigs = hyperplane_signatures(
        embeddings, n_planes=n_planes, dim=dim, id_col=id_col, vec_col=vec_col
    ).select(id_col, "sig")
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    bands = sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("sig", i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "sig", "_b.band_idx", "_b.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def train_kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding column — the production
    IVF coarse quantizer (``ivf_assignments`` consumes any centroid
    table of this shape).

    Deterministic: init = the first ``k`` vectors by id, fixed
    iteration count, cosine assignment with the same (cos, -cid)
    tie-break as ``ivf_assignments``. Each iteration is one broadcast
    of k centroids (collected to the driver — k·dim doubles, tiny) +
    one map-side-combinable aggregation of per-cluster sums; the fact
    table is never shuffled by more than the final groupBy(cluster).
    Returns ``(cluster: int, centroid: array<double>)``.
    """
    dim_df = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not dim_df:
        return local_frame(
            embeddings.sparkSession,
            [], "cluster int, centroid array<double>"
        )
    dim = dim_df[0]["d"]
    cent_rows = [
        (int(r[id_col]), [float(x) for x in r[vec_col]])
        for r in embeddings.filter(F.col(id_col) < k)
        .select(id_col, vec_col)
        .collect()
    ]
    centroids = {i: v for i, (_, v) in enumerate(sorted(cent_rows))}

    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_vn")
    )
    for _ in range(iterations):
        cent_df = local_frame(
            embeddings.sparkSession,
            [(c, v) for c, v in centroids.items()],
            "_cid int, _cvec array<double>",
        ).select("_cid", "_cvec", l2_norm(F.col("_cvec")).alias("_cn"))
        assigned = vecs.crossJoin(F.broadcast(cent_df)).select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_cid"),
            cosine_from_norms(
                F.col(vec_col), F.col("_cvec"), F.col("_vn"), F.col("_cn")
            ).alias("_cos"),
        )
        best = assigned.groupBy(id_col).agg(
            F.max_by(
                F.struct(F.col("_cid"), F.col(vec_col).alias("_v")),
                F.struct(F.col("_cos"), (-F.col("_cid")).alias("_t")),
            ).alias("_b")
        )
        sums = (
            best.select(F.col("_b._cid").alias("_cid"), F.col("_b._v").alias("_v"))
            .groupBy("_cid")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    F.sum(F.col("_v").getItem(i).cast("double")).alias(f"_s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        for row in sums:
            n = row["_n"]
            if n:
                centroids[row["_cid"]] = [row[f"_s{i}"] / n for i in range(dim)]
    return local_frame(
        embeddings.sparkSession,
        [(c, v) for c, v in sorted(centroids.items())],
        "cluster int, centroid array<double>",
    )


def pq_codes(
    embeddings: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook_source: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codes: split each vector into ``n_sub``
    subvectors of ``sub_dim`` dims and assign each to its nearest
    subspace centroid — ``(id, code_0..code_{n_sub-1})``, i.e. 1 byte
    per subspace instead of ``sub_dim`` floats (a 32× storage cut at
    the defaults). The codebook is the deterministic coarse scheme the
    IVF path uses (``ivf_assignments``): the first ``n_centroids``
    vectors by id donate their subvectors as subspace centroids.

    Scale shape: one broadcast of the (tiny) codebook, one map-side
    n×k scoring pass, one ``min_by`` argmin aggregation keyed by the
    vector — no corpus shuffle beyond the groupBy(id), which AQE
    coalesces. Subspace L2² folds (x−y)² left-to-right per dimension
    (``zip_with`` + ``aggregate``), ties break to the lowest centroid
    id — bit-reproducible in any ordered-aggregate SQL engine.

    ``codebook_source`` lets a caller encode a *subset* of the corpus
    (e.g. one IVF probe's candidates) against the full-corpus
    codebook — pass the full table there; defaults to ``embeddings``.
    """
    cents = (codebook_source if codebook_source is not None else embeddings).filter(
        F.col(id_col) < n_centroids
    ).select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv"))
    paired = embeddings.select(id_col, vec_col).crossJoin(F.broadcast(cents))

    def sub_l2(s: int):
        a = F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim)
        b = F.slice(F.col("_cv"), s * sub_dim + 1, sub_dim)
        diffs = F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d)

    aggs = [
        F.min_by(
            "_cid", F.struct(sub_l2(s).alias("_d"), F.col("_cid"))
        ).alias(f"code_{s}")
        for s in range(n_sub)
    ]
    return paired.groupBy(id_col).agg(*aggs)


def pq_adc_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    un-quantized; every stored vector's distance is approximated as
    Σ_s LUT[s, code_s] where the lookup table holds the query-to-
    centroid subspace L2² distances. This is the memory-bound ANN
    read path at corpus scale: the scan touches 1 byte per subspace
    per vector (the codes) plus one broadcast of an (n_sub ×
    n_centroids)-row LUT — never the float vectors.

    Determinism: the LUT distances fold per-dimension left-to-right;
    the per-vector total folds the n_sub terms in subspace order
    (collect → array_sort → sequential aggregate); ranking ties break
    on the vector id. Returns ``(neighbor_id, rank, approx_dist)``.
    """
    codes = pq_codes(
        embeddings, n_sub, sub_dim, n_centroids, id_col, vec_col
    ).filter(F.col(id_col) != query_vec_id)
    scored = _adc_scores(
        codes, embeddings, query_vec_id, n_sub, sub_dim, n_centroids,
        id_col, vec_col,
    ).select(F.col(id_col).alias("neighbor_id"), "approx_dist")
    topk = scored.orderBy("approx_dist", "neighbor_id").limit(k)
    w = Window.orderBy("approx_dist", "neighbor_id")
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "neighbor_id", "rank", "approx_dist"
    )


def _adc_scores(
    codes: DataFrame,
    embeddings: DataFrame,
    query_vec_id: int,
    n_sub: int,
    sub_dim: int,
    n_centroids: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC scoring core shared by :func:`pq_adc_topk` and
    :func:`ivf_pq_search`: per coded vector, ``approx_dist = Σ_s
    LUT[s, code_s]`` against the broadcast query-to-centroid subspace
    LUT. Returns ``(id_col, approx_dist)``. The n_sub terms fold in
    subspace order (collect → array_sort → sequential aggregate) so
    the double sum is engine-reproducible."""
    melted = codes.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.col(f"code_{s}") for s in range(n_sub)])
        ).alias("_s", "_code"),
    )

    cents = embeddings.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv")
    )
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qv")
    )

    def sub_l2(s: int):
        a = F.slice(F.col("_qv"), s * sub_dim + 1, sub_dim)
        b = F.slice(F.col("_cv"), s * sub_dim + 1, sub_dim)
        diffs = F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d)

    lut = (
        q.crossJoin(F.broadcast(cents))
        .select(
            F.col("_cid"),
            F.posexplode(
                F.array(*[sub_l2(s) for s in range(n_sub)])
            ).alias("_s", "_d"),
        )
    )
    return (
        melted.join(
            F.broadcast(lut),
            (F.col("_code") == F.col("_cid")) & (melted["_s"] == lut["_s"]),
        )
        .select(F.col(id_col), melted["_s"].alias("_ss"), F.col("_d"))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_ss"), F.col("_d")))
            ).alias("_arr")
        )
        .select(
            F.col(id_col),
            F.aggregate(
                "_arr", F.lit(0.0), lambda acc, x: acc + x["_d"]
            ).alias("approx_dist"),
        )
    )


def ivf_pq_search(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = 2,
    n_centroids_ivf: int = 8,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_centroids_pq: int = 16,
    shortlist: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Composed production ANN read path — the shape that works at
    1 B+ vectors: **IVF probe → PQ-ADC score → exact re-rank**.

    1. *Probe*: the ``nprobe`` IVF clusters whose centroids are most
       cosine-similar to the query (centroid table is tiny and
       broadcast; with nprobe ≥ 1 the query's own cluster is always
       probed, so this strictly generalizes ``ivf_topk_neighbors``).
    2. *Candidate scan*: only vectors assigned to probed clusters are
       touched — at scale the assignment is a partition key, so this
       is partition pruning, reading ``nprobe/n_centroids`` of the
       corpus.
    3. *ADC*: candidates are scored through their PQ codes against a
       broadcast (n_sub × n_centroids_pq) query LUT — 1 byte per
       subspace per candidate, never the float vectors; the ADC
       ``shortlist`` (ties → lowest id) caps what the exact stage
       reads.
    4. *Exact re-rank*: true cosine against the query for the
       shortlist only (a broadcast semi-join back to the float
       vectors), final top-``k`` with a dense rank.

    Every stage is deterministic (same folds/tie-breaks as
    ``ivf_assignments`` / ``pq_adc_topk``), so the full composition
    has an exact DuckDB oracle. Returns ``(neighbor_id, rank,
    cosine)``.
    """
    cent = embeddings.filter(F.col(id_col) < n_centroids_ivf).select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), l2_norm(F.col(vec_col)).alias("_qn")
    )
    probed = (
        cent.crossJoin(F.broadcast(q))
        .select(
            F.col("_cid"),
            cosine_from_norms(
                F.col("_cvec"), F.col("_qvec"), F.col("_cn"), F.col("_qn")
            ).alias("_qcos"),
        )
        .orderBy(F.desc("_qcos"), "_cid")
        .limit(nprobe)
        .select(F.col("_cid").cast("int").alias("cluster"))
    )
    assign = ivf_assignments(embeddings, n_centroids_ivf, id_col, vec_col)
    cand_ids = (
        assign.join(F.broadcast(probed), "cluster")
        .filter(F.col(id_col) != query_vec_id)
        .select(id_col)
    )
    candidates = embeddings.join(F.broadcast(cand_ids), id_col)
    codes = pq_codes(
        candidates, n_sub, sub_dim, n_centroids_pq, id_col, vec_col,
        codebook_source=embeddings,
    )
    short = (
        _adc_scores(
            codes, embeddings, query_vec_id, n_sub, sub_dim,
            n_centroids_pq, id_col, vec_col,
        )
        .orderBy("approx_dist", id_col)
        .limit(shortlist)
        .select(id_col)
    )
    rerank = (
        embeddings.join(F.broadcast(short), id_col)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("neighbor_id"),
            cosine_from_norms(
                F.col(vec_col), F.col("_qvec"), l2_norm(F.col(vec_col)), F.col("_qn")
            ).alias("cosine"),
        )
    )
    return _ranked_topk(rerank, k)


def stateless_ivf_assign(
    df: DataFrame,
    centroid_rows: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment as a PURE ROW EXPRESSION — the streaming-safe
    twin of :func:`ivf_assignments`, whose argmax is a groupBy and
    therefore stateful on a stream.

    ``centroid_rows`` are pre-collected ``(cid, vector)`` rows (the
    sanctioned centroid-scale collect — same class as
    ``ivf_topk_neighbors``); each centroid becomes a literal array in
    the plan, its norm computed by the SAME ``l2_norm`` expression
    fold as the batch path (constant-folded engine-side, so the bits
    match the groupBy twin and the SQL oracle). The argmax is
    ``array_max`` over (cosine, -cid) structs — highest cosine, lowest
    cid on ties, identical to the batch ``max_by`` ordering. Stateless
    map: usable in a streaming select with zero state, which is the
    point — a continuous ingest assigns every arriving vector without
    a shuffle.
    """
    vn = l2_norm(F.col(vec_col))
    scored = []
    for cid, cvec in centroid_rows:
        lit_vec = F.array(*[F.lit(float(x)) for x in cvec])
        scored.append(
            F.struct(
                cosine_from_norms(
                    F.col(vec_col), lit_vec, vn, l2_norm(lit_vec)
                ).alias("c"),
                F.lit(-int(cid)).alias("n"),
            )
        )
    best = F.array_max(F.array(*scored))
    return df.withColumn("cluster", (-best["n"]).cast("int"))


def ann_recall_eval(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 10,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF index against exact search — the eval
    every ANN deployment runs before trusting its index. Queries are
    the sampled ids with ``id % query_mod == 0``; for each, the exact
    cosine top-k over the whole corpus is compared with the IVF top-k
    (candidates restricted to the query's cluster, the ``ss3`` read
    path) and ``(qid, n_hit, recall)`` is emitted with
    ``recall = |exact ∩ ivf| / k`` as an exact integer ratio.

    Exact evaluation is inherently |queries| × corpus work — that is
    why the query set is SAMPLED (the standard eval protocol); the
    query relation broadcasts, so the corpus never shuffles for
    scoring, and each per-query top-k is a window over that query's
    scored rows (parallel across queries). Ties break on ascending
    id, matching the SQL oracle exactly.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("cid_"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    queries = embeddings.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    scored = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("cid_") != F.col("qid")
    )
    cos = cosine_from_norms(
        F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_cos"), F.col("cid_"))
    exact = (
        scored.select("qid", "cid_", cos.alias("_cos"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("qid", F.col("cid_").alias("nn"))
    )
    assign = ivf_assignments(embeddings, n_centroids, id_col, vec_col)
    q_cluster = assign.select(
        F.col(id_col).alias("qid"), F.col("cluster").alias("_qc")
    )
    ivf = (
        scored.join(F.broadcast(q_cluster), "qid")
        .join(
            assign.select(F.col(id_col).alias("cid_"), "cluster"), "cid_"
        )
        .filter(F.col("cluster") == F.col("_qc"))
        .select("qid", "cid_", cos.alias("_cos"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("qid", F.col("cid_").alias("nn"))
    )
    hits = exact.join(ivf, ["qid", "nn"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hit", F.lit(0)).cast("int").alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.lit(float(k))
            ).alias("recall"),
        )
    )


def truncated_dim_recall(
    embeddings: DataFrame,
    trunc_dim: int = 16,
    query_mod: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of searching on only the first ``trunc_dim``
    dimensions (Matryoshka-style truncation) against full-dimension
    exact search: ``(qid, n_hit, recall)`` per sampled query.

    The eval an embedding pipeline runs before committing to stored
    truncated vectors (4× less memory/IO at trunc 16/64 here): score
    the sampled query set twice — full vectors and ``slice(vec, 1,
    trunc_dim)`` — and measure top-k overlap as an exact integer
    ratio. Same scale shape as :func:`ann_recall_eval`: queries
    broadcast, corpus never shuffles for scoring, per-query top-k
    windows parallel across queries, ties on ascending id.
    """
    tv = F.slice(F.col(vec_col), 1, trunc_dim)
    corpus = embeddings.select(
        F.col(id_col).alias("cid_"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cn"),
        tv.alias("ctvec"),
        l2_norm(tv).alias("ctn"),
    )
    queries = embeddings.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qn"),
        tv.alias("qtvec"),
        l2_norm(tv).alias("qtn"),
    )
    scored = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("cid_") != F.col("qid")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_cos"), F.col("cid_"))

    def topk(cos_col):
        return (
            scored.select("qid", "cid_", cos_col.alias("_cos"))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select("qid", F.col("cid_").alias("nn"))
        )

    full = topk(
        cosine_from_norms(F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn"))
    )
    trunc = topk(
        cosine_from_norms(
            F.col("qtvec"), F.col("ctvec"), F.col("qtn"), F.col("ctn")
        )
    )
    hits = full.join(trunc, ["qid", "nn"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        queries.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("_n", F.lit(0)).cast("int").alias("n_hit"),
            (
                F.coalesce("_n", F.lit(0)).cast("double") / F.lit(float(k))
            ).alias("recall"),
        )
    )


def filtered_topk_neighbors(
    embeddings: DataFrame,
    query_vec_id: int,
    label: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Metadata-FILTERED exact top-k (the vector-DB "filtered search"
    pattern — 'nearest neighbors WHERE label = X'): rank only among
    vectors that pass the predicate.

    The correctness subtlety this encodes: PRE-filter, never
    post-filter. Taking the unfiltered top-k and then applying the
    predicate under-returns (as few as 0 of k survive when the
    predicate is selective) and, worse, silently changes the result
    set; filtering before ranking returns exactly k whenever ≥k rows
    match (pinned by ``test_filtered_ann_pre_vs_post``).

    Scale shape: the predicate is a plain column filter, so it lands
    in the parquet scan as a pushed filter (row-group skipping +
    column pruning — at 100 TB the scan reads only matching stripes);
    the query vector broadcasts; scoring stays map-only; the top-k is
    TakeOrderedAndProject (per-partition k, driver merge), never a
    corpus sort."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), l2_norm(F.col(vec_col)).alias("_qn")
    )
    scored = (
        embeddings.filter(
            (F.col(label_col) == label) & (F.col(id_col) != query_vec_id)
        )
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("neighbor_id"),
            cosine_from_norms(
                F.col(vec_col),
                F.col("_qvec"),
                l2_norm(F.col(vec_col)),
                F.col("_qn"),
            ).alias("cosine"),
        )
    )
    return _ranked_topk(scored, k)


def mmr_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily select ``k`` results, each maximizing
    ``lam·cos(q, c) − mu·max_{s∈selected} cos(c, s)`` — the standard
    redundancy-penalized re-rank for RAG/retrieval (plain top-k of a
    near-dup corpus returns k copies of one document; MMR returns
    the k distinct ones). ``lam``/``mu`` are INDEPENDENT literals,
    not ``1−lam`` (0.3 ≠ 1−0.7 in binary64 — keeping both explicit
    makes the arithmetic engine-reproducible).

    Scale split: the corpus-side work is the exact top-``shortlist``
    cosine scan (broadcast query, map-only scoring, TakeOrdered) —
    swap in the IVF probe upstream for web scale; the greedy is
    inherently sequential but runs over the BOUNDED shortlist, so
    pairwise sims are a shortlist² broadcast self-join (JVM column
    math, bit-identical to the corpus scoring path) and the
    selection loop folds over collected doubles at the driver —
    comparisons and one ``lam·c − mu·m`` per candidate, exact bits
    preserved through Arrow. Ties break (mmr desc, id asc).

    Returns ``(neighbor_id, rank, cosine, mmr)``."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), l2_norm(F.col(vec_col)).alias("_qn")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_v"),
            cosine_from_norms(
                F.col(vec_col),
                F.col("_qvec"),
                l2_norm(F.col(vec_col)),
                F.col("_qn"),
            ).alias("cosine"),
        )
    )
    short = (
        scored.orderBy(F.desc("cosine"), "neighbor_id")
        .limit(shortlist)
        .localCheckpoint(eager=False)
    )
    a = short.select(
        F.col("neighbor_id").alias("_i"),
        F.col("_v").alias("_va"),
        l2_norm(F.col("_v")).alias("_na"),
    )
    b = short.select(
        F.col("neighbor_id").alias("_j"),
        F.col("_v").alias("_vb"),
        l2_norm(F.col("_v")).alias("_nb"),
    )
    pair_rows = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("_i") != F.col("_j"))
        .select(
            "_i",
            "_j",
            cosine_from_norms(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ).alias("_c"),
        )
        .collect()
    )
    sim = {(r["_i"], r["_j"]): r["_c"] for r in pair_rows}
    cand = {
        r["neighbor_id"]: r["cosine"]
        for r in short.select("neighbor_id", "cosine").collect()
    }
    selected: list = []
    out_rows: list = []
    for rank in range(1, min(k, len(cand)) + 1):
        best = None
        for cid, cos_q in cand.items():
            if cid in (s for s, _ in selected):
                continue
            if selected:
                # TRUE max over selected (a negative max is a
                # diversity BONUS, as in the paper), not max(0, ·)
                m = max(sim[(cid, sid)] for sid, _ in selected)
                mmr = lam * cos_q - mu * m
            else:
                mmr = lam * cos_q
            key = (-mmr, cid)
            if best is None or key < best[0]:
                best = (key, cid, cos_q, mmr)
        selected.append((best[1], best[3]))
        out_rows.append((best[1], rank, best[2], best[3]))
    return local_frame(
        embeddings.sparkSession,
        out_rows, "neighbor_id bigint, rank int, cosine double, mmr double"
    )


def batch_topk_neighbors(
    embeddings: DataFrame,
    query_mod: int = 101,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-``k`` for a whole QUERY SET in one corpus
    scan: ``(query_id, rank, neighbor_id, cosine)`` for every query
    vector (``id % query_mod == 0`` — a deterministic in-corpus
    query sample). The serving/eval batch shape: recall sweeps and
    nightly eval harnesses score hundreds of queries, and scanning
    the corpus once per query multiplies the dominant cost by |Q| —
    this plan reads the corpus ONCE for all of them.

    Plan: the query matrix is collected (bounded: |corpus|/mod rows)
    and closed over by an Arrow ``mapInPandas`` kernel that scores
    each corpus batch against ALL queries with one numpy matmul and
    emits only each query's batch-local top-k under the global
    (cosine desc, neighbor_id asc) order — so the shuffle after the
    scan carries ≤ partitions × |Q| × k candidate rows, never
    |corpus| × |Q| pairs. A |Q|·k-row window then finishes the global
    rank. Self-matches are excluded.

    Float contract: numpy accumulates the dot in float64 with a
    different association than the oracle's sequential
    ``list_dot_product`` fold — equal to ~1 ulp per add, inside the
    compare tolerance; ranks are stable because the synthetic-corpus
    cosine gaps are orders of magnitude larger."""
    import numpy as np
    import pandas as pd

    q_rows = (
        embeddings.filter(F.col(id_col) % query_mod == 0)
        .select(id_col, vec_col)
        .collect()
    )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or q_ids.size == 0:
                yield pd.DataFrame(
                    {
                        "query_id": pd.Series(dtype="int64"),
                        "neighbor_id": pd.Series(dtype="int64"),
                        "cosine": pd.Series(dtype="float64"),
                    }
                )
                continue
            ids = pdf[id_col].to_numpy()
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            xn = np.sqrt((x * x).sum(axis=1))
            cos = (x @ q_mat.T) / np.outer(xn, q_norm)
            out_q, out_n, out_c = [], [], []
            for j in range(q_ids.size):
                c = cos[:, j]
                mask = ids != q_ids[j]  # no self-match
                cand_ids, cand_c = ids[mask], c[mask]
                # batch-local top-k under the GLOBAL tie order
                # (cosine desc, neighbor_id asc) — lexsort is
                # ascending, so sort on (-cosine, id)
                order = np.lexsort((cand_ids, -cand_c))[:k]
                out_q.append(np.full(order.size, q_ids[j]))
                out_n.append(cand_ids[order])
                out_c.append(cand_c[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    cand = embeddings.select(id_col, vec_col).mapInPandas(
        gen, "query_id bigint, neighbor_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "neighbor_id", "cosine")
    )


def embedding_diversity(
    embeddings: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_bits: int = 20,
) -> DataFrame:
    """Exact mean pairwise cosine within each group — the corpus
    DIVERSITY audit (a collapsing source or an over-aggressive dedup
    shows up as mean intra-group cosine drifting toward 1) — in ONE
    scan via the second-moment identity, never a pairwise join:

        Σ_{i≠j} ûᵢ·ûⱼ = ‖Σᵢ ûᵢ‖² − Σᵢ ‖ûᵢ‖²

    so the O(n²) statistic is one explode and two STACKED map-side-
    combinable aggregations over O(n·d) terms — per-(group, dim)
    partials carry Σq, Σq², and the row count, then collapse per
    group — with no join anywhere in the plan. At 100 TB the reduce
    state is |groups|·d cells — corpus-size-independent.

    Cross-engine determinism: unordered float sums would make the
    statistic partitioning-dependent, so components are quantized
    FIRST — ``q_d = floor(v_d / ‖v‖ · 2^quant_bits)`` (norm is the
    sequential-double ``l2_norm`` == DuckDB ``sqrt(list_dot_product)``
    on a DOUBLE[] cast; divide and multiply are single
    correctly-rounded IEEE ops in a fixed order; ``floor`` has no
    tie semantics) — and everything after is INTEGER arithmetic,
    associative and exact under any partitioning. The statistic is
    defined over the quantized grid (both engines compute it
    exactly); at 2⁻²⁰ per-component resolution the mean-cosine bias
    is < 2·d·2⁻²⁰ ≈ 1.2e-4 for d=64. decimal(38,0) headroom:
    ``Σ S_d² ≤ d·(n·2²⁰)²`` stays in range up to n ≈ 10⁹ rows per
    group, and the signed output divides |num| before re-applying
    the sign so Spark's truncating ``DIV`` and DuckDB's ``//`` agree
    on negative means.

    Zero-norm vectors carry no direction (cosine undefined) and are
    filtered; groups with fewer than 2 surviving rows are dropped
    (no pairs). Returns ``(group, n, mean_cos_bp)``.
    """
    scale = float(1 << quant_bits)
    norm = l2_norm(F.col(vec_col))
    rows = (
        embeddings.select(
            F.col(group_col).alias("g"),
            F.col(vec_col).alias("v"),
            norm.alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .select(
            "g",
            # the zero-norm rows are filtered above, but whole-stage
            # codegen fuses this projection INTO the filter's stage,
            # so under ANSI mode the division must still be safe on
            # the filtered-out rows — their quantized value is never
            # read, any non-zero denominator works
            F.transform(
                "v",
                lambda x: F.floor(
                    x.cast("double")
                    / F.when(F.col("_n") > 0, F.col("_n")).otherwise(
                        F.lit(1.0)
                    )
                    * F.lit(scale)
                ),
            ).alias("q"),
        )
    )
    dec = "decimal(38,0)"
    # ONE explode feeds both moments: per-(group, dim) partial sums
    # carry Σq (for ‖Σû‖²), Σq² (Σ_d Σ_i q² == Σ_i ‖q_i‖², so the
    # per-ROW squared norm never needs row identity), and the row
    # count (identical across dims of a fixed-dim embedding column)
    # — so the whole statistic is one scan and two stacked
    # map-side-combinable aggregations, with NO join anywhere.
    per_dim = (
        rows.select("g", F.posexplode("q").alias("d", "qd"))
        .groupBy("g", "d")
        .agg(
            F.sum("qd").alias("s"),
            F.sum((F.col("qd") * F.col("qd")).cast(dec)).alias("sqd"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    stats = per_dim.groupBy("g").agg(
        F.max("c").alias("n"),
        F.sum(F.col("s").cast(dec) * F.col("s").cast(dec)).alias("ss2"),
        F.sum("sqd").alias("sumsq"),
    )
    ksq = 1 << (2 * quant_bits)
    return (
        stats.filter(F.col("n") >= 2)
        .select(
            F.col("g").alias(group_col),
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                "CAST(CASE WHEN ss2 < sumsq THEN -((sumsq - ss2) * 10000"
                f" DIV (CAST(n AS decimal(38,0)) * (n - 1) * {ksq}))"
                " ELSE (ss2 - sumsq) * 10000"
                f" DIV (CAST(n AS decimal(38,0)) * (n - 1) * {ksq})"
                " END AS BIGINT)"
            ).alias("mean_cos_bp"),
        )
    )


def kmeans_lloyd_step(
    embeddings: DataFrame,
    n_centroids: int = 8,
    scale: int = 1 << 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One EXACT Lloyd iteration — the codebook-training step the IVF
    read path (ss2/ss3/ss10) consumes: assign every vector to its
    nearest seed centroid (cosine, ties to the lowest centroid id —
    the ss2 assignment semantics), then recompute each centroid as
    the per-dimension mean of its members, on a 2^-20 integer grid so
    the mean is exact under any partitioning.

    Scale shape — the canonical distributed k-means step: the k seed
    centroids (the first ``n_centroids`` stored vectors, a bounded-k
    driver shortlist) are inlined as literal arrays, so assignment is
    a ROW-LOCAL argmax (array_max over k (cos, -cid) structs — no
    scored-pair relation, no groupBy-argmax shuffle, no join); the
    M-step quantizes components to integers (``floor(x·2^20)``) and
    reduces per-(cluster, dim) partial sums map-side. ONE exchange
    total, carrying k×d aggregation cells — never rows. The corpus
    is read once and never shuffled.

    Cross-engine exactness: centroid norms are computed in driver
    Python with the same sequential IEEE-double fold Spark's
    ``aggregate`` and DuckDB's ``list_dot_product`` use, so every
    cosine is bit-identical to ss2's join form; the quantized M-step
    sums are pure integers with sign-safe division. Empty clusters
    simply emit no rows (a production trainer re-seeds them; the
    absent rows are the witness).

    Returns ``(cluster, dim, n_members, centroid_q)`` with
    ``centroid_q`` the new centroid component on the 2^-20 grid.
    """
    import math

    seed = sorted(
        (r[0], [float(x) for x in r[1]])
        for r in embeddings.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )

    def _norm(v: list[float]) -> float:
        s = 0.0
        for x in v:
            s = s + x * x
        return math.sqrt(s)

    vn = l2_norm(F.col(vec_col))
    choices = []
    for cid, cv in seed:
        c_lit = F.array(*[F.lit(x).cast("double") for x in cv])
        choices.append(
            F.struct(
                cosine_from_norms(
                    F.col(vec_col), c_lit, vn, F.lit(_norm(cv))
                ).alias("cos"),
                F.lit(-cid).cast("long").alias("ncid"),
            )
        )
    # array() drops struct field names (col1/col2) — restore them
    # with an explicit element-type cast before the field access
    choice_arr = F.array(*choices).cast(
        "array<struct<cos:double,ncid:bigint>>"
    )
    cluster = (-F.array_max(choice_arr)["ncid"]).cast("int")

    # materialization barrier: without it, whole-stage codegen
    # inlines the 8-fold argmax into the explode's consumer and
    # re-evaluates it PER ELEMENT (64×) — measured 6.9 s → 77.9 s at
    # sf1. The lazy checkpoint pins "assignment once per row, then
    # explode" (2.8 s + 0.4 s measured separately) and keeps the
    # plan shuffle-free up to the k×d aggregation.
    assigned = embeddings.select(
        cluster.alias("cluster"), F.col(vec_col).alias("_v")
    ).localCheckpoint(eager=False)
    comp = assigned.select(
        "cluster", F.posexplode(F.col("_v")).alias("dim", "x")
    )
    agg = comp.groupBy("cluster", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.floor(F.col("x").cast("double") * F.lit(float(scale))))
        .alias("sq"),
    )
    return agg.select(
        "cluster",
        "dim",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.expr(
            "CAST(CASE WHEN sq < 0 THEN -((-sq) DIV n_members)"
            " ELSE sq DIV n_members END AS BIGINT)"
        ).alias("centroid_q"),
    )


def ivf_nprobe_recall_curve(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 10,
    n_centroids: int = 8,
    max_probe: int = 4,
    query_cap: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The recall-vs-cost curve an IVF deployment is tuned on: for
    nprobe = 1..``max_probe``, mean recall@k against exact search
    AND the rows actually scanned — the two axes of the tradeoff,
    from ONE scoring pass. Returns one row per nprobe:
    ``(nprobe, n_queries, total_hits, recall_bp, scanned_rows)``.

    The prefix trick keeps it one pass: candidates are scored once
    at the WIDEST setting (each query's ``max_probe``
    cosine-nearest centroids, ranked), and every smaller nprobe is a
    prefix filter ``centroid_rank <= p`` over that relation — no
    re-scoring, no second corpus read. Queries and the probe table
    broadcast; the corpus never shuffles for scoring (the
    ann_recall_eval contract); per-query top-k windows run over
    candidate rows only. All outputs are exact integer ratios."""
    corpus = embeddings.select(
        F.col(id_col).alias("cid_"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    queries = embeddings.filter(
        (F.col(id_col) % query_mod == 0) & (F.col(id_col) < query_cap)
    ).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    cos = cosine_from_norms(
        F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("cid_") != F.col("qid"))
        .select("qid", "cid_", cos.alias("_cos"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_cos"), F.col("cid_"))
    exact = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("qid", F.col("cid_").alias("nn"))
    )

    cent = embeddings.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("_pcid"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    qrank = Window.partitionBy("qid").orderBy(
        F.desc("_ccos"), F.col("_pcid")
    )
    qprobe = (
        queries.crossJoin(F.broadcast(cent))
        .select(
            "qid",
            F.col("_pcid"),
            cosine_from_norms(
                F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
            ).alias("_ccos"),
        )
        .withColumn("crank", F.row_number().over(qrank))
        .filter(F.col("crank") <= max_probe)
        .select("qid", F.col("_pcid").alias("cluster"), "crank")
    )
    assign = ivf_assignments(embeddings, n_centroids, id_col, vec_col)
    cand = (
        scored.join(
            assign.select(F.col(id_col).alias("cid_"), "cluster"), "cid_"
        )
        .join(F.broadcast(qprobe), ["qid", "cluster"])
        .select("qid", "cid_", "_cos", "crank")
        .localCheckpoint(eager=False)
    )
    nq = queries.count()  # bounded: |corpus| / query_mod
    # nq == 0 would make the recall denominator 0: Spark's DIV 0
    # yields NULL while DuckDB's // 0 errors — clamp to 1 so the
    # degenerate empty-query case emits recall_bp 0 in both engines
    # (total_hits is necessarily 0 when there are no queries).
    denom = k * max(nq, 1)

    outs = []
    for p in range(1, max_probe + 1):
        sub = cand.filter(F.col("crank") <= p)
        ivf_topk = (
            sub.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select("qid", F.col("cid_").alias("nn"))
        )
        hits = ivf_topk.join(exact, ["qid", "nn"]).agg(
            F.count(F.lit(1)).cast("bigint").alias("total_hits")
        )
        scanned = sub.agg(
            F.count(F.lit(1)).cast("bigint").alias("scanned_rows")
        )
        outs.append(
            hits.crossJoin(F.broadcast(scanned)).select(
                F.lit(p).cast("int").alias("nprobe"),
                F.lit(nq).cast("bigint").alias("n_queries"),
                "total_hits",
                F.expr(
                    f"CAST((total_hits * 10000) DIV {denom}"
                    " AS BIGINT)"
                ).alias("recall_bp"),
                "scanned_rows",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
