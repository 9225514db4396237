"""Fixed cost of the graph algorithms' driver tier, pinned in Spark jobs.

Below ``DRIVER_GRAPH_EDGES`` each take-based algorithm (LPA, k-core,
SCC, PageRank, personalized PageRank, HITS) fetches its edge list with
one ``take``, solves at the driver and returns a local relation. At
registry scale that tier's wall time is its job count, so the counts
are pinned here: a tier change that adds a job (a second fetch, an
unfused probe, a result that re-reads its input) fails.

Inputs are single-partition ``spark.range`` relations, so the ``take``
is one job whatever the core count. Jobs are counted by job group,
once for the call itself and once for collecting its result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe import (
    clusters,
    hits,
    pagerank,
)


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _graph(spark):
    # 12 directed edges x -> 3x+1 (mod 8): two 4-cycles over ids 0..7,
    # four edges doubled; nodes 0..9 (8 and 9 sit outside the edge set)
    edges = spark.range(0, 12, numPartitions=1).select(
        (F.col("id") % 8).alias("src"), ((F.col("id") * 3 + 1) % 8).alias("dst")
    )
    nodes = spark.range(0, 10, numPartitions=1)
    seeds = spark.range(0, 2, numPartitions=1)
    return edges, nodes, seeds


CASES = {
    # name -> (call, jobs in the call, jobs collecting the result)
    "label_propagation_communities": (
        lambda e, n, s: clusters.label_propagation_communities(
            e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        ),
        1,
        0,
    ),
    "k_core": (
        lambda e, n, s: clusters.k_core(
            e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        ),
        1,
        0,
    ),
    "strongly_connected_components": (
        lambda e, n, s: clusters.strongly_connected_components(e),
        1,
        0,
    ),
    "pagerank": (
        lambda e, n, s: pagerank.pagerank(
            e, n, ordered=True, nodes_cover_edges=True
        ),
        1,
        2,
    ),
    "pagerank_tol_dangling": (
        lambda e, n, s: pagerank.pagerank(
            e, n, ordered=True, tol=0.0, dangling=True, nodes_cover_edges=True
        ),
        2,
        2,
    ),
    "pagerank_probe": (
        lambda e, n, s: pagerank.pagerank(e, n, ordered=True),
        3,
        2,
    ),
    "personalized_pagerank": (
        lambda e, n, s: pagerank.personalized_pagerank(
            e, n, s, ordered=True, nodes_cover_edges=True
        ),
        3,
        3,
    ),
    "personalized_pagerank_probe": (
        lambda e, n, s: pagerank.personalized_pagerank(
            e, n, s, ordered=True
        ),
        5,
        3,
    ),
    "hits_scores_probe": (
        lambda e, n, s: hits.hits_scores(e, n),
        3,
        2,
    ),
    "hits_scores": (
        lambda e, n, s: hits.hits_scores(e, n, nodes_cover_edges=True),
        1,
        2,
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_driver_tier_job_counts(spark, name):
    call, want_call, want_collect = CASES[name]
    e, n, s = _graph(spark)
    out, n_call = _jobs(spark, f"tier-call-{name}", lambda: call(e, n, s))
    # the driver tier answers with a local relation
    assert "LocalRelation" in out._jdf.queryExecution().analyzed().toString()
    rows, n_collect = _jobs(spark, f"tier-collect-{name}", out.collect)
    assert rows
    assert (n_call, n_collect) == (want_call, want_collect)
