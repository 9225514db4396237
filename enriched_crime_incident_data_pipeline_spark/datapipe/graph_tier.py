"""The driver tier the graph algorithms share.

Near-dup, citation and link graphs grow with the number of duplicates,
not documents, so even a 100 TB corpus's graph is usually thousands of
edges. Below ``DRIVER_GRAPH_EDGES`` edges an algorithm therefore pulls
its edge list to the driver with ONE ``take`` (:func:`_fetch_edges`):
the single pass a sizing ``count`` would cost, but the rows come with
it. It then solves at the driver with the exact recurrence of its
distributed tier (integer sums, comparisons, or the same ordered float
fold), so driver == distributed row for row. The answer returns as a
plan-embedded local relation: no per-round join+agg+checkpoint jobs,
and every downstream join against it is broadcast-eligible, since a
local relation has a known, tiny size. Graphs past the cap keep the
distributed plan, and the take's wasted work is bounded at cap+1 rows.
``driver_graph_edges=0`` forces the distributed tier.

An algorithm whose distributed state lives on a caller's node relation
(PageRank, HITS) also needs to know which endpoints are nodes
(:func:`_probe`), and returns its driver values keyed onto that
relation with a background value for the rest (:func:`_node_keyed`).
The others answer with a bare ``(node, value)`` frame
(:func:`_node_frame`). Connected components sizes its input with a
``count`` instead of the take (see ``clusters.connected_components``)
and shares only the result frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

from enriched_crime_incident_data_pipeline_spark.session import local_frame

# Edge-count ceiling of the driver tier. 50k edges is about 2 MB of
# local relation in the plan, comfortably below task-serialization
# pain. Connected components keeps an executor single-task tier
# between this and ``clusters.SMALL_GRAPH_EDGES``, which keeps the
# data off the driver.
DRIVER_GRAPH_EDGES = 50_000


def _fetch_edges(e_proj: DataFrame, cap: int) -> list | None:
    """The edge rows when there are at most ``cap`` of them (one
    ``take(cap + 1)``), else ``None``. ``cap <= 0`` runs nothing."""
    if cap <= 0:
        return None
    head = e_proj.take(cap + 1)
    return head if len(head) <= cap else None


def _probe(
    ids: DataFrame,
    keys: list,
    covered: bool = False,
    count: bool = False,
    key_t: DataType | None = None,
) -> tuple[set, int | None]:
    """``(keys ∩ ids.id, |ids| if count else None)``.

    The distributed iterates key their state on the node relation, so
    an endpoint outside it never holds or passes on rank or hub score;
    the driver iterate needs the same membership to match them
    exactly. The probe is one column-pruned scan of ``ids``
    semi-joined against the broadcast keys (at most 2·cap of them), so
    the collect is bounded by the key count, never ``|ids|``; when the
    node count is needed too it rides the same job (a left-mark join
    aggregated to ``count(*)`` plus the marked ids). ``covered`` is the
    caller's promise that every key is in ``ids`` (the registry builds
    its graphs that way), which skips the probe: it measured about
    0.35 s per call at sf0.1 to prove a fact the caller already knows.
    ``key_t`` types the keys (default: ``ids.id``'s type)."""
    if covered or not keys:
        return set(keys), ids.count() if count else None
    key_df = local_frame(
        ids.sparkSession,
        [(k,) for k in keys],
        StructType([StructField("id", key_t or ids.schema["id"].dataType)]),
    )
    if not count:
        hits = ids.join(F.broadcast(key_df), "id", "leftsemi").collect()
        return {r[0] for r in hits}, None
    row = (
        ids.join(F.broadcast(key_df.withColumn("_m", F.lit(1))), "id", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(F.col("_m") == 1, F.col("id"))).alias("mem"),
        )
        .collect()[0]
    )
    return set(row["mem"]), row["n"]


def _node_keyed(
    ids: DataFrame, rows: list, fields: list[StructField], fill: Column
) -> DataFrame:
    """Driver ``rows`` (``(id, *fields)`` tuples) keyed onto every row of
    ``ids`` by one broadcast left join; ids without a row get
    ``fill`` in each field. Returns ``("id", *fields)``."""
    local = local_frame(
        ids.sparkSession,
        rows,
        StructType([StructField("id", ids.schema["id"].dataType), *fields]),
    )
    return ids.join(F.broadcast(local), "id", "left").select(
        "id",
        *(
            F.coalesce(f.name, fill).cast(f.dataType).alias(f.name)
            for f in fields
        ),
    )


def _node_frame(
    spark: SparkSession,
    rows: list,
    node_t: DataType,
    name: str,
    value_t: DataType | None = None,
) -> DataFrame:
    """Driver ``(node, value)`` rows as a local ``(node, <name>)``
    relation; the value has the node's type unless ``value_t``."""
    return local_frame(
        spark,
        rows,
        StructType(
            [StructField("node", node_t), StructField(name, value_t or node_t)]
        ),
    )
