"""Frequency ranks (reference §2 A1/A2 + W1/W2 + J4).

The reference runs
``RANK() OVER (ORDER BY COUNT(*) DESC)`` on ``GROUP BY location`` /
``GROUP BY nature`` CTEs and UPDATE-joins the rank back
(/root/reference/src/db/incidents.py:64-74). RANK semantics: ties
share a rank and leave gaps (not dense_rank / row_number).

Scale design: a global ``Window.orderBy`` collapses to a single
partition, and even windowing over the grouped key table is a global
sort of the whole key domain (billions of keys for a high-cardinality
dimension). RANK by descending count depends only on the count
*value*: ``rank(c) = 1 + Σ_{c' > c} |keys with count c'|``. So we
aggregate twice — keys→counts (wide, map-side combined), then
counts→(count value, n_keys) (tiny: distinct frequency values, which
are heavy-tailed integers) — run the one unavoidable ordered window
over that value histogram, and broadcast the value→rank map back.
No stage ever sorts more than |distinct count values| rows.

One shared table for every key: ranking location and nature one after
the other ran each rank as its own small DAG (two key aggregations,
because the join-back's inferred ``isnotnull(key)`` reached only one
copy of the counts; the histogram; the window; two broadcasts), about
12 Spark jobs for a pair of ranks whatever the table size. Here every
key is one tagged ``(key id, value)`` pair of a single ``explode``, so
one count aggregation, one ``(key id, freq)`` histogram and one window
partitioned by key id rank them all, and one broadcast rank table is
joined back once per key. Each join-back probes ``struct(key id,
value)`` against the same unchanged table, so its plan is identical
for every key and AQE reuses the one broadcast exchange.

NULL keys: the reference's ``GROUP BY`` keeps a NULL group, and its
frequency takes a slot in the histogram (it shifts the ranks of rarer
keys), but its UPDATE-join ``i.location = r.location`` never matches a
NULL, so NULL rows keep a NULL rank. The table keeps the NULL group
likewise; a NULL probe is a NULL struct, which matches nothing (a
struct with a NULL field would compare equal to the table's NULL
group).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _tagged(i: int, value: Column) -> Column:
    return F.struct(F.lit(i).alias("_k"), value.alias("_v"))


def _rank_table(df: DataFrame, keys: list[str]) -> DataFrame:
    """``_kv struct<_k: key id, _v: value>, _rank``: RANK() by
    descending frequency of each key's values, all keys in one
    aggregation (Spark's ``array`` must find the keys one common
    type)."""
    pairs = F.array(*[_tagged(i, F.col(k)) for i, k in enumerate(keys)])
    counts = (
        df.select(F.explode(pairs).alias("_kv"))
        .groupBy("_kv")
        .agg(F.count(F.lit(1)).alias("_freq"))
        .withColumn("_k", F.col("_kv._k"))
    )
    hist = counts.groupBy("_k", "_freq").agg(F.count(F.lit(1)).alias("_n_keys"))
    w = Window.partitionBy("_k").orderBy(F.desc("_freq"))  # |count values| rows per key
    val_rank = hist.select(
        "_k",
        "_freq",
        (F.lit(1) + F.sum("_n_keys").over(w) - F.col("_n_keys")).cast("int").alias("_rank"),
    )
    return counts.join(F.broadcast(val_rank), ["_k", "_freq"]).select("_kv", "_rank")


def frequency_rank_table(df: DataFrame, key: str, rank_col: str) -> DataFrame:
    """``key, <rank_col>`` table: RANK() by descending frequency of
    ``key`` in ``df``. Exact SQL RANK tie semantics (ties share a
    rank, gaps follow), computed from the count-value histogram so no
    global sort of the key domain occurs. A NULL key is a group of its
    own, as in SQL ``GROUP BY``."""
    return _rank_table(df, [key]).select(
        F.col("_kv._v").alias(key), F.col("_rank").alias(rank_col)
    )


def with_frequency_ranks(df: DataFrame, ranks: dict[str, str]) -> DataFrame:
    """Attach, for each ``key -> rank_col`` of ``ranks``, the
    frequency rank of ``key`` to every row (J4 join-back); NULL keys
    get a NULL rank. The rank table is orders-of-magnitude smaller
    than the fact table — broadcast it so the fact side never
    shuffles."""
    table = F.broadcast(_rank_table(df, list(ranks)))
    for i, (key, rank_col) in enumerate(ranks.items()):
        probe = F.when(F.col(key).isNotNull(), _tagged(i, F.col(key)))
        df = (
            df.withColumn("_kv", probe)
            .join(table, "_kv", "left")
            .drop("_kv")
            .withColumnRenamed("_rank", rank_col)
        )
    return df


def with_frequency_rank(df: DataFrame, key: str, rank_col: str) -> DataFrame:
    """One-key ``with_frequency_ranks``."""
    return with_frequency_ranks(df, {key: rank_col})
