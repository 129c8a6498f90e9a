"""Physical-layout joins: bucketed co-location and salt-based skew spreading.

Two patterns that decide whether a 100-TB join is feasible at all:

**Bucketing** (``join_bucketed``): pre-hash-partition both fact tables
into the same number of buckets on the join key at WRITE time. A later
join on that key needs no Exchange — each task merge-joins bucket i of
both sides. On repeated joins (the normal warehouse situation: facts
joined daily) the shuffle is paid once at ingest instead of per query.
The demo writes both sides bucketed, joins through the table catalog, and
the plan-shape test asserts the join stage contains no Exchange.

**Salting** (``join_skew_salted``): a shuffled join on a skewed key sends
every row of the hot key to one reducer — at 100 TB a single straggler
task holds the job. Salting widens the key: the probe side gets a
deterministic salt in [0, S), the build side is replicated S ways, and
the join key becomes (key, salt) — the hot key's rows now spread over S
tasks. AQE's skew-join handles moderate skew automatically; explicit
salting is the tool when one key dominates a partition by orders of
magnitude. The oracle is the plain unsalted join, proving salting is
result-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dsum, dsum_sql
from ..registry import register
from ..session import SCRATCH

_N_BUCKETS = 8
_SALT = 8


def _bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """Write a fixture table bucketed on ``key`` (once per sf_dir per
    process) and return it through the catalog, bucket metadata attached.

    Naming: a stable crc32 digest of sf_dir (never PYTHONHASHSEED-
    randomized str hash, and no hashlib.md5 — FIPS hosts reject it). The
    copies live under the per-process scratch root: each process has a
    fresh in-memory metastore, so two processes would both pass the
    tableExists check and overwrite a shared path mid-read."""
    import zlib

    digest = f"{zlib.crc32(sf_dir.encode()):08x}"
    tbl = f"bkt_{name}_{digest}"
    if not spark.catalog.tableExists(tbl):
        (
            load_table(spark, sf_dir, name)
            .write.bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(SCRATCH, tbl))
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    return spark.table(tbl)


@register(
    "join_bucketed",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       {dsum_sql('l_quantity', 'sum_qty', 2)}
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via co-bucketed storage layout.

    Both sides are bucketed on the join key with the same bucket count,
    so the sort-merge join reads co-located buckets directly — zero
    Exchange nodes in the join stage (asserted in tests/test_plan_shape).
    The ``merge`` hint pins sort-merge so the demo doesn't degrade to a
    broadcast at fixture scale.
    """
    o = _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity", "sum_qty", 2),
        )
    )


@register(
    "join_skew_salted",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_lines,
       {dsum_sql('l_extendedprice', 'sum_price', 4)}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: spread a hot key over ``_SALT`` reducers.

    The probe (big) side computes a deterministic salt from a non-key
    column; the build side is exploded into all salt values (S× build-side
    replication — cheap when the build side is the smaller fact). Joining
    on (key, salt) splits each key's rows across S tasks. The oracle is
    the unsalted join: identical results, different physical spread.
    """
    # 0-based salt: l_linenumber is 1..7, so a bare `% _SALT` would never
    # produce salt 0 — one build-side replica per key would join nothing
    # and the hot key would spread over only _SALT-1 reducers.
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", ((F.col("l_linenumber") - 1) % _SALT).cast("int")
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT)]))
    )
    return (
        li.hint("shuffle_hash")
        .join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", "sum_price", 4),
        )
    )
