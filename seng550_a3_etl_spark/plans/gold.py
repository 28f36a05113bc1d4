"""Gold fact-table pipeline — the reference's E1 stages 5-6 re-architected
(SURVEY.md §3.E1, §4).

Reference physical design → Spark equivalent:

- GIST/B-tree indexes (/root/reference/etl.py:224-249) → broadcast dims +
  grid-prefilter spatial join + date-partitioned parquet (partition
  pruning + min/max file skipping replace the B-tree).
- materialized view of the 3-way join (/root/reference/etl.py:251-288) →
  a persisted gold DataFrame written with ``save_gold``.
- denormalized fact table + incremental upsert
  (/root/reference/queries.py:94-161, etl.py:290-327) → ``build_facts``
  + ``refresh_gold_incremental``, which rewrites only the partitions a
  batch touches (Delta MERGE would make it transactional; the parquet
  path is idempotent via the strictly-newer guard).

Scale: the fact side (incidents) is never broadcast and shuffles at most
twice (spatial cell join if the polygon side is big — not here — and the
final write's partitioning); districts and the per-day weather dimension
broadcast.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seng550_a3_etl_spark.operators.dedup import (
    merge_upsert,
    merge_upsert_partitioned,
)
from seng550_a3_etl_spark.operators.spatial import points_in_polygons_join


def build_facts(
    incidents: DataFrame,
    districts: DataFrame,
    weather: DataFrame,
    incident_key: str,
    x: str,
    y: str,
    ts: str,
    polys_col: str = "polys",
    weather_date: str = "date",
) -> DataFrame:
    """The accident_facts join shape (/root/reference/queries.py:120-150):
    incidents ⟕ districts ON contains(district, point)
              ⟕ weather ON weather.date = incident_ts::date.

    Incidents with no containing district keep NULL district columns; the
    weather join is against a per-day dimension, so Catalyst broadcasts
    it and the incident side never shuffles."""
    with_district = points_in_polygons_join(
        incidents, districts, x, y, polys_col, how="left", point_key=incident_key
    )
    dated = with_district.withColumn("__d", F.col(ts).cast("date"))
    return (
        dated.join(
            F.broadcast(weather),
            dated["__d"] == weather[weather_date],
            "left",
        )
        .drop(weather_date)
        .withColumnRenamed("__d", "incident_date")
    )


def save_gold(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
) -> None:
    """Persist a gold table, date-partitioned — the matview equivalent.
    Partition columns become directory keys → static + dynamic partition
    pruning replace the reference's B-tree date indexes."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def refresh_gold_incremental(
    spark: SparkSession,
    path: str,
    new_batch: DataFrame,
    keys: Sequence[str],
    version_col: str,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Incremental fact refresh (/root/reference/etl.py:317-327): upsert a
    new batch into the persisted gold table at ``path`` under the
    strictly-newer guard and return the refreshed frame.

    - One partition column: ``merge_upsert_partitioned`` reads, merges
      and replaces only the partitions holding batch rows (a key's
      partition value must never change); the others stay
      byte-identical on disk. The swap is atomic per partition
      directory, not globally — safe because the strictly-newer merge
      converges when rerun after a partial failure.
    - No partition column: the whole table is merged into a staging
      copy, which then overwrites ``path``: Spark cannot overwrite a
      path it is reading, and the stage keeps a durable copy of the
      merged table should that overwrite fail.
    - More than one partition column: ``ValueError``.

    With Delta this becomes a single MERGE INTO."""
    if len(partition_by) > 1:
        raise ValueError(
            f"refresh_gold_incremental supports at most one partition "
            f"column, got {list(partition_by)}"
        )
    if partition_by:
        merge_upsert_partitioned(
            spark, path, new_batch, keys, version_col, partition_by[0]
        )
    else:
        current = spark.read.parquet(path)
        merged = merge_upsert(current, new_batch, keys, version_col)
        staging = path.rstrip("/") + "__staging"
        save_gold(merged, staging)
        save_gold(spark.read.parquet(staging), path)
    return spark.read.parquet(path)


def merge_aggregates(
    old: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    count_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
) -> DataFrame:
    """Incremental maintenance of an algebraic aggregate table: combine
    a persisted per-key aggregate with the aggregate of a new data slice
    — sum+sum, count+count, min(min), max(max) — instead of
    re-aggregating the full history.

    This is the gold-table pattern that keeps a 100 TB rollup cheap: the
    nightly job aggregates ONLY the new partition (its size, not the
    table's) and folds it in with a shuffle on |keys| rows of the two
    aggregate tables. Works for any algebraic aggregate; averages are
    carried as (sum, count) and divided at read time. Non-algebraic
    aggregates (exact median, distinct) need their own sketch — see
    operators/sketch.py for the KMV distinct path, which merges the
    same way.
    """
    keys = list(keys)
    combined = old.unionByName(delta).groupBy(*keys)
    aggs = (
        [F.sum(c).alias(c) for c in sum_cols]
        + [F.sum(c).alias(c) for c in count_cols]  # counts add
        + [F.min(c).alias(c) for c in min_cols]
        + [F.max(c).alias(c) for c in max_cols]
    )
    return combined.agg(*aggs)
