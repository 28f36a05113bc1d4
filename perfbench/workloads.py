"""The benchmark's two workloads.

Each workload is a closed loop: one client in one process issues its
operations one after another. An operation is a builder call plus the
action that materializes its result (``toPandas``); the outputs are kept
so they can be checked against their oracles after the timed window.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

from perfbench import check, datagen

# --- operation lists ---------------------------------------------------------
# Each list is trimmed from the workload's full query family to fit the
# run budget; the comment says which property the trim keeps.

# Short relational, spatial and window reads: per-job-overhead bound, no
# session caches.
DASHBOARD_QUERIES = [
    "nation_order_counts", "district_point_counts",
    "point_district_assignment", "event_ohlc_bars", "latest_event_per_user",
]

# The batch job's two query families, run in one fresh session per pass.
# Vectors: exec-bound higher-order-function ``dot`` kernels; builds both
# vector session caches (_ANN_CACHE, _ASSIGN_CACHE) with eager jobs while
# building, and hits one again.
VECTOR_QUERIES = [
    "embedding_topk", "knn_label_consensus", "knn_hubness_census",
    "semantic_dedup_clusters",
]
# Text: the text, hashing and text-dedup layers; builds two of the seven
# text session caches (shingle sets, MinHash signatures) and hits the
# shared one; includes the slowest suite query. No ``dot`` kernels.
TEXT_QUERIES = ["curation_pipeline_full", "minhash_dup_pairs"]

N_INCIDENTS = 15_000
BATCH_UPDATES, BATCH_INSERTS = 600, 150


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded operation order of one pass."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


class Workload:
    """A suite workload over the generated catalog."""

    fresh_session = False
    queries: list[str] = []

    def __init__(self, ctx, data_dir: Path, work: Path, seed: int):
        self.ctx, self.work, self.seed = ctx, work, seed
        self.sf = str(data_dir)
        # Per timed pass: the refreshed table's files and the batch read.
        self.refresh_notes: list[dict] = []

    def setup(self) -> None:
        from seng550_a3_etl_spark.suite import QUERIES

        self.builders = {n: QUERIES[n] for n in self.queries}

    def op_names(self) -> list[str]:
        return list(self.queries)

    def pass_ops(self, pass_no: int) -> list[str]:
        return pass_order(self.op_names(), self.seed, pass_no)

    def before_pass(self, pass_no: int) -> None:
        """Untimed preparation of a pass."""

    def after_timed_pass(self, pass_no: int) -> None:
        """Untimed bookkeeping after a timed pass."""

    def run_op(self, name: str):
        spark = self.ctx.spark
        with self.ctx.span("suite", f"suite.build.{name}"):
            df = self.builders[name](spark, self.sf)
        return self.ctx.execute(name, df)

    def check_output(self, pass_no: int, name: str, pdf) -> str | None:
        from seng550_a3_etl_spark.suite import ORACLES

        return check.parity_error(pdf, ORACLES[name], self.sf, name)


class DashboardEtl(Workload):
    """One warm session serving dashboard reads over a gold fact table
    that each pass refreshes incrementally first."""

    queries = DASHBOARD_QUERIES

    def setup(self) -> None:
        super().setup()
        from seng550_a3_etl_spark.functions import geo
        from seng550_a3_etl_spark.plans import gold
        from seng550_a3_etl_spark.sources import files

        self.gold, self.files = gold, files
        spark = self.ctx.spark
        dash = self.work / "dashboard"
        self.base_path = dash / "incidents_base.parquet"
        self.weather_path = dash / "weather.parquet"
        datagen.write_table(datagen.incidents(N_INCIDENTS), self.base_path)
        datagen.write_table(datagen.weather(), self.weather_path)
        self.gold_base = dash / "gold_base"
        self.gold_path = dash / "gold"
        self.batch_dir = dash / "batches"
        districts = spark.createDataFrame(
            datagen.districts_wkt(), "district string, wkt string"
        )
        self.districts = districts.select(
            "district", geo.parse_wkt_multipolygon(districts["wkt"]).alias("polys")
        )
        self.weather = files.read_files(spark, str(self.weather_path))
        facts = self._facts(files.read_files(spark, str(self.base_path)))
        gold.save_gold(facts, str(self.gold_base), ["incident_date"])
        self.reads = viz_reads(self)
        self.snapshots: dict[int, tuple[Path, Path]] = {}

    def _facts(self, incidents):
        return self.gold.build_facts(
            incidents, self.districts, self.weather,
            incident_key="incident_id", x="px", y="py", ts="start_dt",
        )

    def op_names(self) -> list[str]:
        return sorted(self.reads) + list(self.queries)

    def pass_ops(self, pass_no: int) -> list[str]:
        # The refresh comes first; the reads see the refreshed table.
        return ["gold_refresh"] + super().pass_ops(pass_no)

    def batch_path(self, pass_no: int) -> Path:
        path = self.batch_dir / f"batch_{pass_no}.parquet"
        if not path.exists():
            base = datagen.read_table(self.base_path)
            batch = datagen.refresh_batch(
                base, self.seed, pass_no, BATCH_UPDATES, BATCH_INSERTS
            )
            datagen.write_table(batch, path)
        return path

    def restore_gold(self) -> None:
        shutil.rmtree(self.gold_path, ignore_errors=True)
        shutil.copytree(self.gold_base, self.gold_path)

    def before_pass(self, pass_no: int) -> None:
        # Every pass refreshes the same base table, so no pass grows it.
        self.restore_gold()
        self.batch = self.batch_path(pass_no)

    def refresh(self, batch: Path):
        spark = self.ctx.spark
        facts = self._facts(self.files.read_files(spark, str(batch)))
        return self.gold.refresh_gold_incremental(
            spark, str(self.gold_path), facts, ["incident_id"],
            "modified_dt", ["incident_date"],
        )

    def after_timed_pass(self, pass_no: int) -> None:
        """Keep the refreshed table a timed pass read, for the check."""
        dst = self.work / "dashboard" / "snapshots" / str(pass_no)
        shutil.copytree(self.gold_path, dst)
        self.snapshots[pass_no] = (dst, self.batch)
        files = list(dst.rglob("*.parquet"))
        self.refresh_notes.append({
            "pass": pass_no,
            "files": len(files),
            "bytes": sum(f.stat().st_size for f in files),
            "batch_bytes": self.batch.stat().st_size,
            "batch_rows": datagen.read_table(self.batch).num_rows,
        })

    def check_output(self, pass_no: int, name: str, pdf) -> str | None:
        snap, batch = self.snapshots[pass_no]
        if name == "gold_refresh":
            return check.parity_error(
                check.read_gold(snap), gold_replay_sql(self, [batch]), self.sf, name
            )
        if name in self.reads:
            return check.parity_error(pdf, viz_oracles(self, snap)[name], self.sf, name)
        return super().check_output(pass_no, name, pdf)

    def run_op(self, name: str):
        if name == "gold_refresh":
            self.refresh(self.batch)
            return None
        if name in self.reads:
            with self.ctx.span("viz", f"viz.build.{name}"):
                df = self.reads[name]()
            return self.ctx.execute(name, df)
        return super().run_op(name)


def viz_reads(w: DashboardEtl) -> dict:
    """The reference dashboard's reads over the refreshed gold table:
    the filtered per-district extract, districts with counts, daily
    weather with counts, and the map's scalar statistics."""
    from pyspark.sql import functions as F

    spark, files, gold_path = w.ctx.spark, w.files, str(w.gold_path)
    names = w.districts.select("district")

    def gold():
        return files.read_files(spark, gold_path)

    def filtered():
        g = gold()
        f = g.filter(
            F.col("incident_date").between(F.lit(VIZ_FROM), F.lit(VIZ_TO))
            & F.col("district").isin(*VIZ_DISTRICTS)
            & F.col("total_precip_mm").between(0.0, 20.0)
            & (F.col("total_precip_mm") > 0)
        )
        counts = f.groupBy("district").agg(F.count("*").alias("n"))
        return names.join(counts, "district", "left").fillna(0, ["n"])

    def district_counts():
        counts = gold().groupBy("district").agg(
            F.count("incident_id").alias("accidents")
        )
        return names.join(counts, "district", "left").fillna(0, ["accidents"])

    def daily_weather():
        counts = gold().groupBy("incident_date").agg(
            F.count("incident_id").alias("accidents")
        )
        wx = w.weather
        return (
            wx.join(counts, wx["date"] == counts["incident_date"], "left")
            .select(
                F.date_format("date", "yyyy-MM-dd").alias("date"),
                "min_temp_c", "max_temp_c", "total_precip_mm",
                F.coalesce("accidents", F.lit(0)).alias("accidents"),
            )
            .orderBy("date")
        )

    def map_stats():
        return gold().agg(
            F.date_format(F.min("incident_date"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("incident_date"), "yyyy-MM-dd").alias("last_day"),
            F.round(F.avg("max_temp_c"), 6).alias("avg_max_temp"),
            F.median("px").alias("median_x"),
            F.median("py").alias("median_y"),
            F.count("*").alias("n"),
        )

    def severity_mix():
        return gold().groupBy("district", "severity").agg(
            F.count("*").alias("n"), F.round(F.sum("px"), 6).alias("sum_x")
        )

    return {
        "viz_filtered_districts": filtered,
        "viz_district_counts": district_counts,
        "viz_daily_weather": daily_weather,
        "viz_map_stats": map_stats,
        "viz_severity_mix": severity_mix,
    }


VIZ_FROM, VIZ_TO = "2024-01-05", "2024-01-20"
VIZ_DISTRICTS = [f"district_{i:02d}" for i in (1, 2, 3, 8, 9, 12, 13, 17, 18, 24)]


def viz_oracles(w: DashboardEtl, gold_path: Path) -> dict[str, str]:
    """DuckDB SQL for each dashboard read, over the gold files it read."""
    gold = (
        f"(SELECT * REPLACE (CAST(incident_date AS DATE) AS incident_date) "
        f"FROM read_parquet('{gold_path}/**/*.parquet', hive_partitioning = true))"
    )
    names = ", ".join(f"('{n}')" for n, _ in datagen.districts_wkt())
    districts = f"(SELECT * FROM (VALUES {names}) t(district))"
    weather = f"read_parquet('{w.weather_path}')"
    sel = ", ".join(f"'{d}'" for d in VIZ_DISTRICTS)
    return {
        "viz_filtered_districts": f"""
            WITH f AS (
              SELECT district, COUNT(*) AS n FROM {gold} g
              WHERE incident_date BETWEEN DATE '{VIZ_FROM}' AND DATE '{VIZ_TO}'
                AND district IN ({sel})
                AND total_precip_mm BETWEEN 0 AND 20 AND total_precip_mm > 0
              GROUP BY district)
            SELECT d.district, COALESCE(f.n, 0) AS n
            FROM {districts} d LEFT JOIN f USING (district)""",
        "viz_district_counts": f"""
            WITH c AS (SELECT district, COUNT(incident_id) AS accidents
                       FROM {gold} g GROUP BY district)
            SELECT d.district, COALESCE(c.accidents, 0) AS accidents
            FROM {districts} d LEFT JOIN c USING (district)""",
        "viz_daily_weather": f"""
            WITH c AS (SELECT incident_date, COUNT(incident_id) AS accidents
                       FROM {gold} g GROUP BY incident_date)
            SELECT strftime(w.date, '%Y-%m-%d') AS date, w.min_temp_c,
                   w.max_temp_c, w.total_precip_mm,
                   COALESCE(c.accidents, 0) AS accidents
            FROM {weather} w LEFT JOIN c ON c.incident_date = w.date""",
        "viz_map_stats": f"""
            SELECT strftime(MIN(incident_date), '%Y-%m-%d') AS first_day,
                   strftime(MAX(incident_date), '%Y-%m-%d') AS last_day,
                   ROUND(AVG(max_temp_c), 6) AS avg_max_temp,
                   MEDIAN(px) AS median_x, MEDIAN(py) AS median_y,
                   COUNT(*) AS n
            FROM {gold} g""",
        "viz_severity_mix": f"""
            SELECT district, severity, COUNT(*) AS n,
                   ROUND(SUM(px), 6) AS sum_x
            FROM {gold} g GROUP BY district, severity""",
    }


def gold_replay_sql(w: DashboardEtl, batches: list[Path]) -> str:
    """DuckDB latest-wins replay of the base extract and ``batches``: per
    incident the strictly newest version, ties kept by the earliest
    arrival, then the fact join by district rectangle and day."""
    parts = [f"SELECT *, 0 AS src FROM read_parquet('{w.base_path}')"] + [
        f"SELECT *, {i + 1} AS src FROM read_parquet('{b}')"
        for i, b in enumerate(batches)
    ]
    rects = ", ".join(
        f"('{n}', {(int(n[-2:]) % datagen.DISTRICT_GRID) * 10.0}, "
        f"{(int(n[-2:]) // datagen.DISTRICT_GRID) * 10.0})"
        for n, _ in datagen.districts_wkt()
    )
    return f"""
        WITH inc AS ({' UNION ALL '.join(parts)}),
        latest AS (
          SELECT * FROM inc QUALIFY row_number() OVER (
            PARTITION BY incident_id ORDER BY modified_dt DESC, src ASC) = 1),
        d AS (SELECT * FROM (VALUES {rects}) t(district, x0, y0))
        SELECT l.incident_id, l.start_dt, l.modified_dt, l.px, l.py,
               l.severity, d.district, w.min_temp_c, w.max_temp_c,
               w.total_precip_mm,
               strftime(CAST(l.start_dt AS DATE), '%Y-%m-%d') AS incident_date
        FROM latest l
        LEFT JOIN d ON l.px >= d.x0 AND l.px < d.x0 + 10
                   AND l.py >= d.y0 AND l.py < d.y0 + 10
        LEFT JOIN read_parquet('{w.weather_path}') w
               ON w.date = CAST(l.start_dt AS DATE)"""


class BatchDedup(Workload):
    """A batch semantic and lexical near-duplicate job over ``embeddings``
    and ``documents``, in a fresh session per pass."""

    fresh_session = True
    queries = VECTOR_QUERIES + TEXT_QUERIES


WORKLOADS = {
    "dashboard_etl": DashboardEtl,
    "batch_dedup": BatchDedup,
}
