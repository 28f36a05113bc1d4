"""Output check, run once per run outside the timed window.

Every kept output is compared with its DuckDB oracle by the suite's own
comparison (``tests/oracle_harness.assert_parity``: row count, column
names and an order-insensitive canonical value set).
"""

from __future__ import annotations

import hashlib
import pickle
from pathlib import Path

from tests import oracle_harness


class Frozen:
    """An already-collected output, in the shape ``assert_parity`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors the DataFrame method
        return self._pdf


class OracleCache:
    """Memoizes oracle answers over the fixed generated catalog.

    The catalog is byte-identical in every run, so an answer is keyed by
    the catalog's content hash and the oracle SQL, and kept on disk under
    ``cache_dir`` for later runs. Other SQL (over per-pass files) is
    only memoized within the run."""

    def __init__(self, catalog_dir: Path, cache_dir: Path):
        self.catalog_dir = str(catalog_dir)
        digest = hashlib.sha256()
        for f in sorted(catalog_dir.glob("*.parquet")):
            digest.update(f.name.encode() + f.read_bytes())
        self.catalog_hash = digest.hexdigest()
        self.cache_dir = cache_dir
        self._memo: dict[tuple[str, str], object] = {}
        self._run = oracle_harness.run_oracle

    def __call__(self, sql: str, sf_dir: str):
        key = (sql, sf_dir)
        if key in self._memo:
            return self._memo[key]
        path = None
        if sf_dir == self.catalog_dir and "read_parquet(" not in sql:
            name = hashlib.sha256((self.catalog_hash + sql).encode()).hexdigest()
            path = self.cache_dir / f"{name}.pkl"
            if path.exists():
                self._memo[key] = pickle.loads(path.read_bytes())
                return self._memo[key]
        out = self._run(sql, sf_dir)
        if path is not None:
            path.parent.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(".tmp")
            tmp.write_bytes(pickle.dumps(out))
            tmp.replace(path)
        self._memo[key] = out
        return out


def install_oracle_cache(catalog_dir: Path, cache_dir: Path) -> None:
    oracle_harness.run_oracle = OracleCache(catalog_dir, cache_dir)


def parity_error(pdf, sql: str, sf_dir: str, name: str) -> str | None:
    """None when ``pdf`` matches the oracle, else the mismatch."""
    try:
        oracle_harness.assert_parity(Frozen(pdf), sql, sf_dir, name=name)
    except AssertionError as e:
        return str(e)[:300]
    return None


def read_gold(path: Path):
    """A gold table as written, read with DuckDB (not Spark), with the
    date partition key as an ISO string like the replay oracle's."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.sql(
            "SELECT * REPLACE (strftime(CAST(incident_date AS DATE), '%Y-%m-%d')"
            " AS incident_date) FROM read_parquet("
            f"'{path}/**/*.parquet', hive_partitioning = true)"
        ).df()
    finally:
        con.close()
