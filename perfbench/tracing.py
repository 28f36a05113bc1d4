"""Layer tracing for the benchmark's traced runs.

Wraps the package's public entry points in spans (name, start, end,
parent, workload, pass and operation ids), attributes Spark jobs to the
innermost span that set a job group, and reads per-stage metrics from
Spark's status store. Spans stay in memory until the run writes them.

``install`` must run before ``seng550_a3_etl_spark.suite`` is imported,
so the suite's ``from ... import`` statements bind the wrappers; it also
rebinds names already imported elsewhere in the package.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Layer name -> module whose public functions are wrapped. Function
# layers only build Column trees, so their spans set no job group.
FUNCTION_LAYERS = {
    f"functions.{m}": f"seng550_a3_etl_spark.functions.{m}"
    for m in ("geo", "text", "hashing", "vectors")
}
OPERATOR_LAYERS = {
    f"operators.{m}": f"seng550_a3_etl_spark.operators.{m}"
    for m in (
        "similarity", "clustering", "text_dedup", "decontaminate",
        "spatial", "joins", "dedup",
    )
}
PACKAGE = "seng550_a3_etl_spark"

# Suite modules holding module-level session caches (dicts named *_CACHE).
CACHE_MODULES = (
    "seng550_a3_etl_spark.suite.text",
    "seng550_a3_etl_spark.suite.vectors",
    "seng550_a3_etl_spark.suite.analytics",
    "seng550_a3_etl_spark.suite.text_lm",
    "seng550_a3_etl_spark.suite.streaming_suite",
)

STAGE_FIELDS = {
    # status-store getter -> (metric key, scale)
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorRunTime": ("run_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "outputBytes": ("output_mb", 1 / 2**20),
}


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Span:
    __slots__ = (
        "id", "name", "layer", "parent", "start", "end", "attrs",
        "group", "stats", "children_s",
    )

    def __init__(self, sid, name, layer, parent, attrs, group):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.attrs, self.group = attrs, group
        self.start = time.perf_counter()
        self.end = None
        self.stats: dict[str, float] = {}
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer,
            "parent": self.parent, "start": self.start, "end": self.end,
            "self_s": self.self_s, **self.attrs, **self.stats,
        }


class Tracer:
    """Span recorder. Disabled, its wrappers call straight through."""

    def __init__(self, workload: str):
        self.workload = workload
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.labels: dict = {"workload": workload}
        self._originals: dict[int, object] = {}

    # --- spans -----------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str, jobs: bool = True):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        group = f"pb-{self._next}" if jobs else None
        s = Span(self._next, name, layer, parent.id if parent else None,
                 dict(self.labels), group)
        if group:
            self._set_group(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.dur
            if group:
                outer = next((p for p in reversed(self._stack) if p.group), None)
                if outer is not None:
                    self._set_group(outer.group, outer.name)
            self.spans.append(s)

    @staticmethod
    def _set_group(group: str, name: str) -> None:
        sc = _active_sc()
        if sc is not None:
            sc.setJobGroup(group, name)

    def wrap(self, layer: str, fn, jobs: bool = True):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(layer, name, jobs):
                return fn(*args, **kwargs)

        self._originals[id(fn)] = traced
        return traced

    # --- job attribution ---------------------------------------------------

    def collect_jobs(self, spans: list[Span]) -> None:
        """Attach job, stage and task metrics to ``spans`` from the live
        SparkContext's status store. Call before the session stops."""
        sc = _active_sc()
        if sc is None:
            return
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in spans:
            if not s.group:
                continue
            stats = defaultdict(float)
            for jid in tracker.getJobIdsForGroup(s.group):
                stats["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    try:
                        stage = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # skipped stages have no attempt
                        continue
                    stats["stages"] += 1
                    for getter, (key, scale) in STAGE_FIELDS.items():
                        stats[key] += getattr(stage, getter)() * scale
            s.stats.update(stats)


class CountingCache(dict):
    """A session-cache dict that records hits, builds and build time.

    A build is timed from the miss (``get`` returning nothing) to the
    store of the same key."""

    def __init__(self, name: str, tracer: Tracer, *a):
        super().__init__(*a)
        self.name, self.tracer = name, tracer
        self.hits = self.builds = 0
        self.build_s = 0.0
        self._missed: dict = {}

    def get(self, key, default=None):
        value = super().get(key, default)
        if self.tracer.enabled:
            if value is not None:
                self.hits += 1
            else:
                self._missed[key] = time.perf_counter()
        return value

    def __setitem__(self, key, value):
        if self.tracer.enabled and key not in self:
            self.builds += 1
            t0 = self._missed.pop(key, None)
            if t0 is not None:
                self.build_s += time.perf_counter() - t0
        super().__setitem__(key, value)


def install(tracer: Tracer) -> dict[str, CountingCache]:
    """Wrap every traced entry point and return the counting caches."""
    for layers, jobs in ((FUNCTION_LAYERS, False), (OPERATOR_LAYERS, True)):
        for layer, modname in layers.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    setattr(mod, attr, tracer.wrap(layer, fn, jobs))

    from seng550_a3_etl_spark import catalog, session
    from seng550_a3_etl_spark.plans import gold
    from seng550_a3_etl_spark.sources import files

    session.get_spark = tracer.wrap("session", session.get_spark, jobs=False)
    for name in ("build_facts", "save_gold", "refresh_gold_incremental"):
        setattr(gold, name, tracer.wrap("plans", getattr(gold, name)))
    for name in ("read_files", "write_files"):
        setattr(files, name, tracer.wrap("sources", getattr(files, name)))
    catalog.load_tables = _traced_load_tables(tracer, catalog)
    tracer._originals[id(catalog.load_tables.__wrapped__)] = catalog.load_tables

    importlib.import_module("seng550_a3_etl_spark.suite")
    _rebind(tracer)

    caches = {}
    for modname in CACHE_MODULES:
        mod = sys.modules[modname]
        for attr, val in list(vars(mod).items()):
            if attr.endswith("_CACHE") and type(val) is dict:
                cache = CountingCache(attr, tracer, val)
                setattr(mod, attr, cache)
                caches[attr] = cache
    return caches


def _rebind(tracer: Tracer) -> None:
    """Point names bound to an original before wrapping at its wrapper."""
    for mod in list(sys.modules.values()):
        if mod is None or not (mod.__name__ or "").startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            w = tracer._originals.get(id(val))
            if w is not None and val is not w and inspect.isfunction(val):
                setattr(mod, attr, w)


class _TablesProxy:
    """Times and counts catalog lookups; a miss is a lookup whose table
    was not in the catalog's resolved-table cache before it."""

    def __init__(self, tables, tracer: Tracer, catalog):
        self._tables, self._tracer, self._catalog = tables, tracer, catalog

    def __getattr__(self, name):
        tracer = self._tracer
        if not tracer.enabled or name.startswith("_"):
            return getattr(self._tables, name)
        cached = {id(df) for df in self._catalog._DF_CACHE.values()}
        with tracer.span("catalog", "catalog.lookup") as s:
            df = getattr(self._tables, name)
        s.stats["lookups"] = 1
        s.stats["misses"] = float(id(df) not in cached)
        return df

    def __iter__(self):
        return ((n, getattr(self, n)) for n in self._catalog.TABLES)


def _traced_load_tables(tracer: Tracer, catalog):
    original = catalog.load_tables

    @functools.wraps(original)
    def load_tables(spark, sf_dir):
        return _TablesProxy(original(spark, sf_dir), tracer, catalog)

    return load_tables
