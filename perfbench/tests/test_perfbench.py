"""The benchmark's own tests: seeded inputs are reproducible, every
declared metric is printed with its declared unit, and a failing
operation is counted. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from contextlib import nullcontext
from pathlib import Path

import pytest

from perfbench import datagen, layers, run, tracing, workloads

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCHMARK[section]}


# --- seeded inputs -----------------------------------------------------------


def _batch_bytes(tmp_path: Path, seed: int, k: int) -> bytes:
    base = datagen.incidents(workloads.N_INCIDENTS)
    path = tmp_path / f"b-{seed}-{k}-{len(list(tmp_path.iterdir()))}.parquet"
    datagen.write_table(
        datagen.refresh_batch(base, seed, k, workloads.BATCH_UPDATES, workloads.BATCH_INSERTS),
        path,
    )
    return path.read_bytes()


def test_same_seed_gives_identical_batches(tmp_path):
    assert _batch_bytes(tmp_path, 7, 3) == _batch_bytes(tmp_path, 7, 3)
    assert _batch_bytes(tmp_path, 7, 3) != _batch_bytes(tmp_path, 8, 3)
    assert _batch_bytes(tmp_path, 7, 3) != _batch_bytes(tmp_path, 7, 4)


def test_same_seed_gives_identical_operation_order():
    names = workloads.DASHBOARD_QUERIES
    assert workloads.pass_order(names, 7, 2) == workloads.pass_order(names, 7, 2)
    assert sorted(workloads.pass_order(names, 7, 2)) == sorted(names)
    assert workloads.pass_order(names, 7, 2) != workloads.pass_order(names, 8, 2)


def test_catalog_is_reproducible(tmp_path):
    datagen.write_catalog(tmp_path / "a")
    datagen.write_catalog(tmp_path / "b")
    for f in sorted((tmp_path / "a").iterdir()):
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes(), f.name


def test_batches_keep_the_gold_table_size():
    """Every batch is applied to the same base, inserts only new ids and
    updates only existing ones, so each pass does the same work."""
    base = datagen.incidents(workloads.N_INCIDENTS)
    for k in range(3):
        b = datagen.refresh_batch(base, 1, k, workloads.BATCH_UPDATES, workloads.BATCH_INSERTS)
        ids = b.column("incident_id").to_numpy()
        assert len(set(ids)) == len(ids)
        assert (ids < base.num_rows).sum() == workloads.BATCH_UPDATES


# --- a fake workload for the runner --------------------------------------------


class _Monitor:
    def jvm_cpu_s(self):
        return 0.0

    python_cpu_s = jvm_cpu_s


class _Ctx:
    def span(self, layer, name):
        return nullcontext()


class _Workload:
    """Three operations: one correct, one that raises, one whose output
    does not match its oracle."""

    fresh_session = False

    def pass_ops(self, pass_no):
        return ["good", "raises", "wrong"]

    def before_pass(self, pass_no):
        pass

    def after_timed_pass(self, pass_no):
        pass

    def run_op(self, name):
        if name == "raises":
            raise RuntimeError("injected failure")
        return name

    def check_output(self, pass_no, name, out):
        return "value mismatch" if out == "wrong" else None


def _runner(timed_passes=2):
    r = run.Runner(_Workload(), _Ctx(), _Monitor())
    r.one_pass(0, timed=False)  # warm-up: its failures are not counted
    for p in range(1, 1 + timed_passes):
        r.one_pass(p, timed=True)
    r.check()
    return r


def test_injected_failures_count_in_fail_frac():
    attempted, failed = _runner().tally()
    # 3 ops x 2 timed passes; "raises" and "wrong" fail in both, and the
    # warm-up pass's failures are not counted.
    assert (attempted, failed) == (6, 4)


def test_end_to_end_metrics_match_benchmark_json():
    metrics = _runner().end_to_end(setup_s=1.5, peak_rss_mb=100.0)
    assert {k: u for k, (_, u) in metrics.items()} == _units("end_to_end")
    assert all(v > 0 for v, _ in metrics.values())


def test_per_layer_metrics_match_benchmark_json():
    tracer = tracing.Tracer("fake")
    r = run.Runner(_Workload(), _Ctx(), _Monitor(), tracer=tracer)
    for p, traced in enumerate(run.traced_schedule(i) for i in range(4)):
        r.one_pass(p, timed=True, traced=traced)
    record = {"settings": {"SPARK_GRAFT_CPUS": "2"}, "calib_s_start": 0.1, "calib_s_end": 0.1}
    metrics = layers.per_layer(
        tracer, {}, r.passes, [], {"gc_s": 0.1, "heap_used_mb": 1.0}, record, [1.0]
    )
    assert {k: u for k, (_, u) in metrics.items()} == _units("per_layer")


def test_traced_runs_alternate_abba():
    assert [run.traced_schedule(i) for i in range(4)] == [False, True, True, False]


@pytest.mark.parametrize("section", ["end_to_end", "per_layer"])
def test_benchmark_json_names_are_unique(section):
    names = [m["name"] for m in BENCHMARK[section]]
    assert len(names) == len(set(names))
