"""Benchmark of the seng550_a3_etl_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard_etl --seed 1 --seconds 5 --trace 0

Workloads: ``dashboard_etl`` and ``batch_dedup`` (see
``workloads.py`` and ``BENCHMARK.json``). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). A run record (host, settings, versions,
per-pass JVM CPU) goes to standard error and to
``.perfbench_work/records/``; a traced run also writes its spans to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Import the package, ``tests`` and ``perfbench`` from the checkout root,
# not this directory (whose module names would shadow the stdlib's).
sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != HERE]

from perfbench import host  # noqa: E402

# Deployment settings, pinned so both sides of a comparison match.
# local[N] with N = CORE_SHARE x nproc, chosen by measured run-to-run
# spread (README.md, "Core count").
CORE_SHARE = 0.5
# Passes per run. A fresh JVM is still speeding up over the timed passes
# (JIT), so every run times the same pass positions: a run ends after
# TIMED_PASSES passes, or when --seconds has elapsed if that is later.
WARMUP_PASSES = {"dashboard_etl": 2, "batch_dedup": 1}
TIMED_PASSES = {"dashboard_etl": 3, "batch_dedup": 3}


def settings(work: Path) -> dict[str, str]:
    cpus = max(1, int(host.nproc() * CORE_SHARE))
    # The engine's 16g default heap exceeds small hosts: a sixth of RAM,
    # between 1 and 4 GiB.
    mem_gb = max(1, min(4, host.mem_total_gb() // 6))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # Temp files of Python, its workers and DuckDB stay in the checkout.
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


class Context:
    """The client's session, and the spans its operations run under."""

    def __init__(self, tracer, work: Path, heap: str):
        self.tracer = tracer
        # The heap starts at its maximum: with a growing heap the JVM's
        # peak RSS depended on when the collector chose to expand, and
        # read 1.4-2.1 GB across runs of the same code. The JVM's temp
        # files stay in the checkout; no perf-data file in /tmp.
        self.conf = {
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        }
        if tracer:
            # Keep every job of a pass in the status store until the pass
            # is attributed.
            self.conf.update({"spark.ui.retainedJobs": "100000",
                              "spark.ui.retainedStages": "100000"})
        self.spark = None

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    def start_session(self) -> float:
        from seng550_a3_etl_spark import session

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark("perfbench", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def execute(self, name: str, df):
        if not (self.tracer and self.tracer.enabled):
            return df.toPandas()
        with self.span("exec", f"exec.plan.{name}"):
            df._jdf.queryExecution().executedPlan()
        with self.span("exec", f"exec.run.{name}"):
            return df.toPandas()


class Runner:
    """Runs a workload's passes and tallies its operations."""

    def __init__(self, wl, ctx, monitor, tracer=None):
        self.wl, self.ctx, self.monitor = wl, ctx, monitor
        self.tracer = tracer
        self.passes: list[dict] = []
        self.outputs: dict[tuple[int, str], object] = {}
        self.errors: dict[tuple[int, str], str] = {}
        self.mismatches: dict[tuple[int, str], str] = {}
        self.session_s: list[float] = []

    def one_pass(self, pass_no: int, timed: bool, traced: bool = False) -> dict:
        wl, ctx, tracer, monitor = self.wl, self.ctx, self.tracer, self.monitor
        wl.before_pass(pass_no)
        if tracer:
            tracer.enabled = traced
            tracer.labels["pass"] = pass_no
        since = len(tracer.spans) if tracer else 0
        cpu0, pycpu0 = monitor.jvm_cpu_s(), monitor.python_cpu_s()
        t0 = time.perf_counter()
        if wl.fresh_session and pass_no > 0:
            with ctx.span("session", "session.restart"):
                self.session_s.append(ctx.start_session())
        lat = []
        for op_no, name in enumerate(wl.pass_ops(pass_no)):
            if tracer:
                tracer.labels["op"] = f"{pass_no}:{op_no}:{name}"
            s = time.perf_counter()
            try:
                out = wl.run_op(name)
            except Exception as e:  # counted in fail_frac
                out = None
                self.errors[(pass_no, name)] = f"{type(e).__name__}: {str(e)[:300]}"
            lat.append((name, time.perf_counter() - s))
            if timed:
                self.outputs[(pass_no, name)] = out
        wall = time.perf_counter() - t0
        if tracer:
            tracer.labels.pop("op", None)
            if traced:
                tracer.collect_jobs(tracer.spans[since:])
            tracer.enabled = False
        if timed:
            wl.after_timed_pass(pass_no)
        p = {"pass": pass_no, "timed": timed, "traced": traced, "wall_s": wall,
             "jvm_cpu_s": monitor.jvm_cpu_s() - cpu0,
             "python_cpu_s": monitor.python_cpu_s() - pycpu0, "ops": lat}
        self.passes.append(p)
        return p

    def check(self) -> None:
        """Compare every kept output with its oracle."""
        for (p, name), pdf in self.outputs.items():
            if (p, name) not in self.errors:
                err = self.wl.check_output(p, name, pdf)
                if err:
                    self.mismatches[(p, name)] = err

    def timed(self) -> list[dict]:
        return [p for p in self.passes if p["timed"]]

    def tally(self) -> tuple[int, int]:
        """(operations attempted, operations failed) in the timed passes.
        An operation fails if it raised or its output did not match."""
        timed = self.timed()
        first = timed[0]["pass"] if timed else 0
        attempted = sum(len(p["ops"]) for p in timed)
        failed = {k for k in self.errors if k[0] >= first} | set(self.mismatches)
        return attempted, len(failed)

    def samples(self) -> list[float]:
        return [lat for p in self.timed() if not p["traced"] for _, lat in p["ops"]]

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict:
        untraced = [p for p in self.timed() if not p["traced"]]
        samples = self.samples()
        return {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
            "op_p50_s": (statistics.median(samples), "s"),
            "op_p90_s": (statistics.quantiles(samples, n=10, method="inclusive")[8], "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }


def traced_schedule(n_timed: int) -> bool:
    """Whether timed pass ``n_timed`` of a traced run is traced: untraced,
    traced, traced, untraced (ABBA), so warm-up drift does not bias the
    measured tracing overhead."""
    return n_timed % 4 in (1, 2)


def run(args, work_root: Path, work: Path) -> tuple[dict, dict]:
    pinned = settings(work)
    (work / "tmp").mkdir()
    os.environ.update(pinned)
    record = host.start_record(args, pinned, ROOT)
    phases = {"start_record": time.perf_counter() - T_PROCESS}

    tracer = caches = None
    if args.trace:
        from perfbench import tracing

        tracer = tracing.Tracer(args.workload)
        caches = tracing.install(tracer)
    from perfbench import check, datagen, workloads

    phases["imports"] = time.perf_counter() - T_PROCESS
    data = work / "catalog"
    datagen.write_catalog(data)
    phases["catalog"] = time.perf_counter() - T_PROCESS
    ctx = Context(tracer, work, pinned["SPARK_GRAFT_DRIVER_MEM"])
    first_session_s = ctx.start_session()
    record["versions"].update(host.jvm_versions(ctx.spark))
    phases["session"] = time.perf_counter() - T_PROCESS
    wl = workloads.WORKLOADS[args.workload](ctx, data, work, args.seed)
    wl.setup()
    phases["workload_setup"] = time.perf_counter() - T_PROCESS
    runner = Runner(wl, ctx, host.ProcessTree(), tracer)
    runner.session_s.append(first_session_s)

    pass_no = 0
    # A traced run warms up one pass longer, so the passes it compares
    # for tracing overhead sit further up the JIT ramp.
    for _ in range(WARMUP_PASSES[args.workload] + args.trace):
        runner.one_pass(pass_no, timed=False)
        pass_no += 1
    setup_s = time.perf_counter() - T_PROCESS
    t_window = time.perf_counter()
    # A traced run needs two traced and two untraced passes.
    min_passes = max(4, TIMED_PASSES[args.workload]) if args.trace \
        else TIMED_PASSES[args.workload]
    n_timed = 0
    while n_timed < min_passes or time.perf_counter() - t_window < args.seconds:
        runner.one_pass(pass_no, timed=True,
                        traced=bool(args.trace) and traced_schedule(n_timed))
        pass_no += 1
        n_timed += 1
    window_s = time.perf_counter() - t_window
    rss = runner.monitor.peak_rss_by_process()
    peak_rss_mb = sum(rss.values())
    jvm = host.jvm_stats(ctx.spark)

    # --- output check (outside the timed window) -------------------------
    t_check = time.perf_counter()
    check.install_oracle_cache(data, work_root / "oracle-cache")
    runner.check()
    attempted, failed = runner.tally()
    check_s = time.perf_counter() - t_check

    record.update(host.end_record())
    if args.trace:
        from perfbench import layers

        metrics = layers.per_layer(
            tracer, caches, runner.passes, wl.refresh_notes, jvm, record, runner.session_s
        )
    else:
        metrics = runner.end_to_end(setup_s, peak_rss_mb)
    record.update({
        "setup_s": setup_s, "setup_phases_at_s": phases,
        "window_s": window_s, "check_s": check_s,
        "peak_rss_mb": peak_rss_mb, "peak_rss_by_process_mb": rss,
        "session_start_s": runner.session_s,
        "passes": runner.passes,
        "op_samples": len(runner.samples()),
        "fail_frac": failed / attempted,
        "errors": {f"{p}:{n}": e for (p, n), e in runner.errors.items()},
        "mismatches": {f"{p}:{n}": e for (p, n), e in runner.mismatches.items()},
        "jvm": jvm,
        "refresh": wl.refresh_notes,
    })
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if tracer:
        host.write_json(work_root / "traces" / f"{host.run_id(args)}.json",
                        [s.as_dict() for s in tracer.spans])
    host.stop_spark(ctx.spark)
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TIMED_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    work_root = ROOT / ".perfbench_work"
    work = work_root / f"run-{os.getpid()}"
    for stale in work_root.glob("run-*"):
        # Left behind by a killed run.
        if not Path(f"/proc/{stale.name[4:]}").exists() or stale == work:
            shutil.rmtree(stale, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result, record = run(args, work_root, work)
    finally:
        # Whatever happened, leave no JVM, Python worker or scratch data.
        if "pyspark" in sys.modules:
            host.stop_spark(None)
        shutil.rmtree(work, ignore_errors=True)
    host.write_json(work_root / "records" / f"{host.run_id(args)}.json", record)
    print(json.dumps(record, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
