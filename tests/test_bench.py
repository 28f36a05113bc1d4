"""Regression tests for the driver-facing bench stdout contract: ONE
compact JSON line under the driver's 2000-char tail buffer, failure
names surviving any compaction."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402

IDLE = {"load1": 1.0, "idle": True}

SPOT = {
    "x": 10,
    "scale_build_s": 8.0,
    "queries": {n: [12.34, 9.9, "ok"] for n in bench.SF1_SPOT},
}
# One anomalous entry so compaction has something it must keep verbatim.
SPOT_MIXED = {
    "x": 10,
    "scale_build_s": 8.0,
    "queries": dict(
        {n: [12.34, 9.9, "ok"] for n in bench.SF1_SPOT},
        normalized_exact_dedup=[16.76, 16.8, "superlinear"],
    ),
}


# A realistic suite-sized timing dict: 278 queries, walls descending
# so the slowest-N selection is deterministic in tests.
SUITE_TIMINGS = {f"query_{i:03d}": round(30.0 / (i + 1), 3)
                 for i in range(278)}


def test_compact_line_carries_slowest_queries_and_steady_total():
    # VERDICT r15 #1/#2: the per-query core (slowest-N + failures) and
    # the steady_total metric must survive on a realistic payload.
    ladder = {"query": "district_point_counts", "no_index_s": 1.0,
              "design_point_10x": {"grid_s": 1.0, "theta_nobcast_s": 5.0}}
    line = bench._compact_line(100.0, SUITE_TIMINGS, 0.1, ladder, IDLE,
                               SPOT)
    assert len(line) <= 1800
    d = json.loads(line)
    assert d["idle_check"] == IDLE
    assert d["steady_total"] == round(sum(SUITE_TIMINGS.values()), 3)
    # the slowest queries are present, at least the guaranteed floor
    kept = list(d["queries"])
    assert len(kept) >= bench.LINE_QUERIES_MIN
    assert kept[0] == "query_000" and d["queries"]["query_000"] == 30.0
    walls = [SUITE_TIMINGS[n] for n in kept]
    assert walls == sorted(walls, reverse=True)  # slowest-first
    # ok rows fold to a count on the line; full table in bench_full
    assert d["sf1_spot"]["n_ok"] == len(bench.SF1_SPOT)
    assert d["sf1_spot"]["ok_max_ratio"] == 9.9


def test_compact_line_carries_cache_build_1x_seconds():
    # VERDICT r15 #3: per-cache 1x build seconds ride the line so the
    # driver can attribute suite-wall shifts to shared-cache builds.
    spot = dict(SPOT, cache_builds={
        "shingle_sets_hashed": {"build_s": [1.25, 4.0, 3.2],
                                "verdict": "ok"},
        "copurchase_gold": {"build_s": [0.8, 2.4, 3.0], "verdict": "ok"},
    })
    line = bench._compact_line(100.0, SUITE_TIMINGS, 0.1, {}, IDLE, spot)
    d = json.loads(line)
    assert d["cache_builds_1x"] == {
        "shingle_sets_hashed": 1.25, "copurchase_gold": 0.8,
    }


def test_compact_line_survives_empty_cache_build_list():
    # A cache whose 1x build was never timed (empty build_s) must not
    # cost the driver its compact line.
    spot = dict(SPOT, cache_builds={
        "shingle_sets_hashed": {"build_s": [], "verdict": "failed"},
        "copurchase_gold": {"build_s": [0.8, 2.4, 3.0], "verdict": "ok"},
    })
    line = bench._compact_line(100.0, SUITE_TIMINGS, 0.1, {}, IDLE, spot)
    assert json.loads(line)["cache_builds_1x"] == {
        "shingle_sets_hashed": None, "copurchase_gold": 0.8,
    }


def test_compact_line_stubs_decorative_blocks_before_queries():
    # VERDICT r15 #1 core regression: with a fat retimed block and fat
    # spot diagnostics, the line must stub THOSE and keep >= the floor
    # of per-query timings (the r14/r15 lines shipped "queries":{}).
    retimed = {f"query_{i:03d}": [40.0, 30.0 / (i + 1)] for i in range(30)}
    spot = dict(
        SPOT,
        stages={f"q{i}": {"bound": 13.0, "rows": {
            "scan": [1.0, 5.0, 5.0, "ok"], "agg": [2.0, 9.0, 4.5, "ok"],
        }} for i in range(12)},
        load1={f"query_{i:03d}": 0.5 for i in range(38)},
    )
    line = bench._compact_line(400.0, SUITE_TIMINGS, 0.1, {}, IDLE, spot,
                               retimed)
    assert len(line) <= 1800
    d = json.loads(line)
    assert len(d["queries"]) >= bench.LINE_QUERIES_MIN
    assert d["retimed"] == {"n_retimed": 30}  # stubbed to a count
    assert "stages" not in d["sf1_spot"]  # decorative detail shed


def test_compact_line_realistic_payload_keeps_spot_and_ladder():
    # A full realistic payload — real ladder shape (r4 values), the
    # complete sf1_spot block, idle_check with the wait fields — must
    # fit WITHOUT dropping the sf1_spot or ladder blocks; only excess
    # per-query entries are sacrificed.
    timings = SUITE_TIMINGS
    ladder = {
        "query": "district_point_counts", "runs_per_config": 3,
        "no_index_s": 0.988, "broadcast_s": 0.515,
        "grid_prefilter_s": 0.568, "gold_table_s": 0.257,
        "speedup_broadcast": 1.92, "speedup_grid": 1.74,
        "speedup_gold": 3.84,
        "grid_prefilter_note": (
            "expected_at_scale: grid is the no-broadcast plan; at bench "
            "scale the engine picks the broadcast rung"
        ),
        "design_point_10x": {
            "points_x": 10, "grid_s": 0.945, "theta_nobcast_s": 5.53,
            "speedup_grid_vs_theta": 5.85,
        },
    }
    idle = {"load1_initial": 4.11, "waited_s": 120.0,
            "load1": 0.4, "idle": True}
    line = bench._compact_line(110.8, timings, 0.1, ladder, idle, SPOT_MIXED)
    assert len(line) <= 1800
    d = json.loads(line)
    # every anomalous spot entry must survive verbatim; ok rows fold
    assert d["sf1_spot"]["queries"] == {
        "normalized_exact_dedup": [16.76, 16.8, "superlinear"]
    }
    # the superlinear entry REPLACED one ok row in the fixture
    assert d["sf1_spot"]["n_ok"] == len(bench.SF1_SPOT) - 1
    assert d["ladder"]["design_point_10x"]["points_x"] == 10


def test_compact_line_keeps_all_failures_under_overflow():
    # 60 failures + a full suite of timings + a fat ladder forces
    # compaction; every failure name must survive, timing entries go
    # first (smallest dropped before slowest).
    timings = {f"fail{i:03d}": -1.0 for i in range(60)}
    timings.update(SUITE_TIMINGS)
    line = bench._compact_line(100.0, timings, 0.1, {"pad": "y" * 500}, IDLE)
    assert len(line) <= 1800
    d = json.loads(line)
    failures = [k for k, v in d["queries"].items() if v == -1.0]
    assert len(failures) == 60
    assert d["n_failed"] == 60


def test_compact_line_drops_smallest_timings_first():
    line = bench._compact_line(100.0, SUITE_TIMINGS, 0.1,
                               {"pad": "y" * 800}, IDLE)
    d = json.loads(line)
    kept = list(d["queries"])
    assert kept, "per-query core must survive a fat ladder"
    # survivors are exactly the slowest kept-count queries
    assert kept[0] == "query_000"
    assert kept == [f"query_{i:03d}" for i in range(len(kept))]


def test_compact_line_floor_stubs_fixed_payload(monkeypatch):
    # ADVICE r4 floor case: when even an empty qs leaves the line over
    # the cap (a fixed payload — here a pathological ladder — alone
    # exceeds it), the bulky fixed blocks are stubbed so the emitted
    # line still honors the 1800-char cap and stays parseable.
    timings = {f"q{i:03d}": -1.0 for i in range(40)}
    fat_ladder = {"pad": "y" * 5000}
    line = bench._compact_line(100.0, timings, 0.1, fat_ladder, IDLE, SPOT)
    assert len(line) <= 1800
    d = json.loads(line)
    assert d["ladder"] == {"truncated": True}
    # sf1_spot is stubbed BEFORE ladder in the floor path
    assert d["sf1_spot"] == {"truncated": True}
    assert d["n_failed"] == 40


def test_scale_10x_preserves_structure(spark, tmp_path):
    # The sf1 spot-run's 10× replica must scale WORK linearly, which
    # hinges on three structural invariants the docstring promises:
    # disjoint token universes across document replicas, norm-preserving
    # vector rotation with replica 0 identical to the original, and
    # constant per-user event counts (only the number of users grows).
    import math

    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "scaled")
    import os as _os
    _os.makedirs(out)
    bench._scale_10x(spark, src, out)

    docs0 = spark.read.parquet(f"{src}/documents.parquet")
    docs = spark.read.parquet(f"{out}/documents.parquet")
    n0, n = docs0.count(), docs.count()
    assert n == 10 * n0
    assert docs.select("doc_id").distinct().count() == n  # ids unique

    # replicas r=0 and r=1 of the same source doc share ZERO tokens
    tok = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("t")
    )
    a = tok.filter(F.col("doc_id") < 10_000_000).select("t").distinct()
    b = tok.filter(
        (F.col("doc_id") >= 10_000_000) & (F.col("doc_id") < 20_000_000)
    ).select("t").distinct()
    assert a.join(b, "t").count() == 0

    emb0 = spark.read.parquet(f"{src}/embeddings.parquet")
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    assert emb.count() == 10 * emb0.count()
    first0 = emb0.orderBy("vec_id").first()
    r0 = emb.filter(F.col("vec_id") == first0.vec_id).first()
    assert r0.embedding == first0.embedding  # replica 0 is the identity
    r3 = emb.filter(F.col("vec_id") == first0.vec_id + 3 * 10_000_000).first()
    assert len(r3.embedding) == len(first0.embedding)
    assert r3.embedding == (
        list(first0.embedding[3:]) + list(first0.embedding[:3])
    )  # rotation by r, norm-preserving by construction
    assert math.isclose(
        sum(x * x for x in r3.embedding),
        sum(x * x for x in first0.embedding),
        rel_tol=1e-6,
    )

    ev0 = spark.read.parquet(f"{src}/events.parquet")
    ev = spark.read.parquet(f"{out}/events.parquet")
    assert ev.count() == 10 * ev0.count()
    # per-user event-count histogram is 10 copies of the original's
    h0 = {
        r["cnt"]: r["users"]
        for r in ev0.groupBy("user_id").count()
        .groupBy(F.col("count").alias("cnt"))
        .agg(F.count("*").alias("users")).collect()
    }
    h = {
        r["cnt"]: r["users"]
        for r in ev.groupBy("user_id").count()
        .groupBy(F.col("count").alias("cnt"))
        .agg(F.count("*").alias("users")).collect()
    }
    assert h == {k: 10 * v for k, v in h0.items()}


def test_streaming_oracle_shares_batch_twin_sql():
    # ADVICE r4: the streaming twin must check the SAME oracle SQL as
    # the batch query — a drifted copy would silently validate stale
    # semantics.
    from seng550_a3_etl_spark.suite import ORACLES

    assert (
        ORACLES["stream_incremental_dedup"]
        == ORACLES["incremental_exact_dedup"]
    )


def test_prev_record_reads_timings_and_steady_set(tmp_path):
    p = tmp_path / "bench_full.json"
    p.write_text(json.dumps({
        "sf": 0.1,
        "queries": {"a": 1.0, "b": 4.0, "c": -1.0},
        "retimed": {"b": [9.0, 4.0], "gone": [2.0, 1.0]},
    }))
    timings, steady = bench._prev_record(str(p), 0.1)
    assert timings == {"a": 1.0, "b": 4.0}  # failed (-1) rows dropped
    # steadiness is CUMULATIVE (ADVICE r9: trigger 3 must quiesce
    # permanently): retimed names survive even when absent from this
    # run's timings (a removed query's entry is inert), and a
    # persisted steady_verified list unions in
    assert steady == {"b", "gone"}
    p.write_text(json.dumps({
        "sf": 0.1,
        "queries": {"a": 1.0},
        "retimed": {},
        "steady_verified": ["b", "z"],
    }))
    assert bench._prev_record(str(p), 0.1)[1] == {"b", "z"}
    p.write_text(json.dumps({
        "sf": 0.1,
        "queries": {"a": 1.0, "b": 4.0, "c": -1.0},
        "retimed": {"b": [9.0, 4.0], "gone": [2.0, 1.0]},
    }))
    # sf mismatch -> no baseline at all (a sf0.01 verify run must not
    # become the re-time baseline for a sf0.1 round)
    assert bench._prev_record(str(p), 0.01) == ({}, set())


def test_retime_trigger_selection_covers_all_three_rules():
    """VERDICT r8 #3: the 2x-ratio rule alone lets an inflated FIRST
    record self-perpetuate. Replicate the trigger expression from
    _retime_outliers and check each rule fires (the function itself
    needs a live session; the selection logic is what regressed)."""
    prev = {"ratio2x": 1.0, "steady_ok": 5.0, "first_run_big": 5.0,
            "small": 0.1}
    prev_steady = {"steady_ok"}
    timings = {
        "ratio2x": 2.5,        # rule 1: >2x prev
        "brand_new": 0.9,      # rule 2: no previous record
        "first_run_big": 5.5,  # rule 3: >=2s, record never steadied
        "steady_ok": 5.5,      # steady-verified, <2x -> NOT retimed
        "small": 0.1,          # sub-threshold jitter -> NOT retimed
    }
    names = [
        n for n, v in timings.items()
        if (v >= 0.5 and prev.get(n) and v > 2.0 * prev[n])
        or (v >= 0.5 and n not in prev)
        or (v >= 2.0 and n not in prev_steady)
    ]
    assert sorted(names) == ["brand_new", "first_run_big", "ratio2x"]


def test_merge_cost_decades_attaches_committed_record():
    # The two-decade cost-class record (COST_DECADES.json, r13) must
    # ride every bench record: _merge_cost_decades attaches per-target
    # pair budgets + regimes + verdict under
    # sf1_spot.cost_classes[query].decades.
    spot = {"cost_classes": {
        "semantic_dedup_clusters": {"class": "n^1.5", "bound": 31.6},
    }}
    bench._merge_cost_decades(spot)
    for q in ("semantic_dedup_clusters", "hard_negative_mining"):
        dec = spot["cost_classes"][q].get("decades")
        assert dec, f"no decades entry merged for {q}"
        assert dec["scales"] == [1, 10, 100]
        assert len(dec["pair_budget"]) == 3
        # the graded evidence: sqrt-capped scales bounded by the
        # balanced-cell ceiling (with tolerance) — the n^1.5 statement
        for norm, regime in zip(
            dec["budget_over_half_n15"], dec["regimes"]
        ):
            if regime == "sqrt-capped":
                assert norm <= 1.25, (q, norm)
        assert "n^1.5" in dec["verdict"], (q, dec["verdict"])


def test_stage_profile_compaction_handles_nested_rows():
    # r13 format: per-stage rows nest under "rows" with metadata
    # (bound, floor, retried_10x) alongside; the compact line must
    # carry only the per-stage ratios and tolerate marker entries.
    spot = dict(
        SPOT,
        stages={
            "q1": {
                "bound": 31.6,
                "small_base_floor_s": 0.5,
                "rows": {
                    "assign": [0.33, 3.33, 10.1, "ok_small_base"],
                    "pair_budget": [100, 1400],
                },
                "retried_10x": {"assign": 3.1},
            },
            "q2": {"no_stage_profile": True},
        },
    )
    line = bench._compact_line(100.0, {}, 0.1, {}, IDLE, spot)
    parsed = json.loads(line)
    st = parsed["sf1_spot"]["stages"]
    assert st["q1"]["assign"] == 10.1
    assert st["q1"]["pair_budget"] == [100, 1400]
    assert "retried_10x" not in st["q1"]
    assert st["q2"] == {"no_stage_profile": True}


def test_reconcile_stages_flips_only_all_ok_profiles():
    # VERDICT r13 #1: a superlinear wall grade whose OWN stage rows are
    # all ok/ok_small_base is a measurement artifact — re-graded
    # ok_stages_linear with the reconciliation note in-record. A row
    # with any exceeds_bound stage, or no profile at all, keeps its
    # superlinear grade.
    spot = {
        "queries": {
            "artifact": [15.5, 15.6, "superlinear"],
            "genuine": [40.0, 20.0, "superlinear"],
            "unprofiled": [30.0, 14.0, "superlinear"],
            "fine": [3.0, 2.0, "ok"],
        },
        "stages": {
            "artifact": {
                "bound": 13.0,
                "rows": {
                    "shingle_build": [1.26, 13.65, 10.9, "ok"],
                    "verify": [0.21, 0.32, 1.5, "ok_small_base"],
                    "pair_budget": [1471, 14869],
                },
            },
            "genuine": {
                "bound": 13.0,
                "rows": {
                    "scan": [1.0, 5.0, 5.0, "ok"],
                    "pairs": [1.0, 20.0, 20.0, "exceeds_bound"],
                },
            },
        },
    }
    bench._reconcile_stages(spot)
    assert spot["queries"]["artifact"][2] == "ok_stages_linear"
    assert "artifact" in spot["reconciled"]
    assert spot["queries"]["genuine"][2] == "superlinear"
    assert spot["queries"]["unprofiled"][2] == "superlinear"
    assert spot["queries"]["fine"][2] == "ok"


def test_commit_summary_counts_reconciled_as_ok_but_names_it():
    full = {
        "value": 100.0,
        "sf": 0.1,
        "queries": {"a": 1.0, "b": 2.0},
        "sf1_spot": {
            "queries": {
                "q_ok": [2.0, 3.0, "ok"],
                "q_recon": [15.5, 15.6, "ok_stages_linear"],
            },
        },
    }
    line = bench._commit_summary(full)
    assert "NOT ok" not in line
    assert "q_recon" in line and "reconciled" in line
    # a still-superlinear row must stay loud
    full["sf1_spot"]["queries"]["q_bad"] = [40.0, 20.0, "superlinear"]
    line = bench._commit_summary(full)
    assert "NOT ok" in line and "q_bad" in line


def test_merge_cost_decades_synthesizes_class_and_bound():
    # ADVICE r13: linear-family queries with no sf1 cost-class row get
    # a synthesized entry that still carries the class/bound keys every
    # other cost_classes entry has — consumers never special-case.
    spot = {"cost_classes": {}}
    bench._merge_cost_decades(spot)
    for q in ("ngram_dup_pairs", "minhash_dup_pairs"):
        row = spot["cost_classes"].get(q)
        assert row and row["class"] == "linear" and row["bound"] == 13.0
        assert row["decades"]["source"] == "COST_DECADES.json"


class _ScriptedTimer:
    """Synthetic `_timed_noop` stand-in: pops scripted walls keyed by
    (name, data_dir) in call order; records the call sequence so the
    test can assert which rungs actually ran and in what order."""

    def __init__(self, walls):
        self.walls = list(walls)  # [(expected_dir_kind, seconds), ...]
        self.calls = []

    def __call__(self, spark, name, d):
        kind = "scaled" if d == "SCALED" else "base"
        self.calls.append(kind)
        expect, sec = self.walls.pop(0)
        assert kind == expect, f"rung order broke: got {kind}, want {expect}"
        return sec


def _run_ladder(monkeypatch, timer, *, l1, t=20.0, base=1.0, bound=13.0):
    spot: dict = {}
    monkeypatch.setattr(bench, "_timed_noop", timer)
    snap_calls = []
    monkeypatch.setattr(
        bench, "_snapshot_session_caches",
        lambda sfd: snap_calls.append(("snap", sfd)) or [],
    )
    monkeypatch.setattr(
        bench, "_restore_session_caches",
        lambda snap: snap_calls.append(("restore", None)),
    )
    # quiet rung: report an idle box so the wait loop exits at once
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.1, 0.1, 0.1))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    ratio = round(t / base, 1)
    t2, ratio2, spent = bench._escalate_spot(
        None, "q", "BASE", "SCALED", t, base, ratio, bound, l1,
        spot, 0.0, 1e9,
    )
    return t2, ratio2, spot, snap_calls


def test_escalation_ladder_walks_all_three_rungs(monkeypatch):
    # VERDICT r14 #6: the forced-superlinear smoke, pinned. A genuinely
    # superlinear plan (every re-measurement stays over bound) must
    # walk retry -> quiet_recheck -> cold_cold, record every rung, and
    # keep its superlinear ratio.
    timer = _ScriptedTimer([
        ("scaled", 20.0),           # rung 1: same-regime retry
        ("scaled", 20.0),           # rung 2: quiet re-check
        ("base", 1.0), ("scaled", 20.0),  # rung 3: cold 1x then cold 10x
    ])
    t, ratio, spot, snaps = _run_ladder(monkeypatch, timer, l1=3.5)
    assert timer.walls == []  # all rungs fired
    assert spot["retried"]["q"] == [20.0, 20.0]
    assert spot["quiet_recheck"]["q"][:2] == [20.0, 20.0]
    assert spot["cold_cold"]["q"] == [1.0, 20.0, 20.0]
    assert ratio == 20.0 and "graded_from" not in spot
    # cold rung must snapshot BOTH dirs and restore exactly once
    assert snaps == [("snap", "BASE"), ("snap", "SCALED"),
                     ("restore", None)]


def test_escalation_ladder_cold_cold_artifact_regrades(monkeypatch):
    # A cache-regime artifact: warm-base ratio 20x, but measured
    # cold-vs-cold the plan is 4x. The ladder lowers the ratio at the
    # cold_cold rung and marks where the grade came from (ADVICE r14 —
    # the entry's wall t stays warm-regime, so t/base != ratio without
    # the marker).
    timer = _ScriptedTimer([
        ("scaled", 20.0),                # retry: still slow (warm regime)
        ("base", 5.0), ("scaled", 20.0),  # cold_cold: 4x — within bound
    ])
    t, ratio, spot, snaps = _run_ladder(monkeypatch, timer, l1=0.5)
    # load was quiet -> quiet_recheck rung must NOT fire
    assert "quiet_recheck" not in spot
    assert spot["cold_cold"]["q"] == [5.0, 20.0, 4.0]
    assert ratio == 4.0
    assert spot["graded_from"]["q"] == "cold_cold"
    assert t == 20.0  # warm wall kept; the marker explains the mismatch
    assert snaps[-1] == ("restore", None)


def test_escalation_ladder_stops_once_within_bound(monkeypatch):
    # The retry rung alone resolving the grade must short-circuit the
    # later rungs — no quiet re-check, no cold runs, no cache snapshot.
    timer = _ScriptedTimer([("scaled", 2.0)])
    t, ratio, spot, snaps = _run_ladder(monkeypatch, timer, l1=3.5)
    assert ratio == 2.0 and t == 2.0
    assert spot["retried"]["q"] == [20.0, 2.0]
    assert "quiet_recheck" not in spot and "cold_cold" not in spot
    assert snaps == []


def test_reconcile_coverage_gate_excludes_full_query(monkeypatch):
    # ADVICE r14: profiles that emit a 'full_query' row (whose 10x wall
    # alone >= the query wall) must not satisfy the 60% coverage gate
    # with it — only sub-stage rows count toward coverage. full_query
    # still participates in the all-ok check.
    spot = {
        "queries": {"thin": [15.0, 15.0, "superlinear"],
                    "covered": [15.0, 15.0, "superlinear"],
                    "thin_suffixed": [15.0, 15.0, "superlinear"]},
        "stages": {
            "thin": {
                "bound": 13.0,
                "rows": {
                    "full_query": [1.2, 15.0, 12.5, "ok"],
                    "tiny_stage": [0.1, 0.2, 2.0, "ok_small_base"],
                },
            },
            # whole-query rows are ALSO named '<stage>_full' in two
            # profilers (encode_full, gate_full) — the suffix must be
            # excluded from coverage too (r15 review)
            "thin_suffixed": {
                "bound": 13.0,
                "rows": {
                    "encode_full": [1.2, 15.0, 12.5, "ok"],
                    "vocab_build": [0.1, 0.2, 2.0, "ok_small_base"],
                },
            },
            "covered": {
                "bound": 13.0,
                "rows": {
                    "full_query": [1.2, 15.0, 12.5, "ok"],
                    "scan": [0.5, 5.0, 10.0, "ok"],
                    "agg": [0.6, 6.0, 10.0, "ok"],
                },
            },
        },
    }
    bench._reconcile_stages(spot)
    # thin: sub-stages cover 0.2s of a 15s wall -> gate holds the grade
    assert spot["queries"]["thin"][2] == "superlinear"
    assert "thin" in spot["reconcile_skipped"]
    assert spot["queries"]["thin_suffixed"][2] == "superlinear"
    assert "thin_suffixed" in spot["reconcile_skipped"]
    # covered: sub-stages cover 11s of 15s (>=60%), all rows ok -> flip
    assert spot["queries"]["covered"][2] == "ok_stages_linear"
