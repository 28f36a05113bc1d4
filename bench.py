"""Benchmark harness (driver contract).

Runs every suite query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}

Execution is forced with a noop sink (full compute, no driver collect).

The driver keeps only the LAST 2000 characters of bench stdout and
parses the JSON out of that tail (BENCH_r01/r02 both recorded
``parsed: null`` because the full per-query dict overflowed the
buffer). So stdout carries exactly ONE compact line (< ~1800 chars):
totals + a fixed headline-query subset + any failures + the ladder.
The complete per-query timing dict goes to ``bench_full.json`` next to
this file, and everything else prints to stderr.

Run bench ALONE: a concurrent `pytest` run (its own local[32] JVM)
contends for the same 32 cores and has been observed to inflate the
suite total from ~82 s to ~133 s. Timings are only comparable across
rounds when the box is otherwise idle.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# Per-query payload sizing for the size-bounded stdout line (VERDICT
# r15 #1): the line carries the N slowest steady walls plus EVERY
# failure. The old fixed flagship subset (HEADLINE) was dropped
# entirely by the truncation loop two rounds running, leaving the
# driver with "queries":{} and no per-query/scaling data; the slowest-N
# selection is stable across runs and core counts, so round-over-round
# and c8/c32 intersections stay large. Full timings always land in
# bench_full.json.
LINE_QUERIES_MAX = 40  # starting point; truncation trims toward the floor
LINE_QUERIES_MIN = 15  # survives every decorative block's stubbing


# The heaviest suite queries over the REPLICATED tables (documents /
# embeddings / events / orders / lineitem — _scale_10x symlinks the
# remaining dims, so pure-dim queries would measure nothing) — the sf1
# spot-run re-times each at 10× data to back the linear-scaling claims
# with a measurement (VERDICT r4 #6). Membership refreshed from the r5
# bench_full ranking.
# Documented super-linear cost classes (r12): the generic 13x spot
# bound encodes "linear plus bounded overhead" — the right yardstick
# for linear-class operators, the WRONG one for an operator whose
# published algorithm is n^alpha by design. A query listed here is
# graded against 10^alpha for 10x data instead; the claim must be
# backed by its docstring AND a stage profile in PROFILES showing the
# measured growth tracking the declared class (never list a query to
# silence an unexplained ratio).
SPOT_COST_CLASS = {
    # SemDeDup at the ceil(sqrt(n))-centroid operating point: pair
    # volume is n^1.5 (stage profile r12: pair_budget 144,614 ->
    # 2,058,836 = 14.2x for 10x rows, assign/pair_verify stages track
    # it at 14.1x/14.2x). Bound 10^1.5 = 31.6.
    "semantic_dedup_clusters": ("n^1.5", 31.6),
    # The self-kNN family (X226/X231/X233/X234) runs on ceil(sqrt(n))
    # cells (suite/vectors.py _knn_cells), so in-cell pair volume is
    # n^1.5 by construction; hard_negative_mining is the spotted
    # representative (stage profile: profile_hard_negative).
    "hard_negative_mining": ("n^1.5", 31.6),
}

# Same contract for CACHE BUILDS: a build whose work is n^alpha by
# construction is graded against 10^alpha, never the linear 13x, and
# the claim must be backed by arithmetic in the note. knn_cell_assign
# is the nearest-cell fold over ceil(sqrt(n)) cells: per-row cost IS
# the cell count, so build work = n * sqrt(n) (dot products 2000*40 =
# 80k at 1x -> 20000*142 = 2.84M at 10x; the 1x side is candidate-
# pool-limited below its sqrt cap, so the compute ratio can slightly
# exceed 31.6 while the wall stays under it via fixed-cost
# amortization).
BUILD_COST_CLASS = {
    "knn_cell_assign": ("n^1.5", 31.6),
}

SF1_SPOT = [
    "cluster_best_doc",
    "curation_pipeline",
    "dup_span_stats",
    "prefix_filter_dup_pairs",
    "stream_click_attribution",
    "ngram_dup_pairs",
    "ann_recall_ivf",
    "embedding_cosine_dedup",
    "fuzzy_dup_pairs",
    "simhash_near_pairs",
    "minhash_dup_pairs",
    "normalized_exact_dedup",
    "incremental_lsh_dedup",
    "stream_attribution_outer",
    "hard_negative_topk",
    "copurchase_triangles",
    "pagerank_step_parts",
    "price_mad_outliers",
    "winsorized_price_stats",
    # r6 additions with a scale hazard worth measuring: per-basket pair
    # explosion (recs), a triple-window order-key pipeline (proration),
    # and the cumulative-weight rank windows (weighted median).
    "copurchase_jaccard_recs",
    "revenue_proration",
    "weighted_median_price",
    # r9 additions: the composed curation chain (its stages are
    # individually spotted, but the composition adds checkpoint
    # materializations and the cleaned-corpus weight build), and the
    # BPE encode (per-row fold should scale ~linearly; a superlinear
    # ratio would mean the vocab build or broadcast flipped).
    "curation_pipeline_full",
    "bpe_encode_docs",
    # DSIR scales with the corpus (exploded bigram stream + model
    # broadcast); the semantic-dedup batch ops (X176/X177) run over
    # fixed probe domains and are scale-invariant by construction, so
    # they are not spotted.
    "dsir_importance_weights",
    # r10 additions (VERDICT r9 #4): the r9 heavy family, each with a
    # measurable scale claim — LPA's bounded-pass joins, SemDeDup's
    # constant-cell-size pair work (the recipe's k grows with the
    # corpus until the 50-cap, so pair volume stays ~linear through
    # this window), fixed-k Lloyd iterations, the recall-curve eval,
    # IVF-PQ search, and the new anchor-posting span build.
    # dedup_strategy_delta is deliberately NOT spotted: its 10x wall
    # (~155 s measured) re-pays the ngram/minhash/simhash/substring
    # tiers that are each already spotted individually.
    "label_propagation_parts",
    "semantic_dedup_clusters",
    "kmeans_iterated_centroids",
    "matryoshka_recall_curve",
    "ann_recall_ivf_pq",
    "cross_doc_substring_dedup",
    # r11 (VERDICT r10 #7): one streaming-machinery representative —
    # the suite's slowest row; per-batch cost is |batch|·bands against
    # a static band index, so the 10x wall should be the fixed
    # availableNow machinery plus a linear batch term.
    "stream_minhash_dedup",
    # r12: the self-kNN family representative — in-cell pair volume is
    # n^1.5 under the ceil(sqrt(n)) cell recipe; X226/X231/X233 share
    # the identical assign/pair plumbing and are not separately spotted.
    "hard_negative_mining",
    # r14 additions with a measurable scale claim: the CDC chunk census
    # (scan-stage chunking, one chunk-hash window — linear in tokens),
    # the GBDT histogram split search (one fact scan, bin-sized
    # shuffles), and the term-burstiness rollup (two map-side-combined
    # token shuffles). future_purchase_labels / woe_information_value
    # are one-window / one-rollup shapes already covered by spotted
    # representatives.
    "cdc_chunk_dedup",
    "tree_split_gain",
    "token_burstiness",
    # r15: the IDF-weighted banding budget — two (doc, token)-cell
    # passes (df fit + weighted votes) plus the block-combination
    # banding; all map-side-combined shuffles, so the 10x wall should
    # track tokens linearly. stream_cdc_chunk_guard is deliberately
    # NOT spotted: its chunking plumbing is cdc_chunk_dedup's (spotted
    # above) and its streaming machinery is stream_minhash_dedup's.
    "simhash_idf_band_budget",
]


def _commit_summary(full: dict) -> str:
    """Commit-message-ready one-liner computed FROM the record, never
    hand-written (VERDICT r10 #2: commit a0b21ba claimed "all spots ok"
    over a bench_full.json containing a superlinear row). Paste this
    line verbatim into the bench-record commit message."""
    n_failed = sum(
        1 for v in full["queries"].values()
        if isinstance(v, (int, float)) and v < 0
    )
    parts = [
        f"{full['value']}s / {len(full['queries'])} queries at "
        f"sf{full['sf']}",
        "zero failures" if n_failed == 0 else f"{n_failed} FAILURES",
    ]
    if full.get("steady_total") is not None:
        parts.insert(1, f"steady sum {full['steady_total']}s")
    # Keeper gate (VERDICT r15 #8): a committed record must come from a
    # quiet window — the r15 comparison was wrecked by a load1=9.01
    # start. The summary says so loudly instead of relying on readers
    # to check idle_check themselves.
    ic = full.get("idle_check") or {}
    if not ic.get("idle") or (
        isinstance(ic.get("load1"), (int, float)) and ic["load1"] >= 2.0
    ):
        parts.insert(0, f"WINDOW NOT QUIET (load1 {ic.get('load1')}) — "
                        f"NOT a keeper record")
    spot = full.get("sf1_spot") or {}
    entries: dict[str, tuple] = {}  # name -> (verdict, detail)
    for n, v in (spot.get("queries") or {}).items():
        if isinstance(v, list) and len(v) == 3:
            entries[n] = (v[2], f"{n} {v[1]}x {v[2]}")
        elif isinstance(v, dict):
            entries[n] = (v.get("verdict"), f"{n} {v.get('verdict')}")
    for n, v in (spot.get("cache_builds") or {}).items():
        if isinstance(v, dict):
            b = v.get("build_s") or [None, None, None]
            entries[f"build:{n}"] = (
                v.get("verdict"), f"build:{n} {b[2]}x {v.get('verdict')}"
            )
    # ok_stages_linear = wall ratio over bound but every profiled stage
    # within bound (reconciled measurement artifact) — counted ok, but
    # surfaced by name so the reconciliation is visible in the summary.
    bad = sorted(
        d for vd, d in entries.values()
        if vd not in ("ok", "n/a", "ok_stages_linear")
    )
    n_ok = sum(
        1 for vd, _ in entries.values()
        if vd in ("ok", "ok_stages_linear")
    )
    recon = sorted(
        d for vd, d in entries.values() if vd == "ok_stages_linear"
    )
    if not entries:
        parts.append("no sf1 spots")
    elif bad:
        parts.append(
            f"sf1 spots: {n_ok} ok, {len(bad)} NOT ok ({'; '.join(bad)})"
        )
    else:
        ratios = [
            v[1]
            for v in (spot.get("queries") or {}).values()
            if isinstance(v, list) and len(v) == 3 and v[1] is not None
        ]
        worst = max(ratios) if ratios else None
        # Cache-build ratios are graded too — report their worst
        # separately so an ok-graded 12x build can't hide behind a
        # smaller query worst (ADVICE r11).
        bratios = [
            (v.get("build_s") or [None, None, None])[2]
            for v in (spot.get("cache_builds") or {}).values()
            if isinstance(v, dict)
        ]
        bratios = [r for r in bratios if r is not None]
        bworst = max(bratios) if bratios else None
        parts.append(
            f"all {n_ok} sf1 spots ok (worst query {worst}x"
            + (f", worst cache build {bworst}x" if bworst is not None
               else "")
            + ")"
        )
    if recon:
        parts.append(f"{len(recon)} reconciled ({'; '.join(recon)})")
    n_prof = sum(
        1 for tbl in (spot.get("stages") or {}).values()
        if isinstance(tbl, dict) and not tbl.get("no_stage_profile")
        and not tbl.get("failed")
    )
    n_unprof = len(spot.get("stages") or {}) - n_prof
    if n_unprof:
        parts.append(f"{n_unprof} >=8x rows WITHOUT stage profile")
    elif n_prof:
        parts.append(f"stage profiles attached for all {n_prof} >=8x rows")
    return "; ".join(parts)


def _compact_line(
    total: float, timings: dict, sf, ladder: dict, idle_check: dict,
    sf1_spot: dict | None = None, retimed: dict | None = None,
) -> str:
    failed = sorted(n for n, v in timings.items() if v < 0)
    ok = {
        n: v for n, v in timings.items()
        if isinstance(v, (int, float)) and v >= 0
    }
    # Drift-robust second metric (VERDICT r15 #2): the sum of steady
    # per-query walls (the retimer already replaced suite-loop outliers
    # with their serial steady re-runs in `timings`), so the driver can
    # compare plan cost instead of host weather. `value` stays the
    # actual first-pass suite wall.
    steady_total = round(sum(ok.values()), 3)
    # Per-query core (VERDICT r15 #1): every failure + the N slowest
    # steady walls, ordered failures-first then descending wall so the
    # truncation loop drops the SMALLEST timing first and failures never.
    qs = {n: -1.0 for n in failed}
    for n in sorted(ok, key=lambda n: -ok[n])[:LINE_QUERIES_MAX]:
        qs[n] = round(ok[n], 2)
    # Per-cache 1x build seconds (VERDICT r15 #1/#3): the first suite
    # consumer of each shared session cache pays its build, so the
    # driver needs the 1x build walls to attribute suite-wall shifts.
    builds_1x = {}
    if sf1_spot and isinstance(sf1_spot.get("cache_builds"), dict):
        for n, v in sf1_spot["cache_builds"].items():
            if isinstance(v, dict) and isinstance(v.get("build_s"), list):
                builds_1x[n] = (v["build_s"] or [None])[0]
    if sf1_spot and isinstance(sf1_spot.get("stages"), dict):
        # Stage tables ride in bench_full.json; the size-bounded line
        # carries only the per-stage 10x/1x ratios.
        sf1_spot = dict(sf1_spot)
        def _compact_stage(tbl):
            rows = tbl.get("rows") if isinstance(tbl, dict) else None
            if rows is None:
                return tbl  # no_stage_profile / failed markers
            return {
                k: (v[2] if isinstance(v, list) and len(v) >= 3 else v)
                for k, v in rows.items()
            }

        sf1_spot["stages"] = {
            q: _compact_stage(tbl)
            for q, tbl in sf1_spot["stages"].items()
        }
    if sf1_spot and isinstance(sf1_spot.get("cache_builds"), dict):
        # Full build rows ride in bench_full.json; the line carries
        # name -> 10x/1x ratio only.
        sf1_spot = dict(sf1_spot)
        sf1_spot["cache_builds"] = {
            n: (v.get("build_s") or [None, None, None])[2]
            for n, v in sf1_spot["cache_builds"].items()
            if isinstance(v, dict)
        }
    if sf1_spot and isinstance(sf1_spot.get("queries"), dict):
        # The full per-query table rides in bench_full.json; at 30+
        # spotted queries it alone would blow the 1800-char line and
        # the floor case then dropped the WHOLE block (r10). The line
        # keeps every anomalous entry verbatim (superlinear / failed /
        # skipped / n-a) and folds the "ok" rows into a count plus the
        # worst ok ratio.
        qd = sf1_spot["queries"]
        spot_ok = {
            n: v for n, v in qd.items()
            if isinstance(v, list) and len(v) == 3 and v[2] == "ok"
        }
        sf1_spot = dict(sf1_spot)
        sf1_spot["queries"] = {n: v for n, v in qd.items() if n not in spot_ok}
        sf1_spot["n_ok"] = len(spot_ok)
        ok_ratios = [v[1] for v in spot_ok.values() if v[1] is not None]
        sf1_spot["ok_max_ratio"] = max(ok_ratios) if ok_ratios else None
    payload = {
        "metric": "suite_total_wall",
        "value": total,
        "steady_total": steady_total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": len(failed),
        "idle_check": idle_check,
        "queries": qs,
        "cache_builds_1x": builds_1x,
        # [first_run_s, steady_s] for suite-loop outliers (>2x prev
        # record); the per-query dict carries the steady number.
        "retimed": retimed if retimed else {},
        "ladder": ladder,
        "sf1_spot": sf1_spot or {"skipped": True},
        "full_timings": "bench_full.json",
    }

    def _dumped() -> str:
        return json.dumps(payload, separators=(",", ":"))

    def _shrink_steps():
        """Ordered shrink actions, DECORATIVE BLOCKS FIRST (VERDICT r15
        #1 — the old loop dropped the per-query contract payload before
        the diagnostics, shipping "queries":{} two rounds running).
        Each step is applied only while the line is over the cap."""
        # 1. retimed: the steady numbers already live in `queries`;
        #    the [first, steady] pairs ride bench_full.json.
        yield lambda: payload.update(
            retimed={"n_retimed": len(retimed or {})}
        )
        # 2. sf1_spot decorative sub-blocks (anomaly rows + n_ok/worst
        #    stay; full detail rides bench_full.json).
        if isinstance(payload["sf1_spot"], dict):
            for k in (
                "stages", "cost_classes", "load1", "cold_cold",
                "retried", "quiet_recheck", "retried_builds",
                "reconciled", "reconcile_skipped", "graded_from",
                "cc_distributed", "cache_builds",
            ):
                yield lambda k=k: payload["sf1_spot"].pop(k, None)
        # 3. ladder decorative fields (the rung walls + speedups stay —
        #    they are the baseline-contract evidence).
        if isinstance(payload["ladder"], dict):
            for k in ("grid_prefilter_note", "design_point_10x"):
                yield lambda k=k: payload["ladder"].pop(k, None)
        # 4. queries: drop the smallest non-failed walls down to the
        #    floor (entries were inserted failures-first then slowest-
        #    descending, so the droppable tail IS the smallest).
        def _drop_smallest():
            droppable = [n for n in qs if n not in failed]
            if len(droppable) > LINE_QUERIES_MIN:
                qs.pop(droppable[-1])
        for _ in range(max(0, LINE_QUERIES_MAX - LINE_QUERIES_MIN)):
            yield _drop_smallest
        # 5. whole-block stubs, least essential first (ADVICE r4 floor
        #    case: a parseable line beats a complete one).
        for block in ("sf1_spot", "ladder", "idle_check"):
            yield lambda b=block: payload.update({b: {"truncated": True}})
        yield lambda: payload.update(cache_builds_1x={"truncated": True})
        # 6. last resort: shed remaining non-failed queries, then (only
        #    when nothing else is left) failures — overflow is most
        #    likely exactly when many queries fail, and those names
        #    must survive the cut as long as anything else can go.
        def _drop_any():
            droppable = [n for n in qs if n not in failed] or list(qs)
            if droppable:
                qs.pop(droppable[-1])
        while True:
            yield _drop_any

    line = _dumped()
    for step in _shrink_steps():
        if len(line) <= 1800:  # hard cap under the driver's buffer
            break
        before = line
        step()
        line = _dumped()
        if line == before and not qs:
            break  # nothing left to shed
    return line


def _idle_check() -> dict:
    """1-min load average BEFORE the JVM starts — timings are only
    comparable across rounds when the box is otherwise idle (a
    concurrent pytest JVM has been observed to inflate the suite total
    ~60%). VERDICT r4 #5: rather than merely RECORDING a busy box, wait
    (bounded, default 240 s, SPARK_GRAFT_IDLE_WAIT_S to override) for
    the load to decay below the idle threshold before timing anything —
    the 1-min average takes ~1-2 min to drain after a pytest run ends,
    so a short wait converts `idle: false` rounds into comparable ones."""
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return {"load1": None, "idle": None}
    ncpu = os.cpu_count() or 1
    thresh = 0.1 * ncpu
    out: dict = {}
    if load1 >= thresh:
        budget = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "240"))
        out["load1_initial"] = load1
        waited = 0.0
        while load1 >= thresh and waited < budget:
            time.sleep(5)
            waited += 5
            load1 = round(os.getloadavg()[0], 2)
        out["waited_s"] = round(waited, 1)
        print(f"bench: waited {waited:.0f}s for idle "
              f"(load1 {out['load1_initial']} -> {load1})", file=sys.stderr)
    out.update({"load1": load1, "idle": load1 < thresh})
    return out


def _prev_record(full_path: str, sf) -> tuple[dict[str, float], set]:
    """(timings, steady_names) from the PREVIOUS committed
    ``bench_full.json`` (read before this run overwrites it). Only
    comparable when the previous record ran at the same sf — a sf0.01
    verify run must not become the re-time baseline for a sf0.1 round.

    ``steady_names`` is the set of queries whose committed number came
    from a serial steady re-run (the prev record's ``retimed`` block)
    rather than the single-pass suite loop — only those are trusted as
    re-time baselines (VERDICT r8 #3: a FIRST-execution record can
    itself be cold-JIT inflated, and a 2×-of-inflated trigger then
    never fires; doc_dedup_spans sat at 10.16 s committed vs 0.5 s
    steady for two rounds this way)."""
    try:
        with open(full_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return {}, set()
    if prev.get("sf") != sf:
        return {}, set()
    timings = {
        n: v for n, v in (prev.get("queries") or {}).items()
        if isinstance(v, (int, float)) and v > 0
    }
    retimed = prev.get("retimed") or {}
    # Steady-verified is CUMULATIVE (the prev record's persisted
    # ``steady_verified`` union whatever that run itself re-timed):
    # trigger 3 must stay quiesced permanently once a query has ever
    # been steady-verified — deriving the set from the prev ``retimed``
    # block alone made every ≥2 s query oscillate (re-timed in round N,
    # absent from round N+1's block, re-timed again in N+2, with the
    # off-rounds committing a possibly cold-inflated first-pass wall).
    steady = {n for n, v in retimed.items() if isinstance(v, list)}
    steady |= set(prev.get("steady_verified") or [])
    return timings, steady


def _retime_outliers(
    spark, sf_dir: str, timings: dict[str, float],
    prev: dict[str, float], prev_steady: set,
    load1_at: dict | None = None,
) -> tuple[dict[str, list[float]], dict[str, list]]:
    """Serial steady-state re-run of suite-loop outliers (VERDICT r6 #3
    + r8 #3).

    The single-pass suite loop charges one-off session costs (cold JIT,
    first shuffle-service touch, session position) to whichever query
    pays them first — it has produced spurious "regression" flags two
    rounds running (r5: three; r6: promo_range_join recorded 7.35 s vs
    0.70 s isolated steady, judge-verified). A query is re-timed once,
    serial, after the suite pass, when ANY of:

    1. its wall exceeds 2× its previous committed record (and 0.5 s
       absolute, so sub-second jitter doesn't trigger re-runs);
    2. it has NO previous record at this sf (new query — its history
       must START at a steady number, or an inflated first record
       self-perpetuates under trigger 1's ratio test; VERDICT r8 #3:
       doc_dedup_spans committed 10.16 s vs 0.5 s steady);
    3. its wall is substantial (≥ 2 s) and its committed record never
       came from a steady re-run (not in the prev ``retimed`` block) —
       the baseline itself may be inflated, so the ratio test is void.
       Once re-timed, the query enters the CUMULATIVE
       ``steady_verified`` set persisted in bench_full.json, so this
       trigger quiesces permanently (deriving steadiness from the
       previous ``retimed`` block alone made it fire every other
       round — ADVICE r9).

    BOTH numbers are recorded: ``retimed[name] = [first_run_s,
    steady_s]``, and the per-query dict carries the steady number (the
    honest per-query cost); the suite total stays the actual
    first-pass wall. Each retimed row also gets a
    ``retime_load1[name] = [load1_at_first_pass, load1_at_retime]``
    annotation (VERDICT r13 #6) so a first/steady gap can be read
    against the host load that produced it."""
    out: dict[str, list[float]] = {}
    loads: dict[str, list] = {}
    from seng550_a3_etl_spark.suite import QUERIES

    names = [
        n for n, v in timings.items()
        if (v >= 0.5 and prev.get(n) and v > 2.0 * prev[n])
        or (v >= 0.5 and n not in prev)
        or (v >= 2.0 and n not in prev_steady)
    ]
    # Bounded: a systemic slowdown (new JVM flags, busy box) would
    # otherwise re-run half the suite. Largest walls first — they carry
    # the most distortion if left at their first-run numbers.
    for name in sorted(names, key=lambda n: -timings[n])[:12]:
        try:
            l1 = round(os.getloadavg()[0], 2)
        except OSError:  # pragma: no cover
            l1 = None
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # pragma: no cover
            print(f"bench: retime {name} failed: {exc}", file=sys.stderr)
            continue
        steady = round(time.perf_counter() - t0, 3)
        out[name] = [timings[name], steady]
        loads[name] = [(load1_at or {}).get(name), l1]
        timings[name] = steady
        print(
            f"bench: retimed {name}: first {out[name][0]}s -> steady "
            f"{steady}s (prev record {prev.get(name)}, load1 "
            f"{loads[name][0]} -> {loads[name][1]})",
            file=sys.stderr,
        )
    return out, loads


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    idle_check = _idle_check()

    from seng550_a3_etl_spark.session import get_spark
    from seng550_a3_etl_spark.suite import QUERIES

    spark = get_spark("seng550-a3-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen path AND the Python worker pool once so
    # per-query timings measure the engine, not first-job startup or
    # the first mapInPandas call's worker spawn.
    QUERIES["nation_order_counts"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    _warm_text_pipeline(spark, sf_dir)
    _warm_streaming(spark, sf_dir)

    timings: dict[str, float] = {}
    # 1-min load sampled at each query's start — attached to the retime
    # rows so a first-pass/steady gap can be read against the host state
    # that produced it (VERDICT r13 #6).
    load1_at: dict[str, float | None] = {}
    stream_rewarmed = False
    for name in sorted(QUERIES):
        if name.startswith("stream_") and not stream_rewarmed:
            # Re-warm the streaming machinery right before the stream_*
            # block (VERDICT r13 #3): the pre-suite warm-up runs ~6 min
            # before the first stream query in the sorted loop, and the
            # driver records still showed 18 s first-pass vs 4.5 s
            # steady for the first stateful row — re-touching the state
            # store + stream-stream join immediately before the block
            # costs ~2-3 s once, charged to no query.
            stream_rewarmed = True
            t0w = time.perf_counter()
            try:
                # best-effort: a re-warm failure mid-suite must never
                # cost the run its collected timings (r14 review)
                _warm_streaming(spark, sf_dir)
            except Exception as exc:
                print(f"bench: stream re-warm failed: {exc}",
                      file=sys.stderr)
            print(f"bench: stream re-warm before stream_* block "
                  f"{round(time.perf_counter() - t0w, 2)}s",
                  file=sys.stderr)
        try:
            load1_at[name] = round(os.getloadavg()[0], 2)
        except OSError:  # pragma: no cover
            load1_at[name] = None
        start = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - start, 3)
        except Exception as exc:  # keep the bench line parseable on failure
            timings[name] = -1.0
            print(f"bench: {name} failed: {exc}", file=sys.stderr)

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_full.json")
    prev_steady: set = set()
    retime_load1: dict = {}
    try:
        prev, prev_steady = _prev_record(full_path, sf)
        retimed, retime_load1 = _retime_outliers(
            spark, sf_dir, timings, prev, prev_steady, load1_at
        )
    except Exception as exc:
        retimed = {"failed": True}
        print(f"bench: retime failed: {exc}", file=sys.stderr)
    # Post-suite extras must NEVER cost the driver the compact line —
    # a dead JVM here still leaves a parseable record of the suite run.
    try:
        ladder = _ladder(spark, sf_dir)
    except Exception as exc:
        ladder = {"failed": True}
        print(f"bench: ladder failed: {exc}", file=sys.stderr)
    sf1_spot = None
    if os.environ.get("SPARK_GRAFT_SF1_SPOT", "1") != "0":
        try:
            sf1_spot = _sf1_spot(spark, sf_dir, timings, retimed)
        except Exception as exc:
            sf1_spot = {"failed": True}
            print(f"bench: sf1_spot failed: {exc}", file=sys.stderr)
        try:
            sf1_spot["cc_distributed"] = _cc_distributed_probe(spark)
        except Exception as exc:
            sf1_spot["cc_distributed"] = {"failed": True}
            print(f"bench: cc_distributed failed: {exc}", file=sys.stderr)
        try:
            _merge_cost_decades(sf1_spot)
        except Exception as exc:
            print(f"bench: cost-decades merge failed: {exc}",
                  file=sys.stderr)
    full = {
        "metric": "suite_total_wall",
        "value": total,
        # Drift-robust second metric (VERDICT r15 #2): sum of steady
        # per-query walls (retimed entries carry their serial steady
        # re-run numbers) — compare THIS across rounds, not `value`.
        "steady_total": round(
            sum(v for v in timings.values() if v >= 0), 3
        ),
        "unit": "sec",
        "queries": timings,
        # Sum(queries) < value whenever retimed is non-empty: `value`
        # is the actual first-pass suite wall, while retimed queries'
        # per-query entries carry their steady re-run numbers (the
        # first-pass walls are preserved as retimed[name][0]).
        "total_is_first_pass_wall": True,
        "retimed": retimed,
        # [load1_at_first_pass, load1_at_retime] per retimed row.
        "retime_load1": retime_load1,
        # Union of every name ever steady-verified at this sf (prev
        # record's set + this run's re-times) — _prev_record reads it
        # back so retime trigger 3 stays quiesced across rounds.
        "steady_verified": sorted(
            prev_steady
            | {n for n, v in retimed.items() if isinstance(v, list)}
        ),
        "sf": sf,
        "idle_check": idle_check,
        "ladder": ladder,
        "sf1_spot": sf1_spot,
    }
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(f"bench: full timings -> {full_path}", file=sys.stderr)
    try:
        print(f"bench: commit-summary: {_commit_summary(full)}",
              file=sys.stderr)
    except Exception as exc:
        print(f"bench: commit-summary failed: {exc}", file=sys.stderr)
    try:
        spark.stop()
    except Exception as exc:  # a dead gateway must not eat the line
        print(f"bench: spark.stop failed: {exc}", file=sys.stderr)
    # The compact line is the very last stdout write (after spark.stop())
    # so nothing can land between it and the driver's 2000-char tail.
    print(
        _compact_line(
            total, timings, sf, ladder, idle_check, sf1_spot, retimed
        ),
        flush=True,
    )


def _warm_text_pipeline(spark, sf_dir: str) -> None:
    """Warm the tokenize→shingle→hash→explode codegen path on a tiny
    document slice. The wide HOF pipeline's one-off JIT compile (~2 s)
    otherwise lands entirely on whichever text query runs FIRST in the
    sorted loop (cluster_best_doc), misattributing a fixed session cost
    to one query's timing."""
    from pyspark.sql import functions as F

    from seng550_a3_etl_spark.catalog import load_tables
    from seng550_a3_etl_spark.functions.text import (
        hashed_shingles,
        shingles,
        tokens,
    )

    docs = load_tables(spark, sf_dir).documents.limit(64)
    # string shingles (minhash/fuzzy/fingerprint path)
    docs.select(
        F.explode(
            F.array_distinct(shingles(tokens(F.col("text")), 3))
        ).alias("s")
    ).select(F.xxhash64("s")).write.format("noop").mode("overwrite").save()
    # hashed shingles (ngram posting path)
    docs.select(
        F.explode(
            F.array_distinct(hashed_shingles(tokens(F.col("text")), 3))
        ).alias("hs")
    ).write.format("noop").mode("overwrite").save()


def _warm_streaming(spark, sf_dir: str) -> None:
    """Run one tiny stateful availableNow streaming job so the first
    TIMED streaming query doesn't pay the one-off streaming-runtime
    costs — the round-over-round 1.4-1.5× jitter on stream_* queries
    tracked to cold streaming machinery, not plan changes.

    r13 (VERDICT r12 #5): the warm-up now mirrors the machinery the
    stream_* twins ACTUALLY use instead of the rate-source/noop-sink
    stand-in, because the r12 record's worst first-pass rows were all
    stream_* (13.0 s first vs 5.5 s steady for the substring guard)
    and the rate-source warm-up leaves the expensive paths cold:
    schema-enforced parquet FILE source (file-index listing + stream
    metadata log classes), watermark + windowed agg through a real
    HDFS-backed state store at the twins' 8 state partitions,
    a stream-static join, and the memory sink (+ queryName registry).
    A 64-row slice of the events fixture keeps the whole thing ~2 s."""
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    # A crashed previous run can leave a stale .bench_stream_warm_*
    # sibling (cleanup lives in this process's finally); remove them so
    # the warm-up never reads mismatched parquet (ADVICE r13 — the old
    # prefix-glob read `{slice_dir}*`, which matched such siblings).
    # Only dirs older than 10 minutes are removed: a concurrent bench
    # in the same repo may be mid-read of ITS live slice dir, and the
    # warm-up itself lasts seconds (ADVICE r14). Everything here is
    # best-effort: a warm-up setup failure must never cost a bench run
    # (r14 review).
    try:
        now = time.time()
        for stale in _glob.glob(".bench_stream_warm_*"):
            try:
                if now - os.path.getmtime(stale) < 600:
                    continue
            except OSError:
                pass  # already gone — nothing to remove
            shutil.rmtree(stale, ignore_errors=True)
        slice_dir = tempfile.mkdtemp(prefix=".bench_stream_warm_", dir=".")
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception as exc:
        print(f"bench: streaming warm-up setup failed: {exc}",
              file=sys.stderr)
        return
    try:
        from seng550_a3_etl_spark.catalog import set_parquet_ts_confs

        set_parquet_ts_confs(spark)
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        events.limit(64).write.mode("overwrite").parquet(slice_dir)
        schema = events.schema

        def _slice_stream():
            # ONE loader for both warm-up jobs so a fixture-vintage
            # change to the ts handling is edited once and both jobs
            # exercise the same decode path.
            s = spark.readStream.schema(schema).parquet(slice_dir)
            if dict(s.dtypes)["ts"] == "bigint":
                s = s.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            return s

        stream = _slice_stream()
        static = spark.range(4).select(
            F.col("id").alias("user_id"), F.lit("seg").alias("segment")
        )
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            stream.withWatermark("ts", "1 hour")
            .join(static, "user_id", "left")
            .groupBy(F.window("ts", "1 hour"), "segment")
            .count()
            .writeStream.format("memory")
            .queryName("bench_stream_warmup")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(60):
            # ADVICE r4: a hung warm-up stream must not keep running
            # concurrently with the timed queries it exists to stabilize.
            q.stop()
            print("bench: streaming warm-up timed out; stopped",
                  file=sys.stderr)
        spark.catalog.dropTempView("bench_stream_warmup")
        # Second tiny job: a watermarked stream-STREAM outer interval
        # join — StreamingSymmetricHashJoin state stores are a separate
        # operator family from the windowed-agg store above, and the
        # attribution twins' first pass was still paying its cold init
        # (r13: 8.1 s first vs 2.3 s steady with only the agg warm-up).
        def _side(prefix: str):
            return _slice_stream().select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            ).withWatermark(f"{prefix}_ts", "1 hour")

        left, right = _side("l"), _side("r")
        q2 = (
            left.join(
                right,
                (F.col("l_user") == F.col("r_user"))
                & (F.col("r_ts") >= F.col("l_ts"))
                & (F.col("r_ts") <= F.col("l_ts") + F.expr(
                    "INTERVAL 1 HOUR")),
                "leftOuter",
            )
            .select("l_user", "l_ts", "r_ts")
            .writeStream.format("memory")
            .queryName("bench_stream_warmup_join")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q2.awaitTermination(60):
            q2.stop()
            print("bench: stream-join warm-up timed out; stopped",
                  file=sys.stderr)
        spark.catalog.dropTempView("bench_stream_warmup_join")
    except Exception as exc:
        print(f"bench: streaming warm-up failed: {exc}", file=sys.stderr)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(slice_dir, ignore_errors=True)


def _ladder(spark, sf_dir: str) -> dict:
    """The reference's benchmark ladder (BASELINE.md; mirrors
    /root/reference/performance_test.py:69-90): one logical query —
    zero-preserving point counts per district — under three physical
    configurations, wall seconds as mean of 3 runs + speedup vs naive.

    no-index      → cross join, exact containment on every pair
    GIST-indexed  → the engine's indexed plans, both physical variants:
                    * broadcast bbox short-circuit join — the plan the
                      engine actually picks at this scale (small polygon
                      side), mirrors the reference's "index ⇒ faster"
                    * grid-cell prefilter equi-join — the plan for when
                      NEITHER side broadcasts; at bench scale it pays
                      cell-explode overhead it only earns back at 100×,
                      so it is annotated expected_at_scale rather than
                      expected to beat naive here
    matview/fact  → scan+agg over a pre-joined gold parquet table,
                    reconstructed through the same zero-preserving join
                    as the other configs so all rungs compute the same
                    logical result
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from seng550_a3_etl_spark.catalog import load_tables
    from seng550_a3_etl_spark.functions.geo import multipolygon_contains
    from seng550_a3_etl_spark.operators.spatial import points_in_polygons_join
    from seng550_a3_etl_spark.suite.spatial import customer_points, district_rects

    t = load_tables(spark, sf_dir)
    pts = customer_points(t)
    polys = district_rects(t)

    def zero_counts(matched):
        counts = matched.groupBy("n_name").agg(
            F.count("c_custkey").alias("point_count")
        )
        return (
            polys.select("n_name")
            .join(counts, "n_name", "left")
            .select(
                "n_name",
                F.coalesce("point_count", F.lit(0)).alias("point_count"),
            )
        )

    def naive():
        return zero_counts(
            pts.crossJoin(polys).filter(
                multipolygon_contains(F.col("polys"), F.col("px"), F.col("py"))
            )
        )

    def broadcast():  # the plan the engine picks at this scale
        return zero_counts(
            points_in_polygons_join(
                pts, polys, "px", "py", "polys", how="inner", cell_size=None
            )
        )

    def grid():  # the plan for when neither side broadcasts
        return zero_counts(
            points_in_polygons_join(
                pts, polys, "px", "py", "polys", how="inner", cell_size=7.0
            )
        )

    gold_dir = tempfile.mkdtemp(prefix=".bench_gold_", dir=".")
    try:
        points_in_polygons_join(
            pts, polys, "px", "py", "polys", how="inner", cell_size=7.0
        ).write.mode("overwrite").parquet(f"{gold_dir}/facts")

        def gold():  # the reference's matview config: scan + agg, same
            # zero-preserving reconstruction as every other rung
            return zero_counts(spark.read.parquet(f"{gold_dir}/facts"))

        def mean3(build) -> float:
            runs = []
            for _ in range(3):
                start = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - start)
            return round(sum(runs) / len(runs), 3)

        naive_s, bcast_s, grid_s, gold_s = (
            mean3(naive),
            mean3(broadcast),
            mean3(grid),
            mean3(gold),
        )
    finally:
        shutil.rmtree(gold_dir, ignore_errors=True)
    return {
        "query": "district_point_counts",
        "runs_per_config": 3,
        "no_index_s": naive_s,
        "broadcast_s": bcast_s,
        "grid_prefilter_s": grid_s,
        "gold_table_s": gold_s,
        "speedup_broadcast": round(naive_s / bcast_s, 2) if bcast_s else None,
        "speedup_grid": round(naive_s / grid_s, 2) if grid_s else None,
        "speedup_gold": round(naive_s / gold_s, 2) if gold_s else None,
        # kept short: this note rides inside the size-bounded stdout line
        "grid_prefilter_note": (
            "expected_at_scale: grid is the no-broadcast plan; at bench "
            "scale the engine picks the broadcast rung"
        ),
        "design_point_10x": _design_point(spark, pts, polys),
    }


def _design_point(spark, pts, polys) -> dict:
    """Measure the grid rung AT ITS DESIGN POINT (VERDICT r3 #6): the
    grid prefilter exists for when NEITHER side broadcasts and the point
    side is large. Inflate points 10× (deterministic jitter keeps them
    in-domain) and run with broadcast disabled: grid equi-join vs the
    exact theta join, which degrades to a CartesianProduct. One run per
    config — the gap, not the precision, is the result."""
    from pyspark.sql import functions as F

    from seng550_a3_etl_spark.functions.geo import multipolygon_contains
    from seng550_a3_etl_spark.operators.spatial import points_in_polygons_join

    big = pts.withColumn(
        "__r", F.explode(F.sequence(F.lit(0), F.lit(9)))
    ).select(
        "c_custkey",
        (F.col("px") + F.col("__r") * 1e-4).alias("px"),
        (F.col("py") + F.col("__r") * 1e-4).alias("py"),
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:

        def one(build) -> float:
            start = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - start, 3)

        grid_s = one(
            lambda: points_in_polygons_join(
                big, polys, "px", "py", "polys", how="inner", cell_size=7.0
            )
        )
        theta_s = one(
            lambda: big.crossJoin(polys).filter(
                multipolygon_contains(F.col("polys"), F.col("px"), F.col("py"))
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    out = {
        "points_x": 10,
        "grid_s": grid_s,
        "theta_nobcast_s": theta_s,
        "speedup_grid_vs_theta": round(theta_s / grid_s, 2) if grid_s else None,
    }
    print(f"bench: design_point_10x {out}", file=sys.stderr)
    return out


def _scale_10x(spark, sf_dir: str, out_dir: str) -> None:
    """Materialize a 10× replica of ``sf_dir`` under ``out_dir``
    (sf0.1 → sf1-equivalent row counts for the heavy-query tables).

    Replication must NOT change the statistical structure the heavy
    queries key on, or the scaling measurement is meaningless:

    - documents: every token gets the replica digit appended (the
      suite tokenizes on whitespace — functions/text.py:tokens), so
      each replica's shingle/token universe is DISJOINT from every
      other replica's while the WITHIN-replica duplicate structure is
      isomorphic to the original. Near-dup pair count and posting-list
      bucket sizes therefore scale exactly linearly — replicating the
      text verbatim would instead make every doc a 10-way exact dup
      and blow pair counts up 45× per original pair.
    - embeddings: replica r's vector is the original rotated by r
      positions — norm-preserving, and rotated random vectors are
      near-orthogonal, so cross-replica cosine pairs stay out of every
      threshold while within-replica geometry is unchanged.
    - events: user_id/event_id salted per replica — per-user event
      counts (and thus per-key streaming state and within-user join
      fan-out) stay constant; only the number of keys grows.
    - orders/lineitem: o_orderkey/l_orderkey salted per replica with
      part/customer keys UNCHANGED, so each replica reproduces the
      original basket composition. The co-purchase DISTINCT edge set
      is therefore identical (the graph queries re-pay the 10× scan +
      pair build + dedup — their dominant cost — while census values
      stay comparable) and PageRank is exactly invariant (edge weights
      and out-weights both scale 10×, so every contribution w/ow is
      unchanged). Group-keyed stats queries (priority/returnflag) see
      10× rows per group with identical distributions.

    Tables the spot queries never touch are symlinked, not copied.
    """
    from pyspark.sql import functions as F

    rep = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("__r")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("*", rep)
    salted_text = F.array_join(
        F.transform(
            F.split("text", r"\s+"),
            lambda t: F.concat(t, F.col("__r").cast("string")),
        ),
        " ",
    )
    docs.select(
        (F.col("doc_id") + F.col("__r") * F.lit(10_000_000)).alias("doc_id"),
        salted_text.alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("*", rep)
    rotated = F.concat(
        F.slice("embedding", F.col("__r") + 1, F.size("embedding") - F.col("__r")),
        F.slice("embedding", F.lit(1), F.col("__r")),
    )
    emb.select(
        (F.col("vec_id") + F.col("__r") * F.lit(10_000_000)).alias("vec_id"),
        rotated.alias("embedding"),
        "label",
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("*", rep)
    ev.select(
        (F.col("event_id") + F.col("__r") * F.lit(10_000_000_000)).alias(
            "event_id"
        ),
        "ts",
        (F.col("user_id") + F.col("__r") * F.lit(10_000_000)).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("*", rep)
    orders.select(
        (F.col("o_orderkey") + F.col("__r") * F.lit(10_000_000_000)).alias(
            "o_orderkey"
        ),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("*", rep)
    li.select(
        (F.col("l_orderkey") + F.col("__r") * F.lit(10_000_000_000)).alias(
            "l_orderkey"
        ),
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    for name in ("region", "nation", "customer", "supplier", "part"):
        os.symlink(f"{sf_dir}/{name}.parquet", f"{out_dir}/{name}.parquet")


def _merge_cost_decades(sf1_spot: dict) -> None:
    """Attach the committed two-decade cost-class record
    (COST_DECADES.json, generated one-off by
    scripts/cost_class_decades.py — VERDICT r12 #4) to the spot
    record's cost_classes entries, so the second-decade evidence rides
    every bench_full.json instead of living only in the one-off file.
    The 10x spot grades one decade; the decades record carries the
    exact pair-budget counter at 1x/10x/100x with per-scale regime
    (pool-limited vs sqrt-capped) and the normalized-ceiling verdict."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "COST_DECADES.json"
    )
    try:
        with open(path) as f:
            dec = json.load(f)
    except (OSError, ValueError):
        return
    cc = sf1_spot.setdefault("cost_classes", {})
    for qname, tname in (
        ("semantic_dedup_clusters", "semantic_dedup_clusters"),
        ("hard_negative_mining", "knn_cell_assign+hard_negative_mining"),
        # linear text-family counters (exactly-disjoint doc replicas)
        ("ngram_dup_pairs", "ngram_dup_pairs"),
        ("minhash_dup_pairs", "minhash_dup_pairs"),
        # substring-span family: the anchor-posting pair budget is the
        # xspan cache build's only superlinear term (VERDICT r13 #4);
        # attached to the spotted flagship query's row.
        ("cross_doc_substring_dedup", "xspan_span_census"),
        # SimHash block-combination banding (r14 swap): budget graded
        # against the linear-plus-collision-floor model, with the
        # retired single-chunk scheme's budget as the comparison row.
        ("simhash_near_pairs", "simhash_band_census"),
        # CDC chunk family (X250/X252): the chunk-hash frequency
        # C(f,2) budget over disjoint salted replicas (VERDICT r14 #4).
        ("cdc_chunk_dedup", "cdc_chunk_census"),
    ):
        tgt = (dec.get("targets") or {}).get(tname)
        if not tgt:
            continue
        entry = {
            "base": dec.get("base"),
            "scales": dec.get("scales"),
            "pair_budget": tgt.get("pair_budget"),
            "verdict": tgt.get("verdict"),
            "source": "COST_DECADES.json",
        }
        if tgt.get("budget_over_half_n15") is not None:
            entry["budget_over_half_n15"] = tgt["budget_over_half_n15"]
            entry["regimes"] = [
                r.get("regime") for r in tgt.get("per_scale", [])
            ]
        else:
            entry["budget_ratio_per_decade"] = tgt.get(
                "budget_ratio_per_decade"
            )
        # A query with no sf1-spot cost-class row (the linear text
        # family is graded by the generic 13x bound, so SPOT_COST_CLASS
        # has no entry) still gets the class/bound keys every other
        # cost_classes entry carries — consumers never special-case the
        # shape (ADVICE r13).
        row = cc.setdefault(
            qname,
            {"class": SPOT_COST_CLASS.get(qname, ("linear", 13.0))[0]
             or "linear",
             "bound": SPOT_COST_CLASS.get(qname, ("linear", 13.0))[1]},
        )
        row["decades"] = entry


def _cc_distributed_probe(spark) -> dict:
    """Measure the DISTRIBUTED connected-components path (VERDICT r5
    #7): the >200k-edge min-label loop is parity- and property-tested
    but the suite's real near-dup graphs stay under the driver
    union-find threshold, so its wall/scaling had no bench record.

    Two synthetic dup-shaped graphs (many small components — chains of
    4 nodes, diameter 3, the shape near-dup clusters take), 240k and
    480k edges, both above DRIVER_EDGE_THRESHOLD. The 2× rung gives the
    scaling verdict: same diameter ⇒ same round count, so wall should
    grow ~linearly with edges (``ok`` ≤ 3×, else ``superlinear``).
    Component count is asserted — a wrong labeling fails loudly."""
    from pyspark.sql import functions as F

    from seng550_a3_etl_spark.operators.graph import connected_components

    out: dict = {}
    walls: list[float] = []
    for n_comp in (80_000, 160_000):
        edges = (
            spark.range(n_comp)
            .select((F.col("id") * 4).alias("b"))
            .select(
                "b",
                F.explode(
                    F.array(F.lit(0), F.lit(1), F.lit(2))
                ).alias("o"),
            )
            .select(
                (F.col("b") + F.col("o")).alias("src"),
                (F.col("b") + F.col("o") + 1).alias("dst"),
            )
        )
        t0 = time.perf_counter()
        labels = connected_components(edges)
        n_labels = labels.select("label").distinct().count()
        wall = round(time.perf_counter() - t0, 2)
        if n_labels != n_comp:
            out[f"edges_{n_comp * 3}"] = [wall, "wrong_labeling"]
            print(
                f"bench: cc_distributed WRONG LABELING at {n_comp * 3} "
                f"edges — expected {n_comp} components, got {n_labels}",
                file=sys.stderr,
            )
            continue
        walls.append(wall)
        out[f"edges_{n_comp * 3}"] = [wall, "labels_ok"]
        print(
            f"bench: cc_distributed {n_comp * 3} edges {wall}s "
            f"({n_labels} components)",
            file=sys.stderr,
        )
    if len(walls) == 2 and walls[0] > 0:
        ratio = round(walls[1] / walls[0], 2)
        out["ratio_2x_edges"] = ratio
        out["verdict"] = "ok" if ratio <= 3.0 else "superlinear"
    return out


def _lsh_incremental_stages(spark, d: str) -> tuple[float, float]:
    """(index_build_s, per_batch_s) for the incremental-LSH pattern at
    data dir ``d`` — the two stages a deployment actually pays
    separately: the corpus-side shingle→signature→bucket INDEX build
    (amortized: written once, appended per batch) vs the per-batch
    survivor computation against the pinned index (the recurring cost).
    Knobs imported from the suite module so a re-parameterization there
    cannot leave this measuring a different pipeline. Built from raw
    parquet (no session shingle cache) so 1× and 10× measure like with
    like."""
    from pyspark.sql import functions as F

    from seng550_a3_etl_spark.catalog import load_tables
    from seng550_a3_etl_spark.functions.hashing import minhash_signatures
    from seng550_a3_etl_spark.functions.text import shingles, tokens
    from seng550_a3_etl_spark.operators.text_dedup import (
        band_keys,
        lsh_incremental_survivors,
    )
    from seng550_a3_etl_spark.suite.text import (
        MINHASH_BANDS,
        MINHASH_NUM_PERM,
    )

    t0 = time.perf_counter()
    sets_ = (
        load_tables(spark, d)
        .documents.select(
            F.col("doc_id").alias("doc"),
            F.array_distinct(shingles(tokens(F.col("text")), 3)).alias("sh"),
        )
        .filter(F.size("sh") > 0)
    )
    signed = minhash_signatures(sets_, "doc", F.col("sh"), MINHASH_NUM_PERM)
    banded = band_keys(
        signed, MINHASH_BANDS, MINHASH_NUM_PERM // MINHASH_BANDS
    ).localCheckpoint(eager=True)
    index_s = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    lsh_incremental_survivors(
        banded.filter(F.col("doc") % 10 < 8),
        banded.filter(F.col("doc") % 10 >= 8),
    ).select(F.col("doc").alias("doc_id")).write.format("noop").mode(
        "overwrite"
    ).save()
    batch_s = round(time.perf_counter() - t0, 2)
    return index_s, batch_s


def _lsh_staged_spot(spark, sf_dir: str, scaled: str) -> dict:
    """Staged sf1 spot for ``incremental_lsh_dedup`` (VERDICT r6 #3):
    the r6 generic spot recorded 14.8× (`superlinear`) because the
    one-shot query re-pays the corpus-side index build that a
    deployment amortizes; stage-profiling showed the per-batch survivor
    path itself is sublinear (0.7×). Measure the two stages separately
    at 1× and 10× so the headline verdict grades the RECURRING cost."""
    i1, b1 = _lsh_incremental_stages(spark, sf_dir)
    i10, b10 = _lsh_incremental_stages(spark, scaled)
    batch_ratio = round(b10 / b1, 1) if b1 > 0 else None
    out = {
        "index_build_s": [i1, i10, round(i10 / i1, 1) if i1 > 0 else None],
        "per_batch_s": [b1, b10, batch_ratio],
        "verdict": (
            "n/a" if batch_ratio is None
            else "ok" if batch_ratio <= 13.0
            else "superlinear"
        ),
        "note": "verdict=per_batch (recurring); index amortized",
    }
    print(f"bench: sf1_spot incremental_lsh_dedup staged {out}",
          file=sys.stderr)
    return out


def _timed_noop(spark, name: str, d: str) -> float:
    """Wall seconds for one full execution of suite query ``name`` over
    data dir ``d`` through the noop sink (compute, no collect) — the
    single timing primitive every spot re-run variant shares."""
    from seng550_a3_etl_spark.suite import QUERIES

    t0 = time.perf_counter()
    QUERIES[name](spark, d).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 2)


def _evict_entries(cache: dict, sfd: str, match=None) -> None:
    """Drop ``cache`` entries keyed to data dir ``sfd``; ``match``
    narrows to specific entries (the two shingle representations share
    one cache — ADVICE r12). The ONE place the cache-key layout
    (position 1 = sf_dir) is encoded."""
    for k in [
        k for k in cache
        if k[1] == sfd and (match is None or match(k))
    ]:
        del cache[k]


def _snapshot_session_caches(sfd: str) -> list:
    """Pop every suite session-cache entry keyed to data dir ``sfd``
    and return (cache, key, value) triples for `_restore_session_caches`.
    The cold-vs-cold escalation rung needs the caches ABSENT during its
    runs but the popped DataFrames (localCheckpoint-backed) stay valid —
    restoring them afterward preserves the prewarmed cache regime for
    every later spot query (r14 second review: a permanent eviction
    made each later cache consumer re-pay a multi-second build inside
    its timed wall, cascading escalations and burning the budget)."""
    from seng550_a3_etl_spark.suite import analytics as _suite_ana
    from seng550_a3_etl_spark.suite import text as _suite_text
    from seng550_a3_etl_spark.suite import text_lm as _suite_lm
    from seng550_a3_etl_spark.suite import vectors as _suite_vec

    snap = []
    for cache in (
        _suite_text._SHINGLE_CACHE,
        _suite_text._LABELS_CACHE,
        _suite_text._XSPAN_CACHE,
        _suite_text._CENSUS_CACHE,
        _suite_vec._ASSIGN_CACHE,
        _suite_ana._COPURCHASE_CACHE,
        _suite_lm._BPE_ENC_CACHE,
        _suite_text._SIMHASH_CACHE,
        _suite_text._MINHASH_SIG_CACHE,
        _suite_text._ANCHOR_CACHE,
        _suite_vec._ANN_CACHE,
        _suite_lm._DSIR_MODEL_CACHE,
    ):
        for k in [k for k in cache if k[1] == sfd]:
            snap.append((cache, k, cache.pop(k)))
    return snap


def _restore_session_caches(snap: list) -> None:
    """Put back what `_snapshot_session_caches` popped (overwriting any
    entries a cold run re-created — both are valid)."""
    for cache, k, v in snap:
        cache[k] = v


def _evict_session_caches(sfd: str, match=None) -> None:
    """Drop every suite session-cache entry keyed to data dir ``sfd``
    (optionally narrowed by ``match`` over the full cache key), so the
    next consumer pays a genuinely COLD build. Shared by the sf1-spot
    build retries, the stage-profile retry (ADVICE r13: the retry used
    to time warm cache hits and under-report cache-backed stages), and
    the cold-base re-time that grades superlinear rows cold-vs-cold."""
    from seng550_a3_etl_spark.suite import analytics as _suite_ana
    from seng550_a3_etl_spark.suite import text as _suite_text
    from seng550_a3_etl_spark.suite import text_lm as _suite_lm
    from seng550_a3_etl_spark.suite import vectors as _suite_vec

    for cache in (
        _suite_text._SHINGLE_CACHE,
        _suite_text._LABELS_CACHE,
        _suite_text._XSPAN_CACHE,
        _suite_text._CENSUS_CACHE,
        _suite_vec._ASSIGN_CACHE,
        _suite_ana._COPURCHASE_CACHE,
        _suite_lm._BPE_ENC_CACHE,
        _suite_text._SIMHASH_CACHE,
        _suite_text._MINHASH_SIG_CACHE,
        _suite_text._ANCHOR_CACHE,
        _suite_vec._ANN_CACHE,
        _suite_lm._DSIR_MODEL_CACHE,
    ):
        _evict_entries(cache, sfd, match)


def _stage_profile(spark, sf_dir: str, scaled: str, name: str) -> dict:
    """Stage-level 1×/10× decomposition for a spot entry whose ratio
    crossed the attention threshold (VERDICT r6 #7): runs the matching
    profiler from scripts/profile_10x.py against the already-built 10×
    replica and returns per-stage ratios, so the BENCH record is
    self-explaining instead of deferring to a manual profiler run."""
    import contextlib
    import importlib.util

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scripts",
        "profile_10x.py",
    )
    spec = importlib.util.spec_from_file_location("profile_10x", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    fn = mod.PROFILES.get(name)
    if fn is None:
        return {"no_stage_profile": True}
    # Stage ratios get the SAME bound + one-retry contract as query and
    # build ratios (VERDICT r12 #2: the semantic assign fold graded
    # 37.4x on a 0.28 s base while the query-level ratio and the pair
    # budget both tracked 14.2x). Two refinements specific to stages:
    #   - small_base: a 1x stage wall under _STAGE_FLOOR seconds is
    #     mostly constant overhead (codegen/JIT, task scheduling,
    #     checkpoint setup), so its RATIO is noise — grade the 10x
    #     wall against the absolute ceiling bound * floor instead and
    #     say so in the row.
    #   - one retry: if any stage fails its grade — ratio above the
    #     bound for a properly-based stage, OR 10x wall above the
    #     absolute ceiling for a small-base stage — re-run the whole
    #     profiler at 10x once and keep per-stage minima (cold-state
    #     artifacts don't repeat; genuine growth does). Both passes
    #     are recorded.
    _STAGE_FLOOR = 0.5
    bound = SPOT_COST_CLASS.get(name, (None, 13.0))[1]
    # Evict the session caches at BOTH scales before the first pass:
    # stage tables claim "timed cold at both scales" (_reconcile_stages
    # leans on it), but profiles run AFTER the spot loop, when the
    # prewarm's 10x caches (and the suite loop's 1x caches) are still
    # warm — a cache-backed stage would time a ~0 s hit and both
    # under-report the build and corrupt the reconcile premise
    # (r14 review).
    try:
        _evict_session_caches(sf_dir)
        _evict_session_caches(scaled)
    except Exception as exc:
        print(f"bench: stage-profile evict failed: {exc}", file=sys.stderr)
    with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the line
        one = fn(spark, sf_dir)
        ten = fn(spark, scaled)

    def _verdict(base: float, wall10: float) -> str:
        if base < _STAGE_FLOOR:
            return (
                "ok_small_base" if wall10 <= bound * _STAGE_FLOOR
                else "exceeds_bound"
            )
        return "ok" if wall10 / base <= bound else "exceeds_bound"

    def needs_retry() -> bool:
        return any(
            isinstance(v, float) and v > 0
            and _verdict(v, ten[k]) == "exceeds_bound"
            for k, v in one.items()
        )

    retried = None
    if needs_retry():
        # Evict the 10x session-cache entries BEFORE the retry so a
        # cache-backed stage (profile_ngram / profile_stream_minhash
        # time shingle_sets via _shingle_sets_df) re-times a COLD build
        # — the first pass timed cold, so min(first, warm-hit) would
        # otherwise record a cache hit and excuse a genuinely
        # superlinear shared-build stage (ADVICE r13).
        try:
            _evict_session_caches(scaled)
        except Exception as exc:
            print(f"bench: stage-retry evict failed: {exc}",
                  file=sys.stderr)
        with contextlib.redirect_stdout(sys.stderr):
            retried = fn(spark, scaled)
        for k, v in one.items():
            if isinstance(v, float) and isinstance(retried.get(k), float):
                ten[k] = min(ten[k], retried[k])
    # Metadata lives under its own keys; per-stage rows under "rows" —
    # consumers then never have to special-case which keys are stages.
    rows: dict = {}
    for k, v in one.items():
        if isinstance(v, float) and v > 0:
            rows[k] = [
                round(v, 2), round(ten[k], 2), round(ten[k] / v, 1),
                _verdict(v, ten[k]),
            ]
        else:
            rows[k] = [v, ten[k]]
    stages: dict = {
        "bound": bound,
        "small_base_floor_s": _STAGE_FLOOR,
        "rows": rows,
    }
    if retried is not None:
        stages["retried_10x"] = {
            k: round(v, 2) for k, v in retried.items()
            if isinstance(v, float)
        }
    return stages


def _reconcile_stages(spot: dict) -> None:
    """Auto-reconcile (VERDICT r13 #1): a superlinear wall-ratio grade
    whose own stage decomposition is entirely within bound is a
    measurement artifact (warm-vs-cold base, loaded window), not a plan
    problem — the stages ARE the plan, timed cold at both scales
    (_stage_profile evicts the session caches before the first pass).
    Re-grade ``ok_stages_linear`` with both numbers in-record; a
    genuinely superlinear plan keeps its grade because at least one
    stage exceeds the bound too.

    Coverage gate (r14 review): the flip is only sound when the
    profiled stages actually ACCOUNT for the query's wall — a
    superlinear term living in an unprofiled stage would otherwise
    produce an all-ok table over a 15x wall and ship as ok. Require
    the 10x stage-wall sum to reach 60% of the 10x query wall;
    otherwise keep the grade and record ``stages_incomplete``."""
    for name, entry in list((spot.get("queries") or {}).items()):
        if not (isinstance(entry, list) and len(entry) == 3
                and entry[2] == "superlinear"):
            continue
        tbl = (spot.get("stages") or {}).get(name)
        rows = tbl.get("rows") if isinstance(tbl, dict) else None
        if not rows:
            continue
        stage_rows = [
            v for v in rows.values()
            if isinstance(v, list) and len(v) == 4
        ]
        if not stage_rows:
            continue
        wall10 = entry[0]
        # Coverage counts SUB-stages only: several profilers also emit
        # a whole-query row — named 'full_query', or '<stage>_full'
        # where the stage includes everything before it (encode_full,
        # gate_full) — whose 10x wall alone >= the query wall, so
        # including any of them makes the gate vacuous (ADVICE r14 +
        # the r15 review pass that caught the two non-literal names).
        # Whole-query rows still participate in the all-ok check below
        # — they are graded against the bound like any stage.
        cover10 = sum(
            v[1] for k, v in rows.items()
            if k != "full_query" and not k.endswith("_full")
            and isinstance(v, list) and len(v) == 4
        )
        if not (
            isinstance(wall10, (int, float)) and wall10 > 0
            and cover10 >= 0.6 * wall10
        ):
            spot.setdefault("reconcile_skipped", {})[name] = (
                f"stages_incomplete: profiled 10x stage sum {cover10} "
                f"covers <60% of the {wall10}s query wall"
            )
            continue
        if all(v[3] in ("ok", "ok_small_base") for v in stage_rows):
            entry[2] = "ok_stages_linear"
            spot.setdefault("reconciled", {})[name] = (
                "wall ratio over bound but every profiled stage within "
                f"bound (10x stage sum {round(cover10, 2)}s covers the "
                f"{wall10}s wall); see stages + load1 rows"
            )
            print(f"bench: sf1_spot {name} reconciled -> "
                  f"ok_stages_linear", file=sys.stderr)


def _escalate_spot(
    spark, name: str, sf_dir: str, scaled: str, t: float, base,
    ratio, bound: float, l1, spot: dict, spent: float, budget: float,
):
    """The over-bound escalation ladder for one sf1 spot entry, pulled
    out of the loop so the rung sequence is unit-testable against a
    synthetic superlinear timer (VERDICT r14 #6). Returns the possibly
    lowered ``(t, ratio, spent)``; each rung records its walls under
    its own ``spot`` key. The rungs, in order — each fires only while
    the grade is still over ``bound`` and the budget has room:

    1. ``retried``: one same-regime 10x retry. A genuinely superlinear
       plan is slow AGAIN, while a session-state artifact (GC debt,
       evicted codegen) is not — r11 graded copurchase_triangles 10.4x
       and r12's first record graded semantic_dedup_clusters 33.7x on
       walls their isolated reruns put at 1.7x / 2.7x. Both walls are
       recorded; the grade uses the better one.
    2. ``quiet_recheck`` (only if the box was loaded, load1 > 2): one
       bounded wait-for-quiet plus another same-regime 10x re-run
       (VERDICT r13 #6). The wait is charged to the budget (r14
       review: an uncharged sleep let a sustained-load run blow past
       SPARK_GRAFT_SF1_BUDGET_S).
    3. ``cold_cold`` (VERDICT r13 #1, tightened in the r14 review):
       the as-measured ratio mixes cache regimes — the 1x base is
       session-cache-warm for cache consumers (the build is charged to
       whichever suite query runs first) while a 10x spot wall can
       land cache-cold (r13: minhash_dup_pairs graded 15.6x off a
       ~1.0 s warm base when its cold 1x stage sum is 2.16 s). Rather
       than repair one side (a cold 1x base against a warm 10x wall
       would deflate the ratio and could MASK a real regression — the
       r14 review's finding), measure BOTH sides cold: evict the
       session caches before each, and grade on the better of the two
       internally-consistent comparisons. A genuinely superlinear plan
       is over bound under both; a cache-regime artifact is over bound
       under exactly one. The caches are SNAPSHOTTED, not evicted —
       restored after the cold runs so later spot queries keep the
       prewarmed regime (r14 second review).
    """
    if ratio is not None and ratio > bound and spent <= budget:
        t0r = time.perf_counter()
        try:
            t2 = _timed_noop(spark, name, scaled)
            spot.setdefault("retried", {})[name] = [t, t2]
            if t2 < t:
                t = t2
                ratio = round(t / base, 1)
        except Exception as exc:
            print(f"bench: sf1_spot retry {name} failed: {exc}",
                  file=sys.stderr)
        # charged in ALL paths — a failed 120 s retry must not
        # dodge the budget gate (r14 second review)
        spent += time.perf_counter() - t0r
    if (
        ratio is not None and ratio > bound and spent <= budget
        and l1 is not None and l1 > 2.0
    ):
        t0q = time.perf_counter()
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if os.getloadavg()[0] < 2.0:
                    break
            except OSError:  # pragma: no cover
                break
            time.sleep(5)
        try:
            t2 = _timed_noop(spark, name, scaled)
            spot.setdefault("quiet_recheck", {})[name] = [
                t, t2, round(os.getloadavg()[0], 2)
            ]
            if t2 < t:
                t = t2
                ratio = round(t / base, 1)
        except Exception as exc:
            print(f"bench: sf1_spot quiet recheck {name} failed: "
                  f"{exc}", file=sys.stderr)
        spent += time.perf_counter() - t0q
    if ratio is not None and ratio > bound and spent <= budget:
        t0c = time.perf_counter()
        snap: list = []
        try:
            snap = _snapshot_session_caches(sf_dir)
            snap += _snapshot_session_caches(scaled)
            base_cold = _timed_noop(spark, name, sf_dir)
            # (the 1x cold run refills only sf_dir-keyed
            # entries; scaled stays cold from the snapshot pop)
            t_cold = _timed_noop(spark, name, scaled)
            cold_ratio = (
                round(t_cold / base_cold, 1)
                if base_cold > 0 else None
            )
            spot.setdefault("cold_cold", {})[name] = [
                base_cold, t_cold, cold_ratio
            ]
            if cold_ratio is not None and cold_ratio < ratio:
                ratio = cold_ratio
                # The recorded entry keeps the warm-regime wall
                # t (retry/quiet paths update t; this rung does
                # not), so t/base no longer equals the graded
                # ratio — say where the ratio came from instead
                # of making readers reverse-engineer it from
                # the cold_cold row (ADVICE r14).
                spot.setdefault("graded_from", {})[name] = "cold_cold"
        except Exception as exc:
            print(f"bench: sf1_spot cold-vs-cold {name} failed: "
                  f"{exc}", file=sys.stderr)
        finally:
            _restore_session_caches(snap)
        spent += time.perf_counter() - t0c
    return t, ratio, spent


def _sf1_spot(spark, sf_dir: str, timings: dict, retimed=None) -> dict:
    """Re-time the heaviest suite queries at 10× data (VERDICT r4 #6)
    and attach a one-line scaling verdict each: ``ok`` when wall time
    grows ≤13× for 10× rows (linear plus bounded shuffle/fixed
    overhead), ``superlinear`` beyond that — the signal that a plan
    flipped (e.g. a broadcast that no longer fits) or a candidate set
    is growing faster than the corpus. Each entry: [sec, ratio_vs_1x,
    verdict]. Bounded by a total wall budget so a pathological query
    can't run the bench past the driver's patience.

    The 1× base is the first-pass suite wall (``retimed[name][0]``
    when the retimer replaced the record with a warm steady number) —
    closest in regime to the spot run (r9: grading against the warm
    steady base flagged cluster_best_doc at 31.7× when the like-for-
    like ratio is ~3.6×). Because the base and spot cache regimes can
    still diverge (r13: minhash_dup_pairs 15.6× off a cache-warm base
    against a cache-cold spot wall), an over-bound grade escalates
    through a fixed ladder before it stands, each rung recorded under
    its own key: (1) one same-regime 10× retry; (2) if the box was
    loaded (load1 > 2), a budget-charged wait-for-quiet plus another
    10× re-run; (3) a COLD-vs-COLD comparison — session caches evicted
    before both a fresh 1× and a fresh 10× run — grading on the better
    of the two internally-consistent comparisons (a genuine
    superlinear plan fails both; a cache-regime artifact fails exactly
    one); (4) stage-profile reconciliation with a 60% wall-coverage
    gate (_reconcile_stages)."""
    retimed = retimed if isinstance(retimed, dict) else {}
    import shutil
    import tempfile

    from seng550_a3_etl_spark.suite import QUERIES

    scaled = tempfile.mkdtemp(prefix=".bench_sf1_", dir=".")
    spot: dict = {"x": 10, "queries": {}}
    budget = float(os.environ.get("SPARK_GRAFT_SF1_BUDGET_S", "900"))
    try:
        start = time.perf_counter()
        _scale_10x(spark, sf_dir, scaled)
        spot["scale_build_s"] = round(time.perf_counter() - start, 1)
        # Build the SHARED session caches for the replica before any
        # spot query runs, mirroring the 1x regime: in the suite loop
        # the shingle-set / dup-label / span caches are charged to
        # whichever (usually non-spotted) query consumes them first, so
        # every spotted query's 1x base wall is cache-warm — but at 10x
        # the first SPOTTED consumer paid the whole cache build inside
        # its measured wall (r10: minhash_dup_pairs graded 14.2x
        # "superlinear" while its isolated cold-vs-cold ratio is 2.9x).
        # r11 (VERDICT r10 #4): each build is now ALSO timed at 1x
        # (evict + rebuild isolates it from the suite loop's charging)
        # and 10x and recorded as its own [1x, 10x, ratio] row — the
        # substring family's dominant 10x cost used to hide inside an
        # opaque scale_build_s while its flagship query spotted at
        # 0.03s/0.0x.
        spot["cache_builds"] = {}
        try:
            from seng550_a3_etl_spark.suite import analytics as _suite_ana
            from seng550_a3_etl_spark.suite import text as _suite_text
            from seng550_a3_etl_spark.suite import text_lm as _suite_lm
            from seng550_a3_etl_spark.suite import vectors as _suite_vec

            _evict_session_caches(sf_dir)
            # build name -> (cache dict, exact-entry matcher). The
            # matcher keys on the representation component so a retry
            # evicts only the retried build's own entry.
            _CACHE_BY_BUILD = {
                "shingle_sets_hashed": (
                    _suite_text._SHINGLE_CACHE, lambda k: k[3] == "hashed"),
                "shingle_sets_string": (
                    _suite_text._SHINGLE_CACHE, lambda k: k[3] == "string"),
                "dup_cluster_labels": (_suite_text._LABELS_CACHE, None),
                "xspan_span_census": (_suite_text._XSPAN_CACHE, None),
                "dedup_tier_census": (_suite_text._CENSUS_CACHE, None),
                "knn_cell_assign": (_suite_vec._ASSIGN_CACHE, None),
                "copurchase_gold": (_suite_ana._COPURCHASE_CACHE, None),
                "bpe_encode": (_suite_lm._BPE_ENC_CACHE, None),
                "simhash_fingerprints": (
                    _suite_text._SIMHASH_CACHE, lambda k: k[2] == "fps"),
                "simhash_candidates": (
                    _suite_text._SIMHASH_CACHE, lambda k: k[2] == "cands"),
                "ann_exact_topk": (
                    _suite_vec._ANN_CACHE, lambda k: k[2] == "exact"),
                "ann_ivf_topk": (
                    _suite_vec._ANN_CACHE, lambda k: k[2] == "ivf"),
                "minhash_signatures": (
                    _suite_text._MINHASH_SIG_CACHE, None),
                "dsir_model": (_suite_lm._DSIR_MODEL_CACHE, None),
                "anchor_instances": (_suite_text._ANCHOR_CACHE, None),
            }
            # dependency order: labels ride the hashed shingle set, so
            # each timing isolates exactly one build.
            builds = [
                ("shingle_sets_hashed",
                 lambda d: _suite_text._shingle_sets_df(
                     spark, d, n=3, hashed=True)),
                ("shingle_sets_string",
                 lambda d: _suite_text._shingle_sets_df(
                     spark, d, n=3, hashed=False)),
                # r15: 8-perm signatures ride the string shingle sets
                # (ordering isolates the signature aggregation).
                ("minhash_signatures",
                 lambda d: _suite_text._minhash_sigs_df(spark, d)),
                ("dup_cluster_labels",
                 lambda d: _suite_text._labels_df(spark, d)),
                ("xspan_span_census",
                 lambda d: _suite_text._xspan_spans_df(spark, d)),
                # r16: SimHash fingerprints + candidates must be timed
                # BEFORE the census (its simhash tier rides them) —
                # the r15 order timed the census first, so the census
                # row absorbed both simhash builds and the simhash
                # rows read 0.0 s warm hits at both scales.
                ("simhash_fingerprints",
                 lambda d: _suite_text._simhash_fps_df(spark, d)),
                ("simhash_candidates",
                 lambda d: _suite_text._simhash_cands_df(spark, d)),
                # The 8-tier dedup census (_CENSUS_CACHE) rides the
                # shingle/signature/label/xspan/simhash caches above,
                # so timed after them its row isolates exactly the
                # tier-union + flag-rollup work the X146/X202
                # consumers share (r11 omitted it — ADVICE r11 — so at
                # 10x the census build was still charged into the
                # first spotted consumer's wall).
                ("dedup_tier_census",
                 lambda d: _suite_text.dedup_strategy_delta(spark, d)),
                # r12: the self-kNN cell assignment (X226/X231/X233/
                # X234 share it) — sqrt(n) cells, broadcast assign
                # fold + label join, independent of the text caches.
                ("knn_cell_assign",
                 lambda d: _suite_vec._knn_assigned(spark, d)),
                # r15: the co-purchase gold table (op + a<b pair
                # counts) shared by the six graph-family queries —
                # basket-bounded bucket_pairs fan-out, one pair
                # shuffle; independent of the text/vector caches.
                ("copurchase_gold",
                 lambda d: _suite_ana._copurchase_co(spark, d)),
                # r15: the X162 BPE-encoded corpus shared by the
                # encode/fertility/drift trio — vocab build + per-char
                # greedy-match fold, one corpus scan.
                ("bpe_encode",
                 lambda d: _suite_lm._bpe_encoded(spark, d)),
                # r15: the exact / IVF top-5 acceptance tables shared
                # by X6/X7 and the X72/X163 recall gates.
                ("ann_exact_topk",
                 lambda d: _suite_vec._ann_exact_topk(spark, d)),
                ("ann_ivf_topk",
                 lambda d: _suite_vec._ann_ivf_topk(spark, d)),
                # r15: the DSIR bigram importance model shared by the
                # batch scorer and the streaming twin.
                ("dsir_model",
                 lambda d: _suite_lm._dsir_model_df(spark, d)),
                # r15: the K=8 anchor-instance rollup shared by X89 /
                # X199 census / X208's streaming index.
                ("anchor_instances",
                 lambda d: _suite_text._anchor_instances_df(spark, d)),
            ]
            for bname, fn in builds:
                t0 = time.perf_counter()
                fn(sf_dir)
                b1 = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                fn(scaled)
                b10 = round(time.perf_counter() - t0, 2)
                ratio = round(b10 / b1, 1) if b1 > 0 else None
                bcls, bbound = BUILD_COST_CLASS.get(bname, (None, 13.0))
                if ratio is not None and ratio > bbound:
                    # Same one-retry contract as query spots: a
                    # genuinely superlinear build is slow AGAIN; a
                    # session-state artifact (GC debt, host noise) is
                    # not. Both walls are recorded; the grade uses the
                    # better one. (This run's dup_cluster_labels read
                    # 16.2x in a window whose identical-code build had
                    # measured 4.4x thirty minutes earlier.)
                    bcache, bmatch = _CACHE_BY_BUILD.get(bname, ({}, None))
                    _evict_entries(bcache, scaled, bmatch)
                    t0 = time.perf_counter()
                    fn(scaled)
                    b10r = round(time.perf_counter() - t0, 2)
                    spot.setdefault("retried_builds", {})[bname] = [
                        b10, b10r
                    ]
                    if b10r < b10:
                        b10 = b10r
                        ratio = round(b10 / b1, 1) if b1 > 0 else None
                row = {
                    "build_s": [b1, b10, ratio],
                    "verdict": (
                        "n/a" if ratio is None
                        else "ok" if ratio <= bbound
                        else "superlinear"
                    ),
                    "note": "shared session cache, amortized across "
                            "consumers (gold-table analog)",
                }
                if bcls is not None:
                    row["cost_class"] = {"class": bcls, "bound": bbound}
                spot["cache_builds"][bname] = row
                print(f"bench: sf1 cache build {bname} "
                      f"{spot['cache_builds'][bname]['build_s']}",
                      file=sys.stderr)
        except Exception as exc:
            print(f"bench: sf1 cache prewarm failed: {exc}",
                  file=sys.stderr)
        spent = round(time.perf_counter() - start, 1)
        # Sorted to mirror the main suite loop's alphabetical order:
        # session caches (shingle sets, labels) are charged to the
        # alphabetically-first consumer in BOTH timing contexts, so the
        # ratio compares like with like. The r5 spot ran list order and
        # charged the 10× string-shingle build to minhash_dup_pairs
        # whose 1× baseline was cache-warm (incremental_lsh_dedup sorts
        # earlier and had built it) — inflating its ratio to 11.9× while
        # deflating incremental's to 1.4×; measured stage-by-stage the
        # minhash pipeline itself scales ~3.5× for 10× rows
        # (scripts/profile_10x.py).
        for name in sorted(SF1_SPOT):
            if spent > budget:
                spot["queries"][name] = [None, None, "skipped_budget"]
                continue
            if name == "incremental_lsh_dedup":
                # Staged: the one-shot query re-pays the amortized
                # corpus index build; grade the recurring per-batch path.
                t0 = time.perf_counter()
                try:
                    spot["queries"][name] = _lsh_staged_spot(
                        spark, sf_dir, scaled
                    )
                except Exception as exc:
                    spot["queries"][name] = [-1.0, None, "failed"]
                    print(f"bench: sf1_spot {name} staged failed: {exc}",
                          file=sys.stderr)
                spent += time.perf_counter() - t0
                continue
            rt = retimed.get(name)
            base = (
                rt[0]
                if isinstance(rt, list) and rt and rt[0]
                else timings.get(name)
            )
            # Drop py4j refs from earlier spots so the ContextCleaner
            # reclaims checkpoint RDDs/broadcasts before timing — the
            # end-of-suite heap otherwise inflates late spots (r12:
            # semantic_dedup_clusters 34.4 s in-suite vs 8.2 s
            # isolated, same code and data).
            import gc as _gc

            _gc.collect()
            # Per-row load annotation (VERDICT r13 #6): both r13
            # mis-grades happened in a window the idle gate barely
            # passed — record the 1-min load at spot time so a grade
            # can be read against the host state that produced it.
            try:
                l1 = round(os.getloadavg()[0], 2)
            except OSError:  # pragma: no cover
                l1 = None
            spot.setdefault("load1", {})[name] = l1
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, scaled).write.format("noop").mode(
                    "overwrite"
                ).save()
                t = round(time.perf_counter() - t0, 2)
            except Exception as exc:
                spot["queries"][name] = [-1.0, None, "failed"]
                print(f"bench: sf1_spot {name} failed: {exc}",
                      file=sys.stderr)
                spent += time.perf_counter() - t0
                try:  # dead session ⇒ every further attempt just times out
                    spark.sql("SELECT 1").collect()
                except Exception:
                    spot["aborted"] = "spark session died"
                    print("bench: sf1_spot aborted: session dead",
                          file=sys.stderr)
                    break
                continue
            spent += t
            ratio = round(t / base, 1) if base and base > 0 else None
            bound = SPOT_COST_CLASS.get(name, (None, 13.0))[1]
            t, ratio, spent = _escalate_spot(
                spark, name, sf_dir, scaled, t, base, ratio, bound, l1,
                spot, spent, budget,
            )
            verdict = (
                "n/a" if ratio is None
                else "ok" if ratio <= bound
                else "superlinear"
            )
            spot["queries"][name] = [t, ratio, verdict]
            if name in SPOT_COST_CLASS:
                spot.setdefault("cost_classes", {})[name] = {
                    "class": SPOT_COST_CLASS[name][0],
                    "bound": bound,
                }
            print(f"bench: sf1_spot {name} {t}s ({ratio}x vs 1x: {verdict})",
                  file=sys.stderr)
        # Self-explaining records (VERDICT r6 #7): any entry whose ratio
        # crossed 8× gets a stage-level decomposition attached while the
        # 10× replica still exists — bounded to the remaining budget.
        for name, entry in list(spot["queries"].items()):
            if not (isinstance(entry, list) and len(entry) == 3):
                continue
            ratio = entry[1]
            if ratio is None or ratio < 8.0 or spent > budget:
                continue
            t0 = time.perf_counter()
            try:
                spot.setdefault("stages", {})[name] = _stage_profile(
                    spark, sf_dir, scaled, name
                )
            except Exception as exc:
                spot.setdefault("stages", {})[name] = {"failed": True}
                print(f"bench: stage profile {name} failed: {exc}",
                      file=sys.stderr)
            spent += time.perf_counter() - t0
        _reconcile_stages(spot)
    finally:
        shutil.rmtree(scaled, ignore_errors=True)
    return spot


if __name__ == "__main__":
    main()
