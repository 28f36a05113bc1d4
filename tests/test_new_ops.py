"""Unit tests for the round-2 operators: range_join boundary semantics,
decontaminate overlap counting, and time_rollup grain structure."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from seng550_a3_etl_spark.operators.decontaminate import decontaminate
from seng550_a3_etl_spark.operators.joins import range_join
from seng550_a3_etl_spark.operators.rollup import time_rollup


def test_range_join_boundaries(spark):
    points = spark.createDataFrame(
        [(1, 10), (2, 15), (3, 20), (4, 21), (5, 9)], "pid int, p long"
    )
    ranges = spark.createDataFrame(
        [(100, 10, 20), (200, 30, 25)],  # 200 is an empty interval
        "rid int, s long, e long",
    )
    got = {
        (r.pid, r.rid)
        for r in range_join(points, ranges, "p", "s", "e", 4).collect()
    }
    # inclusive both ends; 21 and 9 outside; empty interval matches nothing
    assert got == {(1, 100), (2, 100), (3, 100)}


def test_range_join_spanning_many_buckets_no_dups(spark):
    # one range spanning 10 buckets must still match each point once
    points = spark.createDataFrame(
        [(i, i * 7) for i in range(12)], "pid int, p long"
    )
    ranges = spark.createDataFrame([(1, 0, 70)], "rid int, s long, e long")
    rows = range_join(points, ranges, "p", "s", "e", 7).collect()
    assert sorted(r.pid for r in rows) == list(range(11))  # 77 > 70 excluded
    assert len(rows) == len({r.pid for r in rows})  # no duplicate pairs


def test_range_join_matches_brute_force_random(spark):
    """Property check: bucketed interval join equals the O(n*m) nested
    loop for random points/ranges across several bucket sizes (including
    bucket sizes smaller and larger than every range)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    pts_st = st.lists(
        st.integers(-50, 50), min_size=0, max_size=15, unique=True
    )
    rng_st = st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-20, 20)),
        min_size=0,
        max_size=8,
    )

    @given(pts=pts_st, rngs=rng_st, bucket=st.sampled_from([1, 7, 100]))
    @settings(
        max_examples=5,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(pts, rngs, bucket):
        points = spark.createDataFrame(
            [(i, p) for i, p in enumerate(pts)] or [(0, 0)],
            "pid int, p long",
        )
        if not pts:
            points = points.limit(0)
        ranges = spark.createDataFrame(
            [(i, s, s + w) for i, (s, w) in enumerate(rngs)] or [(0, 0, 0)],
            "rid int, s long, e long",
        )
        if not rngs:
            ranges = ranges.limit(0)
        got = {
            (r.pid, r.rid)
            for r in range_join(
                points, ranges, "p", "s", "e", bucket
            ).collect()
        }
        want = {
            (pi, ri)
            for pi, p in enumerate(pts)
            for ri, (s, w) in enumerate(rngs)
            if s <= p <= s + w
        }
        assert got == want

    check()


def test_range_join_rejects_colliding_columns(spark):
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="colliding"):
        range_join(df, df, "x", "x", "x", 1)


def test_decontaminate_counts_distinct_overlap(spark):
    docs = spark.createDataFrame(
        [
            # shares "a b c" (twice in text — counted once) with eval
            (1, "a b c x a b c"),
            (2, "q r s t u"),  # clean
            # shares two distinct eval shingles
            (3, "a b c d e"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(10, "a b c d z z z")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_overlap, r.contaminated)
        for r in decontaminate(
            docs, eval_docs, "doc_id", "text", "text", n=3, min_overlap=2
        ).collect()
    }
    # eval 3-shingles: {a b c, b c d, c d z, d z z, z z z}
    # doc 1 distinct overlap = {a b c} → 1 (< min_overlap → clean)
    # doc 3 overlap = {a b c, b c d} → 2 → contaminated
    assert got == {1: (1, False), 2: (0, False), 3: (2, True)}


def test_pack_sequences_boundaries(spark):
    from seng550_a3_etl_spark.operators.packing import pack_sequences

    chunks = spark.createDataFrame(
        [
            # shard 1: 10+10 fills to exactly capacity (stays), next starts new
            (1, 1, 10),
            (1, 2, 10),
            (1, 3, 5),
            # oversized chunk gets its own sequence; successor starts fresh
            (1, 4, 99),
            (1, 5, 1),
            # second shard independent
            (2, 1, 20),
        ],
        "shard int, ord int, n int",
    )
    out = pack_sequences(chunks, "shard", ["ord"], "n", capacity=20)
    got = {(r.shard, r.ord): (r.seq_id, r.seq_fill) for r in out.collect()}
    assert got == {
        (1, 1): (0, 10),
        (1, 2): (0, 20),  # exact capacity stays in sequence 0
        (1, 3): (1, 5),
        (1, 4): (2, 99),  # oversized → own sequence
        (1, 5): (3, 1),
        (2, 1): (0, 20),
    }


def test_pack_sequences_invariants_random(spark):
    """Property check over random chunk sizes: (a) a sequence's fill
    never exceeds capacity unless it is a single oversized chunk, (b)
    seq_ids are contiguous from 0 per shard, (c) packing preserves the
    chunk order (seq_id non-decreasing in walk order), (d) greedy: a new
    sequence only starts when the previous could not fit the chunk."""
    import random

    rng = random.Random(42)
    rows = [
        (s, i, rng.choice([1, 3, 7, 10, 25]))
        for s in range(3)
        for i in range(40)
    ]
    from seng550_a3_etl_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(rows, "shard int, ord int, n int")
    out = sorted(
        (
            (r.shard, r.ord, r.n, r.seq_id, r.seq_fill)
            for r in pack_sequences(
                df, "shard", ["ord"], "n", capacity=20
            ).collect()
        )
    )
    by_shard: dict = {}
    for shard, ordv, n, seq, fill in out:
        by_shard.setdefault(shard, []).append((ordv, n, seq, fill))
    for shard, chunks in by_shard.items():
        seqs: dict = {}
        prev_seq = 0
        for ordv, n, seq, fill in chunks:  # already ord-sorted
            assert seq in (prev_seq, prev_seq + 1)  # (c) contiguous
            if seq != prev_seq or not seqs:
                # (d) greedy: previous sequence couldn't fit this chunk
                if seq > 0:
                    assert seqs[seq - 1] + n > 20
            prev_seq = seq
            seqs[seq] = fill
        for seq, fill in seqs.items():
            members = [n for _, n, s, _ in chunks if s == seq]
            assert fill == sum(members)
            assert fill <= 20 or len(members) == 1  # (a)


def test_shingle_freq_bound_is_exact_at_fixture_scales():
    """The suite's ngram queries pass max_shingle_freq=64 while their
    DuckDB oracles stay unbounded — exact only while no 3-gram shingle
    is shared by more than 64 documents. Pin that claim against BOTH
    fixture scales so fixture growth turns a silent undercount into a
    loud failure here first."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        max_f = con.sql(
            rf"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(text, '\s+') AS t
              FROM read_parquet('/root/testdata/{sf}/documents.parquet')
            ),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS s
              FROM toks
            )
            SELECT COALESCE(MAX(f), 0) FROM (
              SELECT COUNT(*) AS f FROM sh GROUP BY s)
            """
        ).fetchone()[0]
        con.close()
        assert max_f <= 64, (
            f"{sf}: a shingle is shared by {max_f} > 64 docs — "
            f"max_shingle_freq=64 is no longer exact; raise the bound "
            f"in suite/text.py or bound the oracles"
        )


def test_changed_names_all_registered():
    # a typo in _CHANGED would silently fail to boost a query back into
    # the driver's checked window after its code changed.
    from seng550_a3_etl_spark.suite import _CHANGED, QUERIES

    missing = [n for n in _CHANGED if n not in QUERIES]
    assert not missing, f"_CHANGED names not registered: {missing}"


def test_changed_has_no_duplicate_literal_keys():
    # _CHANGED is a dict literal: a duplicate key silently keeps only
    # the LAST entry. Today that is always the latest change round, but
    # one comment-block reordering away from a stale-ledger bug (VERDICT
    # r11/r12 item) — so lint the source: exactly one literal entry per
    # query name.
    import ast
    import inspect
    from collections import Counter

    from seng550_a3_etl_spark import suite as s

    tree = ast.parse(inspect.getsource(s))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.AnnAssign)
            and getattr(node.target, "id", None) == "_CHANGED"
        ):
            keys = [k.value for k in node.value.keys]
            dups = {k: c for k, c in Counter(keys).items() if c > 1}
            assert not dups, (
                f"duplicate literal keys in _CHANGED (earlier entries "
                f"are silently dropped): {dups} — keep ONE entry per "
                f"query at its latest change round"
            )
            return
    raise AssertionError("_CHANGED dict literal not found in suite/__init__.py")


def test_never_checked_queries_sort_first():
    # the rotation is computed from the committed CORRECTNESS files: a
    # query with no driver row in any round sorts ahead of every
    # checked query, so the first min(50, |never|) driver slots go to
    # never-checked queries (once |never| exceeds the 50-slot cap the
    # overflow is unavoidable and spills to later rounds — the
    # invariant is the TIER ordering, not full coverage in one round).
    from seng550_a3_etl_spark.suite import _last_driver_round, QUERIES

    last = _last_driver_round()
    assert last, "no CORRECTNESS_r*.json found at repo root"
    never = {n for n in QUERIES if n not in last}
    head = set(list(QUERIES)[: len(never)])
    assert head == never, (
        f"tier order broken: checked queries ahead of never-checked: "
        f"{sorted(head - never)} vs {sorted(never - head)}"
    )


def test_driver_slot_budget_not_exceeded():
    # slot-budget guard (round-5 verdict item 2): the driver checks at
    # most 50 queries per round, and the backlog must actually CLEAR —
    # every query that needs a fresh driver row this round
    # (never-checked + changed-since-green) has to fit inside the cap,
    # or suite growth is crowding out its own verification. Adding a
    # new query (tier 0) or a _CHANGED entry that would push the total
    # past 50 fails here BEFORE the round ends with stale rows.
    from seng550_a3_etl_spark.suite import (
        _CHANGED,
        _last_driver_round,
        QUERIES,
    )

    last = _last_driver_round()
    never = [n for n in QUERIES if n not in last]
    stale = [
        n for n in QUERIES if n in last and _CHANGED.get(n, 0) > last[n]
    ]
    needed = len(never) + len(stale)
    assert needed <= 50, (
        f"driver slot budget exceeded: {len(never)} never-checked + "
        f"{len(stale)} changed-since-green = {needed} > 50 — defer new "
        f"queries or revert a _CHANGED entry so the backlog clears this "
        f"round.\nnever: {sorted(never)}\nstale: {sorted(stale)}"
    )


def test_rotation_staleness_ordering(tmp_path):
    # synthetic CORRECTNESS history: never-checked < changed-since-green
    # < oldest-green < newest-green, ties broken by registration order.
    import json

    from seng550_a3_etl_spark import suite as s

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "old_green": {"hash_match": True, "err": None, "spark_rows": 1},
        "changed_q": {"hash_match": True, "err": None, "spark_rows": 1},
        "failed_q": {"hash_match": False, "err": "boom", "spark_rows": 0},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "new_green": {"hash_match": True, "err": None, "spark_rows": 1},
        "no_oracle_q": {"hash_match": None, "err": "no_oracle", "spark_rows": 3},
    }))

    snapshot_q, snapshot_o = dict(s.QUERIES), dict(s.ORACLES)
    snapshot_changed = dict(s._CHANGED)
    try:
        s.QUERIES.clear()
        s.ORACLES.clear()
        s._CHANGED.clear()
        s._CHANGED.update({"changed_q": 2, "no_oracle_q": 1})  # second entry expired
        for name in ["new_green", "no_oracle_q", "changed_q", "old_green",
                     "failed_q", "brand_new"]:
            s.QUERIES[name] = lambda spark, sf: None
        s._reorder(tmp_path)
        order = list(s.QUERIES)
    finally:
        s.QUERIES.clear()
        s.QUERIES.update(snapshot_q)
        s.ORACLES.clear()
        s.ORACLES.update(snapshot_o)
        s._CHANGED.clear()
        s._CHANGED.update(snapshot_changed)

    assert order[0] == "brand_new"          # never checked
    assert order[1] == "changed_q"          # changed after its r1 green row
    assert order[2] == "failed_q"           # checked-but-failed == round 0
    assert order[3] == "old_green"          # r1 green
    # no_oracle_q's _CHANGED entry (round 1) expired: its r2 rows-only
    # check is newer, so it sorts with the r2 tier in registration order.
    assert order[4:] == ["new_green", "no_oracle_q"]


def test_shingle_cache_shared_within_session(spark):
    # the near-dup family must reuse ONE materialized shingle-set frame
    # per (session, sf_dir, n, representation) — the cache is the whole
    # point (one corpus scan for five consumers).
    from seng550_a3_etl_spark.suite.text import _shingle_sets_df
    from tests.conftest import SF_ORACLE

    a = _shingle_sets_df(spark, SF_ORACLE, n=3, hashed=True)
    b = _shingle_sets_df(spark, SF_ORACLE, n=3, hashed=True)
    assert a is b
    s = _shingle_sets_df(spark, SF_ORACLE, n=3, hashed=False)
    assert s is not a
    assert dict(s.dtypes)["sh"] == "array<string>"
    assert dict(a.dtypes)["sh"] == "array<bigint>"


def test_session_cache_evicts_stopped_sessions():
    # ADVICE r4: entries owned by a stopped SparkSession must be dropped
    # on the next cache access, not pinned forever.
    from seng550_a3_etl_spark.suite.text import _evict_stopped_sessions

    class _StoppedCtx:
        _jsc = None

    class _LiveCtx:
        class _jsc:  # duck-typed py4j handle
            @staticmethod
            def sc():
                class _S:
                    @staticmethod
                    def isStopped():
                        return False
                return _S()

    class _DF:
        def __init__(self, ctx):
            self.sparkSession = type(
                "S", (), {"sparkContext": ctx}
            )()

    cache = {"dead": _DF(_StoppedCtx()), "live": _DF(_LiveCtx())}
    _evict_stopped_sessions(cache)
    assert set(cache) == {"live"}


def test_decontaminate_eval_side_broadcasts(spark):
    # the training corpus must not shuffle for the overlap join: the
    # deduplicated eval shingle set is the broadcast side.
    from seng550_a3_etl_spark.suite import QUERIES
    from tests.conftest import SF_ORACLE

    df = QUERIES["decontaminate_docs"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_range_join_survives_no_broadcast(spark):
    # the bucketed interval join must execute as a shuffle equi-join
    # (never a cartesian/BNLJ) when the range side cannot broadcast,
    # with identical results — the reason the operator exists.
    from pyspark.sql import functions as F

    from seng550_a3_etl_spark.operators.joins import range_join
    from tests.oracle_harness import canonical_rows

    points = spark.range(0, 2000).select(
        F.col("id").alias("pid"), (F.col("id") % 500).alias("p")
    )
    ranges = spark.range(0, 100).select(
        (F.col("id") + 10_000).alias("rid"),
        (F.col("id") * 5).alias("s"),
        (F.col("id") * 5 + 9).alias("e"),
    )
    base = canonical_rows(
        range_join(points, ranges, "p", "s", "e", 10).toPandas()
    )
    from tests.test_physical import _conf

    with _conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        got = range_join(points, ranges, "p", "s", "e", 10)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert canonical_rows(got.toPandas()) == base


def test_time_rollup_single_shuffle(spark):
    # all grains must come from ONE aggregate: exactly one Expand and at
    # most one hash-partitioned exchange in the plan — never a union of
    # per-grain scans.
    from seng550_a3_etl_spark.suite import QUERIES
    from tests.conftest import SF_ORACLE

    df = QUERIES["event_time_rollup"](spark, SF_ORACLE)
    df.collect()
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Expand") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert plan.count("events.parquet") == 1, plan


def test_time_rollup_grain_structure(spark):
    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    events = spark.createDataFrame(
        [
            (base, 1.0),
            (base + dt.timedelta(hours=1), 2.0),
            (base + dt.timedelta(days=1), 4.0),
        ],
        "ts timestamp, value double",
    )
    out = time_rollup(
        events, "ts", [F.count(F.lit(1)).alias("n")]
    ).collect()
    rows = {(r.month, r.day, r.hour): r.n for r in out}
    # 3 hour rows + 2 day rows + 1 month row + 1 grand total
    assert len(rows) == 7
    assert rows[(None, None, None)] == 3  # grand total
    assert rows[("2024-03-01 00:00:00", None, None)] == 3  # month
    assert rows[("2024-03-01 00:00:00", "2024-03-01 00:00:00", None)] == 2
    assert (
        rows[
            (
                "2024-03-01 00:00:00",
                "2024-03-01 00:00:00",
                "2024-03-01 10:00:00",
            )
        ]
        == 1
    )


def test_approx_median_rank_tolerance(spark):
    # approx_scalar_sketch: percentile_approx(accuracy=10000) guarantees
    # the returned value's rank is within n/accuracy of the target rank
    # (Greenwald-Khanna bound). Assert it against the actual data,
    # independently of the in-query verification the suite query does.
    from seng550_a3_etl_spark.catalog import load_tables
    from seng550_a3_etl_spark.suite.relational import approx_scalar_sketch
    from tests.conftest import SF_ORACLE

    lineitem = load_tables(spark, SF_ORACLE).lineitem
    sk = approx_scalar_sketch(lineitem).collect()[0]
    price = F.col("l_extendedprice")
    n = lineitem.count()
    tol = n / 10000.0
    for value, q in ((sk.qs[0], 0.5), (sk.qs[1], 0.95)):
        below, at_or_below = (
            lineitem.agg(
                F.count(F.when(price < value, 1)),
                F.count(F.when(price <= value, 1)),
            ).collect()[0]
        )
        target = q * n
        assert below <= target + tol, (q, value, below, target)
        assert at_or_below >= target - tol, (q, value, at_or_below, target)


def test_scalar_stats_approx_flags_all_green(spark):
    # the driver-checkable form: every bounds-verified flag must be 1
    # (the oracle is SELECT COUNT(*), 1, 1, 1 — a red flag here means a
    # hash mismatch at the driver too).
    from seng550_a3_etl_spark.suite import QUERIES
    from tests.conftest import SF_ORACLE

    row = QUERIES["scalar_stats_approx"](spark, SF_ORACLE).collect()[0]
    assert row.median_rank_ok == 1, row
    assert row.p95_rank_ok == 1, row
    assert row.distinct_rsd_ok == 1, row


def test_repetition_stats_ignores_null_tokens(spark):
    # The mode count must never count runs of NULL tokens (ADVICE r3):
    # [null, null, null, 'a', 'b'] has top token count 1, denominator 5.
    from seng550_a3_etl_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(1, ["a", "b", None, None, None]), (2, ["x", "x", "y", None])],
        "id int, toks array<string>",
    )
    stats = repetition_stats(F.col("toks"))
    rows = {
        r.id: r.top_token_frac
        for r in df.select("id", stats["top_token_frac"].alias(
            "top_token_frac"
        )).collect()
    }
    assert rows[1] == pytest.approx(1 / 5)  # not 3/5 (the NULL run)
    assert rows[2] == pytest.approx(2 / 4)


def test_labels_cache_is_per_sf_dir(spark):
    # The per-session dup-cluster label materialization must key on the
    # data directory (distinct frames per dir — sharing one frame across
    # dirs would silently serve the wrong labels), and repeated calls
    # for the same dir must return the SAME checkpointed frame, never
    # recompute the pair+CC subgraph.
    from seng550_a3_etl_spark.suite.text import _labels_df
    from tests.conftest import SF_ORACLE, SF_SMOKE

    small = _labels_df(spark, SF_SMOKE)
    big = _labels_df(spark, SF_ORACLE)
    assert small is not big
    assert _labels_df(spark, SF_SMOKE) is small
    assert _labels_df(spark, SF_ORACLE) is big
    # the cached frame is materialized: its plan must be a checkpoint
    # scan, not the live pair-scan + connected-components pipeline
    assert "Scan ExistingRDD" in small._jdf.queryExecution(
    ).executedPlan().toString()


def test_prefix_filter_finds_pair_exactly_at_threshold(spark):
    # Prefix length |s| - ceil(t*|s|) + 1 must catch a pair sitting
    # EXACTLY at the threshold: 11-token docs differing in the last
    # token share 8 of their 9 3-gram shingles -> J = 8/10 = 0.8.
    from seng550_a3_etl_spark.operators.text_dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    words = [f"w{i}" for i in range(11)]
    df = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(words[:10] + ["different"])),
            (3, "completely unrelated text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    got = prefix_filter_pairs(df, "doc_id", "text", n=3, threshold=0.8)
    rows = got.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.inter, r.size_a, r.size_b) == (1, 2, 8, 9, 9)
    assert r.jaccard == pytest.approx(0.8)
    # and it agrees with the posting-list baseline
    base = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8)
    assert {tuple(x) for x in base.collect()} == {tuple(x) for x in rows}


# --------------------------------------------------------------------------
# X89 dup_span_stats / X91 canonical_dedup / X90 equi-depth histogram
# --------------------------------------------------------------------------


def test_dup_span_stats_crafted_collisions(spark):
    from seng550_a3_etl_spark.operators.text_dedup import dup_span_stats

    docs = spark.createDataFrame(
        [
            # A and B share the 3-token span "a b c" (positions differ)
            (1, "a b c d e"),
            (2, "x a b c y"),
            # C repeats a span twice but only within itself -> no dup
            (3, "p q r p q r"),
            # D has fewer than k tokens -> 0 windows, NULL frac
            (4, "s t"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r for r in dup_span_stats(docs, "doc_id", "text", 3).collect()
    }
    assert rows[1].n_windows == 3 and rows[1].n_dup_windows == 1
    assert rows[1].dup_frac == pytest.approx(1 / 3, abs=1e-6)
    assert rows[2].n_windows == 3 and rows[2].n_dup_windows == 1
    # "p q r" occurs twice in doc 3 but in no OTHER doc
    assert rows[3].n_dup_windows == 0 and rows[3].dup_frac == 0.0
    assert rows[4].n_windows == 0 and rows[4].n_dup_windows == 0
    assert rows[4].dup_frac is None


def test_dup_span_stats_counts_positions_with_multiplicity(spark):
    from seng550_a3_etl_spark.operators.text_dedup import dup_span_stats

    # the shared span occurs twice in doc 1: both POSITIONS count
    docs = spark.createDataFrame(
        [(1, "a b c z a b c"), (2, "a b c")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r for r in dup_span_stats(docs, "doc_id", "text", 3).collect()
    }
    assert rows[1].n_windows == 5 and rows[1].n_dup_windows == 2
    assert rows[2].n_windows == 1 and rows[2].n_dup_windows == 1
    assert rows[2].dup_frac == 1.0


def test_canonical_dedup_merges_reformatted_copies(spark):
    from seng550_a3_etl_spark.operators.text_dedup import canonical_dedup
    from seng550_a3_etl_spark.suite.text import _spark_norm

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello world"),
            (3, "HELLO   world"),
            (4, "hello world"),  # byte-identical to 2
            (5, "something else"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in canonical_dedup(docs, "doc_id", "text", _spark_norm).collect()
    }
    for i in (1, 2, 3, 4):
        assert rows[i].canonical_id == 1
        assert rows[i].group_size == 4
        # 3 distinct raw texts inside the normalized group (2 and 4 tie)
        assert rows[i].n_raw_variants == 3
    assert rows[5].canonical_id == 5 and rows[5].n_raw_variants == 1


def test_equidepth_hist_structure(spark):
    from seng550_a3_etl_spark.suite import QUERIES
    from tests.conftest import SF_ORACLE

    rows = sorted(
        QUERIES["price_equidepth_hist"](spark, SF_ORACLE).collect(),
        key=lambda r: r.bucket,
    )
    # buckets partition the value axis: strictly increasing, no overlap
    for a, b in zip(rows, rows[1:]):
        assert a.hi_cents < b.lo_cents
    # depths are balanced: every bucket within one tie-group of n/k
    n = sum(r.n_orders for r in rows)
    assert n > 0
    for r in rows:
        assert r.n_orders <= 2 * (n // len(rows)) + 1


def test_equidepth_hist_no_global_sort_of_fact(spark):
    # the fact table must never range-partition (the ntile plan); the
    # only sort is the single-partition window over the price ROLLUP.
    from seng550_a3_etl_spark.suite import QUERIES
    from tests.conftest import SF_ORACLE

    df = QUERIES["price_equidepth_hist"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pq_encode_nearest_and_tiebreak(spark):
    from seng550_a3_etl_spark.operators.similarity import pq_encode

    # dim=4, m=2 -> subspaces [0:2], [2:4]; two centroids 10 and 20
    cb = spark.createDataFrame(
        [(10, [0.0, 0.0, 1.0, 1.0]), (20, [1.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            # sub0 ~ (0,0) -> 10; sub1 ~ (0,0) -> 20
            (1, [0.1, 0.0, 0.1, 0.0]),
            # equidistant in BOTH subspaces -> tie-break to lower bid 10
            (2, [0.5, 0.5, 0.5, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {
        (r.vec_id, r.sub_id): r
        for r in pq_encode(corpus, cb, dim=4, m=2).collect()
    }
    assert rows[(1, 0)].code_id == 10
    assert rows[(1, 1)].code_id == 20
    # exact micro distances: sub0 vs (0,0): 0.1^2 = (100000)^2
    assert rows[(1, 0)].dist_micro2 == 100_000**2
    assert rows[(2, 0)].code_id == 10 and rows[(2, 1)].code_id == 10
    # tie distance: 2 * 0.5^2 both sides
    assert rows[(2, 0)].dist_micro2 == 2 * 500_000**2


def test_pq_encode_rejects_bad_split(spark):
    from seng550_a3_etl_spark.operators.similarity import pq_encode

    df = spark.createDataFrame([(1, [0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        pq_encode(df, df, dim=5, m=2)


def test_proration_sum_invariant(spark):
    # The whole point of largest-remainder allocation: per-order
    # allocations sum EXACTLY to the order total in cents — no cent
    # gained or lost, for every sampled order.
    from seng550_a3_etl_spark.suite.analytics import revenue_proration

    sf = "/root/testdata/sf0.01"
    alloc = revenue_proration(spark, sf)
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("t"),
    )
    bad = (
        alloc.groupBy("l_orderkey")
        .agg(F.sum("alloc_cents").alias("s"))
        .join(orders, "l_orderkey")
        .filter(F.col("s") != F.col("t"))
        .count()
    )
    assert bad == 0
    # And the sample is non-trivial.
    assert alloc.count() > 100


def test_cms_never_underestimates(spark):
    # Count-min's one-sided guarantee: est >= true for EVERY key, not
    # just the reported top-10 (min over d counters that each count a
    # superset of the key's occurrences).
    from seng550_a3_etl_spark.suite.sketch import cms_heavy_hitters

    top = cms_heavy_hitters(spark, "/root/testdata/sf0.01").collect()
    assert len(top) == 10
    assert all(r.est_n >= r.true_n for r in top)
    assert all(r.overcount == r.est_n - r.true_n for r in top)


def test_pareto_frontier_is_nondominated(spark):
    # Brute-force domination check against the windowed skyline: no
    # surviving part may be dominated by ANY part of its type, and
    # every excluded part must be dominated by at least one survivor.
    from seng550_a3_etl_spark.suite.analytics import pareto_price_quantity

    sf = "/root/testdata/sf0.01"
    front = pareto_price_quantity(spark, sf)
    allp = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf}/part.parquet"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type", "p_partkey")
        .agg(
            F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "min_price"
            ),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias(
                "total_qty"
            ),
        )
    )
    rows = allp.collect()
    got = {(r.p_type, r.p_partkey) for r in front.collect()}
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.p_type, []).append(r)
    want = set()
    for ptype, members in by_type.items():
        for a in members:
            dominated = any(
                b.min_price <= a.min_price
                and b.total_qty >= a.total_qty
                and (b.min_price < a.min_price or b.total_qty > a.total_qty)
                for b in members
            )
            if not dominated:
                want.add((ptype, a.p_partkey))
    assert got == want


def test_dedup_doc_spans_crafted(spark):
    """Keep-first semantics on crafted repeats: span unit = 2 tokens,
    repeated spans drop at every later position, reading order is
    preserved, and the short remainder block is its own span."""
    from seng550_a3_etl_spark.operators.text_dedup import dedup_doc_spans

    df = spark.createDataFrame(
        [
            # spans: "a b"|"c d"|"a b"|"e"  -> dup "a b" dropped
            (1, "a b c d a b e"),
            # all distinct
            (2, "x y z w"),
            # triple repeat: "p q"|"p q"|"p q" -> keep first only
            (3, "p q p q p q"),
            # remainder "b" is distinct from span "a b"
            (4, "a b a b b"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dedup_doc_spans(df, "doc_id", "text", k=2).collect()
    }
    assert rows[1]["dedup_text"] == "a b c d e"
    assert (rows[1]["n_spans"], rows[1]["n_dup_spans"]) == (4, 1)
    assert rows[2]["dedup_text"] == "x y z w"
    assert rows[2]["n_dup_spans"] == 0
    assert rows[3]["dedup_text"] == "p q"
    assert (rows[3]["n_spans"], rows[3]["n_dup_spans"]) == (3, 2)
    assert rows[4]["dedup_text"] == "a b b"
    assert (rows[4]["n_spans"], rows[4]["n_dup_spans"]) == (3, 1)


def test_dedup_doc_spans_null_and_empty_text(spark):
    """NULL text must yield (0, 0, '') — not n_dup_spans=-1 from the
    zip_with null-pad phantom (ADVICE r7 medium) — and whitespace-only
    text must not go negative either."""
    from seng550_a3_etl_spark.operators.text_dedup import dedup_doc_spans

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b")],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup_doc_spans(df, "doc_id", "text", k=2).collect()
    }
    assert (rows[1]["n_spans"], rows[1]["n_dup_spans"]) == (0, 0)
    assert rows[1]["dedup_text"] == ""
    assert rows[2]["n_dup_spans"] >= 0
    assert (rows[3]["n_spans"], rows[3]["n_dup_spans"]) == (1, 0)
    assert rows[3]["dedup_text"] == "a b"


def test_repair_text_cross_engine_on_mojibake(spark):
    """The fixture corpus is clean ASCII, so the oracle-parity row for
    normalized_docs only proves the no-op path; this proves the REPAIR
    path -- Spark's repair_text and the DuckDB oracle expression produce
    byte-identical output on crafted mojibake / entities / control
    chars / zero-width chars / NBSP runs."""
    import duckdb

    from seng550_a3_etl_spark.functions.text import (
        duck_repair_expr,
        repair_text,
    )

    cases = [
        "a\u00e2\u20ac\u2122b",              # mojibake right-quote
        "\u00c3\u00a9t\u00c3\u00a9",        # mojibake accents
        "&amp;lt; stays &lt; becomes",          # entity decode order
        "x\x07y\x1bz\x9fw",                  # C0 + C1 controls
        "a\u200bb\u00adc\ufeffd",            # zero-width + soft hyphen
        "a\u00a0 \u00a0b\tc\nd",            # NBSP + ws collapse
        " lead and trail ",
        "already clean text",
        "",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)],
                               ["i", "t"])
    got = {
        r["i"]: r["r"]
        for r in df.select("i", repair_text(F.col("t")).alias("r")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE v(i INT, t VARCHAR)")
    con.executemany("INSERT INTO v VALUES (?, ?)",
                    [(i, s) for i, s in enumerate(cases)])
    want = dict(con.execute(
        f"SELECT i, {duck_repair_expr('t')} FROM v"
    ).fetchall())
    assert got == want
    # spot-check absolute semantics, not just engine agreement
    assert got[0] == "a\u2019b"
    assert got[1] == "\u00e9t\u00e9"
    assert got[2] == "&lt; stays < becomes"
    assert got[3] == "xyzw"
    assert got[4] == "abcd"
    assert got[5] == "a b c d"
    assert got[6] == "lead and trail"
    assert got[8] == ""


def test_remove_boilerplate_spans_crafted(spark):
    """k=2 spans; 'nav bar' appears in 3 docs -> boilerplate everywhere;
    carry columns pass through; doc reduced to '' keeps accounting."""
    from seng550_a3_etl_spark.operators.text_dedup import (
        remove_boilerplate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "nav bar alpha beta", 9),
            (2, "nav bar gamma delta", 9),
            (3, "nav bar", 9),
            (4, "unique words only here", 9),
        ],
        "doc_id int, text string, extra int",
    )
    out = {
        r.doc_id: r
        for r in remove_boilerplate_spans(
            docs, "doc_id", "text", k=2, min_docs=3, carry=("extra",)
        ).collect()
    }
    assert out[1].clean_text == "alpha beta"
    assert out[1].n_spans == 2 and out[1].n_boiler_spans == 1
    assert out[2].clean_text == "gamma delta"
    assert out[3].clean_text == "" and out[3].n_boiler_spans == 1
    assert out[4].clean_text == "unique words only here"
    assert out[4].n_boiler_spans == 0
    assert all(r.extra == 9 for r in out.values())


def test_dedup_doc_spans_carry_passthrough(spark):
    from seng550_a3_etl_spark.operators.text_dedup import dedup_doc_spans

    docs = spark.createDataFrame(
        [(1, "a b a b c d", "x")], "doc_id int, text string, tag string"
    )
    row = dedup_doc_spans(
        docs, "doc_id", "text", k=2, carry=("tag",)
    ).collect()[0]
    assert row.tag == "x"
    assert row.dedup_text == "a b c d" and row.n_dup_spans == 1


def _bpe_greedy_ref(word, merges, charvocab):
    """Python reference for the greedy lookahead-1 scan."""
    pieces, i = [], 0
    while i < len(word):
        if i + 1 < len(word) and word[i : i + 2] in merges:
            pieces.append(word[i : i + 2])
            i += 2
        else:
            pieces.append(word[i] if word[i] in charvocab else None)
            i += 1
    return pieces


def test_bpe_run_parity_equals_greedy_scan():
    """The oracle's run-parity form (pair starts at even offsets of
    maximal merge-eligible runs) must equal the sequential greedy scan
    the Spark fold implements — brute-check every word over a small
    alphabet, where eligible runs of every phase/length occur."""
    from itertools import product

    merges = {"ab", "ba", "aa"}
    charvocab = {"a", "b"}  # 'c' is OOV
    for n in range(1, 7):
        for chars in product("abc", repeat=n):
            w = "".join(chars)
            # run-parity form
            elig = [
                i + 1 < n and w[i : i + 2] in merges for i in range(n)
            ]
            starts = []
            run_start = None
            for i in range(n):
                if elig[i]:
                    if run_start is None:
                        run_start = i
                    starts.append((i - run_start) % 2 == 0)
                else:
                    run_start = None
                    starts.append(False)
            pieces = []
            i = 0
            skip = False
            for i in range(n):
                if skip:
                    skip = False
                    continue
                if starts[i]:
                    pieces.append(w[i : i + 2])
                    skip = True
                else:
                    pieces.append(w[i] if w[i] in charvocab else None)
            assert pieces == _bpe_greedy_ref(w, merges, charvocab), w


# --- round 9 (session 2): LPA step + SemDeDup pair generation ------------


def test_label_prop_step_mass_argmax_and_tiebreak(spark):
    from seng550_a3_etl_spark.operators.graph import label_prop_step

    # node 1 hears label 10 with mass 3 (via two edges) and label 20 with
    # mass 3 -> tie broken by SMALLEST label. node 4 has no in-edges and
    # must keep its own label.
    edges = spark.createDataFrame(
        [(10, 1, 2), (11, 1, 1), (20, 1, 3), (10, 2, 1)],
        "src long, dst long, w long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 2), (4, 4), (10, 10), (11, 10), (20, 20)],
        "node long, label long",
    )
    got = {r.node: r.label for r in label_prop_step(edges, labels).collect()}
    assert got[1] == 10  # mass(10)=2+1=3 ties mass(20)=3 -> smaller label
    assert got[2] == 10
    assert got[4] == 4   # isolated: keeps old label
    assert got[10] == 10 and got[11] == 10 and got[20] == 20


def test_label_prop_step_shuffle_hash_arm_matches_broadcast(spark):
    """The r15 size-gated join pick must not change the step result: with
    the broadcast threshold disabled the operator takes the shuffled-hash
    arm (the 100 TB path — label tables are per-node state), and the
    labeling must be identical to the broadcast arm the default session
    takes on a small label table."""
    from seng550_a3_etl_spark.operators.graph import label_prop_step

    edges = spark.createDataFrame(
        [(10, 1, 2), (11, 1, 1), (20, 1, 3), (10, 2, 1)],
        "src long, dst long, w long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 2), (4, 4), (10, 10), (11, 10), (20, 20)],
        "node long, label long",
    )
    expected = {
        r.node: r.label for r in label_prop_step(edges, labels).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        step = label_prop_step(edges, labels)
        shj = {r.node: r.label for r in step.collect()}
        plan = step._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert shj == expected
    # the gate must have picked the hinted shuffled-hash join, and the
    # edge side must not have been broadcast
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_label_prop_step_never_broadcasts_variable_width_labels(spark):
    """ADVICE r15 (medium): the broadcast gate sizes rows as fixed-width
    pairs; a STRING label table passing a row-count gate could broadcast
    far above the threshold. Variable-width label types must take the
    shuffled-hash arm regardless of row count — with the same result."""
    from seng550_a3_etl_spark.operators.graph import label_prop_step

    edges = spark.createDataFrame(
        [(10, 1, 2), (11, 1, 1), (20, 1, 3), (10, 2, 1)],
        "src long, dst long, w long",
    )
    labels = spark.createDataFrame(
        [(1, "a"), (2, "b"), (4, "d"), (10, "j"), (11, "j"), (20, "t")],
        "node long, label string",
    )
    step = label_prop_step(edges, labels)
    got = {r.node: r.label for r in step.collect()}
    plan = step._jdf.queryExecution().executedPlan().toString()
    # The edge-label mass join (the one the gate controls) must be the
    # hinted shuffled-hash join. The final keep-old-label outer join may
    # still broadcast the tiny per-node argmax aggregate — that side is
    # result-sized, not corpus-sized, and the planner has stats for it.
    assert "ShuffledHashJoin" in plan
    assert got[1] == "j" and got[4] == "d"


def test_label_prop_step_label_rows_hint_skips_count(spark, monkeypatch):
    """ADVICE r15 (low): an iterating caller can pass the node count so
    the gate does not launch a count() job per step; the hint must feed
    the same size gate (a huge claimed count forces the shuffle arm)."""
    from seng550_a3_etl_spark.operators.graph import label_prop_step

    edges = spark.createDataFrame(
        [(10, 1, 2), (10, 2, 1)], "src long, dst long, w long"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 2), (10, 10)], "node long, label long"
    )
    expected = {
        r.node: r.label for r in label_prop_step(edges, labels).collect()
    }
    # hinted: no count() call may happen on the labels DataFrame
    monkeypatch.setattr(
        type(labels), "count",
        lambda self: (_ for _ in ()).throw(AssertionError("count called")),
    )
    hinted = label_prop_step(edges, labels, label_rows=3)
    assert {r.node: r.label for r in hinted.collect()} == expected
    # a claimed count far above the threshold must pick the shuffle arm
    big = label_prop_step(edges, labels, label_rows=10**9)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan


def test_broadcast_threshold_parses_unit_suffixes(spark):
    """ADVICE r15 (low): k/m/g byte-unit suffixed threshold values must
    parse to their real byte counts instead of clamping to 10 MiB."""
    from seng550_a3_etl_spark.operators.graph import (
        _broadcast_threshold_bytes,
        _parse_byte_size,
    )

    for raw, want in [
        ("1048576", 1048576), ("-1", -1), ("10k", 10 * 1024),
        ("2m", 2 * 1024**2), ("1g", 1024**3), ("512kb", 512 * 1024),
        ("banana", None), ("", None), ("b", None),
        ("100b", 100), ("1p", 1024**5),
    ]:
        assert _parse_byte_size(raw) == want, raw
    # end to end through the session conf (Spark validates on set, so
    # only parseable forms can be exercised this way)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "2m")
        assert _broadcast_threshold_bytes(spark) == 2 * 1024**2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_semantic_dedup_pairs_blocks_by_cluster(spark):
    from seng550_a3_etl_spark.operators.similarity import semantic_dedup_pairs

    # Two orthogonal clusters; ids 1/2 are identical vectors (cos=1) in
    # cluster A, id 3 sits in cluster B identical to 4. Cross-cluster
    # near-dups must NOT be reported even if similar (none here).
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (2, [1.0, 0.0]),
            (3, [0.0, 1.0]), (4, [0.0, 1.0]),
        ],
        "id long, v array<float>",
    )
    cents = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "bid long, bv array<float>",
    )
    rows = semantic_dedup_pairs(corpus, cents, threshold=0.95,
                                id_col="id", vec_col="v").collect()
    got = {(r.id_a, r.id_b, r.bid) for r in rows}
    assert got == {(1, 2, 100), (3, 4, 200)}
    assert all(abs(r.cosine - 1.0) < 1e-9 for r in rows)


def test_assign_buckets_keep_sim_matches_recompute(spark):
    from seng550_a3_etl_spark.operators.similarity import assign_buckets

    corpus = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 2.0])], "cid long, cv array<float>"
    )
    cents = spark.createDataFrame(
        [(9, [1.0, 0.0]), (8, [0.0, 1.0])], "bid long, bv array<float>"
    )
    rows = assign_buckets(corpus, cents, keep_sim="s").collect()
    got = {r.cid: (r.bid, r.s) for r in rows}
    assert got[1] == (8, 0.8)   # cos([3,4],[0,1]) = 4/5
    assert got[2] == (8, 1.0)


def test_gopher_rules_integer_boundaries(spark, tmp_path):
    """The cross-multiplied integer comparisons sit exactly ON their
    published boundaries: 20 words passes the word-count gate, mean
    word length exactly 3 or 10 passes, exactly 80% alphabetic passes,
    exactly 10% symbol-prefixed passes."""
    import shutil

    import seng550_a3_etl_spark.suite.quality as q

    # 20 words of 3 chars -> word count ON lower bound, mean len ON
    # lower bound; includes 'the'+'a' so the stopword gate passes; all
    # alphabetic, no symbols.
    passing = " ".join(["the", "and"] + ["bcd"] * 18)
    # 10 words, one '#'-prefixed (10% exactly), two tokens with NO
    # alphabetic character ('#11' and '22' — 8/10 alpha, so the
    # 5*n_alpha >= 4*n_words equality boundary is actually exercised;
    # the earlier '#x1' contained an 'x' and made the doc 90% alpha)
    edge = "the a #11 22 bbb ccc ddd eee fff ggg"
    df = spark.createDataFrame(
        [(0, passing, "en", "s0", len(passing)),
         (1, edge, "en", "s0", len(edge))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "docs"
    df.coalesce(1).write.parquet(str(d / "documents.parquet"))
    # flatten: fixture loader expects <dir>/documents.parquet
    out = {r["doc_id"]: r.asDict() for r in
           q.gopher_quality_flags(spark, str(d)).collect()}
    assert out[0]["r_word_count"] and out[0]["r_mean_word_len"]
    assert out[0]["r_alpha_words"] and out[0]["pass_gopher"]
    assert out[1]["r_alpha_words"]          # exactly 80% alpha passes
    assert out[1]["r_symbol_ratio"]         # exactly 10% symbols passes
    assert not out[1]["r_word_count"]       # 10 words < 20


def test_dsir_weights_sign_and_smoothing(spark, tmp_path):
    """Raw docs made of target-only bigrams score positive, docs of
    raw-only bigrams score negative; Laplace smoothing keeps every
    weight finite even for bigrams absent from one side."""
    import seng550_a3_etl_spark.suite.text_lm as tl

    rows = [
        # target docs (src0): bigram "alpha beta" dominates
        (0, "alpha beta alpha beta alpha", "en", "src0", 0),
        (1, "alpha beta alpha beta", "en", "src0", 0),
        # raw doc that mimics the target distribution
        (2, "alpha beta alpha beta alpha", "en", "src5", 0),
        # raw doc with bigrams the target never saw
        (3, "zeta eta zeta eta zeta", "en", "src5", 0),
        (4, "zeta eta zeta eta", "en", "src6", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    d = tmp_path / "docs"
    df.coalesce(1).write.parquet(str(d / "documents.parquet"))
    out = {r["doc_id"]: r["avg_llr"] for r in
           tl.dsir_importance_weights(spark, str(d)).collect()}
    assert set(out) == {2, 3, 4}            # target docs never scored
    assert out[2] > 0                       # target-like -> positive
    assert out[3] < 0 and out[4] < 0        # target-unseen -> negative
    assert all(abs(v) < 100 for v in out.values())  # smoothed, finite


def test_dedup_doc_spans_exploded_equals_hof(spark):
    """The explode/aggregate form is byte-identical to the zero-shuffle
    HOF form on crafted repeats, NULL text, empty text, and partial
    trailing spans."""
    from seng550_a3_etl_spark.operators.text_dedup import (
        dedup_doc_spans,
        dedup_doc_spans_exploded,
    )

    rows = [
        (0, "a b a b a b"),          # pure repeat, k=2 -> one span kept
        (1, "a b c d a b"),          # repeat of first span at the end
        (2, "x y z"),                # trailing partial span
        (3, None),                   # NULL text
        (4, ""),                     # empty text
        (5, "q"),                    # single token
        (6, "m n m n m"),            # repeat + partial tail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dedup_text"])
        for r in dedup_doc_spans(df, "doc_id", "text", k=2).collect()
    }
    b = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dedup_text"])
        for r in dedup_doc_spans_exploded(
            df, "doc_id", "text", k=2
        ).collect()
    }
    assert a == b
    # carry columns pass through identically
    dfc = df.withColumn("src", F.lit("s"))
    c = dedup_doc_spans_exploded(
        dfc, "doc_id", "text", k=2, carry=("src",)
    ).collect()
    assert all(r["src"] == "s" for r in c)


def test_kcenter_greedy_invariants(spark):
    """Greedy farthest-point guarantees: picked distances are
    non-increasing (each new seed covers the previous worst gap), all
    seeds distinct, rank 0 is the smallest vec_id with NULL distance."""
    from seng550_a3_etl_spark.suite.vectors import kcenter_diverse_seeds

    rows = sorted(
        kcenter_diverse_seeds(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["seed_rank"],
    )
    assert rows[0]["seed_rank"] == 0 and rows[0]["min_dist"] is None
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids))
    dists = [r["min_dist"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))
    assert all(d > 0 for d in dists)


def test_recall_curves_monotone(spark):
    """More probes / more dims can only add candidates: recall@5 is
    non-decreasing in nprobe, and the full-dim Matryoshka row is the
    baseline itself (recall exactly 1e6 ppm)."""
    from seng550_a3_etl_spark.suite.vectors import (
        ivf_nprobe_recall_curve,
        matryoshka_recall_curve,
    )

    sf = "/root/testdata/sf0.001"
    np_rows = sorted(
        ivf_nprobe_recall_curve(spark, sf).collect(),
        key=lambda r: r["nprobe"],
    )
    rec = [r["recall_ppm"] for r in np_rows]
    assert all(a <= b for a, b in zip(rec, rec[1:]))
    mrl = {r["dims"]: r["recall_ppm"]
           for r in matryoshka_recall_curve(spark, sf).collect()}
    assert mrl[64] == 1_000_000


def test_assign_buckets_rejects_non_integral_ids(spark):
    """The argmax fold's tie-break negates the centroid id, so string
    ids (which the old window form tolerated) must be rejected up
    front, not silently miscompared (ADVICE r9)."""
    import pytest as _pytest

    from seng550_a3_etl_spark.operators.similarity import assign_buckets

    corpus = spark.createDataFrame(
        [(1, [3.0, 4.0])], "cid long, cv array<float>"
    )
    cents = spark.createDataFrame(
        [("a", [1.0, 0.0])], "bid string, bv array<float>"
    )
    with _pytest.raises(TypeError, match="integral centroid id"):
        assign_buckets(corpus, cents)


def test_cross_doc_substring_spans_crafted(spark):
    """Maximal-run semantics on crafted docs: a 5-token shared span at
    k=3 yields ONE maximal run of 3 anchors (span_tokens=5) at the
    right offsets; intra-doc repeats emit no pair; min_span filters."""
    from seng550_a3_etl_spark.operators.text_dedup import (
        cross_doc_substring_spans,
    )

    rows = [
        # docs 1,2 share "p q r s t" (5 tokens); doc 1 offset 1, doc 2
        # offset 2. Doc 3 repeats its own trigram (intra-doc only).
        (1, "z p q r s t y"),
        (2, "a b p q r s t"),
        (3, "m n o m n o m n o"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = cross_doc_substring_spans(
        df, "doc_id", "text", k=3, min_span_tokens=5, max_anchor_freq=64
    ).collect()
    assert [
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_tokens) for r in got
    ] == [(1, 2, 1, 2, 5)]
    # raising min_span past the shared span drops it
    assert (
        cross_doc_substring_spans(
            df, "doc_id", "text", k=3, min_span_tokens=6, max_anchor_freq=64
        ).count()
        == 0
    )


def test_cross_doc_substring_spans_stop_list_splits_run(spark):
    """An anchor over the stop-list frequency is dropped in BOTH the
    operator and its documented approximation: a span bridged by a hot
    anchor splits into two shorter runs."""
    from seng550_a3_etl_spark.operators.text_dedup import (
        cross_doc_substring_spans,
    )

    # 7-token shared span "a b c d e f g" (k=3 -> anchors at 0..4 of
    # the span). Four extra docs all contain "c d e", pushing that one
    # anchor's corpus frequency over max_anchor_freq=5.
    shared = "a b c d e f g"
    rows = [(1, shared), (2, shared)] + [
        (10 + i, f"x{i} c d e y{i}") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.a_start, r.span_tokens)
        for r in cross_doc_substring_spans(
            df, "doc_id", "text", k=3, min_span_tokens=4, max_anchor_freq=5
        ).collect()
        if (r.doc_a, r.doc_b) == (1, 2)
    )
    # "c d e" dropped -> runs [0,1] (span 4: "a b c d") and [3,4]
    # (span 4: "d e f g")
    assert got == [(0, 4), (3, 4)]


def test_cross_doc_substring_fixture_under_anchor_budget(spark):
    """The suite knobs are exact on the fixtures: no 8-token anchor is
    shared by more than _XSPAN_MAXF windows at either test scale, so
    the stop-list never splits a fixture span."""
    import duckdb

    from seng550_a3_etl_spark.suite.text import _XSPAN_K, _XSPAN_MAXF

    for sf in ("sf0.001", "sf0.01"):
        con = duckdb.connect()
        max_f = con.sql(
            f"""
            WITH d AS (SELECT string_split_regex(text, '\\s+') AS tk
                       FROM '/root/testdata/{sf}/documents.parquet'),
            a AS (SELECT unnest(list_transform(
                    range(1, greatest(len(tk) - {_XSPAN_K - 1}, 0) + 1),
                    i -> array_to_string(tk[i:i+{_XSPAN_K - 1}], ' ')))
                    AS g FROM d)
            SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM a GROUP BY g)
            """
        ).fetchone()[0]
        con.close()
        assert max_f <= _XSPAN_MAXF, (sf, max_f)


def test_union_span_coverage(spark):
    """Overlap merges, adjacency sums, disjoint islands sum, multiple
    keys independent."""
    from seng550_a3_etl_spark.operators.text_dedup import (
        union_span_coverage,
    )

    rows = [
        # key 1: [0,5) + [3,8) overlap -> 8; [10,12) disjoint -> +2
        (1, 0, 5), (1, 3, 5), (1, 10, 2),
        # key 2: adjacent [0,4) + [4,6) -> 6
        (2, 0, 4), (2, 4, 2),
        # key 3: contained [0,10) + [2,3) -> 10; duplicate row ignored
        (3, 0, 10), (3, 2, 1), (3, 2, 1),
    ]
    df = spark.createDataFrame(rows, "k long, s long, n long")
    got = {
        r.k: r.covered
        for r in union_span_coverage(df, ["k"], "s", "n").collect()
    }
    assert got == {1: 10, 2: 6, 3: 10}


def test_transform_applied_hash64_is_true_md5(spark):
    """F.transform(arr, hash64) must produce the documented md5-derived
    values — not plan-salted ones. Regression for the keyword-only-seed
    fix: PySpark passes the element index as a second positional arg to
    two-positional-arity lambdas, which used to land in the seed
    f-string; grouping-only queries kept working (per-plan-consistent
    bijection) but any cross-lineage hash join silently matched zero
    rows."""
    import hashlib

    from seng550_a3_etl_spark.functions.hashing import hash64

    df = spark.createDataFrame([(["ab", "cd e", "f"],)], "a array<string>")
    got = df.select(
        F.transform("a", lambda c: hash64(c)).alias("h")
    ).collect()[0].h
    want = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        for s in ["ab", "cd e", "f"]
    ]
    assert got == want
    # the bare form must now fail LOUDLY (keyword-only seed), never
    # silently salt the hash with the index column again
    with pytest.raises(Exception, match="POSITIONAL"):
        df.select(F.transform("a", hash64))


def test_cross_doc_substring_spans_matches_brute_force_random(spark):
    """Property check: the anchor-posting/diagonal-island construction
    equals a brute-force maximal-shared-run scan for random token
    sequences over a tiny alphabet (dense with repeats and intra-doc
    self-matches), across k and min_span settings, with the stop-list
    disabled (exactness regime)."""
    import random

    from seng550_a3_etl_spark.operators.text_dedup import (
        cross_doc_substring_spans,
    )

    rng = random.Random(7)
    docs = [
        (i, " ".join(rng.choice("abc") for _ in range(rng.randint(0, 14))))
        for i in range(8)
    ]
    toks = {i: t.split() if t else [] for i, t in docs}

    def brute(k, min_span):
        out = set()
        for a in range(8):
            for b in range(a + 1, 8):
                ta, tb = toks[a], toks[b]
                for d in range(-len(tb), len(ta) + 1):
                    # maximal runs of matching positions on diagonal d
                    run = 0
                    for pa in range(len(ta) + 1):
                        pb = pa - d
                        ok = (
                            pa < len(ta)
                            and 0 <= pb < len(tb)
                            and ta[pa] == tb[pb]
                        )
                        if ok:
                            run += 1
                        else:
                            if run >= k:
                                span = run  # tokens, = anchors + k - 1
                                start = pa - run
                                if span >= min_span:
                                    out.add((a, b, start, start - d, span))
                            run = 0
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for k, min_span in ((2, 2), (2, 4), (3, 5)):
        got = {
            (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_tokens)
            for r in cross_doc_substring_spans(
                df, "doc_id", "text", k=k,
                min_span_tokens=min_span, max_anchor_freq=10**6,
            ).collect()
        }
        assert got == brute(k, min_span), (k, min_span)


def test_union_span_coverage_matches_brute_force_random(spark):
    """Property check: the sweep equals the position-set union for
    random interval sets, including heavy overlap and duplicates."""
    import random

    from seng550_a3_etl_spark.operators.text_dedup import (
        union_span_coverage,
    )

    rng = random.Random(13)
    rows = [
        (key, rng.randint(0, 30), rng.randint(1, 12))
        for key in range(6)
        for _ in range(rng.randint(1, 9))
    ]
    want = {}
    for key, s, n in rows:
        want.setdefault(key, set()).update(range(s, s + n))
    df = spark.createDataFrame(rows, "k long, s long, n long")
    got = {
        r.k: r.covered
        for r in union_span_coverage(df, ["k"], "s", "n").collect()
    }
    assert got == {k: len(v) for k, v in want.items()}


def test_repetition_signals_crafted_docs(spark):
    from seng550_a3_etl_spark.suite.quality import repetition_signals

    docs = spark.createDataFrame(
        [
            # doc 0: "ab cd" repeated 5x -> top 2-gram mass 5*5=25 of
            # sum_chars 20... tokens: ab cd ab cd ... 2-gram "ab cd"
            # occurs 5 times, "cd ab" 4 times. chars("ab cd")=4.
            # top2 = 5*4 = 20, sum_chars = 20 -> 5*20 > 20 -> fails.
            (0, "ab cd ab cd ab cd ab cd ab cd"),
            # doc 1: all-distinct tokens -> every gram count 1; top2 is
            # the lexicographically smallest 2-gram "t00 t01" (mass =
            # its token chars = 6); 30 tokens x 3 chars = 90 chars.
            # 5*6=30 <= 90 -> passes; no duplicated 5-gram -> dup5=0.
            (1, " ".join(f"t{i:02d}" for i in range(30))),
            # doc 2: single token, shorter than every n -> no grams,
            # all masses 0, flags vacuously true.
            (2, "lonely"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_signals(docs).collect()}

    r0 = got[0]
    assert r0.sum_chars == 20
    assert r0.top2_chars == 20  # "ab cd" x5, 4 chars each occurrence
    assert not r0.r_top2gram and not r0.pass_repetition
    # duplicated 5-grams over 10 tokens: starts 0,2,4 give one
    # alternating form (c=3), starts 1,3,5 the other (c=3); each
    # occurrence has 10 token chars -> mass 3*10 + 3*10 = 60.
    assert r0.dup5_chars == 60
    assert not r0.r_dup5gram

    r1 = got[1]
    assert r1.n_words == 30 and r1.sum_chars == 90
    assert r1.top2_chars == 6 and r1.dup5_chars == 0
    assert r1.pass_repetition

    r2 = got[2]
    assert (
        r2.top2_chars == 0
        and r2.top3_chars == 0
        and r2.top4_chars == 0
        and r2.dup5_chars == 0
    )
    assert r2.pass_repetition


def test_ccnet_ntile_determinism():
    # All docs in one source with IDENTICAL text => identical scores;
    # ntile must still split 7 docs deterministically 3/2/2 by doc_id.
    # Exercised at fixture scale by parity; here pin the tie split on
    # the smallest possible frame via the oracle itself.
    import duckdb

    from seng550_a3_etl_spark.suite.registry import ORACLES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, 'a a a', 'src')" for i in range(7))
        + ") t(doc_id, text, source)"
    )
    want = con.execute(
        ORACLES["ccnet_perplexity_buckets"]
    ).fetchdf()
    sizes = dict(zip(want["bucket"], want["n_docs"]))
    assert sizes == {"head": 3, "middle": 2, "tail": 2}


def test_dup_cluster_census_invariants(spark):
    # totals must reconcile: sum(n_docs) = corpus size, droppable =
    # docs minus clusters, size-1 clusters contribute zero droppable
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["dup_cluster_size_census"](spark, sf).collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(r.n_droppable == r.n_docs - r.n_clusters for r in rows)
    ones = [r for r in rows if r.cluster_size == 1]
    assert ones and ones[0].n_droppable == 0


def test_quality_dup_crosstab_invariants(spark):
    # conditional counts nest: n_dup_lowq <= min(n_dup, n_lowq); ppm
    # fields are consistent integer floors of their count ratios
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["quality_dup_crosstab"](spark, sf).collect()
    assert rows
    for r in rows:
        assert r.n_dup_lowq <= min(r.n_dup, r.n_lowq)
        assert r.dup_ppm == r.n_dup * 1000000 // r.n_docs
        want = (
            r.n_dup_lowq * 1000000 // r.n_dup if r.n_dup else 0
        )
        assert r.lowq_given_dup_ppm == want


def test_label_centroid_matrix_shape(spark):
    # |labels| choose 2 rows, cosine within [-1, 1], symmetric pair
    # key ordering (label_a < label_b), counts positive
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["label_centroid_matrix"](spark, sf).collect()
    labels = set()
    for r in rows:
        labels.update((r.label_a, r.label_b))
        assert r.label_a < r.label_b
        assert -1.0 <= r.centroid_cos <= 1.0
        assert r.n_a > 0 and r.n_b > 0
    n = len(labels)
    assert len(rows) == n * (n - 1) // 2


def test_margin_hard_examples_invariants(spark):
    # hard band is a subset; ppm floors; margin mass non-negative
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["margin_hard_examples"](spark, sf).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_hard <= r.n_vecs
        assert r.hard_ppm == r.n_hard * 1000000 // r.n_vecs
        assert r.sum_abs_margin_micro >= 0


def test_snapshot_ngram_novelty_invariants(spark):
    # novel <= total per source; ppm is the integer floor; every
    # source with a B-snapshot doc holding >= 3 tokens appears
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["snapshot_ngram_novelty"](spark, sf).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_novel_b <= r.n_shingles_b
        assert r.novelty_ppm == r.n_novel_b * 1000000 // r.n_shingles_b
        assert r.n_docs_b > 0


def test_knn_label_consensus_invariants(spark):
    # one row per vector; agreement nests in neighbor count; suspect
    # flag matches the minority-vote definition; ppm floors
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["knn_label_consensus"](spark, sf).collect()
    n_vecs = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    for r in rows:
        assert 0 <= r.n_agree <= r.n_nbrs <= 5
        if r.n_nbrs == 0:
            assert r.agree_ppm == -1 and not r.is_suspect
        else:
            assert r.agree_ppm == r.n_agree * 1000000 // r.n_nbrs
            assert r.is_suspect == (2 * r.n_agree < r.n_nbrs)


def test_hard_negative_mining_invariants(spark):
    # margin is the exact difference; confusable iff negative margin;
    # hard negative is never the anchor itself
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["hard_negative_mining"](spark, sf).collect()
    assert rows
    for r in rows:
        assert r.margin_micro == r.best_same_micro - r.best_cross_micro
        assert r.is_confusable == (r.margin_micro < 0)
        assert r.hard_neg_id != r.vec_id
        assert -1_000_000 <= r.best_cross_micro <= 1_000_000


def test_langid_confidence_ece_invariants(spark):
    # bins within [0, 9]; acc/conf within [0, 1e6]; the weighted ECE
    # terms are the documented floors and sum below the worst gap
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["langid_confidence_ece"](spark, sf).collect()
    assert rows
    n_total = sum(r.n_docs for r in rows)
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0 <= r.acc_ppm <= 1_000_000
        assert 0 <= r.mean_conf_ppm <= 1_000_000
        assert r.gap_ppm == abs(r.mean_conf_ppm - r.acc_ppm)
        assert r.ece_term_ppm == r.n_docs * r.gap_ppm // n_total
    ece = sum(r.ece_term_ppm for r in rows)
    assert 0 <= ece <= max(r.gap_ppm for r in rows)


def test_quality_decile_drift_invariants(spark):
    # per-snapshot counts reconcile to the corpus split; shares are
    # floors; signed drift matches the share difference
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["quality_decile_drift"](spark, sf).collect()
    assert rows
    na = sum(r.n_a for r in rows)
    nb = sum(r.n_b for r in rows)
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert na + nb == n_docs
    for r in rows:
        assert r.share_a_ppm == r.n_a * 1000000 // na
        assert r.share_b_ppm == r.n_b * 1000000 // nb
        assert r.drift_ppm == r.share_b_ppm - r.share_a_ppm
        assert r.abs_drift_ppm == abs(r.drift_ppm)


def test_reshard_churn_census_invariants(spark):
    # range-sharding moves NOTHING (the operator's thesis); mod moves
    # a nonzero share on any real corpus; occupancy reconciles
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {
        r.scheme: r
        for r in QUERIES["reshard_churn_census"](spark, sf).collect()
    }
    assert set(rows) == {"mod", "range"}
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    for r in rows.values():
        assert r.n_docs == n_docs
        assert r.min_shard_docs <= r.max_shard_docs
        assert r.n_shards_hit <= 32
        assert r.max_skew_ppm == r.max_shard_docs * 32 * 1000000 // n_docs
    assert rows["range"].n_moved == 0 and rows["range"].churn_ppm == 0
    assert rows["mod"].n_moved > 0


def test_charclass_census_invariants(spark):
    # class ppms partition the character mass (floors sum to <= 1e6
    # and within 4 ulps of it); uppercase nests inside alpha
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["charclass_census"](spark, sf).collect()
    assert rows
    for r in rows:
        total = r.alpha_ppm + r.digit_ppm + r.space_ppm + r.other_ppm
        assert 1_000_000 - 4 <= total <= 1_000_000
        assert 0 <= r.upper_per_alpha_ppm <= 1_000_000
        assert r.n_chars > 0


def test_source_shingle_jaccard_invariants(spark):
    # full upper-triangular matrix; intersection nests in both set
    # sizes; ppms are the documented floors
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["source_shingle_jaccard"](spark, sf).collect()
    sources = set()
    for r in rows:
        sources.update((r.source_a, r.source_b))
        assert r.source_a < r.source_b
        assert 0 <= r.n_common <= min(r.n_shingles_a, r.n_shingles_b)
        union = r.n_shingles_a + r.n_shingles_b - r.n_common
        assert r.jaccard_ppm == r.n_common * 1000000 // union
        assert r.containment_ppm == r.n_common * 1000000 // min(
            r.n_shingles_a, r.n_shingles_b
        )
        assert r.jaccard_ppm <= r.containment_ppm
    n = len(sources)
    assert len(rows) == n * (n - 1) // 2


def test_label_centroid_drift_invariants(spark):
    # one row per label present in both snapshots; cosine in range;
    # snapshot counts reconcile to the store size
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["label_centroid_drift"](spark, sf).collect()
    assert rows
    n_vecs = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert sum(r.n_a + r.n_b for r in rows) <= n_vecs
    for r in rows:
        assert r.n_a > 0 and r.n_b > 0
        assert -1.0 <= r.centroid_cos <= 1.0


def test_epoch_plan_budget_invariants(spark):
    # weights ~sum to 1e6 (floors); targets sum to ~3x the corpus;
    # epochs_ppm is the documented floor; cliff flag matches
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["epoch_plan_budget"](spark, sf).collect()
    assert rows
    total = sum(r.n_tokens for r in rows)
    wsum = sum(r.weight_ppm for r in rows)
    assert 1_000_000 - len(rows) <= wsum <= 1_000_000
    tsum = sum(r.target_tokens for r in rows)
    assert 3 * total - 3 * len(rows) <= tsum <= 3 * total
    for r in rows:
        assert r.epochs_ppm == r.target_tokens * 1000000 // r.n_tokens
        assert r.over_repetition_cliff == (r.epochs_ppm > 4_000_000)


def test_knn_cells_sqrt_cap(spark):
    # ceil(sqrt(n)) cap honored; cells are the SMALLEST pool bids
    # (deterministic); every cell id is from the %50 pool
    import math

    from seng550_a3_etl_spark.suite.vectors import _knn_cells

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n = emb.count()
    cap = math.ceil(math.sqrt(n))
    cells = _knn_cells(emb).collect()
    bids = [r.bid for r in cells]
    pool = sorted(
        r.vec_id for r in emb.select("vec_id").collect() if r.vec_id % 50 == 0
    )
    assert len(bids) == min(cap, len(pool))
    assert bids == pool[: len(bids)]


def test_pii_density_census_invariants(spark):
    # class counts reconcile; ppm/density are the documented floors;
    # docs_with_pii nests in n_docs
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["pii_density_census"](spark, sf).collect()
    assert rows
    for r in rows:
        assert 0 <= r.docs_with_pii <= r.n_docs
        assert r.pii_doc_ppm == r.docs_with_pii * 1000000 // r.n_docs
        hits = r.n_email + r.n_ip + r.n_phone
        assert r.hits_per_mtok == hits * 1000000 // max(r.n_tokens, 1)


def test_tree_split_gain_invariants(spark):
    # Gini gain is non-negative for every candidate split (convexity);
    # cumulative counts nest; the max-bin split (empty right) is
    # excluded; every feature's totals agree across its rows.
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["tree_split_gain"](spark, sf).collect()
    assert rows
    totals = {}
    for r in rows:
        assert r.gain >= 0.0
        assert 0 < r.nl and 0 < r.nr
        assert 0 <= r.pl <= r.nl and 0 <= r.pr <= r.nr
        totals.setdefault(r.feature, set()).add((r.nl + r.nr, r.pl + r.pr))
    for feature, ts in totals.items():
        assert len(ts) == 1, (feature, ts)
    assert set(totals) == {"quantity", "price", "discount"}


def test_woe_information_value_invariants(spark):
    # each IV term is non-negative ((dg-db) and ln(dg/db) share sign);
    # per-feature bin counts sum to the orders row count; iv_feature is
    # constant within a feature.
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["woe_information_value"](spark, sf).collect()
    assert rows
    n_orders = spark.read.parquet(f"{sf}/orders.parquet").count()
    per_feature: dict = {}
    for r in rows:
        assert r.iv_term >= -1e-9
        agg = per_feature.setdefault(r.feature, [0, set()])
        agg[0] += r.n_good + r.n_bad
        agg[1].add(r.iv_feature)
    for feature, (n, ivs) in per_feature.items():
        assert n == n_orders, feature
        assert len(ivs) == 1, feature


def test_future_purchase_labels_invariants(spark):
    # one row per order; the label implies a real forward gap; each
    # customer has exactly one unlabeled-gap (last) order.
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    df = QUERIES["future_purchase_labels"](spark, sf)
    rows = df.collect()
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    assert len(rows) == orders.count()
    for r in rows:
        if r.repurchase_90d == 1:
            assert r.days_to_next is not None and 0 <= r.days_to_next <= 90
        elif r.days_to_next is not None:
            assert r.days_to_next > 90
    n_last = sum(1 for r in rows if r.days_to_next is None)
    n_cust = orders.select("o_custkey").distinct().count()
    assert n_last == n_cust


def test_cdc_chunk_dedup_invariants(spark):
    # chunks PARTITION the clean token stream: per-source chunk token
    # mass equals the corpus clean-token mass; dup masses nest.
    from pyspark.sql import functions as F2

    from seng550_a3_etl_spark.functions.text import tokens as _tok
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["cdc_chunk_dedup"](spark, sf).collect()
    assert rows
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    expect = {
        r.source: r.n
        for r in docs.groupBy("source")
        .agg(
            F2.sum(
                F2.size(F2.filter(_tok(F2.col("text")), lambda x: x != ""))
            ).alias("n")
        )
        .collect()
    }
    for r in rows:
        assert r.n_tokens == expect[r.source]
        assert 0 <= r.dup_chunks <= r.n_chunks
        assert 0 <= r.dup_tokens <= r.n_tokens
        # mean chunk size tracks the %13 cut rate loosely (> 1 token)
        assert r.n_chunks <= r.n_tokens


def test_token_burstiness_invariants(spark):
    # df floor respected; VMR >= the minimum possible for integer
    # counts; per_doc_rate >= 1; output capped at 200.
    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["token_burstiness"](spark, sf).collect()
    assert 0 < len(rows) <= 200
    for r in rows:
        assert r.df >= 5
        assert r.total_cnt >= r.df
        assert r.per_doc_rate >= 1.0
        assert r.vmr >= 0.0


def test_simhash_block_combos_exactness():
    # The Manku block-combination guarantee: <= max_hamming differing
    # bits corrupt <= max_hamming blocks, leaving >= 2 clean — and
    # every 2-subset is a table, so every qualifying pair shares at
    # least one exact (table, key). Pure-python property check over
    # random fingerprints with planted 0-3 bit flips.
    import random

    from seng550_a3_etl_spark.operators.text_dedup import (
        simhash_block_combos,
    )

    combos, offsets, widths = simhash_block_combos(3, 60)
    assert len(combos) == 10 and sum(widths) == 60

    def keys(fp):
        blocks = [
            (fp >> offsets[b]) & ((1 << widths[b]) - 1)
            for b in range(len(widths))
        ]
        return {
            (c, blocks[i] * (1 << widths[j]) + blocks[j])
            for c, (i, j) in enumerate(combos)
        }

    rnd = random.Random(14)
    for _ in range(500):
        a = rnd.getrandbits(60)
        b = a
        for bit in rnd.sample(range(60), rnd.randint(0, 3)):
            b ^= 1 << bit
        assert keys(a) & keys(b), f"near pair missed: {a:x} vs {b:x}"

    # the combo_size=3 remedy path (C(6,3)=20 tables, 30-bit keys)
    # carries the same exactness guarantee
    combos3, off3, w3 = simhash_block_combos(3, 60, combo_size=3)
    assert len(combos3) == 20 and sum(w3) == 60

    def keys3(fp):
        blocks = [
            (fp >> off3[b]) & ((1 << w3[b]) - 1) for b in range(len(w3))
        ]

        def fold(combo):
            key = blocks[combo[0]]
            for b in combo[1:]:
                key = key * (1 << w3[b]) + blocks[b]
            return key

        return {(c, fold(combo)) for c, combo in enumerate(combos3)}

    for _ in range(300):
        a = rnd.getrandbits(60)
        b = a
        for bit in rnd.sample(range(60), rnd.randint(0, 3)):
            b ^= 1 << bit
        assert keys3(a) & keys3(b), f"combo3 near pair missed: {a:x}"
    # and a far pair is ALLOWED to collide but must not always: with
    # 24-bit keys, 500 random pairs colliding would be ~impossible
    collisions = sum(
        1 for _ in range(500)
        if keys(rnd.getrandbits(60)) & keys(rnd.getrandbits(60))
    )
    assert collisions < 10


def test_simhash_banding_keyspace_selectivity():
    # The reason for the r14 banding swap, demonstrated: on 50k random
    # fingerprints the old 4x15-bit single-chunk pigeonhole's C(n,2)
    # candidate budget is ~10^5 (32k keyspace saturated), while the
    # C(5,2) two-block 24-bit tables stay in the hundreds. Both
    # schemes are exact for Hamming<=3; only the budgets differ.
    import random
    from collections import Counter

    from seng550_a3_etl_spark.operators.text_dedup import (
        simhash_block_combos,
    )

    rnd = random.Random(7)
    fps = [rnd.getrandbits(60) for _ in range(50_000)]
    old = Counter(
        (b, (fp >> (b * 15)) & 32767) for fp in fps for b in range(4)
    )
    combos, offsets, widths = simhash_block_combos(3, 60)
    new = Counter(
        (
            c,
            ((fp >> offsets[i]) & ((1 << widths[i]) - 1))
            * (1 << widths[j])
            + ((fp >> offsets[j]) & ((1 << widths[j]) - 1)),
        )
        for fp in fps
        for c, (i, j) in enumerate(combos)
    )
    budget = lambda cnt: sum(f * (f - 1) // 2 for f in cnt.values())
    assert budget(old) > 50_000          # saturated: noise pairs >> n
    assert budget(new) < 5_000           # selective: stays tiny


def test_cdc_chunk_edit_resynchronization(spark):
    # THE content-defined-chunking property (the reason X250 uses CDC
    # over fixed-size chunks): after a single-token edit, chunk edges
    # resynchronize, so the edited document shares all but O(1) chunks
    # with the original. Fixed-size chunking would shift every chunk
    # after the edit point (sharing ~none).
    from seng550_a3_etl_spark.operators.text_dedup import (
        cdc_chunk_instances,
    )

    words = [f"w{i * 7919 % 1000}x{i}" for i in range(400)]
    orig = " ".join(words)
    edited = " ".join(words[:200] + ["EDITEDTOKEN"] + words[201:])
    df = spark.createDataFrame(
        [(1, orig), (2, edited)], "doc_id long, text string"
    )
    inst = cdc_chunk_instances(df, "doc_id", "text").collect()
    a = sorted(r.h for r in inst if r.doc_id == 1)
    b = sorted(r.h for r in inst if r.doc_id == 2)
    # both docs chunked (mean chunk ~13 tokens over 400 tokens)
    assert len(a) > 10 and len(b) > 10
    import collections

    ca, cb = collections.Counter(a), collections.Counter(b)
    shared = sum((ca & cb).values())
    # the edit can change at most the chunks overlapping the edited
    # token's window neighborhood: allow 3 chunks per side, no more
    assert len(a) - shared <= 3
    assert len(b) - shared <= 3
    # token mass is partitioned exactly on both sides
    assert sum(r.ntok for r in inst if r.doc_id == 1) == 400
    assert sum(r.ntok for r in inst if r.doc_id == 2) == 400


def test_cdc_chunk_instances_empty_and_degenerate(spark):
    # empty/whitespace-only text emits zero chunk rows; a short doc
    # (under the window width) emits exactly one whole-doc chunk.
    from seng550_a3_etl_spark.operators.text_dedup import (
        cdc_chunk_instances,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two"), (4, None)],
        "doc_id long, text string",
    )
    inst = cdc_chunk_instances(df, "doc_id", "text").collect()
    by_doc = {}
    for r in inst:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc and 2 not in by_doc and 4 not in by_doc
    assert len(by_doc[3]) == 1 and by_doc[3][0].ntok == 2


def test_kneser_ney_bigram_matches_pure_python(spark):
    # Independent reimplementation: build the full interpolated-KN
    # bigram model in pure python over the sf0.001 corpus and check
    # (a) the mass identity sum_w P_KN(w|v) = 1 over the FULL vocab
    # for every emitted head, and (b) every emitted kn_prob equals the
    # python value at the 6-decimal grid.
    import collections

    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["kneser_ney_bigram"](spark, sf).collect()
    assert rows and len(rows) <= 10 * 4

    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    bg = collections.Counter()
    for r in docs:
        t = [x for x in (r.text or "").split() if x]
        bg.update(zip(t, t[1:]))
    cv = collections.Counter()
    n1h = collections.Counter()
    n1c = collections.Counter()
    for (h, w), c in bg.items():
        cv[h] += c
        n1h[h] += 1
        n1c[w] += 1
    bt = len(bg)
    d = 0.75

    def p_kn(h, w):
        return (bg[(h, w)] - d) / cv[h] + (d * n1h[h] / cv[h]) * (
            n1c[w] / bt
        )

    vocab = set(n1c) | set(cv)
    for h in {r.head for r in rows}:
        lam = d * n1h[h] / cv[h]
        mass = sum(
            max(bg[(h, w)] - d, 0.0) / cv[h] + lam * n1c[w] / bt
            for w in vocab
        )
        assert abs(mass - 1.0) < 1e-9, (h, mass)
    for r in rows:
        assert abs(r.kn_prob - p_kn(r.head, r.next_tok)) < 5e-7, r
        assert abs(r.ml_prob - bg[(r.head, r.next_tok)] / cv[r.head]) < 5e-7
        # KN discounts context-locked mass: prob stays in (0, 1)
        assert 0.0 < r.kn_prob < 1.0


def test_length_wasserstein_matches_pure_python(spark):
    # Independent reimplementation of the closed-form 1-D W1 between
    # each source's length distribution and the rest, plus the metric
    # sandwich 0 <= W1 <= KS * value-range.
    import collections

    from seng550_a3_etl_spark.suite.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["length_wasserstein_drift"](spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    by_src = collections.defaultdict(list)
    for r in docs:
        by_src[r.source].append(r.n_chars)
    assert len(rows) == len(by_src)
    all_vals = sorted({r.n_chars for r in docs})
    rng = all_vals[-1] - all_vals[0]
    total = len(docs)
    for row in rows:
        a = collections.Counter(by_src[row.source])
        b = collections.Counter(
            v for s, vs in by_src.items() if s != row.source for v in vs
        )
        na, nb = sum(a.values()), sum(b.values())
        assert (row.n_docs, row.n_rest) == (na, nb)
        assert na + nb == total
        fa = fb = 0
        w1 = ks = 0.0
        for v, nxt in zip(all_vals, all_vals[1:] + [None]):
            fa += a.get(v, 0)
            fb += b.get(v, 0)
            dd = abs(fa / na - fb / nb)
            ks = max(ks, dd)
            if nxt is not None:
                w1 += (nxt - v) * dd
        assert abs(row.w1_distance - w1) < 1e-5, (row.source, w1)
        assert abs(row.ks_stat - ks) < 5e-7
        assert 0.0 <= row.w1_distance <= row.ks_stat * rng + 1e-9


def test_mg_frequent_exact_on_skewed_synthetic(spark):
    # The MG two-phase guarantee, compaction genuinely active: 6
    # planted heavies (shares 1.2%..4%) drowned in ~20k distinct rare
    # values, shuffled across 8 partitions so every heavy appears in
    # every partition. capacity=128 << 20k distinct forces repeated
    # compaction; the output must STILL equal the exact threshold set
    # with exact counts — phase 2 recounts, phase 1 only narrows.
    import collections

    from pyspark.sql import functions as F2

    from seng550_a3_etl_spark.operators.sketch import mg_frequent

    data = []
    for i, c in enumerate((2000, 1500, 1100, 900, 750, 620)):
        data += [f"heavy{i}"] * c
    data += [f"rare{j}" for j in range(20000)]
    data += [f"mid{j % 200}" for j in range(4000)]  # 200 ids, 20 each
    rows = [(v,) for v in data]
    df = spark.createDataFrame(rows, "v string").repartition(8)

    out = {
        r.item: (r.cnt, r.share_ppm)
        for r in mg_frequent(
            df, F2.col("v"), threshold_denom=100, capacity=128
        ).collect()
    }
    n = len(data)
    exact = collections.Counter(data)
    want = {
        k: (c, c * 1000000 // n)
        for k, c in exact.items()
        if c * 100 > n
    }
    assert out == want and len(want) >= 3  # the top heavies qualify


def test_mg_frequent_uniform_and_edge_cases(spark):
    from pyspark.sql import functions as F2

    from seng550_a3_etl_spark.operators.sketch import mg_frequent

    # all-uniform over > capacity distinct values: compaction can
    # empty every summary (ties at the cut) — no crash, empty result,
    # and the sentinel rows keep n exact (no false positives).
    uni = spark.createDataFrame(
        [(f"u{j % 300}",) for j in range(3000)], "v string"
    ).repartition(4)
    assert (
        mg_frequent(uni, F2.col("v"), threshold_denom=100, capacity=100)
        .count()
        == 0
    )
    # nulls ignored on both passes; survivors counted against the
    # non-null total
    withnull = spark.createDataFrame(
        [("a",)] * 30 + [(None,)] * 70 + [("b",)] * 5, "v string"
    ).repartition(3)
    got = {
        r.item: (r.cnt, r.share_ppm)
        for r in mg_frequent(
            withnull, F2.col("v"), threshold_denom=4, capacity=8
        ).collect()
    }
    assert got == {"a": (30, 30 * 1000000 // 35)}
    # empty input -> empty output
    empty = spark.createDataFrame([], "v string")
    assert (
        mg_frequent(empty, F2.col("v"), threshold_denom=10).count() == 0
    )
    # guarantee precondition enforced
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mg_frequent(uni, F2.col("v"), threshold_denom=100, capacity=50)
