"""Operator unit + property tests (SURVEY.md §5.2 items 3/5)."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from flink_realtime_edu_demo_spark.operators.asof import asof_join, asof_join_pandas
from flink_realtime_edu_demo_spark.operators.funnel import funnel
from flink_realtime_edu_demo_spark.operators.minhash import (
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_candidate_pairs_md5,
    minhash_signatures,
    minhash_signatures_md5,
    shingles,
)
from flink_realtime_edu_demo_spark.streaming.stateful import user_accumulator_batch
from flink_realtime_edu_demo_spark.tables import load


def test_asof_window_equals_pandas_impl(spark, sf_dir):
    """The scale-path (window) and reference-path (merge_asof) as-of
    implementations must agree exactly."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    kw = dict(keys=["user_id"], probe_ts="ts", ref_ts="p_ts", value_cols=["p_ts"])
    a = asof_join(clicks, purch, **kw)
    b = asof_join_pandas(clicks, purch, **kw)
    rows_a = sorted(map(repr, a.select("event_id", "user_id", "ts", "p_ts").collect()))
    rows_b = sorted(map(repr, b.select("event_id", "user_id", "ts", "p_ts").collect()))
    assert rows_a == rows_b and len(rows_a) > 0


def test_minhash_lsh_recall_on_near_dups(spark, sf_dir):
    """LSH candidates must cover every strongly-similar pair (j >= 0.85)
    found by the exact inverted-index Jaccard — no false negatives on
    the fixture's planted near-dups."""
    d = load(spark, sf_dir, "documents")
    sh = shingles(d)
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(sh, threshold=0.85).collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(minhash_signatures(sh)).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    assert exact <= cand, f"LSH missed {exact - cand}"
    # The md5 (oracle-replayable) construction is an independent uniform
    # hash draw — must hold the same recall bar as the xxhash64 path.
    cand_md5 = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs_md5(minhash_signatures_md5(sh)).collect()
    }
    assert exact <= cand_md5, f"md5-LSH missed {exact - cand_md5}"


def test_dedup_idempotent(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    once = d.dropDuplicates(["text"])
    twice = once.dropDuplicates(["text"])
    assert once.count() == twice.count()


def test_funnel_strict_ordering(spark, sf_dir):
    out = funnel(load(spark, sf_dir, "events"), ["view", "click", "purchase"]).collect()
    assert out, "some user should complete the funnel"
    for r in out:
        assert r.step_1_ts < r.step_2_ts < r.step_3_ts


def test_group_sums_equal_total(spark, sf_dir):
    """Property: sum of group sums == total sum (exact: integral doubles)."""
    li = load(spark, sf_dir, "lineitem")
    total = li.agg(F.sum("l_quantity")).collect()[0][0]
    by_group = (
        li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
        .agg(F.sum("s")).collect()[0][0]
    )
    assert total == by_group


def test_union_count_additive(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F")
    b = o.filter(F.col("o_orderstatus") != "F")
    assert a.unionByName(b).count() == o.count()


def test_stateful_batch_twin_matches_sql(spark, sf_dir):
    """The applyInPandas accumulator core must agree with the plain SQL
    aggregate on counts (float sums compared to 1e-9 relative)."""
    ev = load(spark, sf_dir, "events")
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in user_accumulator_batch(ev).collect()
    }
    want = {
        r.user_id: (r.n, r.tv)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) <= 1e-9 * max(1.0, abs(want[k][1]))


def test_jaccard_prefix_filter_equals_naive(spark, sf_dir):
    """Prefix-filtered all-pairs similarity must produce the exact same
    pair set as the inverted-index formulation (no missed candidates)."""
    from flink_realtime_edu_demo_spark.operators.minhash import jaccard_pairs_prefix

    sh = shingles(load(spark, sf_dir, "documents"))
    naive = sorted(map(repr, jaccard_pairs(sh, threshold=0.5).collect()))
    pref = sorted(map(repr, jaccard_pairs_prefix(sh, threshold=0.5).collect()))
    assert naive == pref


def test_jaccard_hot_shingles_counted_in_n_common(spark):
    """A candidate pair's n_common must count shingles ABOVE the df cap
    too (the cap gates candidate generation only — VERDICT r16 #2's
    design constraint, pinned against the round-17 count-split
    lowering where n_common = capped co-occurrence count + hot-array
    intersect). Construction: docs 1 and 2 share one rare shingle (the
    candidate edge) plus a boilerplate shingle present in ALL docs
    (df = 5 > max_df = 3); with 3-word shingling, doc_i = 'x y z'
    (boilerplate) and docs 1/2 append the same rare tail."""
    rows = (
        [(0, "a b c"), (3, "a b c"), (4, "a b c")]
        + [(1, "a b c q r"), (2, "a b c q r")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(df)
    out = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in jaccard_pairs(sh, threshold=0.5, max_df=3).collect()
    }
    # docs 1,2: shingles {'a b c', 'b c q', 'c q r'}; 'a b c' has df 5
    # (hot), 'b c q'/'c q r' have df 2 (capped) -> candidates via the
    # capped shingles, n_common = 3 counting the hot one.
    assert out[(1, 2)] == (3, 3, 3, 1.0), out
    # uncapped path agrees
    unc = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in jaccard_pairs(sh, threshold=0.5, max_df=None).collect()
    }
    assert unc[(1, 2)] == (3, 3, 3, 1.0), unc


def test_asof_tie_break_deterministic(spark, sf_dir):
    """Equal-ref_ts reference rows resolve to the one sorting LAST on
    tie_break, identically in both implementations."""
    probe = spark.createDataFrame(
        [(1, 10), (1, 20)], "k int, ts int"
    )
    ref = spark.createDataFrame(
        [(1, 10, "a", 1), (1, 10, "b", 2), (1, 10, "c", 0)],
        "k int, rts int, val string, seq int",
    )
    kw = dict(keys=["k"], probe_ts="ts", ref_ts="rts",
              value_cols=["val"], tie_break="seq")
    a = {(r.ts, r.val) for r in asof_join(probe, ref, **kw).collect()}
    b = {(r.ts, r.val) for r in asof_join_pandas(probe, ref, **kw).collect()}
    assert a == b == {(10, "b"), (20, "b")}  # seq=2 sorts last -> wins


def test_asof_null_tie_break_loses(spark, sf_dir):
    """A reference row with a NULL tie_break value sorts FIRST
    (nulls-first), so a real value always wins the ref_ts tie —
    identically in both implementations."""
    probe = spark.createDataFrame([(1, 10)], "k int, ts int")
    ref = spark.createDataFrame(
        [(1, 10, "real", 1), (1, 10, "nullish", None)],
        "k int, rts int, val string, seq int",
    )
    kw = dict(keys=["k"], probe_ts="ts", ref_ts="rts",
              value_cols=["val"], tie_break="seq")
    a = {(r.ts, r.val) for r in asof_join(probe, ref, **kw).collect()}
    b = {(r.ts, r.val) for r in asof_join_pandas(probe, ref, **kw).collect()}
    assert a == b == {(10, "real")}


def test_asof_validate_raises_on_tie_break_violation(spark, sf_dir):
    """validate=True turns a tie_break contract violation (duplicate or
    NULL (keys, ref_ts, tie_break) in the reference) into a ValueError
    instead of a silently-NULLS-FIRST-resolved answer; a clean reference
    passes the probe untouched."""
    import pytest

    probe = spark.createDataFrame([(1, 10)], "k int, ts int")
    kw = dict(keys=["k"], probe_ts="ts", ref_ts="rts",
              value_cols=["val"], tie_break="seq", validate=True)
    dup_ref = spark.createDataFrame(
        [(1, 10, "a", 1), (1, 10, "b", 1)], "k int, rts int, val string, seq int"
    )
    null_ref = spark.createDataFrame(
        [(1, 10, "a", 1), (1, 10, "b", None)], "k int, rts int, val string, seq int"
    )
    ok_ref = spark.createDataFrame(
        [(1, 10, "a", 1), (1, 10, "b", 2)], "k int, rts int, val string, seq int"
    )
    for bad in (dup_ref, null_ref):
        with pytest.raises(ValueError, match="tie_break contract"):
            asof_join(probe, bad, **kw)
        with pytest.raises(ValueError, match="tie_break contract"):
            asof_join_pandas(probe, bad, **kw)
    assert {(r.ts, r.val) for r in asof_join(probe, ok_ref, **kw).collect()} == {(10, "b")}


def test_match_recognize_semantics(spark, sf_dir):
    """Contiguity, greedy quantifiers, and skip-past-last-row on a
    hand-built stream: PATTERN (A B+ C) with A=view, B=click,
    C=purchase."""
    from flink_realtime_edu_demo_spark.operators.cep import match_recognize

    rows = [
        # user 1: v c c p  v x c p   -> match(1..4); second run broken by x
        (1, 1, "view"), (1, 2, "click"), (1, 3, "click"), (1, 4, "purchase"),
        (1, 5, "view"), (1, 6, "error"), (1, 7, "click"), (1, 8, "purchase"),
        # user 2: v c p v c p -> two matches, skip past last row
        (2, 1, "view"), (2, 2, "click"), (2, 3, "purchase"),
        (2, 4, "view"), (2, 5, "click"), (2, 6, "purchase"),
        # user 3: v p (no click) -> no match
        (3, 1, "view"), (3, 2, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, event_type string")
    pat = [("A", "view", "1"), ("B", "click", "+"), ("C", "purchase", "1")]
    out = {
        (r.user_id, r.match_no): (r.first_event_id, r.last_event_id, r.n_rows, r.n_b)
        for r in match_recognize(ev, pat, ts="event_id").collect()
    }
    assert out == {
        (1, 1): (1, 4, 4, 2),
        (2, 1): (1, 3, 3, 1),
        (2, 2): (4, 6, 3, 1),
    }


def test_match_recognize_optional_and_star(spark, sf_dir):
    """'?' and '*' variables may absorb zero rows; greedy when present."""
    from flink_realtime_edu_demo_spark.operators.cep import match_recognize

    rows = [
        (1, 1, "signup"), (1, 2, "view"), (1, 3, "click"),
        (1, 4, "error"), (1, 5, "error"), (1, 6, "purchase"),
        (2, 1, "view"), (2, 2, "click"), (2, 3, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, event_type string")
    pat = [("S", "signup", "?"), ("V", "view", "1"), ("C", "click", "+"),
           ("E", "error", "*"), ("P", "purchase", "1")]
    out = {
        r.user_id: (r.first_event_id, r.last_event_id, r.n_s, r.n_e)
        for r in match_recognize(ev, pat, ts="event_id").collect()
    }
    assert out == {1: (1, 6, 1, 2), 2: (1, 3, 0, 0)}


def test_match_recognize_sessionized_gap_boundary(spark, sf_dir):
    """A match must never span a session gap: the same v-c-p chain
    matches when contiguous in time but not when a > gap pause splits
    it; session ids are 0-based per user in time order."""
    import datetime as dt

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize,
        sessionize,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, eid, minutes, typ):
        return (uid, eid, t0 + dt.timedelta(minutes=minutes), typ)

    rows = [
        # user 1: v c p within one session -> match
        ev(1, 1, 0, "view"), ev(1, 2, 5, "click"), ev(1, 3, 10, "purchase"),
        # user 2: v c ... 100-minute gap ... p -> split sessions, no match
        ev(2, 1, 0, "view"), ev(2, 2, 5, "click"), ev(2, 3, 110, "purchase"),
    ]
    evdf = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, event_type string"
    )
    pat = [("A", "view", "1"), ("B", "click", "+"), ("C", "purchase", "1")]
    out = match_recognize(sessionize(evdf, 30), pat,
                          key=["user_id", "session_id"]).collect()
    assert [(r.user_id, r.session_id, r.first_event_id, r.last_event_id)
            for r in out] == [(1, 0, 1, 3)]


def test_sessionize_oracle_agrees_on_gap_boundary(spark):
    """The one session definition both sides share: a gap of exactly
    ``gap`` stays in the session, ``gap`` + 1 s starts a new one —
    :func:`sessionize` and :func:`sessionize_oracle_sql` assign the
    same session_id on those boundary rows (ties on ts break by id)."""
    import datetime as dt

    import duckdb

    from flink_realtime_edu_demo_spark.operators.cep import (
        sessionize,
        sessionize_oracle_sql,
    )

    t0 = dt.datetime(2024, 1, 1)
    gap = dt.timedelta(minutes=30)
    rows = [
        (1, 1, t0), (1, 2, t0 + gap),                     # == gap: same
        (1, 3, t0 + 2 * gap + dt.timedelta(seconds=1)),   # > gap: new
        (1, 4, t0 + 2 * gap + dt.timedelta(seconds=1)),   # tie on ts
        (2, 5, t0 + gap + dt.timedelta(seconds=1)),
        (2, 6, t0),                                       # out of order
    ]
    schema = "user_id long, event_id long, ts timestamp_ntz"
    spark_ids = {
        r.event_id: r.session_id
        for r in sessionize(spark.createDataFrame(rows, schema), 30)
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE ev (user_id BIGINT, event_id BIGINT, "
                "ts TIMESTAMP)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
    oracle_ids = dict(con.sql(
        f"SELECT event_id, session_id FROM {sessionize_oracle_sql('ev', 30)}"
    ).fetchall())
    assert spark_ids == oracle_ids == {1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 0}


def test_runagg_sessionized_gap_boundary(spark, sf_dir):
    """A running-aggregate match must never span a session gap, and the
    prefix sums must be session-confined: the same A B B chain matches
    within one session but a > gap pause before the B-run's tail cuts
    the run at the boundary."""
    import datetime as dt

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_runagg,
        sessionize,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, eid, minutes, typ, val):
        return (uid, eid, t0 + dt.timedelta(minutes=minutes), typ, val)

    rows = [
        # user 1: view then two cheap clicks in-session -> one match, 2 B rows
        ev(1, 1, 0, "view", 0.0), ev(1, 2, 5, "click", 3.0),
        ev(1, 3, 10, "click", 4.0),
        # user 2: same chain but the second click is past the gap ->
        # the match stops at the boundary (1 B row), and the orphaned
        # click in session 1 can't match (no view prefix there)
        ev(2, 1, 0, "view", 0.0), ev(2, 2, 5, "click", 3.0),
        ev(2, 3, 110, "click", 4.0),
    ]
    evdf = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp_ntz, "
        "event_type string, value double",
    )
    pat = [("A", {"types": "view"}, "1"),
           ("B", {"agg": "sum", "cmp": "<", "thr": 100.0}, "+")]
    out = match_recognize_runagg(sessionize(evdf, 30), pat,
                                 key=["user_id", "session_id"])
    got = sorted(
        (r.user_id, r.session_id, r.first_event_id, r.last_event_id,
         r.b_rows, r.b_sum)
        for r in out.collect()
    )
    assert got == [(1, 0, 1, 3, 2, 7.0), (2, 0, 1, 2, 1, 3.0)], got


def test_cep_empty_types_rejected_everywhere(spark, sf_dir):
    """An explicitly-present empty types tuple must raise at plan time
    from EVERY CEP entry point (ADVICE r6: the DEFINE paths silently
    treated it as 'no type constraint', unlike match_recognize)."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize,
        match_recognize_define,
        match_recognize_runagg,
    )

    ev = spark.createDataFrame(
        [(1, 1, "view", 1.0)],
        "user_id long, event_id long, event_type string, value double",
    )
    with pytest.raises(ValueError, match="at least one event type"):
        match_recognize(ev, [("A", (), "1")])
    with pytest.raises(ValueError, match="at least one event type"):
        match_recognize_define(ev, [("A", {"types": ()}, "1")])
    with pytest.raises(ValueError, match="at least one event type"):
        match_recognize_runagg(
            ev,
            [("A", {"types": ()}, "1"),
             ("B", {"agg": "sum", "cmp": "<", "thr": 1.0}, "+")],
        )
    with pytest.raises(ValueError, match="at least one event type"):
        match_recognize_runagg(
            ev,
            [("B", {"agg": "sum", "cmp": "<", "thr": 1.0, "types": ()}, "+")],
        )
    # ADVICE r7: a malformed quantifier must raise the friendly
    # ValueError even though _reject_leading_negation consults
    # _quant_min before _validate's own quantifier loop runs
    with pytest.raises(ValueError, match="quantifier 'bogus'"):
        match_recognize(ev, [("A", "view", "bogus")])


def test_runagg_interior_scope_validation(spark, sf_dir):
    """Round-11 chain scope: suffix quantifiers '1'/'?'/'+'/{m,n} are
    accepted ANYWHERE in the chain (the r10 non-final-'+' NFA boundary
    closed via the greedy-end tabulation); '*' on a suffix, malformed
    bounded forms, and a second aggregate variable stay rejected."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_runagg,
    )

    ev = spark.createDataFrame(
        [(1, 1, "view", 1.0)],
        "user_id long, event_id long, event_type string, value double",
    )
    agg = ("B", {"agg": "sum", "cmp": "<", "thr": 1.0}, "+")
    with pytest.raises(ValueError, match="quantifier"):
        match_recognize_runagg(ev, [agg, ("C", {}, "*")])
    with pytest.raises(ValueError, match="malformed bounded"):
        match_recognize_runagg(ev, [agg, ("C", {}, "{3,2}")])
    with pytest.raises(ValueError, match="malformed bounded"):
        match_recognize_runagg(ev, [agg, ("C", {}, "{0,0}")])
    # round 11: bounded, optional, and non-final-'+' chains are legal
    for chain in (
        [("C", {}, "{1,2}")],
        [("C", {}, "+"), ("D", {}, "1")],
        [("C", {}, "?"), ("D", {}, "+")],
    ):
        assert match_recognize_runagg(
            ev, [agg] + chain, ts="event_id"
        ).count() == 0
    # the round-9 tail form: a final '+' suffix is legal
    assert match_recognize_runagg(
        ev, [agg, ("C", {}, "+")], ts="event_id"
    ).count() == 0
    # the round-10 multi-variable tail: chains of '1' suffixes are legal
    assert match_recognize_runagg(
        ev, [agg, ("C", {}, "1"), ("D", {}, "1")], ts="event_id"
    ).count() == 0
    with pytest.raises(ValueError, match="exactly one variable"):
        match_recognize_runagg(
            ev, [agg, ("C", {"agg": "sum", "cmp": "<", "thr": 1.0}, "+")])


def test_cep_leading_negation_rejected(spark, sf_dir):
    """Complement predicates need a guaranteed preceding row: negated
    specs at or before the first mandatory variable are rejected at
    plan time (a [^..] first atom would let the unanchored scan start
    mid-token — found by hypothesis, pinned here), while a negated
    variable after a mandatory positive one is accepted; PERMUTE
    rejects them outright."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize,
        match_recognize_permute,
    )

    ev = spark.createDataFrame(
        [(1, 1, "view")], "user_id long, event_id long, event_type string"
    )
    for pat in (
        [("N", "!purchase", "1")],                      # negated first
        [("A", "view", "?"), ("N", "!purchase", "1")],  # optional prefix only
        [("N", "!purchase", "?"), ("A", "view", "1")],  # optional negated first
    ):
        with pytest.raises(ValueError, match="guaranteed preceding row"):
            match_recognize(ev, pat)
    # fine: mandatory positive row precedes the complement
    match_recognize(
        ev, [("V", "view", "1"), ("N", ("!", "purchase", "signup"), "+")],
        ts="event_id",
    ).collect()
    with pytest.raises(ValueError, match="not.*supported inside PERMUTE"):
        match_recognize_permute(
            ev, [("A", "view"), ("N", "!purchase")]
        )


def test_group_quantifier_validation(spark):
    """Grouped-pattern plan-time rules: one nesting level only,
    zero-width loop iterations rejected, and the leading-negation /
    empty-match checks applied over EFFECTIVE minimums (a group with
    min 0 makes its inner variables optional)."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_groups,
    )

    ev = spark.createDataFrame(
        [(1, 1, "view")], "user_id long, event_id long, event_type string"
    )
    with pytest.raises(ValueError, match="nested groups"):
        match_recognize_groups(
            ev, [("G", [("H", [("A", "view", "1")], "+")], "+")]
        )
    with pytest.raises(ValueError, match="zero-width"):
        match_recognize_groups(
            ev, [("G", [("A", "view", "?"), ("B", "click", "*")], "+"),
                 ("C", "purchase", "1")]
        )
    # effective-minimum empty match: group* of mandatory vars, alone
    with pytest.raises(ValueError, match="zero rows"):
        match_recognize_groups(ev, [("G", [("A", "view", "1")], "*")])
    # effective-minimum leading negation: group* then a complement-led
    # mandatory position — the scan could start on the complement atom
    with pytest.raises(ValueError, match="guaranteed preceding row"):
        match_recognize_groups(
            ev, [("G", [("A", "view", "1")], "*"),
                 ("N", "!purchase", "1")]
        )
    # fine: mandatory group guarantees the preceding row
    match_recognize_groups(
        ev, [("G", [("A", "view", "1")], "+"), ("N", "!purchase", "1")],
        ts="event_id",
    ).collect()


def test_cc_star_equals_label_propagation(spark, sf_dir):
    """Large-star/small-star CC must reach the identical
    (id, min-reachable-id) fixpoint as min-label propagation — checked
    on a chain (worst case for label propagation) plus a multi-component
    random graph."""
    import random

    from flink_realtime_edu_demo_spark.operators.graph import connected_components

    rnd = random.Random(11)
    chain = [(i, i + 1) for i in range(30)]
    # 3 islands of 40 nodes with random internal edges, offset id spaces
    blob = [
        (base + rnd.randrange(40), base + rnd.randrange(40))
        for base in (1000, 2000, 3000)
        for _ in range(80)
    ]
    edges = spark.createDataFrame(chain + blob, "id_a long, id_b long")
    # threshold 0 disables the small-graph union-find gate so the two
    # DISTRIBUTED methods are what's actually compared
    lab = {
        (r.id, r.label)
        for r in connected_components(edges, method="label",
                                      small_graph_threshold=0).collect()
    }
    star = {
        (r.id, r.label)
        for r in connected_components(edges, method="star",
                                      small_graph_threshold=0).collect()
    }
    assert lab == star
    # and the small-graph driver union-find (default gate) agrees too
    uf = {(r.id, r.label) for r in connected_components(edges).collect()}
    assert uf == star


def test_cc_star_log_rounds_on_path(spark, sf_dir):
    """On a 1000-node path graph (diameter 999 — pathological for
    min-label propagation), the star method must converge in O(log n)
    alternating rounds and label every node with the path minimum."""
    import math

    from flink_realtime_edu_demo_spark.operators.graph import connected_components_star

    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels, rounds = connected_components_star(edges)
    assert rounds <= 2 * math.ceil(math.log2(n)) + 2, rounds
    out = labels.collect()
    assert len(out) == n and all(r.label == 0 for r in out)


def test_approx_uv_within_5pct_of_exact(spark, sf_dir):
    """q_agg_approx_uv's HLL estimate (rsd=0.01) must land within ±5% of
    the exact count(distinct) per group, computed side-by-side in one
    aggregation — upgrades the rows-only key from "runs" to "checked"
    without needing a cross-engine sketch hash (VERDICT r3 #3)."""
    from flink_realtime_edu_demo_spark.queries.aggregates import q_agg_approx_uv

    ev = load(spark, sf_dir, "events")
    exact = {
        r.event_type: r.exact_uv
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_uv"))
        .collect()
    }
    rows = q_agg_approx_uv(spark, sf_dir).collect()
    assert rows and {r.event_type for r in rows} == exact.keys()
    for r in rows:
        e = exact[r.event_type]
        assert abs(r.approx_uv - e) <= max(1, 0.05 * e), (r.event_type, r.approx_uv, e)


def test_kmv_estimator_branch_accuracy(spark, sf_dir):
    """The KMV (k-minimum-values) estimator branch — which fixture
    groups never reach (they have < k distinct users) — must estimate
    within ~3 rsd (≈20% at k=256) on a synthetic group with 3000
    distinct values, and the exact branch must be exact at < k."""
    from flink_realtime_edu_demo_spark.queries.aggregates import _KMV_K

    k = _KMV_K
    rows = [(i, "big") for i in range(3000)] + [(i, "small") for i in range(40)]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long").alias("h")
    )
    from pyspark.sql.window import Window

    dis = ev.select("event_type", h).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = dis.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    out = {
        r.event_type: r.est
        for r in ranked.groupBy("event_type").agg(
            F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)) * F.lit(1.0))
            .otherwise(F.lit(float((k - 1) * 2**60)) / F.max("h"))
            .alias("est")
        ).collect()
    }
    assert out["small"] == 40.0
    assert abs(out["big"] - 3000) <= 0.2 * 3000, out["big"]


def test_range_join_binned_equals_naive(spark, sf_dir):
    """Binned range join == naive theta join, including interval lengths
    spanning many bins and points exactly on bin edges."""
    import random

    from flink_realtime_edu_demo_spark.operators.rangejoin import range_join_binned

    rnd = random.Random(7)
    pts = [(i, rnd.uniform(-100, 100)) for i in range(300)]
    ivs = []
    for j in range(80):
        lo = rnd.uniform(-120, 100)
        ivs.append((j, lo, lo + rnd.uniform(0, 37.5)))  # up to ~4 bins wide
    p = spark.createDataFrame(pts, "pid int, x double")
    iv = spark.createDataFrame(ivs, "iid int, lo double, hi double")

    got = {
        (r.pid, r.iid)
        for r in range_join_binned(p, iv, "x", "lo", "hi", bin_width=10.0).collect()
    }
    want = {
        (r.pid, r.iid)
        for r in p.crossJoin(iv)
        .filter((F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        .collect()
    }
    assert got == want and len(want) > 0


def test_range_join_binned_degenerate_interval_raises(spark, sf_dir):
    from pyspark.sql.utils import PythonException

    from flink_realtime_edu_demo_spark.operators.rangejoin import range_join_binned

    p = spark.createDataFrame([(1, 0.0)], "pid int, x double")
    iv = spark.createDataFrame([(1, 0.0, 1e6)], "iid int, lo double, hi double")
    import pytest

    with pytest.raises(Exception, match="max_bins_per_interval"):
        range_join_binned(p, iv, "x", "lo", "hi", bin_width=1.0,
                          max_bins_per_interval=16).collect()


def test_simhash_banding_equals_naive(spark, sf_dir):
    """Pigeonhole-banded simhash_pairs == naive all-pairs Hamming filter."""
    from flink_realtime_edu_demo_spark.operators.minhash import (
        simhash_md5,
        simhash_pairs,
    )
    from flink_realtime_edu_demo_spark.tables import load

    d = load(spark, sf_dir, "documents").limit(200)
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .distinct()
    )
    sims = simhash_md5(toks)
    got = {(r.id_a, r.id_b, r.hamming) for r in simhash_pairs(sims, max_hamming=3).collect()}
    a = sims.select(F.col("doc_id").alias("id_a"), F.col("s1").alias("a1"), F.col("s2").alias("a2"))
    b = sims.select(F.col("doc_id").alias("id_b"), F.col("s1").alias("b1"), F.col("s2").alias("b2"))
    ham = (
        F.bit_count(F.col("a1").bitwiseXOR(F.col("b1")))
        + F.bit_count(F.col("a2").bitwiseXOR(F.col("b2")))
    ).cast("long")
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == want and len(want) > 0


def test_lsh_topk_recall_floor(spark, sf_dir):
    """Multi-table SimHash ANN must retrieve a meaningful share of the
    exact top-5 neighbors (the round-1 single-table design measured
    ~0.11; the multi-table rewrite triples it — this floor guards
    against silent recall regressions)."""
    from flink_realtime_edu_demo_spark.operators.annsearch import cosine_topk, lsh_topk
    from flink_realtime_edu_demo_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    exact = {(r.vec_id, r.neighbor_id) for r in cosine_topk(e, e, k=5).collect()}
    approx = {(r.vec_id, r.neighbor_id) for r in lsh_topk(e, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.25, f"recall@5 regressed: {recall:.3f}"


def test_lsh_topk_bucket_cap_is_lossless(spark, sf_dir):
    """The bucket-width cap splits oversized (table, bucket) groups into
    sub-block PAIRS, so every within-bucket pair is still scored — a
    tiny max_bucket must reproduce the uncapped result exactly (ids,
    ranks, and bit-identical cosines)."""
    from flink_realtime_edu_demo_spark.operators.annsearch import lsh_topk
    from flink_realtime_edu_demo_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    uncapped = {tuple(r) for r in lsh_topk(e, k=5, max_bucket=10**9).collect()}
    capped = {tuple(r) for r in lsh_topk(e, k=5, max_bucket=8).collect()}
    assert capped == uncapped and len(uncapped) > 0


def test_kmeans_matches_numpy_reference(spark, sf_dir):
    """Distributed Lloyd's == a pure-numpy reference run from the same
    deterministic init (>=99% agreement; the 1% slack covers last-ulp
    distance ties between decimal-exact and numpy means)."""
    import numpy as np

    from flink_realtime_edu_demo_spark.operators.kmeans import kmeans
    from flink_realtime_edu_demo_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans(e, k=8, n_iter=3)
    got = {r.vec_id: r.cluster for r in assigned.collect()}

    rows = sorted((r.vec_id, list(r.embedding)) for r in e.collect())
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    C = X[:8].copy()
    for _ in range(3):
        d = -2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        lab = np.argmin(d, axis=1)
        for c in range(8):
            if (lab == c).any():
                C[c] = X[lab == c].mean(axis=0)
    d = -2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
    lab = np.argmin(d, axis=1)
    want = dict(zip(ids.tolist(), lab.tolist()))

    agree = sum(got[i] == want[i] for i in got) / len(got)
    assert agree >= 0.99, f"label agreement {agree:.3f}"
    assert len(set(got.values())) == 8


def test_async_lookup_bulk_enrichment(spark, sf_dir):
    """async_lookup (Flink Async-I/O analog): one bulk service call per
    Arrow batch, NULL for missing keys, values correct for every row."""
    from flink_realtime_edu_demo_spark.operators.lookup import async_lookup
    from flink_realtime_edu_demo_spark.tables import load

    def fake_service(keys):
        # deterministic fake: even user ids known, odd ids missing
        return {k: f"tier-{k % 3}" for k in keys if k % 2 == 0}

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    out = async_lookup(ev, fake_service, key_col="user_id", value_col="tier")
    rows = out.collect()
    assert len(rows) == ev.count()
    for r in rows:
        if r.user_id % 2 == 0:
            assert r.tier == f"tier-{r.user_id % 3}"
        else:
            assert r.tier is None


def test_cosine_pairs_blocked_zero_norm_and_naive_equivalence(spark, sf_dir):
    """cosine_pairs_blocked == naive all-pairs on random vectors, and
    zero-norm vectors are excluded rather than emitted as NaN."""
    import random

    from flink_realtime_edu_demo_spark.operators.annsearch import cosine_pairs_blocked

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    rows.append((60, [0.0] * 8))  # zero-norm vector
    rows.append((61, rows[5][1][:]))  # exact duplicate of id 5 -> cosine 1.0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in cosine_pairs_blocked(df, threshold=0.6, n_blocks=4).collect()
    }
    import math

    want = {}
    for i, vi in rows:
        for j, vj in rows:
            if i < j:
                ni = math.sqrt(sum(x * x for x in vi))
                nj = math.sqrt(sum(x * x for x in vj))
                if ni > 0 and nj > 0:
                    c = sum(a * b for a, b in zip(vi, vj)) / (ni * nj)
                    if c >= 0.6:
                        want[(i, j)] = round(c, 9)
    assert set(got) == set(want) and (5, 61) in got
    assert all(60 not in pair for pair in got)
    for pair in got:
        assert abs(got[pair] - want[pair]) < 1e-9


def test_kmeans_assign_jvm_fold_matches_numpy_kernel(spark, sf_dir):
    """q_llm_kmeans_assign's pure-JVM distance folds must agree with the
    numpy/BLAS kmeans_assign kernel on the same literal centroids (they
    could only diverge on a sub-ulp distance tie, absent on fixtures)."""
    from flink_realtime_edu_demo_spark.operators.kmeans import kmeans_assign
    from flink_realtime_edu_demo_spark.queries.llm import (
        _assign_centroids,
        q_llm_kmeans_assign,
    )
    from flink_realtime_edu_demo_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    jvm = {(r.vec_id, r.cluster) for r in q_llm_kmeans_assign(spark, sf_dir).collect()}
    np_ = {
        (r.vec_id, r.cluster)
        for r in kmeans_assign(e, _assign_centroids()).collect()
    }
    assert jvm == np_ and len(jvm) > 0


def test_ivf_ann_recall_floor(spark, sf_dir):
    """The deterministic IVF path (literal coarse centroids, nprobe=2 of
    k=4) must retrieve a meaningful share of the exact top-5 (measured
    0.64 at sf0.01; floor guards regressions in the probe/assign logic)."""
    from flink_realtime_edu_demo_spark.queries.llm import q_llm_ann_ivf, q_llm_knn

    ivf = {(r.vec_id, r.neighbor_id) for r in q_llm_ann_ivf(spark, sf_dir).collect()}
    exact = {(r.vec_id, r.neighbor_id) for r in q_llm_knn(spark, sf_dir).collect()}
    assert exact, "exact kNN should return pairs"
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.4, f"IVF recall@5 regressed: {recall:.3f}"


def test_connected_components_known_graph(spark):
    """Two chains and an isolated edge: labels must converge to each
    component's min id regardless of propagation order (chain 1-2-3-4
    needs multiple rounds: 4 only touches 3)."""
    from flink_realtime_edu_demo_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a bigint, id_b bigint",
    )
    got = {(r.id, r.label) for r in connected_components(edges).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20)}
    assert got == want


def test_greedy_pack_edge_cases(spark):
    """Close-on-overflow packing against a local python reference,
    covering paths the fixture corpus never hits: a doc larger than the
    budget (gets its own bin, then the bin closes), an exact-fit bin,
    and a 1-token tail. Budget=10."""
    from flink_realtime_edu_demo_spark.operators.packing import greedy_pack

    rows = [
        # key a: 4+6 fill bin0 exactly, 30 oversized alone in bin1,
        #        1+9 fill bin2 exactly, 2 opens bin3
        ("a", 1, 4), ("a", 2, 6), ("a", 3, 30), ("a", 4, 1),
        ("a", 5, 9), ("a", 6, 2),
        # key b: single oversized doc -> bin0
        ("b", 1, 11),
        # key c: 5+5 exact, then 10 exact alone
        ("c", 1, 5), ("c", 2, 5), ("c", 3, 10),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id bigint, n_tok bigint")
    got = {
        (r.source, r.doc_id): (r.bin_id, r.fill_after)
        for r in greedy_pack(df, budget=10).collect()
    }

    def reference(rows):
        out = {}
        by_key = {}
        for k, i, n in sorted(rows, key=lambda r: (r[0], r[1])):
            by_key.setdefault(k, []).append((i, n))
        for k, docs in by_key.items():
            bin_id, fill = 0, 0
            for i, n in docs:
                if fill > 0 and fill + n > 10:
                    bin_id, fill = bin_id + 1, 0
                fill += n
                out[(k, i)] = (bin_id, fill)
        return out

    assert got == reference(rows)
    # structural invariants: oversized docs sit alone; fills never
    # exceed the budget except for a single oversized doc
    assert got[("a", 3)] == (1, 30) and got[("b", 1)] == (0, 11)
    for (k, i), (b, fill) in got.items():
        n_tok = next(n for kk, ii, n in rows if (kk, ii) == (k, i))
        assert fill <= 10 or fill == n_tok > 10


def test_approx_quantile_within_rank_error(spark, sf_dir):
    """q_agg_approx_quantile (GK sketch, accuracy 10^4): each estimate
    must be an actual data value whose rank is within eps*n of the
    target rank — the sketch's contract — checked against the exact
    sorted values per group. Upgrades the rows-only key from "runs"
    to "checked" (same treatment as the HLL key)."""
    from flink_realtime_edu_demo_spark.queries.timeseries import q_agg_approx_quantile

    ev = load(spark, sf_dir, "events")
    vals = {
        r.event_type: sorted(r.vs)
        for r in ev.groupBy("event_type")
        .agg(F.collect_list("value").alias("vs"))
        .collect()
    }
    rows = q_agg_approx_quantile(spark, sf_dir).collect()
    assert rows and {r.event_type for r in rows} == vals.keys()
    eps = 1.0 / 10_000
    for r in rows:
        vs = vals[r.event_type]
        n = len(vs)
        assert r.n == n
        for q, est in ((0.5, r.p50), (0.9, r.p90), (0.99, r.p99)):
            import bisect
            lo = bisect.bisect_left(vs, est)
            hi = bisect.bisect_right(vs, est) - 1
            target = q * (n - 1)
            slack = eps * n + 1
            assert lo - slack <= target <= hi + slack, (r.event_type, q, est)
            assert vs[0] <= est <= vs[-1]


def test_cep_skip_policy_validation():
    """Malformed or non-advancing AFTER MATCH policies are plan-time
    errors (SQL raises a runtime error for a skip that would resume at
    the match start; we reject statically): unknown variables, targets
    that may match zero rows, and resumes not guaranteed to advance."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        _parse_skip,
        _quant_regex,
    )

    v = [("A", {"dir": "down"}, "+"), ("B", {"dir": "up"}, "+")]
    assert _parse_skip("past_last_row", v) == ("past_last_row", None)
    assert _parse_skip("to_next_row", v) == ("to_next_row", None)
    assert _parse_skip("to_last:B", v) == ("to_last", 1)
    assert _parse_skip("to_first:B", v) == ("to_first", 1)
    with pytest.raises(ValueError, match="not a pattern variable"):
        _parse_skip("to_last:Z", v)
    with pytest.raises(ValueError, match="non-advancing"):
        _parse_skip("to_first:A", v)  # nothing guaranteed before A
    with pytest.raises(ValueError, match="non-advancing"):
        _parse_skip("to_last:A", [("A", {}, "1"), ("B", {}, "+")])
    # A with min>=2 advances even as the first variable
    assert _parse_skip("to_last:A", [("A", {}, "{2,4}"), ("B", {}, "+")]) \
        == ("to_last", 0)
    with pytest.raises(ValueError, match="zero rows"):
        _parse_skip("to_last:B", [("A", {}, "1"), ("B", {}, "*")])
    with pytest.raises(ValueError, match="skip must be"):
        _parse_skip("bad", v)
    # bounded-quantifier forms
    assert _quant_regex("{2,4}") == "{2,4}"
    with pytest.raises(ValueError):
        _quant_regex("{4,2}")  # inverted bounds
    # open-ended {m,} IS supported since round 10 (Flink timesOrMore)
    assert _quant_regex("{2,}") == "{2,}"


def test_cep_rejects_all_optional_patterns():
    """A pattern whose total minimum row count is zero (every variable
    `?`/`*`/`{0,n}`) would let the regex match the empty string at
    every position — the past_last_row extract-all path would emit
    zero-length matches as NULL-id rows. Both validators reject it at
    plan time."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        _validate,
        _validate_defines,
    )

    with pytest.raises(ValueError, match="zero rows"):
        _validate([("A", "click", "*"), ("B", "error", "?")])
    with pytest.raises(ValueError, match="zero rows"):
        _validate_defines([("A", {"dir": "up"}, "*")])
    with pytest.raises(ValueError, match="zero rows"):
        _validate_defines([("A", {}, "{0,3}"), ("B", {"dir": "down"}, "?")])
    # one mandatory row anywhere makes the pattern fine
    _validate([("A", "click", "*"), ("B", "error", "1")])
    _validate_defines([("A", {"dir": "up"}, "+")])


def test_cc_union_find_string_node_ids(spark, sf_dir):
    """The small-graph driver union-find derives its result schema from
    the input edge column type — string node ids round-trip (min-label
    fixpoint under lexicographic order), same as the distributed paths."""
    from flink_realtime_edu_demo_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    got = {(r.id, r.label) for r in connected_components(edges).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_session_cep_sink_string_key_snapshot_schema(spark, sf_dir):
    """SessionCepSink's empty first-batch open-session snapshot derives
    its schema from the incoming batch (key/ts column types), so a
    string key types the candidate union correctly."""
    import datetime

    from flink_realtime_edu_demo_spark.streaming.cep import SessionCepSink

    sink = SessionCepSink(
        [("A", "click", "1"), ("B", "purchase", "1")],
        gap_minutes=30, key="uname", ts="ts", id_col="event_id",
    )
    rows = [
        ("u1", 1, datetime.datetime(2024, 1, 1, 10, 0), "click"),
        ("u1", 2, datetime.datetime(2024, 1, 1, 10, 1), "purchase"),
        # second session far later closes the first one next batch
        ("u1", 3, datetime.datetime(2024, 1, 1, 14, 0), "click"),
    ]
    schema = "uname string, event_id long, ts timestamp_ntz, event_type string"
    b0 = spark.createDataFrame(rows[:2], schema)
    snap = sink._open_sessions(b0)
    assert [f.dataType.simpleString() for f in snap.schema.fields] == [
        "string", "timestamp_ntz"
    ]
    sink.write_batch(b0, 0)
    sink.write_batch(spark.createDataFrame(rows[2:], schema), 1)
    matched = {(k[0], k[1]) for k in sink.emitted}
    assert ("u1", 0) in matched  # the closed first session's A->B match


def test_lsh_planes_for_matches_sql_derivation():
    """lsh_planes_for's integer rule (smallest m in [4,24] with
    target·2^m >= n) must agree with the SQL derivation embedded in
    lsh_topk_scaled_oracle_sql for every regime: tiny corpora, exact
    power-of-two boundaries (where a floating log2 could disagree),
    and the 24-plane clamp."""
    import duckdb

    from flink_realtime_edu_demo_spark.operators.annsearch import lsh_planes_for

    con = duckdb.connect()
    for n, target in [(1, 256), (256, 256), (4096, 256), (4097, 256),
                      (8192, 256), (10**7, 256), (10**10, 256),
                      (500, 16), (500, 4), (2000, 256), (3, 1)]:
        want = lsh_planes_for(n, target)
        got = con.execute(
            f"""SELECT COALESCE((SELECT min(c.m)
                FROM generate_series(4, 24) AS c(m)
                WHERE {target} * (CAST(1 AS BIGINT) << c.m) >= {n}), 24)"""
        ).fetchone()[0]
        assert got == want, (n, target, got, want)


def test_lsh_topk_scaled_oracle_replays_nondefault_m(spark, sf_dir):
    """The scaled oracle must hash-match when the derived m is NOT the
    fixture default (target_bucket=16 over 500 vectors forces m=5,
    32 buckets/table) — proving the COUNT(*)-driven plane count, not
    just the m=4 floor, is replayed decision-for-decision."""
    import duckdb

    from flink_realtime_edu_demo_spark.operators.annsearch import (
        lsh_planes_for,
        lsh_topk_scaled,
        lsh_topk_scaled_oracle_sql,
    )
    from flink_realtime_edu_demo_spark.tables import load
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "embeddings")
    assert lsh_planes_for(e.count(), 16) == 5  # the non-default regime
    got = sorted(
        tuple(r)
        for r in lsh_topk_scaled(e, k=5, target_bucket=16)
        .select("vec_id", "neighbor_id", "rank",
                F.round("cosine", 6).alias("cosine_r"))
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            lsh_topk_scaled_oracle_sql(k=5, target_bucket=16)
        ).fetchall()
    )
    assert got == want and len(want) > 0


def test_lsh_topk_fixed_m_oracle_replay(spark, sf_dir):
    """The demoted fixed-m form stays hash-verified as an operator:
    lsh_topk with explicit n_planes=6 must replay its static oracle
    (the pre-r6 q_llm_knn_ivf contract) bit-for-bit."""
    import duckdb

    from flink_realtime_edu_demo_spark.operators.annsearch import (
        lsh_topk,
        lsh_topk_oracle_sql,
    )
    from flink_realtime_edu_demo_spark.tables import load
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "embeddings")
    got = sorted(
        tuple(r)
        for r in lsh_topk(e, k=5, n_planes=6, n_tables=8)
        .select("vec_id", "neighbor_id", "rank",
                F.round("cosine", 6).alias("cosine_r"))
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(lsh_topk_oracle_sql(k=5)).fetchall()
    )
    assert got == want and len(want) > 0


def test_cosine_pairs_blocked_oracle_replay(spark, sf_dir):
    """The retired q_llm_dedup_embed contract stays hash-verified as an
    operator (round-6 q_llm_knn_ivf precedent): exact all-pairs cosine
    >= 0.45 via the block-matrix self-join must replay its DuckDB
    oracle bit-for-bit, and the plan-time max_vectors gate must refuse
    an over-sized corpus with a pointer at the sub-quadratic forms."""
    import duckdb
    import pytest

    from flink_realtime_edu_demo_spark.operators.annsearch import (
        cosine_pairs_blocked,
        cosine_pairs_oracle_sql,
    )
    from flink_realtime_edu_demo_spark.tables import load
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "embeddings")
    got = sorted(
        tuple(r)
        for r in cosine_pairs_blocked(e, threshold=0.45)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(cosine_pairs_oracle_sql(0.45)).fetchall()
    )
    assert got == want and len(want) > 0
    with pytest.raises(ValueError, match="all-pairs gate"):
        cosine_pairs_blocked(e, threshold=0.45, max_vectors=1)


def test_cc_jump_equals_star_and_label(spark, sf_dir):
    """Pointer-jumping CC (the r6 default) must reach the identical
    (id, min-reachable-id) fixpoint as both prior distributed methods,
    on a chain (worst case for plain label propagation) plus a
    multi-component random graph."""
    import random

    from flink_realtime_edu_demo_spark.operators.graph import connected_components

    rnd = random.Random(23)
    chain = [(i, i + 1) for i in range(30)]
    blob = [
        (base + rnd.randrange(40), base + rnd.randrange(40))
        for base in (1000, 2000, 3000)
        for _ in range(80)
    ]
    edges = spark.createDataFrame(chain + blob, "id_a long, id_b long")
    got = {}
    for method in ("jump", "star", "label"):
        got[method] = {
            (r.id, r.label)
            for r in connected_components(edges, method=method,
                                          small_graph_threshold=0).collect()
        }
    assert got["jump"] == got["star"] == got["label"]


def test_cc_jump_log_rounds_on_path(spark, sf_dir):
    """On a 400-node path (diameter 399), pointer jumping must converge
    in O(log diameter) rounds — the reach of the minimum label doubles
    per round — and label every node with the path minimum."""
    import math

    from flink_realtime_edu_demo_spark.operators.graph import (
        connected_components_jump,
    )

    n = 400
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels, rounds = connected_components_jump(edges)
    assert rounds <= math.ceil(math.log2(n)) + 2, rounds
    out = labels.collect()
    assert len(out) == n and all(r.label == 0 for r in out)


def test_followed_by_any_within_and_validation(spark):
    """followedByAny with .within(): combinations whose later elements
    fall outside [first_ts, first_ts + within] are pruned inside the
    join, and the single-occurrence / duplicate-name plan-time rules
    reject unsupported patterns with actionable errors."""
    import datetime as dt

    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_followed_by_any,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: V at t0; C at +10m and +90m; P at +30m and +200m
        (1, 1, t0, "view"),
        (1, 2, t0 + dt.timedelta(minutes=10), "click"),
        (1, 3, t0 + dt.timedelta(minutes=30), "purchase"),
        (1, 4, t0 + dt.timedelta(minutes=90), "click"),
        (1, 5, t0 + dt.timedelta(minutes=200), "purchase"),
        # user 2: order violated (P before C)
        (2, 6, t0, "view"),
        (2, 7, t0 + dt.timedelta(minutes=5), "purchase"),
        (2, 8, t0 + dt.timedelta(minutes=9), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    pat = [("V", "view", "1"), ("C", "click", "1"), ("P", "purchase", "1")]

    unbounded = match_recognize_followed_by_any(ev, pat)
    got_all = sorted((r.v_event_id, r.c_event_id, r.p_event_id)
                     for r in unbounded.collect())
    # user 1: (1,2,3), (1,2,5), (1,4,5); user 2: none (order)
    assert got_all == [(1, 2, 3), (1, 2, 5), (1, 4, 5)]

    within = match_recognize_followed_by_any(ev, pat, within_minutes=60)
    got_60 = sorted((r.v_event_id, r.c_event_id, r.p_event_id, r.first_ts,
                     r.last_ts) for r in within.collect())
    assert [(a, b, c) for a, b, c, *_ in got_60] == [(1, 2, 3)]
    assert got_60[0][3] == t0 and got_60[0][4] == t0 + dt.timedelta(minutes=30)

    with pytest.raises(ValueError, match="single-occurrence"):
        match_recognize_followed_by_any(ev, [("V", "view", "1"),
                                             ("C", "click", "+")])
    with pytest.raises(ValueError, match="duplicate"):
        match_recognize_followed_by_any(ev, [("V", "view", "1"),
                                             ("v", "click", "1")])
    with pytest.raises(ValueError, match="at least two"):
        match_recognize_followed_by_any(ev, [("V", "view", "1")])


def test_cep_until_validation():
    """Plan-time rules for until(): looping quantifier only, positive
    variables only, nonempty stop set disjoint from the variable's own
    types, bounded forms need min >= 1."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_until_oracle_sql as o,
    )

    with pytest.raises(ValueError, match="LOOPING"):
        o([("A", "view", "1"), ("B", "click", "1", "error")])
    with pytest.raises(ValueError, match="LOOPING"):
        o([("A", "view", "1"), ("B", "click", "?", "error")])
    with pytest.raises(ValueError, match="overlap"):
        o([("A", "view", "1"), ("B", ("click", "error"), "+", "error")])
    with pytest.raises(ValueError, match="complement"):
        o([("A", "view", "1"), ("B", "!purchase", "+", "error")])
    with pytest.raises(ValueError, match="empty until set"):
        o([("A", "view", "1"), ("B", "click", "+", ())])
    with pytest.raises(ValueError, match="min >= 1"):
        o([("A", "view", "1"), ("B", "click", "{0,3}", "error")])
    with pytest.raises(ValueError, match="no until set"):
        o([("A", "view", "1"), ("B", "click", "+")])
    # mandatory-first rule inherited from the relaxed engine
    with pytest.raises(ValueError, match="mandatory first"):
        o([("A", "view", "?"), ("B", "click", "+", "error")])
    # a well-formed pattern emits SQL
    assert "regexp_extract_all" in o(
        [("A", "view", "1"), ("B", "click", "+", "error")])


def test_cep_consecutive_validation():
    """Plan-time rules for consecutive(): known looping variables,
    positive only, nonempty set."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_consecutive_oracle_sql as o,
    )

    pat = [("A", "view", "1"), ("B", "click", "+")]
    with pytest.raises(ValueError, match="unknown variables"):
        o(pat, ("X",))
    with pytest.raises(ValueError, match="no consecutive set"):
        o(pat, ())
    with pytest.raises(ValueError, match="LOOPING"):
        o([("A", "view", "1"), ("B", "click", "1")], ("B",))
    with pytest.raises(ValueError, match="complement"):
        o([("A", "view", "1"), ("B", "!purchase", "+")], ("B",))
    assert "regexp_extract_all" in o(pat, ("B",))


def test_cep_relaxed_groups_validation():
    """Plan-time rules for relaxed groups: group grammar (one nesting
    level, nonempty body, inner min >= 1), plus the relaxed engine's
    mandatory-first rule over the EFFECTIVE pattern."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_relaxed_groups_oracle_sql as o,
    )

    g = ("G", [("C", "click", "1"), ("P", "purchase", "1")], "+")
    with pytest.raises(ValueError, match="nested groups"):
        o([("S", "signup", "1"),
           ("G", [("H", [("C", "click", "1")], "+")], "+")])
    with pytest.raises(ValueError, match="at least one variable"):
        o([("S", "signup", "1"), ("G", [], "+")])
    with pytest.raises(ValueError, match="zero-width"):
        o([("S", "signup", "1"), ("G", [("C", "click", "?")], "+")])
    with pytest.raises(ValueError, match="mandatory first"):
        o([("G", [("C", "click", "1")], "*"), ("P", "purchase", "1")])
    assert "regexp_extract_all" in o([("S", "signup", "1"), g])


def test_cep_until_define_validation():
    """Plan-time rules for until() over value defines: exactly one
    stop-carrying variable, looping quantifier, <= 3 variables
    (alphabet budget), well-formed stop dict, subsumption rejected."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_until_define_oracle_sql as o,
    )

    a = ("A", {"types": "view"}, "1")
    with pytest.raises(ValueError, match="LOOPING"):
        o([a, ("B", {"types": "click"}, "1", {"dir": "down"})])
    with pytest.raises(ValueError, match="exactly one variable"):
        o([a, ("B", {"types": "click"}, "+", {"dir": "down"}),
           ("C", {}, "+", {"dir": "up"})])
    with pytest.raises(ValueError, match="non-empty define dict"):
        o([a, ("B", {"types": "click"}, "+", {})])
    with pytest.raises(ValueError, match="at most 3 variables"):
        o([a, ("B", {"types": "click"}, "+", {"dir": "down"}),
           ("C", {}, "1"), ("D", {}, "1")])
    with pytest.raises(ValueError, match="unknown stop-define keys"):
        o([a, ("B", {"types": "click"}, "+", {"bogus": 1})])
    # subsumption: stop define identical to the variable's own define
    with pytest.raises(ValueError, match="subsumes"):
        o([a, ("B", {"types": "click"}, "+", {"types": "click"})])
    assert "regexp_extract_all" in o(
        [a, ("B", {"types": "click"}, "+", {"dir": "down"})])


def test_cep_times_or_more_quant_forms():
    """{m,} accepted across engines; malformed forms still rejected."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        _quant_parse,
        _quant_regex,
        match_recognize_oracle_sql,
        match_recognize_relaxed_oracle_sql,
    )

    assert _quant_parse("{2,}") == (2, None, False)
    assert _quant_parse("{3,}?") == (3, None, True)
    assert _quant_regex("{2,}") == "{2,}"
    with pytest.raises(ValueError, match="quantifier"):
        _quant_regex("{,2}")
    with pytest.raises(ValueError, match="quantifier"):
        _quant_regex("{3,2}")
    pat = [("V", "view", "1"), ("C", "click", "{2,}"),
           ("P", "purchase", "1")]
    # the relaxed {m,} lowering stays FLAT: no literal {2,} group loop
    # may appear in the relaxed oracle regex (the strict engine's
    # per-token loop legitimately carries one — not asserted here)
    assert "{2,}" not in match_recognize_relaxed_oracle_sql(pat)
    # strict + relaxed oracles both build (no raise)
    match_recognize_oracle_sql(pat)
    match_recognize_relaxed_oracle_sql(pat)


def test_cep_recursive_loop_stack_guard(spark, sf_dir):
    """Patterns that compile to a recursive Java-regex loop (unbounded
    group quantifiers — the strict engine's per-token loops, relaxed
    GROUP loops, complement pieces) must fail a hot key with a clean
    per-key error instead of a JVM-killing StackOverflowError (round
    10: the strict engine died on a 20k-token contiguous run, the
    relaxed group engine between ~515 and ~1030 iterations). The guard
    must NOT fire under the bound, and flat lowerings (plain relaxed
    pieces) carry no recursive construct at any key size."""
    import pytest

    from pyspark.sql import functions as F

    from flink_realtime_edu_demo_spark.operators.cep import (
        _GUARD_TOKENS,
        _RECURSIVE_LOOP,
        _relaxed_regex,
        _char_map,
        match_recognize,
    )

    def hot(n):
        return spark.range(n).select(
            F.lit(0).cast("long").alias("user_id"),
            F.col("id").alias("event_id"),
            F.expr("timestampadd(MINUTE, CAST(id AS INT), "
                   "timestamp_ntz'2024-01-01')").alias("ts"),
            F.when(F.col("id") == 0, "view").otherwise("click")
            .alias("event_type"),
        ).localCheckpoint()

    pat = [("V", "view", "1"), ("C", "click", "+")]
    # over the bound: clean error, session survives
    with pytest.raises(Exception, match="token string exceeds"):
        match_recognize(hot(_GUARD_TOKENS + 100), pat,
                        ts="event_id").collect()
    assert spark.range(3).count() == 3
    # under the bound: the guard is a no-op (one maximal match)
    m = match_recognize(hot(400), pat, ts="event_id").collect()
    assert len(m) == 1 and m[0].last_event_id == 399
    # flat relaxed pieces carry NO recursive construct
    chars = _char_map(pat)
    assert not _RECURSIVE_LOOP.search(_relaxed_regex(pat, chars))


def test_all_rows_running_measures_invariants(spark, sf_dir):
    """RUNNING/FINAL measure semantics (round 12): RUNNING COUNT(*)
    must equal row_in_match; the match's LAST row's running_sum must
    equal final_sum (RUNNING at the final row IS FINAL — SQL:2016);
    final_* must be constant within a match; subset running counts
    must be monotone and partition the total when subsets cover all
    variables disjointly."""
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_all_rows_running,
    )
    import pytest

    pat = [("S", "signup", "?"), ("V", "view", "1"), ("C", "click", "+"),
           ("E", "error", "*"), ("P", "purchase", "1")]
    sub = {"act": ("C", "P"), "pre": ("S", "V"), "err": ("E",)}
    ev = load(spark, sf_dir, "events")
    out = match_recognize_all_rows_running(ev, pat, subsets=sub).collect()
    assert out
    by_match: dict = {}
    for r in out:
        by_match.setdefault((r.user_id, r.match_no), []).append(r)
    for rows in by_match.values():
        rows.sort(key=lambda r: r.row_in_match)
        last = rows[-1]
        assert last.running_cnt == last.final_cnt == len(rows)
        assert last.running_sum == last.final_sum
        prev_counts = (0, 0, 0)
        for i, r in enumerate(rows):
            assert r.running_cnt == r.row_in_match == i + 1
            assert r.final_cnt == len(rows)
            assert r.final_sum == last.final_sum
            assert abs(r.running_avg - r.running_sum / r.running_cnt) < 1e-12
            cur = (r.n_act_running, r.n_pre_running, r.n_err_running)
            assert all(c >= p for c, p in zip(cur, prev_counts))
            # disjoint covering subsets partition the running count
            assert sum(cur) == r.running_cnt
            prev_counts = cur

    # validation: unknown member / name collision / empty are eager
    with pytest.raises(ValueError, match="unknown variables"):
        match_recognize_all_rows_running(ev, pat, subsets={"u": ("X",)})
    with pytest.raises(ValueError, match="collides"):
        match_recognize_all_rows_running(ev, pat, subsets={"C": ("C",)})


def test_anchored_scan_hot_key_gate(spark):
    """Round 12 (VERDICT r11 #5): the flat anchored-scan CEP engines
    (iterative, relaxed-iterative, runagg) gate per-key row counts —
    a key over max_key_rows fails IN-PLAN naming the sessionized /
    within alternatives (the cosine_pairs_blocked precedent, as a
    zero-extra-action assert); under the bound and with
    max_key_rows=None the same call runs; within_minutes disables the
    gate (the bound shape is already scale-safe)."""
    import pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_followed_by_iterative,
        match_recognize_iterative,
        match_recognize_runagg,
    )

    def hot(n):
        return spark.range(n).select(
            F.lit(0).cast("long").alias("user_id"),
            F.col("id").alias("event_id"),
            F.expr("timestampadd(MINUTE, CAST(id AS INT), "
                   "timestamp_ntz'2024-01-01')").alias("ts"),
            F.when(F.col("id") % 50 == 0, "view").otherwise("click")
            .alias("event_type"),
            # descending within each 50-row block: every view anchors a
            # contiguous run under its own value, so all three engines
            # find matches
            (50 - F.col("id") % 50).cast("double").alias("value"),
        ).localCheckpoint()

    anchor = {"types": "view"}
    loop = {"cmp": "<", "factor": 1.1}
    over = hot(150)
    for call in (
        lambda df, mkr: match_recognize_iterative(
            df, anchor, loop, max_key_rows=mkr),
        lambda df, mkr: match_recognize_followed_by_iterative(
            df, anchor, loop, max_key_rows=mkr),
        lambda df, mkr: match_recognize_runagg(
            df, [("A", {"types": "view"}, "1"),
                 ("B", {"agg": "sum", "cmp": "<", "thr": 50.0}, "+")],
            max_key_rows=mkr),
    ):
        with pytest.raises(Exception, match="anchored-scan gate"):
            call(over, 100).collect()
        assert call(over, 200).count() > 0     # under the bound: no-op
        assert call(over, None).count() > 0    # opt-out accepted
    # within_minutes IS the scale-safe flat shape — no gate
    assert match_recognize_iterative(
        over, anchor, loop, within_minutes=30, max_key_rows=100
    ).count() >= 0
    assert match_recognize_followed_by_iterative(
        over, anchor, loop, within_minutes=30, max_key_rows=100
    ).count() >= 0


@pytest.mark.parametrize("theta_sf", ["/root/testdata/sf0.001",
                                       "/root/testdata/sf0.01"])
def test_theta_scaled_equals_bnlj_form(spark, theta_sf):
    """Round 14 (demotion completed round 16 — VERDICT r15 next #2):
    the rank-based deployment form of the theta join (suffix-sum over
    per-distinct-balance counts + broadcast value-join back) must
    equal the DEMOTED BroadcastNestedLoopJoin parity form ROW FOR ROW
    at BOTH fixture scales — including tied balances (same
    strictly-greater count) and the richest supplier (n_richer = 0,
    the COALESCE edge). q_join_theta_scaled is the sole DECLARED theta
    key; this differential carries the oracle to the BNLJ operator
    transitively."""
    from flink_realtime_edu_demo_spark.queries.joins import (
        q_join_theta,
        q_join_theta_scaled,
    )

    bnlj = {(r.s_suppkey, r.n_richer)
            for r in q_join_theta(spark, theta_sf).collect()}
    scaled = {(r.s_suppkey, r.n_richer)
              for r in q_join_theta_scaled(spark, theta_sf).collect()}
    assert bnlj == scaled and bnlj
    assert min(n for _, n in bnlj) == 0  # a richest supplier exists


def test_within_step_memory_gate(spark):
    """max_key_rows on the flat within_step form (ADVICE r13): a key
    larger than the bound fails in-plan naming the alternatives; the
    default (None) stays ungated; a generous bound is a no-op."""
    import pytest as _pytest

    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_within_step,
    )

    import datetime as dt

    pat = [("V", "view", "1"), ("C", "click", "1")]
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, i, t0 + dt.timedelta(minutes=i), ["view", "click"][i % 2])
         for i in range(300)],
        "user_id long, event_id long, ts timestamp_ntz, event_type string",
    )
    with _pytest.raises(Exception, match="max_key_rows"):
        match_recognize_within_step(
            ev, pat, within_minutes=60, max_key_rows=100
        ).collect()
    n_default = match_recognize_within_step(
        ev, pat, within_minutes=60).count()
    n_loose = match_recognize_within_step(
        ev, pat, within_minutes=60, max_key_rows=1000
    ).count()
    assert n_default == n_loose > 0
