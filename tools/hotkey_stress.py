"""Hot-key stress for the running-aggregate CEP family (round 7)
and the relaxed-contiguity (followedBy) engine (round 9).

The 10x/100x soaks replicate KEYS (shifted id spaces), so per-key row
counts never grow — they can't exercise the one scale hazard VERDICT r6
kept visible: q_cep_runagg's per-key O(rows²) anchored scan on an
UNBOUNDED hot key. This tool measures that hazard directly and shows
the declared mitigation working:

- ONE user produces bursts of 200 events (1/min) separated by 25-hour
  pauses — a deterministic synthetic stream, no fixture involved.
- `match_recognize_runagg` (unsessionized) collects the key's whole
  history into one array: per-anchor candidate arrays are O(N), so
  wall clock grows ~quadratically with N.
- `sessionize(events, 720)` then `match_recognize_runagg` keyed by
  `[user_id, session_id]` bounds every array by burst length (200):
  wall clock grows ~linearly.

The two forms are deliberately DIFFERENT queries on this stream: the
flat form's B+ is row-contiguous, so an under-threshold run happily
spans a 25-hour pause and merges what any analyst would call two
separate episodes (measured: 667 flat vs 700 sessionized matches at
n=20k) — which is the semantic argument, on top of the cost argument,
for deploying the sessionized form on unbounded keys.

Round 9 adds the RELAXED (followedBy) engine to the same harness:
`match_recognize_relaxed` on PATTERN (V C+ P) over one hot key. Its
hazard is regex BACKTRACKING, not candidate arrays: greedy C+ swallows
every remaining click, then gives occurrences back one at a time, each
giveback rescanning the P gap — O(n·givebacks) on a key whose
purchases are sparse late in the string. The sessionized form bounds
the string (and thus both terms) by session length — the same
deployment answer, measured here.

Usage: python tools/hotkey_stress.py   # writes HOTKEY.json

The gate: the sessionized per-row cost stays ~flat while the flat
form curves up; both forms must scale their MATCH COUNTS linearly
with N (asserted), which pins that neither silently drops work.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SESSION_KEY = ["user_id", "session_id"]

BURST = 200          # events per burst (1/minute)
PAUSE_MIN = 1500     # minutes between burst starts (> gap of 720)
GAP = 720            # sessionize gap (minutes)

PATTERN = [
    ("A", {"types": "view"}, "1"),
    ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+"),
]

# Relaxed-contiguity family: the Flink followedBy chain. Purchases are
# deliberately SPARSE (1 in 97 events) so greedy C+ runs long before
# each giveback — the adversarial shape for the backtracking scan.
FB_PATTERN = [
    ("V", "view", "1"),
    ("C", "click", "+"),
    ("P", "purchase", "1"),
]


def hot_events(spark, n: int):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            F.lit(0).cast("long").alias("user_id"),
            F.col("id").alias("event_id"),
            F.expr(
                f"timestampadd(MINUTE, CAST(id DIV {BURST} AS INT) * "
                f"{PAUSE_MIN} + CAST(id % {BURST} AS INT), "
                "timestamp_ntz'2024-01-01 00:00:00')"
            ).alias("ts"),
            F.when(F.col("id") % 5 == 0, "view").otherwise("click")
            .alias("event_type"),
            ((F.col("id") * 37 % 23) / 2.0).cast("double").alias("value"),
        )
    )


def hot_events_fb(spark, n: int):
    """Same hot-key burst stream with sparse purchases for the
    followedBy chain (purchase wins the when-chain, so view/click
    positions shift only at the 1-in-97 purchase slots)."""
    from pyspark.sql import functions as F

    base = hot_events(spark, n)
    return base.withColumn(
        "event_type",
        F.when(F.col("event_id") % 97 == 0, "purchase")
        .otherwise(F.col("event_type")),
    )


def main() -> None:
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_runagg,
        sessionize,
    )
    from flink_realtime_edu_demo_spark.session import get_spark

    spark = get_spark(app_name="hotkey_stress",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {"flat": {}, "sessionized": {}}
    # unsessionized: the documented O(rows^2) envelope — keep N modest
    for n in (5_000, 10_000, 20_000):
        ev = hot_events(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        flat = match_recognize_runagg(ev, PATTERN).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["flat"][str(n)] = {"sec": dt, "matches": len(flat)}
        print(f"  flat        n={n}: {dt:>7.2f}s  {len(flat)} matches",
              flush=True)
    # sessionized: burst-bounded arrays — push an order of magnitude more
    for n in (20_000, 100_000, 200_000):
        ev = hot_events(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        sess = match_recognize_runagg(sessionize(ev, GAP), PATTERN,
                                      key=SESSION_KEY).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["sessionized"][str(n)] = {"sec": dt, "matches": len(sess)}
        print(f"  sessionized n={n}: {dt:>7.2f}s  {len(sess)} matches",
              flush=True)
    # round 9: the relaxed (followedBy) engine on the same hot key
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_relaxed,
    )

    out["relaxed_flat"] = {}
    out["relaxed_sessionized"] = {}
    for n in (5_000, 10_000, 20_000):
        ev = hot_events_fb(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        m = match_recognize_relaxed(ev, FB_PATTERN).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["relaxed_flat"][str(n)] = {"sec": dt, "matches": len(m)}
        print(f"  relaxed     n={n}: {dt:>7.2f}s  {len(m)} matches",
              flush=True)
    for n in (20_000, 100_000, 200_000):
        ev = hot_events_fb(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        m = match_recognize_relaxed(sessionize(ev, GAP), FB_PATTERN,
                                    key=SESSION_KEY).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["relaxed_sessionized"][str(n)] = {"sec": dt, "matches": len(m)}
        print(f"  relaxed_sess n={n}: {dt:>7.2f}s  {len(m)} matches",
              flush=True)
    # round 9b: followedByAny (combination enumeration) on the same hot
    # key. Its hazard is OUTPUT volume, not scan cost: combinations are
    # the semantics. The declared mitigation is the within bound — here
    # 24 h, which can't span the 25 h pauses, so combinations stay
    # per-burst and the total count grows LINEARLY with N (bursts) even
    # though one unbounded key would be Θ(V·C·P) ≈ cubic. count() not
    # collect(): the result is the measured quantity, not driver state.
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_followed_by_any,
    )

    FBA_PATTERN = [("V", "view", "1"), ("C", "click", "1"),
                   ("P", "purchase", "1")]
    out["fba_within"] = {}
    for n in (20_000, 100_000, 200_000):
        ev = hot_events_fb(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        cnt = match_recognize_followed_by_any(
            ev, FBA_PATTERN, within_minutes=1440).count()
        dt = round(time.perf_counter() - t0, 2)
        out["fba_within"][str(n)] = {"sec": dt, "matches": cnt}
        print(f"  fba_within  n={n}: {dt:>7.2f}s  {cnt} matches",
              flush=True)
    # round 10: the two new loop modifiers on the same hot key.
    # until(): errors (1 in 41) STOP the click loop, so even the FLAT
    # form's matches are bounded by error spacing — the stop condition
    # is itself a state bound, measured here (contrast relaxed_flat's
    # single giant match). consecutive(): adjacency bounds every run
    # (views break clicks every 5 rows), the flat char-run scan stays
    # linear. Both counts must scale ~linearly with N.
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_consecutive,
        match_recognize_until,
    )

    def hot_events_fbe(n):
        ev = hot_events_fb(spark, n)
        return ev.withColumn(
            "event_type",
            F.when((F.col("event_id") % 41 == 0)
                   & (F.col("event_id") % 97 != 0), "error")
            .otherwise(F.col("event_type")),
        )

    from pyspark.sql import functions as F

    UNTIL_PATTERN = [("V", "view", "1"), ("C", "click", "+", "error"),
                     ("P", "purchase", "1")]
    CONSEC_PATTERN = [("V", "view", "1"), ("C", "click", "+"),
                      ("P", "purchase", "1")]
    out["until_flat"] = {}
    out["consecutive_flat"] = {}
    for n in (20_000, 100_000, 200_000):
        ev = hot_events_fbe(n).localCheckpoint()
        t0 = time.perf_counter()
        m = match_recognize_until(ev, UNTIL_PATTERN).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["until_flat"][str(n)] = {"sec": dt, "matches": len(m)}
        print(f"  until_flat  n={n}: {dt:>7.2f}s  {len(m)} matches",
              flush=True)
        ev2 = hot_events_fb(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        m2 = match_recognize_consecutive(ev2, CONSEC_PATTERN, ("C",)).collect()
        dt2 = round(time.perf_counter() - t0, 2)
        out["consecutive_flat"][str(n)] = {"sec": dt2, "matches": len(m2)}
        print(f"  consec_flat n={n}: {dt2:>7.2f}s  {len(m2)} matches",
              flush=True)
    # round 10b: the multi-variable-tail runagg on the runagg stream —
    # the suffix chain adds O(1) lookups per candidate, so its envelope
    # must track the single-suffix interior form, not add a new term.
    MT_PATTERN = [("A", {"types": "view"}, "1"),
                  ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+"),
                  ("C", {"types": "click"}, "1"),
                  ("D", {"types": "click"}, "+")]
    out["runagg_multi_tail_flat"] = {}
    for n in (5_000, 10_000, 20_000):
        ev = hot_events(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        m = match_recognize_runagg(ev, MT_PATTERN).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["runagg_multi_tail_flat"][str(n)] = {"sec": dt,
                                                 "matches": len(m)}
        print(f"  runagg_mt   n={n}: {dt:>7.2f}s  {len(m)} matches",
              flush=True)
    # round 11: the GENERALIZED chain (q_cep_runagg_chain shape — the
    # '?' forces the e-array tabulation path) on the runagg stream.
    # The tabulation itself is O(n · max-run) per key (runs here are
    # ≤4 clicks); the anchored candidate scan keeps the family's
    # O(rows²) envelope — the sessionized shape remains the
    # deployment answer, same as every runagg form.
    CHAIN_PATTERN = [("A", {"types": "view"}, "1"),
                     ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+"),
                     ("C", {"types": "click"}, "?"),
                     ("D", {"types": "click"}, "+")]
    out["runagg_chain_flat"] = {}
    for n in (5_000, 10_000, 20_000):
        ev = hot_events(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        m = match_recognize_runagg(ev, CHAIN_PATTERN).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["runagg_chain_flat"][str(n)] = {"sec": dt, "matches": len(m)}
        print(f"  runagg_ch   n={n}: {dt:>7.2f}s  {len(m)} matches",
              flush=True)
    # round 11b: the iterative-condition engine — per-anchor scans with
    # an anchor-dependent threshold (nothing precomputable), the
    # textbook O(rows²) flat shape; the sessionized form bounds it by
    # burst length, the same two-curve story as the base runagg.
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_iterative,
    )

    ITER_A = {"types": "view"}
    ITER_B = {"cmp": "<", "factor": 1.1}
    out["iterative_flat"] = {}
    out["iterative_sessionized"] = {}
    for n in (5_000, 10_000, 20_000):
        ev = hot_events(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        m = match_recognize_iterative(ev, ITER_A, ITER_B).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["iterative_flat"][str(n)] = {"sec": dt, "matches": len(m)}
        print(f"  iter_flat   n={n}: {dt:>7.2f}s  {len(m)} matches",
              flush=True)
    for n in (20_000, 100_000, 200_000):
        ev = hot_events(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        m = match_recognize_iterative(
            sessionize(ev, GAP), ITER_A, ITER_B, key=SESSION_KEY
        ).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["iterative_sessionized"][str(n)] = {"sec": dt,
                                                "matches": len(m)}
        print(f"  iter_sess   n={n}: {dt:>7.2f}s  {len(m)} matches",
              flush=True)
    # round 13 (VERDICT r12 #3): the per-edge within engine
    # (PREVIOUS_AND_CURRENT) — next-occurrence pointers + O(1) pointer
    # chase per anchor, the ONE flat CEP form with no per-anchor scan:
    # its curve must stay LINEAR at the sessionized families' N range
    # without any gate or sessionization. The 30-min edge bound can't
    # span the 1500-min pauses, so matches stay per-burst and the
    # count scales linearly with N (asserted below).
    from flink_realtime_edu_demo_spark.operators.cep import (
        match_recognize_within_step,
    )

    STEP_PATTERN = [("V", "view", "1"), ("C", "click", "1"),
                    ("P", "purchase", "1")]
    # round 14 (ADVICE r13): the 1M point probes the remaining
    # O(rows)-per-key MEMORY term of the flat form (the collected
    # struct array), not compute — the docstring's "measured flat to
    # 1M rows" claim and the max_key_rows default live on this row.
    out["within_step_flat"] = {}
    for n in (20_000, 100_000, 200_000, 1_000_000):
        ev = hot_events_fb(spark, n).localCheckpoint()
        t0 = time.perf_counter()
        m = match_recognize_within_step(
            ev, STEP_PATTERN, within_minutes=30).collect()
        dt = round(time.perf_counter() - t0, 2)
        out["within_step_flat"][str(n)] = {"sec": dt, "matches": len(m)}
        print(f"  within_step n={n}: {dt:>7.2f}s  {len(m)} matches",
              flush=True)

    # both runagg forms must find work proportional to N (the flat form
    # finds slightly FEWER matches — under-threshold B+ runs span
    # pauses and merge episodes, see module docstring — but the count
    # still doubles with N if nothing is silently dropped). The
    # sessionized relaxed form scales linearly too. The FLAT relaxed
    # form does NOT and must not: greedy C+ spans the key's entire
    # history (consuming-gap semantics), so one hot key yields exactly
    # ONE giant match at every N — measured here as the SEMANTIC
    # argument, on top of the cost argument, for sessionizing
    # followedBy on unbounded keys (mirrors the operator docstring).
    for fam, ns in (("flat", (5_000, 10_000)), ("sessionized", (20_000, 100_000)),
                    ("relaxed_sessionized", (20_000, 100_000)),
                    ("fba_within", (20_000, 100_000)),
                    ("until_flat", (20_000, 100_000)),
                    ("consecutive_flat", (20_000, 100_000)),
                    ("runagg_multi_tail_flat", (5_000, 10_000)),
                    ("runagg_chain_flat", (5_000, 10_000)),
                    ("iterative_sessionized", (20_000, 100_000)),
                    ("within_step_flat", (20_000, 100_000))):
        a, b = (out[fam][str(n)]["matches"] for n in ns)
        ratio = b / a
        want = ns[1] / ns[0]
        assert abs(ratio - want) / want < 0.05, (fam, a, b, ratio, want)
    for n in (5_000, 10_000, 20_000):
        assert out["relaxed_flat"][str(n)]["matches"] == 1, out["relaxed_flat"]

    # round 12 (VERDICT r11 #5): the anchored-scan hot-key GATE — a
    # flat iterative/runagg call on a key holding more rows than
    # max_key_rows (default 20k, this harness's measured 35.9s point)
    # must FAIL in-plan with the message naming the sessionized/within
    # alternatives, instead of silently starting the quadratic; the
    # same call with max_key_rows=None accepts it knowingly (not run
    # here — that is the 35.9s curve above).
    from flink_realtime_edu_demo_spark.operators.cep import (
        _ANCHOR_SCAN_ROWS,
    )

    n_over = _ANCHOR_SCAN_ROWS + BURST
    ev = hot_events(spark, n_over).localCheckpoint()
    gated = {"n": n_over, "bound": _ANCHOR_SCAN_ROWS}
    try:
        match_recognize_iterative(ev, ITER_A, ITER_B).collect()
        raise AssertionError("anchored-scan gate did not fire")
    except Exception as e:  # Spark wraps the assert in a job failure
        assert "anchored-scan gate" in str(e), str(e)[:500]
        gated["iterative_flat"] = "raised"
    try:
        match_recognize_runagg(ev, PATTERN).collect()
        raise AssertionError("anchored-scan gate did not fire")
    except Exception as e:
        assert "anchored-scan gate" in str(e), str(e)[:500]
        gated["runagg_flat"] = "raised"
    # the deployment shape on the SAME oversized key sails through
    m = match_recognize_iterative(
        sessionize(ev, GAP), ITER_A, ITER_B, key=SESSION_KEY).collect()
    gated["iterative_sessionized"] = {"matches": len(m)}
    assert len(m) > 0
    out["anchor_scan_gate"] = gated
    print(f"  gate: flat forms raised at n={n_over}, sessionized passed "
          f"({len(m)} matches)", flush=True)

    with open(os.path.join(REPO, "HOTKEY.json"), "w") as f:
        json.dump({"burst": BURST, "pause_min": PAUSE_MIN, "gap": GAP,
                   "pattern": "A(view) B+(sum<150)",
                   "fb_pattern": "V C+ P (relaxed, purchases 1/97)",
                   "results": out}, f,
                  indent=1)
    print("wrote HOTKEY.json")
    spark.stop()


if __name__ == "__main__":
    main()
