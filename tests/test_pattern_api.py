"""Fluent Pattern-API builder twins (round 16 — VERDICT r15 next #1).

Every case builds the SAME pattern twice — once through the fluent
builder (operators/pattern_api.py), once as the hand-written engine
call a declared key uses — and asserts:

  1. the builder dispatched to the expected engine (by name),
  2. the two DataFrames are PLAN-identical (``sameSemantics``),
  3. the collected results hash identically at sf0.001,
  4. the builder's oracle_sql() is byte-identical to the declared
     oracle builder's output.

Plus loud plan-time-error cases: every unsupported composition must
raise a ValueError that NAMES the owning engine.
"""
from __future__ import annotations

import hashlib

import pytest

from flink_realtime_edu_demo_spark.operators import cep
from flink_realtime_edu_demo_spark.operators.pattern_api import Pattern
from flink_realtime_edu_demo_spark.tables import load
from flink_realtime_edu_demo_spark.testing.compare import (
    compare,
    duckdb_connect,
)

# The declared-key pattern constants the twins replicate.
from flink_realtime_edu_demo_spark.queries.streaming_batch import (
    CEP_ALT_PATTERN,
    CEP_COMBINATIONS_PATTERN,
    CEP_CONSEC_PATTERN,
    CEP_CONSEC_RUN_PATTERN,
    CEP_FBA_PATTERN,
    CEP_FB_DEFINE_PATTERN,
    CEP_FB_PATTERN,
    CEP_FB_SKIP_PATTERN,
    CEP_GREEDY,
    CEP_GREEDY_DEFAULT,
    CEP_MIXED_LINKS,
    CEP_MIXED_PATTERN,
    CEP_NEG_PATTERN,
    CEP_NFB_INTERIOR_EDGES,
    CEP_NFB_INTERIOR_PATTERN,
    CEP_NOTNEXT_INTERIOR_PATTERN,
    CEP_NOTNEXT_PATTERN,
    CEP_PATTERN,
    CEP_TOM_PATTERN,
    CEP_UNTIL_DEFINE_PATTERN,
    CEP_UNTIL_PATTERN,
)


def _hash(df) -> str:
    cols = sorted(df.columns)
    rows = sorted(tuple(repr(v) for v in r)
                  for r in df.select(*cols).collect())
    return hashlib.sha256(str(rows).encode()).hexdigest()


# ---------------------------------------------------------------------
# Twin builders: (id, fluent pattern, expected engine name,
#                 hand-written df fn, hand-written oracle sql | None)
# ---------------------------------------------------------------------

# sessionized(720) twins: sessionize, then the engine per (user, session)
S_KEY = ["user_id", "session_id"]
S_EVENTS = cep.sessionize_oracle_sql("events", 720)


def _sess(ev):
    return cep.sessionize(ev, 720)


TWINS = [
    (
        "strict_pattern",
        lambda: Pattern.begin("S").where(types="signup").optional()
                .next("V").where(types="view")
                .next("C").where(types="click").one_or_more().consecutive()
                .next("E").where(types="error").one_or_more().optional()
                .consecutive()
                .next("P").where(types="purchase"),
        "match_recognize",
        lambda ev: cep.match_recognize(ev, CEP_PATTERN),
        lambda: cep.match_recognize_oracle_sql(CEP_PATTERN),
    ),
    (
        "strict_alternation",
        lambda: Pattern.begin("V").where(types="view")
                .next("CE").where(types=("click", "error"))
                .one_or_more().consecutive()
                .next("P").where(types="purchase"),
        "match_recognize",
        lambda ev: cep.match_recognize(ev, CEP_ALT_PATTERN),
        lambda: cep.match_recognize_oracle_sql(CEP_ALT_PATTERN),
    ),
    (
        "strict_within",
        lambda: Pattern.begin("V").where(types="view")
                .next("CE").where(types=("click", "error"))
                .one_or_more().consecutive()
                .next("P").where(types="purchase")
                .within(hours=12),
        "match_recognize_within",
        lambda ev: cep.match_recognize_within(ev, CEP_ALT_PATTERN,
                                              within_minutes=720),
        lambda: cep.match_recognize_within_oracle_sql(
            CEP_ALT_PATTERN, within_minutes=720),
    ),
    (
        "strict_negation",
        lambda: Pattern.begin("V").where(types="view")
                .next("C").where(types="click").one_or_more().consecutive()
                .next("X").where_not("purchase", "signup"),
        "match_recognize",
        lambda ev: cep.match_recognize(ev, CEP_NEG_PATTERN),
        lambda: cep.match_recognize_oracle_sql(CEP_NEG_PATTERN),
    ),
    (
        "strict_sessionized",
        lambda: Pattern.begin("V").where(types="view")
                .next("CE").where(types=("click", "error"))
                .one_or_more().optional().consecutive()
                .next("P").where(types="purchase")
                .sessionized(gap_minutes=720),
        "match_recognize",
        lambda ev: cep.match_recognize(
            _sess(ev), [("V", "view", "1"), ("CE", ("click", "error"), "*"),
                        ("P", "purchase", "1")], key=S_KEY),
        lambda: cep.match_recognize_oracle_sql(
            [("V", "view", "1"), ("CE", ("click", "error"), "*"),
             ("P", "purchase", "1")], table=S_EVENTS, key=S_KEY),
    ),
    (
        "followed_by",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("C").where(types="click").one_or_more()
                .followed_by("P").where(types="purchase"),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(ev, CEP_FB_PATTERN),
        lambda: cep.match_recognize_relaxed_oracle_sql(CEP_FB_PATTERN),
    ),
    (
        "mixed_links",
        lambda: Pattern.begin("V").where(types="view")
                .next("C").where(types="click").one_or_more()
                .followed_by("P").where(types="purchase"),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(ev, CEP_MIXED_PATTERN,
                                               links=CEP_MIXED_LINKS),
        lambda: cep.match_recognize_relaxed_oracle_sql(
            CEP_MIXED_PATTERN, links=CEP_MIXED_LINKS),
    ),
    (
        "mixed_links_within",
        lambda: Pattern.begin("V").where(types="view")
                .next("C").where(types="click").one_or_more()
                .followed_by("P").where(types="purchase")
                .within(hours=12),
        "match_recognize_relaxed_within",
        lambda ev: cep.match_recognize_relaxed_within(
            ev, CEP_MIXED_PATTERN, within_minutes=720,
            links=CEP_MIXED_LINKS),
        lambda: cep.match_recognize_relaxed_within_oracle_sql(
            CEP_MIXED_PATTERN, within_minutes=720,
            links=CEP_MIXED_LINKS),
    ),
    (
        "followed_by_within",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("C").where(types="click").one_or_more()
                .followed_by("P").where(types="purchase")
                .within(hours=6),
        "match_recognize_relaxed_within",
        lambda ev: cep.match_recognize_relaxed_within(
            ev, CEP_FB_PATTERN, within_minutes=360),
        lambda: cep.match_recognize_relaxed_within_oracle_sql(
            CEP_FB_PATTERN, within_minutes=360),
    ),
    (
        "followed_by_sessionized",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("C").where(types="click").one_or_more()
                .followed_by("P").where(types="purchase")
                .sessionized(gap_minutes=720),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(
            _sess(ev), CEP_FB_PATTERN, key=S_KEY),
        lambda: cep.match_recognize_relaxed_oracle_sql(
            CEP_FB_PATTERN, table=S_EVENTS, key=S_KEY),
    ),
    (
        "skip_to_last",
        lambda: Pattern.begin("A", skip="to_last:B").where(types="view")
                .followed_by("B").where(types=("click", "error"))
                .times(2, 4)
                .followed_by("C").where(types="purchase"),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(ev, CEP_FB_SKIP_PATTERN,
                                               skip="to_last:B"),
        lambda: cep.match_recognize_relaxed_oracle_sql(
            CEP_FB_SKIP_PATTERN, skip="to_last:B"),
    ),
    (
        "skip_to_first",
        lambda: Pattern.begin("V", skip="to_first:C").where(types="view")
                .followed_by("C").where(types="click").one_or_more()
                .followed_by("P").where(types="purchase"),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(ev, CEP_FB_PATTERN,
                                               skip="to_first:C"),
        lambda: cep.match_recognize_relaxed_oracle_sql(
            CEP_FB_PATTERN, skip="to_first:C"),
    ),
    (
        "times_or_more",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("C").where(types="click").times_or_more(2)
                .followed_by("P").where(types="purchase"),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(ev, CEP_TOM_PATTERN),
        lambda: cep.match_recognize_relaxed_oracle_sql(CEP_TOM_PATTERN),
    ),
    (
        "greedy",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("L").where(types=("click", "error"))
                .one_or_more().greedy()
                .followed_by("E").where(types="error"),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(ev, CEP_GREEDY),
        lambda: cep.match_recognize_relaxed_oracle_sql(CEP_GREEDY),
    ),
    (
        "greedy_default",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("L").where(types=("click", "error"))
                .one_or_more()
                .followed_by("E").where(types="error"),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(ev, CEP_GREEDY_DEFAULT),
        lambda: cep.match_recognize_relaxed_oracle_sql(
            CEP_GREEDY_DEFAULT),
    ),
    (
        "consecutive_run",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("C").where(types="click").one_or_more()
                .consecutive()
                .followed_by("P").where(types="purchase"),
        "match_recognize_consecutive",
        lambda ev: cep.match_recognize_consecutive(
            ev, CEP_CONSEC_RUN_PATTERN, ("C",)),
        lambda: cep.match_recognize_consecutive_oracle_sql(
            CEP_CONSEC_RUN_PATTERN, ("C",)),
    ),
    (
        "times_consecutive",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("C").where(types="click").times(2, 3)
                .consecutive()
                .followed_by("P").where(types="purchase"),
        "match_recognize_consecutive",
        lambda ev: cep.match_recognize_consecutive(
            ev, CEP_CONSEC_PATTERN, ("C",)),
        lambda: cep.match_recognize_consecutive_oracle_sql(
            CEP_CONSEC_PATTERN, ("C",)),
    ),
    (
        "until_types",
        lambda: Pattern.begin("S").where(types="signup")
                .followed_by("C").where(types="click").one_or_more()
                .until(types="error")
                .followed_by("P").where(types="purchase"),
        "match_recognize_until",
        lambda ev: cep.match_recognize_until(ev, CEP_UNTIL_PATTERN),
        lambda: cep.match_recognize_until_oracle_sql(CEP_UNTIL_PATTERN),
    ),
    (
        "until_define",
        lambda: Pattern.begin("A").where(types="view")
                .followed_by("B").where(types="click").one_or_more()
                .until(cond={"dir": "down"})
                .followed_by("P").where(types="purchase"),
        "match_recognize_until_define",
        lambda ev: cep.match_recognize_until_define(
            ev, CEP_UNTIL_DEFINE_PATTERN),
        lambda: cep.match_recognize_until_define_oracle_sql(
            CEP_UNTIL_DEFINE_PATTERN),
    ),
    (
        "followed_by_any",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by_any("C").where(types="click")
                .followed_by_any("P").where(types="purchase")
                .within(days=1),
        "match_recognize_followed_by_any",
        lambda ev: cep.match_recognize_followed_by_any(
            ev, CEP_FBA_PATTERN, within_minutes=1440),
        lambda: cep.match_recognize_followed_by_any_oracle_sql(
            CEP_FBA_PATTERN, within_minutes=1440),
    ),
    (
        "times_combinations",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("L").where(types=("click", "signup"))
                .times(1, 2).allow_combinations()
                .followed_by("P").where(types="purchase")
                .within(days=1),
        "match_recognize_times_combinations",
        lambda ev: cep.match_recognize_times_combinations(
            ev, CEP_COMBINATIONS_PATTERN, within_minutes=1440),
        lambda: cep.match_recognize_times_combinations_oracle_sql(
            CEP_COMBINATIONS_PATTERN, within_minutes=1440),
    ),
    (
        "combinations_chain",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("L").where(types=("click", "error"))
                .times(1, 2).allow_combinations()
                .followed_by("C").where(types="signup")
                .followed_by("P").where(types="purchase")
                .within(days=1),
        "match_recognize_times_combinations",
        lambda ev: cep.match_recognize_times_combinations(
            ev, [("V", "view", "1"), ("L", ("click", "error"), "{1,2}"),
                 ("C", "signup", "1"), ("P", "purchase", "1")],
            within_minutes=1440),
        lambda: cep.match_recognize_times_combinations_oracle_sql(
            [("V", "view", "1"), ("L", ("click", "error"), "{1,2}"),
             ("C", "signup", "1"), ("P", "purchase", "1")],
            within_minutes=1440),
    ),
    (
        "not_followed_by_end",
        lambda: Pattern.begin("V").where(types="view")
                .not_followed_by("F").where(types="purchase")
                .within(hours=1),
        "match_recognize_not_followed_by_end",
        lambda ev: cep.match_recognize_not_followed_by_end(
            ev, [("V", "view", "1")], "purchase", within_minutes=60),
        lambda: cep.match_recognize_not_followed_by_end_oracle_sql(
            [("V", "view", "1")], "purchase", within_minutes=60),
    ),
    (
        "not_followed_by_interior",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("C").where(types="click").one_or_more()
                .not_followed_by("X").where(types="error")
                .followed_by("P").where(types="purchase")
                .within(days=1),
        "match_recognize_not_followed_by_interior",
        lambda ev: cep.match_recognize_not_followed_by_interior(
            ev, CEP_NFB_INTERIOR_PATTERN, CEP_NFB_INTERIOR_EDGES,
            within_minutes=1440),
        lambda: cep.match_recognize_not_followed_by_interior_oracle_sql(
            CEP_NFB_INTERIOR_PATTERN, CEP_NFB_INTERIOR_EDGES,
            within_minutes=1440),
    ),
    (
        "not_next_end",
        lambda: Pattern.begin("C").where(types="click")
                .next("P").where(types="purchase")
                .not_next("X").where(types="error"),
        "match_recognize_not_next_end",
        lambda ev: cep.match_recognize_not_next_end(
            ev, CEP_NOTNEXT_PATTERN, "error"),
        lambda: cep.match_recognize_not_next_end_oracle_sql(
            CEP_NOTNEXT_PATTERN, "error"),
    ),
    (
        "not_next_quantified_tail",
        lambda: Pattern.begin("V").where(types="view")
                .next("B").where(types="click").one_or_more()
                .consecutive()
                .not_next("X").where(types="error"),
        "match_recognize_not_next_end",
        lambda ev: cep.match_recognize_not_next_end(
            ev, [("V", "view", "1"), ("B", "click", "+")], "error"),
        lambda: cep.match_recognize_not_next_end_oracle_sql(
            [("V", "view", "1"), ("B", "click", "+")], "error"),
    ),
    (
        "not_next_interior",
        lambda: Pattern.begin("V").where(types="view")
                .not_next("X").where(types="error")
                .next("B").where(types=("click", "error"))
                .next("P").where(types="purchase"),
        "match_recognize_not_next",
        lambda ev: cep.match_recognize_not_next(
            ev, CEP_NOTNEXT_INTERIOR_PATTERN, {"V": ("error",)}),
        lambda: cep.match_recognize_not_next_oracle_sql(
            CEP_NOTNEXT_INTERIOR_PATTERN, {"V": ("error",)}),
    ),
    (
        "relaxed_define",
        lambda: Pattern.begin("S").where(types="view")
                .followed_by("D").where(cond={"dir": "down"})
                .one_or_more()
                .followed_by("P").where(types="purchase"),
        "match_recognize_relaxed_define",
        lambda ev: cep.match_recognize_relaxed_define(
            ev, CEP_FB_DEFINE_PATTERN),
        lambda: cep.match_recognize_relaxed_define_oracle_sql(
            CEP_FB_DEFINE_PATTERN),
    ),
    (
        "runagg_final",
        lambda: Pattern.begin("A").where(types="view")
                .next("B").where(cond={"agg": "sum", "cmp": "<",
                                       "thr": 150.0}).one_or_more(),
        "match_recognize_runagg",
        lambda ev: cep.match_recognize_runagg(
            ev, [("A", {"types": "view"}, "1"),
                 ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+")]),
        lambda: cep.match_recognize_runagg_oracle_sql(
            [("A", {"types": "view"}, "1"),
             ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+")]),
    ),
    (
        "runagg_interior",
        lambda: Pattern.begin("A").where(types="view")
                .next("B").where(cond={"agg": "sum", "cmp": "<",
                                       "thr": 150.0}).one_or_more()
                .next("C").where(types="purchase"),
        "match_recognize_runagg",
        lambda ev: cep.match_recognize_runagg(
            ev, [("A", {"types": "view"}, "1"),
                 ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+"),
                 ("C", {"types": "purchase"}, "1")]),
        lambda: cep.match_recognize_runagg_oracle_sql(
            [("A", {"types": "view"}, "1"),
             ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+"),
             ("C", {"types": "purchase"}, "1")]),
    ),
    (
        "group_quantifier_strict",
        lambda: Pattern.begin("V").where(types="view")
                .next_group("G", [("CE", ("click", "error")),
                                  ("P", "purchase")])
                .one_or_more().consecutive(),
        "match_recognize_groups",
        lambda ev: cep.match_recognize_groups(
            ev, [("V", "view", "1"),
                 ("G", [("CE", ("click", "error"), "1"),
                        ("P", "purchase", "1")], "+")]),
        lambda: cep.match_recognize_groups_oracle_sql(
            [("V", "view", "1"),
             ("G", [("CE", ("click", "error"), "1"),
                    ("P", "purchase", "1")], "+")]),
    ),
    (
        "followed_by_group",
        lambda: Pattern.begin("S").where(types="signup")
                .followed_by_group("G", [("C", "click"),
                                         ("P", "purchase")])
                .one_or_more(),
        "match_recognize_relaxed_groups",
        lambda ev: cep.match_recognize_relaxed_groups(
            ev, [("S", "signup", "1"),
                 ("G", [("C", "click", "1"),
                        ("P", "purchase", "1")], "+")]),
        lambda: cep.match_recognize_relaxed_groups_oracle_sql(
            [("S", "signup", "1"),
             ("G", [("C", "click", "1"),
                    ("P", "purchase", "1")], "+")]),
    ),
    (
        "followed_by_group_nested_pattern",
        lambda: Pattern.begin("S").where(types="signup")
                .followed_by_group(
                    "G",
                    Pattern.begin("C").where(types="click")
                    .followed_by("P").where(types="purchase"))
                .one_or_more(),
        "match_recognize_relaxed_groups",
        lambda ev: cep.match_recognize_relaxed_groups(
            ev, [("S", "signup", "1"),
                 ("G", [("C", "click", "1"),
                        ("P", "purchase", "1")], "+")]),
        lambda: cep.match_recognize_relaxed_groups_oracle_sql(
            [("S", "signup", "1"),
             ("G", [("C", "click", "1"),
                    ("P", "purchase", "1")], "+")]),
    ),
    (
        "followed_by_group_bounded",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by_group("G", [("C", "click"),
                                         ("E", "error", "?")])
                .times(2, 3)
                .followed_by("P").where(types="purchase"),
        "match_recognize_relaxed_groups",
        lambda ev: cep.match_recognize_relaxed_groups(
            ev, [("V", "view", "1"),
                 ("G", [("C", "click", "1"), ("E", "error", "?")],
                  "{2,3}"),
                 ("P", "purchase", "1")]),
        lambda: cep.match_recognize_relaxed_groups_oracle_sql(
            [("V", "view", "1"),
             ("G", [("C", "click", "1"), ("E", "error", "?")],
              "{2,3}"),
             ("P", "purchase", "1")]),
    ),
    (
        "followed_by_group_sessionized",
        lambda: Pattern.begin("S").where(types="signup")
                .followed_by_group("G", [("C", "click"),
                                         ("P", "purchase")])
                .one_or_more()
                .sessionized(gap_minutes=720),
        "match_recognize_relaxed_groups",
        lambda ev: cep.match_recognize_relaxed_groups(
            _sess(ev), [("S", "signup", "1"),
                        ("G", [("C", "click", "1"),
                               ("P", "purchase", "1")], "+")],
            key=S_KEY),
        lambda: cep.match_recognize_relaxed_groups_oracle_sql(
            [("S", "signup", "1"),
             ("G", [("C", "click", "1"),
                    ("P", "purchase", "1")], "+")],
            table=S_EVENTS, key=S_KEY),
    ),
    (
        "strict_within_sessionized",
        lambda: Pattern.begin("V").where(types="view")
                .next("CE").where(types=("click", "error"))
                .one_or_more().consecutive()
                .next("P").where(types="purchase")
                .within(hours=12).sessionized(gap_minutes=720),
        "match_recognize_within",
        lambda ev: cep.match_recognize_within(
            _sess(ev), CEP_ALT_PATTERN, within_minutes=720, key=S_KEY),
        lambda: cep.match_recognize_within_oracle_sql(
            CEP_ALT_PATTERN, within_minutes=720, table=S_EVENTS,
            key=S_KEY),
    ),
    (
        "within_plus_sessionized",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("P").where(types="purchase")
                .within(hours=1).sessionized(gap_minutes=720),
        "match_recognize_relaxed_within",
        lambda ev: cep.match_recognize_relaxed_within(
            _sess(ev), [("V", "view", "1"), ("P", "purchase", "1")],
            within_minutes=60, key=S_KEY),
        lambda: cep.match_recognize_relaxed_within_oracle_sql(
            [("V", "view", "1"), ("P", "purchase", "1")],
            within_minutes=60, table=S_EVENTS, key=S_KEY),
    ),
    (
        "define_within_sessionized",
        lambda: Pattern.begin("A").where(types="view")
                .next("D").where(cond={"dir": "down"}).one_or_more()
                .within(hours=12).sessionized(gap_minutes=720),
        "match_recognize_define_within",
        lambda ev: cep.match_recognize_define_within(
            _sess(ev), [("A", {"types": "view"}, "1"),
                        ("D", {"dir": "down"}, "+")],
            within_minutes=720, key=S_KEY),
        lambda: cep.match_recognize_define_within_oracle_sql(
            [("A", {"types": "view"}, "1"), ("D", {"dir": "down"}, "+")],
            within_minutes=720, table=S_EVENTS, key=S_KEY),
    ),
    (
        "define_skip_sessionized",
        lambda: Pattern.begin("A", skip="to_next_row").where(types="view")
                .next("D").where(cond={"dir": "down"}).one_or_more()
                .sessionized(gap_minutes=720),
        "match_recognize_define",
        lambda ev: cep.match_recognize_define(
            _sess(ev), [("A", {"types": "view"}, "1"),
                        ("D", {"dir": "down"}, "+")],
            skip="to_next_row", key=S_KEY),
        lambda: cep.match_recognize_define_oracle_sql(
            [("A", {"types": "view"}, "1"), ("D", {"dir": "down"}, "+")],
            skip="to_next_row", table=S_EVENTS, key=S_KEY),
    ),
    (
        "strict_skip_sessionized",
        lambda: Pattern.begin("C", skip="to_next_row").where(types="click")
                .next("P").where(types="purchase")
                .sessionized(gap_minutes=720),
        "match_recognize_define",
        lambda ev: cep.match_recognize_define(
            _sess(ev), [("C", {"types": "click"}, "1"),
                        ("P", {"types": "purchase"}, "1")],
            skip="to_next_row", key=S_KEY),
        lambda: cep.match_recognize_define_oracle_sql(
            [("C", {"types": "click"}, "1"),
             ("P", {"types": "purchase"}, "1")],
            skip="to_next_row", table=S_EVENTS, key=S_KEY),
    ),
    (
        "runagg_skip_sessionized",
        lambda: Pattern.begin("A", skip="to_next_row").where(types="view")
                .next("B").where(cond={"agg": "sum", "cmp": "<",
                                       "thr": 150.0}).one_or_more()
                .sessionized(gap_minutes=720),
        "match_recognize_runagg",
        lambda ev: cep.match_recognize_runagg(
            _sess(ev), [("A", {"types": "view"}, "1"),
                        ("B", {"agg": "sum", "cmp": "<", "thr": 150.0},
                         "+")],
            skip="to_next_row", key=S_KEY),
        lambda: cep.match_recognize_runagg_oracle_sql(
            [("A", {"types": "view"}, "1"),
             ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+")],
            skip="to_next_row", table=S_EVENTS, key=S_KEY),
    ),
    (
        "until_define_sessionized",
        lambda: Pattern.begin("A").where(types="view")
                .followed_by("B").where(types="click").one_or_more()
                .until(cond={"dir": "down"})
                .followed_by("P").where(types="purchase")
                .sessionized(gap_minutes=720),
        "match_recognize_until_define",
        lambda ev: cep.match_recognize_until_define(
            _sess(ev), CEP_UNTIL_DEFINE_PATTERN, key=S_KEY),
        lambda: cep.match_recognize_until_define_oracle_sql(
            CEP_UNTIL_DEFINE_PATTERN, table=S_EVENTS, key=S_KEY),
    ),
    (
        "group_strict_sessionized",
        lambda: Pattern.begin("V").where(types="view")
                .next_group("G", [("CE", ("click", "error")),
                                  ("P", "purchase")])
                .one_or_more().consecutive()
                .sessionized(gap_minutes=720),
        "match_recognize_groups",
        lambda ev: cep.match_recognize_groups(
            _sess(ev), [("V", "view", "1"),
                        ("G", [("CE", ("click", "error"), "1"),
                               ("P", "purchase", "1")], "+")],
            key=S_KEY),
        lambda: cep.match_recognize_groups_oracle_sql(
            [("V", "view", "1"),
             ("G", [("CE", ("click", "error"), "1"),
                    ("P", "purchase", "1")], "+")],
            table=S_EVENTS, key=S_KEY),
    ),
    (
        "camel_case_aliases",
        lambda: Pattern.begin("V").where(types="view")
                .followedBy("C").where(types="click").oneOrMore()
                .followedBy("P").where(types="purchase"),
        "match_recognize_relaxed",
        lambda ev: cep.match_recognize_relaxed(ev, CEP_FB_PATTERN),
        lambda: cep.match_recognize_relaxed_oracle_sql(CEP_FB_PATTERN),
    ),
]


@pytest.mark.parametrize(
    "name,build,engine,expected_df,expected_oracle",
    TWINS, ids=[t[0] for t in TWINS])
def test_builder_twin(spark, sf_dir, name, build, engine,
                      expected_df, expected_oracle):
    compiled = build().compile()
    assert compiled.engine == engine
    ev = load(spark, sf_dir, "events")
    got = compiled.apply(ev)
    want = expected_df(ev)
    assert got.sameSemantics(want), (
        f"{name}: builder plan differs from the hand-written "
        f"{engine} call")
    assert _hash(got) == _hash(want)
    assert compiled.oracle_sql() == expected_oracle()
    if compiled.gap_minutes is not None:
        # a sessionized oracle is new SQL (no declared key runs it):
        # replay it against the engine's rows
        compare(got, duckdb_connect(sf_dir), compiled.oracle_sql(), name)


def test_strict_skip_routes_to_define_engine(spark, sf_dir):
    """Strict next-chain + AFTER MATCH SKIP: the builder routes to the
    DEFINE engine (the strict family member exposing skip) with
    types-only conditions."""
    p = (Pattern.begin("C", skip="to_next_row").where(types="click")
         .next("P").where(types="purchase"))
    compiled = p.compile()
    assert compiled.engine == "match_recognize_define"
    ev = load(spark, sf_dir, "events")
    want = cep.match_recognize_define(
        ev, [("C", {"types": "click"}, "1"),
             ("P", {"types": "purchase"}, "1")], skip="to_next_row")
    assert compiled.apply(ev).sameSemantics(want)
    assert compiled.oracle_sql() == cep.match_recognize_define_oracle_sql(
        [("C", {"types": "click"}, "1"),
         ("P", {"types": "purchase"}, "1")], skip="to_next_row")


# ---------------------------------------------------------------------
# Loud plan-time errors: every rejection names the owning engine.
# ---------------------------------------------------------------------

ERRORS = [
    (
        "nfb_needs_within",
        lambda: Pattern.begin("V").where(types="view")
                .not_followed_by("F").where(types="purchase"),
        "within",
    ),
    (
        "combinations_need_within",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("L").where(types="click").times(1, 2)
                .allow_combinations()
                .followed_by("P").where(types="purchase"),
        "within",
    ),
    (
        "greedy_last_variable",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("L").where(types="click").one_or_more()
                .greedy(),
        "final element",
    ),
    (
        "until_plus_within",
        lambda: Pattern.begin("S").where(types="signup")
                .followed_by("C").where(types="click").one_or_more()
                .until(types="error")
                .followed_by("P").where(types="purchase")
                .within(hours=1),
        "match_recognize_until",
    ),
    (
        "consecutive_mixed_edges",
        lambda: Pattern.begin("V").where(types="view")
                .next("C").where(types="click").one_or_more()
                .consecutive()
                .followed_by("P").where(types="purchase"),
        "match_recognize_consecutive",
    ),
    (
        "define_mixed_edges",
        lambda: Pattern.begin("V").where(types="view")
                .next("D").where(cond={"dir": "down"}).one_or_more()
                .followed_by("P").where(types="purchase"),
        "match_recognize_relaxed_define",
    ),
    (
        "fba_mixed_edges",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by_any("C").where(types="click")
                .followed_by("P").where(types="purchase")
                .within(days=1),
        "match_recognize_followed_by_any",
    ),
    (
        "relaxed_within_plus_skip",
        lambda: Pattern.begin("V", skip="to_next_row")
                .where(types="view")
                .followed_by("C").where(types="click").one_or_more()
                .followed_by("P").where(types="purchase")
                .within(hours=6),
        "match_recognize_relaxed_within",
    ),
    (
        "absence_with_cond",
        lambda: Pattern.begin("V").where(types="view")
                .not_followed_by("F").where(cond={"dir": "down"})
                .within(hours=1),
        "TYPE classes",
    ),
    (
        "nn_relaxed_edges",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by("P").where(types="purchase")
                .not_next("X").where(types="error"),
        "match_recognize_not_next_end",
    ),
    (
        "group_plus_within",
        lambda: Pattern.begin("V").where(types="view")
                .followed_by_group("G", [("C", "click")])
                .one_or_more().within(hours=1),
        "match_recognize_groups",
    ),
    (
        "strict_group_loop_needs_consecutive",
        lambda: Pattern.begin("V").where(types="view")
                .next_group("G", [("C", "click"), ("P", "purchase")])
                .one_or_more(),
        "consecutive",
    ),
    (
        "group_inner_edge_family_mismatch",
        lambda: Pattern.begin("S").where(types="signup")
                .followed_by_group(
                    "G",
                    Pattern.begin("C").where(types="click")
                    .next("P").where(types="purchase"))
                .one_or_more(),
        "linking family",
    ),
    (
        "runagg_relaxed_edges",
        lambda: Pattern.begin("A").where(types="view")
                .followed_by("B").where(cond={"agg": "sum", "cmp": "<",
                                              "thr": 150.0})
                .one_or_more(),
        "match_recognize_followed_by_iterative",
    ),
    (
        "nn_quantified_tail_needs_consecutive",
        lambda: Pattern.begin("V").where(types="view")
                .next("B").where(types="click").one_or_more()
                .not_next("X").where(types="error"),
        "consecutive",
    ),
    (
        "greedy_strict_engine",
        lambda: Pattern.begin("V").where(types="view")
                .next("C").where(types="click").one_or_more()
                .consecutive().greedy()
                .next("P").where(types="purchase"),
        "strict engine",
    ),
]


@pytest.mark.parametrize("name,build,needle", ERRORS,
                         ids=[e[0] for e in ERRORS])
def test_plan_time_rejections(name, build, needle):
    with pytest.raises(ValueError) as exc:
        build().compile()
    assert needle in str(exc.value), (
        f"{name}: error should mention {needle!r}, got: {exc.value}")


def test_misc_builder_errors():
    with pytest.raises(ValueError, match="duplicate"):
        Pattern.begin("A").where(types="view").followed_by("A")
    with pytest.raises(ValueError, match="quantifiers"):
        (Pattern.begin("V").where(types="view")
         .not_followed_by("F").where(types="error").one_or_more())
    with pytest.raises(ValueError, match="flat quantifier"):
        (Pattern.begin("V").where(types="view")
         .followed_by("C").where(types="click").times(2, 3).optional())
    with pytest.raises(ValueError, match="where_not"):
        (Pattern.begin("V").where(types="view").where_not("click"))
    with pytest.raises(ValueError, match="no quantifier choice"):
        (Pattern.begin("V").where(types="view")
         .followed_by("C").where(types="click").greedy()
         .followed_by("P").where(types="purchase").compile())
    with pytest.raises(ValueError, match="condition"):
        (Pattern.begin("V")
         .followed_by("P").where(types="purchase").compile())


def test_or_where_extends_class():
    p = (Pattern.begin("V").where(types="view")
         .followed_by("CE").where(types="click").or_where("error")
         .one_or_more()
         .followed_by("P").where(types="purchase"))
    compiled = p.compile()
    # (click|error) loop overlaps nothing downstream (purchase), so the
    # default-preference desugar leaves the greedy spelling.
    assert compiled._df_args[0][1] == ("CE", ("click", "error"), "+")


def test_session_sink_mapping_matches_direct_construction(tmp_path):
    """Pattern.session_sink maps every sessionized dispatch to the
    SessionCepSink matcher a hand-written deployment would pick, with
    the identical pattern payload."""
    from flink_realtime_edu_demo_spark.streaming.cep import SessionCepSink

    cases = [
        (Pattern.begin("V").where(types="view")
         .next("CE").where(types=("click", "error"))
         .one_or_more().optional().consecutive()
         .next("P").where(types="purchase"),
         "types",
         [("V", "view", "1"), ("CE", ("click", "error"), "*"),
          ("P", "purchase", "1")]),
        (Pattern.begin("V").where(types="view")
         .followed_by("C").where(types="click").one_or_more()
         .followed_by("P").where(types="purchase"),
         "relaxed", CEP_FB_PATTERN),
        (Pattern.begin("S").where(types="signup")
         .followed_by("C").where(types="click").one_or_more()
         .until(types="error")
         .followed_by("P").where(types="purchase"),
         "until", CEP_UNTIL_PATTERN),
        (Pattern.begin("V").where(types="view")
         .followed_by("C").where(types="click").one_or_more()
         .consecutive()
         .followed_by("P").where(types="purchase"),
         "consecutive", CEP_CONSEC_RUN_PATTERN),
        (Pattern.begin("S").where(types="signup")
         .followed_by_group("G", [("C", "click"), ("P", "purchase")])
         .one_or_more(),
         "relaxed_groups",
         [("S", "signup", "1"),
          ("G", [("C", "click", "1"), ("P", "purchase", "1")], "+")]),
        (Pattern.begin("A").where(types="view")
         .next("B").where(cond={"agg": "sum", "cmp": "<",
                                "thr": 150.0}).one_or_more(),
         "runagg",
         [("A", {"types": "view"}, "1"),
          ("B", {"agg": "sum", "cmp": "<", "thr": 150.0}, "+")]),
    ]
    for i, (p, matcher, pat) in enumerate(cases):
        sink = p.session_sink(gap_minutes=720,
                              store_dir=str(tmp_path / f"s{i}"))
        want = SessionCepSink(
            pat, gap_minutes=720, matcher=matcher,
            store_dir=str(tmp_path / f"w{i}"),
            **({"consecutive": ("C",)} if matcher == "consecutive"
               else {}))
        assert sink.matcher == want.matcher == matcher
        assert sink.pattern == want.pattern
        assert sink.gap_minutes == want.gap_minutes == 720
        if matcher == "consecutive":
            assert sink.consecutive == ("C",)


def _stream_and_batch(spark, sf_dir, tmp_path, pattern, batch_fn,
                      gap=720):
    """Drain a real micro-batched stream through ``pattern``'s
    session_sink, then return (emitted, batch) match maps over the
    closed sessions: ``batch_fn(events)`` computes the batch side on
    the same rows the stream read."""
    from pyspark.sql import functions as F

    from flink_realtime_edu_demo_spark.sources.readers import (
        materialize_stream_input,
        stream_table,
    )
    from flink_realtime_edu_demo_spark.streaming.cep import (
        start_session_cep,
    )

    stream_dir = str(tmp_path / "stream_in")
    materialize_stream_input(spark, sf_dir, "events", stream_dir,
                             n_splits=3)
    sink = pattern.session_sink(gap_minutes=gap,
                                store_dir=str(tmp_path / "sink"))
    q = start_session_cep(stream_table(spark, stream_dir, "events"),
                          str(tmp_path / "ckpt"), sink)
    q.processAllAvailable()
    q.stop()

    ev = spark.read.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    ).parquet(f"{stream_dir}/events_stream")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    closed = (
        cep.sessionize(ev, gap).groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.col("last_ts") + F.expr(f"INTERVAL {gap} MINUTES")
                <= F.lit(max_ts))
        .select("user_id", "session_id")
    )
    batch = {
        (r.user_id, r.session_id, r.match_no):
        (r.first_event_id, r.last_event_id)
        for r in batch_fn(ev).join(closed, ["user_id", "session_id"])
        .collect()
    }
    emitted = {k: (v["first_event_id"], v["last_event_id"])
               for k, v in sink.emitted.items()}
    return emitted, batch


def test_session_sink_stream_matches_batch(spark, sf_dir, tmp_path):
    """A builder-deployed SessionCepSink drains a real micro-batched
    stream to the same closed-session match set as the batch
    composition (sessionize, then the relaxed engine per (user,
    session)) — the builder drives the streaming path end to end."""
    got, want = _stream_and_batch(
        spark, sf_dir, tmp_path,
        Pattern.begin("V").where(types="view")
        .followed_by("C").where(types="click").one_or_more()
        .followed_by("P").where(types="purchase"),
        lambda ev: cep.match_recognize_relaxed(
            cep.sessionize(ev, 720), CEP_FB_PATTERN,
            key=["user_id", "session_id"]))
    assert got == want and want


def test_session_sink_keeps_skip_strategy(spark, sf_dir, tmp_path):
    """The sink runs the pattern's AFTER MATCH SKIP strategy: a relaxed
    pattern with skip='to_next_row' streams to the same closed-session
    matches as ``.apply()`` on the same rows (past_last_row would find
    fewer, non-overlapping matches)."""
    p = (Pattern.begin("V", skip="to_next_row").where(types="view")
         .followed_by("C").where(types="click").one_or_more()
         .followed_by("P").where(types="purchase"))
    got, want = _stream_and_batch(spark, sf_dir, tmp_path, p, p.apply)
    assert got == want and want
