"""Fluent Flink-CEP Pattern-API front-end over the engine family
(round 16 — VERDICT r15 next #1, the top-ranked remaining item).

The engines in :mod:`.cep` are complete but their entry points are
positional mini-languages (``[("V", {"types": "view"}, "1"), ...]``,
``links=``, ``not_between=``, ``consume=``). A user migrating from
Flink writes::

    Pattern.begin("v").where(types="view") \\
           .followed_by("c").where(types="click").one_or_more() \\
           .not_followed_by("e").where(types="error") \\
           .followed_by("p").where(types="purchase") \\
           .within(hours=24)

This module is that surface: a small builder that VALIDATES the
composition at plan time and DISPATCHES to exactly one existing
engine + its paired oracle builder — it adds **no matching logic of
its own**, so a builder-compiled pattern is plan-identical (PySpark
``sameSemantics``) and hash-identical to the hand-written engine
call, asserted for every declared-key twin in
tests/test_pattern_api.py. Unsupported compositions raise loud
``ValueError``s that NAME the engine that owns the feature and why
the combination is out of scope (the repo-wide fail-fast rule).

Edge / modifier → engine mapping (the dispatch table):

========================================  ==================================
composition                               engine (operators/cep.py)
========================================  ==================================
all ``next`` edges, loops consecutive     match_recognize [/ _within]
``followed_by`` edges (default)           match_recognize_relaxed [/ _within],
                                          links = the ``next``-edge
                                          variables
``followed_by_any`` edges                 match_recognize_followed_by_any
``greedy()`` / default loop preference    greedy_pattern desugar → relaxed
``consecutive()`` with relaxed edges      match_recognize_consecutive
``allow_combinations()``                  match_recognize_times_combinations
``until(...)``                            match_recognize_until[_define]
trailing ``not_followed_by`` + within     match_recognize_not_followed_by_end
interior ``not_followed_by`` + within     match_recognize_not_followed_by_
                                          interior
trailing / interior ``not_next``          match_recognize_not_next_end /
                                          match_recognize_not_next
value conditions (``cond=``)              match_recognize[_relaxed]_define
                                          [/ _within]
running-aggregate conditions              match_recognize_runagg
(``cond={"agg": ...}``)
strict edges + AFTER MATCH SKIP           match_recognize_define with
                                          types-only conditions
group elements (``next_group`` /          match_recognize_groups /
``followed_by_group``, list or nested     match_recognize_relaxed_groups
``Pattern`` body)
``sessionized(gap)`` on any of the        ``sessionize(events, gap)``, then
strict / relaxed / consecutive / until /  the row's engine keyed by
DEFINE / runagg / group rows              ``[key, "session_id"]``
========================================  ==================================

Flink's default (non-greedy) loop preference is honored exactly as
the r15 ``greedy_pattern`` desugar defines it: an UNMARKED
choice-bearing loop whose admit class overlaps its successor's — and
whose successor edge is RELAXED — lowers to the reluctant spelling
(the overlapping boundary row goes to the next variable);
``greedy()`` keeps the greedy spelling. A strict (``next``) successor
edge keeps the greedy spelling either way — the declared
q_cep_mixed_links semantic (adjacency resolved leftmost-greedy by
regex backtracking), kept so builder twins stay plan-identical to the
declared keys.

``sessionized(gap_minutes)`` is NOT Flink API — it is this engine
family's documented hot-key deployment shape (SCALE.md), exposed on
the builder as a composition: the compiled pattern sessionizes the
events (``oracle_sql`` wraps the table in ``sessionize_oracle_sql``)
and runs the same engine per (key, session).

Reference: /root/reference/README.md:1 (no reference code exists;
API shape and semantics from the public Flink CEP Pattern API docs —
"Pattern API", "Quantifiers", "Combining Patterns",
"After Match Skip Strategy").
"""
from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

from . import cep

__all__ = ["Pattern", "CompiledPattern"]

_POSITIVE_EDGES = ("begin", "next", "followed_by", "followed_by_any")
_ABSENCE_EDGES = ("not_next", "not_followed_by")


@dataclass
class _Step:
    name: str
    edge: str
    types: tuple = ()
    negated: bool = False
    cond: dict | None = None
    base_quant: str = "1"
    optional: bool = False
    greedy: bool = False
    consecutive: bool = False
    allow_combinations: bool = False
    until_types: tuple | None = None
    until_cond: dict | None = None
    group: list | None = None  # inner (var, types, quant) tuples

    @property
    def positive(self) -> bool:
        return self.edge in _POSITIVE_EDGES

    @property
    def quant(self) -> str:
        """The engine quantifier string after applying optional()."""
        q = self.base_quant
        if not self.optional:
            return q
        if q == "1":
            return "?"
        if q == "+":
            return "*"
        if q.startswith("{1,") and q.endswith("}") and q != "{1,}":
            return "{0," + q[3:]
        raise ValueError(
            f"pattern variable {self.name!r}: optional() on quantifier "
            f"{q!r} means 0-or-[m,n] occurrences, which is not a flat "
            "quantifier in the engine family's grammar — spell it as "
            "two patterns (with and without the group) and union the "
            "results")

    def entry(self, define_mode: bool):
        """The (var, condition, quant[, until]) tuple an engine takes."""
        if self.group is not None:
            return (self.name, list(self.group), self.quant)
        if define_mode:
            if self.negated:
                raise ValueError(
                    f"pattern variable {self.name!r}: negated type "
                    "classes (where_not) are a pure-type-condition "
                    "feature; the DEFINE engines take explicit "
                    "conditions instead")
            d = dict(self.cond or {})
            if self.types:
                d["types"] = _norm(self.types)
            if not d:
                raise ValueError(
                    f"pattern variable {self.name!r} has no condition "
                    "— every variable needs where(types=...) and/or "
                    "where(cond=...)")
            if self.until_cond is not None or self.until_types:
                stop = dict(self.until_cond or {})
                if self.until_types:
                    stop["types"] = _norm(self.until_types)
                return (self.name, d, self.quant, stop)
            return (self.name, d, self.quant)
        if self.cond is not None:
            raise ValueError(
                f"pattern variable {self.name!r}: cond= conditions "
                "dispatch to the DEFINE engine family "
                "(match_recognize_define / match_recognize_relaxed_"
                "define) — internal dispatch error")
        if not self.types:
            raise ValueError(
                f"pattern variable {self.name!r} has no condition — "
                "every variable needs where(types=...)")
        etype = (("!",) + self.types) if self.negated else _norm(self.types)
        if self.until_types:
            return (self.name, etype, self.quant, _norm(self.until_types))
        return (self.name, etype, self.quant)


def _norm(types: tuple):
    """Single type as a bare string (the engines' canonical spelling,
    kept so builder patterns are byte-identical to the hand-written
    declared-key constants), multiple as a tuple."""
    return types[0] if len(types) == 1 else tuple(types)


@dataclass(frozen=True)
class CompiledPattern:
    """A validated, dispatched pattern: ``engine`` names the cep.py
    function (asserted in tests; shown in error messages), ``apply``
    runs it, ``oracle_sql`` builds the paired DuckDB oracle. With
    ``gap_minutes`` set, both first sessionize their input and then
    partition the engine by ``[key, "session_id"]``."""
    engine: str
    _df_fn: Callable = field(repr=False)
    _df_args: tuple = field(repr=False)
    _df_kwargs: dict = field(repr=False)
    _oracle_fn: Callable | None = field(repr=False)
    gap_minutes: int | None = None

    def _kwargs(self, cols: dict) -> tuple[dict, tuple | None]:
        """The engine kwargs, plus the (key, ts, id_col) sessionize
        groups by when the pattern is sessionized (None otherwise)."""
        kwargs = {**self._df_kwargs, **cols}
        if self.gap_minutes is None:
            return kwargs, None
        by = (kwargs.get("key", "user_id"), kwargs.get("ts", "ts"),
              kwargs.get("id_col", "event_id"))
        kwargs["key"] = [by[0], "session_id"]
        return kwargs, by

    def apply(self, events: DataFrame, **cols) -> DataFrame:
        kwargs, by = self._kwargs(cols)
        if by:
            events = cep.sessionize(events, self.gap_minutes, *by)
        return self._df_fn(events, *self._df_args, **kwargs)

    def oracle_sql(self, table: str = "events", **cols) -> str:
        if self._oracle_fn is None:
            raise ValueError(
                f"engine {self.engine} has no paired oracle builder")
        kwargs, by = self._kwargs(cols)
        if by:
            table = cep.sessionize_oracle_sql(table, self.gap_minutes, *by)
        return self._oracle_fn(*self._df_args, table=table, **kwargs)


class Pattern:
    """Fluent builder — start with :meth:`Pattern.begin`. Methods are
    snake_case with Flink's camelCase spellings aliased."""

    def __init__(self, name: str, skip: str = "past_last_row"):
        self._steps: list[_Step] = [_Step(name=name, edge="begin")]
        self._skip = skip
        self._within_minutes: int | None = None
        self._gap_minutes: int | None = None

    # -- construction ------------------------------------------------
    @classmethod
    def begin(cls, name: str, skip: str = "past_last_row") -> "Pattern":
        """``Pattern.begin(name[, skipStrategy])``. Skip spellings are
        the engine family's: 'past_last_row' (skipPastLastEvent, the
        default), 'to_next_row' (skipToNext), 'to_first:<VAR>' /
        'to_last:<VAR>' (skipToFirst/skipToLast)."""
        return cls(name, skip=skip)

    def _add(self, name: str, edge: str) -> "Pattern":
        if any(s.name == name for s in self._steps):
            raise ValueError(f"duplicate pattern variable {name!r}")
        self._steps.append(_Step(name=name, edge=edge))
        return self

    def next(self, name: str) -> "Pattern":
        """Strict contiguity edge (Flink ``next``)."""
        return self._add(name, "next")

    def followed_by(self, name: str) -> "Pattern":
        """Relaxed contiguity edge (Flink ``followedBy``) — the
        default linking a migrating user writes first."""
        return self._add(name, "followed_by")

    def followed_by_any(self, name: str) -> "Pattern":
        """Non-deterministic relaxed edge (Flink ``followedByAny`` /
        skip-till-any-match)."""
        return self._add(name, "followed_by_any")

    def not_next(self, name: str) -> "Pattern":
        """Non-consuming strict absence (Flink ``notNext``)."""
        return self._add(name, "not_next")

    def not_followed_by(self, name: str) -> "Pattern":
        """Non-consuming relaxed absence (Flink ``notFollowedBy``)."""
        return self._add(name, "not_followed_by")

    def _add_group(self, name: str, inner, edge: str) -> "Pattern":
        """GroupPattern element (Flink ``Pattern.begin(Pattern)`` /
        SQL:2016 row-pattern group): ``inner`` is either a list of
        ``(var, types[, quant])`` tuples or a Pattern instance whose
        chain becomes the group body (its edges must match this
        pattern's linking family; pattern-level state — within, skip,
        sessionized — belongs to the OUTER pattern only). The
        quantifier methods then apply to the whole group."""
        self._add(name, edge)
        s = self._steps[-1]
        if isinstance(inner, Pattern):
            if (inner._within_minutes is not None
                    or inner._gap_minutes is not None
                    or inner._skip != "past_last_row"):
                raise ValueError(
                    f"group {name!r}: within/sessionized/skip belong "
                    "to the OUTER pattern, not a group body")
            want_edge = "next" if edge == "next" else "followed_by"
            body = []
            for i, gs in enumerate(inner._steps):
                if not gs.positive or gs.cond is not None \
                        or gs.group is not None or gs.greedy \
                        or gs.consecutive or gs.allow_combinations \
                        or gs.until_types or gs.until_cond:
                    raise ValueError(
                        f"group {name!r}: the group engines "
                        "(match_recognize[_relaxed]_groups) take one "
                        "nesting level of plain type-conditioned "
                        "variables — absence edges, cond=, nested "
                        "groups and loop modifiers are out of their "
                        "scope")
                if i > 0 and gs.edge != want_edge:
                    raise ValueError(
                        f"group {name!r}: inner edges must match the "
                        f"outer linking family ({want_edge!r}) — the "
                        "group engines fix inner contiguity per "
                        "family")
                body.append(gs.entry(False))
        else:
            body = []
            for el in inner:
                var, types = el[0], el[1]
                quant = el[2] if len(el) > 2 else "1"
                body.append((var, _norm((types,))
                             if isinstance(types, str)
                             else _norm(tuple(types)), quant))
        if not body:
            raise ValueError(f"group {name!r} needs at least one "
                             "inner variable")
        s.group = body
        return self

    def next_group(self, name: str, inner) -> "Pattern":
        """Strict-edge GroupPattern element."""
        return self._add_group(name, inner, "next")

    def followed_by_group(self, name: str, inner) -> "Pattern":
        """Relaxed-edge GroupPattern element (Flink
        ``followedBy(Pattern.begin(...)...)``)."""
        return self._add_group(name, inner, "followed_by")

    # Flink camelCase aliases.
    followedBy = followed_by
    followedByAny = followed_by_any
    notNext = not_next
    notFollowedBy = not_followed_by
    followedByGroup = followed_by_group
    nextGroup = next_group

    # -- conditions --------------------------------------------------
    def where(self, types=None, cond: dict | None = None) -> "Pattern":
        """Condition on the current variable: ``types`` is a type name
        or a sequence of alternatives (Flink SimpleCondition on the
        event type); ``cond`` is a value/iterative condition in the
        DEFINE engines' mini-language (e.g. ``{"dir": "down"}`` for
        value < PREV(value)) and dispatches the pattern to the DEFINE
        engine family."""
        s = self._steps[-1]
        if types is not None:
            new = (types,) if isinstance(types, str) else tuple(types)
            s.types = s.types + new
        if cond is not None:
            s.cond = {**(s.cond or {}), **cond}
        if types is None and cond is None:
            raise ValueError("where() needs types= and/or cond=")
        return self

    def or_where(self, types) -> "Pattern":
        """Flink ``.or(...)`` — extend the current variable's admit
        class with alternative types."""
        return self.where(types=types)

    or_ = or_where

    def where_not(self, *types: str) -> "Pattern":
        """Complement type class — the current variable admits any row
        whose type is NOT one of ``types`` (the engines' ("!", ...)
        class; MATCH_RECOGNIZE type NOT IN)."""
        s = self._steps[-1]
        if s.types or s.cond:
            raise ValueError(
                f"pattern variable {s.name!r}: where_not() replaces "
                "the admit class and cannot combine with where()")
        s.types = tuple(types)
        s.negated = True
        return self

    # -- quantifiers / modifiers ------------------------------------
    def _loop_target(self) -> _Step:
        s = self._steps[-1]
        if not s.positive:
            raise ValueError(
                f"absence variable {s.name!r}: Flink forbids "
                "quantifiers on notNext/notFollowedBy steps")
        return s

    def one_or_more(self) -> "Pattern":
        s = self._loop_target()
        if s.base_quant != "1":
            raise ValueError(
                f"pattern variable {s.name!r} already has quantifier "
                f"{s.base_quant!r}")
        s.base_quant = "+"
        return self

    def times(self, m: int, n: int | None = None) -> "Pattern":
        """``times(n)`` (exactly n) or ``times(m, n)`` (m to n)."""
        s = self._loop_target()
        if s.base_quant != "1":
            raise ValueError(
                f"pattern variable {s.name!r} already has quantifier "
                f"{s.base_quant!r}")
        if n is None:
            n = m
        if not (1 <= m <= n):
            raise ValueError(f"times({m}, {n}): need 1 <= m <= n")
        s.base_quant = f"{{{m},{n}}}"
        return self

    def times_or_more(self, m: int) -> "Pattern":
        s = self._loop_target()
        if s.base_quant != "1":
            raise ValueError(
                f"pattern variable {s.name!r} already has quantifier "
                f"{s.base_quant!r}")
        if m < 1:
            raise ValueError(f"times_or_more({m}): need m >= 1")
        s.base_quant = "+" if m == 1 else f"{{{m},}}"
        return self

    def optional(self) -> "Pattern":
        s = self._loop_target()
        s.optional = True
        s.quant  # validate the combination now (plan-time, loudly)
        return self

    def greedy(self) -> "Pattern":
        """Flink loop ``greedy()`` — the loop consumes as many rows as
        possible while the rest of the pattern still completes
        (observable only where the loop's class overlaps its
        successor's); lowered by the greedy_pattern desugar."""
        self._loop_target().greedy = True
        return self

    def consecutive(self) -> "Pattern":
        """Strict contiguity INSIDE the current loop (Flink
        ``consecutive()``)."""
        self._loop_target().consecutive = True
        return self

    def allow_combinations(self) -> "Pattern":
        """Every strictly-increasing row combination of the loop is
        its own branch (Flink ``allowCombinations`` / NO_SKIP);
        requires a bounded times(m,n) and within()."""
        self._loop_target().allow_combinations = True
        return self

    def until(self, types=None, cond: dict | None = None) -> "Pattern":
        """Loop stop condition (Flink ``oneOrMore().until(cond)``)."""
        s = self._loop_target()
        if types is not None:
            new = (types,) if isinstance(types, str) else tuple(types)
            s.until_types = (s.until_types or ()) + new
        if cond is not None:
            s.until_cond = {**(s.until_cond or {}), **cond}
        if types is None and cond is None:
            raise ValueError("until() needs types= and/or cond=")
        return self

    oneOrMore = one_or_more
    timesOrMore = times_or_more
    allowCombinations = allow_combinations

    # -- pattern-level -----------------------------------------------
    def within(self, minutes: int = 0, hours: int = 0,
               days: int = 0) -> "Pattern":
        """Whole-pattern time bound (Flink ``within(Duration)``) —
        every matched row inside [first_ts, first_ts + bound]."""
        total = minutes + 60 * hours + 1440 * days
        if total <= 0:
            raise ValueError("within() needs a positive duration")
        self._within_minutes = total
        return self

    def sessionized(self, gap_minutes: int) -> "Pattern":
        """Deployment shape, not Flink API: sessionize per key with
        ``gap_minutes`` inactivity gaps and match within sessions —
        the engine family's documented hot-key state bound."""
        if gap_minutes <= 0:
            raise ValueError("sessionized() needs a positive gap")
        self._gap_minutes = gap_minutes
        return self

    # -- streaming deployment ----------------------------------------
    def session_sink(self, gap_minutes: int | None = None, **sink_kw):
        """Deploy the compiled pattern as a streaming
        :class:`~..streaming.cep.SessionCepSink` (the engine family's
        session-close emission path): compiles with the sessionized
        dispatch, then maps the dispatched engine to the sink's
        matcher. Pass ``gap_minutes`` here or call
        ``sessionized(gap)`` first; ``sink_kw`` forwards to the sink
        (store_dir, observe, within_minutes, column names...)."""
        if gap_minutes is not None:
            self.sessionized(gap_minutes)
        if self._gap_minutes is None:
            raise ValueError(
                "session_sink needs a session gap — pass gap_minutes "
                "or call sessionized(gap) first")
        compiled = self.compile()
        matcher_by_engine = {
            "match_recognize": "types",
            "match_recognize_relaxed": "relaxed",
            "match_recognize_until": "until",
            "match_recognize_consecutive": "consecutive",
            "match_recognize_relaxed_groups": "relaxed_groups",
            "match_recognize_define": "define",
            "match_recognize_runagg": "runagg",
        }
        matcher = matcher_by_engine.get(compiled.engine)
        if matcher is None:
            raise ValueError(
                f"engine {compiled.engine} has no SessionCepSink "
                "matcher — the sink covers the types/relaxed/until/"
                "consecutive/relaxed_groups/define/runagg families")
        if compiled._df_kwargs.get("links"):
            raise ValueError(
                "SessionCepSink's relaxed matcher has no strict-edge "
                "links hook — spell the pattern all-followedBy, or "
                "run sessionize() + match_recognize_relaxed in batch")
        extra = dict(sink_kw)
        if matcher == "consecutive":
            extra["consecutive"] = compiled._df_args[1]
        skip = compiled._df_kwargs.get("skip", "past_last_row")
        if skip != "past_last_row":
            extra["skip"] = skip
        from ..streaming.cep import SessionCepSink

        return SessionCepSink(
            compiled._df_args[0], gap_minutes=self._gap_minutes,
            matcher=matcher, **extra)

    # -- compilation -------------------------------------------------
    def compile(self) -> CompiledPattern:
        return _compile(self)

    def apply(self, events: DataFrame, **cols) -> DataFrame:
        """Compile and run against an events DataFrame."""
        return self.compile().apply(events, **cols)

    def oracle_sql(self, table: str = "events", **cols) -> str:
        """Compile and build the paired DuckDB oracle SQL."""
        return self.compile().oracle_sql(table=table, **cols)


def _bail(feature: str, engine: str, why: str):
    raise ValueError(
        f"{feature} dispatches to {engine}, {why}")


def _is_loop(q: str) -> bool:
    """True when the quantifier can take MORE than one row — only
    then does interior contiguity (consecutive vs relaxed) exist.
    '?' and '1' have no interior."""
    _, hi, _ = cep._quant_parse(q)
    return hi is None or hi > 1


def _compile(p: Pattern) -> CompiledPattern:
    steps = p._steps
    pos = [s for s in steps if s.positive]
    if not pos:
        raise ValueError("a pattern needs at least one positive step")
    for s in steps:
        if not s.positive and (s.cond or s.until_types or s.until_cond):
            raise ValueError(
                f"absence variable {s.name!r}: the absence engines "
                "(match_recognize_not_next* / match_recognize_not_"
                "followed_by_*) take forbidden TYPE classes only — "
                "cond=/until() absence conditions are out of scope")
        if not s.positive and not s.types:
            raise ValueError(
                f"absence variable {s.name!r} needs where(types=...)")
        if not s.positive and s.negated:
            raise ValueError(
                f"absence variable {s.name!r}: where_not() on an "
                "absence step is a double negation the engines do not "
                "model — name the forbidden types directly")

    define_mode = any(s.cond is not None or s.until_cond is not None
                      for s in pos)
    has_any = [s for s in steps if s.edge == "followed_by_any"]
    has_comb = [s for s in pos if s.allow_combinations]
    has_until = [s for s in pos
                 if s.until_types is not None or s.until_cond is not None]
    has_consec = [s for s in pos if s.consecutive]
    has_greedy = [s for s in pos if s.greedy]
    nfb = [s for s in steps if s.edge == "not_followed_by"]
    nn = [s for s in steps if s.edge == "not_next"]
    links = frozenset(s.name for s in pos[1:] if s.edge == "next")
    all_strict_edges = all(s.edge == "next" for s in pos[1:])
    all_relaxed_edges = all(s.edge == "followed_by" for s in pos[1:])
    default_skip = p._skip == "past_last_row"
    within = p._within_minutes
    gap = p._gap_minutes

    cols: dict = {}

    def done(engine: str, args: tuple, kwargs: dict,
             oracle: str | None) -> CompiledPattern:
        # a branch that cannot sessionize bails on gap before this
        return CompiledPattern(
            engine=engine, _df_fn=getattr(cep, engine), _df_args=args,
            _df_kwargs=kwargs,
            _oracle_fn=getattr(cep, oracle) if oracle else None,
            gap_minutes=gap)

    # ---- allowCombinations -----------------------------------------
    if has_comb:
        eng = "match_recognize_times_combinations"
        if define_mode or has_any or has_until or has_consec \
                or has_greedy or nfb or nn or not default_skip or gap:
            _bail("allow_combinations()", eng,
                  "which covers the plain relaxed begin/followedBy "
                  "chain only — no DEFINE conditions, followedByAny, "
                  "until, consecutive, greedy, absence edges, skip "
                  "strategies, or sessionizing")
        if not all_relaxed_edges:
            _bail("allow_combinations()", eng,
                  "whose edges are all followedBy (relaxed) — strict "
                  "next() edges are out of its scope")
        if within is None:
            raise ValueError(
                "allow_combinations() requires within(): the branch "
                "count is C(rows-in-window, k) per anchor and the "
                "window is what bounds it (match_recognize_times_"
                "combinations enforces the same rule)")
        pat = [s.entry(False) for s in pos]
        return done(eng, (pat,), {"within_minutes": within, **cols},
                    eng + "_oracle_sql")

    # ---- followedByAny ---------------------------------------------
    if has_any:
        eng = "match_recognize_followed_by_any"
        if any(s.edge not in ("begin", "followed_by_any")
               for s in pos[1:]) or nfb or nn:
            _bail("followed_by_any()", eng,
                  "which applies skip-till-any-match to the WHOLE "
                  "pattern — mixing linking modes or absence edges "
                  "with followedByAny is out of its scope")
        if define_mode or has_until or has_consec or has_greedy \
                or not default_skip or gap:
            _bail("followed_by_any()", eng,
                  "which supports plain type conditions and the "
                  "default skip only (Flink pairs followedByAny with "
                  "NO_SKIP); DEFINE/until/consecutive/greedy/"
                  "sessionized are out of its scope")
        pat = [s.entry(False) for s in pos]
        kw = dict(cols)
        if within is not None:
            kw["within_minutes"] = within
        return done(eng, (pat,), kw, eng + "_oracle_sql")

    # ---- until -----------------------------------------------------
    if has_until:
        base = ("match_recognize_until_define" if define_mode
                else "match_recognize_until")
        if nfb or nn or has_consec or has_greedy or not default_skip \
                or within is not None:
            _bail("until()", base,
                  "which covers the plain relaxed chain with one "
                  "stop-conditioned loop — absence edges, "
                  "consecutive, greedy, skip strategies and within "
                  "are out of its scope")
        if not all_relaxed_edges:
            _bail("until()", base,
                  "whose edges are all followedBy (relaxed)")
        pat = [s.entry(define_mode) for s in pos]
        return done(base, (pat,), cols, base + "_oracle_sql")

    # ---- non-consuming notFollowedBy -------------------------------
    if nfb:
        trailing = steps[-1].edge == "not_followed_by"
        interior = [s for s in nfb if s is not steps[-1]]
        eng = ("match_recognize_not_followed_by_end" if trailing
               else "match_recognize_not_followed_by_interior")
        if trailing and interior:
            _bail("trailing + interior not_followed_by", eng,
                  "and match_recognize_not_followed_by_interior "
                  "respectively — one absence shape per pattern")
        if nn or define_mode or has_consec or has_greedy \
                or not default_skip or gap:
            _bail("not_followed_by()", eng,
                  "which covers the plain relaxed positive chain — "
                  "notNext, DEFINE conditions, consecutive, greedy, "
                  "skip strategies and sessionized are out of its "
                  "scope")
        if not all_relaxed_edges:
            _bail("not_followed_by()", eng,
                  "whose positive edges are all followedBy (relaxed)")
        if within is None:
            raise ValueError(
                "not_followed_by() requires within(): Flink itself "
                "forbids a pattern ending with notFollowedBy without "
                "a within bound (the absence is confirmed when the "
                "window expires), and the interior engine uses the "
                "same window to close the absence check")
        pat = [s.entry(False) for s in pos]
        if trailing:
            forbid = _norm(steps[-1].types)
            return done(eng, (pat, forbid),
                        {"within_minutes": within, **cols},
                        eng + "_oracle_sql")
        acc: dict[str, tuple] = {}
        for s in interior:
            i = steps.index(s)
            prev = next(t for t in reversed(steps[:i]) if t.positive)
            acc[prev.name] = acc.get(prev.name, ()) + s.types
        not_between = {v: _norm(t) for v, t in acc.items()}
        return done(eng, (pat, not_between),
                    {"within_minutes": within, **cols},
                    eng + "_oracle_sql")

    # ---- non-consuming notNext -------------------------------------
    if nn:
        trailing = steps[-1].edge == "not_next"
        interior = [s for s in nn if s is not steps[-1]]
        eng = ("match_recognize_not_next_end" if trailing
               else "match_recognize_not_next")
        if trailing and interior:
            _bail("trailing + interior not_next", eng,
                  "and match_recognize_not_next respectively — one "
                  "absence shape per pattern")
        if define_mode or has_greedy or gap or within is not None:
            _bail("not_next()", eng,
                  "the linear lead-flag strict family — DEFINE "
                  "conditions, greedy, within and sessionized are "
                  "out of its scope")
        if not all_strict_edges:
            _bail("not_next()", eng,
                  "the strict-adjacency family: every positive edge "
                  "must be next() (relaxed followedBy absence is "
                  "not_followed_by())")
        # A quantified LAST positive variable is the r16 tabulated-run
        # form of the trailing engine; Flink spells its adjacent run
        # with consecutive(), which IS this family's contiguity.
        if [s for s in has_consec if s is not pos[-1]]:
            _bail("consecutive() on a non-final variable with "
                  "not_next()", eng,
                  "whose interior variables are single-occurrence")
        if any(s.quant != "1" for s in pos[:-1]):
            _bail("a quantified interior variable with not_next()",
                  eng, "which tabulates a run for the LAST variable "
                  "only")
        if pos[-1].quant != "1" and not trailing:
            _bail("a quantified variable with interior not_next()",
                  "match_recognize_not_next",
                  "whose variables are single-occurrence — only the "
                  "trailing engine tabulates a run")
        if pos[-1].quant != "1" and not pos[-1].consecutive:
            _bail("a quantified tail with relaxed loop interior "
                  "under not_next()", eng,
                  "which tabulates the ADJACENT maximal run — spell "
                  "the Flink pattern with consecutive() (a relaxed-"
                  "interior run has no engine here)")
        pat = [s.entry(False) for s in pos]
        if trailing:
            forbid = _norm(steps[-1].types)
            return done(eng, (pat, forbid), {"skip": p._skip, **cols},
                        eng + "_oracle_sql")
        not_next_map: dict = {}
        for s in interior:
            i = steps.index(s)
            prev = next(t for t in reversed(steps[:i]) if t.positive)
            prior = not_next_map.get(prev.name, ())
            not_next_map[prev.name] = tuple(prior) + s.types
        return done(eng, (pat, not_next_map),
                    {"skip": p._skip, **cols}, eng + "_oracle_sql")

    # ---- GroupPattern (grouped quantifiers) ------------------------
    if any(s.group is not None for s in pos):
        if define_mode or has_any or has_until or has_comb \
                or has_greedy or nfb or nn or not default_skip \
                or within is not None:
            _bail("a group element",
                  "match_recognize_groups / "
                  "match_recognize_relaxed_groups",
                  "which cover plain type-conditioned chains with "
                  "the default skip — DEFINE conditions, "
                  "followedByAny, until, allowCombinations, greedy, "
                  "absence edges, skip strategies and within are "
                  "out of their scope")
        pat = [s.entry(False) for s in pos]
        if all_strict_edges:
            if not all(s.consecutive or not _is_loop(s.quant)
                       for s in pos):
                _bail("a next()-linked group loop without "
                      "consecutive()", "match_recognize_groups",
                      "the strict engine, whose loop interiors are "
                      "strictly contiguous — mark the loop "
                      "consecutive() to opt into that semantic "
                      "(Flink's default relaxed interior is the "
                      "followedBy family)")
            eng = "match_recognize_groups"
            return done(eng, (pat,), cols, eng + "_oracle_sql")
        if not all_relaxed_edges:
            _bail("a group with MIXED next/followedBy edges",
                  "match_recognize_groups / "
                  "match_recognize_relaxed_groups",
                  "which are the all-strict and all-relaxed forms")
        if has_consec:
            _bail("consecutive() under followedBy group linking",
                  "match_recognize_relaxed_groups",
                  "whose contiguity is relaxed throughout — an "
                  "all-next() chain with consecutive loops is the "
                  "strict engine")
        base = "match_recognize_relaxed_groups"
        return done(base, (pat,), cols, base + "_oracle_sql")

    # ---- running-aggregate DEFINE (Flink iterative condition) ------
    if any("agg" in (s.cond or {}) for s in pos):
        base = "match_recognize_runagg"
        if has_any or has_comb or has_until or has_consec \
                or has_greedy or nfb or nn or within is not None:
            _bail('cond={"agg": ...} (a running-aggregate / '
                  "iterative condition)", base,
                  "the strict anchored-scan family — followedByAny, "
                  "allowCombinations, until, consecutive, greedy, "
                  "absence edges and within are out of its scope")
        if not all_strict_edges:
            _bail('cond={"agg": ...} under followedBy linking',
                  "match_recognize_followed_by_iterative",
                  "the relaxed iterative engine, which takes "
                  "anchor/loop condition dicts directly — the "
                  "builder covers the strict runagg chain "
                  "(next() edges)")
        pat = [s.entry(True) for s in pos]
        return done(base, (pat,), {"skip": p._skip, **cols},
                    base + "_oracle_sql")

    # ---- DEFINE (value / iterative conditions) ---------------------
    if define_mode:
        pat = [s.entry(True) for s in pos]
        if all_strict_edges:
            base = "match_recognize_define"
            if has_greedy or has_consec:
                _bail("greedy()/consecutive() with cond=", base,
                      "whose loops are strictly contiguous already — "
                      "the modifiers have no lever there")
            if within is not None:
                if not default_skip:
                    _bail("within() + skip strategy", base + "_within",
                          "which fixes the default AFTER MATCH SKIP")
                eng = base + "_within"
                return done(eng, (pat,),
                            {"within_minutes": within, **cols},
                            eng + "_oracle_sql")
            return done(base, (pat,), {"skip": p._skip, **cols},
                        base + "_oracle_sql")
        if all_relaxed_edges:
            base = "match_recognize_relaxed_define"
            if has_greedy or has_consec or not default_skip \
                    or within is not None or gap is not None:
                _bail("cond= under followedBy linking", base,
                      "which covers the plain relaxed chain with the "
                      "default skip — greedy, consecutive, skip "
                      "strategies, within and sessionized are out of "
                      "its scope")
            return done(base, (pat,), cols, base + "_oracle_sql")
        _bail("cond= with MIXED next/followedBy edges",
              "match_recognize_define / match_recognize_relaxed_define",
              "which are the all-strict and all-relaxed forms — "
              "mixed links carry type conditions only "
              "(match_recognize_relaxed links=)")

    # An all-next() chain is the strict engine only when every LOOP
    # is marked consecutive() — Flink's loop interior is relaxed by
    # default even under next() edges, which the relaxed engine
    # models with links= (all variables strict-linked).
    strict_ok = all_strict_edges and all(
        s.consecutive or not _is_loop(s.quant) for s in pos)

    # ---- consecutive loops under relaxed linking -------------------
    if has_consec and not strict_ok:
        eng = "match_recognize_consecutive"
        if has_greedy or not default_skip or within is not None:
            _bail("consecutive()", eng,
                  "which covers the plain relaxed chain with the "
                  "default skip — greedy, skip strategies and "
                  "within are out of its scope")
        if not all_relaxed_edges:
            _bail("consecutive() with next() edges", eng,
                  "which keeps the BETWEEN-variable links relaxed "
                  "— an all-next() chain with consecutive loops "
                  "is the strict engine (match_recognize)")
        consec = tuple(s.name for s in pos if s.consecutive)
        pat = [s.entry(False) for s in pos]
        return done(eng, (pat, consec), cols, eng + "_oracle_sql")

    # ---- fully strict: MATCH_RECOGNIZE default contiguity ----------
    if strict_ok:
        base = "match_recognize"
        if has_greedy:
            _bail("greedy()", base,
                  "the strict engine, whose loops are strictly "
                  "contiguous and greedy already — the Pattern-API "
                  "preference only exists under relaxed linking")
        pat = [s.entry(False) for s in pos]
        if not default_skip:
            # Strict + skip strategy: the DEFINE engine is the strict
            # family member that exposes AFTER MATCH SKIP; types-only
            # conditions make it semantically the same pattern.
            eng = "match_recognize_define"
            if any(isinstance(t, tuple) and t and t[0] == "!"
                   for _, t, _ in pat):
                _bail("where_not() + skip strategy", eng,
                      "whose type conditions are positive classes")
            if within is not None:
                _bail("skip strategy + within()", eng,
                      "which has no within form with AFTER MATCH SKIP "
                      "(match_recognize_define_within fixes the "
                      "default)")
            dpat = [(v, {"types": t}, q) for v, t, q in pat]
            return done(eng, (dpat,), {"skip": p._skip, **cols},
                        eng + "_oracle_sql")
        if within is not None:
            eng = base + "_within"
            return done(eng, (pat,), {"within_minutes": within, **cols},
                        eng + "_oracle_sql")
        return done(base, (pat,), cols, base + "_oracle_sql")

    # ---- default: the relaxed (followedBy) family ------------------
    base = "match_recognize_relaxed"
    if has_consec:
        _bail("consecutive() with mixed next()/followedBy edges",
              "match_recognize_consecutive",
              "which keeps all between-variable links relaxed — "
              "mixed links with consecutive loops have no engine yet")
    pat = [s.entry(False) for s in pos]
    pat = _apply_default_preference(pat, pos)
    kw = dict(cols)
    if links:
        kw["links"] = links
    if within is not None:
        if not default_skip:
            _bail("within() + skip strategy", base + "_within",
                  "which fixes the default AFTER MATCH SKIP (the "
                  "anchored time-truncated scan has no resume "
                  "machinery)")
        eng = base + "_within"
        return done(eng, (pat,), {"within_minutes": within, **kw},
                    eng + "_oracle_sql")
    return done(base, (pat,), {"skip": p._skip, **kw},
                base + "_oracle_sql")


def _apply_default_preference(pat, pos):
    """Honor Flink's loop branch preference via the r15 greedy_pattern
    desugar, adopted ONLY where the loop's successor edge is relaxed
    (see module docstring): strict-successor loops keep the greedy
    spelling, the declared mixed-links semantic."""
    marks = frozenset(s.name for s in pos if s.greedy)
    desugared = cep.greedy_pattern(pat, greedy=marks)
    out = []
    for i, (orig, new) in enumerate(zip(pat, desugared)):
        successor_relaxed = (i + 1 < len(pos)
                             and pos[i + 1].edge == "followed_by")
        out.append(new if (successor_relaxed or orig[0] in marks)
                   else orig)
    return out
