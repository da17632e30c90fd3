"""MATCH_RECOGNIZE subset — contiguous row-pattern matching per key
(SURVEY.md §2.9 / §7 hard part #6, generalizing operators/funnel.py).

Scope (the useful core of Flink's MATCH_RECOGNIZE):
- PARTITION BY key, ORDER BY (ts, id) — total order per key;
- PATTERN = a SEQUENCE of variables, each defined by an event-type
  equality predicate or an ALTERNATION over several types
  (``("click", "error")`` ≡ ``C|E``), with quantifiers ``1`` (exactly
  one), ``?``, ``+``, ``*``, bounded ``{m,n}``, and the reluctant
  forms ``??``, ``+?``, ``*?``, ``{m,n}?`` — contiguous rows, as in
  SQL row-pattern matching (a non-matching row breaks adjacency;
  Flink CEP's relaxed ``followedBy`` is
  :func:`match_recognize_relaxed` since r9, and the earliest-chain
  special case is operators/funnel.py);
- ``PERMUTE(A, B, ...)`` groups (:func:`match_recognize_permute`) —
  k ≤ 4 variables matched once each in any order, lowered to the
  standard's lexicographic k! alternation;
- greedy or reluctant quantifiers, ONE ROW PER MATCH, AFTER MATCH SKIP
  PAST LAST ROW — matches per key are enumerated left to right,
  non-overlapping.

Spark-first lowering — regex over an id-carrying token string:
each event becomes a token ``<type_char><event_id>;`` and each key's
ordered token concatenation is scanned with one
``regexp_extract_all`` (JVM regex, no Python in the loop). Because
tokens EMBED the event id, every measure — first/last event id, row
counts per variable — is recovered from the matched substring alone,
which is exactly what any engine's regexp_extract_all returns; no
match *positions* are needed, so a DuckDB oracle replays the whole
pipeline verbatim (string_agg + regexp_extract_all) and hash-matches.
One shuffle total (groupBy key); everything else is narrow.

At 100 TB: per-key strings are bounded by events-per-key (~KBs for
real user streams); for unbounded keys sessionize first (window the
key by time) so each group's string stays small — same pattern
semantics within a session, which is how MATCH_RECOGNIZE jobs are
deployed on streams anyway.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, functions as F

_QUANTS = {"1": "", "?": "?", "+": "+", "*": "*",
           # reluctant (lazy) forms — SQL row-pattern matching's B+? /
           # B*? / B?? : prefer the FEWEST rows that still let the whole
           # pattern match. Java regex and RE2 both implement lazy
           # quantifiers with identical leftmost-first preference, so
           # the Spark scan and the DuckDB oracle still agree.
           "??": "??", "+?": "+?", "*?": "*?"}
# {m,n} / lazy {m,n}? / unbounded-above {m,} (Flink's timesOrMore, r10)
_BOUNDED = _re.compile(r"^\{(\d+),(\d*)\}(\?)?$")


def _quant_regex(quant: str) -> str:
    """Regex suffix for a quantifier: the symbolic forms (greedy and
    reluctant) plus bounded ``{m,n}`` / ``{m,n}?`` and unbounded-above
    ``{m,}`` / ``{m,}?`` — Flink's ``timesOrMore(m)`` (same syntax in
    Java regex and RE2, so the Spark and DuckDB scans agree
    byte-for-byte)."""
    if quant in _QUANTS:
        return _QUANTS[quant]
    m = _BOUNDED.match(quant)
    if m and (m.group(2) == "" or int(m.group(1)) <= int(m.group(2))):
        return quant
    raise ValueError(
        f"quantifier {quant!r} not in {sorted(_QUANTS)} or {{m,n}}/{{m,}} form"
    )


def _types_of(etype) -> tuple:
    """A variable's predicate: one event type, or an ALTERNATION over
    several (`("click", "error")` ≡ MATCH_RECOGNIZE's `C|E` variable).
    Negation markers are stripped — these are the NAMED types either
    way (the alphabet); :func:`_var_negated` carries the polarity."""
    if isinstance(etype, str):
        return (etype[1:],) if etype.startswith("!") else (etype,)
    t = tuple(etype)
    if t and t[0] == "!":
        return t[1:]
    return t


def _var_negated(etype) -> bool:
    """True for a COMPLEMENT type predicate — MATCH_RECOGNIZE's
    ``DEFINE N AS type NOT IN (...)`` (Flink CEP's consuming notNext):
    the variable matches any row whose type is NOT in the named set
    (including types outside the pattern alphabet). Spelled
    ``"!purchase"`` or ``("!", "click", "error")``."""
    if isinstance(etype, str):
        return etype.startswith("!")
    t = tuple(etype)
    return bool(t) and t[0] == "!"


def _char_map(pattern: list[tuple[str, object, str]]) -> dict[str, str]:
    """One char per distinct event type in the pattern, in first-use
    order: 'a', 'b', ... ('z' is reserved for non-matching types)."""
    types: list[str] = []
    for _, etype, _ in pattern:
        for t in _types_of(etype):
            if t not in types:
                types.append(t)
    if len(types) > 25:
        raise ValueError("at most 25 distinct event types per pattern")
    return {t: chr(ord("a") + i) for i, t in enumerate(types)}


def _validate(pattern: list[tuple[str, object, str]]) -> None:
    if not pattern:
        raise ValueError("pattern needs at least one variable")
    _reject_leading_negation(pattern)
    seen = set()
    for var, etype, quant in pattern:
        _quant_regex(quant)  # raises on malformed quantifiers
        if var in seen:
            raise ValueError(f"duplicate pattern variable {var!r}")
        if not _types_of(etype):
            raise ValueError(f"variable {var!r} needs at least one event type")
        seen.add(var)
    _reject_empty_match(pattern)


def _reject_leading_negation(pattern) -> None:
    """A complement-class atom ([^..]) may not be the FIRST thing a
    match consumes: digits satisfy it, so an unanchored scan could
    start mid-token. The first consuming atom is guaranteed positive
    iff no negated variable sits at or before the first variable with
    a nonzero minimum row count (after which every atom applies at a
    token boundary, because the preceding atom ended with ';')."""
    mins = [_quant_min(q) for _, _, q in pattern]
    if not any(m >= 1 for m in mins):
        return  # _reject_empty_match raises for this separately
    i0 = next(i for i, m in enumerate(mins) if m >= 1)
    for i, (var, etype, _) in enumerate(pattern):
        if i <= i0 and _var_negated(etype):
            raise ValueError(
                f"variable {var!r}: a complement predicate needs at least "
                "one guaranteed preceding row (the unanchored token scan "
                "needs a positive first atom)")


def _reject_empty_match(pattern) -> None:
    """Reject patterns whose total MINIMUM row count is zero (every
    variable `?`/`*`/`{0,n}`): the regex then matches the empty string
    at every scan position, and the past_last_row extract-all path
    would emit zero-length matches as output rows with NULL ids and
    n_rows=0 — SQL raises for patterns that can produce empty matches
    under ONE ROW PER MATCH without SHOW EMPTY MATCHES; we reject at
    plan time."""
    if sum(_quant_min(q) for _, _, q in pattern) == 0:
        raise ValueError(
            "pattern may match zero rows (all variables optional) — "
            "at least one variable needs a mandatory row")


def _var_class(etype, chars: dict[str, str]) -> str:
    """The variable's token chars, first-use order, e.g. 'c' or 'ce'."""
    return "".join(chars[t] for t in _types_of(etype))


def _token_regex(pattern: list[tuple[str, object, str]],
                 chars: dict[str, str]) -> str:
    """The token-level regex: ``(?:<class>[0-9]+;)<quant>`` per variable
    (`<class>` is a single char or a [..] alternation class). Digits-only
    id class keeps the string free of backslash escapes in both Spark
    SQL and DuckDB literals."""
    pieces = []
    for _, etype, quant in pattern:
        pieces.append(f"(?:{_atom(etype, chars)}[0-9]+;){_quant_regex(quant)}")
    return "".join(pieces)


def _atom(etype, chars: dict[str, str]) -> str:
    """Regex atom for a variable's type predicate: a char, a [..]
    class, or — for a complement predicate — a [^..] class (safe
    because a negated variable is never first in the pattern, so the
    scan is always anchored at a token boundary when it applies; the
    complement correctly admits the 'z' char of types outside the
    pattern alphabet)."""
    cls = _var_class(etype, chars)
    if _var_negated(etype):
        return f"[^{cls}]"
    return cls if len(cls) == 1 else f"[{cls}]"


def match_recognize(
    events: DataFrame,
    pattern: list[tuple[str, str, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Contiguous row-pattern matching; ``pattern`` is a list of
    ``(variable, event_type_or_tuple, quantifier)`` with quantifier in
    ``{'1', '?', '+', '*', '??', '+?', '*?', '{m,n}', '{m,n}?'}`` —
    a tuple of types is an alternation (the variable matches any of
    them); the ``?``-suffixed forms are SQL's reluctant quantifiers
    (fewest rows that still complete the match).

    ``key`` may be a single column name or a list (e.g. a composite
    (user, session) partition from :func:`sessionize`).

    Returns one row per match:
    ``key..., match_no (1-based per key, left to right), first_event_id,
    last_event_id, n_rows, n_<variable.lower()>...`` where n_<var> is
    the number of rows the variable's type-char absorbed inside the
    match (per TYPE: two variables sharing an event type share counts).
    """
    _validate(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(pattern)
    regex = _token_regex(pattern, chars)
    return _scan(events, pattern, chars, regex, keys, ts, type_col, id_col)


def _seq_strings(
    events: DataFrame,
    chars: dict[str, str],
    keys: list[str],
    ts: str,
    type_col: str,
    id_col: str,
    guard_regex: str | None = None,
) -> DataFrame:
    """Tokenize each event as ``<type_char><id>;`` and concatenate per
    key in (ts, id) order — the shared front half of every type-pattern
    scan (one shuffle; everything downstream is narrow). When
    ``guard_regex`` contains a recursive loop (see ``_RECURSIVE_LOOP``),
    the per-key row COUNT — a free column of the same aggregation, so
    the guard costs one integer comparison however often downstream
    projection collapse inlines ``s`` — is asserted under
    ``_GUARD_TOKENS`` before the string is released to the scan."""
    tok_char: F.Column = F.lit("z")
    for etype, ch in reversed(chars.items()):
        tok_char = F.when(F.col(type_col) == etype, ch).otherwise(tok_char)
    toks = events.select(
        *[F.col(k) for k in keys],
        F.struct(
            F.col(ts).alias("ts"),
            F.col(id_col).alias("id"),
            F.concat(tok_char, F.col(id_col).cast("string"), F.lit(";")).alias("tok"),
        ).alias("t"),
    )
    out = toks.groupBy(*keys).agg(
        F.concat_ws(
            "", F.transform(F.array_sort(F.collect_list("t")), lambda s: s["tok"])
        ).alias("s"),
        F.count(F.lit(1)).alias("__n_tok"),
    )
    if guard_regex is not None and _RECURSIVE_LOOP.search(guard_regex):
        chk = F.assert_true(
            F.col("__n_tok") <= F.lit(_GUARD_TOKENS), F.lit(_GUARD_MSG)
        )
        out = out.select(
            *[F.col(k) for k in keys],
            F.when(chk.isNull(), F.col("s")).alias("s"),
        )
    else:
        out = out.drop("__n_tok")
    return out


# An UNBOUNDED quantifier applied to a regex GROUP — `(?:...)+`,
# `(?:...)*`, `(?:...){m,}` — compiles to Java regex's recursive Loop
# node: one JVM stack frame per iteration, and for per-token atoms one
# frame per TOKEN. On a hot key that is not a slowdown but a
# StackOverflowError that KILLS the local JVM (measured round 10:
# the strict engine survives a 1000-token contiguous run and dies at
# 1500; the relaxed GROUP engine survives ~515 iterations in one
# match and dies by ~1030). The flat char-class lowerings
# (relaxed positive pieces, consecutive runs, greedy {m,}) carry no
# such construct and scan 200k-token keys iteratively (HOTKEY.json).
# Bounded `{m,n}` group repetition has plan-time-known depth and is
# exempt. Where the compiled pattern DOES contain a recursive loop,
# every token-string scan below guards the per-key token count and
# raises a pointed error instead of crashing the JVM. The bound is
# set below BOTH measured grains (per-token: safe at 1000, dead at
# 1500; per-iteration: safe at 515, dead by 1030 — iterations are
# bounded by tokens), with margin; every fixture key holds <= 99
# events, so no green path can fire it.
_RECURSIVE_LOOP = _re.compile(r"\)(?:[+*]|\{\d+,\})\??")
_GUARD_TOKENS = 500


_GUARD_MSG = (
    f"per-key token string exceeds {_GUARD_TOKENS} tokens and "
    "the pattern compiles to a recursive Java-regex loop "
    "(unbounded quantifier over a group/complement atom) — the "
    "scan would overflow the JVM stack; run sessionize(events, gap) "
    "and key the engine by [key, 'session_id'] to bound per-key "
    "state, or use a bounded {m,n} quantifier"
)


#: Per-key row bound for the FLAT anchored-scan engines (round 12,
#: VERDICT r11 "what's wrong" #3): the iterative / runagg families
#: scan per anchor, so a single unbounded hot key is O(rows²) —
#: HOTKEY.json measured 35.9 s at ONE 20k-row key (iterative_flat).
#: Above the bound the plan raises per key, naming the scale-safe
#: alternatives, instead of silently launching a job that cannot
#: finish (the cosine_pairs_blocked / graph.py gate precedent —
#: here as an in-plan assert, so NO extra Spark action is spent).
_ANCHOR_SCAN_ROWS = 20_000
_ANCHOR_SCAN_MSG = (
    f"per-key rows exceed the {_ANCHOR_SCAN_ROWS}-row anchored-scan "
    "gate: the FLAT iterative/runagg CEP forms are O(rows^2) per key "
    "(HOTKEY.json: 35.9s at one 20k-row key) — run sessionize(events, "
    "gap) and key the engine by [key, 'session_id'] (bounds the scan "
    "by session length), add a within_minutes bound, or pass "
    "max_key_rows=None / a higher bound to accept the quadratic "
    "knowingly"
)


def _guard_anchor_scan(arr_col, max_key_rows):
    """Wrap a collected per-key array with the anchored-scan hot-key
    gate: ``assert_true(size(arr) <= max_key_rows)`` inline in the
    projection — size() reads the stored array length (O(1)), the
    assert costs nothing on conforming keys, and exactly the keys that
    exceed the bound fail with a message naming the deployment
    alternatives. ``None`` disables the gate."""
    if max_key_rows is None:
        return arr_col
    chk = F.assert_true(
        F.size(arr_col) <= F.lit(int(max_key_rows)),
        F.lit(_ANCHOR_SCAN_MSG),
    )
    return F.when(chk.isNull(), arr_col)


_WINDOW_SCAN_MSG = (
    f"per-anchor within-window rows exceed the {_ANCHOR_SCAN_ROWS}-row "
    "anchored-scan gate: the within bound truncates each per-anchor "
    "scan at the window edge (a precomputed per-row extent — no "
    "per-anchor time pass), but a key whose rows all land inside ONE "
    "within window still runs O(window_rows) work per anchor "
    "(ADVICE r12) — shrink within_minutes, run sessionize(events, gap) "
    "and key the engine by [key, 'session_id'], or pass "
    "max_key_rows=None / a higher bound to accept the cost knowingly"
)


def _guard_window_scan(arr_col, max_key_rows):
    """The within-form counterpart of :func:`_guard_anchor_scan`
    (round 13, ADVICE r12 medium): with ``within_minutes`` set the
    per-anchor scan length is the anchor's precomputed in-window
    extent ``we``, so the honest hot-key bound is ``max(we)`` over the
    key — one O(n) transform per key, not per anchor. A key whose
    widest within window holds more rows than ``max_key_rows`` fails
    with a message naming the alternatives. ``None`` disables."""
    if max_key_rows is None:
        return arr_col
    chk = F.assert_true(
        F.coalesce(
            F.array_max(F.transform(arr_col, lambda x: x["we"])),
            F.lit(0).cast("long"),
        ) <= F.lit(int(max_key_rows)),
        F.lit(_WINDOW_SCAN_MSG),
    )
    return F.when(chk.isNull(), arr_col)


def _window_extent_col(events, keys, ts, id_col, within_minutes: int):
    """Per-row in-window extent ``we`` = number of LATER rows (in the
    per-key (ts, id) sort the collected array uses) whose timestamp is
    <= this row's ts + within — i.e. exactly the per-anchor scan
    length the within bound allows. Computed ONCE for all rows with a
    RANGE window frame over microsecond epochs (one partition sort,
    no shuffle beyond the engine's own, no per-anchor time pass):
    ``count over (range unbounded preceding .. +W us)`` is the 1-based
    position of the last in-window row, minus the row's own
    row_number. Exact vs the engines' previous
    ``ts <= anchor_ts + INTERVAL W MINUTE`` filter: both compare
    microsecond instants."""
    from pyspark.sql.window import Window

    us = int(within_minutes) * 60_000_000
    # microsecond epoch WITHOUT session-timezone sensitivity (the
    # driver runs a vanilla session in the HOST timezone, where an
    # NTZ->TIMESTAMP cast is non-monotone across a DST boundary):
    # NTZ diffs against the NTZ epoch via timestampdiff (pure wall
    # arithmetic); instants use unix_micros directly
    dt = dict(events.dtypes).get(ts, "")
    if dt == "timestamp_ntz":
        micros = F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts}`)")
    else:
        micros = F.unix_micros(F.col(ts).cast("timestamp"))
    wn = (
        Window.partitionBy(*keys)
        .orderBy(micros)
        .rangeBetween(Window.unboundedPreceding, us)
    )
    rn = Window.partitionBy(*keys).orderBy(ts, id_col)
    return (
        F.count(F.lit(1)).over(wn) - F.row_number().over(rn)
    ).cast("long").alias("we")


def _guard_tokens_array(arr_col, out_col, regex: str):
    """Pass ``out_col`` through unchanged, but if ``regex`` contains a
    recursive (unbounded group) loop, assert the per-key token COUNT
    (= ``size(arr_col)``, an O(1) stored length — safe to inline into
    per-row projections) stays under the measured-safe bound first —
    a clean per-key error beats a JVM-killing StackOverflowError."""
    if not _RECURSIVE_LOOP.search(regex):
        return out_col
    chk = F.assert_true(
        F.size(arr_col) <= F.lit(_GUARD_TOKENS), F.lit(_GUARD_MSG)
    )
    return F.when(chk.isNull(), out_col)


def _scan(
    events: DataFrame,
    pattern,
    chars: dict[str, str],
    regex: str,
    keys: list[str],
    ts: str,
    type_col: str,
    id_col: str,
) -> DataFrame:
    """Regex-scan the per-key token strings and decode measures — the
    shared back half of :func:`match_recognize` and
    :func:`match_recognize_permute` (they differ only in how the
    token-level regex is built from the flat variable list)."""
    seq = _seq_strings(events, chars, keys, ts, type_col, id_col,
                       guard_regex=regex)
    matched = seq.select(
        *[F.col(k) for k in keys],
        F.posexplode(F.regexp_extract_all("s", F.lit(regex), F.lit(0))),
    ).select(
        *[F.col(k) for k in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract("col", "^[a-z]([0-9]+);", 1).cast("long").alias("first_event_id"),
        F.regexp_extract("col", "([0-9]+);$", 1).cast("long").alias("last_event_id"),
        (F.length("col") - F.length(F.translate("col", ";", ""))).cast("long").alias("n_rows"),
        *[_var_count_col(var, etype, chars) for var, etype, _ in pattern],
    )
    return matched


def _var_count_expr(col, var: str, etype, chars: dict[str, str]):
    """Negation-aware n_<var> measure over an arbitrary match-string
    column (the within scan's anchored match)."""
    cls_cnt = F.length(col) - F.length(
        F.translate(col, _var_class(etype, chars), "")
    )
    if _var_negated(etype):
        n_rows = F.length(col) - F.length(F.translate(col, ";", ""))
        return (n_rows - cls_cnt).cast("long").alias(f"n_{var.lower()}")
    return cls_cnt.cast("long").alias(f"n_{var.lower()}")


def _var_count_col(var: str, etype, chars: dict[str, str]):
    """Measure column n_<var>: rows of the match satisfying the
    variable's TYPE PREDICATE (shared across variables with the same
    predicate, as documented); for a complement predicate it is
    n_rows minus the named-class count."""
    cls_cnt = (
        F.length("col") - F.length(F.translate("col", _var_class(etype, chars), ""))
    )
    if _var_negated(etype):
        n_rows = F.length("col") - F.length(F.translate("col", ";", ""))
        return (n_rows - cls_cnt).cast("long").alias(f"n_{var.lower()}")
    return cls_cnt.cast("long").alias(f"n_{var.lower()}")


def _key_list(key) -> list[str]:
    """A partition key given as one column or a list of columns (the
    engines' and oracles' shared convention), as a list."""
    return [key] if isinstance(key, str) else list(key)


def _key_eq(a: str, b: str, keys: list[str]) -> str:
    """SQL predicate ``a.k = b.k AND ...`` over every key column."""
    return " AND ".join(f"{a}.{k} = {b}.{k}" for k in keys)


def _key_cols(alias: str, keys: list[str]) -> str:
    """SQL select list ``alias.k, ...`` over every key column."""
    return ", ".join(f"{alias}.{k}" for k in keys)


def _oracle_core(
    pattern,
    keys: list[str],
    table: str,
    ts: str,
    type_col: str,
    id_col: str,
    regex_override: str | None = None,
) -> str:
    """Shared DuckDB replay of :func:`match_recognize` over ``table``
    (a name or a parenthesised relation) and (possibly composite)
    partition keys.
    ``regex_override`` lets PERMUTE substitute its alternation-expanded
    token regex while keeping the flat variable list for measures."""
    _validate(pattern)
    chars = _char_map(pattern)
    regex = regex_override or _token_regex(pattern, chars)
    case = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in chars.items())
    ks = ", ".join(keys)

    def strip_class(expr: str, cls: str) -> str:
        for c in cls:
            expr = f"replace({expr}, '{c}', '')"
        return expr

    def count_sql(var, etype):
        cls_cnt = (f"length(l[i]) - "
                   f"length({strip_class('l[i]', _var_class(etype, chars))})")
        if _var_negated(etype):
            return (f"CAST((length(l[i]) - length(replace(l[i], ';', '')))"
                    f" - ({cls_cnt}) AS BIGINT) AS n_{var.lower()}")
        return f"CAST({cls_cnt} AS BIGINT) AS n_{var.lower()}"

    var_counts = ",\n           ".join(
        count_sql(var, etype) for var, etype, _ in pattern
    )
    return f"""
    WITH src AS (SELECT * FROM {table}),
    toks AS (
        SELECT {ks},
               CASE {type_col} {case} ELSE 'z' END || {id_col} || ';' AS tok,
               {ts}, {id_col}
        FROM src
    ),
    seq AS (SELECT {ks}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {ks}),
    m AS (SELECT {ks}, regexp_extract_all(s, '{regex}') AS l FROM seq)
    SELECT {ks}, CAST(i AS BIGINT) AS match_no,
           CAST(regexp_extract(l[i], '^[a-z]([0-9]+);', 1) AS BIGINT) AS first_event_id,
           CAST(regexp_extract(l[i], '([0-9]+);$', 1) AS BIGINT) AS last_event_id,
           CAST(length(l[i]) - length(replace(l[i], ';', '')) AS BIGINT) AS n_rows,
           {var_counts}
    FROM m, unnest(generate_series(1, len(l))) AS t(i)
    """


def match_recognize_oracle_sql(
    pattern: list[tuple[str, str, str]],
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize` token-for-token."""
    return _oracle_core(pattern, _key_list(key), table,
                        ts, type_col, id_col)


def _token_regex_captured(pattern, chars) -> str:
    """The token regex with one CAPTURE group per variable — group i+1
    holds the full run variable i absorbed. The quantifier sits INSIDE
    the capture (``((?:atom)+)``), so the group always participates
    (capturing '' for a zero-row optional variable) and captures the
    ENTIRE run, in both Java regex and RE2."""
    pieces = []
    for _, etype, quant in pattern:
        pieces.append(f"((?:{_atom(etype, chars)}[0-9]+;){_quant_regex(quant)})")
    return "".join(pieces)


def _classified(var_name: str):
    """Single-argument transform lambda tagging each extracted id with
    its pattern variable's name."""
    return lambda x: F.struct(
        F.lit(var_name).alias("classifier"),
        x.cast("long").alias("event_id"),
    )


def match_recognize_all_rows(
    events: DataFrame,
    pattern: list[tuple[str, str, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """ALL ROWS PER MATCH output mode for :func:`match_recognize` —
    one output row per MATCHED EVENT, carrying SQL row-pattern
    matching's per-row measures ``MATCH_NUMBER()`` and ``CLASSIFIER()``
    (the pattern variable that absorbed the row). Same pattern
    language (type alternations; greedy/reluctant/bounded quantifiers),
    greedy left-to-right enumeration, AFTER MATCH SKIP PAST LAST ROW.

    Lowering: the token regex gains one capture group per variable
    (quantifier inside the group, so each group captures its
    variable's whole run); ``regexp_extract_all(s, regex, i)`` then
    yields variable i's run for EVERY match, index-aligned across
    groups, so ``arrays_zip`` + ``posexplode`` recovers (match_no,
    per-variable runs) and a second explode splits runs into
    (classifier, event_id) rows — variable order concatenation IS row
    order because the pattern is a sequence. Still one shuffle, zero
    Python; k+0 extra regex passes over each key string (k = pattern
    arity, a constant). Row attribution is by VARIABLE (not type
    char), so two variables sharing an event type classify correctly.

    Returns ``key..., match_no, row_in_match (1-based), classifier,
    event_id`` — joining back to the input on ``event_id`` recovers
    the full input row, SQL's ALL ROWS pass-through.
    """
    _validate(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(pattern)
    regex = _token_regex_captured(pattern, chars)
    seq = _seq_strings(events, chars, keys, ts, type_col, id_col,
                       guard_regex=regex)
    return _all_rows_decode(seq, keys, regex, [v for v, _, _ in pattern])


def _all_rows_decode(
    seq: DataFrame, keys: list[str], regex: str, var_names: list[str]
) -> DataFrame:
    """Decode a per-variable-captured regex scan of per-key token
    strings (column ``s``) into one row per matched event — the shared
    back half of both ALL ROWS engines (type patterns and bitmask
    DEFINE patterns differ only in tokenization and regex alphabet)."""
    k = len(var_names)
    groups = seq.select(
        *[F.col(c) for c in keys],
        *[
            F.regexp_extract_all("s", F.lit(regex), F.lit(i + 1)).alias(f"g{i}")
            for i in range(k)
        ],
    )
    zipped = groups.select(
        *[F.col(c) for c in keys],
        F.posexplode(F.arrays_zip(*[F.col(f"g{i}") for i in range(k)])),
    ).select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.flatten(
            F.array(
                *[
                    F.transform(
                        F.regexp_extract_all(
                            F.col("col")[f"g{i}"],
                            F.lit("[a-z]([0-9]+);"),
                            F.lit(1),
                        ),
                        # one-arg lambda via factory: F.transform treats
                        # a two-arg lambda as (element, index)
                        _classified(var_names[i]),
                    )
                    for i in range(k)
                ]
            )
        ).alias("rows"),
    )
    return zipped.select(
        *[F.col(c) for c in keys],
        "match_no",
        F.posexplode("rows"),
    ).select(
        *[F.col(c) for c in keys],
        "match_no",
        (F.col("pos") + 1).cast("long").alias("row_in_match"),
        F.col("col")["classifier"].alias("classifier"),
        F.col("col")["event_id"].alias("event_id"),
    )


def match_recognize_all_rows_oracle_sql(
    pattern: list[tuple[str, str, str]],
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_all_rows` — the same
    per-variable capture groups (RE2 shares Java's greedy/lazy
    leftmost-first preference, so every group captures the same run),
    a per-variable UNION ALL unnest, and row_in_match numbered by
    (variable position, position within the run)."""
    _validate(pattern)
    key = ", ".join(_key_list(key))
    chars = _char_map(pattern)
    regex = _token_regex_captured(pattern, chars)
    case = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in chars.items())
    prefix = f"""
    WITH src AS (SELECT * FROM {table}),
    toks AS (
        SELECT {key},
               CASE {type_col} {case} ELSE 'z' END || {id_col} || ';' AS tok,
               {ts}, {id_col}
        FROM src
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key})"""
    return prefix + _all_rows_oracle_tail(
        key, regex, [v for v, _, _ in pattern]
    )


def match_recognize_all_rows_unmatched(
    events: DataFrame,
    pattern: list[tuple[str, str, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """SQL:2016's ``ALL ROWS PER MATCH WITH UNMATCHED ROWS``: every
    input row appears exactly once — rows inside a match carry their
    ``match_no`` / ``row_in_match`` / ``classifier``; rows no match
    absorbed come back with NULLs in those columns. Exact under AFTER
    MATCH SKIP PAST LAST ROW because matches never share rows, so a
    LEFT join from the input to the per-row match table on
    (key, event_id) is the whole lowering — the match side is a small
    fraction of the input and arrives hashed on the same key columns.

    Returns ``key..., event_id, ts, event_type, match_no,
    row_in_match, classifier`` (the input row surface + measures).
    """
    keys = [key] if isinstance(key, str) else list(key)
    matched = match_recognize_all_rows(
        events, pattern, key=keys, ts=ts, type_col=type_col, id_col=id_col
    )
    return events.select(
        *[F.col(k) for k in keys],
        F.col(id_col).alias("event_id"),
        F.col(ts).alias("ts"),
        F.col(type_col).alias("event_type"),
    ).join(matched, [*keys, "event_id"], "left").select(
        *[F.col(k) for k in keys],
        "event_id", "ts", "event_type",
        "match_no", "row_in_match", "classifier",
    )


def match_recognize_all_rows_unmatched_oracle_sql(
    pattern: list[tuple[str, str, str]],
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_all_rows_unmatched`
    (the ALL ROWS oracle LEFT-joined from the input)."""
    inner = match_recognize_all_rows_oracle_sql(
        pattern, table, key, ts, type_col, id_col
    )
    keys = _key_list(key)
    return f"""
    SELECT {_key_cols('e', keys)}, e.{id_col} AS event_id, e.{ts} AS ts,
           e.{type_col} AS event_type,
           ar.match_no, ar.row_in_match, ar.classifier
    FROM {table} e
    LEFT JOIN ({inner}) ar
           ON {_key_eq('ar', 'e', keys)} AND ar.event_id = e.{id_col}
    """


def _all_rows_oracle_tail(key: str, regex: str, var_names: list[str]) -> str:
    """The shared DuckDB decode of a per-variable-captured scan: group
    arrays per variable (index-aligned across matches), a per-variable
    UNION ALL unnest, and row_in_match numbered by (variable position,
    position within the run). Appends to a WITH prefix whose final CTE
    is ``seq({key}, s)``."""
    k = len(var_names)
    gcols = ",\n               ".join(
        f"regexp_extract_all(s, '{regex}', {i + 1}) AS g{i}" for i in range(k)
    )
    gsel = ", ".join(f"g{i}[i] AS r{i}" for i in range(k))
    branches = "\n      UNION ALL\n        ".join(
        f"SELECT {key}, match_no, {i} AS vord, '{var_names[i]}' AS classifier,\n"
        f"               regexp_extract_all(r{i}, '[a-z]([0-9]+);', 1) AS ids\n"
        f"        FROM pm"
        for i in range(k)
    )
    return f""",
    m AS (SELECT {key},
               len(regexp_extract_all(s, '{regex}', 0)) AS nm,
               {gcols}
          FROM seq),
    pm AS (SELECT {key}, CAST(i AS BIGINT) AS match_no, {gsel}
           FROM m, unnest(generate_series(1, nm)) AS t(i)),
    vr AS (
        {branches}
    ),
    ex AS (SELECT {key}, match_no, vord, classifier, j,
                  CAST(ids[j] AS BIGINT) AS event_id
           FROM vr, unnest(generate_series(1, len(ids))) AS t(j))
    SELECT {key}, match_no,
           CAST(row_number() OVER (PARTITION BY {key}, match_no
                                   ORDER BY vord, j) AS BIGINT) AS row_in_match,
           classifier, event_id
    FROM ex
    """


def _leading_classes(pattern, chars: dict[str, str]) -> str:
    """The token chars a match may START with: the classes of every
    leading variable up to and including the first with a nonzero
    minimum row count. Used as an exact anchor prune (a candidate
    offset whose first token is outside this set cannot begin a
    match)."""
    out = ""
    for _, etype, quant in pattern:
        if _var_negated(etype):
            return ""  # complement class: no positive prune possible
        out += _var_class(etype, chars)
        if _quant_min(quant) >= 1:
            break
    return "".join(dict.fromkeys(out))


def _within_row_cols(keys: list[str], ts: str, id_col: str,
                     within_minutes: int) -> list:
    """The two per-row columns the within anchored scan precomputes on
    the WINDOW side of its one shuffle (round 16): ``noff`` = 1 +
    running token-length sum through the current row (== the old
    ``offs[j+1]`` fold entry — every engine's token is
    ``<char><id>;``, so its length is 2 + len(str(id)) regardless of
    the token char), and ``r`` = COUNT of partition rows with
    ``ts <= ts_row + within`` via an interval RANGE frame (closed
    bound, pure NTZ arithmetic — bit-identical to the old per-anchor
    ``size(filter(arr, ts <= bound))``, cross-checked exhaustively at
    sf0.1). Both ride the same (keys, ts, id) exchange the collect_list
    uses; they replace an O(rows²) array-copy fold and an O(rows²)
    per-anchor interpreted scan with two O(rows) window passes
    (guide §2.4 — same-key operations share one exchange)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    tok_len = F.length(F.col(id_col).cast("string")) + F.lit(2)
    noff = (
        F.sum(tok_len).over(w.rowsBetween(Window.unboundedPreceding, 0))
        + F.lit(1)
    ).alias("noff")
    part = ", ".join(f"`{k}`" for k in keys)
    r = F.expr(
        f"count(*) OVER (PARTITION BY {part} ORDER BY `{ts}` "
        f"RANGE BETWEEN UNBOUNDED PRECEDING AND "
        f"INTERVAL {int(within_minutes)} MINUTES FOLLOWING)"
    ).alias("r")
    return [noff, r]


def _within_core(
    grouped: DataFrame,
    keys: list[str],
    anchored: str,
    lead: str,
) -> DataFrame:
    """The shared anchored time-truncated scan: ``grouped`` holds one
    sorted ``arr`` of (ts, id, tok, noff, r) structs per key — noff/r
    are the :func:`_within_row_cols` window precomputations. For each
    (pruned) anchor j the eligible run is the contiguous rows 1-based
    j..r_j (``ts <= ts_j + win`` — r_j precomputed); the anchored
    regex applies to exactly that substring, and a fold selects
    matches left to right, resuming after each match's last row.
    Returns keys + posexplode(pos, col) where col = {off, m} —
    callers decode measures from ``m``."""
    arr = F.col("arr")
    n = F.size(arr)
    toks = F.transform(arr, lambda r: r["tok"])
    g2 = grouped.select(
        *[F.col(k) for k in keys],
        arr,
        F.concat_ws("", toks).alias("s"),
    )

    def at(i):
        return F.element_at(arr, i.cast("int"))

    guard_scan = _RECURSIVE_LOOP.search(anchored) is not None

    def cand(j):
        # eligible rows: the contiguous run j..r_j (precomputed on the
        # window side — the old per-anchor O(rows) ts scan)
        r_j = at(j)["r"]
        off_j = at(j)["noff"] - (F.length(at(j)["tok"]))
        end_off = at(r_j)["noff"]
        m = F.regexp_extract(
            F.col("s").substr(off_j, end_off - off_j), anchored, 0
        )
        if guard_scan:
            # the WITHIN window is the scanned span here, so the
            # recursion bound is the window's token count, not the
            # key's (the _GUARD_TOKENS rationale)
            chk = F.assert_true(
                r_j - j + 1 <= F.lit(_GUARD_TOKENS),
                F.lit(
                    f"a WITHIN window holds more than {_GUARD_TOKENS} "
                    "tokens and the pattern compiles to a recursive "
                    "Java-regex loop — shrink the window or sessionize"
                ),
            )
            m = F.when(chk.isNull(), m)
        return F.struct(off_j.cast("long").alias("off"), m.alias("m"))

    anchors = (
        F.filter(
            F.sequence(F.lit(1), n),
            lambda j: F.substring(at(j)["tok"], 1, 1).isin(*lead),
        )
        if lead else F.sequence(F.lit(1), n)
    )
    cands = F.filter(F.transform(anchors, cand), lambda c: c["m"] != "")
    init = F.expr(
        "named_struct('p', CAST(1 AS BIGINT), "
        "'sel', CAST(array() AS array<struct<off:bigint,m:string>>))"
    )
    sel = F.aggregate(
        cands,
        init,
        lambda acc, c: F.when(
            c["off"] >= acc["p"],
            F.struct(
                (c["off"] + F.length(c["m"])).cast("bigint").alias("p"),
                F.concat(acc["sel"], F.array(c)).alias("sel"),
            ),
        ).otherwise(acc),
    )["sel"]
    return g2.select(*[F.col(k) for k in keys], F.posexplode(sel))


def match_recognize_within(
    events: DataFrame,
    pattern: list[tuple[str, str, str]],
    within_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink CEP's ``WITHIN`` clause for the type-pattern engine: a
    match is valid only if ALL its rows fall inside
    ``[first_ts, first_ts + within_minutes]`` — a pattern that cannot
    complete inside the window produces no match (and, per greedy
    backtracking, a shorter in-window completion is preferred over no
    match). Greedy, ONE ROW PER MATCH, AFTER MATCH SKIP PAST LAST ROW,
    left-to-right non-overlapping enumeration by start row.

    Lowering: the global extract-all scan cannot express a per-match
    time bound, so this uses the anchored machinery: per key the
    ordered rows are collected once; for each anchor row j the
    eligible run is the contiguous rows with ``ts <= ts_j + within``
    (a pure timestamp comparison — no epoch conversion, so
    TIMESTAMP_NTZ never passes through a session-timezone cast and
    both engines compare identical values), and the anchored regex is
    applied to exactly that substring of the token string — greedy
    matching inside the truncated window IS constraint-aware
    backtracking. A fold then selects matches left to right, resuming
    after each match's last row. Anchors are pruned to offsets whose
    token char can begin a match. Per-key O(rows x window) like the
    other anchored modes; ``key`` may be a (key, session_id) composite
    to bound it by session length, the deployment shape.

    Returns ``key..., match_no, first_event_id, last_event_id,
    n_rows, n_<var>...`` (the :func:`match_recognize` measure set).
    Semantics source: Flink CEP / MATCH_RECOGNIZE WITHIN (public
    docs, per SURVEY §0); the window boundary is CLOSED (a row at
    exactly first_ts + within is eligible), which the oracle replays.
    """
    _validate(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(pattern)
    regex = _token_regex(pattern, chars)
    anchored = f"^(?:{regex})"
    lead = _leading_classes(pattern, chars)

    tok_char: F.Column = F.lit("z")
    for etype, ch in reversed(chars.items()):
        tok_char = F.when(F.col(type_col) == etype, ch).otherwise(tok_char)
    rows = events.select(
        *[F.col(k) for k in keys],
        F.struct(
            F.col(ts).alias("ts"),
            F.col(id_col).alias("id"),
            F.concat(tok_char, F.col(id_col).cast("string"), F.lit(";"))
            .alias("tok"),
            *_within_row_cols(keys, ts, id_col, within_minutes),
        ).alias("t"),
    )
    grouped = rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("t")).alias("arr")
    )
    out = _within_core(grouped, keys, anchored, lead)
    m = F.col("col")["m"]
    return out.select(
        *[F.col(k) for k in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(m, "^[a-z]([0-9]+);", 1).cast("long")
        .alias("first_event_id"),
        F.regexp_extract(m, "([0-9]+);$", 1).cast("long")
        .alias("last_event_id"),
        (F.length(m) - F.length(F.translate(m, ";", "")))
        .cast("long").alias("n_rows"),
        *[_var_count_expr(m, var, etype, chars) for var, etype, _ in pattern],
    )


def match_recognize_within_oracle_sql(
    pattern: list[tuple[str, str, str]],
    within_minutes: int,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_within`: the same
    per-anchor time-truncated substring (the eligible-run end found
    with an interval RANGE window — a ts-only count, identical to the
    Spark filter), the same anchored regex, and the same left-to-right
    resume-after-match selection via a recursive CTE."""
    keys = _key_list(key)
    key = ", ".join(keys)
    _validate(pattern)
    chars = _char_map(pattern)
    regex = _token_regex(pattern, chars)
    case = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in chars.items())
    lead = _leading_classes(pattern, chars)
    prune = (
        "WHERE substring(r.tok, 1, 1) IN ("
        + ", ".join(f"'{c}'" for c in lead) + ")"
    ) if lead else ""

    def strip_class(expr: str, cls: str) -> str:
        for c in cls:
            expr = f"replace({expr}, '{c}', '')"
        return expr

    def count_sql(var, etype):
        cls_cnt = (f"length(m) - "
                   f"length({strip_class('m', _var_class(etype, chars))})")
        if _var_negated(etype):
            return (f"CAST((length(m) - length(replace(m, ';', '')))"
                    f" - ({cls_cnt}) AS BIGINT) AS n_{var.lower()}")
        return f"CAST({cls_cnt} AS BIGINT) AS n_{var.lower()}"

    var_counts = ",\n           ".join(
        count_sql(var, etype) for var, etype, _ in pattern
    )
    return f"""
    WITH RECURSIVE src AS (SELECT * FROM {table}),
    toks AS (
        SELECT {key}, {ts}, {id_col},
               CASE {type_col} {case} ELSE 'z' END || {id_col} || ';' AS tok
        FROM src
    ),
    r AS (
        SELECT {key}, {ts}, {id_col}, tok,
               row_number() OVER w AS rn,
               CAST(1 + COALESCE(SUM(length(tok))
                   OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS off,
               COUNT(*) OVER (PARTITION BY {key} ORDER BY {ts}
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND INTERVAL {int(within_minutes)} MINUTE
                                  FOLLOWING) AS rj
        FROM toks
        WINDOW w AS (PARTITION BY {key} ORDER BY {ts}, {id_col})
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key}),
    hits AS (
        SELECT {_key_cols('r', keys)}, r.off,
               regexp_extract(
                   substring(q.s, CAST(r.off AS INT),
                             CAST(COALESCE(r2.off, length(q.s) + 1) - r.off
                                  AS INT)),
                   '^(?:{regex})', 0) AS m
        FROM r
        JOIN seq q ON {_key_eq('q', 'r', keys)}
        LEFT JOIN r r2 ON {_key_eq('r2', 'r', keys)} AND r2.rn = r.rj + 1
        {prune}
    ),
    hr AS (SELECT {key}, off, m,
                  CAST(off + length(m) AS BIGINT) AS resume
           FROM hits WHERE m <> ''),
    pick AS (
        SELECT {key}, off, m, resume, 1 AS match_no
        FROM hr h
        WHERE off = (SELECT min(off) FROM hr h2 WHERE {_key_eq('h2', 'h', keys)})
      UNION ALL
        SELECT {_key_cols('n', keys)}, n.off, n.m, n.resume, p.match_no + 1
        FROM pick p JOIN hr n ON {_key_eq('n', 'p', keys)} AND n.off >= p.resume
        WHERE n.off = (SELECT min(n2.off) FROM hr n2
                       WHERE {_key_eq('n2', 'p', keys)} AND n2.off >= p.resume)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           CAST(regexp_extract(m, '^[a-z]([0-9]+);', 1) AS BIGINT)
               AS first_event_id,
           CAST(regexp_extract(m, '([0-9]+);$', 1) AS BIGINT)
               AS last_event_id,
           CAST(length(m) - length(replace(m, ';', ''))
               AS BIGINT) AS n_rows,
           {var_counts}
    FROM pick
    """


def _permute_parts(perm, prefix, suffix):
    """Validate a PERMUTE spec and return (flat_pattern, chars, regex).

    ``perm`` is a list of ``(variable, event_type_or_tuple)`` — each
    permuted variable matches EXACTLY ONE row (SQL's
    ``PATTERN (PERMUTE(A, B, C))``, which the standard defines as the
    alternation of all k! orderings expanded in lexicographic order —
    exactly what leftmost-first regex alternation over
    ``itertools.permutations`` tries). ``prefix``/``suffix`` are
    ordinary quantified variable lists around the permuted group."""
    import itertools

    perm = list(perm)
    if not 2 <= len(perm) <= 4:
        raise ValueError("PERMUTE takes 2..4 variables (k! alternation)")
    for var, etype in perm:
        if _var_negated(etype):
            raise ValueError(
                f"PERMUTE variable {var!r}: complement predicates are not "
                "supported inside PERMUTE groups")
    flat = (list(prefix)
            + [(var, etype, "1") for var, etype in perm]
            + list(suffix))
    _validate(flat)
    chars = _char_map(flat)

    def atom(etype):
        return f"(?:{_atom(etype, chars)}[0-9]+;)"

    alts = "|".join(
        "".join(atom(etype) for _, etype in order)
        for order in itertools.permutations(perm)
    )
    pre = "".join(f"{atom(e)}{_quant_regex(q)}" for _, e, q in prefix)
    post = "".join(f"{atom(e)}{_quant_regex(q)}" for _, e, q in suffix)
    return flat, chars, f"{pre}(?:{alts}){post}"


def match_recognize_permute(
    events: DataFrame,
    perm: list[tuple[str, object]],
    prefix: list[tuple[str, object, str]] = (),
    suffix: list[tuple[str, object, str]] = (),
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """``PATTERN (<prefix> PERMUTE(A, B, ...) <suffix>)`` — the permuted
    variables each match exactly one row, in ANY order; lowered to a
    leftmost-first regex alternation over the k! orderings (k ≤ 4, so at
    most 24 alternatives — a constant-size regex, same one-shuffle plan
    as :func:`match_recognize`). Greedy, ONE ROW PER MATCH, AFTER MATCH
    SKIP PAST LAST ROW. Output schema is identical to
    :func:`match_recognize` over the flattened variable list (per-TYPE
    row counts, as documented there)."""
    flat, chars, regex = _permute_parts(perm, prefix, suffix)
    keys = [key] if isinstance(key, str) else list(key)
    return _scan(events, flat, chars, regex, keys, ts, type_col, id_col)


def match_recognize_permute_oracle_sql(
    perm: list[tuple[str, object]],
    prefix: list[tuple[str, object, str]] = (),
    suffix: list[tuple[str, object, str]] = (),
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_permute` — the same
    alternation-expanded regex (RE2 shares Java's leftmost-first
    alternation preference, so the permutation tried first is the same)."""
    flat, _, regex = _permute_parts(perm, prefix, suffix)
    return _oracle_core(flat, _key_list(key), table,
                        ts, type_col, id_col, regex_override=regex)


def _group_parts(pattern):
    """Lower a GROUPED pattern (SQL:2016 row-pattern groups / Flink
    CEP's ``GroupPattern``): an element is either a plain variable
    ``(var, types, quant)`` or a group ``(group_name, [inner
    elements...], quant)`` whose quantifier applies to the whole
    parenthesized sequence — ``[("V","view","1"), ("G",[("C","click",
    "1"),("P","purchase","1")],"+")]`` ≡ ``PATTERN (V (C P)+)``.

    Scope: one nesting level (a group may not contain a group), and a
    group's inner variables must guarantee at least one row per
    iteration (total inner minimum >= 1) — zero-width loop iterations
    are where regex engines' loop-termination heuristics diverge, so
    they are rejected at plan time rather than left engine-defined.
    Validation runs over EFFECTIVE minimums (a group with min 0 makes
    every inner variable optional), so the leading-negation and
    empty-match rules hold exactly as in the flat engine.

    Returns ``(flat_vars, chars, token_regex)``: the flat variable
    list drives measures, the regex wraps each group's concatenated
    atoms in ``(?:...)``<quant> — identical syntax and leftmost-first
    semantics in Java regex and RE2, so the DuckDB oracle replays it.
    """
    flat: list[tuple] = []
    for el in pattern:
        if not (isinstance(el, tuple) and len(el) == 3):
            raise ValueError(
                "pattern element must be (name, types_or_inner_list, quant)")
        name, body, quant = el
        if isinstance(body, list):
            if not body:
                raise ValueError(f"group {name!r} needs at least one variable")
            for sub in body:
                if not (isinstance(sub, tuple) and len(sub) == 3):
                    raise ValueError(
                        f"group {name!r}: inner element must be "
                        "(var, types, quant)")
                if isinstance(sub[1], list):
                    raise ValueError(
                        "nested groups are not supported (one level — "
                        "see COVERAGE.md)")
                _quant_regex(sub[2])
            _quant_regex(quant)
            # Intentionally broader than the loop hazard requires: only
            # repeating group quantifiers (+/*/{m,n} with n>1) can
            # produce divergent zero-width iterations, but the rule is
            # applied to EVERY group so a pattern's validity doesn't
            # flip when its group quantifier changes (ADVICE r8).
            if sum(_quant_min(q) for _, _, q in body) == 0:
                raise ValueError(
                    f"group {name!r}: inner variables must guarantee at "
                    "least one row per iteration (zero-width loop "
                    "iterations are rejected at plan time)")
            flat.extend(body)
        else:
            flat.append(el)
    # effective-minimum view: group min 0 => inner variables optional
    eff = []
    for name, body, quant in pattern:
        if isinstance(body, list):
            gmin = _quant_min(quant)
            eff.extend((v, e, q if gmin >= 1 else "*") for v, e, q in body)
        else:
            eff.append((name, body, quant))
    _validate(eff)
    chars = _char_map(flat)
    pieces = []
    for name, body, quant in pattern:
        if isinstance(body, list):
            inner = "".join(
                f"(?:{_atom(e, chars)}[0-9]+;){_quant_regex(q)}"
                for _, e, q in body)
            pieces.append(f"(?:{inner}){_quant_regex(quant)}")
        else:
            pieces.append(
                f"(?:{_atom(body, chars)}[0-9]+;){_quant_regex(quant)}")
    return flat, chars, "".join(pieces)


def match_recognize_groups(
    events: DataFrame,
    pattern: list[tuple],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """MATCH_RECOGNIZE with GROUPED quantifiers — ``PATTERN
    ((A B)+ C)`` and friends: a quantifier applied to a parenthesized
    SEQUENCE of variables (SQL:2016 row-pattern grammar; Flink CEP's
    ``GroupPattern`` via ``begin(Pattern)``, public docs per SURVEY
    §0). Pattern elements are ``(var, types, quant)`` or
    ``(group_name, [inner elements], quant)`` — see
    :func:`_group_parts` for the scope rules. All quantifier forms of
    :func:`match_recognize` (greedy/reluctant/bounded) apply to groups
    too. Greedy ONE ROW PER MATCH, AFTER MATCH SKIP PAST LAST ROW;
    same single-shuffle token-string plan and output schema as
    :func:`match_recognize` over the flattened variable list."""
    flat, chars, regex = _group_parts(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    return _scan(events, flat, chars, regex, keys, ts, type_col, id_col)


def match_recognize_groups_oracle_sql(
    pattern: list[tuple],
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_groups` — the same
    group-wrapped token regex (``(?:...)`` + quantifier behave
    identically in Java regex and RE2)."""
    flat, _, regex = _group_parts(pattern)
    return _oracle_core(flat, _key_list(key), table,
                        ts, type_col, id_col, regex_override=regex)


def _validate_defines(pattern) -> None:
    """pattern: list of (var, define, quant) where define is a dict with
    optional keys ``types`` (event-type alternation, as in
    :func:`match_recognize`), ``dir`` ('up' | 'down': the row's value
    compared to PREV(value)) and ``next_dir`` ('up' | 'down': compared
    to NEXT(value)) — PREV/NEXT navigate PHYSICAL rows of the full
    partition order, SQL MATCH_RECOGNIZE's default offset navigation.
    An empty define matches any row (the STRT variable of the classic
    V-pattern)."""
    if not pattern:
        raise ValueError("pattern needs at least one variable")
    if len(pattern) > 4:
        raise ValueError("at most 4 variables with DEFINE conditions "
                         "(bitmask alphabet is 2^k chars)")
    seen = set()
    for var, define, quant in pattern:
        _quant_regex(quant)  # raises on malformed quantifiers
        if var in seen:
            raise ValueError(f"duplicate pattern variable {var!r}")
        seen.add(var)
        bad = set(define) - {"types", "dir", "next_dir"}
        if bad:
            raise ValueError(f"unknown define keys {sorted(bad)}")
        _reject_empty_types(var, define)
        for d in ("dir", "next_dir"):
            if define.get(d) not in (None, "up", "down"):
                raise ValueError(f"{d} must be 'up' or 'down'")
    _reject_empty_match(pattern)


def _reject_empty_types(var: str, define: dict) -> None:
    """An explicitly-present empty ``types`` tuple is a contradiction
    (the variable could match no event type at all) — raise, matching
    :func:`_validate`'s 'needs at least one event type' behavior across
    every CEP entry point (ADVICE r6: the DEFINE paths used to treat it
    silently as 'no type constraint')."""
    if "types" in define and not _types_of(define["types"]):
        raise ValueError(f"variable {var!r} needs at least one event type")


def _bitmask_classes(pattern) -> list[str]:
    """Char class per variable: chars 'a'+(bitmask) where the variable's
    bit is set. Bitmask 0 ('a') satisfies no variable — the 'z' of the
    type-only lowering."""
    k = len(pattern)
    return [
        "".join(chr(ord("a") + m) for m in range(1 << k) if m & (1 << i))
        for i in range(k)
    ]


def _define_regex(pattern) -> str:
    classes = _bitmask_classes(pattern)
    return "".join(
        f"(?:[{cls}][0-9]+;){_quant_regex(quant)}"
        for cls, (_, _, quant) in zip(classes, pattern)
    )


def _define_regex_captured(pattern) -> str:
    """The bitmask define regex with one capture group per variable
    (quantifier inside the group) — the ALL ROWS alphabet variant of
    :func:`_token_regex_captured`."""
    classes = _bitmask_classes(pattern)
    return "".join(
        f"((?:[{cls}][0-9]+;){_quant_regex(quant)})"
        for cls, (_, _, quant) in zip(classes, pattern)
    )


def _quant_min(quant: str) -> int:
    if quant in ("1", "+", "+?"):
        return 1
    if quant in ("?", "*", "??", "*?"):
        return 0
    m = _BOUNDED.match(quant)
    if m is None:
        # reachable before _validate's own quantifier loop (e.g. via
        # _reject_leading_negation) — raise the same friendly error as
        # _quant_regex instead of AttributeError on a None match
        raise ValueError(
            f"quantifier {quant!r} not in {sorted(_QUANTS)} or {{m,n}} form"
        )
    return int(m.group(1))


def _parse_skip(skip: str, pattern) -> tuple[str, int | None]:
    """Parse the AFTER MATCH policy: 'past_last_row', 'to_next_row',
    'to_first:<VAR>' or 'to_last:<VAR>'. For the variable-targeted
    modes, statically reject patterns where the resume position could
    equal the match start (SQL/Flink raise a runtime error for
    non-advancing skips; we reject at plan time): TO FIRST needs at
    least one guaranteed row before the target variable; TO LAST needs
    that, or the target to match at least two rows."""
    if skip in ("past_last_row", "to_next_row"):
        return skip, None
    for mode in ("to_first", "to_last"):
        if skip.startswith(mode + ":"):
            var = skip[len(mode) + 1:]
            names = [v for v, _, _ in pattern]
            if var not in names:
                raise ValueError(f"skip target {var!r} not a pattern variable")
            j = names.index(var)
            mins = [_quant_min(q) for _, _, q in pattern]
            if mode == "to_last" and mins[j] < 1:
                raise ValueError(
                    f"SKIP TO LAST {var}: target may match zero rows")
            if sum(mins[:j]) < 1 and not (mode == "to_last" and mins[j] >= 2):
                raise ValueError(
                    f"SKIP {mode.upper().replace('_', ' ')} {var} could "
                    "resume at the match start (non-advancing skip)")
            return mode, j
    raise ValueError(
        "skip must be 'past_last_row', 'to_next_row', 'to_first:<VAR>' "
        "or 'to_last:<VAR>'")


def _define_regex_grouped(pattern, j: int) -> str:
    """The define regex with capture group 1 = everything before the
    target variable and group 2 = the target variable's rows."""
    classes = _bitmask_classes(pattern)

    def piece(i: int) -> str:
        return f"(?:[{classes[i]}][0-9]+;){_quant_regex(pattern[i][2])}"

    pre = "".join(piece(i) for i in range(j))
    rest = "".join(piece(i) for i in range(j + 1, len(pattern)))
    return f"({pre})({piece(j)})" + (f"(?:{rest})" if rest else "")


def _define_tokens(
    events: DataFrame,
    pattern,
    keys: list[str],
    ts: str,
    type_col: str,
    id_col: str,
    value_col: str,
    within_minutes: int | None = None,
) -> DataFrame:
    """Bitmask tokenization for DEFINE-based matching: lag/lead the
    value column in one ordered window, evaluate every variable's
    define per row, and emit ``chr(97 + bitmask)<id>;`` tokens grouped
    into a per-key sorted ``toks`` array (one shuffle — the same
    exchange every downstream scan mode reuses).

    ``within_minutes`` (round 16): adds the :func:`_within_row_cols`
    noff/r fields to each struct — the WITHIN scan's per-row offset and
    eligible-run-end precomputations, riding the same window/shuffle as
    the lag/lead flags."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    prev_v = F.lag(value_col).over(w)
    next_v = F.lead(value_col).over(w)
    bm = F.lit(0)
    for i, (_, define, _) in enumerate(pattern):
        conds = []
        if define.get("types"):
            conds.append(F.col(type_col).isin(*_types_of(define["types"])))
        if define.get("dir") == "up":
            conds.append(F.col(value_col) > prev_v)
        elif define.get("dir") == "down":
            conds.append(F.col(value_col) < prev_v)
        # next_dir describes the series' move INTO the next row:
        # 'down' = the next value is lower (a peak's right side)
        if define.get("next_dir") == "up":
            conds.append(F.col(value_col) < next_v)
        elif define.get("next_dir") == "down":
            conds.append(F.col(value_col) > next_v)
        sat = conds[0] if conds else F.lit(True)
        for c in conds[1:]:
            sat = sat & c
        bm = bm + F.when(sat, F.lit(1 << i)).otherwise(F.lit(0))
    extra: list = []
    if within_minutes is not None:
        extra = _within_row_cols(keys, ts, id_col, within_minutes)
    toks = events.select(
        *[F.col(k) for k in keys],
        F.struct(
            F.col(ts).alias("ts"),
            F.col(id_col).alias("id"),
            F.concat(
                F.char(bm + F.lit(97)),
                F.col(id_col).cast("string"),
                F.lit(";"),
            ).alias("tok"),
            *extra,
        ).alias("t"),
    )
    return toks.groupBy(*keys).agg(
        F.array_sort(F.collect_list("t")).alias("arr")
    ).select(
        *[F.col(k) for k in keys],
        "arr",  # kept for the WITHIN scan; projection-pruned otherwise
        F.transform("arr", lambda s: s["tok"]).alias("toks"),
    )


def match_recognize_define(
    events: DataFrame,
    pattern: list[tuple[str, dict, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    skip: str = "past_last_row",
) -> DataFrame:
    """MATCH_RECOGNIZE with DEFINE conditions that may reference
    ``PREV(value)`` and/or ``NEXT(value)`` — e.g. the classic V-shape
    ``PATTERN (STRT DOWN+ UP+) DEFINE DOWN AS value < PREV(value),
    UP AS value > PREV(value)``, or a local-maximum variable
    ``PK AS value > PREV(value) AND value > NEXT(value)`` — with
    quantifiers ``1 ? + *`` plus bounded ``{m,n}``, and both AFTER
    MATCH modes:
    ``skip='past_last_row'`` (non-overlapping, the default),
    ``skip='to_next_row'`` (a new match may begin at the row after the
    previous match's START — overlapping matches, Flink CEP's
    ``AFTER MATCH SKIP TO NEXT ROW``), or ``skip='to_first:<VAR>'`` /
    ``skip='to_last:<VAR>'`` (resume the scan AT the first/last row the
    target variable matched — inclusive, as in Flink's skipToFirst/
    skipToLast; patterns whose resume could equal the match start are
    rejected at plan time, mirroring SQL's non-advancing-skip error).

    Lowering: SQL PREV navigates PHYSICAL rows of the partition (not
    rows mapped to the same variable), so ``lag(value)`` computed before
    tokenization reproduces it exactly. Each row's token char encodes
    the BITMASK of which variables' defines it satisfies (2^k alphabet,
    k ≤ 4); variable i's regex class is every char with bit i set, so
    overlapping defines cost nothing. past_last_row = one greedy
    left-to-right regexp_extract_all scan, as in :func:`match_recognize`;
    to_next_row anchors the regex at EVERY token offset (offsets from a
    running length sum — one extra narrow window over the same
    partition; per-key work is rows × regex, bounded by session length
    in the sessionized deployment shape). First partition row has NULL
    PREV, so dir-conditions are false there — SQL semantics.

    Returns one row per match: ``key, match_no (1-based, in start
    order), first_event_id, last_event_id, n_rows``.
    """
    from pyspark.sql.window import Window

    _validate_defines(pattern)
    mode, target = _parse_skip(skip, pattern)
    keys = [key] if isinstance(key, str) else list(key)
    regex = _define_regex(pattern)
    seq = _define_tokens(events, pattern, keys, ts, type_col, id_col,
                         value_col)
    if mode == "past_last_row":
        return seq.select(
            *[F.col(k) for k in keys],
            F.posexplode(
                F.regexp_extract_all(
                    _guard_tokens_array(F.col("arr"),
                                        F.concat_ws("", "toks"), regex),
                    F.lit(regex), F.lit(0))
            ),
        ).select(
            *[F.col(k) for k in keys],
            (F.col("pos") + 1).cast("long").alias("match_no"),
            F.regexp_extract("col", "^[a-z]([0-9]+);", 1).cast("long")
            .alias("first_event_id"),
            F.regexp_extract("col", "([0-9]+);$", 1).cast("long")
            .alias("last_event_id"),
            (F.length("col") - F.length(F.translate("col", ";", "")))
            .cast("long").alias("n_rows"),
        )
    # anchored attempt at every token offset (1-based substring
    # positions from a running sum of token lengths). Round-16 note: a
    # window-side noff precomputation (the _within_core treatment) was
    # measured here and REVERTED — these to_next_row/skip pipelines
    # are otherwise sort-free, and the added sort+window+wider structs
    # cost ~1.3-1.6x at sf0.1; the fold's O(rows²) copies sit inside
    # the same anchored-scan envelope these modes already occupy.
    offsets = F.aggregate(
        "toks",
        F.array(F.lit(1)),
        lambda acc, t: F.concat(
            acc, F.array(F.element_at(acc, -1) + F.length(t))
        ),
    )
    anchored = (
        f"^{_define_regex_grouped(pattern, target)}"
        if target is not None else f"^(?:{regex})"
    )
    sub = F.col("s").substr(F.col("off"), F.length("s"))
    # Anchor prune (round 17 — the _within_core treatment applied to
    # the flat anchored modes): a nonempty match starting at `off` must
    # begin with a token char in the leading classes, so offsets
    # outside them — which would only produce m == '' and be filtered
    # below — skip the O(suffix) substring copy and regex attempt
    # entirely. Exact: empty matches are dropped by the m != '' filter
    # either way.
    lead = _define_leading_classes(pattern)
    exploded = seq.select(
        *[F.col(k) for k in keys],
        _guard_tokens_array(F.col("arr"), F.concat_ws("", "toks"),
                            regex).alias("s"),
        F.explode(F.slice(offsets, 1, F.size("toks"))).alias("off"),
    ).filter(F.col("s").substr(F.col("off"), F.lit(1)).isin(*lead))
    # Single parse per anchor (round 17): only the full match `m` is
    # extracted from the suffix; the skip modes' capture groups are
    # re-extracted from the MATCH itself after the hit filter — the
    # same anchored regex on its own match yields the same groups
    # (backtracking preference among candidate splits depends only on
    # consumed chars; no lookahead/end-anchors in these patterns) for
    # 2 fewer O(suffix) regex scans per anchor, on hit rows only.
    hits = (
        exploded.select(
            *[F.col(k) for k in keys],
            F.col("off"),
            F.regexp_extract(sub, anchored, 0).alias("m"),
        )
        .filter(F.col("m") != "")
    )
    if target is not None:
        hits = hits.select(
            *[F.col(k) for k in keys],
            F.col("off"),
            F.col("m"),
            F.regexp_extract("m", anchored, 1).alias("g1"),
            F.regexp_extract("m", anchored, 2).alias("g2"),
        )
    measures = [
        F.regexp_extract("m", "^[a-z]([0-9]+);", 1).cast("long")
        .alias("first_event_id"),
        F.regexp_extract("m", "([0-9]+);$", 1).cast("long")
        .alias("last_event_id"),
        (F.length("m") - F.length(F.translate("m", ";", "")))
        .cast("long").alias("n_rows"),
    ]
    if mode == "to_next_row":
        w_no = Window.partitionBy(*keys).orderBy("off")
        return hits.select(
            *[F.col(k) for k in keys],
            F.row_number().over(w_no).cast("long").alias("match_no"),
            *measures,
        )
    # to_first / to_last: resume INSIDE the match, at the target
    # variable's first/last row — select matches with a per-key
    # sequential fold over the offset-sorted anchored matches: take a
    # match iff its offset >= the running resume point, then advance
    # the point to the selected match's target-row offset.
    if mode == "to_first":
        resume = F.col("off") + F.length("g1")
    else:
        last_tok = F.regexp_extract("g2", "([a-z][0-9]+;)$", 1)
        resume = (
            F.col("off") + F.length("g1") + F.length("g2")
            - F.length(last_tok)
        )
    per_key = hits.select(
        *[F.col(k) for k in keys],
        F.struct(
            F.col("off").cast("long").alias("off"),
            F.col("m").alias("m"),
            resume.cast("long").alias("resume"),
        ).alias("h"),
    ).groupBy(*keys).agg(F.array_sort(F.collect_list("h")).alias("l"))
    init = F.expr(
        "named_struct('p', CAST(1 AS BIGINT), "
        "'sel', CAST(array() AS array<struct<off:bigint,m:string>>))"
    )
    sel = F.aggregate(
        "l",
        init,
        lambda acc, x: F.when(
            x["off"] >= acc["p"],
            F.struct(
                x["resume"].alias("p"),
                F.concat(
                    acc["sel"],
                    F.array(F.struct(x["off"].alias("off"), x["m"].alias("m"))),
                ).alias("sel"),
            ),
        ).otherwise(acc),
    )["sel"]
    return per_key.select(
        *[F.col(k) for k in keys],
        F.posexplode(sel),
    ).select(
        *[F.col(k) for k in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.col("col")["m"].alias("m"),
    ).select(
        *[F.col(k) for k in keys],
        "match_no",
        *measures,
    )


def match_recognize_define_oracle_sql(
    pattern: list[tuple[str, dict, str]],
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    skip: str = "past_last_row",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_define` token-for-
    token (same bitmask alphabet, same regex, same anchored-offset
    enumeration for to_next_row, and for to_first/to_last the same
    sequential selection via a recursive CTE)."""
    _validate_defines(pattern)
    mode, target = _parse_skip(skip, pattern)
    regex = _define_regex(pattern)
    klist = _key_list(key)
    key = ", ".join(klist)  # every {key} below is the full key list
    join_sq = " AND ".join(f"q.{k} = o.{k}" for k in klist)
    o_key = ", ".join(f"o.{k}" for k in klist)
    eq_hh = " AND ".join(f"h2.{k} = h.{k}" for k in klist)
    eq_np = " AND ".join(f"n.{k} = p.{k}" for k in klist)
    eq_n2p = " AND ".join(f"n2.{k} = p.{k}" for k in klist)
    n_key = ", ".join(f"n.{k}" for k in klist)
    inner = f"SELECT * FROM {table}"
    bits = []
    for i, (_, define, _) in enumerate(pattern):
        conds = []
        if define.get("types"):
            alts = ", ".join(f"'{t}'" for t in _types_of(define["types"]))
            conds.append(f"{type_col} IN ({alts})")
        if define.get("dir") == "up":
            conds.append(f"{value_col} > prev_v")
        elif define.get("dir") == "down":
            conds.append(f"{value_col} < prev_v")
        if define.get("next_dir") == "up":
            conds.append(f"{value_col} < next_v")
        elif define.get("next_dir") == "down":
            conds.append(f"{value_col} > next_v")
        cond = " AND ".join(conds) if conds else "TRUE"
        bits.append(f"(CASE WHEN {cond} THEN {1 << i} ELSE 0 END)")
    bm = " + ".join(bits)
    src = f"""
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER (PARTITION BY {key}
                                      ORDER BY {ts}, {id_col}) AS prev_v,
               lead({value_col}) OVER (PARTITION BY {key}
                                       ORDER BY {ts}, {id_col}) AS next_v
        FROM ({inner})"""
    toks = f"""
    toks AS (
        SELECT {key}, {ts}, {id_col},
               chr(97 + ({bm})) || {id_col} || ';' AS tok
        FROM src
    )"""
    if mode == "past_last_row":
        return f"""
    WITH src AS ({src}),{toks},
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key}),
    m AS (SELECT {key}, regexp_extract_all(s, '{regex}') AS l FROM seq)
    SELECT {key}, CAST(i AS BIGINT) AS match_no,
           CAST(regexp_extract(l[i], '^[a-z]([0-9]+);', 1) AS BIGINT) AS first_event_id,
           CAST(regexp_extract(l[i], '([0-9]+);$', 1) AS BIGINT) AS last_event_id,
           CAST(length(l[i]) - length(replace(l[i], ';', '')) AS BIGINT) AS n_rows
    FROM m, unnest(generate_series(1, len(l))) AS t(i)
    """
    scan = f"""
    offs AS (
        SELECT {key}, {ts}, {id_col}, tok,
               CAST(1 + COALESCE(SUM(length(tok))
                   OVER (PARTITION BY {key} ORDER BY {ts}, {id_col}
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS INT) AS off
        FROM toks
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key})"""
    if mode == "to_next_row":
        return f"""
    WITH src AS ({src}),{toks},{scan},
    hits AS (
        SELECT {o_key}, o.off,
               regexp_extract(substring(q.s, o.off), '^(?:{regex})', 0) AS m
        FROM offs o JOIN seq q ON {join_sq}
    )
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key} ORDER BY off)
                AS BIGINT) AS match_no,
           CAST(regexp_extract(m, '^[a-z]([0-9]+);', 1) AS BIGINT) AS first_event_id,
           CAST(regexp_extract(m, '([0-9]+);$', 1) AS BIGINT) AS last_event_id,
           CAST(length(m) - length(replace(m, ';', '')) AS BIGINT) AS n_rows
    FROM hits WHERE m <> ''
    """
    grouped = _define_regex_grouped(pattern, target)
    if mode == "to_first":
        resume = "off + length(g1)"
    else:
        resume = ("off + length(g1) + length(g2) "
                  "- length(regexp_extract(g2, '([a-z][0-9]+;)$', 1))")
    # Sequential selection as a RECURSIVE CTE (each level picks the
    # next match at-or-after the previous level's resume point).
    # DuckDB 1.0's list_reduce was tried first and is unusable here:
    # list-valued accumulator fields lose elements, and on longer lists
    # the fold order itself is unstable (probed both).
    return f"""
    WITH RECURSIVE src AS ({src}),{toks},{scan},
    hits AS (
        SELECT {o_key}, o.off,
               regexp_extract(substring(q.s, o.off), '^{grouped}', 0) AS m,
               regexp_extract(substring(q.s, o.off), '^{grouped}', 1) AS g1,
               regexp_extract(substring(q.s, o.off), '^{grouped}', 2) AS g2
        FROM offs o JOIN seq q ON {join_sq}
    ),
    hr AS (SELECT {key}, CAST(off AS BIGINT) AS off, m,
                  CAST({resume} AS BIGINT) AS resume
           FROM hits WHERE m <> ''),
    pick AS (
        SELECT {key}, off, m, resume, 1 AS match_no
        FROM hr h
        WHERE off = (SELECT min(off) FROM hr h2 WHERE {eq_hh})
      UNION ALL
        SELECT {n_key}, n.off, n.m, n.resume, p.match_no + 1
        FROM pick p JOIN hr n ON {eq_np} AND n.off >= p.resume
        WHERE n.off = (SELECT min(n2.off) FROM hr n2
                       WHERE {eq_n2p} AND n2.off >= p.resume)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           CAST(regexp_extract(m, '^[a-z]([0-9]+);', 1) AS BIGINT)
               AS first_event_id,
           CAST(regexp_extract(m, '([0-9]+);$', 1) AS BIGINT)
               AS last_event_id,
           CAST(length(m) - length(replace(m, ';', ''))
               AS BIGINT) AS n_rows
    FROM pick
    """


def match_recognize_define_all_rows(
    events: DataFrame,
    pattern: list[tuple[str, dict, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """ALL ROWS PER MATCH for the PREV/NEXT DEFINE engine — the same
    per-variable capture-group decode as
    :func:`match_recognize_all_rows`, over the bitmask token alphabet
    of :func:`match_recognize_define` (so a row's CLASSIFIER is the
    variable that absorbed it even when several defines hold on that
    row). Greedy, AFTER MATCH SKIP PAST LAST ROW (the extract-all scan
    mode; per-row output under the overlapping skip policies would
    need the anchored enumeration and is not a SQL:2016 combination —
    ONE ROW PER MATCH covers those via
    :func:`match_recognize_define`). One shuffle, zero Python.

    Returns ``key..., match_no, row_in_match, classifier, event_id``.
    """
    _validate_defines(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    regex = _define_regex_captured(pattern)
    seq = _define_tokens(events, pattern, keys, ts, type_col, id_col,
                         value_col)
    seq_s = seq.select(
        *[F.col(k) for k in keys],
        _guard_tokens_array(F.col("arr"), F.concat_ws("", "toks"),
                            regex).alias("s"),
    )
    return _all_rows_decode(seq_s, keys, regex, [v for v, _, _ in pattern])


def match_recognize_define_all_rows_oracle_sql(
    pattern: list[tuple[str, dict, str]],
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_define_all_rows` —
    the define oracle's bitmask tokenization feeding the shared
    captured-group decode tail."""
    key = ", ".join(_key_list(key))
    _validate_defines(pattern)
    regex = _define_regex_captured(pattern)
    bits = []
    for i, (_, define, _) in enumerate(pattern):
        conds = []
        if define.get("types"):
            alts = ", ".join(f"'{t}'" for t in _types_of(define["types"]))
            conds.append(f"{type_col} IN ({alts})")
        if define.get("dir") == "up":
            conds.append(f"{value_col} > prev_v")
        elif define.get("dir") == "down":
            conds.append(f"{value_col} < prev_v")
        if define.get("next_dir") == "up":
            conds.append(f"{value_col} < next_v")
        elif define.get("next_dir") == "down":
            conds.append(f"{value_col} > next_v")
        cond = " AND ".join(conds) if conds else "TRUE"
        bits.append(f"(CASE WHEN {cond} THEN {1 << i} ELSE 0 END)")
    bm = " + ".join(bits)
    prefix = f"""
    WITH src AS (
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER (PARTITION BY {key}
                                      ORDER BY {ts}, {id_col}) AS prev_v,
               lead({value_col}) OVER (PARTITION BY {key}
                                       ORDER BY {ts}, {id_col}) AS next_v
        FROM {table}
    ),
    toks AS (
        SELECT {key}, {ts}, {id_col},
               chr(97 + ({bm})) || {id_col} || ';' AS tok
        FROM src
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key})"""
    return prefix + _all_rows_oracle_tail(
        key, regex, [v for v, _, _ in pattern]
    )


def _define_leading_classes(pattern) -> str:
    """Anchor-prune classes for the DEFINE engine: the bitmask classes
    of every leading variable up to and including the first with a
    nonzero minimum row count (all positive — the bitmask alphabet has
    no complements)."""
    classes = _bitmask_classes(pattern)
    out = ""
    for cls, (_, _, quant) in zip(classes, pattern):
        out += cls
        if _quant_min(quant) >= 1:
            break
    return "".join(dict.fromkeys(out))


def match_recognize_define_within(
    events: DataFrame,
    pattern: list[tuple[str, dict, str]],
    within_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Flink CEP's ``WITHIN`` for the PREV/NEXT DEFINE engine: every
    match row inside ``[first_ts, first_ts + within]`` (closed bound),
    greedy, SKIP PAST LAST ROW. The bitmask flags (PREV/NEXT
    navigation) are computed over the FULL partition order — the time
    bound limits which rows a match may ABSORB, not what PREV/NEXT
    see, matching Flink where the within window prunes partial
    matches, not the stream. Same shared time-truncated anchored scan
    as :func:`match_recognize_within` (:func:`_within_core`), over the
    bitmask token alphabet; anchors pruned to chars that can begin a
    match. Returns ``key..., match_no, first_event_id, last_event_id,
    n_rows`` (the define-engine measure set)."""
    _validate_defines(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    anchored = f"^(?:{_define_regex(pattern)})"
    lead = _define_leading_classes(pattern)
    grouped = _define_tokens(events, pattern, keys, ts, type_col, id_col,
                             value_col,
                             within_minutes=within_minutes).select(
        *[F.col(k) for k in keys], "arr"
    )
    out = _within_core(grouped, keys, anchored, lead)
    m = F.col("col")["m"]
    return out.select(
        *[F.col(k) for k in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(m, "^[a-z]([0-9]+);", 1).cast("long")
        .alias("first_event_id"),
        F.regexp_extract(m, "([0-9]+);$", 1).cast("long")
        .alias("last_event_id"),
        (F.length(m) - F.length(F.translate(m, ";", "")))
        .cast("long").alias("n_rows"),
    )


def match_recognize_define_within_oracle_sql(
    pattern: list[tuple[str, dict, str]],
    within_minutes: int,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_define_within`: the
    define oracle's bitmask tokenization (lag/lead over the full
    partition), the interval-RANGE-window run truncation, the anchored
    regex, and the recursive-CTE resume-after-match selection."""
    keys = _key_list(key)
    key = ", ".join(keys)
    _validate_defines(pattern)
    regex = _define_regex(pattern)
    bits = []
    for i, (_, define, _) in enumerate(pattern):
        conds = []
        if define.get("types"):
            alts = ", ".join(f"'{t}'" for t in _types_of(define["types"]))
            conds.append(f"{type_col} IN ({alts})")
        if define.get("dir") == "up":
            conds.append(f"{value_col} > prev_v")
        elif define.get("dir") == "down":
            conds.append(f"{value_col} < prev_v")
        if define.get("next_dir") == "up":
            conds.append(f"{value_col} < next_v")
        elif define.get("next_dir") == "down":
            conds.append(f"{value_col} > next_v")
        cond = " AND ".join(conds) if conds else "TRUE"
        bits.append(f"(CASE WHEN {cond} THEN {1 << i} ELSE 0 END)")
    bm = " + ".join(bits)
    lead = _define_leading_classes(pattern)
    prune = (
        "WHERE substring(r.tok, 1, 1) IN ("
        + ", ".join(f"'{c}'" for c in lead) + ")"
    ) if lead else ""
    return f"""
    WITH RECURSIVE src AS (
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER (PARTITION BY {key}
                                      ORDER BY {ts}, {id_col}) AS prev_v,
               lead({value_col}) OVER (PARTITION BY {key}
                                       ORDER BY {ts}, {id_col}) AS next_v
        FROM {table}
    ),
    toks AS (
        SELECT {key}, {ts}, {id_col},
               chr(97 + ({bm})) || {id_col} || ';' AS tok
        FROM src
    ),
    r AS (
        SELECT {key}, {ts}, {id_col}, tok,
               row_number() OVER w AS rn,
               CAST(1 + COALESCE(SUM(length(tok))
                   OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS off,
               COUNT(*) OVER (PARTITION BY {key} ORDER BY {ts}
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND INTERVAL {int(within_minutes)} MINUTE
                                  FOLLOWING) AS rj
        FROM toks
        WINDOW w AS (PARTITION BY {key} ORDER BY {ts}, {id_col})
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key}),
    hits AS (
        SELECT {_key_cols('r', keys)}, r.off,
               regexp_extract(
                   substring(q.s, CAST(r.off AS INT),
                             CAST(COALESCE(r2.off, length(q.s) + 1) - r.off
                                  AS INT)),
                   '^(?:{regex})', 0) AS m
        FROM r
        JOIN seq q ON {_key_eq('q', 'r', keys)}
        LEFT JOIN r r2 ON {_key_eq('r2', 'r', keys)} AND r2.rn = r.rj + 1
        {prune}
    ),
    hr AS (SELECT {key}, off, m,
                  CAST(off + length(m) AS BIGINT) AS resume
           FROM hits WHERE m <> ''),
    pick AS (
        SELECT {key}, off, m, resume, 1 AS match_no
        FROM hr h
        WHERE off = (SELECT min(off) FROM hr h2 WHERE {_key_eq('h2', 'h', keys)})
      UNION ALL
        SELECT {_key_cols('n', keys)}, n.off, n.m, n.resume, p.match_no + 1
        FROM pick p JOIN hr n ON {_key_eq('n', 'p', keys)} AND n.off >= p.resume
        WHERE n.off = (SELECT min(n2.off) FROM hr n2
                       WHERE {_key_eq('n2', 'p', keys)} AND n2.off >= p.resume)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           CAST(regexp_extract(m, '^[a-z]([0-9]+);', 1) AS BIGINT)
               AS first_event_id,
           CAST(regexp_extract(m, '([0-9]+);$', 1) AS BIGINT)
               AS last_event_id,
           CAST(length(m) - length(replace(m, ';', ''))
               AS BIGINT) AS n_rows
    FROM pick
    """


def sessionize(
    events: DataFrame,
    gap_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Assign a per-key ``session_id`` (0-based, time order): a new
    session starts when the gap to the previous event exceeds
    ``gap_minutes``. Pure timestamp arithmetic (no epoch conversion, so
    TIMESTAMP_NTZ never passes through a session-timezone cast) — one
    sort-shuffle on the key, the same exchange the downstream
    per-session aggregation reuses.

    Sessionized CEP is a composition, not an engine variant: pass the
    result to any engine with ``key=[key, "session_id"]`` — matches
    cannot span a session gap, and per-group state (token strings,
    anchored scans, PREV/NEXT navigation, prefix sums) is bounded by
    session length instead of the key's full history. The paired
    oracle reads ``sessionize_oracle_sql(table, ...)`` as its table."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(ts, id_col)
    prev = F.lag(ts).over(w)
    is_new = F.when(
        prev.isNull()
        | (F.col(ts) > prev + F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_id",
        (F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
        .cast("long"),
    )


def sessionize_oracle_sql(
    table: str,
    gap_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> str:
    """DuckDB relation replaying :func:`sessionize`: every column of
    ``table`` plus ``session_id``. Parenthesised and unaliased, so any
    ``*_oracle_sql`` takes it as its ``table`` argument."""
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    return f"""(
        SELECT * EXCLUDE (prev_ts),
               CAST(SUM(CASE WHEN prev_ts IS NULL
                              OR {ts} > prev_ts + INTERVAL {int(gap_minutes)} MINUTE
                         THEN 1 ELSE 0 END)
                    OVER ({order} ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
                   AS session_id
        FROM (SELECT *, lag({ts}) OVER ({order}) AS prev_ts FROM {table}))"""



# ---------------------------------------------------------------------------
# Running-aggregate DEFINEs — MATCH_RECOGNIZE conditions over the
# GROWING match (Flink docs' canonical `DEFINE B AS SUM(B.price) < 100`)
# ---------------------------------------------------------------------------

_RUNAGG_CMP = {"<", "<=", ">", ">="}


_RUNAGG_BOUNDED = _re.compile(r"^\{(\d+),(\d+)\}$")


def _desugar_suffixes(suffixes):
    """Expand bounded ``{m,n}`` suffix quantifiers into ``m`` copies
    with quantifier '1' followed by ``n - m`` copies with '?'
    (round 11). Regex-equivalent under greedy semantics: all copies
    carry the IDENTICAL define, so the expanded '?'-chain's
    consume-first backtracking reaches the same end row as the native
    bounded quantifier's longest-first search. Non-bounded quantifiers
    pass through unchanged; expanded copies get suffixed variable
    names (never user-visible — match output carries row ids, not
    variable labels)."""
    out = []
    for var, d, q in suffixes:
        mt = _RUNAGG_BOUNDED.match(q) if isinstance(q, str) else None
        if mt:
            m, nn = int(mt.group(1)), int(mt.group(2))
            out.extend((f"{var}#{c}", d, "1") for c in range(m))
            out.extend((f"{var}?{c}", d, "?") for c in range(nn - m))
        else:
            out.append((var, d, q))
    return out


def _validate_runagg(pattern) -> tuple[list, tuple, list]:
    """pattern: (var, define, quant) list where exactly ONE variable's
    define carries the running aggregate — keys ``agg`` ('sum' | 'avg'
    over ``value_col``), ``cmp`` ('<' '<=' '>' '>='), ``thr`` (number),
    plus optional simple keys ``types``/``dir``. Every OTHER variable is
    simple (``types``/``dir``); prefix variables take quantifier '1'.

    Scope (documented in COVERAGE.md): the aggregate variable takes
    quantifier '+' or '*' and sits in FINAL position, or is followed
    by a suffix CHAIN of simple variables. Chain quantifiers grew by
    round: all-'1' (`PATTERN (A B+ C)`, round 7; `(A B+ C D)`, round
    10), a final '+' (`(A B+ C+)`, round 9; `(A B+ C D+)`, round 10),
    and — round 11, closing the VERDICT r10 descope — '?' and
    ``{m,n}`` anywhere plus '+' on NON-final chain variables
    (`PATTERN (A B+ C? D+)`, `(A B+ C+ D)`, `(A B+ C{1,2} D)`).
    The all-'1'[+final-'+'] shapes keep the round-10 position-shifted
    flag-conjunction fast path; any other chain runs the generalized
    right-to-left greedy-end tabulation (one e-array per chain
    variable over the collected key, still no NFA and no Python —
    see :func:`match_recognize_runagg`).

    Returns ``(prefix_vars, aggregate_var, suffix_vars)`` — the last a
    (possibly empty, NON-desugared) list.
    """
    if not pattern:
        raise ValueError("pattern needs at least one variable")
    seen = set()
    for var, define, _ in pattern:
        if var in seen:
            raise ValueError(f"duplicate pattern variable {var!r}")
        seen.add(var)
    agg_idx = [i for i, (_, d, _) in enumerate(pattern) if "agg" in d]
    if len(agg_idx) != 1:
        raise ValueError("exactly one variable must carry the running "
                         "aggregate ('agg' define key)")
    ai = agg_idx[0]
    avar, adef, aquant = pattern[ai]
    prefix = pattern[:ai]
    suffixes = list(pattern[ai + 1:])

    def check_simple(var, define, quant, role, last=False):
        if role == "suffix":
            if quant not in ("1", "?", "+") and not (
                isinstance(quant, str) and _RUNAGG_BOUNDED.match(quant)
            ):
                raise ValueError(
                    f"suffix variable {var!r} must have quantifier "
                    "'1', '?', '+' or '{m,n}' (running-aggregate "
                    "chain scope, round 11)")
            if isinstance(quant, str):
                mt = _RUNAGG_BOUNDED.match(quant)
                if mt and (int(mt.group(1)) > int(mt.group(2))
                           or int(mt.group(2)) < 1):
                    raise ValueError(
                        f"suffix variable {var!r}: malformed bounded "
                        f"quantifier {quant!r} (need 0 <= m <= n, "
                        "n >= 1)")
        elif quant != "1":
            raise ValueError(
                f"{role} variable {var!r} must have quantifier '1' "
                "(running-aggregate scope)")
        bad = set(define) - {"types", "dir"}
        if bad:
            raise ValueError(f"{role} variable {var!r}: unknown or "
                             f"unsupported define keys {sorted(bad)}")
        _reject_empty_types(var, define)
        if define.get("dir") not in (None, "up", "down"):
            raise ValueError("dir must be 'up' or 'down'")

    for var, define, quant in prefix:
        check_simple(var, define, quant, "prefix")
    for si, (svar, sdef, squant) in enumerate(suffixes):
        check_simple(svar, sdef, squant, "suffix",
                     last=(si == len(suffixes) - 1))
    if aquant not in ("+", "*"):
        raise ValueError(
            f"aggregate variable {avar!r} needs quantifier '+' or '*'")
    bad = set(adef) - {"types", "dir", "agg", "cmp", "thr",
                       "anchor_cmp", "anchor_factor", "anchor_ref"}
    if bad:
        raise ValueError(f"aggregate variable {avar!r}: unknown define "
                         f"keys {sorted(bad)}")
    # round 11b: the composed IterativeCondition — the aggregate DEFINE
    # may ALSO carry an anchor-relative conjunct (Flink's one-lambda
    # `sum(middle.price) < x && middle.price > start.price`):
    # ``anchor_cmp``/``anchor_factor`` compare each tentative row's
    # value against the anchor row's value times the factor, where
    # ``anchor_ref`` picks the anchor: 'start' (default — the
    # MATCH-START row, Flink's start.price) or 'first_loop' (the
    # aggregate variable's own FIRST row — Flink's
    # middle.first.price navigation).
    if ("anchor_cmp" in adef) != ("anchor_factor" in adef):
        raise ValueError("anchor_cmp and anchor_factor come together")
    if "anchor_ref" in adef and "anchor_cmp" not in adef:
        raise ValueError("anchor_ref needs anchor_cmp/anchor_factor")
    if "anchor_cmp" in adef:
        if adef["anchor_cmp"] not in _RUNAGG_CMP:
            raise ValueError(
                f"anchor_cmp must be one of {sorted(_RUNAGG_CMP)}")
        if not isinstance(adef["anchor_factor"], (int, float)):
            raise ValueError("anchor_factor must be a number")
        if adef.get("anchor_ref", "start") not in ("start", "first_loop"):
            raise ValueError("anchor_ref must be 'start' or 'first_loop'")
    _reject_empty_types(avar, adef)
    if adef.get("agg") not in ("sum", "avg", "min", "max"):
        raise ValueError("agg must be 'sum', 'avg', 'min' or 'max'")
    if adef.get("cmp") not in _RUNAGG_CMP:
        raise ValueError(f"cmp must be one of {sorted(_RUNAGG_CMP)}")
    if not isinstance(adef.get("thr"), (int, float)):
        raise ValueError("thr must be a number")
    if adef.get("dir") not in (None, "up", "down"):
        raise ValueError("dir must be 'up' or 'down'")
    chain_min = 0
    for _, _, q in suffixes:
        if q in ("1", "+"):
            chain_min += 1
        elif isinstance(q, str) and (mt := _RUNAGG_BOUNDED.match(q)):
            chain_min += int(mt.group(1))
    if aquant == "*" and not prefix and chain_min == 0:
        raise ValueError(
            "pattern may match zero rows (all variables optional) — "
            "at least one variable needs a mandatory row")
    return prefix, pattern[ai], suffixes


def _runagg_anchor_cmp(cmp: str, val, thr):
    """The anchor-relative conjunct (round 11b): tentative row's value
    vs match-start value * factor, IEEE double in both engines."""
    from pyspark.sql import functions as F  # noqa: F401

    if cmp == "<":
        return val < thr
    if cmp == "<=":
        return val <= thr
    if cmp == ">":
        return val > thr
    return val >= thr


def _runagg_cmp_col(agg: str, cmp: str, thr: float, sum_col, t_col):
    """The accept condition for the t-th tentative aggregate row:
    aggregate INCLUDING the row, compared to thr. ``sum_col`` is the
    exact DECIMAL sum of aggregate-variable rows 1..t; avg divides the
    double-cast sum by t — the identical operation order the DuckDB
    oracle uses, so the comparison can never disagree across engines."""
    from pyspark.sql import functions as F

    val = (sum_col.cast("double") / t_col) if agg == "avg" \
        else sum_col.cast("double")
    thr_l = F.lit(float(thr))
    if cmp == "<":
        return val < thr_l
    if cmp == "<=":
        return val <= thr_l
    if cmp == ">":
        return val > thr_l
    return val >= thr_l


def match_recognize_runagg(
    events: DataFrame,
    pattern: list[tuple[str, dict, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    skip: str = "past_last_row",
    max_key_rows: int | None = _ANCHOR_SCAN_ROWS,
) -> DataFrame:
    """MATCH_RECOGNIZE with a DEFINE that references a running
    aggregate over the variable's OWN rows so far — the Flink docs'
    `PATTERN (A B+) DEFINE B AS SUM(B.price) < 100`: B absorbs a row
    iff the aggregate INCLUDING that row still satisfies the
    comparison; the first failing row ends the run (greedy longest
    match, rows are contiguous, so the aggregate over B's rows is a
    difference of partition prefix sums). The aggregate variable may
    be FINAL, or — the bounded interior form — followed by ANY number
    of single-row simple suffix variables (`PATTERN (A B+ C)`,
    `PATTERN (A B+ C D)`, round 10): greedy B then backtracks to the
    LONGEST run whose following rows satisfy the whole suffix CHAIN —
    a fixed conjunction of position-shifted flag lookups, resolved as
    an array_max over the same prefix-sum candidates (no NFA). A
    '+'-quantified FINAL suffix (`PATTERN (A B+ C+)` round 9,
    `PATTERN (A B+ C D+)` round 10) then absorbs the MAXIMAL
    consecutive satisfying run: its extent is the precomputed per-row
    ``ns`` suffix-min lookup, O(1) per candidate.

    Lowering (one shuffle, zero Python): per key, an ordered window
    computes row numbers and an EXACT DECIMAL(18,6) running sum of
    ``value_col`` (order-independent, engine-agnostic — the dsum
    idiom), plus one boolean per simple define. The key's rows are
    collected into one sorted array, and a JVM higher-order
    ``transform`` attempts a match at every offset j: the p prefix
    variables bind rows j..j+p-1 when their flags hold, and the
    aggregate variable's run length is the position of the FIRST
    failing row (``filter`` + ``array_min`` over candidate extensions —
    per-key O(rows²) like the anchored to_next_row scan, bounded by
    session length in the sessionized deployment shape). AFTER MATCH:
    'past_last_row' selects non-overlapping matches left to right with
    the same F.aggregate fold as skip-to-first/last; 'to_next_row'
    keeps every successful attempt.

    Returns one row per match: ``key..., match_no, first_event_id,
    last_event_id, n_rows, b_rows (aggregate-variable rows), b_sum
    (their exact sum as double)``.

    ``max_key_rows`` (round 12, VERDICT r11 #5): the flat anchored
    scan's hot-key gate — a key collecting more rows than the bound
    fails in-plan with a message naming the sessionized deployment
    form; ``None`` accepts the quadratic knowingly. Costs nothing on
    conforming keys (an O(1) stored-length assert in the projection).

    Precondition: ``(ts, id_col)`` pairs are UNIQUE per key (the
    natural event-log invariant — id_col is a row id). The window
    row_number (ORDER BY ts, id) and the collected array
    (array_sort over (ts, id, ...) structs) must agree positionally;
    with duplicate (ts, id) pairs array_sort's tie-break falls through
    to later struct fields and the prefix sums / monotone-bound lookups
    could misalign (ADVICE r8).
    """
    from pyspark.sql.window import Window

    prefix, (_, adef, aquant), suffixes = _validate_runagg(pattern)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    suffixes = _desugar_suffixes(suffixes)
    keys = [key] if isinstance(key, str) else list(key)
    p = len(prefix)
    ks = len(suffixes)
    min_b = 1 if aquant == "+" else 0
    # round-11 generalized chain: any '?' / non-final '+' quantifier
    # leaves the round-10 flag-conjunction fast path (kept verbatim for
    # the verified all-'1'[+final-'+'] shapes) for the right-to-left
    # greedy-end tabulation below
    general = any(q != "1" for _, _, q in suffixes[:-1]) or (
        bool(suffixes) and suffixes[-1][2] == "?"
    )
    # round 11b: composed IterativeCondition — the aggregate accept
    # gains an anchor-relative per-row conjunct (value vs match-start
    # value * factor); anchor-dependent, so the monotone binary-search
    # fast path is disabled and the exact rescan decides (the anchored
    # O(rows²) cost class, session-bounded in the sessionized shape)
    anchored = "anchor_cmp" in adef
    # round 13 (VERDICT r12 next #5): MIN/MAX running aggregates.
    # Both are monotone along the loop (min non-increasing, max
    # non-decreasing), so the first-failure scan collapses to O(1)
    # per tentative row instead of a running-value recomputation:
    #  - the FAILING direction (min with >/>=, max with </<=): the
    #    aggregate comparison holds iff EVERY loop row's own value
    #    satisfies it, so the first aggregate failure IS the first
    #    per-row violation — a plain value flag, no prefix sums;
    #  - the SATISFIED-once direction (min with </<=, max with >/>=):
    #    monotonicity means the comparison can only IMPROVE after the
    #    first loop row, so the whole run is decided by row 1 — the
    #    first failure is t=1 iff the first loop row's value violates,
    #    and can never occur later.
    # The DuckDB oracle recomputes the honest correlated running
    # MIN/MAX per tentative row; the two first-failure computations
    # coincide exactly by the monotonicity argument above
    # (property-tested across the full agg × cmp matrix in
    # tests/test_property.py::test_match_recognize_runagg_*).
    mm = adef["agg"] in ("min", "max")
    mm_every = mm and (
        (adef["agg"] == "min") == (adef["cmp"] in (">", ">="))
    )

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    prev_v = F.lag(value_col).over(w)
    # Round-16 note: a LONG 1e-6-unit spelling of these prefix sums
    # (decimal cast per row, primitive-long window accumulator) was
    # measured and REVERTED — the extra per-row decimal multiply +
    # cast cost more than the Decimal window accumulator saves
    # (micro-probed 1.16s vs 0.77s per 100k rows warm; the runagg
    # band drifted ~1.1x in full sweeps). The decimal prefix sum
    # stays the exact cross-engine idiom.
    vdec = F.col(value_col).cast("decimal(18,6)")
    sp = F.sum(vdec).over(w.rowsBetween(Window.unboundedPreceding, 0))
    rn = F.row_number().over(w)

    def simple_ok(define) -> F.Column:
        conds = []
        if define.get("types"):
            conds.append(F.col(type_col).isin(*_types_of(define["types"])))
        if define.get("dir") == "up":
            conds.append(F.col(value_col) > prev_v)
        elif define.get("dir") == "down":
            conds.append(F.col(value_col) < prev_v)
        out = conds[0] if conds else F.lit(True)
        for c in conds[1:]:
            out = out & c
        # NULL (dir cond on a partition's first row, where PREV is NULL)
        # means the condition is NOT satisfied — SQL boolean semantics;
        # without the coalesce a NULL okb would slip past the
        # first-failure filter below and be treated as accepted.
        return F.coalesce(out, F.lit(False))

    # nb: the row number of the NEXT row (this one included) whose okb
    # flag is false — a suffix-min over the same keys, riding the
    # single per-key shuffle. Because the collected array is sorted by
    # the identical (ts, id) order, nb is directly comparable to
    # 1-based array positions; it turns "first okb-failure at or after
    # position s" from an O(n) scan into an O(1) lookup on the
    # monotone fast path below. Round 13: the suffix-min is spelled as
    # a GROWING frame over the REVERSED order — Spark evaluates the
    # literal (0, unboundedFollowing) frame by per-row tail rescan,
    # O(rows²) per key (SCALE.md round-13 finding), which silently
    # defeated the fast path's O(n log n) claim on hot keys; the
    # reversed (unboundedPreceding, 0) frame is incremental and
    # byte-identical (one extra partition-local sort, same shuffle).
    w_desc = Window.partitionBy(*keys).orderBy(
        F.col(ts).desc(), F.col(id_col).desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    okb_col = simple_ok(adef)
    nb = F.min(F.when(~okb_col, rn)).over(w_desc)
    oksufs_col = (
        F.array(*[simple_ok(d) for _, d, _ in suffixes])
        if suffixes else F.array().cast("array<boolean>")
    )
    # ns: row number of the NEXT row (this one included) whose LAST
    # suffix flag is false — the same suffix-min trick as nb, riding
    # the same shuffle. For a '+'-quantified final suffix it turns
    # "maximal consecutive satisfying run starting here" into an O(1)
    # lookup.
    tail = bool(suffixes) and suffixes[-1][2] == "+" and not general
    ns = (
        F.min(F.when(~simple_ok(suffixes[-1][1]), rn)).over(w_desc)
        if tail else F.lit(None).cast("long")
    )
    # nsufs (general chain only): per chain variable, the row number of
    # the NEXT row (this one included) whose flag fails — the same
    # suffix-min trick as nb/ns, one window expr per variable riding
    # the single per-key shuffle. Turns "maximal flag-i run from
    # position q" into an O(1) array lookup for non-final '+' chain
    # variables.
    nsufs_col = (
        F.array(*[
            F.min(F.when(~simple_ok(d), rn)).over(w_desc)
            for _, d, _ in suffixes
        ])
        if general else F.array().cast("array<bigint>")
    )
    rows = events.select(
        *[F.col(k) for k in keys],
        F.struct(
            F.col(ts).alias("ts"),
            F.col(id_col).alias("id"),
            F.array(*[simple_ok(d) for _, d, _ in prefix]).alias("okpre"),
            okb_col.alias("okb"),
            oksufs_col.alias("oksufs"),
            sp.alias("sp"),
            (sp - vdec).alias("sp0"),
            nb.alias("nb"),
            ns.alias("ns"),
            nsufs_col.alias("nsufs"),
            (F.col(value_col).cast("double") if anchored or mm
             else F.lit(None).cast("double")).alias("v"),
        ).alias("t"),
    )
    # mono: every partition value is >= 0 (sp - sp0 = the row's value),
    # i.e. the running sum is non-decreasing in run length — the
    # precondition for the binary-search fast path. NULL values (a null
    # forall) conservatively fall back to the rescan.
    grouped = rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("t")).alias("arr")
    ).withColumn(
        "arr", _guard_anchor_scan(F.col("arr"), max_key_rows)
    ).withColumn(
        "mono",
        F.coalesce(F.forall("arr", lambda r: r["sp"] >= r["sp0"]),
                   F.lit(False)),
    )
    # Round 17: the candidate machinery below is GENERATED SQL handed
    # to Catalyst in one F.expr parse per column instead of the
    # round-16 Column-API trees. The expressions are node-for-node the
    # same (same casts, same literal types, same struct field order —
    # property-tested and oracle-verified across the full runagg
    # matrix); what changes is CONSTRUCTION cost: the Column spelling
    # issued one py4j round-trip per expression node (~3k calls,
    # 1.7 s of the 1.9 s build for q_cep_runagg_tail — cProfile on
    # record in OPTIMIZATION_r17.md), and the bench's timed region
    # includes construction. String helpers mirror the old locals:
    # _at(i) == element_at(arr, CAST(i AS INT)), N == size(arr).
    N = "size(arr)"

    def _at(i_sql: str, field: str) -> str:
        return f"element_at(arr, CAST({i_sql} AS INT)).{field}"

    thr_d = f"{float(adef['thr'])!r}D"

    if general:
        # Right-to-left greedy-end tabulation (round 11): for each
        # chain index i, e{i}[pos] = the END row (1-based, inclusive)
        # of the greedy match of chain variables i.. starting at row
        # ``pos``, or NULL if none — exactly the regex backtracking
        # order ('?' consumes first, '+' longest-first), tabulated
        # bottom-up so every position is computed ONCE instead of
        # re-searched per candidate. Arrays have n+1 entries: position
        # n+1 is the empty-remainder sentinel (e = n, consumed
        # nothing), so a chain that ends at the partition edge or
        # matches empty ('?' skipped) needs no special cases. Each
        # e-array is one JVM ``transform`` over the collected key —
        # no Python, no extra shuffle; a non-final '+' variable costs
        # O(run length) per position (bounded by its type-flag run,
        # and by session length in the sessionized shape), everything
        # else O(1) via the precomputed nsufs suffix-min lookups.
        pos_l = "CAST(pos AS BIGINT)"

        def _flag_sql(pos_sql: str, i: int) -> str:
            return (
                f"coalesce(element_at(try_element_at(arr, "
                f"CAST({pos_sql} AS INT)).oksufs, {i + 1}), false)"
            )

        grouped = grouped.withColumn(
            f"e{ks}",
            F.expr(
                f"transform(sequence(1, {N} + 1), "
                f"pos -> CAST((pos - 1) AS BIGINT))"
            ),
        )
        for i in range(ks - 1, -1, -1):
            _, _, q = suffixes[i]
            enext = f"e{i + 1}"

            if q == "1":
                body = (
                    f"CASE WHEN {_flag_sql(pos_l, i)} THEN "
                    f"try_element_at({enext}, CAST(({pos_l} + 1) AS INT)) "
                    f"END"
                )
            elif q == "?":
                nxt = f"try_element_at({enext}, CAST(({pos_l} + 1) AS INT))"
                body = (
                    f"CASE WHEN {_flag_sql(pos_l, i)} AND {nxt} IS NOT NULL "
                    f"THEN {nxt} "
                    f"ELSE element_at({enext}, CAST({pos_l} AS INT)) END"
                )
            else:  # '+'
                nsf = f"try_element_at(arr, CAST({pos_l} AS INT)).nsufs"
                m = (
                    f"(CASE WHEN {_flag_sql(pos_l, i)} THEN "
                    f"coalesce(element_at({nsf}, {i + 1}), "
                    f"CAST(({N} + 1) AS BIGINT)) - {pos_l} "
                    f"ELSE CAST(0 AS BIGINT) END)"
                )
                lstar = (
                    f"array_max(filter("
                    f"CASE WHEN {m} >= 1 THEN "
                    f"sequence(CAST(1 AS BIGINT), {m}) "
                    f"ELSE CAST(array() AS array<bigint>) END, "
                    f"l -> try_element_at({enext}, "
                    f"CAST(({pos_l} + l) AS INT)) IS NOT NULL))"
                )
                body = (
                    f"CASE WHEN {lstar} IS NOT NULL THEN "
                    f"element_at({enext}, "
                    f"CAST(({pos_l} + {lstar}) AS INT)) END"
                )

            grouped = grouped.withColumn(
                f"e{i}",
                F.expr(f"transform(sequence(1, {N} + 1), pos -> {body})"),
            )

    # Heavy per-candidate values are bound ONCE via LAYERED transforms
    # (round 17): the previous single-transform spelling referenced
    # t_fail / l_rows / t_sel several times each, and interpreted
    # higher-order lambdas have no common-subexpression elimination —
    # so the 34-step binary-search fold ran twice per candidate and
    # the t_sel backtracking scan three times (true of the Column-API
    # tree as well: reused Column objects are still re-evaluated per
    # occurrence). Each layer is one O(n) pass carrying its bound
    # value forward as a struct field.

    def _pre_ok_sql(j: str) -> str:
        ok = "true"
        for t in range(p):
            # try_element_at: NULL (not an ANSI error) past the array
            # end, folded to False — the bound check must not rely on
            # And-conjunct evaluation order (ADVICE r6).
            ok += (
                f" AND coalesce(element_at("
                f"try_element_at(arr, CAST(({j} + {t}) AS INT)).okpre, "
                f"{t + 1}), false)"
            )
        return f"({ok})"

    def _cmp_sql(sum_sql: str, t_sql: str) -> str:
        # the accept condition for the t-th tentative aggregate row:
        # exact DECIMAL prefix-sum difference cast to double (avg
        # divides by t) compared to the double threshold — the
        # _runagg_cmp_col operation order
        val = f"CAST(({sum_sql}) AS DOUBLE)"
        if adef["agg"] == "avg":
            val = f"({val} / {t_sql})"
        return f"({val} {adef['cmp']} {thr_d})"

    def _slow_sql(j: str) -> str:
        # the rescan: first t whose row fails okb or the aggregate
        # comparison — O(n - s) per offset (quadratic per key on a
        # flat hot key; HOTKEY.json measures it)
        s = f"({j} + {p})"
        base = f"(CASE WHEN {s} <= {N} THEN {_at(s, 'sp0')} END)"
        if not mm:
            agg_ok = _cmp_sql(
                f"{_at(f'{s} + t - 1', 'sp')} - {base}", "t")
        else:
            # MIN/MAX monotone O(1) form (see the mm/mm_every
            # derivation above) — the t-th row's own value in the
            # failing direction, the FIRST loop row's value (decided
            # once, at t=1) in the satisfied-once direction
            probe = (_at(f"{s} + t - 1", "v") if mm_every
                     else _at(s, "v"))
            row_ok = f"({probe} {adef['cmp']} {thr_d})"
            agg_ok = row_ok if mm_every else f"((t > 1) OR {row_ok})"
        anchor_ok = ""
        if anchored:
            ref = j if adef.get("anchor_ref", "start") == "start" else s
            anchor_ok = (
                f" AND ({_at(f'{s} + t - 1', 'v')} {adef['anchor_cmp']} "
                f"({_at(ref, 'v')} * {float(adef['anchor_factor'])!r}D))"
            )
        return (
            f"array_min(filter("
            f"CASE WHEN {N} >= {s} THEN sequence(CAST(1 AS INT), "
            f"CAST(({N} - {s} + 1) AS INT)) "
            f"ELSE CAST(array() AS array<int>) END, "
            f"t -> NOT ({_at(f'{s} + t - 1', 'okb')} "
            f"AND {agg_ok}{anchor_ok})))"
        )

    fastpath = (not anchored and adef["agg"] == "sum"
                and adef["cmp"] in ("<", "<="))
    cur = f"sequence(1, {N})"
    if p:
        # necessary condition for validity — the FIRST prefix
        # variable's flag at offset j (pre_ok re-checks it with the
        # rest). Pruning here skips the O(n) accept_fail machinery at
        # every offset that can't start a match (the common case:
        # match anchors are rare event types), cutting the interpreted
        # higher-order work by the anchor selectivity while leaving
        # the candidate set — and thus both skip-mode folds —
        # byte-identical.
        cur = f"filter({cur}, j -> element_at({_at('j', 'okpre')}, 1))"
    if fastpath:
        # monotone fast path (VERDICT r7 #5): with non-negative
        # addends (per-key `mono` flag) the running sum is
        # non-decreasing in t, so the aggregate comparison fails on
        # a SUFFIX of t and its first failure binary-searches over
        # the same prefix-sum array; the okb first-failure is the
        # precomputed nb lookup. First overall failure = the min of
        # the two causes — identical to the rescan's answer, found
        # in O(log n) instead of O(n) per offset. The search is an
        # aggregate fold over 34 fixed steps (covers n < 2^33;
        # carrying (lo, hi) in the fold keeps the plan CONSTANT
        # size). Sentinel hi = n - s + 2 means "no failure". The
        # fold runs in the FIRST layer, bound once as field `tf`
        # (NULL when mono is false — the rescan decides then, as
        # before).
        s = f"(j + {p})"
        base = f"(CASE WHEN {s} <= {N} THEN {_at(s, 'sp0')} END)"
        sentinel = f"CAST(({N} - {s} + 2) AS BIGINT)"
        nb_t = f"coalesce({_at(s, 'nb')} - {s} + 1, {sentinel})"
        mid = "CAST((acc.lo + acc.hi) / 2 AS BIGINT)"
        mid_sum = f"{_at(f'{s} + {mid} - 1', 'sp')} - {base}"
        fail_mid = f"NOT {_cmp_sql(mid_sum, mid)}"
        bs_t = (
            f"aggregate(sequence(1, 34), "
            f"named_struct('lo', CAST(1 AS BIGINT), 'hi', {sentinel}), "
            f"(acc, stp) -> CASE WHEN acc.lo < acc.hi THEN "
            f"(CASE WHEN {fail_mid} THEN "
            f"named_struct('lo', acc.lo, 'hi', {mid}) "
            f"ELSE named_struct('lo', {mid} + 1, 'hi', acc.hi) END) "
            f"ELSE acc END).lo"
        )
        # the s <= n guard mirrors the old lazy evaluation order:
        # l_rows consulted accept_fail only past its own s > n check,
        # so at(s).nb was never touched for an anchor whose aggregate
        # start lies beyond the array (ANSI element_at would throw)
        tf = (f"CASE WHEN mono AND {s} <= {N} "
              f"THEN least({nb_t}, {bs_t}) END")
        cur = f"transform({cur}, j -> named_struct('j', j, 'tf', {tf}))"
        jr = "x.j"
        s = f"({jr} + {p})"
        fast = (f"(CASE WHEN x.tf <= {N} - {s} + 1 "
                f"THEN CAST(x.tf AS INT) END)")
        accept = f"(CASE WHEN mono THEN {fast} ELSE {_slow_sql(jr)} END)"
    else:
        # avg / lower-bounded comparisons are not threshold-crossing
        # monotone — keep the exact rescan
        cur = f"transform({cur}, j -> named_struct('j', j))"
        jr = "x.j"
        s = f"({jr} + {p})"
        accept = _slow_sql(jr)
    l_rows = (
        f"(CASE WHEN {s} > {N} THEN 0 "
        f"ELSE coalesce({accept}, CAST(({N} - {s} + 2) AS INT)) - 1 END)"
    )
    cur = f"transform({cur}, x -> named_struct('j', x.j, 'lr', {l_rows}))"
    jr = "y.j"
    lr = "y.lr"
    s = f"({jr} + {p})"
    if not suffixes:
        final = (
            f"named_struct("
            f"'off', CAST({jr} AS BIGINT), "
            f"'end', CAST(({jr} + {p} + {lr} - 1) AS BIGINT), "
            f"'b_rows', CAST({lr} AS BIGINT), "
            f"'valid', ({_pre_ok_sql(jr)} AND ({lr} >= {min_b})))"
        )
        cur = f"transform({cur}, y -> {final})"
    else:
        if general:
            # generalized chain (round 11): greedy B+ backtracking =
            # the LARGEST run length t whose chain tabulation has a
            # greedy end (e0[s+t] non-NULL); the end row is that
            # tabulated value — '?'/non-final-'+' backtracking was
            # already resolved right-to-left when e0 was built.
            t_sel = (
                f"array_max(filter("
                f"CASE WHEN {lr} >= {min_b} THEN "
                f"sequence(CAST({min_b} AS INT), CAST({lr} AS INT)) "
                f"ELSE CAST(array() AS array<int>) END, "
                f"t -> try_element_at(e0, CAST(({s} + t) AS INT)) "
                f"IS NOT NULL))"
            )
        else:
            # bounded interior form: greedy backtracking = the LONGEST
            # aggregate run t in [min_b, maxrun] whose FOLLOWING rows
            # s+t .. s+t+ks-1 satisfy the whole suffix chain — a fixed
            # conjunction of position-shifted flag lookups (round 10),
            # array_max over the chain-satisfying candidate lengths
            # (try_element_at, so a run ending at the partition edge
            # simply drops out)
            suf_ok = "true"
            for q in range(ks):
                suf_ok += (
                    f" AND coalesce(element_at(try_element_at(arr, "
                    f"CAST(({s} + t + {q}) AS INT)).oksufs, "
                    f"{q + 1}), false)"
                )
            t_sel = (
                f"array_max(filter("
                f"CASE WHEN {lr} >= {min_b} THEN "
                f"sequence(CAST({min_b} AS INT), CAST({lr} AS INT)) "
                f"ELSE CAST(array() AS array<int>) END, "
                f"t -> ({suf_ok})))"
            )
        cur = (f"transform({cur}, y -> named_struct("
               f"'j', y.j, 'lr', y.lr, 'ts', {t_sel}))")
        jr = "z.j"
        tsr = "z.ts"
        s = f"({jr} + {p})"
        if general:
            end = f"try_element_at(e0, CAST(({s} + {tsr}) AS INT))"
        elif tail:
            # '+'-quantified FINAL suffix (round 9): it absorbs the
            # MAXIMAL consecutive satisfying run from its first row
            # s+t_sel+ks-1 — extent = the precomputed ns lookup at
            # that row (the run's first non-satisfying successor), so
            # the tail costs O(1) per candidate like the monotone nb
            # path.
            first_c = f"{s} + {tsr} + {ks - 1}"
            end = (f"coalesce({_at(first_c, 'ns')} - 1, "
                   f"CAST({N} AS BIGINT))")
        else:
            end = f"({s} + {tsr} + {ks - 1})"
        final = (
            f"named_struct("
            f"'off', CAST({jr} AS BIGINT), "
            f"'end', CAST({end} AS BIGINT), "
            f"'b_rows', CAST({tsr} AS BIGINT), "
            f"'valid', ({_pre_ok_sql(jr)} AND {tsr} IS NOT NULL))"
        )
        cur = f"transform({cur}, z -> {final})"
    cands_sql = f"filter({cur}, c -> c.valid)"
    if skip == "past_last_row":
        sel_sql = (
            f"aggregate({cands_sql}, "
            f"named_struct('p', CAST(1 AS BIGINT), 'sel', CAST(array() AS "
            f"array<struct<off:bigint,end:bigint,b_rows:bigint,"
            f"valid:boolean>>)), "
            f"(acc, c) -> CASE WHEN c.off >= acc.p THEN "
            f"named_struct('p', c.end + 1, "
            f"'sel', concat(acc.sel, array(c))) "
            f"ELSE acc END).sel"
        )
    else:
        sel_sql = cands_sql
    arr = F.col("arr")
    out = grouped.select(
        *[F.col(k) for k in keys],
        arr,
        F.posexplode(F.expr(sel_sql)),
    )
    c = F.col("col")
    first_b = c["off"] + F.lit(p)
    last_b = first_b + c["b_rows"] - 1  # == end unless a suffix follows
    return out.select(
        *[F.col(k) for k in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.element_at(arr, c["off"].cast("int"))["id"].alias("first_event_id"),
        F.element_at(arr, c["end"].cast("int"))["id"].alias("last_event_id"),
        (c["end"] - c["off"] + 1).alias("n_rows"),
        c["b_rows"].alias("b_rows"),
        F.when(
            c["b_rows"] > 0,
            (
                F.element_at(arr, last_b.cast("int"))["sp"]
                - F.element_at(arr, first_b.cast("int"))["sp0"]
            ).cast("double"),
        ).otherwise(F.lit(0.0)).alias("b_sum"),
    )


def match_recognize_runagg_oracle_sql(
    pattern: list[tuple[str, dict, str]],
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    skip: str = "past_last_row",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_runagg` decision for
    decision: the same DECIMAL(18,6) partition prefix sums (exact, so
    both engines compare identical doubles against thr), the same
    first-failing-row run length (a correlated MIN over rows at or
    after the aggregate variable's start), the same longest-run-
    whose-next-row-matches backtracking for the bounded interior form
    (a correlated MAX over suffix-satisfying rows inside the run
    envelope), and for past_last_row the same left-to-right
    non-overlapping selection via a recursive CTE."""
    prefix, (_, adef, aquant), suffixes = _validate_runagg(pattern)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    suffixes = _desugar_suffixes(suffixes)
    p = len(prefix)
    ks = len(suffixes)
    general = any(q != "1" for _, _, q in suffixes[:-1]) or (
        bool(suffixes) and suffixes[-1][2] == "?"
    )
    tail = bool(suffixes) and suffixes[-1][2] == "+" and not general
    min_b = 1 if aquant == "+" else 0
    klist = _key_list(key)
    key = ", ".join(klist)  # every {key} below is the full key list
    eq_r2c = " AND ".join(f"r2.{k} = c.{k}" for k in klist)
    eq_rfm = " AND ".join(f"rf.{k} = m1.{k}" for k in klist)
    eq_rlm = " AND ".join(f"rl.{k} = m1.{k}" for k in klist)
    eq_rbm = " AND ".join(f"rb.{k} = m1.{k}" for k in klist)
    eq_c2c = " AND ".join(f"c2.{k} = c.{k}" for k in klist)
    eq_nxpk = " AND ".join(f"nx.{k} = pk.{k}" for k in klist)
    eq_n2pk = " AND ".join(f"n2.{k} = pk.{k}" for k in klist)
    c_key = ", ".join(f"c.{k}" for k in klist)
    m1_key = ", ".join(f"m1.{k}" for k in klist)
    nx_key = ", ".join(f"nx.{k}" for k in klist)
    inner = f"SELECT * FROM {table}"

    def simple_sql(define: dict) -> str:
        conds = []
        if define.get("types"):
            alts = ", ".join(f"'{t}'" for t in _types_of(define["types"]))
            conds.append(f"{type_col} IN ({alts})")
        if define.get("dir") == "up":
            conds.append(f"{value_col} > prev_v")
        elif define.get("dir") == "down":
            conds.append(f"{value_col} < prev_v")
        body = " AND ".join(conds) if conds else "TRUE"
        return f"COALESCE({body}, FALSE)"

    okpre = "".join(
        f"{simple_sql(d)} AS okp{i},\n           "
        for i, (_, d, _) in enumerate(prefix)
    )
    # oksuf = the suffix CHAIN flag at its START row: the first suffix
    # variable's condition here AND each later one's at the q-th
    # following row (lead over the same window — the engine checks the
    # identical positions via try_element_at on the collected array).
    # oksuflast = the LAST suffix variable's own flag, used to extend a
    # '+'-quantified final suffix to its maximal consecutive run.
    if suffixes and general:
        # generalized chain (round 11): one flag column per desugared
        # chain variable — the tabulation CTEs below navigate them
        oksuf = "".join(
            f"{simple_sql(d)} AS oks{i},\n           "
            for i, (_, d, _) in enumerate(suffixes)
        )
    elif suffixes:
        chain = [simple_sql(suffixes[0][1])] + [
            f"COALESCE(lead({simple_sql(d)}, {q}) OVER w, FALSE)"
            for q, (_, d, _) in enumerate(suffixes) if q >= 1
        ]
        oksuf = f"({' AND '.join(chain)}) AS oksuf,\n           "
        if tail:
            oksuf += (f"{simple_sql(suffixes[-1][1])} AS oksuflast,"
                      "\n           ")
    else:
        oksuf = ""
    if p == 0:
        prefix_ok = "TRUE"
        base = "sp0"
    else:
        terms = ["okp0"] + [
            f"COALESCE(lead(okp{t}, {t}) OVER w2, FALSE)" for t in range(1, p)
        ]
        prefix_ok = " AND ".join(terms)
        base = f"lead(sp0, {p}) OVER w2"
    sum_e = "CAST(r2.sp - c.base AS DOUBLE)"
    if adef["agg"] in ("min", "max"):
        # round 13 MIN/MAX: the oracle recomputes the HONEST correlated
        # running aggregate over the loop rows so far (the engine uses
        # the monotone O(1) per-row form — the two first-failure scans
        # coincide exactly; see match_recognize_runagg)
        eq_r3c = " AND ".join(f"r3.{k} = c.{k}" for k in klist)
        val_e = (
            f"(SELECT {adef['agg'].upper()}(r3.v) FROM r r3 "
            f"WHERE {eq_r3c} AND r3.rn >= c.off + {p} "
            "AND r3.rn <= r2.rn)"
        )
    else:
        val_e = (
            f"({sum_e} / (r2.rn - c.off - {p} + 1))"
            if adef["agg"] == "avg" else sum_e
        )
    accept = f"(r2.okb AND ({val_e} {adef['cmp']} {float(adef['thr'])}))"
    anchored = "anchor_cmp" in adef
    av_sql = ("v" if adef.get("anchor_ref", "start") == "start"
              else f"lead(v, {p}) OVER w2")
    if anchored:
        # composed IterativeCondition (round 11b): the same per-row
        # anchor-relative conjunct the engine folds into its rescan
        accept = (
            f"(r2.okb AND ({val_e} {adef['cmp']} {float(adef['thr'])}) "
            f"AND (r2.v {adef['anchor_cmp']} c.av * "
            f"{float(adef['anchor_factor'])}))"
        )
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    if not suffixes:
        # maximal run = up to the first failing row; endrn is its last row
        m1 = f"""
    m1 AS (
        SELECT {key}, off, base,
               COALESCE(failrn, n + 1) - (off + {p}) AS b_rows,
               off + {p} + (COALESCE(failrn, n + 1) - (off + {p})) - 1 AS endrn
        FROM cand
        WHERE COALESCE(failrn, n + 1) - (off + {p}) >= {min_b}
    )"""
    elif general:
        # generalized chain (round 11): replay the engine's
        # right-to-left greedy-end tabulation as stacked CTEs —
        # t{i}(key, pos, e) = the greedy end row of chain i.. starting
        # at pos (NULL if no match), positions 1..n+1 per key with the
        # n+1 empty-remainder sentinel. '1'/'?' navigate by pos+1
        # joins; a '+' variable picks the LARGEST extension inside its
        # maximal flag run (correlated MIN = the engine's nsufs
        # lookup) whose remainder matches — ORDER BY pos DESC LIMIT 1
        # is the longest-first backtracking order. m1 then selects the
        # LARGEST aggregate run length whose chain start has a
        # tabulated end, exactly the engine's array_max.
        eq_rrp = " AND ".join(f"rr.{k} = p.{k}" for k in klist)
        eq_xp = " AND ".join(f"x.{k} = p.{k}" for k in klist)
        eq_r2p = " AND ".join(f"r2.{k} = p.{k}" for k in klist)
        eq_nxp = " AND ".join(f"nx.{k} = p.{k}" for k in klist)
        eq_curp = " AND ".join(f"cur.{k} = p.{k}" for k in klist)
        eq_xc = " AND ".join(f"x.{k} = c.{k}" for k in klist)
        eq_e0sx = " AND ".join(f"e0.{k} = sx.{k}" for k in klist)
        p_key = ", ".join(f"p.{k}" for k in klist)
        sx_key = ", ".join(f"sx.{k}" for k in klist)
        chain_ctes = f"""
    pos AS (
        SELECT {key}, rn AS pos, n FROM r
      UNION ALL
        SELECT {key}, n + 1 AS pos, n
        FROM (SELECT DISTINCT {key}, n FROM r)
    ),
    t{ks} AS (
        SELECT {key}, pos, CAST(pos - 1 AS BIGINT) AS e FROM pos
    )"""
        for i in range(ks - 1, -1, -1):
            _, _, q = suffixes[i]
            if q == "1":
                body = f"""
    t{i} AS (
        SELECT {p_key}, p.pos,
               CASE WHEN COALESCE(rr.oks{i}, FALSE) THEN nx.e END AS e
        FROM pos p
        LEFT JOIN r rr ON {eq_rrp} AND rr.rn = p.pos
        LEFT JOIN t{i + 1} nx ON {eq_nxp} AND nx.pos = p.pos + 1
    )"""
            elif q == "?":
                body = f"""
    t{i} AS (
        SELECT {p_key}, p.pos,
               CASE WHEN COALESCE(rr.oks{i}, FALSE) AND nx.e IS NOT NULL
                    THEN nx.e ELSE cur.e END AS e
        FROM pos p
        LEFT JOIN r rr ON {eq_rrp} AND rr.rn = p.pos
        LEFT JOIN t{i + 1} nx ON {eq_nxp} AND nx.pos = p.pos + 1
        LEFT JOIN t{i + 1} cur ON {eq_curp} AND cur.pos = p.pos
    )"""
            else:  # '+'
                body = f"""
    t{i} AS (
        SELECT {p_key}, p.pos,
               (SELECT x.e FROM t{i + 1} x
                WHERE {eq_xp}
                  AND x.pos >= p.pos + 1
                  AND x.pos <= p.pos + (
                      CASE WHEN COALESCE(rr.oks{i}, FALSE)
                           THEN COALESCE((SELECT MIN(r2.rn) FROM r r2
                                          WHERE {eq_r2p}
                                            AND r2.rn >= p.pos
                                            AND NOT r2.oks{i}),
                                         p.n + 1) - p.pos
                           ELSE 0 END)
                  AND x.e IS NOT NULL
                ORDER BY x.pos DESC LIMIT 1) AS e
        FROM pos p
        LEFT JOIN r rr ON {eq_rrp} AND rr.rn = p.pos
    )"""
            chain_ctes += "," + body
        m1 = chain_ctes + f""",
    mx AS (
        SELECT {key}, off, base, n,
               COALESCE(failrn, n + 1) - (off + {p}) AS maxb
        FROM cand
    ),
    m1 AS (
        SELECT {sx_key}, sx.off, sx.base,
               sx.sufstart - sx.off - {p} AS b_rows,
               (SELECT e0.e FROM t0 e0
                WHERE {eq_e0sx} AND e0.pos = sx.sufstart) AS endrn
        FROM (
            SELECT {c_key}, c.off, c.base, c.n,
                   (SELECT max(x.pos) FROM t0 x
                    WHERE {eq_xc}
                      AND x.pos >= c.off + {p} + {min_b}
                      AND x.pos <= c.off + {p} + c.maxb
                      AND x.e IS NOT NULL) AS sufstart
            FROM mx c WHERE c.maxb >= {min_b}
        ) sx
        WHERE sx.sufstart IS NOT NULL
    )"""
    else:
        # bounded interior form: the suffix CHAIN starts at off+p+t for
        # the chosen run length t in [min_b, maxrun]; greedy
        # backtracking picks the LARGEST t whose chain flag (oksuf)
        # holds at that row — the chain's later rows are folded into
        # oksuf via leads, so ANY number of single-row suffix variables
        # costs the same correlated MAX (round 10). A '+'-quantified
        # FINAL suffix (round 9) then extends endrn to the last row of
        # the maximal consecutive oksuflast run from the chain's last
        # row — the row before the run's first non-satisfying successor
        # (n if none), the same ns lookup the Spark engine precomputes.
        eq_r3sx = " AND ".join(f"r3.{k} = sx.{k}" for k in klist)
        if tail:
            endrn_sql = f"""COALESCE((SELECT min(r3.rn) FROM r r3
                    WHERE {eq_r3sx} AND r3.rn >= sx.sufrn + {ks - 1}
                      AND NOT r3.oksuflast) - 1, sx.n)"""
        else:
            endrn_sql = f"sx.sufrn + {ks - 1}"
        sx_key = ", ".join(f"sx.{k}" for k in klist)
        m1 = f"""
    mx AS (
        SELECT {key}, off, base, n,
               COALESCE(failrn, n + 1) - (off + {p}) AS maxb
        FROM cand
    ),
    m1 AS (
        SELECT {sx_key}, sx.off, sx.base, sx.sufrn - sx.off - {p} AS b_rows,
               {endrn_sql} AS endrn
        FROM (
            SELECT {c_key}, c.off, c.base, c.n,
                   (SELECT max(r2.rn) FROM r r2
                    WHERE {eq_r2c}
                      AND r2.rn >= c.off + {p} + {min_b}
                      AND r2.rn <= c.off + {p} + c.maxb
                      AND r2.oksuf) AS sufrn
            FROM mx c WHERE c.maxb >= {min_b}
        ) sx
        WHERE sx.sufrn IS NOT NULL
    )"""
    if skip == "to_next_row":
        numbering = f"""
    SELECT {key}, CAST(row_number() OVER (PARTITION BY {key} ORDER BY off)
                       AS BIGINT) AS match_no,
           CAST(first_event_id AS BIGINT) AS first_event_id,
           CAST(last_event_id AS BIGINT) AS last_event_id,
           CAST(endrn - off + 1 AS BIGINT) AS n_rows,
           CAST(b_rows AS BIGINT) AS b_rows, b_sum
    FROM m2"""
    else:
        numbering = f"""
    pick AS (
        SELECT {key}, off, endrn, first_event_id, last_event_id,
               b_rows, b_sum, 1 AS match_no
        FROM m2 c
        WHERE off = (SELECT min(off) FROM m2 c2 WHERE {eq_c2c})
      UNION ALL
        SELECT {nx_key}, nx.off, nx.endrn, nx.first_event_id,
               nx.last_event_id, nx.b_rows, nx.b_sum, pk.match_no + 1
        FROM pick pk JOIN m2 nx
             ON {eq_nxpk} AND nx.off > pk.endrn
        WHERE nx.off = (SELECT min(n2.off) FROM m2 n2
                        WHERE {eq_n2pk} AND n2.off > pk.endrn)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           CAST(first_event_id AS BIGINT) AS first_event_id,
           CAST(last_event_id AS BIGINT) AS last_event_id,
           CAST(endrn - off + 1 AS BIGINT) AS n_rows,
           CAST(b_rows AS BIGINT) AS b_rows, b_sum
    FROM pick"""
        numbering = "," + numbering
    return f"""
    WITH RECURSIVE base_src AS (
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER ({order}) AS prev_v,
               CAST({value_col} AS DECIMAL(18,6)) AS vdec
        FROM ({inner})
    ),
    r AS (
        SELECT {key}, {ts}, {id_col},
               row_number() OVER w AS rn,
               COUNT(*) OVER (PARTITION BY {key}) AS n,
               SUM(vdec) OVER (w ROWS UNBOUNDED PRECEDING) AS sp,
               SUM(vdec) OVER (w ROWS UNBOUNDED PRECEDING) - vdec AS sp0,
           {okpre}{oksuf}CAST({value_col} AS DOUBLE) AS v,
           {simple_sql(adef)} AS okb
        FROM base_src
        WINDOW w AS ({order})
    ),
    c0 AS (
        SELECT {key}, rn AS off, n, {av_sql} AS av,
               {prefix_ok} AS prefix_ok, {base} AS base
        FROM r WINDOW w2 AS (PARTITION BY {key} ORDER BY rn)
    ),
    cand AS (
        SELECT {c_key}, c.off, c.n, c.base, c.av,
               (SELECT min(r2.rn) FROM r r2
                WHERE {eq_r2c} AND r2.rn >= c.off + {p}
                  AND NOT {accept}) AS failrn
        FROM c0 c WHERE c.prefix_ok
    ),{m1},
    m2 AS (
        SELECT {m1_key}, m1.off, m1.endrn, m1.b_rows,
               rf.{id_col} AS first_event_id,
               rl.{id_col} AS last_event_id,
               CASE WHEN m1.b_rows > 0
                    THEN CAST(rb.sp - m1.base AS DOUBLE)
                    ELSE 0.0 END AS b_sum
        FROM m1
        JOIN r rf ON {eq_rfm} AND rf.rn = m1.off
        JOIN r rl ON {eq_rlm} AND rl.rn = m1.endrn
        LEFT JOIN r rb ON {eq_rbm} AND rb.rn = m1.off + {p} + m1.b_rows - 1
    ){numbering}
    """


# ---------------------------------------------------------------------------
# Relaxed contiguity — Flink CEP's followedBy (skip-till-next-match),
# the DEFAULT linking mode in Flink's Pattern API (VERDICT r8 #1)
# ---------------------------------------------------------------------------


def _quant_parse(quant: str) -> tuple[int, int | None, bool]:
    """(min, max-or-None, reluctant) for every supported quantifier —
    the full parse `_quant_min` is the min-projection of."""
    if quant == "1":
        return 1, 1, False
    if quant in ("?", "??"):
        return 0, 1, quant == "??"
    if quant in ("+", "+?"):
        return 1, None, quant == "+?"
    if quant in ("*", "*?"):
        return 0, None, quant == "*?"
    m = _BOUNDED.match(quant)
    if m is None or (m.group(2) != "" and int(m.group(1)) > int(m.group(2))):
        raise ValueError(
            f"quantifier {quant!r} not in {sorted(_QUANTS)} or {{m,n}}/"
            "{m,} form"
        )
    hi = None if m.group(2) == "" else int(m.group(2))
    return int(m.group(1)), hi, bool(m.group(3))


def _relaxed_gap(etype, chars: dict[str, str]) -> str:
    """Token atom for rows the variable's predicate REJECTS — the rows
    skip-till-next-match skips while waiting for the variable. Exact
    complement of :func:`_atom`: for a positive variable the gap is
    ``[^cls]`` (including 'z' rows of types outside the alphabet); for
    a complement variable (which admits ``[^cls]``) the gap is the
    named class itself."""
    cls = _var_class(etype, chars)
    if _var_negated(etype):
        inner = cls if len(cls) == 1 else f"[{cls}]"
    else:
        inner = f"[^{cls}]"
    return f"(?:{inner}[0-9]+;)"


def _relaxed_occ(etype, chars: dict[str, str]) -> str:
    """One relaxed OCCURRENCE of a variable: skip any run of rejected
    rows, then consume the first admitting row. Because the gap class
    and the admit class are disjoint, the occurrence is deterministic
    given its start position — backtracking only ever happens over
    occurrence COUNTS, exactly as in the strict engine."""
    return f"(?:{_relaxed_gap(etype, chars)}*{_atom(etype, chars)}[0-9]+;)"


def _relaxed_piece(etype, quant: str, chars: dict[str, str],
                   first: bool) -> str:
    """A variable's capture-grouped regex piece under relaxed
    contiguity. The FIRST variable's first occurrence is anchored (no
    leading gap): the unanchored scan itself plays the role of the gap
    before the match, so a leading gap would only drag unrelated rows
    into the match span (and wreck first_event_id / SKIP PAST LAST
    ROW). Quantifier sits INSIDE the group so the group always
    participates ('' for an absent optional).

    FLAT lowering for positive variables (hot-key stack safety —
    found by tools/hotkey_stress.py): the naive nested loop
    ``(?:gap* admit)+`` compiles to Java regex's RECURSIVE Loop node
    (one stack frame per token), overflowing the JVM stack at ~5k
    events in one key string. Because class letters appear ONLY as
    token heads (ids are digits, ';' separates), two char-class
    equivalences hold for a POSITIVE variable with class ``cls``:
    ``gap*`` (skip to the FIRST cls-token) ≡ ``[^cls]*`` — the greedy
    char star cannot cross a cls char — and ``(?:anytok)*`` (settle at
    the LAST cls-token, give back one occurrence at a time) ≡
    ``[a-z0-9;]*`` — every giveback position where the admit atom can
    start IS a cls-token head. Both are plain char-class stars, which
    Java matches ITERATIVELY, and RE2 agrees on the leftmost
    greedy/lazy settle order, so matches are byte-identical to the
    nested form. COMPLEMENT variables keep the token-group lowering
    (their admit class ``[^cls]`` would also match digits mid-token,
    so the char flattening is unsound); their recursion depth is one
    frame per occurrence/gap token — fine at session scale, and the
    sessionized form is the documented hot-key deployment anyway."""
    occ = _relaxed_occ(etype, chars)
    lo, hi, lazy = _quant_parse(quant)
    zz = "?" if lazy else ""
    opt = "??" if lazy else "?"
    if _var_negated(etype):
        admit = f"(?:{_atom(etype, chars)}[0-9]+;)"
        if not first:
            return f"({occ}{_quant_regex(quant)})"
        if hi == 1:
            return f"({admit})"
        if hi is None and lo == 1:
            return f"({admit}(?:{occ}*{zz}))"
        if hi is None:  # {m,} on a complement variable (group loop)
            return f"({admit}{occ}{{{lo - 1},}}{zz})"
        return f"({admit}{occ}{{{lo - 1},{hi - 1}}}{zz})"
    return _relaxed_pos_piece(_var_class(etype, chars), quant, first)


def _relaxed_pos_piece(cls: str, quant: str, first: bool) -> str:
    """The flat char-class-star relaxed piece for a POSITIVE admit
    class ``cls`` (a string of token-head letters) — shared by the
    type-alphabet engine (via :func:`_relaxed_piece`) and the bitmask
    DEFINE alphabet (:func:`match_recognize_relaxed_define`), whose
    classes are just different letter sets over the same token
    grammar."""
    lo, hi, lazy = _quant_parse(quant)
    zz = "?" if lazy else ""
    opt = "??" if lazy else "?"
    a = f"{cls if len(cls) == 1 else f'[{cls}]'}[0-9]+;"
    skip = f"[^{cls}]*"          # to the FIRST cls-token (deterministic)
    anytk = f"[a-z0-9;]*{zz}"    # settle at last/first cls-token
    if not first:
        if quant == "1":
            return f"({skip}{a})"
        if quant in ("?", "??"):
            # the OUTER optionality marker: '?' greedy / '??' lazy
            # (not zz, which is empty for greedy forms — a dropped
            # marker here made V? mandatory; caught by the all-rows
            # reference test)
            return f"((?:{skip}{a}){opt})"
        if quant in ("+", "+?"):
            return f"({anytk}{a})"
        if quant in ("*", "*?"):
            return f"((?:{anytk}{a}){opt})"
        if hi is None:
            # {m,} (timesOrMore, r10): m-1 skip-to-first occurrences,
            # then the '+'-style flat tail — same flat lowering '+'
            # uses ('+' ≡ {1,}), so the unbounded part never becomes a
            # recursive group loop; lazy {m,}? keeps the group form
            # (the lazy tail settles at the FIRST completion, so its
            # loop depth is the m-th occurrence, not the key length)
            if lazy:
                return f"((?:{skip}{a}){{{lo},}}?)"
            return f"((?:{skip}{a}){{{lo - 1}}}{anytk}{a})"
        return f"((?:{skip}{a}){_quant_regex(quant)})"  # bounded {m,n}
    # first variable: anchored first occurrence, min >= 1 validated
    if hi == 1:
        return f"({a})"
    if hi is None and lo == 1:
        return f"({a}(?:{anytk}{a}){opt})"
    if hi is None:
        # {m,} anchored: first occurrence anchored, m-2 skip
        # occurrences, then the flat '+' tail (greedy) / the bounded
        # lazy group form
        if lazy:
            return f"({a}(?:{skip}{a}){{{lo - 1},}}?)"
        return f"({a}(?:{skip}{a}){{{lo - 2}}}{anytk}{a})"
    # bounded {m,n} with n > 1: char-gap occurrences, depth <= n - 1
    return f"({a}(?:{skip}{a}){{{lo - 1},{hi - 1}}}{zz})"


def _relaxed_regex(pattern, chars: dict[str, str],
                   links: set | frozenset | None = None) -> str:
    """Concatenated relaxed pieces. ``links`` (round 13 — VERDICT r12
    next #4, MIXED strict/relaxed edges): variable names whose edge
    from the PREVIOUS variable is Flink's strict ``next()`` instead of
    ``followedBy()``. A strict edge is an ADJACENCY constraint between
    two relaxed pieces — no gap star before the variable's first
    occurrence — which is exactly the anchored (``first=True``) piece
    form: the variable's first row must be the row right after the
    previous piece's last consumed row. Occurrences WITHIN a
    quantified variable stay relaxed (Flink: internal contiguity is a
    property of the variable — ``next(b).oneOrMore()`` defaults to
    relaxed internal contiguity; ``consecutive()`` is the strict
    engine), and regex backtracking over the previous variable's
    greedy occurrence counts resolves the leftmost-greedy settle
    exactly as the strict engine does."""
    links = links or set()
    return "".join(
        _relaxed_piece(etype, quant, chars,
                       first=(i == 0 or var in links))
        for i, (var, etype, quant) in enumerate(pattern)
    )


def _validate_links(pattern, links) -> frozenset:
    """Plan-time rules for mixed strict/relaxed edges: every link
    target must be a pattern variable other than the first (the first
    variable is the match anchor — already adjacency-anchored), and
    must be MANDATORY (min occurrences >= 1): a strict edge into an
    optional variable is ambiguous in Flink's NFA (the adjacency
    constraint has no row to bind when the variable matches empty),
    and the anchored piece forms assume a first occurrence exists."""
    if not links:
        return frozenset()
    names = [var for var, _, _ in pattern]
    links = frozenset(links)
    for v in links:
        if v not in names:
            raise ValueError(f"link target {v!r} is not a pattern variable")
        if v == names[0]:
            raise ValueError(
                f"link target {v!r} is the first variable — the match "
                "anchor is already adjacency-anchored; a strict edge "
                "needs a predecessor")
        i = names.index(v)
        if _quant_min(pattern[i][2]) < 1:
            raise ValueError(
                f"strict (next) edge into {v!r} needs a mandatory "
                "variable (min occurrences >= 1): the adjacency "
                "constraint has no row to bind when the variable "
                "matches empty")
    return links


def _classes_overlap(a, b) -> bool:
    """True iff some event type is admitted by BOTH variable specs —
    the condition under which Flink's ``greedy()`` modifier is
    observable (a row at the loop/next boundary could go either way).
    Complement classes admit every type outside their named set, over
    an OPEN alphabet, so two complements always overlap and a
    positive-vs-complement pair overlaps iff the positive set is not
    fully contained in the complement's excluded set."""
    sa, na = frozenset(_types_of(a)), _var_negated(a)
    sb, nb = frozenset(_types_of(b)), _var_negated(b)
    if not na and not nb:
        return bool(sa & sb)
    if na and nb:
        return True
    pos, neg = (sa, sb) if not na else (sb, sa)
    return bool(pos - neg)


def greedy_pattern(pattern, greedy=frozenset()):
    """Flink Pattern-API ``.greedy()`` desugar (round 15 — VERDICT r14
    missing #4, the last unimplemented Pattern-API loop modifier).

    Semantics (public Flink CEP docs, "Quantifiers"/greedy): when a
    row at a loop's boundary is admitted by BOTH the loop variable and
    the NEXT variable, Flink's default oneOrMore EMITS a match per
    viable loop length (both branch lengths are results), while
    ``greedy()`` keeps only the longest. This engine family emits ONE
    match per anchor by design (the SQL:2016 MATCH_RECOGNIZE
    discipline every other engine here follows), so the desugar
    PROJECTS the preference onto that language: the default picks the
    SHORTEST completion deterministically (the reluctant spelling —
    the boundary row goes to the next variable), greedy() the longest
    — a documented narrowing of Flink's emit-all-branch-lengths
    default, not full fidelity to it (ADVICE r15). The distinction is
    observable ONLY where the loop's admit class overlaps the next
    variable's (Flink: "greedy has an effect only when the following
    pattern can also accept the event"); without overlap the boundary
    row is unambiguous.

    Deterministic projection onto the relaxed engine's one-match-per-
    anchor quantifier language: patterns are written in Flink
    vocabulary (greedy-spelled quantifiers — '+', '*', '{m,n}'...),
    ``greedy`` names the variables carrying the modifier. The desugar
    rewrites every UNMARKED choice-bearing quantifier whose class
    overlaps its successor's to the reluctant spelling (earliest
    completion — the deterministic one-match projection of Flink's
    default, per above), and leaves marked loops greedy (maximize).
    Non-overlapping loops keep the greedy spelling either way — the
    SQL:2016 MATCH_RECOGNIZE default the rest of the engine family
    uses, and no Pattern-API preference exists to honor there.

    Plan-time rules (Flink's own restrictions): a greedy target must
    be a pattern variable with a quantifier choice (max > min), must
    not already be reluctant-spelled (the two modifiers contradict),
    and must not be the LAST variable (Flink: greedy is not supported
    for the final element of a pattern — nothing follows to cede rows
    to, so it is also a silent no-op). Feed the result to
    :func:`match_recognize_relaxed` (or its within/sessionized
    variants) and the matching oracle builder.

    Reference: /root/reference/README.md:1 (no reference code exists;
    semantics from the public Flink CEP Pattern-API docs)."""
    names = [v for v, _, _ in pattern]
    greedy = frozenset(greedy)
    unknown = greedy - set(names)
    if unknown:
        raise ValueError(
            f"greedy names unknown pattern variables: {sorted(unknown)}")
    out = []
    for i, (var, etype, quant) in enumerate(pattern):
        lo, hi, lazy = _quant_parse(quant)
        has_choice = hi is None or hi > lo
        if var in greedy:
            if not has_choice:
                raise ValueError(
                    f"greedy target {var!r} has no quantifier choice "
                    f"({quant!r}) — greedy() needs a loop or optional")
            if lazy:
                raise ValueError(
                    f"greedy target {var!r} is reluctant-spelled "
                    f"({quant!r}) — greedy() and reluctance contradict")
            if i == len(pattern) - 1:
                raise ValueError(
                    f"greedy target {var!r} is the last pattern "
                    "variable — Flink does not support greedy() for "
                    "the final element (nothing follows to cede to)")
            out.append((var, etype, quant))
        elif (has_choice and not lazy and i < len(pattern) - 1
              and _classes_overlap(etype, pattern[i + 1][1])):
            out.append((var, etype, quant + "?"))
        else:
            out.append((var, etype, quant))
    return out


def _validate_relaxed(pattern) -> None:
    _validate(pattern)
    if _quant_min(pattern[0][2]) < 1:
        raise ValueError(
            "relaxed (followedBy) matching needs a mandatory first "
            "variable: the match anchor is the first variable's first "
            "row (an optional first variable would let the leading gap "
            "consume arbitrary rows before the match)")


def _relaxed_var_count(col, var: str, etype, chars: dict[str, str]):
    """n_<var> over a variable's captured piece: rows its predicate
    ADMITTED (gap rows inside the piece never admit, so a plain class
    count over the piece is exact per VARIABLE — unlike the strict
    engine's per-type counts, relaxed counts never alias across
    variables sharing a type)."""
    cls_cnt = F.length(col) - F.length(
        F.translate(col, _var_class(etype, chars), "")
    )
    if _var_negated(etype):
        n_tok = F.length(col) - F.length(F.translate(col, ";", ""))
        return (n_tok - cls_cnt).cast("long").alias(f"n_{var.lower()}")
    return cls_cnt.cast("long").alias(f"n_{var.lower()}")


def match_recognize_relaxed(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    skip: str = "past_last_row",
    links: set | frozenset | None = None,
) -> DataFrame:
    """Relaxed-contiguity row-pattern matching — Flink CEP's
    ``followedBy`` / skip-till-next-match, the DEFAULT linking mode of
    Flink's Pattern API (strict ``next`` is :func:`match_recognize`).
    Same pattern language as the strict engine (type alternations,
    complements, greedy/reluctant/bounded quantifiers), with ONE added
    plan-time rule: the first variable must be mandatory (min rows ≥ 1).

    Semantics (consuming-gap lowering, property-tested against an
    independent backtracking matcher in tests/test_property.py):
    - between consecutive variable occurrences, rows the next expected
      variable REJECTS are skipped; the first row it admits is consumed
      by it (Flink's skip-till-next — an admitting row is never passed
      over, so e.g. A followedBy B takes the FIRST later B);
    - quantified variables are internally relaxed too (Flink's
      oneOrMore default; its ``.consecutive()`` is the strict engine);
    - rows skipped INSIDE a match are consumed by it — unavailable to
      later matches (the one documented deviation from Flink's NFA,
      where AFTER MATCH SKIP PAST LAST EVENT re-admits skipped rows;
      this trade buys the single-pass regexp_extract_all scan).
    - greedy left-to-right enumeration, ONE ROW PER MATCH, AFTER MATCH
      SKIP PAST LAST ROW.

    Lowering: each variable becomes a capture-grouped skip-then-admit
    piece over the per-key token string; for positive variables the
    gaps flatten to plain char-class stars (``[^cls]*`` /
    ``[a-z0-9;]*`` — see :func:`_relaxed_piece`), which Java regex
    matches ITERATIVELY (the nested token-group form overflows the JVM
    stack at ~5k events per key — tools/hotkey_stress.py) and RE2
    agrees on leftmost-first, so the Spark scan and the DuckDB replay
    stay byte-identical. Complement variables keep the token-group
    form and are hot-key-safe only sessionized (SCALE.md). Still
    exactly one shuffle and zero Python rows.

    Round 13 adds Flink's variable-targeted AFTER MATCH strategies
    under relaxed linking (VERDICT r12 next #2): ``skip='to_next_row'``
    (SKIP_TO_NEXT — every anchored attempt emits, overlapping),
    ``skip='to_first:<VAR>'`` / ``skip='to_last:<VAR>'``
    (``AfterMatchSkipStrategy.skipToFirst/Last(VAR)`` — the scan
    resumes AT the first/last row the target variable CONSUMED,
    inclusive, so matches may overlap and share the target's rows).
    Lowering for the non-default modes: the strict DEFINE engine's
    capture-group-resume precedent (:func:`match_recognize_define`)
    composed with the relaxed consuming-gap pieces — the relaxed regex
    already capture-groups each variable's consumed span, so the
    resume offset is the piece start plus the leading-gap length
    (to_first) / minus the final admitted token (to_last). Anchored
    attempt at every token offset: per-key work is rows × regex,
    bounded by session length in the sessionized deployment shape
    (the strict engine's documented cost class). Variable-targeted
    skips need a POSITIVE target class (complement variables keep the
    recursive token-group piece, where the admitted-token split is
    not a char-class scan) and reject non-advancing patterns at plan
    time via :func:`_parse_skip`, like the strict engine.

    ``links`` (round 13 — VERDICT r12 next #4, MIXED linking): a set
    of variable names whose edge from the previous variable is
    Flink's strict ``next()`` (``begin.next(b).followedBy(c)``) — an
    adjacency constraint between two relaxed pieces, lowered as the
    anchored piece form with no leading gap star
    (:func:`_relaxed_regex`). Composes with every skip mode (the
    resume offsets are computed from the captured pieces, which a
    strict edge only narrows). Targets must be mandatory non-first
    variables (:func:`_validate_links`).

    Returns ``key..., match_no, first_event_id, last_event_id, n_rows
    (rows variables consumed), n_skipped (rows skipped inside the match
    span), n_<variable.lower()>...`` — per-VARIABLE counts (captured
    pieces), not the strict engine's per-type counts.
    """
    from pyspark.sql.window import Window

    _validate_relaxed(pattern)
    links = _validate_links(pattern, links)
    mode, target = _parse_skip(skip, pattern)
    if target is not None and _var_negated(pattern[target][1]):
        raise ValueError(
            "skip to_first/to_last target must be a POSITIVE variable "
            "class under relaxed linking (complement pieces are not "
            "char-class scans)")
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(pattern)
    regex = _relaxed_regex(pattern, chars, links)
    seq = _seq_strings(events, chars, keys, ts, type_col, id_col,
                       guard_regex=regex)
    k = len(pattern)
    if mode != "past_last_row":
        # anchored attempt at every token offset (strict engine's
        # to_next_row / capture-group-resume machinery over the
        # relaxed pieces; the offsets fold stays — see the define
        # engine's round-16 note)
        anchored = f"^(?:{regex})"
        toks = F.filter(F.split(F.col("s"), "(?<=;)"),
                        lambda t: t != F.lit(""))
        offsets = F.aggregate(
            toks,
            F.array(F.lit(1)),
            lambda acc, t: F.concat(
                acc, F.array(F.element_at(acc, -1) + F.length(t))
            ),
        )
        sub = F.col("s").substr(F.col("off"), F.length("s"))
        # Anchor prune + single parse per anchor (round 17 — the
        # _within_core / define-engine treatment): a nonempty match
        # must start with the first (mandatory) variable's class, so
        # other offsets skip the O(suffix) substring + regex outright;
        # the k capture groups are re-extracted from the MATCH itself
        # after the hit filter (same anchored regex on its own match
        # yields the same groups — backtracking preference depends
        # only on consumed chars) instead of k extra O(suffix) scans
        # per anchor. No prune for a complement-class first variable
        # (_leading_classes returns '').
        lead = _leading_classes(pattern, chars)
        exploded = seq.select(
            *[F.col(c) for c in keys],
            F.col("s"),
            F.explode(F.slice(offsets, 1, F.size(toks))).alias("off"),
        )
        if lead:
            exploded = exploded.filter(
                F.col("s").substr(F.col("off"), F.lit(1)).isin(*lead)
            )
        hits = (
            exploded.select(
                *[F.col(c) for c in keys],
                F.col("off"),
                F.regexp_extract(sub, anchored, 0).alias("m"),
            )
            .filter(F.col("m") != "")
            .select(
                *[F.col(c) for c in keys],
                F.col("off"),
                F.col("m"),
                *[F.regexp_extract("m", anchored, i + 1).alias(f"g{i}")
                  for i in range(k)],
            )
        )
        n_vars = [
            _relaxed_var_count(F.col(f"g{i}"), var, etype, chars)
            for i, (var, etype, _) in enumerate(pattern)
        ]
        n_rows = n_vars[0]
        for c in n_vars[1:]:
            n_rows = n_rows + c
        n_tok_m = (F.length("m")
                   - F.length(F.translate("m", ";", ""))).cast("long")
        measures = [
            F.regexp_extract("m", "^[a-z]([0-9]+);", 1).cast("long")
            .alias("first_event_id"),
            F.regexp_extract("m", "([0-9]+);$", 1).cast("long")
            .alias("last_event_id"),
            n_rows.cast("long").alias("n_rows"),
            (n_tok_m - n_rows).cast("long").alias("n_skipped"),
            *n_vars,
        ]
        if mode == "to_next_row":
            w_no = Window.partitionBy(*keys).orderBy("off")
            return hits.select(
                *[F.col(c) for c in keys],
                F.row_number().over(w_no).cast("long").alias("match_no"),
                *measures,
            )
        # to_first / to_last: resume at the target variable's
        # first/last ADMITTED token (pieces are contiguous, so the
        # piece start is the offset plus the earlier pieces' lengths)
        piece_start = F.col("off")
        for i in range(target):
            piece_start = piece_start + F.length(f"g{target - 1 - i}")
        cls = _var_class(pattern[target][1], chars)
        if mode == "to_first":
            lead = F.regexp_extract(
                F.col(f"g{target}"), f"^((?:[^{cls}][0-9]+;)*)", 1)
            resume = piece_start + F.length(lead)
        else:
            last_tok = F.regexp_extract(
                F.col(f"g{target}"), "([a-z][0-9]+;)$", 1)
            resume = (piece_start + F.length(f"g{target}")
                      - F.length(last_tok))
        mcols = ["first_event_id", "last_event_id", "n_rows", "n_skipped",
                 *[f"n_{var.lower()}" for var, _, _ in pattern]]
        per_key = hits.select(
            *[F.col(c) for c in keys],
            F.struct(
                F.col("off").cast("long").alias("off"),
                resume.cast("long").alias("resume"),
                *measures,
            ).alias("h"),
        ).groupBy(*keys).agg(F.array_sort(F.collect_list("h")).alias("l"))
        mtypes = ", ".join(f"{c}:bigint" for c in ["off", "resume", *mcols])
        init = F.expr(
            "named_struct('p', CAST(1 AS BIGINT), "
            f"'sel', CAST(array() AS array<struct<{mtypes}>>))"
        )
        fold = F.aggregate(
            "l",
            init,
            lambda acc, x: F.when(
                x["off"] >= acc["p"],
                F.struct(
                    x["resume"].alias("p"),
                    F.concat(acc["sel"], F.array(x)).alias("sel"),
                ),
            ).otherwise(acc),
        )["sel"]
        return per_key.select(
            *[F.col(c) for c in keys],
            F.posexplode(fold),
        ).select(
            *[F.col(c) for c in keys],
            (F.col("pos") + 1).cast("long").alias("match_no"),
            *[F.col("col")[c].alias(c) for c in mcols],
        )
    groups = seq.select(
        *[F.col(c) for c in keys],
        F.regexp_extract_all("s", F.lit(regex), F.lit(0)).alias("w"),
        *[
            F.regexp_extract_all("s", F.lit(regex), F.lit(i + 1)).alias(f"g{i}")
            for i in range(k)
        ],
    )
    zipped = groups.select(
        *[F.col(c) for c in keys],
        F.posexplode(
            F.arrays_zip(F.col("w"), *[F.col(f"g{i}") for i in range(k)])
        ),
    )
    w = F.col("col")["w"]
    n_vars = [
        _relaxed_var_count(F.col("col")[f"g{i}"], var, etype, chars)
        for i, (var, etype, _) in enumerate(pattern)
    ]
    n_tok_w = (F.length(w) - F.length(F.translate(w, ";", ""))).cast("long")
    n_rows = n_vars[0]
    for c in n_vars[1:]:
        n_rows = n_rows + c
    return zipped.select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(w, "^[a-z]([0-9]+);", 1).cast("long").alias("first_event_id"),
        F.regexp_extract(w, "([0-9]+);$", 1).cast("long").alias("last_event_id"),
        n_rows.cast("long").alias("n_rows"),
        (n_tok_w - n_rows).cast("long").alias("n_skipped"),
        *n_vars,
    )


def _relaxed_oracle_core(
    pattern,
    keys: list[str],
    table: str,
    ts: str,
    type_col: str,
    id_col: str,
    links: set | frozenset | None = None,
) -> str:
    """Shared DuckDB replay of :func:`match_recognize_relaxed` — same
    token string, same captured gap-class regex (RE2 agrees with Java
    on leftmost-first greedy/lazy preference), aligned per-group
    extract_all arrays unnested by match index. ``links`` replays the
    round-13 mixed strict/relaxed edges (same regex, by construction)."""
    _validate_relaxed(pattern)
    links = _validate_links(pattern, links)
    chars = _char_map(pattern)
    regex = _relaxed_regex(pattern, chars, links)
    return _relaxed_oracle_with(pattern, chars, regex, keys, table,
                                ts, type_col, id_col)


def _relaxed_oracle_with(
    pattern,
    chars: dict[str, str],
    regex: str,
    keys: list[str],
    table: str,
    ts: str,
    type_col: str,
    id_col: str,
) -> str:
    """The SQL emitter behind :func:`_relaxed_oracle_core`, taking a
    prebuilt alphabet + regex so variants (notFollowedBy's
    forbid-extended alphabet) replay through the same decode."""
    case = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in chars.items())
    ks = ", ".join(keys)
    k = len(pattern)

    def strip_class(expr: str, cls: str) -> str:
        for c in cls:
            expr = f"replace({expr}, '{c}', '')"
        return expr

    def count_sql(i, var, etype) -> str:
        cls = _var_class(etype, chars)
        cls_cnt = f"length(r{i}) - length({strip_class(f'r{i}', cls)})"
        if _var_negated(etype):
            return (f"(length(r{i}) - length(replace(r{i}, ';', '')))"
                    f" - ({cls_cnt})")
        return cls_cnt

    n_exprs = [count_sql(i, var, etype)
               for i, (var, etype, _) in enumerate(pattern)]
    n_rows = " + ".join(f"({e})" for e in n_exprs)
    var_counts = ",\n           ".join(
        f"CAST({e} AS BIGINT) AS n_{var.lower()}"
        for e, (var, _, _) in zip(n_exprs, pattern)
    )
    gcols = ",\n               ".join(
        f"regexp_extract_all(s, '{regex}', {i + 1}) AS g{i}" for i in range(k)
    )
    rsel = ", ".join(f"g{i}[i] AS r{i}" for i in range(k))
    return f"""
    WITH src AS (SELECT * FROM {table}),
    toks AS (
        SELECT {ks},
               CASE {type_col} {case} ELSE 'z' END || {id_col} || ';' AS tok,
               {ts}, {id_col}
        FROM src
    ),
    seq AS (SELECT {ks}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {ks}),
    m AS (SELECT {ks},
               regexp_extract_all(s, '{regex}', 0) AS w,
               {gcols}
          FROM seq),
    ex AS (SELECT {ks}, CAST(i AS BIGINT) AS match_no, w[i] AS wm, {rsel}
           FROM m, unnest(generate_series(1, len(w))) AS t(i))
    SELECT {ks}, match_no,
           CAST(regexp_extract(wm, '^[a-z]([0-9]+);', 1) AS BIGINT) AS first_event_id,
           CAST(regexp_extract(wm, '([0-9]+);$', 1) AS BIGINT) AS last_event_id,
           CAST({n_rows} AS BIGINT) AS n_rows,
           CAST((length(wm) - length(replace(wm, ';', ''))) - ({n_rows}) AS BIGINT) AS n_skipped,
           {var_counts}
    FROM ex
    """


def match_recognize_relaxed_oracle_sql(
    pattern,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    skip: str = "past_last_row",
    links: set | frozenset | None = None,
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_relaxed` — for the
    round-13 variable-targeted skip modes, the anchored-attempt scan
    replayed at every token offset (running-length window sum) with
    the resume fold as a recursive CTE (the strict engine's oracle
    precedent composed with the relaxed pieces). ``links`` = the
    round-13 mixed strict/relaxed edges (default-mode replay shares
    the engine's regex verbatim)."""
    mode, target = _parse_skip(skip, pattern)
    if mode == "past_last_row":
        return _relaxed_oracle_core(pattern, _key_list(key),
                                    table, ts, type_col, id_col, links)
    return _relaxed_skip_oracle(pattern, mode, target, _key_list(key),
                                table, ts, type_col, id_col, links)


def _relaxed_skip_oracle(
    pattern,
    mode: str,
    target: int | None,
    keys: list[str],
    table: str,
    ts: str,
    type_col: str,
    id_col: str,
    links: set | frozenset | None = None,
) -> str:
    """DuckDB replay of the relaxed engine's non-default AFTER MATCH
    modes: anchored regexp attempt at every token offset, then either
    per-key offset numbering (to_next_row) or the capture-group-resume
    recursive walk (to_first/to_last) — min-offset >= running resume
    per step, exactly the Spark fold. ``links`` = mixed strict edges
    (round 13), shared with the engine via the regex."""
    _validate_relaxed(pattern)
    links = _validate_links(pattern, links)
    if target is not None and _var_negated(pattern[target][1]):
        raise ValueError("skip target must be a positive variable class")
    chars = _char_map(pattern)
    regex = _relaxed_regex(pattern, chars, links)
    anchored = f"^(?:{regex})"
    case = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in chars.items())
    ks = ", ".join(keys)
    k = len(pattern)
    eq_sh = " AND ".join(f"s.{c} = o.{c}" for c in keys)
    eq_h2 = " AND ".join(f"h2.{c} = h.{c}" for c in keys)
    eq_nxpk = " AND ".join(f"nx.{c} = pk.{c}" for c in keys)
    eq_n2pk = " AND ".join(f"n2.{c} = pk.{c}" for c in keys)
    h_key = ", ".join(f"h.{c}" for c in keys)
    nx_key = ", ".join(f"nx.{c}" for c in keys)
    o_key = ", ".join(f"o.{c}" for c in keys)

    def strip_class(expr: str, cls: str) -> str:
        for c in cls:
            expr = f"replace({expr}, '{c}', '')"
        return expr

    def count_sql(i, etype) -> str:
        cls = _var_class(etype, chars)
        cls_cnt = f"length(g{i}) - length({strip_class(f'g{i}', cls)})"
        if _var_negated(etype):
            return (f"(length(g{i}) - length(replace(g{i}, ';', '')))"
                    f" - ({cls_cnt})")
        return cls_cnt

    n_exprs = [count_sql(i, etype) for i, (_, etype, _) in enumerate(pattern)]
    n_rows = " + ".join(f"({e})" for e in n_exprs)
    var_counts = ",\n           ".join(
        f"CAST({e} AS BIGINT) AS n_{var.lower()}"
        for e, (var, _, _) in zip(n_exprs, pattern)
    )
    var_cols = ", ".join(f"n_{var.lower()}" for var, _, _ in pattern)
    gsel = ",\n               ".join(
        f"regexp_extract(sub, '{anchored}', {i + 1}) AS g{i}"
        for i in range(k)
    )
    common = f"""
    src AS (SELECT * FROM {table}),
    toks AS (
        SELECT {ks},
               CASE {type_col} {case} ELSE 'z' END || {id_col} || ';' AS tok,
               {ts}, {id_col}
        FROM src
    ),
    seq AS (SELECT {ks}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {ks}),
    offs AS (
        SELECT {ks},
               1 + COALESCE(SUM(length(tok)) OVER (
                   PARTITION BY {ks} ORDER BY {ts}, {id_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS off
        FROM toks
    ),
    subs AS (
        SELECT {o_key}, o.off, substr(s.s, CAST(o.off AS BIGINT)) AS sub
        FROM offs o JOIN seq s ON {eq_sh}
    ),
    hits0 AS (
        SELECT {ks}, off,
               regexp_extract(sub, '{anchored}', 0) AS m,
               {gsel}
        FROM subs
    ),
    hits AS (
        SELECT {ks}, off, m,
               CAST(regexp_extract(m, '^[a-z]([0-9]+);', 1) AS BIGINT)
                   AS first_event_id,
               CAST(regexp_extract(m, '([0-9]+);$', 1) AS BIGINT)
                   AS last_event_id,
               CAST({n_rows} AS BIGINT) AS n_rows,
               CAST((length(m) - length(replace(m, ';', '')))
                    - ({n_rows}) AS BIGINT) AS n_skipped,
               {var_counts},
               {{RESUME}} AS resume
        FROM hits0 WHERE m <> ''
    )"""
    if mode == "to_next_row":
        resume = "CAST(0 AS BIGINT)"
        body = f"""
    SELECT {ks},
           CAST(row_number() OVER (PARTITION BY {ks} ORDER BY off)
                AS BIGINT) AS match_no,
           first_event_id, last_event_id, n_rows, n_skipped, {var_cols}
    FROM hits"""
        return ("WITH " + common.replace("{RESUME}", resume) + body)
    piece_start = "off" + "".join(f" + length(g{i})" for i in range(target))
    cls = _var_class(pattern[target][1], chars)
    if mode == "to_first":
        resume = (f"CAST({piece_start} + length(regexp_extract(g{target}, "
                  f"'^((?:[^{cls}][0-9]+;)*)', 1)) AS BIGINT)")
    else:
        resume = (f"CAST({piece_start} + length(g{target}) - "
                  f"length(regexp_extract(g{target}, "
                  f"'([a-z][0-9]+;)$', 1)) AS BIGINT)")
    body = f""",
    pick AS (
        SELECT {ks}, off, resume, first_event_id, last_event_id,
               n_rows, n_skipped, {var_cols}, 1 AS match_no
        FROM hits h
        WHERE off = (SELECT min(off) FROM hits h2 WHERE {eq_h2})
      UNION ALL
        SELECT {nx_key}, nx.off, nx.resume, nx.first_event_id,
               nx.last_event_id, nx.n_rows, nx.n_skipped,
               {', '.join(f'nx.n_{var.lower()}' for var, _, _ in pattern)},
               pk.match_no + 1
        FROM pick pk JOIN hits nx
             ON {eq_nxpk} AND nx.off >= pk.resume
        WHERE nx.off = (SELECT min(n2.off) FROM hits n2
                        WHERE {eq_n2pk} AND n2.off >= pk.resume)
    )
    SELECT {ks}, CAST(match_no AS BIGINT) AS match_no,
           first_event_id, last_event_id, n_rows, n_skipped, {var_cols}
    FROM pick"""
    return ("WITH RECURSIVE " + common.replace("{RESUME}", resume) + body)


def _edge_first_admit_regex(etype, chars: dict[str, str]) -> str:
    """Anchored regex extracting the id of the FIRST row a piece's
    variable ADMITTED (skipping the piece's leading gap tokens) — the
    upper boundary row of an interior absence edge. Token heads are
    single letters, so whole-token skipping keeps digit chars from
    aliasing as heads."""
    cls = _var_class(etype, chars)
    if _var_negated(etype):
        return f"^(?:[{cls}][0-9]+;)*[^{cls}]([0-9]+);"
    return f"^(?:[^{cls}][0-9]+;)*[{cls}]([0-9]+);"


def _edge_bound_cols(m, anchored: str, pattern, chars, edge_idxs):
    """Per interior edge i -> i+1: the id of variable i's LAST consumed
    row (every nonempty piece ends with its admit token) and variable
    i+1's FIRST admitted row — the (exclusive) boundary rows of the
    non-consuming absence window. Columns ``_lo_id_e{i}`` /
    ``_hi_id_e{i}``."""
    cols = []
    for i in edge_idxs:
        g_lo = F.regexp_extract(m, anchored, i + 1)
        g_hi = F.regexp_extract(m, anchored, i + 2)
        cols.append(F.regexp_extract(g_lo, "([0-9]+);$", 1)
                    .cast("long").alias(f"_lo_id_e{i}"))
        cols.append(
            F.regexp_extract(
                g_hi, _edge_first_admit_regex(pattern[i + 1][1], chars), 1
            ).cast("long").alias(f"_hi_id_e{i}"))
    return cols


def match_recognize_relaxed_within(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    within_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    links: set | frozenset | None = None,
    _edges: tuple = (),
) -> DataFrame:
    """Flink CEP's most common real-world composition:
    ``begin(...).followedBy(...).within(Time)`` — relaxed-contiguity
    matching with a per-match time bound. Every consumed row (matched
    AND skipped) must fall inside ``[first_ts, first_ts + within]``;
    a chain that cannot complete in the window yields no match (a
    shorter in-window completion is preferred, per greedy
    backtracking over the truncated run). Greedy, ONE ROW PER MATCH,
    AFTER MATCH SKIP PAST LAST ROW.

    Lowering: the :func:`match_recognize_within` anchored machinery
    with the relaxed captured regex — per anchor the eligible run is
    the contiguous rows with ``ts <= ts_anchor + within`` and the
    anchored scan applies to exactly that substring (the time bound
    also CLOSES the skip-till-next state that an unbounded relaxed
    scan would hold open, so this is hot-key-safe without
    sessionizing — the within window IS the bound). Measures are
    decoded by re-extracting the capture groups from the matched
    substring itself, which reproduces the original parse exactly:
    every alternative explored before the first success depends only
    on consumed content. Same single shuffle, zero Python.

    Returns ``key..., match_no, first_event_id, last_event_id,
    n_rows (variable-consumed), n_skipped, n_<var>...`` (the relaxed
    measure set). Window boundary CLOSED, as the within engine.
    ``links`` (r13) composes — the mixed strict edges only narrow the
    captured pieces the anchored scan already explores.

    ``_edges`` (r15, internal): interior edge indices for which the
    output additionally carries the absence-window boundary ids
    (:func:`_edge_bound_cols`) — the composition hook for
    :func:`match_recognize_not_followed_by_interior`.
    """
    _validate_relaxed(pattern)
    links = _validate_links(pattern, links)
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(pattern)
    regex = _relaxed_regex(pattern, chars, links)
    anchored = f"^(?:{regex})"
    lead = _leading_classes(pattern, chars)

    tok_char: F.Column = F.lit("z")
    for etype, ch in reversed(chars.items()):
        tok_char = F.when(F.col(type_col) == etype, ch).otherwise(tok_char)
    rows = events.select(
        *[F.col(k) for k in keys],
        F.struct(
            F.col(ts).alias("ts"),
            F.col(id_col).alias("id"),
            F.concat(tok_char, F.col(id_col).cast("string"), F.lit(";"))
            .alias("tok"),
            *_within_row_cols(keys, ts, id_col, within_minutes),
        ).alias("t"),
    )
    grouped = rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("t")).alias("arr")
    )
    out = _within_core(grouped, keys, anchored, lead)
    m = F.col("col")["m"]
    n_vars = [
        _relaxed_var_count(
            F.regexp_extract(m, anchored, i + 1), var, etype, chars
        )
        for i, (var, etype, _) in enumerate(pattern)
    ]
    n_rows = n_vars[0]
    for c in n_vars[1:]:
        n_rows = n_rows + c
    n_tok = (F.length(m) - F.length(F.translate(m, ";", ""))).cast("long")
    return out.select(
        *[F.col(k) for k in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(m, "^[a-z]([0-9]+);", 1).cast("long")
        .alias("first_event_id"),
        F.regexp_extract(m, "([0-9]+);$", 1).cast("long")
        .alias("last_event_id"),
        n_rows.cast("long").alias("n_rows"),
        (n_tok - n_rows).cast("long").alias("n_skipped"),
        *n_vars,
        *_edge_bound_cols(m, anchored, pattern, chars, _edges),
    )


def match_recognize_relaxed_within_oracle_sql(
    pattern,
    within_minutes: int,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    links: set | frozenset | None = None,
    _edges: tuple = (),
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_relaxed_within`:
    the within engine's per-anchor truncated substring + recursive-CTE
    selection, with the relaxed captured regex and per-group measure
    re-extraction from the matched substring (``links`` = the r13
    mixed strict edges, regex-shared)."""
    keys = _key_list(key)
    key = ", ".join(keys)
    _validate_relaxed(pattern)
    links = _validate_links(pattern, links)
    chars = _char_map(pattern)
    regex = _relaxed_regex(pattern, chars, links)
    case = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in chars.items())
    lead = _leading_classes(pattern, chars)
    prune = (
        "WHERE substring(r.tok, 1, 1) IN ("
        + ", ".join(f"'{c}'" for c in lead) + ")"
    ) if lead else ""

    def strip_class(expr: str, cls: str) -> str:
        for c in cls:
            expr = f"replace({expr}, '{c}', '')"
        return expr

    def group_expr(i: int) -> str:
        return f"regexp_extract(m, '^(?:{regex})', {i + 1})"

    def count_expr(i, etype) -> str:
        g = group_expr(i)
        cls = _var_class(etype, chars)
        cls_cnt = f"length({g}) - length({strip_class(g, cls)})"
        if _var_negated(etype):
            return (f"(length({g}) - length(replace({g}, ';', '')))"
                    f" - ({cls_cnt})")
        return cls_cnt

    n_exprs = [count_expr(i, etype)
               for i, (_, etype, _) in enumerate(pattern)]
    n_rows = " + ".join(f"({e})" for e in n_exprs)
    var_counts = ",\n           ".join(
        f"CAST({e} AS BIGINT) AS n_{var.lower()}"
        for e, (var, _, _) in zip(n_exprs, pattern)
    )
    edge_cols = "".join(
        f""",
           CAST(regexp_extract({group_expr(i)}, '([0-9]+);$', 1)
                AS BIGINT) AS _lo_id_e{i},
           CAST(regexp_extract({group_expr(i + 1)},
                '{_edge_first_admit_regex(pattern[i + 1][1], chars)}', 1)
                AS BIGINT) AS _hi_id_e{i}"""
        for i in _edges
    )
    return f"""
    WITH RECURSIVE src AS (SELECT * FROM {table}),
    toks AS (
        SELECT {key}, {ts}, {id_col},
               CASE {type_col} {case} ELSE 'z' END || {id_col} || ';' AS tok
        FROM src
    ),
    r AS (
        SELECT {key}, {ts}, {id_col}, tok,
               row_number() OVER w AS rn,
               CAST(1 + COALESCE(SUM(length(tok))
                   OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS off,
               COUNT(*) OVER (PARTITION BY {key} ORDER BY {ts}
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND INTERVAL {int(within_minutes)} MINUTE
                                  FOLLOWING) AS rj
        FROM toks
        WINDOW w AS (PARTITION BY {key} ORDER BY {ts}, {id_col})
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key}),
    hits AS (
        SELECT {_key_cols('r', keys)}, r.off,
               regexp_extract(
                   substring(q.s, CAST(r.off AS INT),
                             CAST(COALESCE(r2.off, length(q.s) + 1) - r.off
                                  AS INT)),
                   '^(?:{regex})', 0) AS m
        FROM r
        JOIN seq q ON {_key_eq('q', 'r', keys)}
        LEFT JOIN r r2 ON {_key_eq('r2', 'r', keys)} AND r2.rn = r.rj + 1
        {prune}
    ),
    hr AS (SELECT {key}, off, m,
                  CAST(off + length(m) AS BIGINT) AS resume
           FROM hits WHERE m <> ''),
    pick AS (
        SELECT {key}, off, m, resume, 1 AS match_no
        FROM hr h
        WHERE off = (SELECT min(off) FROM hr h2 WHERE {_key_eq('h2', 'h', keys)})
      UNION ALL
        SELECT {_key_cols('n', keys)}, n.off, n.m, n.resume, p.match_no + 1
        FROM pick p JOIN hr n ON {_key_eq('n', 'p', keys)} AND n.off >= p.resume
        WHERE n.off = (SELECT min(n2.off) FROM hr n2
                       WHERE {_key_eq('n2', 'p', keys)} AND n2.off >= p.resume)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           CAST(regexp_extract(m, '^[a-z]([0-9]+);', 1) AS BIGINT)
               AS first_event_id,
           CAST(regexp_extract(m, '([0-9]+);$', 1) AS BIGINT)
               AS last_event_id,
           CAST({n_rows} AS BIGINT) AS n_rows,
           CAST((length(m) - length(replace(m, ';', ''))) - ({n_rows})
               AS BIGINT) AS n_skipped,
           {var_counts}{edge_cols}
    FROM pick
    """


# ---------------------------------------------------------------------------
# notFollowedBy — Flink CEP's absence constraint between variables
# ---------------------------------------------------------------------------


def _relaxed_forbid(pattern):
    """Split 4-tuple relaxed entries ``(var, etype, quant, forbid)``
    into the plain 3-tuple pattern plus a per-index forbid map.
    ``forbid`` is an event type (or tuple of types) that must NOT
    occur among the rows skipped while waiting for the variable —
    Flink's ``notFollowedBy(N).followedBy(X)`` linking. 3-tuples pass
    through with no constraint."""
    plain, forbid = [], {}
    for i, el in enumerate(pattern):
        if len(el) == 4:
            var, etype, quant, f = el
            plain.append((var, etype, quant))
            if f:
                forbid[i] = (f,) if isinstance(f, str) else tuple(f)
        elif len(el) == 3:
            plain.append(el)
        else:
            raise ValueError(
                "pattern entries are (var, types, quant[, forbid])")
    return plain, forbid


def _validate_relaxed_not(plain, forbid) -> dict:
    _validate_relaxed(plain)
    if 0 in forbid:
        raise ValueError(
            "the first variable cannot carry a forbid set: nothing is "
            "skipped before the match anchor (Flink's notFollowedBy "
            "cannot be the first pattern element either)")
    for i, types in forbid.items():
        var, etype, _ = plain[i]
        if _var_negated(etype):
            raise ValueError(
                f"variable {var!r}: forbid sets on complement variables "
                "are not supported (the complement already constrains "
                "the skipped rows)")
        if not types:
            raise ValueError(f"variable {var!r}: empty forbid set")
    return forbid


def _relaxed_not_regex(plain, forbid, chars) -> str:
    """The relaxed regex with per-variable forbid classes folded into
    the flat char-class lowering: while waiting for variable i, the
    skip class excludes BOTH its admit letters and its forbidden
    letters — a forbidden row stops the skip dead and (since the admit
    atom then fails) kills the attempt, which is exactly
    notFollowedBy's absence semantics. The unbounded any-token star
    likewise becomes ``[^f]*`` (no forbidden char may appear anywhere
    inside the variable's consumed span, including between repeats —
    Flink's relaxed oneOrMore under a notFollowedBy guard)."""
    pieces = []
    for i, (var, etype, quant) in enumerate(plain):
        if i not in forbid:
            pieces.append(_relaxed_piece(etype, quant, chars, first=(i == 0)))
            continue
        fcls = "".join(chars[t] for t in forbid[i])
        cls = _var_class(etype, chars)
        a = f"{cls if len(cls) == 1 else f'[{cls}]'}[0-9]+;"
        skip = f"[^{cls}{fcls}]*"
        anyok = f"[^{fcls}]*"
        lo, hi, lazy = _quant_parse(quant)
        zz = "?" if lazy else ""
        opt = "??" if lazy else "?"
        if quant == "1":
            pieces.append(f"({skip}{a})")
        elif quant in ("?", "??"):
            # outer optionality marker ('?' greedy / '??' lazy), same
            # fix as _relaxed_piece's '?' branch
            pieces.append(f"((?:{skip}{a}){opt})")
        elif quant in ("+", "+?"):
            pieces.append(f"({anyok}{zz}{a})")
        elif quant in ("*", "*?"):
            pieces.append(f"((?:{anyok}{zz}{a}){opt})")
        else:  # bounded {m,n}: per-occurrence skip class, depth <= n
            pieces.append(f"((?:{skip}{a}){_quant_regex(quant)})")
    return "".join(pieces)


def match_recognize_relaxed_not(
    events: DataFrame,
    pattern: list[tuple],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Relaxed matching with ABSENCE constraints — Flink CEP's
    ``notFollowedBy(N).followedBy(X)`` linking: pattern entries may be
    4-tuples ``(var, types, quant, forbid_types)`` where a row of a
    forbidden type occurring among the rows SKIPPED while waiting for
    the variable (or between its relaxed repeats) kills the match
    attempt at that anchor. Everything else is
    :func:`match_recognize_relaxed` — same measures (the forbid set
    only restricts which rows may be skipped), same single shuffle,
    same flat char-class lowering (the forbid letters simply join the
    skip-class complement, so the scan stays iterative and
    hot-key-safe for positive variables).

    Note the alphabet subtlety: forbidden types join the pattern
    alphabet (they get token chars), so rows of those types are
    VISIBLE to the scan even though no variable matches them.
    """
    plain, forbid = _relaxed_forbid(pattern)
    _validate_relaxed_not(plain, forbid)
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(
        plain + [("__F", types, "1") for types in forbid.values()]
    )
    regex = _relaxed_not_regex(plain, forbid, chars)
    seq = _seq_strings(events, chars, keys, ts, type_col, id_col,
                       guard_regex=regex)
    k = len(plain)
    groups = seq.select(
        *[F.col(c) for c in keys],
        F.regexp_extract_all("s", F.lit(regex), F.lit(0)).alias("w"),
        *[
            F.regexp_extract_all("s", F.lit(regex), F.lit(i + 1)).alias(f"g{i}")
            for i in range(k)
        ],
    )
    zipped = groups.select(
        *[F.col(c) for c in keys],
        F.posexplode(
            F.arrays_zip(F.col("w"), *[F.col(f"g{i}") for i in range(k)])
        ),
    )
    w = F.col("col")["w"]
    n_vars = [
        _relaxed_var_count(F.col("col")[f"g{i}"], var, etype, chars)
        for i, (var, etype, _) in enumerate(plain)
    ]
    n_tok_w = (F.length(w) - F.length(F.translate(w, ";", ""))).cast("long")
    n_rows = n_vars[0]
    for c in n_vars[1:]:
        n_rows = n_rows + c
    return zipped.select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(w, "^[a-z]([0-9]+);", 1).cast("long").alias("first_event_id"),
        F.regexp_extract(w, "([0-9]+);$", 1).cast("long").alias("last_event_id"),
        n_rows.cast("long").alias("n_rows"),
        (n_tok_w - n_rows).cast("long").alias("n_skipped"),
        *n_vars,
    )


def match_recognize_relaxed_not_oracle_sql(
    pattern,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_relaxed_not` (the
    relaxed oracle with the forbid-extended alphabet and regex)."""
    plain, forbid = _relaxed_forbid(pattern)
    _validate_relaxed_not(plain, forbid)
    chars = _char_map(
        plain + [("__F", types, "1") for types in forbid.values()]
    )
    regex = _relaxed_not_regex(plain, forbid, chars)
    return _relaxed_oracle_with(plain, chars, regex, _key_list(key),
                                table, ts, type_col, id_col)


def _relaxed_classified(var_name: str, etype, chars: dict[str, str]):
    """Transform lambda for one relaxed piece's token array: admit
    tokens classify as the variable, skipped (gap) tokens classify as
    NULL — Flink's select() sees only the former; the NULL rows are
    the consumed-but-unmatched gap, surfaced so ALL consumed rows
    appear exactly once."""
    cls = _var_class(etype, chars)
    neg = _var_negated(etype)

    def f(tok):
        ch = F.substring(tok, 1, 1)
        is_admit = (~ch.isin(*list(cls))) if neg else ch.isin(*list(cls))
        return F.struct(
            F.when(is_admit, F.lit(var_name)).alias("classifier"),
            F.regexp_extract(tok, "([0-9]+);", 1).cast("long")
            .alias("event_id"),
        )

    return f


def match_recognize_relaxed_all_rows(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    links: set | frozenset | None = None,
) -> DataFrame:
    """ALL ROWS output for relaxed (followedBy) matching — the shape
    Flink CEP's ``select()``/``flatSelect()`` hands the user: every row
    a match CONSUMED, with ``classifier`` = the pattern variable that
    matched it, or NULL for rows the match skipped while waiting
    (consumed-but-unmatched — Flink drops these from select() output;
    filtering ``classifier IS NOT NULL`` reproduces that exactly, and
    surfacing them keeps every consumed row accounted for once).

    Lowering: the relaxed captured pieces are contiguous and cover the
    whole match, so per match the per-piece group arrays are exploded
    token-wise; a token classifies by whether its type char is in the
    piece variable's admit class. Same single shuffle; k+1 regex
    passes per key string (k = pattern arity).

    Returns ``key..., match_no, row_in_match (1-based over consumed
    rows), classifier (nullable), event_id``. ``links`` (r13) composes
    — mixed strict edges share the captured-piece regex.
    """
    _validate_relaxed(pattern)
    links = _validate_links(pattern, links)
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(pattern)
    regex = _relaxed_regex(pattern, chars, links)
    seq = _seq_strings(events, chars, keys, ts, type_col, id_col,
                       guard_regex=regex)
    k = len(pattern)
    groups = seq.select(
        *[F.col(c) for c in keys],
        *[
            F.regexp_extract_all("s", F.lit(regex), F.lit(i + 1)).alias(f"g{i}")
            for i in range(k)
        ],
    )
    zipped = groups.select(
        *[F.col(c) for c in keys],
        F.posexplode(F.arrays_zip(*[F.col(f"g{i}") for i in range(k)])),
    ).select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.flatten(
            F.array(
                *[
                    F.transform(
                        F.regexp_extract_all(
                            F.col("col")[f"g{i}"],
                            F.lit("[a-z][0-9]+;"),
                            F.lit(0),
                        ),
                        _relaxed_classified(var, etype, chars),
                    )
                    for i, (var, etype, _) in enumerate(pattern)
                ]
            )
        ).alias("rows"),
    )
    return zipped.select(
        *[F.col(c) for c in keys],
        "match_no",
        F.posexplode("rows"),
    ).select(
        *[F.col(c) for c in keys],
        "match_no",
        (F.col("pos") + 1).cast("long").alias("row_in_match"),
        F.col("col")["classifier"].alias("classifier"),
        F.col("col")["event_id"].alias("event_id"),
    )


def match_recognize_relaxed_all_rows_oracle_sql(
    pattern,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    links: set | frozenset | None = None,
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_relaxed_all_rows`:
    the same captured relaxed scan, per-variable group arrays unnested
    token-wise with the admit-class CASE classifier (``links`` = the
    r13 mixed strict edges, regex-shared)."""
    key = ", ".join(_key_list(key))
    _validate_relaxed(pattern)
    links = _validate_links(pattern, links)
    chars = _char_map(pattern)
    regex = _relaxed_regex(pattern, chars, links)
    case = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in chars.items())
    k = len(pattern)
    gcols = ",\n               ".join(
        f"regexp_extract_all(s, '{regex}', {i + 1}) AS g{i}" for i in range(k)
    )
    gsel = ", ".join(f"g{i}[i] AS r{i}" for i in range(k))

    def cls_case_tok(i, var, etype) -> str:
        cls = _var_class(etype, chars)
        inset = ", ".join(f"'{c}'" for c in cls)
        cond = (f"substring(tks[j], 1, 1) NOT IN ({inset})"
                if _var_negated(etype)
                else f"substring(tks[j], 1, 1) IN ({inset})")
        return f"CASE WHEN {cond} THEN '{var}' END"

    # no WITH ORDINALITY in DuckDB 1.0 — index via generate_series
    branches = "\n      UNION ALL\n        ".join(
        f"SELECT {key}, match_no, {i} AS vord, j,\n"
        f"               {cls_case_tok(i, var, etype)} AS classifier,\n"
        f"               CAST(regexp_extract(tks[j], '([0-9]+);', 1)"
        f" AS BIGINT) AS event_id\n"
        f"        FROM (SELECT {key}, match_no,"
        f" regexp_extract_all(r{i}, '[a-z][0-9]+;') AS tks FROM pm),\n"
        f"             unnest(generate_series(1, len(tks))) AS u(j)"
        for i, (var, etype, _) in enumerate(pattern)
    )
    return f"""
    WITH src AS (SELECT * FROM {table}),
    toks AS (
        SELECT {key},
               CASE {type_col} {case} ELSE 'z' END || {id_col} || ';' AS tok,
               {ts}, {id_col}
        FROM src
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key}),
    m AS (SELECT {key},
               len(regexp_extract_all(s, '{regex}', 1)) AS nm,
               {gcols}
          FROM seq),
    pm AS (SELECT {key}, CAST(i AS BIGINT) AS match_no, {gsel}
           FROM m, unnest(generate_series(1, nm)) AS t(i)),
    vr AS (
        {branches}
    )
    SELECT {key}, match_no,
           CAST(row_number() OVER (PARTITION BY {key}, match_no
                                   ORDER BY vord, j) AS BIGINT) AS row_in_match,
           classifier, event_id
    FROM vr
    """


# --- followedByAny: non-deterministic relaxed contiguity ------------------
#
# Flink CEP's THIRD linking mode (Pattern.followedByAny / NFACompiler's
# SKIP_TILL_ANY_MATCH): where followedBy commits to the FIRST admitting
# row after each partial match, followedByAny branches on EVERY
# admitting row — the result is ALL ordered combinations (e_1 < ... <
# e_k in event order) whose elements satisfy the per-variable
# predicates. That enumeration is not a single regex scan (one scan
# yields one parse) — it is a k-way ordered JOIN, which is exactly how
# a relational engine should run it: each variable's admitted rows are
# a filtered projection of the event stream, and the combinations fall
# out of a chain of per-key equi-joins with an order predicate. Spark
# hash-partitions every join in the chain on the same key columns, so
# the accumulated left side keeps its partitioning and each step
# shuffles only the new (filtered, narrow) admitted stream.

def _validate_fba(pattern) -> None:
    if len(pattern) < 2:
        raise ValueError("followedByAny needs at least two variables")
    seen: set[str] = set()
    for var, _etype, quant in pattern:
        if quant != "1":
            raise ValueError(
                "followedByAny enumerates ALL combinations, so every "
                "variable is single-occurrence (quant '1'); Flink's "
                "oneOrMore+allowCombinations explodes the same way its "
                "NFA state does — use the relaxed (followedBy) or "
                "strict engine for quantified variables")
        v = var.lower()
        if v in seen:
            raise ValueError(f"duplicate variable name {var!r}")
        seen.add(v)


def _fba_pred_col(etype, type_col: str):
    cond = F.col(type_col).isin(*_types_of(etype))
    return ~cond if _var_negated(etype) else cond


def _fba_pred_sql(etype, type_col: str) -> str:
    types = ", ".join(f"'{t}'" for t in _types_of(etype))
    op = "NOT IN" if _var_negated(etype) else "IN"
    return f"{type_col} {op} ({types})"


def match_recognize_followed_by_any(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    within_minutes: int | None = None,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink CEP's ``followedByAny`` (skip-till-any-match): emit one
    row per ordered COMBINATION ``(e_1, ..., e_k)`` of events of the
    same key where ``e_i`` satisfies variable ``i``'s type predicate
    (alternations and ``!``-complements as in the strict engine, all
    variables single-occurrence — :func:`_validate_fba`) and the
    events are strictly increasing in ``(ts, id)`` order. With
    ``within_minutes`` set (Flink's ``.within()``), every element must
    fall inside ``[first_ts, first_ts + within]`` — apply it in
    production: it is what bounds the per-key combination count.

    No after-match skip applies — Flink pairs followedByAny with
    NO_SKIP for exactly this reason: every branch IS a match.

    Plan: k per-key filtered projections of the event stream chained
    through k-1 equi-joins on the key columns with the order (and
    within) predicate as join residuals. All joins share the same hash
    partitioning, so only each new admitted side shuffles; the within
    bound rides INSIDE every join condition, pruning combinations as
    early as possible rather than post-filtering the full product.

    HOT-KEY GUARD (measured, tools/hotkey_stress.py): a plain per-key
    equi-join degenerates on one hot key — every accumulated row
    probes the key's ENTIRE admitted history (the hash bucket is the
    whole key), an O(V·C) term no within residual can cut because
    residuals run after the probe. With ``within`` set, the bucket of
    width ``within`` containing ``first_ts`` joins the equi-key
    (events within the bound sit in the anchor's bucket or the next
    one, so the accumulated side explodes to those 2 candidates — the
    binned-range-join construction of operators/rangejoin.py): probes
    now touch ~2 windows of events instead of the key's history,
    restoring per-window cost on hot keys at the price of doubling
    the (already pruned) accumulated side. Unbounded calls keep the
    plain key join — their output is the quadratic, not the probe.

    Returns ``key..., <var>_event_id per variable, first_ts, last_ts``.
    """
    _validate_fba(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    k = len(pattern)

    def admitted(i: int) -> DataFrame:
        var, etype, _ = pattern[i]
        return events.filter(_fba_pred_col(etype, type_col)).select(
            *[F.col(c) for c in keys],
            F.col(ts).alias(f"_ts_{i}"),
            F.col(id_col).alias(f"{var.lower()}_event_id"),
        )

    wsec = None if within_minutes is None else int(within_minutes) * 60

    def bucket(col) -> "F.Column":
        return F.floor(F.unix_timestamp(col) / F.lit(wsec))

    cur = admitted(0)
    for i in range(1, k):
        nxt = admitted(i)
        for c in keys:
            nxt = nxt.withColumnRenamed(c, f"_r_{c}")
        cond = F.lit(True)
        for c in keys:
            cond = cond & (F.col(c) == F.col(f"_r_{c}"))
        prev_id = f"{pattern[i - 1][0].lower()}_event_id"
        cur_id = f"{pattern[i][0].lower()}_event_id"
        p_ts, c_ts = F.col(f"_ts_{i - 1}"), F.col(f"_ts_{i}")
        cond = cond & (
            (p_ts < c_ts)
            | ((p_ts == c_ts) & (F.col(prev_id) < F.col(cur_id)))
        )
        if wsec is not None:
            cond = cond & (
                c_ts <= F.col("_ts_0")
                + F.expr(f"INTERVAL {int(within_minutes)} MINUTE")
            )
            # candidate buckets of the anchor: a row inside the within
            # bound lands in bucket(first_ts) or bucket(first_ts)+1
            b0 = bucket(F.col("_ts_0"))
            left = cur.withColumn(
                "_bc", F.explode(F.array(b0, b0 + F.lit(1))))
            nxt = nxt.withColumn("_rb", bucket(F.col(f"_ts_{i}")))
            cond = cond & (F.col("_bc") == F.col("_rb"))
            cur = left.join(nxt, cond, "inner").drop(
                "_bc", "_rb", *[f"_r_{c}" for c in keys])
        else:
            cur = cur.join(nxt, cond, "inner").drop(
                *[f"_r_{c}" for c in keys])
    return cur.select(
        *[F.col(c) for c in keys],
        *[F.col(f"{var.lower()}_event_id") for var, _, _ in pattern],
        F.col("_ts_0").alias("first_ts"),
        F.col(f"_ts_{k - 1}").alias("last_ts"),
    )


def _fba_oracle_core(
    pattern,
    within_minutes: int | None,
    keys: list[str],
    table: str,
    ts: str,
    type_col: str,
    id_col: str,
) -> str:
    """Shared DuckDB replay of :func:`match_recognize_followed_by_any`
    — the same k-way ordered join, spelled as plain ANSI joins over a
    table (the combination semantics are fully relational; no regex
    replay needed). ``keys`` may be compound (the sessionized form
    joins on (key, session_id))."""
    _validate_fba(pattern)
    k = len(pattern)
    joins = []
    for i in range(1, k):
        _, etype, _ = pattern[i]
        conds = [f"e0.{c} = e{i}.{c}" for c in keys] + [
            f"(e{i - 1}.{ts} < e{i}.{ts} OR (e{i - 1}.{ts} = e{i}.{ts} "
            f"AND e{i - 1}.{id_col} < e{i}.{id_col}))",
            _fba_pred_sql(etype, f"e{i}.{type_col}"),
        ]
        if within_minutes is not None:
            conds.append(
                f"e{i}.{ts} <= e0.{ts} + INTERVAL {int(within_minutes)} "
                "MINUTE")
        joins.append(f"JOIN src e{i} ON " + " AND ".join(conds))
    key_cols = ", ".join(f"e0.{c}" for c in keys)
    id_cols = ",\n           ".join(
        f"e{i}.{id_col} AS {var.lower()}_event_id"
        for i, (var, _, _) in enumerate(pattern)
    )
    return f"""
    WITH src AS (SELECT * FROM {table})
    SELECT {key_cols},
           {id_cols},
           e0.{ts} AS first_ts,
           e{k - 1}.{ts} AS last_ts
    FROM src e0
    {' '.join(joins)}
    WHERE {_fba_pred_sql(pattern[0][1], f'e0.{type_col}')}
    """


def match_recognize_followed_by_any_oracle_sql(
    pattern,
    within_minutes: int | None = None,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_followed_by_any`."""
    return _fba_oracle_core(pattern, within_minutes, _key_list(key),
                            table, ts, type_col, id_col)


# --- times(m,n).allowCombinations(): non-deterministic LOOP contiguity ----
#
# The third and last LOOP-internal contiguity mode of Flink's Pattern
# API (round 15): .consecutive() = strict (match_recognize_consecutive),
# default = relaxed skip-till-next (match_recognize_relaxed), and
# .allowCombinations() = non-deterministic — an event admitted by the
# loop may ALSO be skipped so a later branch picks a different subset:
# every strictly-increasing k-combination (m <= k <= n) of admitting
# rows is its own branch/match. The FBA engine above covers the ANY
# linking between single-occurrence variables and deliberately rejects
# quantified loops (the unbounded form explodes exactly like Flink's
# NFA state); the BOUNDED times(m,n) form is safe to enumerate and is
# what Flink users actually deploy (the docs tell them to bound it).


def _validate_combinations(pattern) -> tuple[int, int, int]:
    """Scope rules for the combinations engine (generalized in round
    16 — VERDICT r15 missing #3): a single-occurrence followedBy chain
    of ANY length >= 3 around EXACTLY ONE bounded {m,n} combination
    loop with 1 <= m <= n <= 4, the loop neither first nor last (the
    enumeration is C(rows-in-window, k) per anchor; n is the
    user-declared blowup exponent, exactly as in Flink, where an
    unbounded oneOrMore().allowCombinations() is a documented memory
    hazard). Returns (loop_idx, m, n)."""
    if len(pattern) < 3:
        raise ValueError(
            "times-combinations needs at least 3 variables: a "
            "single-occurrence anchor, the combination loop, and a "
            "single-occurrence close (prefix/suffix chains of further "
            "single-occurrence variables are allowed)")
    seen = set()
    loop_idx = lo = hi = None
    for i, (var, etype, quant) in enumerate(pattern):
        if not _types_of(etype):
            raise ValueError(
                f"variable {var!r} needs at least one event type")
        if var in seen:
            raise ValueError(f"duplicate pattern variable {var!r}")
        seen.add(var)
        if quant == "1":
            continue
        if loop_idx is not None:
            raise ValueError(
                f"variable {var!r}: exactly ONE combination loop per "
                "pattern — every other variable is single-occurrence "
                "('1') in the allowCombinations chain")
        l, h, lazy = _quant_parse(quant)
        if lazy or h is None or l < 1 or h > 4 or l > h:
            raise ValueError(
                f"loop quantifier {quant!r}: allowCombinations needs "
                "a bounded greedy {m,n} with 1 <= m <= n <= 4 — the "
                "branch count is C(rows, k) per anchor (Flink's own "
                "unbounded form is a documented memory hazard; bound "
                "it with times(m,n))")
        loop_idx, lo, hi = i, l, h
    if loop_idx is None:
        raise ValueError(
            "allowCombinations needs a {m,n} loop variable — a plain "
            "single-occurrence chain is the followedByAny engine")
    if loop_idx in (0, len(pattern) - 1):
        raise ValueError(
            f"variable {pattern[loop_idx][0]!r}: anchor and close are "
            "single-occurrence ('1') — the combination loop must sit "
            "strictly inside the chain")
    return loop_idx, lo, hi


def match_recognize_times_combinations(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    within_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink CEP ``times(m,n).allowCombinations()`` — the
    non-deterministic loop contiguity (round 15, the last unimplemented
    loop mode): PATTERN A L{m,n} B where every strictly-increasing
    k-combination (m <= k <= n) of L-admitting rows after the anchor is
    its own branch, and B (linked by plain ``followedBy``) consumes the
    FIRST admitting row after the branch's last loop element. The
    whole match obeys ``.within(W)``: every row in
    ``[a_ts, a_ts + W]``, closed bound (mandatory — it is what bounds
    the per-anchor combination space, in Flink and here alike). No
    after-match skip: Flink pairs allowCombinations with NO_SKIP —
    every branch IS a match, overlapping freely.

    Lowering — pure ordered joins, no NFA, no collect, no Python:
    one row_number + ONE incremental reversed-order window computes
    each row's next-B pointer (the within_step suffix-min form — the
    forward (1, unboundedFollowing) frame rescans the tail per row);
    per k in [m, n] the k-combinations are a chain of per-key
    equi-joins with (ts, id) order + within predicates (the FBA
    engine's join shape), and B attaches by pointer equi-join — O(1)
    per branch, never a scan. All joins hash-partition on the SAME key
    columns, so the accumulated left side keeps its partitioning and
    each step shuffles only the filtered admitted stream. At 100 TB
    the cost is the output size itself — C(loop rows in window, k) per
    anchor, the user-declared exponent — not the machinery.

    GENERALIZED in round 16 (VERDICT r15 missing #3): the chain may
    carry any number of further SINGLE-OCCURRENCE variables before
    and after the loop — ``begin(A).followedBy(X)...followedBy(L)
    .times(m,n).allowCombinations().followedBy(Y)...followedBy(B)``.
    Each single-occurrence followedBy element commits to the FIRST
    admitting row after the previous element (skip-till-next), so
    prefix and suffix attach by the same next-pointer equi-joins the
    canonical close already used — O(1) per branch per hop, never a
    scan; only the loop branches.

    Returns ``key..., match_no, first_event_id, [<var>_event_id for
    each interior single-occurrence variable], loop_first_id,
    loop_last_id, n_loop, last_event_id`` (n <= 4 and loop rows are
    strictly increasing, so the endpoint tuple identifies a branch
    only for n <= 2 — for n in (3, 4) equal rows are real distinct
    branches sharing endpoints; match_no makes every branch row
    unique). match_no numbers branches per key in
    (a_ts, a_id, loop_last_ts, loop_last_id, n_loop, loop_first_id)
    order.

    Reference: /root/reference/README.md:1 (no reference code exists;
    semantics from the public Flink CEP Pattern-API docs — quantifier
    "Contiguity within looping patterns" / allowCombinations).
    """
    from pyspark.sql.window import Window

    loop_idx, lo, hi = _validate_combinations(pattern)
    nvars = len(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    win = F.expr(f"INTERVAL {int(within_minutes)} MINUTES")
    preds = [_fba_pred_col(etype, type_col) for _, etype, _ in pattern]
    # single-occurrence positions needing a next-pointer column: every
    # non-anchor, non-loop variable (its row is "first admitting row
    # strictly after the previous element")
    ptr_idxs = [i for i in range(1, nvars) if i != loop_idx]

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    w_desc = Window.partitionBy(*keys).orderBy(
        F.col(ts).desc(), F.col(id_col).desc())
    rn = F.row_number().over(w)
    aug = events.select(
        *[F.col(c) for c in keys],
        F.col(ts).alias("_ts"),
        F.col(id_col).alias("_id"),
        rn.alias("_rn"),
        *[preds[i].alias(f"_p{i}") for i in (0, loop_idx)],
        *[F.min(F.when(preds[i], rn)).over(
            w_desc.rowsBetween(Window.unboundedPreceding, -1)
        ).alias(f"_n{i}") for i in ptr_idxs],
    )

    def hopped(cur, ptr_from, i, need):
        """Attach pattern position i's row: the first admitting row
        after the previous element, via its precomputed pointer
        column on `cur`; `need` lists the pointer columns the NEW row
        must carry forward. (keys, rn) equi-join + within residual."""
        side = aug.select(
            *[F.col(c).alias(f"_s{j}") for j, c in enumerate(keys)],
            F.col("_rn").alias(f"v{i}_rn"),
            F.col("_ts").alias(f"v{i}_ts"),
            F.col("_id").alias(f"v{i}_id"),
            *[F.col(f"_n{j}").alias(f"v{i}_n{j}") for j in need],
        )
        cond = F.col(f"v{i}_rn") == F.col(ptr_from)
        for j, c in enumerate(keys):
            cond = cond & (F.col(f"_s{j}") == F.col(c))
        return (
            cur.join(side, cond, "inner")
            .filter(F.col(f"v{i}_ts") <= F.col("a_ts") + win)
            .drop(*[f"_s{j}" for j in range(len(keys))])
        )

    # --- anchor + prefix chain (deterministic per anchor) -----------
    a = aug.filter("_p0").select(
        *[F.col(c) for c in keys],
        F.col("_ts").alias("a_ts"), F.col("_id").alias("a_id"),
        *[F.col(f"_n{j}").alias(f"v0_n{j}")
          for j in ptr_idxs if j < loop_idx],
    )
    cur = a
    for i in range(1, loop_idx):
        prev = i - 1
        need = [j for j in ptr_idxs if j > i and j < loop_idx]
        cur = hopped(cur, f"v{prev}_n{i}", i, need)
    pre_ts, pre_id = (("a_ts", "a_id") if loop_idx == 1
                      else (f"v{loop_idx - 1}_ts",
                            f"v{loop_idx - 1}_id"))

    # --- combination loop: per-k ordered join chains ----------------
    suffix = list(range(loop_idx + 1, nvars))
    l_rows = aug.filter(f"_p{loop_idx}").select(
        *[F.col(c) for c in keys],
        F.col("_ts").alias("l_ts"), F.col("_id").alias("l_id"),
        F.col(f"_n{suffix[0]}").alias("l_nb"),
    )

    def after(p_ts, p_id, n_ts, n_id):
        return (F.col(n_ts) > F.col(p_ts)) | (
            (F.col(n_ts) == F.col(p_ts)) & (F.col(n_id) > F.col(p_id)))

    prefix_cols = ["a_ts", "a_id"] + [
        x for i in range(1, loop_idx) for x in (f"v{i}_ts", f"v{i}_id")]
    branches = []
    for k in range(lo, hi + 1):
        b = cur
        for j in range(1, k + 1):
            lj = l_rows.select(
                *[F.col(c) for c in keys],
                F.col("l_ts").alias(f"l{j}_ts"),
                F.col("l_id").alias(f"l{j}_id"),
                F.col("l_nb").alias(f"l{j}_nb"),
            )
            p_ts, p_id = ((pre_ts, pre_id) if j == 1
                          else (f"l{j - 1}_ts", f"l{j - 1}_id"))
            b = b.join(lj, keys, "inner").filter(
                after(p_ts, p_id, f"l{j}_ts", f"l{j}_id")
                & (F.col(f"l{j}_ts") <= F.col("a_ts") + win))
        branches.append(b.select(
            *[F.col(c) for c in keys],
            *prefix_cols,
            F.col("l1_id").alias("loop_first_id"),
            F.col(f"l{k}_id").alias("loop_last_id"),
            F.col(f"l{k}_ts").alias("_ll_ts"),
            F.lit(k).cast("long").alias("n_loop"),
            F.col(f"l{k}_nb").alias(f"_loop_n{suffix[0]}"),
        ))
    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)

    # --- suffix chain: pointer attach per variable ------------------
    cur = u
    ptr_from = f"_loop_n{suffix[0]}"
    for pos, i in enumerate(suffix):
        need = suffix[pos + 1:]
        cur = hopped(cur, ptr_from, i, need)
        if pos + 1 < len(suffix):
            ptr_from = f"v{i}_n{suffix[pos + 1]}"

    w_no = Window.partitionBy(*keys).orderBy(
        "a_ts", "a_id", "_ll_ts", "loop_last_id", "n_loop",
        "loop_first_id")
    last = suffix[-1]
    return cur.select(
        *[F.col(c) for c in keys],
        F.row_number().over(w_no).cast("long").alias("match_no"),
        F.col("a_id").alias("first_event_id"),
        *[F.col(f"v{i}_id").alias(
            f"{pattern[i][0].lower()}_event_id")
          for i in range(1, loop_idx)],
        "loop_first_id", "loop_last_id", "n_loop",
        *[F.col(f"v{i}_id").alias(
            f"{pattern[i][0].lower()}_event_id")
          for i in suffix[:-1]],
        F.col(f"v{last}_id").alias("last_event_id"),
    )


def match_recognize_times_combinations_oracle_sql(
    pattern,
    within_minutes: int,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying
    :func:`match_recognize_times_combinations`: the same row_number +
    per-class next-pointer windows (forward frame — fine at oracle
    scale), the same prefix pointer hops, per-k ordered join chains
    UNION ALL'd, suffix pointer hops and (a_ts, a_id, loop_last_ts,
    loop_last_id, n_loop, loop_first_id) renumbering."""
    keys = _key_list(key)
    key = ", ".join(keys)
    loop_idx, lo, hi = _validate_combinations(pattern)
    nvars = len(pattern)
    w = int(within_minutes)
    preds = [_fba_pred_sql(etype, type_col) for _, etype, _ in pattern]
    ptr_idxs = [i for i in range(1, nvars) if i != loop_idx]
    suffix = list(range(loop_idx + 1, nvars))
    ptr_cols = ",\n               ".join(
        f"min(CASE WHEN {preds[i]} THEN rn END)"
        f" OVER (PARTITION BY {key} ORDER BY {ts}, {id_col}"
        f" ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n{i}"
        for i in ptr_idxs)

    # prefix: anchor + deterministic pointer hops to v{loop_idx-1}
    pre_joins = []
    for i in range(1, loop_idx):
        p = "a" if i == 1 else f"v{i - 1}"
        pre_joins.append(
            f"""JOIN aug v{i} ON {_key_eq(f'v{i}', 'a', keys)}
            AND v{i}.rn = {p}.n{i}
            AND v{i}.{ts} <= a.{ts} + INTERVAL {w} MINUTE""")
    pre_sel = ", ".join(
        [_key_cols("a", keys), f"a.{ts} AS a_ts", f"a.{id_col} AS a_id"]
        + [f"v{i}.{ts} AS v{i}_ts, v{i}.{id_col} AS v{i}_id"
           for i in range(1, loop_idx)])
    prev = "a" if loop_idx == 1 else f"v{loop_idx - 1}"
    pre_carry = ", ".join(
        ["a_ts", "a_id"]
        + [f"v{i}_ts, v{i}_id" for i in range(1, loop_idx)])
    prefix_cte = f"""prefix AS (
        SELECT {pre_sel},
               {prev}.{ts} AS pre_ts, {prev}.{id_col} AS pre_id
        FROM arows a
        {' '.join(pre_joins)}
    )"""

    ks = []
    for k in range(lo, hi + 1):
        joins = []
        for j in range(1, k + 1):
            if j == 1:
                p_ts, p_id = "p.pre_ts", "p.pre_id"
            else:
                p_ts, p_id = f"l{j - 1}.{ts}", f"l{j - 1}.{id_col}"
            joins.append(
                f"""JOIN lrows l{j} ON {_key_eq(f'l{j}', 'p', keys)}
                AND (l{j}.{ts} > {p_ts} OR (l{j}.{ts} = {p_ts}
                     AND l{j}.{id_col} > {p_id}))
                AND l{j}.{ts} <= p.a_ts + INTERVAL {w} MINUTE""")
        ks.append(f"""
        SELECT {_key_cols('p', keys)}, {pre_carry.replace('a_ts', 'p.a_ts')
                                  .replace('a_id', 'p.a_id')},
               l1.{id_col} AS loop_first_id,
               l{k}.{id_col} AS loop_last_id,
               l{k}.{ts} AS ll_ts,
               CAST({k} AS BIGINT) AS n_loop,
               l{k}.nb AS nb
        FROM prefix p
        {' '.join(joins)}""")
    union = "\n        UNION ALL\n".join(ks)

    # suffix: pointer hops s{i}; first from u.nb, then s{prev}.n{i}
    suf_joins = []
    for pos, i in enumerate(suffix):
        src = "u.nb" if pos == 0 else f"s{suffix[pos - 1]}.n{i}"
        suf_joins.append(
            f"""JOIN aug s{i} ON {_key_eq(f's{i}', 'u', keys)}
            AND s{i}.rn = {src}
            AND s{i}.{ts} <= u.a_ts + INTERVAL {w} MINUTE""")
    suf_sel = ", ".join(f"s{i}.{id_col} AS s{i}_id" for i in suffix)

    out_cols = (
        [f"a_id AS first_event_id"]
        + [f"v{i}_id AS {pattern[i][0].lower()}_event_id"
           for i in range(1, loop_idx)]
        + ["loop_first_id", "loop_last_id", "n_loop"]
        + [f"s{i}_id AS {pattern[i][0].lower()}_event_id"
           for i in suffix[:-1]]
        + [f"s{suffix[-1]}_id AS last_event_id"])
    return f"""
    WITH aug0 AS (
        SELECT {key}, {ts}, {id_col}, {type_col},
               row_number() OVER (PARTITION BY {key}
                                  ORDER BY {ts}, {id_col}) AS rn
        FROM {table}
    ),
    aug AS (
        SELECT *,
               {ptr_cols}
        FROM aug0
    ),
    arows AS (SELECT * FROM aug WHERE {preds[0]}),
    lrows AS (SELECT aug.*, n{suffix[0]} AS nb FROM aug
              WHERE {preds[loop_idx]}),
    {prefix_cte},
    u AS ({union}),
    m AS (
        SELECT u.*, {suf_sel}
        FROM u
        {' '.join(suf_joins)}
    )
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key}
                ORDER BY a_ts, a_id, ll_ts, loop_last_id, n_loop,
                         loop_first_id) AS BIGINT) AS match_no,
           {', '.join(out_cols)}
    FROM m
    """


# --- relaxed contiguity over DEFINE conditions -----------------------------
#
# Flink CEP composes followedBy with SimpleConditions on VALUES, not
# just event types — `begin("start").where(type).followedBy("drop")
# .where(value < prev)` is the everyday shape. The strict DEFINE
# engine already reduces arbitrary row-local predicates (types, PREV/
# NEXT value navigation) to a bitmask token alphabet; relaxed matching
# over that alphabet is the same consuming-gap lowering with a
# different letter set, so the two engines compose for free: bitmask
# tokens (one shuffle, JVM lag/lead) x flat char-class gap stars
# (hot-key-safe, RE2-replayable).

def match_recognize_relaxed_define(
    events: DataFrame,
    pattern: list[tuple[str, dict, str]],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Relaxed-contiguity (followedBy / skip-till-next) matching whose
    variables carry DEFINE conditions — ``types`` alternations and/or
    PREV/NEXT value navigation (``dir`` / ``next_dir``), the
    :func:`match_recognize_define` dict language. Semantics: between
    consecutive occurrences, rows the next expected variable's DEFINE
    rejects are skipped (and consumed by the match); quantified
    variables are internally relaxed; greedy left-to-right, ONE ROW
    PER MATCH, AFTER MATCH SKIP PAST LAST ROW; the first variable must
    be mandatory. PREV/NEXT navigate PHYSICAL partition rows (computed
    by lag/lead BEFORE tokenization — SQL:2016's offset navigation;
    Flink's iterative conditions over matched-so-far events are a
    different, stateful construct and stay out of scope).

    Lowering: the define engine's 2^k bitmask alphabet (k <= 4), then
    per-variable consuming-gap pieces over each variable's bit class —
    the identical flat char-class stars as the type-alphabet engine
    (:func:`_relaxed_pos_piece`), so one shuffle, zero Python rows,
    iterative JVM regex on hot keys. Per-variable counts are exact:
    gap rows inside a piece are by construction outside the variable's
    class. Returns ``key..., match_no, first_event_id, last_event_id,
    n_rows, n_skipped, n_<variable>...``."""
    _validate_defines(pattern)
    if _quant_min(pattern[0][2]) < 1:
        raise ValueError(
            "relaxed (followedBy) matching needs a mandatory first "
            "variable: the match anchor is the first variable's first "
            "row")
    keys = [key] if isinstance(key, str) else list(key)
    classes = _bitmask_classes(pattern)
    regex = "".join(
        _relaxed_pos_piece(cls, quant, first=(i == 0))
        for i, (cls, (_, _, quant)) in enumerate(zip(classes, pattern))
    )
    seq = _define_tokens(events, pattern, keys, ts, type_col, id_col,
                         value_col)
    k = len(pattern)
    s = _guard_tokens_array(F.col("arr"), F.concat_ws("", "toks"), regex)
    groups = seq.select(
        *[F.col(c) for c in keys],
        F.regexp_extract_all(s, F.lit(regex), F.lit(0)).alias("w"),
        *[
            F.regexp_extract_all(s, F.lit(regex), F.lit(i + 1)).alias(f"g{i}")
            for i in range(k)
        ],
    )
    zipped = groups.select(
        *[F.col(c) for c in keys],
        F.posexplode(
            F.arrays_zip(F.col("w"), *[F.col(f"g{i}") for i in range(k)])
        ),
    )
    w = F.col("col")["w"]
    n_vars = [
        (F.length(F.col("col")[f"g{i}"])
         - F.length(F.translate(F.col("col")[f"g{i}"], cls, "")))
        .cast("long").alias(f"n_{var.lower()}")
        for i, (cls, (var, _, _)) in enumerate(zip(classes, pattern))
    ]
    n_tok_w = (F.length(w) - F.length(F.translate(w, ";", ""))).cast("long")
    n_rows = n_vars[0]
    for c in n_vars[1:]:
        n_rows = n_rows + c
    return zipped.select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(w, "^[a-z]([0-9]+);", 1).cast("long").alias("first_event_id"),
        F.regexp_extract(w, "([0-9]+);$", 1).cast("long").alias("last_event_id"),
        n_rows.cast("long").alias("n_rows"),
        (n_tok_w - n_rows).cast("long").alias("n_skipped"),
        *n_vars,
    )


def match_recognize_relaxed_define_oracle_sql(
    pattern: list[tuple[str, dict, str]],
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_relaxed_define` —
    the define engine's bitmask token CTE (same lag/lead, same CASE
    bits) scanned by the identical relaxed gap-class regex (RE2 agrees
    with Java regex on leftmost-first greedy/lazy settle order over
    plain char classes)."""
    key = ", ".join(_key_list(key))
    _validate_defines(pattern)
    if _quant_min(pattern[0][2]) < 1:
        raise ValueError("mandatory first variable (see engine)")
    classes = _bitmask_classes(pattern)
    regex = "".join(
        _relaxed_pos_piece(cls, quant, first=(i == 0))
        for i, (cls, (_, _, quant)) in enumerate(zip(classes, pattern))
    )
    k = len(pattern)
    bits = []
    for i, (_, define, _) in enumerate(pattern):
        conds = []
        if define.get("types"):
            alts = ", ".join(f"'{t}'" for t in _types_of(define["types"]))
            conds.append(f"{type_col} IN ({alts})")
        if define.get("dir") == "up":
            conds.append(f"{value_col} > prev_v")
        elif define.get("dir") == "down":
            conds.append(f"{value_col} < prev_v")
        if define.get("next_dir") == "up":
            conds.append(f"{value_col} < next_v")
        elif define.get("next_dir") == "down":
            conds.append(f"{value_col} > next_v")
        cond = " AND ".join(conds) if conds else "TRUE"
        bits.append(f"(CASE WHEN {cond} THEN {1 << i} ELSE 0 END)")
    bm = " + ".join(bits)

    def strip_class(expr: str, cls: str) -> str:
        for c in cls:
            expr = f"replace({expr}, '{c}', '')"
        return expr

    n_exprs = [
        f"length(r{i}) - length({strip_class(f'r{i}', cls)})"
        for i, cls in enumerate(classes)
    ]
    n_rows = " + ".join(f"({e})" for e in n_exprs)
    var_counts = ",\n           ".join(
        f"CAST({e} AS BIGINT) AS n_{var.lower()}"
        for e, (var, _, _) in zip(n_exprs, pattern)
    )
    gcols = ",\n               ".join(
        f"regexp_extract_all(s, '{regex}', {i + 1}) AS g{i}" for i in range(k)
    )
    rsel = ", ".join(f"g{i}[i] AS r{i}" for i in range(k))
    return f"""
    WITH src AS (
        SELECT {key}, {ts}, {id_col},
               chr(97 + ({bm})) || {id_col} || ';' AS tok
        FROM (SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
                     lag({value_col}) OVER (PARTITION BY {key}
                                            ORDER BY {ts}, {id_col}) AS prev_v,
                     lead({value_col}) OVER (PARTITION BY {key}
                                             ORDER BY {ts}, {id_col}) AS next_v
              FROM {table})
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM src GROUP BY {key}),
    m AS (SELECT {key},
               regexp_extract_all(s, '{regex}', 0) AS w,
               {gcols}
          FROM seq),
    ex AS (SELECT {key}, CAST(i AS BIGINT) AS match_no, w[i] AS wm, {rsel}
           FROM m, unnest(generate_series(1, len(w))) AS t(i))
    SELECT {key}, match_no,
           CAST(regexp_extract(wm, '^[a-z]([0-9]+);', 1) AS BIGINT) AS first_event_id,
           CAST(regexp_extract(wm, '([0-9]+);$', 1) AS BIGINT) AS last_event_id,
           CAST({n_rows} AS BIGINT) AS n_rows,
           CAST((length(wm) - length(replace(wm, ';', ''))) - ({n_rows}) AS BIGINT) AS n_skipped,
           {var_counts}
    FROM ex
    """


# --------------------------------------------------------------------------
# Flink loop MODIFIERS over relaxed linking: until() stop conditions and
# times(n).consecutive() — the two Pattern-API loop refinements left after
# the round-9 relaxed trio (followedBy / notFollowedBy / followedByAny).
# Reference surface: Flink CEP Pattern.oneOrMore().until(cond) and
# Pattern.times(m, n).consecutive(); both lower to flat char-class pieces
# over the same one-shuffle token string, so the scan stays iterative
# (hot-key-safe) and the DuckDB oracle replays the identical regex.
# --------------------------------------------------------------------------

_LOOP_QUANTS = ("+", "+?", "*", "*?")


def _split_until(pattern):
    """Split 4-tuple entries ``(var, types, quant, until_types)`` into
    the plain 3-tuple pattern plus a per-index stop map — Flink's
    ``oneOrMore().until(stopCondition)``. 3-tuples pass through."""
    plain, until = [], {}
    for i, el in enumerate(pattern):
        if len(el) == 4:
            var, etype, quant, u = el
            plain.append((var, etype, quant))
            if not u:
                raise ValueError(f"variable {var!r}: empty until set")
            until[i] = (u,) if isinstance(u, str) else tuple(u)
        elif len(el) == 3:
            plain.append(el)
        else:
            raise ValueError(
                "pattern entries are (var, types, quant[, until_types])")
    return plain, until


def _validate_until(plain, until) -> None:
    _validate_relaxed(plain)
    if not until:
        raise ValueError("no until set given — use match_recognize_relaxed")
    for i, stop in until.items():
        var, etype, quant = plain[i]
        if _var_negated(etype):
            raise ValueError(
                f"variable {var!r}: until on complement variables is not "
                "supported (the complement predicate already constrains "
                "every consumed row)")
        if not stop:
            raise ValueError(f"variable {var!r}: empty until set")
        lo, hi, _ = _quant_parse(quant)
        if hi == 1:
            raise ValueError(
                f"variable {var!r}: until() modifies LOOPING patterns "
                "(oneOrMore / times with max > 1), not single-row "
                f"variables (quant {quant!r})")
        if quant not in _LOOP_QUANTS and lo < 1:
            raise ValueError(
                f"variable {var!r}: bounded until needs min >= 1 "
                f"(got {quant!r})")
        overlap = set(_types_of(etype)) & set(stop)
        if overlap:
            raise ValueError(
                f"variable {var!r}: until types {sorted(overlap)} overlap "
                "the variable's own types — a row cannot be both taken by "
                "and stop the loop (Flink evaluates the stop condition "
                "first, so such a row would always stop; spell that as a "
                "narrower variable predicate instead)")


def _until_pos_piece(cls: str, fcls: str, quant: str, first: bool) -> str:
    """The positional (class-string) form of the until piece — shared
    by the type-alphabet engine (:func:`_until_piece`) and the bitmask
    DEFINE engine (:func:`match_recognize_until_define`), whose
    classes are different letter sets over the same token grammar.
    ``cls`` is the ADMIT class (for the define engine: variable bit
    set AND stop bit clear — Flink evaluates the stop first, so a row
    satisfying both stops the loop), ``fcls`` the stop class."""
    a = f"{cls if len(cls) == 1 else f'[{cls}]'}[0-9]+;"
    skipw = f"[^{cls}]*"        # waiting: may cross stop rows
    anyf = f"[^{fcls}]*"        # inside the loop: never crosses a stop row
    occf = f"[^{cls}{fcls}]*"   # bounded per-occurrence skip inside the loop
    lo, hi, lazy = _quant_parse(quant)
    zz = "?" if lazy else ""
    opt = "??" if lazy else "?"
    if hi is None and lo <= 1:
        core = f"{a}(?:{anyf}{zz}{a}){opt}"
    elif hi is None:
        # {m,} until (timesOrMore): m-1 per-occurrence skips inside the
        # loop (stop-excluded), then the '+'-style stop-bounded tail
        core = f"{a}(?:{occf}{a}){{{lo - 1}}}(?:{anyf}{zz}{a}){opt}" \
            if not lazy else f"{a}(?:{occf}{a}){{{lo - 1},}}?"
    else:
        core = f"{a}(?:{occf}{a}){{{lo - 1},{hi - 1}}}{zz}"
    if quant in ("*", "*?"):
        core = f"{a}(?:{anyf}{zz}{a}){opt}"
        return f"((?:{skipw}{core}){opt})"
    if first:
        return f"({core})"
    return f"({skipw}{core})"


def _until_piece(etype, quant, chars, stop_types, first: bool) -> str:
    """A looping variable's piece with a stop class: the loop's FIRST
    occurrence is found by the ordinary relaxed waiting skip (the stop
    condition binds to the LOOP, which has not started while waiting —
    a stop row before the first taken row is skippable), but from the
    first taken row onward no stop row may be crossed: interior gap
    stars exclude the stop letters, so the greedy scan settles at the
    last admitting row before the first stop row and the match
    proceeds to the next variable with the occurrences accumulated —
    Flink's "until stops the loop from accepting further events",
    NOT notFollowedBy's kill-the-attempt semantics."""
    cls = _var_class(etype, chars)
    fcls = "".join(chars[t] for t in stop_types)
    return _until_pos_piece(cls, fcls, quant, first)


def _until_regex(plain, until, chars) -> str:
    return "".join(
        _until_piece(etype, quant, chars, until[i], first=(i == 0))
        if i in until
        else _relaxed_piece(etype, quant, chars, first=(i == 0))
        for i, (_, etype, quant) in enumerate(plain)
    )


def _relaxed_spark_with(
    events: DataFrame,
    plain,
    chars: dict[str, str],
    regex: str,
    keys: list[str],
    ts: str,
    type_col: str,
    id_col: str,
) -> DataFrame:
    """Shared Spark-side decode for relaxed-family variants that bring
    their own alphabet + regex (the engine-side twin of
    :func:`_relaxed_oracle_with`): one shuffle to the per-key token
    string, regexp_extract_all per capture group, posexplode over the
    zipped matches, char-count measures."""
    seq = _seq_strings(events, chars, keys, ts, type_col, id_col,
                       guard_regex=regex)
    k = len(plain)
    groups = seq.select(
        *[F.col(c) for c in keys],
        F.regexp_extract_all("s", F.lit(regex), F.lit(0)).alias("w"),
        *[
            F.regexp_extract_all("s", F.lit(regex), F.lit(i + 1)).alias(f"g{i}")
            for i in range(k)
        ],
    )
    zipped = groups.select(
        *[F.col(c) for c in keys],
        F.posexplode(
            F.arrays_zip(F.col("w"), *[F.col(f"g{i}") for i in range(k)])
        ),
    )
    w = F.col("col")["w"]
    n_vars = [
        _relaxed_var_count(F.col("col")[f"g{i}"], var, etype, chars)
        for i, (var, etype, _) in enumerate(plain)
    ]
    n_tok_w = (F.length(w) - F.length(F.translate(w, ";", ""))).cast("long")
    n_rows = n_vars[0]
    for c in n_vars[1:]:
        n_rows = n_rows + c
    return zipped.select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(w, "^[a-z]([0-9]+);", 1).cast("long")
        .alias("first_event_id"),
        F.regexp_extract(w, "([0-9]+);$", 1).cast("long")
        .alias("last_event_id"),
        n_rows.cast("long").alias("n_rows"),
        (n_tok_w - n_rows).cast("long").alias("n_skipped"),
        *n_vars,
    )


def match_recognize_until(
    events: DataFrame,
    pattern: list[tuple],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Relaxed matching with LOOP STOP conditions — Flink CEP's
    ``oneOrMore().until(stopCondition)`` / ``times(m,n).until(...)``:
    pattern entries may be 4-tuples ``(var, types, quant, until_types)``
    on looping variables, where a row of a stop type TERMINATES the
    loop — no later row may be taken into it and no stop row may be
    crossed between its repeats — but the match itself SURVIVES with
    the occurrences accumulated so far (the stop row is not consumed
    by the loop; later variables' relaxed gaps may skip it). Contrast
    :func:`match_recognize_relaxed_not`, where a forbidden row KILLS
    the attempt.

    Documented mode (property-tested vs an independent backtracking
    matcher): the stop condition binds from the loop's first TAKEN row
    onward; rows crossed while still WAITING for the first occurrence
    belong to the preceding followedBy link, where stop rows are
    skippable. A row satisfying both the variable and the stop set is
    rejected at plan time (Flink checks until first, so such a row
    always stops — spell it as a narrower variable predicate).

    Same single shuffle, flat char-class lowering (the stop letters
    join the interior gap-class complements), same measures as
    :func:`match_recognize_relaxed`. Stop types join the alphabet so
    stop rows are visible to the scan.
    """
    plain, until = _split_until(pattern)
    _validate_until(plain, until)
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(
        plain + [("__U", types, "1") for types in until.values()]
    )
    regex = _until_regex(plain, until, chars)
    return _relaxed_spark_with(events, plain, chars, regex, keys,
                               ts, type_col, id_col)


def match_recognize_until_oracle_sql(
    pattern,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_until` (the relaxed
    oracle with the stop-extended alphabet and regex)."""
    plain, until = _split_until(pattern)
    _validate_until(plain, until)
    chars = _char_map(
        plain + [("__U", types, "1") for types in until.values()]
    )
    regex = _until_regex(plain, until, chars)
    return _relaxed_oracle_with(plain, chars, regex, _key_list(key),
                                table, ts, type_col, id_col)


def _validate_consecutive(plain, consecutive) -> set:
    _validate_relaxed(plain)
    names = {var for var, _, _ in plain}
    consec = set(consecutive or ())
    unknown = consec - names
    if unknown:
        raise ValueError(f"consecutive names unknown variables: "
                         f"{sorted(unknown)}")
    if not consec:
        raise ValueError(
            "no consecutive set given — use match_recognize_relaxed")
    for var, etype, quant in plain:
        if var not in consec:
            continue
        if _var_negated(etype):
            raise ValueError(
                f"variable {var!r}: consecutive() on complement variables "
                "is not supported (their admit class includes digits, so "
                "the adjacency char-run lowering is unsound)")
        _, hi, _ = _quant_parse(quant)
        if hi == 1:
            raise ValueError(
                f"variable {var!r}: consecutive() modifies LOOPING "
                f"patterns, not single-row variables (quant {quant!r})")
    return consec


def _consec_piece(etype, quant, chars, first: bool) -> str:
    """A looping variable's piece under STRICT internal contiguity —
    Flink's ``times(m,n).consecutive()`` / ``oneOrMore().consecutive()``
    inside an otherwise relaxed (followedBy) chain: the link INTO the
    variable still skips rejected rows, but the loop's occurrences must
    be ADJACENT rows, anchored at the first admitting row
    (skip-till-next never passes over an admitting row, so the first
    eligible row starts the run; a too-short run there fails the
    attempt rather than hunting for a later longer run).

    Flat lowering for the unbounded forms: an adjacent run of
    cls-tokens is one char-regex ``[cls][cls0-9;]*;`` — the run chars
    exclude every other class letter, so the star cannot cross a
    foreign token, and the demanded trailing ';' makes every giveback
    settle on a token boundary. Iterative, hot-key-safe. Bounded
    ``{m,n}`` keeps the token-group repetition (depth <= n, small by
    construction)."""
    cls = _var_class(etype, chars)
    head = cls if len(cls) == 1 else f"[{cls}]"
    a = f"{head}[0-9]+;"
    run = f"[{cls}0-9;]"
    skipw = f"[^{cls}]*"
    lo, hi, lazy = _quant_parse(quant)
    zz = "?" if lazy else ""
    opt = "??" if lazy else "?"
    lead = "" if first else skipw
    if hi is None:
        if lo > 1:
            # {m,} consecutive (timesOrMore): m-1 exact adjacent
            # tokens (bounded depth), then the flat char-run tail —
            # still no unbounded group loop
            return f"({lead}(?:{a}){{{lo - 1}}}{head}{run}*{zz};)"
        core = f"{head}{run}*{zz};"
        if lo == 0:
            return f"((?:{lead}{core}){opt})"
        return f"({lead}{core})"
    if lo == 0:
        return f"((?:{lead}(?:{a}){{1,{hi}}}{zz}){opt})"
    return f"({lead}(?:{a}){{{lo},{hi}}}{zz})"


def _consec_regex(plain, consec, chars) -> str:
    return "".join(
        _consec_piece(etype, quant, chars, first=(i == 0))
        if var in consec
        else _relaxed_piece(etype, quant, chars, first=(i == 0))
        for i, (var, etype, quant) in enumerate(plain)
    )


def match_recognize_consecutive(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    consecutive,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Relaxed matching with STRICT-internal loops — Flink CEP's
    ``times(m, n).consecutive()`` / ``oneOrMore().consecutive()``:
    variables named in ``consecutive`` take ADJACENT rows only (no rows
    skipped between the loop's repeats), while the links BETWEEN
    variables stay relaxed (followedBy). The run anchors at the first
    admitting row after the previous variable (skip-till-next — an
    admitting row is never passed over while waiting), extends while
    rows stay adjacent and admitting, and gives back occurrences
    greedily (or takes fewest-first for reluctant quantifiers).

    Same single shuffle, same flat char-class lowering and measures as
    :func:`match_recognize_relaxed`; property-tested against an
    independent adjacency-aware backtracking matcher."""
    consec = _validate_consecutive(pattern, consecutive)
    keys = [key] if isinstance(key, str) else list(key)
    chars = _char_map(pattern)
    regex = _consec_regex(pattern, consec, chars)
    return _relaxed_spark_with(events, pattern, chars, regex, keys,
                               ts, type_col, id_col)


def match_recognize_consecutive_oracle_sql(
    pattern,
    consecutive,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_consecutive`."""
    consec = _validate_consecutive(pattern, consecutive)
    chars = _char_map(pattern)
    regex = _consec_regex(pattern, consec, chars)
    return _relaxed_oracle_with(pattern, chars, regex, _key_list(key),
                                table, ts, type_col, id_col)


# --------------------------------------------------------------------------
# GROUPED quantifiers under RELAXED linking — Flink's GroupPattern
# (begin(Pattern).followedBy(...).times(n)) with the Pattern API's
# DEFAULT followedBy contiguity: `A followedBy (B C)+` where the links
# between elements, between group iterations, AND between a group's
# inner variables all skip rows the next expected variable rejects.
# The strict-contiguity group engine is match_recognize_groups.
# --------------------------------------------------------------------------


def _relaxed_piece_body(etype, quant, chars, first: bool) -> str:
    """A variable's relaxed piece WITHOUT its capture group — for
    composition inside a group loop (captures inside a quantified
    group would retain only the last iteration, so group forms capture
    per ELEMENT instead). Every :func:`_relaxed_piece` branch returns
    exactly one outer capture wrapping a balanced body; re-wrap it
    non-capturing."""
    p = _relaxed_piece(etype, quant, chars, first)
    if not (p.startswith("(") and p.endswith(")")):
        raise AssertionError(f"unexpected piece shape: {p!r}")
    return f"(?:{p[1:-1]})"


def _relaxed_group_parts(pattern):
    """Validate + lower a grouped RELAXED pattern. Elements are
    ``(var, types, quant)`` or ``(group_name, [inner 3-tuples],
    quant)`` — the same grammar as :func:`_group_parts`, the same
    scope rules (one nesting level; a group's inner minimum row count
    >= 1 so no zero-width loop iteration exists), plus the relaxed
    engine's rules over the EFFECTIVE pattern (mandatory first
    element, no complement at or before the first mandatory variable).

    Lowering: each top-level element becomes ONE capture group — a
    plain variable is its flat relaxed piece; a group is the
    concatenation of its inner variables' non-capturing relaxed pieces
    wrapped in ``(?:...)``<quant>. The FIRST element anchors exactly
    like the flat engine: for a leading group, iteration 1 uses the
    anchored first-variable piece and iterations 2.. the plain one
    (a regex loop cannot special-case its first pass, so the loop is
    unrolled once). Java regex recurses once per group ITERATION
    (bounded by rows/inner-min; the strict group engine shares this —
    sessionized deployment is the hot-key answer, as everywhere).

    Returns ``(flat_vars, chars, regex, names)`` where names has one
    entry per top-level element (capture order).
    """
    flat: list[tuple] = []
    names: list[str] = []
    for el in pattern:
        if not (isinstance(el, tuple) and len(el) == 3):
            raise ValueError(
                "pattern element must be (name, types_or_inner_list, quant)")
        name, body, quant = el
        names.append(name)
        if isinstance(body, list):
            if not body:
                raise ValueError(f"group {name!r} needs at least one variable")
            for sub in body:
                if not (isinstance(sub, tuple) and len(sub) == 3):
                    raise ValueError(
                        f"group {name!r}: inner element must be "
                        "(var, types, quant)")
                if isinstance(sub[1], list):
                    raise ValueError(
                        "nested groups are not supported (one level — "
                        "see COVERAGE.md)")
                _quant_regex(sub[2])
            _quant_regex(quant)
            if sum(_quant_min(q) for _, _, q in body) == 0:
                raise ValueError(
                    f"group {name!r}: inner variables must guarantee at "
                    "least one row per iteration (zero-width loop "
                    "iterations are rejected at plan time)")
            flat.extend(body)
        else:
            flat.append(el)
    eff = []
    for name, body, quant in pattern:
        if isinstance(body, list):
            gmin = _quant_min(quant)
            eff.extend((v, e, q if gmin >= 1 else "*") for v, e, q in body)
        else:
            eff.append((name, body, quant))
    _validate_relaxed(eff)
    chars = _char_map(flat)
    pieces = []
    for i, (name, body, quant) in enumerate(pattern):
        first = i == 0
        if not isinstance(body, list):
            pieces.append(_relaxed_piece(body, quant, chars, first=first))
            continue
        inner_plain = "".join(
            _relaxed_piece_body(e, q, chars, first=False)
            for _, e, q in body
        )
        if not first:
            pieces.append(f"((?:{inner_plain}){_quant_regex(quant)})")
            continue
        # leading group: anchored iteration 1 + plain iterations 2..
        inner_anchored = "".join(
            _relaxed_piece_body(e, q, chars, first=(bi == 0))
            for bi, (_, e, q) in enumerate(body)
        )
        lo, hi, lazy = _quant_parse(quant)
        zz = "?" if lazy else ""
        if hi == 1:  # quant '1' (min >= 1 guaranteed by _validate_relaxed)
            pieces.append(f"({inner_anchored})")
        elif hi is None:
            # {lo-1,} covers '+'/'*'/{m,} alike ({0,} == *)
            pieces.append(
                f"({inner_anchored}(?:{inner_plain}){{{lo - 1},}}{zz})")
        else:
            pieces.append(
                f"({inner_anchored}(?:{inner_plain})"
                f"{{{lo - 1},{hi - 1}}}{zz})")
    return flat, chars, "".join(pieces), names


def match_recognize_relaxed_groups(
    events: DataFrame,
    pattern: list[tuple],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Grouped quantifiers under RELAXED (followedBy) linking — Flink
    CEP's ``GroupPattern``: ``A followedBy (B C)+`` and friends, where
    rows the next expected variable rejects are skipped (and consumed)
    between elements, between group iterations, and between a group's
    inner variables alike. Same grammar and scope rules as the strict
    :func:`match_recognize_groups`; same relaxed semantics, plan rules
    and consuming-gap trade as :func:`match_recognize_relaxed`;
    property-tested against an independent group-aware relaxed
    backtracking matcher.

    Output: one row per match with ``match_no``, ``first_event_id``,
    ``last_event_id``, ``n_rows`` (ALL tokens the match consumed —
    admitted and skipped; gap rows are consumed by the match exactly
    as in the flat relaxed engine) and ``n_tok_<element>`` — the
    tokens each top-level ELEMENT's span consumed (a capture per
    element; captures per inner variable would retain only a loop's
    last iteration, hence the per-element grain — the strict group
    engine's per-type counts have the same one-level-coarser
    precedent). One shuffle, zero Python."""
    flat, chars, regex, names = _relaxed_group_parts(pattern)
    keys = [key] if isinstance(key, str) else list(key)
    seq = _seq_strings(events, chars, keys, ts, type_col, id_col,
                       guard_regex=regex)
    k = len(names)
    groups = seq.select(
        *[F.col(c) for c in keys],
        F.regexp_extract_all("s", F.lit(regex), F.lit(0)).alias("w"),
        *[
            F.regexp_extract_all("s", F.lit(regex), F.lit(i + 1)).alias(f"g{i}")
            for i in range(k)
        ],
    )
    zipped = groups.select(
        *[F.col(c) for c in keys],
        F.posexplode(
            F.arrays_zip(F.col("w"), *[F.col(f"g{i}") for i in range(k)])
        ),
    )
    w = F.col("col")["w"]

    def n_tok(col):
        return (F.length(col) - F.length(F.translate(col, ";", ""))) \
            .cast("long")

    return zipped.select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(w, "^[a-z]([0-9]+);", 1).cast("long")
        .alias("first_event_id"),
        F.regexp_extract(w, "([0-9]+);$", 1).cast("long")
        .alias("last_event_id"),
        n_tok(w).alias("n_rows"),
        *[
            n_tok(F.col("col")[f"g{i}"]).alias(f"n_tok_{n.lower()}")
            for i, n in enumerate(names)
        ],
    )


def match_recognize_relaxed_groups_oracle_sql(
    pattern,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_relaxed_groups`
    (same alphabet, same per-element captured regex, token counts =
    ';' counts over the captured spans)."""
    flat, chars, regex, names = _relaxed_group_parts(pattern)
    case = " ".join(f"WHEN '{t}' THEN '{c}'" for t, c in chars.items())
    key = ", ".join(_key_list(key))
    inner = f"SELECT * FROM {table}"
    k = len(names)
    gcols = ",\n               ".join(
        f"regexp_extract_all(s, '{regex}', {i + 1}) AS g{i}" for i in range(k)
    )
    rsel = ", ".join(f"g{i}[i] AS r{i}" for i in range(k))
    tok_counts = ",\n           ".join(
        f"CAST(length(r{i}) - length(replace(r{i}, ';', '')) AS BIGINT) "
        f"AS n_tok_{n.lower()}"
        for i, n in enumerate(names)
    )
    return f"""
    WITH toks AS (
        SELECT {key},
               CASE {type_col} {case} ELSE 'z' END || {id_col} || ';' AS tok,
               {ts}, {id_col}
        FROM ({inner})
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM toks GROUP BY {key}),
    m AS (SELECT {key},
               regexp_extract_all(s, '{regex}', 0) AS w,
               {gcols}
          FROM seq),
    ex AS (SELECT {key}, CAST(i AS BIGINT) AS match_no, w[i] AS wm, {rsel}
           FROM m, unnest(generate_series(1, len(w))) AS t(i))
    SELECT {key}, match_no,
           CAST(regexp_extract(wm, '^[a-z]([0-9]+);', 1) AS BIGINT) AS first_event_id,
           CAST(regexp_extract(wm, '([0-9]+);$', 1) AS BIGINT) AS last_event_id,
           CAST(length(wm) - length(replace(wm, ';', '')) AS BIGINT) AS n_rows,
           {tok_counts}
    FROM ex
    """


def _split_until_define(pattern):
    """Split DEFINE-engine pattern entries ``(var, define, quant,
    stop_define)`` into the plain 3-tuple pattern plus the per-index
    stop-define map — Flink's ``oneOrMore().until(condition)`` where
    the condition is a VALUE predicate, not a type set."""
    plain, until = [], {}
    for i, el in enumerate(pattern):
        if len(el) == 4:
            var, d, q, stop = el
            plain.append((var, d, q))
            if not isinstance(stop, dict) or not stop:
                raise ValueError(
                    f"variable {var!r}: the until condition must be a "
                    "non-empty define dict (types/dir/next_dir)")
            until[i] = stop
        elif len(el) == 3:
            plain.append(el)
        else:
            raise ValueError(
                "pattern entries are (var, define, quant[, stop_define])")
    return plain, until


def _validate_until_define(plain, until) -> None:
    _validate_defines(plain)
    if _quant_min(plain[0][2]) < 1:
        raise ValueError(
            "relaxed (followedBy) matching needs a mandatory first "
            "variable: the match anchor is the first variable's first "
            "row")
    if len(until) != 1:
        raise ValueError(
            "exactly one variable may carry an until stop-define (the "
            "stop is one extra bit in the 2^(k+1) token alphabet)")
    if len(plain) > 3:
        raise ValueError(
            "at most 3 variables with an until stop-define (the stop "
            "bit makes the alphabet 2^(k+1) chars, capped at 16)")
    i, stop = next(iter(until.items()))
    var, _, quant = plain[i]
    lo, hi, _ = _quant_parse(quant)
    if hi == 1:
        raise ValueError(
            f"variable {var!r}: until() modifies LOOPING patterns "
            "(oneOrMore / times with max > 1), not single-row "
            f"variables (quant {quant!r})")
    if quant not in _LOOP_QUANTS and lo < 1:
        raise ValueError(
            f"variable {var!r}: bounded until needs min >= 1 "
            f"(got {quant!r})")
    bad = set(stop) - {"types", "dir", "next_dir"}
    if bad:
        raise ValueError(f"unknown stop-define keys {sorted(bad)}")
    _reject_empty_types(var, stop)
    for d in ("dir", "next_dir"):
        if stop.get(d) not in (None, "up", "down"):
            raise ValueError(f"{d} must be 'up' or 'down'")
    # every stop condition implied by the variable's own define means
    # NO row the variable admits can escape the stop — the loop could
    # never take a row (Flink evaluates until first). Implication per
    # key: dir/next_dir must match exactly; a stop types set implies
    # when it is a SUPERSET of the variable's
    vdef = plain[i][1]
    implied = True
    for d in ("dir", "next_dir"):
        if stop.get(d) is not None and stop.get(d) != vdef.get(d):
            implied = False
    if "types" in stop:
        if "types" not in vdef or not (
            set(_types_of(vdef["types"])) <= set(_types_of(stop["types"]))
        ):
            implied = False
    if implied:
        raise ValueError(
            f"variable {var!r}: the stop define subsumes the variable's "
            "define — every admissible row would stop the loop before "
            "being taken")


def _until_define_regex(plain, until) -> str:
    """Regex over the (k+1)-bit alphabet: the stop-define is bit k;
    the until variable's ADMIT class drops chars carrying the stop bit
    (Flink checks the stop condition first, so a row satisfying both
    STOPS the loop rather than extending it), other variables keep
    their full classes."""
    i_u, stop = next(iter(until.items()))
    ext = plain + [("__STOP", stop, "1")]
    classes = _bitmask_classes(ext)
    stop_cls = classes[len(plain)]
    stop_set = set(stop_cls)
    pieces = []
    for i, (var, _, quant) in enumerate(plain):
        if i == i_u:
            admit = "".join(c for c in classes[i] if c not in stop_set)
            if not admit:
                raise ValueError(
                    f"variable {var!r}: the stop condition subsumes the "
                    "variable's define — no row could ever be taken")
            pieces.append(_until_pos_piece(admit, stop_cls, quant,
                                           first=(i == 0)))
        else:
            pieces.append(_relaxed_pos_piece(classes[i], quant,
                                             first=(i == 0)))
    return "".join(pieces)


def match_recognize_until_define(
    events: DataFrame,
    pattern: list[tuple],
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Loop STOP conditions over VALUE defines — Flink CEP's canonical
    ``oneOrMore().until(condition)`` where the condition is an
    arbitrary row predicate (``ctx``-free SimpleCondition), not a type
    set: pattern entries are the :func:`match_recognize_define` dicts,
    and the looping variable's 4th element is the STOP define (types /
    dir / next_dir). A row satisfying the stop define TERMINATES the
    loop once it has taken its first row (a row satisfying BOTH the
    variable and the stop define stops it — Flink evaluates until
    first); the match survives with the occurrences accumulated, and
    rows crossed while still WAITING for the first occurrence follow
    the plain relaxed link.

    Lowering: the stop define joins the bitmask tokenization as bit k
    (alphabet 2^(k+1), so k <= 3 variables); the until variable's
    admit class drops stop-bit chars and its interior gap stars
    exclude them — the identical flat stop-piece as the type-alphabet
    :func:`match_recognize_until`, over different letters. One
    shuffle, zero Python; DuckDB replays the same bits + regex."""
    plain, until = _split_until_define(pattern)
    _validate_until_define(plain, until)
    keys = [key] if isinstance(key, str) else list(key)
    i_u, stop = next(iter(until.items()))
    ext = plain + [("__STOP", stop, "1")]
    classes = _bitmask_classes(ext)
    stop_set = set(classes[len(plain)])
    regex = _until_define_regex(plain, until)
    seq = _define_tokens(events, ext, keys, ts, type_col, id_col, value_col)
    k = len(plain)
    s = _guard_tokens_array(F.col("arr"), F.concat_ws("", "toks"), regex)
    groups = seq.select(
        *[F.col(c) for c in keys],
        F.regexp_extract_all(s, F.lit(regex), F.lit(0)).alias("w"),
        *[
            F.regexp_extract_all(s, F.lit(regex), F.lit(i + 1)).alias(f"g{i}")
            for i in range(k)
        ],
    )
    zipped = groups.select(
        *[F.col(c) for c in keys],
        F.posexplode(
            F.arrays_zip(F.col("w"), *[F.col(f"g{i}") for i in range(k)])
        ),
    )
    w = F.col("col")["w"]
    # count with the ADMIT class for the until variable: its waiting
    # skip may cross chars that satisfy the variable AND the stop (not
    # admitted), which the full class would overcount
    count_cls = [
        "".join(c for c in cls if c not in stop_set) if i == i_u else cls
        for i, cls in enumerate(classes[:k])
    ]
    n_vars = [
        (F.length(F.col("col")[f"g{i}"])
         - F.length(F.translate(F.col("col")[f"g{i}"], cls, "")))
        .cast("long").alias(f"n_{var.lower()}")
        for i, (cls, (var, _, _)) in enumerate(zip(count_cls, plain))
    ]
    n_tok_w = (F.length(w) - F.length(F.translate(w, ";", ""))).cast("long")
    n_rows = n_vars[0]
    for c in n_vars[1:]:
        n_rows = n_rows + c
    return zipped.select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.regexp_extract(w, "^[a-z]([0-9]+);", 1).cast("long")
        .alias("first_event_id"),
        F.regexp_extract(w, "([0-9]+);$", 1).cast("long")
        .alias("last_event_id"),
        n_rows.cast("long").alias("n_rows"),
        (n_tok_w - n_rows).cast("long").alias("n_skipped"),
        *n_vars,
    )


def match_recognize_until_define_oracle_sql(
    pattern,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_until_define` (the
    define oracle's bitmask CTE with the stop define as bit k, scanned
    by the identical stop-piece regex)."""
    key = ", ".join(_key_list(key))
    plain, until = _split_until_define(pattern)
    _validate_until_define(plain, until)
    i_u, stop = next(iter(until.items()))
    ext = plain + [("__STOP", stop, "1")]
    classes = _bitmask_classes(ext)
    stop_set = set(classes[len(plain)])
    regex = _until_define_regex(plain, until)
    k = len(plain)
    bits = []
    for i, (_, define, _) in enumerate(ext):
        conds = []
        if define.get("types"):
            alts = ", ".join(f"'{t}'" for t in _types_of(define["types"]))
            conds.append(f"{type_col} IN ({alts})")
        if define.get("dir") == "up":
            conds.append(f"{value_col} > prev_v")
        elif define.get("dir") == "down":
            conds.append(f"{value_col} < prev_v")
        if define.get("next_dir") == "up":
            conds.append(f"{value_col} < next_v")
        elif define.get("next_dir") == "down":
            conds.append(f"{value_col} > next_v")
        cond = " AND ".join(conds) if conds else "TRUE"
        bits.append(f"(CASE WHEN {cond} THEN {1 << i} ELSE 0 END)")
    bm = " + ".join(bits)

    def strip_class(expr: str, cls: str) -> str:
        for c in cls:
            expr = f"replace({expr}, '{c}', '')"
        return expr

    count_cls = [
        "".join(c for c in cls if c not in stop_set) if i == i_u else cls
        for i, cls in enumerate(classes[:k])
    ]
    n_exprs = [
        f"length(r{i}) - length({strip_class(f'r{i}', cls)})"
        for i, cls in enumerate(count_cls)
    ]
    n_rows = " + ".join(f"({e})" for e in n_exprs)
    var_counts = ",\n           ".join(
        f"CAST({e} AS BIGINT) AS n_{var.lower()}"
        for e, (var, _, _) in zip(n_exprs, plain)
    )
    gcols = ",\n               ".join(
        f"regexp_extract_all(s, '{regex}', {i + 1}) AS g{i}" for i in range(k)
    )
    rsel = ", ".join(f"g{i}[i] AS r{i}" for i in range(k))
    return f"""
    WITH src AS (
        SELECT {key}, {ts}, {id_col},
               chr(97 + ({bm})) || {id_col} || ';' AS tok
        FROM (SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
                     lag({value_col}) OVER (PARTITION BY {key}
                                            ORDER BY {ts}, {id_col}) AS prev_v,
                     lead({value_col}) OVER (PARTITION BY {key}
                                             ORDER BY {ts}, {id_col}) AS next_v
              FROM {table})
    ),
    seq AS (SELECT {key}, string_agg(tok, '' ORDER BY {ts}, {id_col}) AS s
            FROM src GROUP BY {key}),
    m AS (SELECT {key},
               regexp_extract_all(s, '{regex}', 0) AS w,
               {gcols}
          FROM seq),
    ex AS (SELECT {key}, CAST(i AS BIGINT) AS match_no, w[i] AS wm, {rsel}
           FROM m, unnest(generate_series(1, len(w))) AS t(i))
    SELECT {key}, match_no,
           CAST(regexp_extract(wm, '^[a-z]([0-9]+);', 1) AS BIGINT) AS first_event_id,
           CAST(regexp_extract(wm, '([0-9]+);$', 1) AS BIGINT) AS last_event_id,
           CAST({n_rows} AS BIGINT) AS n_rows,
           CAST((length(wm) - length(replace(wm, ';', ''))) - ({n_rows}) AS BIGINT) AS n_skipped,
           {var_counts}
    FROM ex
    """


# --- Iterative conditions (round 11 — VERDICT r10 next-step #5) ------------
#
# Flink CEP's IterativeCondition lets a loop variable's predicate read the
# events matched SO FAR (ctx.getEventsForPattern). The runagg family covers
# the contiguous-suffix aggregate cases; this engine covers the other
# canonical form from the Flink docs: a loop variable compared against the
# ANCHOR (first matched) event's value — `PATTERN (A B+) DEFINE B AS
# B.value < A.value * factor` (the docs' middle.price > start.price).
# Semantics source: Flink CEP IterativeCondition docs / SQL:2016 row-pattern
# matching DEFINE with navigation to FIRST(A.value) (public, per SURVEY §0).
# Reference repo ships no code (README.md:1) — parity is vs SURVEY §2.9.

_ITER_CMP = {"<", "<=", ">", ">="}


def _validate_iterative(anchor_def: dict, loop_def: dict) -> None:
    """anchor_def: simple keys ``types``/``dir`` (the A variable).
    loop_def: ``cmp`` + ``factor`` (the anchor-relative predicate
    B.value cmp A.value * factor) plus optional simple ``types``/
    ``dir`` own-row conditions conjoined with it."""
    bad = set(anchor_def) - {"types", "dir"}
    if bad:
        raise ValueError(f"anchor define: unknown keys {sorted(bad)}")
    if anchor_def.get("dir") not in (None, "up", "down"):
        raise ValueError("dir must be 'up' or 'down'")
    bad = set(loop_def) - {"types", "dir", "cmp", "factor"}
    if bad:
        raise ValueError(f"loop define: unknown keys {sorted(bad)}")
    if loop_def.get("cmp") not in _ITER_CMP:
        raise ValueError(f"cmp must be one of {sorted(_ITER_CMP)}")
    if not isinstance(loop_def.get("factor"), (int, float)):
        raise ValueError("factor must be a number")
    if loop_def.get("dir") not in (None, "up", "down"):
        raise ValueError("dir must be 'up' or 'down'")


def match_recognize_iterative(
    events: DataFrame,
    anchor_def: dict,
    loop_def: dict,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    min_loop: int = 1,
    skip: str = "past_last_row",
    suffix_def: dict | None = None,
    within_minutes: int | None = None,
    max_key_rows: int | None = _ANCHOR_SCAN_ROWS,
) -> DataFrame:
    """MATCH_RECOGNIZE with an ITERATIVE loop condition referencing the
    anchor event (round 11): PATTERN (A B+) DEFINE A AS <anchor_def>,
    B AS value <cmp> A.value * <factor> [AND <own-row conds>] — B
    absorbs contiguous rows while the anchor-relative comparison (and
    any own-row condition) holds; the first failing row ends the run
    (greedy longest match). ``min_loop=0`` makes the loop optional
    (PATTERN (A B*)). ``suffix_def`` appends a single-row terminator
    (PATTERN (A B+ C)): greedy B backtracks to the longest run whose
    NEXT row satisfies it — the runagg-interior backtracking.
    ``within_minutes`` is Flink's ``.within()``: every match row must
    fall inside [anchor_ts, anchor_ts + W]. Round 13 (ADVICE r12
    medium): the truncation is REAL — each row's in-window extent is
    precomputed once with a RANGE window frame, so the per-anchor scan
    touches exactly the in-window rows (Spark higher-order ``filter``
    does not short-circuit, so the previous in-predicate time bound
    still paid a full-tail pass per anchor). The hot-key gate stays
    ACTIVE under within, on the widest window instead of the key size
    (:func:`_guard_window_scan`) — a key whose rows all share one
    window is still O(window_rows) per anchor.

    Lowering (one shuffle, zero Python): per key, one ordered window
    computes row numbers + the anchor/loop OWN-ROW boolean flags; rows
    collect into one sorted array and a JVM ``transform`` attempts a
    match at every anchor-flagged offset j — the loop run length is
    the FIRST position whose own-row flag fails OR whose value breaks
    the anchor-relative comparison against arr[j].value * factor
    (``filter`` + ``array_min``). The anchor-relative threshold makes
    the scan inherently per-anchor (no precomputable failure index —
    the nb trick needs an anchor-independent flag), so the cost class
    is the documented anchored O(rows²) scan, bounded by session
    length when the input is sessionized (:func:`sessionize`, keyed
    by ``[key, "session_id"]``) — the deployment shape, same as the
    runagg family. AFTER MATCH: both
    skip policies via the same non-overlapping fold as runagg.

    The float product ``A.value * factor`` and the comparison run in
    IEEE double in BOTH engines from byte-identical parquet operands,
    so the accept bit can never disagree cross-engine.

    Returns one row per match: ``key..., match_no, first_event_id,
    last_event_id, n_rows, b_rows``.

    Precondition: ``(ts, id_col)`` unique per key (the runagg array/
    window alignment invariant)."""
    from pyspark.sql.window import Window

    _validate_iterative(anchor_def, loop_def)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    if min_loop not in (0, 1):
        raise ValueError("min_loop must be 0 or 1 ('*' or '+')")
    if suffix_def is not None:
        bad = set(suffix_def) - {"types", "dir"}
        if bad:
            raise ValueError(f"suffix define: unknown keys {sorted(bad)}")
        if suffix_def.get("dir") not in (None, "up", "down"):
            raise ValueError("dir must be 'up' or 'down'")
    if within_minutes is not None and not (
        isinstance(within_minutes, int) and within_minutes > 0
    ):
        raise ValueError("within_minutes must be a positive int")
    keys = [key] if isinstance(key, str) else list(key)
    cmp = loop_def["cmp"]
    factor = float(loop_def["factor"])

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    prev_v = F.lag(value_col).over(w)

    def simple_ok(define) -> F.Column:
        conds = []
        if define.get("types"):
            conds.append(F.col(type_col).isin(*_types_of(define["types"])))
        if define.get("dir") == "up":
            conds.append(F.col(value_col) > prev_v)
        elif define.get("dir") == "down":
            conds.append(F.col(value_col) < prev_v)
        out = conds[0] if conds else F.lit(True)
        for c in conds[1:]:
            out = out & c
        return F.coalesce(out, F.lit(False))

    rows = events.select(
        *[F.col(k) for k in keys],
        F.struct(
            F.col(ts).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(value_col).cast("double").alias("v"),
            simple_ok(anchor_def).alias("oka"),
            simple_ok(loop_def).alias("okb"),
            (simple_ok(suffix_def) if suffix_def is not None
             else F.lit(False)).alias("oks"),
            (_window_extent_col(events, keys, ts, id_col, within_minutes)
             if within_minutes is not None
             else F.lit(0).cast("long").alias("we")),
        ).alias("t"),
    )
    grouped = rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("t")).alias("arr")
    ).withColumn(
        # hot-key gate (r13, ADVICE r12 medium): the FLAT form gates on
        # key rows (per-anchor scan = full tail); the within form's
        # scan is REALLY truncated at the precomputed extent now, so it
        # gates on the widest window instead — within no longer
        # disables the gate
        "arr",
        _guard_window_scan(F.col("arr"), max_key_rows)
        if within_minutes is not None
        else _guard_anchor_scan(F.col("arr"), max_key_rows),
    )
    arr = F.col("arr")
    n = F.size(arr)

    def at(i):
        return F.element_at(arr, i.cast("int"))

    def _cmp(val, thr):
        if cmp == "<":
            return val < thr
        if cmp == "<=":
            return val <= thr
        if cmp == ">":
            return val > thr
        return val >= thr

    def cand(j):
        thr = at(j)["v"] * F.lit(factor)
        if within_minutes is not None:
            # Flink's .within(): every match row's event time must fall
            # inside [anchor_ts, anchor_ts + W]. The scan range is the
            # anchor's PRECOMPUTED in-window extent (r13, ADVICE r12
            # medium): no per-anchor time pass — the predicate runs
            # over exactly the in-window rows, so per-anchor cost IS
            # the window width (gated by _guard_window_scan above)
            scan_hi = at(j)["we"].cast("int")
        else:
            scan_hi = (n - j).cast("int")

        fail = F.array_min(
            F.filter(
                F.when(
                    scan_hi >= 1,
                    F.sequence(F.lit(1).cast("int"), scan_hi),
                ).otherwise(F.array().cast("array<int>")),
                lambda t: ~(at(j + t)["okb"] & _cmp(at(j + t)["v"], thr)),
            )
        )
        # no failure inside the scan range: the run ends at the range
        # edge (for within, the first out-of-window row is a failure by
        # definition — same b_max the explicit time filter produced)
        b_max = F.coalesce(fail, scan_hi + 1) - 1
        if suffix_def is None:
            return F.struct(
                j.cast("long").alias("off"),
                (j + b_max).cast("long").alias("end"),
                b_max.cast("long").alias("b_rows"),
                (b_max >= min_loop).alias("valid"),
            )
        # single-row suffix anchor (PATTERN (A B+ C)): greedy B gives
        # rows back until the NEXT row satisfies the suffix define
        # (and the within bound) — the runagg-interior backtracking,
        # here a max over suffix-flagged candidate ends
        t_sel = F.array_max(
            F.filter(
                F.when(
                    b_max >= min_loop,
                    F.sequence(F.lit(min_loop).cast("int"),
                               b_max.cast("int")),
                ).otherwise(F.array().cast("array<int>")),
                # try_element_at: NULL struct past the array end folds
                # to False (suffix row must exist); under within the
                # suffix row must sit inside the anchor's extent too —
                # an integer compare against the precomputed edge
                lambda t: F.coalesce(
                    F.try_element_at(arr, (j + t + 1).cast("int"))["oks"]
                    & (
                        (t + 1 <= scan_hi)
                        if within_minutes is not None else F.lit(True)
                    ),
                    F.lit(False),
                ),
            )
        )
        return F.struct(
            j.cast("long").alias("off"),
            (j + t_sel + 1).cast("long").alias("end"),
            t_sel.cast("long").alias("b_rows"),
            t_sel.isNotNull().alias("valid"),
        )

    seq = F.filter(
        F.sequence(F.lit(1), n), lambda j: F.element_at(arr, j)["oka"]
    )
    cands = F.filter(F.transform(seq, cand), lambda c: c["valid"])
    if skip == "past_last_row":
        init = F.expr(
            "named_struct('p', CAST(1 AS BIGINT), 'sel', CAST(array() AS "
            "array<struct<off:bigint,end:bigint,b_rows:bigint,valid:boolean>>))"
        )
        sel = F.aggregate(
            cands,
            init,
            lambda acc, c: F.when(
                c["off"] >= acc["p"],
                F.struct(
                    (c["end"] + 1).alias("p"),
                    F.concat(acc["sel"], F.array(c)).alias("sel"),
                ),
            ).otherwise(acc),
        )["sel"]
    else:
        sel = cands
    out = grouped.select(
        *[F.col(k) for k in keys],
        arr,
        F.posexplode(sel),
    )
    c = F.col("col")
    return out.select(
        *[F.col(k) for k in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.element_at(arr, c["off"].cast("int"))["id"].alias("first_event_id"),
        F.element_at(arr, c["end"].cast("int"))["id"].alias("last_event_id"),
        (c["end"] - c["off"] + 1).alias("n_rows"),
        c["b_rows"].alias("b_rows"),
    )


def match_recognize_iterative_oracle_sql(
    anchor_def: dict,
    loop_def: dict,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    min_loop: int = 1,
    skip: str = "past_last_row",
    suffix_def: dict | None = None,
    within_minutes: int | None = None,
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_iterative`: the same
    per-anchor first-failure scan as a correlated MIN whose accept
    condition multiplies the ANCHOR row's value by the factor (both
    engines: IEEE double from identical operands), the same
    single-row-suffix backtracking as a correlated MAX, the same
    anchor-relative within truncation, and the same left-to-right
    non-overlapping selection for past_last_row."""
    _validate_iterative(anchor_def, loop_def)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    if min_loop not in (0, 1):
        raise ValueError("min_loop must be 0 or 1")
    cmp = loop_def["cmp"]
    factor = float(loop_def["factor"])
    klist = _key_list(key)
    key = ", ".join(klist)
    eq_r2c = " AND ".join(f"r2.{k} = c.{k}" for k in klist)
    eq_rfm = " AND ".join(f"rf.{k} = m1.{k}" for k in klist)
    eq_rlm = " AND ".join(f"rl.{k} = m1.{k}" for k in klist)
    eq_c2c = " AND ".join(f"c2.{k} = c.{k}" for k in klist)
    eq_nxpk = " AND ".join(f"nx.{k} = pk.{k}" for k in klist)
    eq_n2pk = " AND ".join(f"n2.{k} = pk.{k}" for k in klist)
    c_key = ", ".join(f"c.{k}" for k in klist)
    m1_key = ", ".join(f"m1.{k}" for k in klist)
    nx_key = ", ".join(f"nx.{k}" for k in klist)
    inner = f"SELECT * FROM {table}"

    def simple_sql(define: dict) -> str:
        conds = []
        if define.get("types"):
            alts = ", ".join(f"'{t}'" for t in _types_of(define["types"]))
            conds.append(f"{type_col} IN ({alts})")
        if define.get("dir") == "up":
            conds.append(f"{value_col} > prev_v")
        elif define.get("dir") == "down":
            conds.append(f"{value_col} < prev_v")
        body = " AND ".join(conds) if conds else "TRUE"
        return f"COALESCE({body}, FALSE)"

    w_sql = (f" AND r2.{ts} <= c.ats + INTERVAL {int(within_minutes)} MINUTE"
             if within_minutes is not None else "")
    accept = f"(r2.okb AND (r2.v {cmp} c.aval * {factor}){w_sql})"
    oks_sql = (f"{simple_sql(suffix_def)} AS oks,\n               "
               if suffix_def is not None else "")
    if suffix_def is None:
        m1 = f"""
    m1 AS (
        SELECT {key}, off,
               COALESCE(failrn, n + 1) - (off + 1) AS b_rows,
               off + COALESCE(failrn, n + 1) - (off + 1) AS endrn
        FROM cand
        WHERE COALESCE(failrn, n + 1) - (off + 1) >= {min_loop}
    )"""
    else:
        # single-row suffix: greedy backtracking = the LARGEST loop
        # length t whose NEXT row satisfies the suffix define (and the
        # within bound) — a correlated MAX inside the run envelope,
        # the runagg-interior replay
        m1 = f"""
    m1 AS (
        SELECT {key}, off,
               sufrn - off - 1 AS b_rows, sufrn AS endrn
        FROM (
            SELECT {c_key}, c.off, c.ats,
                   (SELECT max(r2.rn) FROM r r2
                    WHERE {eq_r2c}
                      AND r2.rn >= c.off + 1 + {min_loop}
                      AND r2.rn <= c.off + 1
                          + (COALESCE(c.failrn, c.n + 1) - (c.off + 1))
                      AND r2.oks{w_sql}) AS sufrn
            FROM cand c
        ) sx
        WHERE sufrn IS NOT NULL
    )"""
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    if skip == "to_next_row":
        numbering = f"""
    SELECT {key}, CAST(row_number() OVER (PARTITION BY {key} ORDER BY off)
                       AS BIGINT) AS match_no,
           CAST(first_event_id AS BIGINT) AS first_event_id,
           CAST(last_event_id AS BIGINT) AS last_event_id,
           CAST(endrn - off + 1 AS BIGINT) AS n_rows,
           CAST(b_rows AS BIGINT) AS b_rows
    FROM m2"""
    else:
        numbering = f"""
    pick AS (
        SELECT {key}, off, endrn, first_event_id, last_event_id,
               b_rows, 1 AS match_no
        FROM m2 c
        WHERE off = (SELECT min(off) FROM m2 c2 WHERE {eq_c2c})
      UNION ALL
        SELECT {nx_key}, nx.off, nx.endrn, nx.first_event_id,
               nx.last_event_id, nx.b_rows, pk.match_no + 1
        FROM pick pk JOIN m2 nx
             ON {eq_nxpk} AND nx.off > pk.endrn
        WHERE nx.off = (SELECT min(n2.off) FROM m2 n2
                        WHERE {eq_n2pk} AND n2.off > pk.endrn)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           CAST(first_event_id AS BIGINT) AS first_event_id,
           CAST(last_event_id AS BIGINT) AS last_event_id,
           CAST(endrn - off + 1 AS BIGINT) AS n_rows,
           CAST(b_rows AS BIGINT) AS b_rows
    FROM pick"""
        numbering = "," + numbering
    return f"""
    WITH RECURSIVE base_src AS (
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER ({order}) AS prev_v
        FROM ({inner})
    ),
    r AS (
        SELECT {key}, {ts}, {id_col},
               row_number() OVER w AS rn,
               COUNT(*) OVER (PARTITION BY {key}) AS n,
               CAST({value_col} AS DOUBLE) AS v,
               {oks_sql}{simple_sql(anchor_def)} AS oka,
               {simple_sql(loop_def)} AS okb
        FROM base_src
        WINDOW w AS ({order})
    ),
    cand AS (
        SELECT {c_key}, c.off, c.n, c.aval, c.ats,
               (SELECT min(r2.rn) FROM r r2
                WHERE {eq_r2c} AND r2.rn >= c.off + 1
                  AND NOT {accept}) AS failrn
        FROM (SELECT {key}, rn AS off, n, v AS aval, {ts} AS ats
              FROM r WHERE oka) c
    ),{m1},
    m2 AS (
        SELECT {m1_key}, m1.off, m1.endrn, m1.b_rows,
               rf.{id_col} AS first_event_id,
               rl.{id_col} AS last_event_id
        FROM m1
        JOIN r rf ON {eq_rfm} AND rf.rn = m1.off
        JOIN r rl ON {eq_rlm} AND rl.rn = m1.endrn
    ){numbering}
    """


# --------------------------------------------------------------------------
# Iterative conditions under RELAXED linking (round 12 — VERDICT r11
# missing #1, the top remaining Flink CEP gap): the everyday Flink
# composition begin("start").where(...).followedBy("mid").oneOrMore()
# .where(iterative) — a followedBy loop whose predicate reads the
# matched-so-far context (the anchor event). The strict engine above
# (match_recognize_iterative) requires the loop rows to be CONTIGUOUS
# after the anchor; under relaxed linking (skip-till-next), rows the
# loop predicate rejects are SKIPPED (and consumed by the match), so
# the loop collects every qualifying row up to the scan bound. The
# reference surface is Flink CEP Pattern#followedBy + oneOrMore +
# IterativeCondition (reference repo: /root/reference/README.md:1 —
# no code ships; surface reconstructed in SURVEY.md §2.9).
# --------------------------------------------------------------------------


def _validate_relaxed_iterative(anchor_def: dict, loop_def: dict) -> None:
    """anchor_def: simple keys ``types``/``dir`` (the start variable —
    dir navigates the PHYSICAL previous partition row, as everywhere).
    loop_def: ``cmp`` + ``factor`` (the iterative predicate
    mid.value cmp <reference>.value * factor) plus optional own-row
    ``types`` and ``ref``: ``'anchor'`` (default — the start event,
    Flink's ``start.price`` navigation) or ``'prev'`` (the PREVIOUSLY
    ACCEPTED loop event — Flink's
    ``ctx.getEventsForPattern("mid").last()``, e.g. a rising chain;
    the first loop row compares against the anchor). ``dir`` is NOT
    allowed on the loop: under relaxed linking "previous" is ambiguous
    (physical row vs previously matched loop row) — ``ref='prev'`` IS
    the matched-row navigation, made explicit."""
    bad = set(anchor_def) - {"types", "dir"}
    if bad:
        raise ValueError(f"anchor define: unknown keys {sorted(bad)}")
    if anchor_def.get("dir") not in (None, "up", "down"):
        raise ValueError("dir must be 'up' or 'down'")
    bad = set(loop_def) - {"types", "cmp", "factor", "ref"}
    if bad:
        raise ValueError(
            f"loop define: unknown keys {sorted(bad)} (dir is not "
            "supported under relaxed linking — see docstring)")
    if loop_def.get("cmp") not in _ITER_CMP:
        raise ValueError(f"cmp must be one of {sorted(_ITER_CMP)}")
    if not isinstance(loop_def.get("factor"), (int, float)):
        raise ValueError("factor must be a number")
    if loop_def.get("ref") not in (None, "anchor", "prev"):
        raise ValueError("ref must be 'anchor' or 'prev'")


def match_recognize_followed_by_iterative(
    events: DataFrame,
    anchor_def: dict,
    loop_def: dict,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    min_loop: int = 1,
    skip: str = "past_last_row",
    within_minutes: int | None = None,
    max_key_rows: int | None = _ANCHOR_SCAN_ROWS,
    emit: str = "greedy",
    consume: str = "skip",
    within_step_minutes: int | None = None,
) -> DataFrame:
    """Flink ``begin(start).followedBy(mid).oneOrMore().where(
    mid.value <cmp> start.value * factor)`` — an IterativeCondition
    loop under RELAXED linking (round 12; closes the cep.py
    relaxed_define descope "iterative conditions over matched-so-far
    events ... stay out of scope").

    ``within_step_minutes`` (round 13 — the per-edge
    ``WithinType.PREVIOUS_AND_CURRENT`` bound composed with the LOOP,
    extending :func:`match_recognize_within_step` beyond fixed
    chains): every accepted event must lie within the bound of the
    PREVIOUSLY ACCEPTED event (the anchor for the first loop row).
    Timestamps are monotone along the scan, so once any row lies
    beyond ``last_accepted_ts + bound`` the loop is closed — no later
    row can be accepted, exactly Flink's timer-pruned NFA — which
    means acceptance is SEQUENTIAL even under ``ref='anchor'``: both
    references lower to the per-anchor aggregate FOLD carrying
    (last value, last ts), and the closed loop is simply "no further
    acceptance possible" (no dead flag needed — the bound can never
    re-open). Composes with ``within_minutes`` (the whole-pattern
    bound truncates the scan range first), all emit/skip modes and
    ``consume='readmit'`` (the qualifying chain is the only place the
    semantics live). The per-edge bound also caps each skip gap by
    construction — the second hot-key-mitigating composition after
    the whole-pattern within.

    ``consume='readmit'`` (round 13, VERDICT r12 next #1) is the
    Flink-NFA-EXACT ``AfterMatchSkipStrategy.skipPastLastEvent()``
    emission, removing this family's one documented deviation for the
    keys that opt in. Model: every anchor starts an independent
    partial match; a partial COMPLETES at its ``min_loop``-th
    qualifying row (a pattern-trailing ``oneOrMore`` emits on first
    completion — Flink's ``greedy()`` is documented to have no effect
    on a trailing loop, and SKIP_PAST_LAST_EVENT then discards the
    same-start longer branches); completed matches emit in COMPLETION
    order, and each emitted match ``(s, e]`` discards every live
    partial whose anchor lies in ``(s, e]`` — anchors BEFORE ``s``
    survive and may complete later, so emitted matches can OVERLAP
    and rows skipped inside one match are re-admitted to those
    surviving earlier attempts. Differences vs the consuming default
    (``consume='skip'`` + ``skip='past_last_row'``), exactly:
    (a) match end is the ``min_loop``-th qualifying row (``n_loop ==
    min_loop``), not the greedy last; (b) an anchor preceding an
    emitted match's span is NOT consumed by it — it emits its own,
    possibly overlapping, match; (c) ``match_no`` orders by
    completion ``(end, start)``, not by start. Lowering: same per-key
    candidate scan, then one ``aggregate`` fold over the
    ``(end, off)``-sorted candidates carrying the emitted-interval
    list (exact NFA pruning; list length = matches per key).
    Requires ``emit='greedy'`` and ``skip='past_last_row'`` (readmit
    IS the past-last-event strategy; the other modes have their own
    engines). Composes with ``within_minutes`` and the sessionized
    wrapper. Hypothesis-tested vs an independent re-admitting
    reference NFA (tests/test_property.py). Semantics, mirroring this
    codebase's relaxed engines (documented deviation: skipped rows
    are CONSUMED by the match, vs Flink NFA re-admission): after the
    anchor, rows failing the loop's full condition (own-row ``types``
    AND the anchor-relative comparison) are skipped; rows passing are
    loop rows. Greedy (Flink ``greedy()``): the loop extends to the
    LAST qualifying row inside the scan bound — ``within_minutes``
    (Flink ``.within()``, every loop row inside [anchor_ts,
    anchor_ts + W]) or, unbounded, the end of the key partition. A
    match is valid iff >= ``min_loop`` qualifying rows (oneOrMore = 1;
    ``timesOrMore(m)`` = m). AFTER MATCH: ``past_last_row`` consumes
    through the last loop row (left-to-right non-overlapping fold);
    ``to_next_row`` emits every valid anchor.

    ``emit='all_prefixes'`` is Flink's DEFAULT (non-``greedy()``)
    oneOrMore emission: one match per loop PREFIX — the k-th match
    (k = min_loop..n_loop) ends at the anchor's k-th qualifying row,
    the overlapping-match set Flink's NO_SKIP NFA produces. Requires
    ``skip='to_next_row'`` (prefix matches overlap by construction, so
    the consuming past_last_row fold contradicts the mode); output
    rows per anchor = its qualifying count, bounded by the within
    window / session in the deployment shapes. match_no orders by
    (anchor, k).

    Lowering (one shuffle, zero Python): per key, one ordered window
    computes the anchor/loop own-row flags; rows collect into one
    time-sorted array; at each anchor offset j a JVM ``filter`` over
    the (within-truncated) tail selects the qualifying positions —
    ``array_max`` is the greedy end, ``size`` the loop count. The
    anchor-relative threshold makes the scan per-anchor, so the FLAT
    form is the documented anchored O(rows²) hot-key class (HOTKEY.json
    quantifies it; same as the strict iterative family) — deploy
    it over :func:`sessionize` keyed by ``[key, "session_id"]``, or
    the within-bounded form. Round 13 (ADVICE r12 medium): the within
    truncation is REAL — each row's in-window extent is precomputed
    once with a RANGE window frame, so the per-anchor scan touches
    exactly the in-window rows, and the hot-key gate stays ACTIVE
    under within, on the widest window (:func:`_guard_window_scan`).

    The float product ``start.value * factor`` and the comparison run
    in IEEE double in BOTH engines from byte-identical parquet
    operands, so the accept bit can never disagree cross-engine.

    Returns one row per match: ``key..., match_no, first_event_id,
    last_event_id, n_loop, n_skipped, last_loop_value`` —
    ``last_loop_value`` is SQL:2016 ``mid.last.value`` navigation
    under relaxed links (VERDICT r11 missing #1's second clause).

    Precondition: ``(ts, id_col)`` unique per key (the runagg array/
    window alignment invariant).
    """
    from pyspark.sql.window import Window

    _validate_relaxed_iterative(anchor_def, loop_def)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    if not (isinstance(min_loop, int) and min_loop >= 1):
        raise ValueError("min_loop must be an int >= 1")
    if within_minutes is not None and not (
        isinstance(within_minutes, int) and within_minutes > 0
    ):
        raise ValueError("within_minutes must be a positive int")
    if within_step_minutes is not None and not (
        isinstance(within_step_minutes, int) and within_step_minutes > 0
    ):
        raise ValueError("within_step_minutes must be a positive int")
    if emit not in ("greedy", "all_prefixes"):
        raise ValueError("emit must be 'greedy' or 'all_prefixes'")
    if emit == "all_prefixes" and skip != "to_next_row":
        raise ValueError(
            "emit='all_prefixes' (Flink's non-greedy oneOrMore) emits "
            "OVERLAPPING prefix matches — use skip='to_next_row' "
            "(NO_SKIP); the consuming past_last_row fold contradicts it")
    if consume not in ("skip", "readmit"):
        raise ValueError("consume must be 'skip' or 'readmit'")
    if consume == "readmit" and (emit != "greedy" or skip != "past_last_row"):
        raise ValueError(
            "consume='readmit' IS Flink's SKIP_PAST_LAST_EVENT NFA "
            "emission — it fixes emit='greedy', skip='past_last_row'; "
            "the other modes have their own engines")
    keys = [key] if isinstance(key, str) else list(key)
    cmp = loop_def["cmp"]
    factor = float(loop_def["factor"])
    ref = loop_def.get("ref") or "anchor"

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    prev_v = F.lag(value_col).over(w)

    a_conds = []
    if anchor_def.get("types"):
        a_conds.append(F.col(type_col).isin(*_types_of(anchor_def["types"])))
    if anchor_def.get("dir") == "up":
        a_conds.append(F.col(value_col) > prev_v)
    elif anchor_def.get("dir") == "down":
        a_conds.append(F.col(value_col) < prev_v)
    a_ok = a_conds[0] if a_conds else F.lit(True)
    for c in a_conds[1:]:
        a_ok = a_ok & c
    b_own = (F.col(type_col).isin(*_types_of(loop_def["types"]))
             if loop_def.get("types") else F.lit(True))

    rows = events.select(
        *[F.col(k) for k in keys],
        F.struct(
            F.col(ts).alias("ts"),
            F.col(id_col).alias("id"),
            F.col(value_col).cast("double").alias("v"),
            F.coalesce(a_ok, F.lit(False)).alias("oka"),
            F.coalesce(b_own, F.lit(False)).alias("okb"),
            (_window_extent_col(events, keys, ts, id_col, within_minutes)
             if within_minutes is not None
             else F.lit(0).cast("long").alias("we")),
        ).alias("t"),
    )
    grouped = rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("t")).alias("arr")
    ).withColumn(
        # hot-key gate (r13, ADVICE r12 medium): flat form gates on key
        # rows; the within form's scan range is the precomputed extent,
        # so it gates on the widest window — within no longer disables
        # the gate
        "arr",
        _guard_window_scan(F.col("arr"), max_key_rows)
        if within_minutes is not None
        else _guard_anchor_scan(F.col("arr"), max_key_rows),
    )
    arr = F.col("arr")
    n = F.size(arr)

    def at(i):
        return F.element_at(arr, i.cast("int"))

    def _cmp(val, thr):
        if cmp == "<":
            return val < thr
        if cmp == "<=":
            return val <= thr
        if cmp == ">":
            return val > thr
        return val >= thr

    def qualifying(j):
        """The anchor's ordered qualifying-position array (offsets
        relative to j), within-truncated. ref='anchor': every position
        compared against the anchor's value (one filter pass).
        ref='prev': a greedy CHAIN — each position compared against
        the LAST ACCEPTED event's value (one aggregate fold; under
        skip-till-next the first admitting row is always consumed, so
        the greedy chain IS the relaxed-linking semantics)."""
        if within_minutes is not None:
            # within truncation (r13, ADVICE r12 medium): the window
            # edge is the anchor's PRECOMPUTED extent — no per-anchor
            # time pass (higher-order filter doesn't short-circuit, so
            # the previous ts-only pass was still O(tail) per anchor);
            # the predicate runs over exactly the in-window rows
            wlen = at(j)["we"].cast("int")
        else:
            wlen = (n - j).cast("int")
        rng = F.when(
            wlen >= 1,
            F.sequence(F.lit(1).cast("int"), wlen),
        ).otherwise(F.array().cast("array<int>"))
        if within_step_minutes is not None:
            # per-edge bound (round 13): acceptance is sequential for
            # BOTH references — the fold carries the last accepted
            # (value, ts); a row beyond lastts + bound can never be
            # accepted nor can any later row (monotone ts), so the
            # plain accept conjunct IS the loop-closing rule
            stepw = F.expr(
                f"INTERVAL {int(within_step_minutes)} MINUTES")
            init = F.struct(
                at(j)["v"].alias("lastv"),
                at(j)["ts"].alias("lastts"),
                F.array().cast("array<int>").alias("sel"),
            )

            def _step(acc, t):
                thr = (acc["lastv"] if ref == "prev"
                       else at(j)["v"]) * F.lit(factor)
                return F.when(
                    at(j + t)["okb"]
                    & _cmp(at(j + t)["v"], thr)
                    & (at(j + t)["ts"] <= acc["lastts"] + stepw),
                    F.struct(
                        at(j + t)["v"].alias("lastv"),
                        at(j + t)["ts"].alias("lastts"),
                        F.concat(acc["sel"], F.array(t)).alias("sel"),
                    ),
                ).otherwise(acc)

            return F.aggregate(rng, init, _step)["sel"]
        if ref == "prev":
            init = F.struct(
                at(j)["v"].alias("lastv"),
                F.array().cast("array<int>").alias("sel"),
            )
            return F.aggregate(
                rng,
                init,
                lambda acc, t: F.when(
                    at(j + t)["okb"]
                    & _cmp(at(j + t)["v"], acc["lastv"] * F.lit(factor)),
                    F.struct(
                        at(j + t)["v"].alias("lastv"),
                        F.concat(acc["sel"], F.array(t)).alias("sel"),
                    ),
                ).otherwise(acc),
            )["sel"]
        thr = at(j)["v"] * F.lit(factor)
        return F.filter(
            rng, lambda t: at(j + t)["okb"] & _cmp(at(j + t)["v"], thr)
        )

    def cand(j):
        q = qualifying(j)
        lastsel = F.array_max(q)
        nq = F.size(q)
        return F.struct(
            j.cast("long").alias("off"),
            (j + lastsel).cast("long").alias("end"),
            nq.cast("long").alias("n_loop"),
            (lastsel - nq).cast("long").alias("n_skipped"),
            at(j + lastsel)["v"].alias("lastv"),
            (nq >= min_loop).alias("valid"),
        )

    def cand_all(j):
        # Flink's DEFAULT (non-greedy) oneOrMore emission: one match
        # per loop PREFIX — the k-th match ends at the k-th qualifying
        # row; skipped inside that span = t_k - k (the first k
        # qualifying rows are exactly the qualifying rows <= t_k,
        # since q is ordered)
        q = qualifying(j)
        ks = F.when(
            F.size(q) >= min_loop,
            F.sequence(F.lit(min_loop).cast("int"), F.size(q).cast("int")),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            ks,
            lambda k: F.struct(
                j.cast("long").alias("off"),
                (j + F.element_at(q, k)).cast("long").alias("end"),
                k.cast("long").alias("n_loop"),
                (F.element_at(q, k) - k).cast("long").alias("n_skipped"),
                at(j + F.element_at(q, k))["v"].alias("lastv"),
                F.lit(True).alias("valid"),
            ),
        )

    seq = F.filter(
        F.sequence(F.lit(1), n), lambda j: F.element_at(arr, j)["oka"]
    )
    if consume == "readmit":
        # Flink-NFA-exact SKIP_PAST_LAST_EVENT: each anchor's partial
        # completes at its min_loop-th qualifying row; candidates fold
        # in COMPLETION order (end, off) carrying the emitted-interval
        # list — a candidate is pruned iff its anchor lies inside an
        # earlier-emitted (off, end] span (surviving earlier anchors
        # overlap; skipped rows are re-admitted to them)
        def cand_rd(j):
            q = qualifying(j)
            tk = F.try_element_at(q, F.lit(int(min_loop)))
            return F.struct(
                (j + tk).cast("long").alias("end"),
                j.cast("long").alias("off"),
                F.lit(int(min_loop)).cast("long").alias("n_loop"),
                (tk - min_loop).cast("long").alias("n_skipped"),
                at(j + tk)["v"].alias("lastv"),
                tk.isNotNull().alias("valid"),
            )

        cands = F.array_sort(
            F.filter(F.transform(seq, cand_rd), lambda c: c["valid"])
        )
        init = F.expr(
            "named_struct("
            "'em', CAST(array() AS array<struct<o:bigint,e:bigint>>), "
            "'sel', CAST(array() AS array<struct<end:bigint,off:bigint,"
            "n_loop:bigint,n_skipped:bigint,lastv:double,"
            "valid:boolean>>))"
        )
        sel = F.aggregate(
            cands,
            init,
            lambda acc, c: F.when(
                ~F.exists(
                    acc["em"],
                    lambda x: (x["o"] < c["off"]) & (c["off"] <= x["e"]),
                ),
                F.struct(
                    F.concat(
                        acc["em"],
                        F.array(F.struct(c["off"].alias("o"),
                                         c["end"].alias("e"))),
                    ).alias("em"),
                    F.concat(acc["sel"], F.array(c)).alias("sel"),
                ),
            ).otherwise(acc),
        )["sel"]
    elif emit == "all_prefixes":
        cands = F.flatten(F.transform(seq, cand_all))
        sel = cands
    else:
        cands = F.filter(F.transform(seq, cand), lambda c: c["valid"])
        sel = None
    if sel is None:
        if skip == "past_last_row":
            init = F.expr(
                "named_struct('p', CAST(1 AS BIGINT), 'sel', CAST(array() "
                "AS array<struct<off:bigint,end:bigint,n_loop:bigint,"
                "n_skipped:bigint,lastv:double,valid:boolean>>))"
            )
            sel = F.aggregate(
                cands,
                init,
                lambda acc, c: F.when(
                    c["off"] >= acc["p"],
                    F.struct(
                        (c["end"] + 1).alias("p"),
                        F.concat(acc["sel"], F.array(c)).alias("sel"),
                    ),
                ).otherwise(acc),
            )["sel"]
        else:
            sel = cands
    out = grouped.select(
        *[F.col(k) for k in keys],
        arr,
        F.posexplode(sel),
    )
    c = F.col("col")
    return out.select(
        *[F.col(k) for k in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.element_at(arr, c["off"].cast("int"))["id"].alias("first_event_id"),
        F.element_at(arr, c["end"].cast("int"))["id"].alias("last_event_id"),
        c["n_loop"].alias("n_loop"),
        c["n_skipped"].alias("n_skipped"),
        c["lastv"].alias("last_loop_value"),
    )


def match_recognize_followed_by_iterative_oracle_sql(
    anchor_def: dict,
    loop_def: dict,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    min_loop: int = 1,
    skip: str = "past_last_row",
    within_minutes: int | None = None,
    emit: str = "greedy",
    consume: str = "skip",
    within_step_minutes: int | None = None,
) -> str:
    """DuckDB SQL replaying
    :func:`match_recognize_followed_by_iterative`: the greedy relaxed
    loop end as a correlated MAX over the qualifying set (own-row
    types AND the anchor-relative comparison AND the within bound),
    the loop count as the matching correlated COUNT (both engines:
    IEEE double products from identical operands), and the same
    left-to-right non-overlapping selection for past_last_row.
    ``emit='all_prefixes'`` replays the non-greedy emission as an
    anchor × qualifying-row JOIN ranked per anchor (the k-th rank IS
    the k-th prefix match). ``consume='readmit'`` replays the
    Flink-NFA-exact SKIP_PAST_LAST_EVENT emission: each anchor's
    completion is its ``min_loop``-th qualifying row (LIMIT/OFFSET
    correlated pick, or the chain's ``nq = min_loop`` step for
    ``ref='prev'``), then a recursive CTE walks the candidates in
    completion order carrying the emitted-interval LIST — the same
    pruning fold the Spark ``aggregate`` runs."""
    _validate_relaxed_iterative(anchor_def, loop_def)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    if not (isinstance(min_loop, int) and min_loop >= 1):
        raise ValueError("min_loop must be an int >= 1")
    if emit not in ("greedy", "all_prefixes"):
        raise ValueError("emit must be 'greedy' or 'all_prefixes'")
    if emit == "all_prefixes" and skip != "to_next_row":
        raise ValueError("emit='all_prefixes' needs skip='to_next_row'")
    cmp = loop_def["cmp"]
    factor = float(loop_def["factor"])
    ref = loop_def.get("ref") or "anchor"
    klist = _key_list(key)
    key = ", ".join(klist)
    eq_r2c = " AND ".join(f"r2.{k} = c.{k}" for k in klist)
    eq_r2ch = " AND ".join(f"r2.{k} = ch.{k}" for k in klist)
    eq_nxch = " AND ".join(f"nx.{k} = ch.{k}" for k in klist)
    ch_key = ", ".join(f"ch.{k}" for k in klist)
    eq_rfm = " AND ".join(f"rf.{k} = m1.{k}" for k in klist)
    eq_rlm = " AND ".join(f"rl.{k} = m1.{k}" for k in klist)
    eq_c2c = " AND ".join(f"c2.{k} = c.{k}" for k in klist)
    eq_nxpk = " AND ".join(f"nx.{k} = pk.{k}" for k in klist)
    eq_n2pk = " AND ".join(f"n2.{k} = pk.{k}" for k in klist)
    c_key = ", ".join(f"c.{k}" for k in klist)
    m1_key = ", ".join(f"m1.{k}" for k in klist)
    nx_key = ", ".join(f"nx.{k}" for k in klist)
    inner = f"SELECT * FROM {table}"

    a_conds = []
    if anchor_def.get("types"):
        alts = ", ".join(f"'{t}'" for t in _types_of(anchor_def["types"]))
        a_conds.append(f"{type_col} IN ({alts})")
    if anchor_def.get("dir") == "up":
        a_conds.append(f"{value_col} > prev_v")
    elif anchor_def.get("dir") == "down":
        a_conds.append(f"{value_col} < prev_v")
    a_sql = f"COALESCE({' AND '.join(a_conds) if a_conds else 'TRUE'}, FALSE)"
    if loop_def.get("types"):
        alts = ", ".join(f"'{t}'" for t in _types_of(loop_def["types"]))
        b_sql = f"COALESCE({type_col} IN ({alts}), FALSE)"
    else:
        b_sql = "TRUE"
    w_sql = (f" AND r2.{ts} <= c.ats + INTERVAL {int(within_minutes)} MINUTE"
             if within_minutes is not None else "")
    qual = f"(r2.okb AND (r2.v {cmp} c.aval * {factor}){w_sql})"
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    w_sql_ch = (f" AND r2.{ts} <= ch.ats + INTERVAL "
                f"{int(within_minutes)} MINUTE"
                if within_minutes is not None else "")
    # per-edge bound (round 13): the next accepted row must also lie
    # within the bound of the LAST ACCEPTED row's ts (curts) — and
    # with the bound set, acceptance is sequential under BOTH
    # references, so the chain walk replays ref='anchor' too (the
    # threshold term is the carried anchor value instead of curv)
    ws_sql_ch = (f" AND r2.{ts} <= ch.curts + INTERVAL "
                 f"{int(within_step_minutes)} MINUTE"
                 if within_step_minutes is not None else "")
    thr_ch = "ch.curv" if ref == "prev" else "ch.aval"
    # the greedy chain replayed as a correlated RECURSIVE walk — each
    # step consumes the FIRST later row admitting against the
    # reference value (skip-till-next), exactly the engine's
    # per-anchor fold; chain step rows ARE the prefixes, so the same
    # CTE feeds both emit modes
    chain_sql = f"""
    chain AS (
        SELECT {key}, rn AS off, rn AS currn, v AS curv, v AS aval,
               {ts} AS ats, {ts} AS curts,
               CAST(0 AS BIGINT) AS nq
        FROM r WHERE oka
      UNION ALL
        SELECT {ch_key}, ch.off, nx.rn, nx.v, ch.aval, ch.ats,
               nx.{ts}, ch.nq + 1
        FROM chain ch JOIN r nx
             ON {eq_nxch} AND nx.rn = (
                SELECT min(r2.rn) FROM r r2
                WHERE {eq_r2ch} AND r2.rn > ch.currn AND r2.okb
                  AND (r2.v {cmp} {thr_ch} * {factor}){w_sql_ch}{ws_sql_ch}
             )
    )"""
    # with the per-edge bound set, every mode routes through the chain
    chain_mode = ref == "prev" or within_step_minutes is not None
    if consume not in ("skip", "readmit"):
        raise ValueError("consume must be 'skip' or 'readmit'")
    if consume == "readmit":
        if emit != "greedy" or skip != "past_last_row":
            raise ValueError(
                "consume='readmit' fixes emit='greedy', "
                "skip='past_last_row'")
        eq_cw = " AND ".join(f"c.{k} = w.{k}" for k in klist)
        w_key = ", ".join(f"w.{k}" for k in klist)
        if chain_mode:
            cand_sql = f"""{chain_sql},
    m1 AS (
        SELECT {key}, off, currn AS endrn
        FROM chain WHERE nq = {min_loop}
    )"""
        else:
            cand_sql = f"""
    cand AS (
        SELECT {c_key}, c.off,
               (SELECT r2.rn FROM r r2
                WHERE {eq_r2c} AND r2.rn > c.off AND {qual}
                ORDER BY r2.rn LIMIT 1 OFFSET {min_loop - 1}) AS endrn
        FROM (SELECT {key}, rn AS off, v AS aval, {ts} AS ats
              FROM r WHERE oka) c
    ),
    m1 AS (
        SELECT {key}, off, endrn FROM cand WHERE endrn IS NOT NULL
    )"""
        return f"""
    WITH RECURSIVE base_src AS (
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER ({order}) AS prev_v
        FROM ({inner})
    ),
    r AS (
        SELECT {key}, {ts}, {id_col},
               row_number() OVER w AS rn,
               CAST({value_col} AS DOUBLE) AS v,
               {a_sql} AS oka,
               {b_sql} AS okb
        FROM base_src
        WINDOW w AS ({order})
    ),
    {cand_sql},
    m2 AS (
        SELECT {m1_key}, m1.off, m1.endrn,
               CAST({min_loop} AS BIGINT) AS n_loop,
               m1.endrn - m1.off - {min_loop} AS n_skipped,
               rf.{id_col} AS first_event_id,
               rl.{id_col} AS last_event_id,
               rl.v AS last_loop_value,
               CAST(row_number() OVER (PARTITION BY {m1_key}
                    ORDER BY m1.endrn, m1.off) AS BIGINT) AS crank
        FROM m1
        JOIN r rf ON {eq_rfm} AND rf.rn = m1.off
        JOIN r rl ON {eq_rlm} AND rl.rn = m1.endrn
    ),
    walk AS (
        SELECT {key}, CAST(0 AS BIGINT) AS i,
               CAST([] AS STRUCT(o BIGINT, e BIGINT)[]) AS em,
               FALSE AS took
        FROM (SELECT DISTINCT {key} FROM m2)
      UNION ALL
        SELECT {w_key}, w.i + 1,
               CASE WHEN len(list_filter(w.em,
                        x -> x.o < c.off AND c.off <= x.e)) > 0
                    THEN w.em
                    ELSE list_append(w.em,
                                     {{'o': c.off, 'e': c.endrn}})
               END,
               len(list_filter(w.em,
                   x -> x.o < c.off AND c.off <= x.e)) = 0
        FROM walk w JOIN m2 c ON {eq_cw} AND c.crank = w.i + 1
    )
    SELECT {w_key},
           CAST(row_number() OVER (PARTITION BY {w_key} ORDER BY w.i)
                AS BIGINT) AS match_no,
           CAST(c.first_event_id AS BIGINT) AS first_event_id,
           CAST(c.last_event_id AS BIGINT) AS last_event_id,
           c.n_loop,
           CAST(c.n_skipped AS BIGINT) AS n_skipped,
           c.last_loop_value
    FROM walk w JOIN m2 c ON {eq_cw} AND c.crank = w.i
    WHERE w.took
    """
    if chain_mode and emit == "all_prefixes":
        return f"""
    WITH RECURSIVE base_src AS (
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER ({order}) AS prev_v
        FROM ({inner})
    ),
    r AS (
        SELECT {key}, {ts}, {id_col},
               row_number() OVER w AS rn,
               CAST({value_col} AS DOUBLE) AS v,
               {a_sql} AS oka,
               {b_sql} AS okb
        FROM base_src
        WINDOW w AS ({order})
    ),{chain_sql}
    SELECT {m1_key},
           CAST(row_number() OVER (PARTITION BY {m1_key}
                                   ORDER BY m1.off, m1.nq)
                AS BIGINT) AS match_no,
           CAST(rf.{id_col} AS BIGINT) AS first_event_id,
           CAST(rl.{id_col} AS BIGINT) AS last_event_id,
           m1.nq AS n_loop,
           CAST(m1.currn - m1.off - m1.nq AS BIGINT) AS n_skipped,
           rl.v AS last_loop_value
    FROM (SELECT * FROM chain WHERE nq >= {min_loop}) m1
    JOIN r rf ON {eq_rfm} AND rf.rn = m1.off
    JOIN r rl ON {eq_rlm} AND rl.rn = m1.currn
    """
    if emit == "all_prefixes":
        # non-greedy emission: anchors JOIN their qualifying rows,
        # ranked per anchor — rank k IS the k-th prefix match
        return f"""
    WITH base_src AS (
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER ({order}) AS prev_v
        FROM ({inner})
    ),
    r AS (
        SELECT {key}, {ts}, {id_col},
               row_number() OVER w AS rn,
               CAST({value_col} AS DOUBLE) AS v,
               {a_sql} AS oka,
               {b_sql} AS okb
        FROM base_src
        WINDOW w AS ({order})
    ),
    qrows AS (
        SELECT {c_key}, c.off, c.first_id, r2.rn AS trn,
               r2.{id_col} AS tid, r2.v AS tv,
               CAST(row_number() OVER (
                   PARTITION BY {c_key}, c.off ORDER BY r2.rn
               ) AS BIGINT) AS k
        FROM (SELECT {key}, rn AS off, v AS aval, {ts} AS ats,
                     {id_col} AS first_id
              FROM r WHERE oka) c
        JOIN r r2 ON {eq_r2c} AND r2.rn > c.off AND {qual}
    )
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key} ORDER BY off, k)
                AS BIGINT) AS match_no,
           CAST(first_id AS BIGINT) AS first_event_id,
           CAST(tid AS BIGINT) AS last_event_id,
           k AS n_loop,
           CAST(trn - off - k AS BIGINT) AS n_skipped,
           tv AS last_loop_value
    FROM qrows
    WHERE k >= {min_loop}
    """
    if skip == "to_next_row":
        numbering = f"""
    SELECT {key}, CAST(row_number() OVER (PARTITION BY {key} ORDER BY off)
                       AS BIGINT) AS match_no,
           CAST(first_event_id AS BIGINT) AS first_event_id,
           CAST(last_event_id AS BIGINT) AS last_event_id,
           CAST(n_loop AS BIGINT) AS n_loop,
           CAST(n_skipped AS BIGINT) AS n_skipped,
           last_loop_value
    FROM m2"""
    else:
        numbering = f"""
    pick AS (
        SELECT {key}, off, endrn, first_event_id, last_event_id,
               n_loop, n_skipped, last_loop_value, 1 AS match_no
        FROM m2 c
        WHERE off = (SELECT min(off) FROM m2 c2 WHERE {eq_c2c})
      UNION ALL
        SELECT {nx_key}, nx.off, nx.endrn, nx.first_event_id,
               nx.last_event_id, nx.n_loop, nx.n_skipped,
               nx.last_loop_value, pk.match_no + 1
        FROM pick pk JOIN m2 nx
             ON {eq_nxpk} AND nx.off > pk.endrn
        WHERE nx.off = (SELECT min(n2.off) FROM m2 n2
                        WHERE {eq_n2pk} AND n2.off > pk.endrn)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           CAST(first_event_id AS BIGINT) AS first_event_id,
           CAST(last_event_id AS BIGINT) AS last_event_id,
           CAST(n_loop AS BIGINT) AS n_loop,
           CAST(n_skipped AS BIGINT) AS n_skipped,
           last_loop_value
    FROM pick"""
        numbering = "," + numbering
    if chain_mode:
        # greedy = the chain's deepest step per anchor (the recursion
        # is a single path per anchor, so max nq IS the chain end)
        cand_sql = f"""{chain_sql},
    m1 AS (
        SELECT {key}, off, currn AS endrn, nq AS n_loop,
               currn - off - nq AS n_skipped
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY {key}, off ORDER BY nq DESC) AS rr
              FROM chain) t
        WHERE rr = 1 AND nq >= {min_loop}
    )"""
    else:
        cand_sql = f"""
    cand AS (
        SELECT {c_key}, c.off, c.aval, c.ats,
               (SELECT max(r2.rn) FROM r r2
                WHERE {eq_r2c} AND r2.rn > c.off AND {qual}) AS lastrn,
               (SELECT count(*) FROM r r2
                WHERE {eq_r2c} AND r2.rn > c.off AND {qual}) AS nq
        FROM (SELECT {key}, rn AS off, v AS aval, {ts} AS ats
              FROM r WHERE oka) c
    ),
    m1 AS (
        SELECT {key}, off, lastrn AS endrn, nq AS n_loop,
               lastrn - off - nq AS n_skipped
        FROM cand
        WHERE lastrn IS NOT NULL AND nq >= {min_loop}
    )"""
    return f"""
    WITH RECURSIVE base_src AS (
        SELECT {key}, {ts}, {id_col}, {type_col}, {value_col},
               lag({value_col}) OVER ({order}) AS prev_v
        FROM ({inner})
    ),
    r AS (
        SELECT {key}, {ts}, {id_col},
               row_number() OVER w AS rn,
               CAST({value_col} AS DOUBLE) AS v,
               {a_sql} AS oka,
               {b_sql} AS okb
        FROM base_src
        WINDOW w AS ({order})
    ),
    {cand_sql},
    m2 AS (
        SELECT {m1_key}, m1.off, m1.endrn, m1.n_loop, m1.n_skipped,
               rf.{id_col} AS first_event_id,
               rl.{id_col} AS last_event_id,
               rl.v AS last_loop_value
        FROM m1
        JOIN r rf ON {eq_rfm} AND rf.rn = m1.off
        JOIN r rl ON {eq_rlm} AND rl.rn = m1.endrn
    ){numbering}
    """


# --------------------------------------------------------------------------
# Trailing notFollowedBy + within (round 12 — VERDICT r11 missing #3):
# Flink allows a pattern to END with notFollowedBy() only when a
# .within() bound closes it — the absence-at-pattern-end form ("view
# with NO purchase within 1 h") that is the single most common
# real-world absence query. The interior form (forbid sets BETWEEN
# variables) is match_recognize_relaxed_not above; this one guards the
# window AFTER the positive match completes.
# --------------------------------------------------------------------------


def match_recognize_not_followed_by_end(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    forbid,
    within_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink CEP's ``begin(...)...notFollowedBy(N).within(W)`` — a
    TRAILING absence constraint: the positive ``pattern`` (relaxed
    linking, whole-match within W — Flink's ``.within()`` spans the
    entire pattern) matches, and the match survives iff NO row of a
    ``forbid`` type occurs after the match's last consumed row and
    inside the window: ``last < f <= first_ts + W`` in the engine's
    (ts, id) order (closed upper bound, matching the within engine;
    at first_ts + W the NFA times out and the absence is confirmed —
    Flink emits such a match exactly when the window expires).

    Composition, not a new scan: the positive matches come from
    :func:`match_recognize_relaxed_within` (reduced data — one row
    per match), then one key-equi anti-join against the
    forbidden-type rows applies the absence window. At 100 TB the
    anti-join shuffles only the match set and the type-filtered
    forbidden rows, both far smaller than the corpus; the heavy scan
    remains the single-shuffle within engine. Documented deviation
    (shared with the whole relaxed family): a KILLED match's consumed
    rows are not re-admitted to later attempts.

    ``match_no`` is renumbered per key over the surviving matches (in
    original match order), so the output contract matches the other
    relaxed engines. Returns the relaxed measure set: ``key...,
    match_no, first_event_id, last_event_id, n_rows, n_skipped,
    n_<variable>...``.
    """
    ftypes = _types_of(forbid)
    if not ftypes:
        raise ValueError("forbid must name at least one event type")
    from pyspark.sql.window import Window

    keys = [key] if isinstance(key, str) else list(key)
    m = match_recognize_relaxed_within(
        events, pattern, within_minutes, key=key, ts=ts,
        type_col=type_col, id_col=id_col,
    )
    f_ids = events.select(
        *[F.col(k) for k in keys],
        F.col(id_col).alias("first_event_id"),
        F.col(ts).alias("_first_ts"),
    )
    l_ids = events.select(
        *[F.col(k) for k in keys],
        F.col(id_col).alias("last_event_id"),
        F.col(ts).alias("_last_ts"),
    )
    m = (
        m.join(f_ids, [*keys, "first_event_id"], "inner")
        .join(l_ids, [*keys, "last_event_id"], "inner")
    )
    forb = events.filter(F.col(type_col).isin(*ftypes)).select(
        *[F.col(k) for k in keys],
        F.col(ts).alias("_fts"),
        F.col(id_col).alias("_fid"),
    )
    kill = [m[k] == forb[k] for k in keys] + [
        (
            (F.col("_fts") > F.col("_last_ts"))
            | ((F.col("_fts") == F.col("_last_ts"))
               & (F.col("_fid") > F.col("last_event_id")))
        ),
        F.col("_fts") <= F.col("_first_ts")
        + F.expr(f"INTERVAL {int(within_minutes)} MINUTE"),
    ]
    cond = kill[0]
    for c in kill[1:]:
        cond = cond & c
    survived = m.join(forb, cond, "left_anti")
    renum = F.row_number().over(
        Window.partitionBy(*[survived[k] for k in keys])
        .orderBy(F.col("match_no"))
    )
    measure_cols = [
        c for c in survived.columns
        if c not in (*keys, "match_no", "_first_ts", "_last_ts")
    ]
    return survived.select(
        *[F.col(k) for k in keys],
        renum.cast("long").alias("match_no"),
        *[F.col(c) for c in measure_cols],
    )


def match_recognize_not_followed_by_end_oracle_sql(
    pattern,
    forbid,
    within_minutes: int,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying
    :func:`match_recognize_not_followed_by_end`: the relaxed-within
    oracle as a derived table, the same NOT EXISTS absence window
    ((ts, id)-ordered lower bound, closed upper bound), the same
    per-key renumbering."""
    keys = _key_list(key)
    key = ", ".join(keys)
    ftypes = _types_of(forbid)
    if not ftypes:
        raise ValueError("forbid must name at least one event type")
    inner = match_recognize_relaxed_within_oracle_sql(
        pattern, within_minutes, table=table, key=keys, ts=ts,
        type_col=type_col, id_col=id_col,
    )
    alts = ", ".join(f"'{t}'" for t in ftypes)
    var_cols = ", ".join(f"n_{var.lower()}" for var, _, _ in pattern)
    return f"""
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key} ORDER BY match_no)
                AS BIGINT) AS match_no,
           first_event_id, last_event_id, n_rows, n_skipped, {var_cols}
    FROM (
        SELECT m.*
        FROM ({inner}) m
        JOIN {table} ef ON {_key_eq('ef', 'm', keys)}
             AND ef.{id_col} = m.first_event_id
        JOIN {table} el ON {_key_eq('el', 'm', keys)}
             AND el.{id_col} = m.last_event_id
        WHERE NOT EXISTS (
            SELECT 1 FROM {table} f
            WHERE {_key_eq('f', 'm', keys)}
              AND f.{type_col} IN ({alts})
              AND (f.{ts} > el.{ts}
                   OR (f.{ts} = el.{ts} AND f.{id_col} > m.last_event_id))
              AND f.{ts} <= ef.{ts} + INTERVAL {int(within_minutes)} MINUTE
        )
    ) m
    """


def _validate_not_between(pattern, not_between) -> dict:
    """Plan-time rules for the interior non-consuming absence edges:
    each entry names a NON-LAST pattern variable (the edge runs from
    it to its successor; a trailing absence is
    :func:`match_recognize_not_followed_by_end`), both edge endpoints
    must be mandatory (min occurrences >= 1 — an absent optional has
    no boundary row), and forbid classes name their types directly
    (complement ('!') forbids rejected, mirroring _validate_not_next —
    _types_of would silently invert them)."""
    _validate_relaxed(pattern)
    if not not_between:
        raise ValueError("not_between must name at least one edge")
    names = [v for v, _, _ in pattern]
    edges = {}
    for var, forbid in not_between.items():
        if var not in names:
            raise ValueError(f"not_between names unknown variable {var!r}")
        i = names.index(var)
        if i == len(pattern) - 1:
            raise ValueError(
                f"not_between[{var!r}] targets the LAST variable — a "
                "trailing absence window has no successor row; use "
                "match_recognize_not_followed_by_end")
        if _var_negated(forbid):
            raise ValueError(
                f"not_between[{var!r}]: complement ('!') forbid classes "
                "are not supported — name the forbidden types directly")
        ftypes = _types_of(forbid)
        if not ftypes:
            raise ValueError(
                f"not_between[{var!r}] must name at least one event type")
        for j in (i, i + 1):
            if _quant_min(pattern[j][2]) < 1:
                raise ValueError(
                    f"not_between[{var!r}]: edge endpoint "
                    f"{pattern[j][0]!r} must be mandatory (min "
                    "occurrences >= 1) — an absent optional has no "
                    "boundary row for the absence window (Flink "
                    "itself forbids a NOT pattern preceded by an "
                    "optional; the successor-optional case would "
                    "need per-match boundary re-targeting across "
                    "absent variables, out of scope)")
        edges[i] = ftypes
    return edges


def match_recognize_not_followed_by_interior(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    not_between: dict,
    within_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Flink CEP's INTERIOR ``notFollowedBy`` under relaxed linking
    with a time bound (round 15 — VERDICT r14 missing #5, the last
    open absence cell): ``begin(A).notFollowedBy(F).followedBy(B)
    .within(W)`` — the positive relaxed pattern matches inside the
    window, and a match survives iff NO forbidden-type row falls
    STRICTLY BETWEEN the named variable's last consumed row and its
    successor's first admitted row, in the engine's (ts, id) order.
    ``not_between`` maps a variable name to the forbidden type class
    on its outgoing edge; multiple edges compose conjunctively.

    NON-CONSUMING check: the forbidden types never join the pattern
    alphabet — the positive scan skips them freely (they are 'z'
    rows), then the absence is applied post-hoc. This is observably
    different from the CONSUMING skip-class guard
    (:func:`match_recognize_relaxed_not`) exactly when forbid ∩ the
    successor's skip class ≠ ∅: the consuming guard kills the ATTEMPT
    at the anchor (the scan resumes past a different prefix, so later
    matches shift), while this form lets the attempt complete and
    kills only the match — the r14 notNext contrast, now on relaxed
    edges with a window.

    Composition, not a new scan (the trailing form's precedent,
    :func:`match_recognize_not_followed_by_end`): positives come from
    :func:`match_recognize_relaxed_within` with the edge-boundary ids
    exposed (``_edges`` hook — the ids fall out of the capture groups
    the within engine already re-extracts), then per edge one key-equi
    join pins the boundary timestamps and one anti-join against the
    type-filtered forbidden rows applies the strictly-between window.
    At 100 TB the anti-joins shuffle only the reduced match set and
    the type-filtered forbidden rows; the corpus is scanned once by
    the single-shuffle within engine. Documented deviation (whole
    relaxed family): a killed match's consumed rows are not
    re-admitted to later attempts.

    ``match_no`` is renumbered per key over survivors in original
    match order. Returns the relaxed measure set: ``key..., match_no,
    first_event_id, last_event_id, n_rows, n_skipped, n_<var>...``.

    Reference: /root/reference/README.md:1 (no reference code exists;
    semantics from the public Flink CEP Pattern-API docs)."""
    from pyspark.sql.window import Window

    edges = _validate_not_between(pattern, not_between)
    keys = [key] if isinstance(key, str) else list(key)
    m = match_recognize_relaxed_within(
        events, pattern, within_minutes, key=key, ts=ts,
        type_col=type_col, id_col=id_col, _edges=tuple(sorted(edges)),
    )
    for i, ftypes in sorted(edges.items()):
        lo = events.select(
            *[F.col(k) for k in keys],
            F.col(id_col).alias(f"_lo_id_e{i}"),
            F.col(ts).alias(f"_lo_ts_e{i}"),
        )
        hi = events.select(
            *[F.col(k) for k in keys],
            F.col(id_col).alias(f"_hi_id_e{i}"),
            F.col(ts).alias(f"_hi_ts_e{i}"),
        )
        m = (
            m.join(lo, [*keys, f"_lo_id_e{i}"], "inner")
            .join(hi, [*keys, f"_hi_id_e{i}"], "inner")
        )
        forb = events.filter(F.col(type_col).isin(*ftypes)).select(
            *[F.col(k) for k in keys],
            F.col(ts).alias("_fts"),
            F.col(id_col).alias("_fid"),
        )
        cond = m[keys[0]] == forb[keys[0]]
        for k in keys[1:]:
            cond = cond & (m[k] == forb[k])
        cond = cond & (
            (F.col("_fts") > F.col(f"_lo_ts_e{i}"))
            | ((F.col("_fts") == F.col(f"_lo_ts_e{i}"))
               & (F.col("_fid") > F.col(f"_lo_id_e{i}")))
        ) & (
            (F.col("_fts") < F.col(f"_hi_ts_e{i}"))
            | ((F.col("_fts") == F.col(f"_hi_ts_e{i}"))
               & (F.col("_fid") < F.col(f"_hi_id_e{i}")))
        )
        m = m.join(forb, cond, "left_anti")
    renum = F.row_number().over(
        Window.partitionBy(*[m[k] for k in keys]).orderBy(F.col("match_no"))
    )
    drop = {c for i in edges
            for c in (f"_lo_id_e{i}", f"_lo_ts_e{i}",
                      f"_hi_id_e{i}", f"_hi_ts_e{i}")}
    measure_cols = [c for c in m.columns
                    if c not in (*keys, "match_no") and c not in drop]
    return m.select(
        *[F.col(k) for k in keys],
        renum.cast("long").alias("match_no"),
        *[F.col(c) for c in measure_cols],
    )


def match_recognize_not_followed_by_interior_oracle_sql(
    pattern,
    not_between: dict,
    within_minutes: int,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB SQL replaying
    :func:`match_recognize_not_followed_by_interior`: the relaxed-
    within oracle extended with the same capture-group boundary-id
    extraction, per-edge boundary-row joins, the same strictly-between
    (ts, id)-ordered NOT EXISTS per edge, the same renumbering."""
    keys = _key_list(key)
    key = ", ".join(keys)
    edges = _validate_not_between(pattern, not_between)
    inner = match_recognize_relaxed_within_oracle_sql(
        pattern, within_minutes, table=table, key=keys, ts=ts,
        type_col=type_col, id_col=id_col, _edges=tuple(sorted(edges)),
    )
    var_cols = ", ".join(f"n_{var.lower()}" for var, _, _ in pattern)
    joins = "".join(
        f"""
        JOIN {table} lo{i} ON {_key_eq(f'lo{i}', 'm', keys)}
             AND lo{i}.{id_col} = m._lo_id_e{i}
        JOIN {table} hi{i} ON {_key_eq(f'hi{i}', 'm', keys)}
             AND hi{i}.{id_col} = m._hi_id_e{i}"""
        for i in sorted(edges)
    )
    absent = " AND ".join(
        f"""NOT EXISTS (
            SELECT 1 FROM {table} f
            WHERE {_key_eq('f', 'm', keys)}
              AND f.{type_col} IN ({', '.join(f"'{t}'" for t in ftypes)})
              AND (f.{ts} > lo{i}.{ts}
                   OR (f.{ts} = lo{i}.{ts} AND f.{id_col} > m._lo_id_e{i}))
              AND (f.{ts} < hi{i}.{ts}
                   OR (f.{ts} = hi{i}.{ts} AND f.{id_col} < m._hi_id_e{i}))
        )"""
        for i, ftypes in sorted(edges.items())
    )
    return f"""
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key} ORDER BY match_no)
                AS BIGINT) AS match_no,
           first_event_id, last_event_id, n_rows, n_skipped, {var_cols}
    FROM (
        SELECT m.*
        FROM ({inner}) m{joins}
        WHERE {absent}
    ) m
    """


# --------------------------------------------------------------------------
# RUNNING vs FINAL measures in ALL ROWS PER MATCH output + SUBSET union
# variables (round 12 — VERDICT r11 missing #2): SQL:2016's per-row
# measure semantics. In ALL ROWS PER MATCH, RUNNING aggregates see the
# matched rows UP TO the current output row (in match order) while
# FINAL aggregates see the whole match on every row; SUBSET U = (A, B)
# defines a union variable measures can aggregate over. Flink SQL
# users hit RUNNING in every ALL-ROWS example.
# --------------------------------------------------------------------------


def _validate_subsets(pattern, subsets: dict) -> dict:
    vars_ = {v for v, _, _ in pattern}
    out = {}
    for name, members in (subsets or {}).items():
        if not (isinstance(name, str) and name.isidentifier()):
            raise ValueError(f"subset name {name!r} must be an identifier")
        if name in vars_:
            raise ValueError(
                f"subset {name!r} collides with a pattern variable")
        mem = (members,) if isinstance(members, str) else tuple(members)
        unknown = set(mem) - vars_
        if unknown:
            raise ValueError(
                f"subset {name!r}: unknown variables {sorted(unknown)}")
        if not mem:
            raise ValueError(f"subset {name!r}: empty member list")
        out[name] = mem
    return out


def match_recognize_all_rows_running(
    events: DataFrame,
    pattern: list[tuple[str, str, str]],
    subsets: dict[str, tuple] | None = None,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    engine: str = "types",
) -> DataFrame:
    """ALL ROWS PER MATCH with SQL:2016 RUNNING and FINAL measures and
    SUBSET union variables (round 12): per output row,
    ``running_cnt``/``running_sum``/``running_avg`` aggregate the
    matched rows up to and including the current row in match order
    (RUNNING semantics — the default inside MEASURES in ALL ROWS
    mode), ``final_cnt``/``final_sum`` aggregate the whole match on
    every row (FINAL). Each SUBSET ``name -> (vars...)`` adds
    ``n_<name>_running`` (RUNNING COUNT(name.*)) and
    ``sum_<name>_final`` (FINAL SUM(name.value)) — classifier-based
    union-variable aggregation.

    Lowering: the ALL ROWS decode (one shuffle, per-variable capture
    groups), one key-equi join back to the input for the measured
    value (matched rows only — reduced data), then ONE window
    partitioned by (key, match_no): RUNNING = ROWS UNBOUNDED
    PRECEDING..CURRENT ROW ordered by row_in_match, FINAL = the whole
    partition. Sums go through the engine's dsum discipline
    (DECIMAL(18,2) exact accumulation) so partition order can never
    produce a float mismatch vs the oracle; running_avg divides the
    two deterministic prefix aggregates. Match partitions are
    match-sized, so no single-partition hazard at any scale.

    ``engine='define'`` (round 12b) runs the same measure composition
    over the PREV/NEXT DEFINE engine's ALL ROWS decode
    (:func:`match_recognize_define_all_rows` — identical output
    contract), so RUNNING/FINAL + SUBSET cover both ALL-ROWS engines.
    """
    from pyspark.sql.window import Window

    if engine not in ("types", "define"):
        raise ValueError("engine must be 'types' or 'define'")
    if engine == "define":
        _validate_defines(pattern)
        subsets = _validate_subsets(pattern, subsets)
        rows = match_recognize_define_all_rows(
            events, pattern, key=key, ts=ts, type_col=type_col,
            id_col=id_col, value_col=value_col,
        )
    else:
        _validate(pattern)
        subsets = _validate_subsets(pattern, subsets)
        rows = match_recognize_all_rows(
            events, pattern, key=key, ts=ts, type_col=type_col,
            id_col=id_col,
        )
    keys = [key] if isinstance(key, str) else list(key)
    vals = events.select(
        *[F.col(k) for k in keys],
        F.col(id_col).alias("event_id"),
        F.col(value_col).cast("double").alias("value"),
    )
    j = rows.join(vals, [*keys, "event_id"], "inner")
    w_run = (
        Window.partitionBy(*keys, "match_no")
        .orderBy("row_in_match")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fin = Window.partitionBy(*keys, "match_no")

    def dsum_over(col, w):
        return F.sum(col.cast("decimal(18,2)")).over(w).cast("double")

    running_cnt = F.count(F.lit(1)).over(w_run).cast("long")
    running_sum = dsum_over(F.col("value"), w_run)
    final_cnt = F.count(F.lit(1)).over(w_fin).cast("long")
    final_sum = dsum_over(F.col("value"), w_fin)
    subset_cols = []
    for name, mem in subsets.items():
        flag = F.col("classifier").isin(*mem)
        subset_cols.append(
            F.sum(F.when(flag, 1).otherwise(0)).over(w_run)
            .cast("long").alias(f"n_{name}_running"))
        subset_cols.append(
            dsum_over(F.when(flag, F.col("value")), w_fin)
            .alias(f"sum_{name}_final"))
    return j.select(
        *[F.col(k) for k in keys],
        "match_no", "row_in_match", "classifier", "event_id", "value",
        running_cnt.alias("running_cnt"),
        running_sum.alias("running_sum"),
        (running_sum / running_cnt).alias("running_avg"),
        final_cnt.alias("final_cnt"),
        final_sum.alias("final_sum"),
        *subset_cols,
    )


def match_recognize_all_rows_running_oracle_sql(
    pattern,
    subsets: dict[str, tuple] | None = None,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    engine: str = "types",
) -> str:
    """DuckDB SQL replaying :func:`match_recognize_all_rows_running`:
    the ALL ROWS oracle (type or DEFINE engine, matching ``engine``)
    as a derived table, the same value join, and the same RUNNING
    (ROWS UNBOUNDED PRECEDING) / FINAL (whole partition) windows with
    DECIMAL(18,2) exact sums."""
    if engine not in ("types", "define"):
        raise ValueError("engine must be 'types' or 'define'")
    if engine == "define":
        _validate_defines(pattern)
        subsets = _validate_subsets(pattern, subsets)
        inner = match_recognize_define_all_rows_oracle_sql(
            pattern, table=table, key=key, ts=ts, type_col=type_col,
            id_col=id_col, value_col=value_col,
        )
        return _all_rows_running_tail(inner, subsets, table, key, ts,
                                      id_col, value_col)
    _validate(pattern)
    subsets = _validate_subsets(pattern, subsets)
    inner = match_recognize_all_rows_oracle_sql(
        pattern, table=table, key=key, ts=ts, type_col=type_col,
        id_col=id_col,
    )
    return _all_rows_running_tail(inner, subsets, table, key, ts,
                                  id_col, value_col)


def _all_rows_running_tail(inner: str, subsets: dict, table: str,
                           key: str, ts: str, id_col: str,
                           value_col: str) -> str:
    """Shared value-join + RUNNING/FINAL window tail over any ALL ROWS
    oracle (type or DEFINE engine — identical output contract)."""
    keys = _key_list(key)
    key = ", ".join(keys)
    run = (f"PARTITION BY {key}, match_no ORDER BY row_in_match "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    fin = f"PARTITION BY {key}, match_no"
    subset_sql = []
    for name, mem in subsets.items():
        alts = ", ".join(f"'{v}'" for v in mem)
        subset_sql.append(
            f"CAST(SUM(CASE WHEN classifier IN ({alts}) THEN 1 ELSE 0 END)"
            f" OVER ({run}) AS BIGINT) AS n_{name}_running")
        subset_sql.append(
            f"CAST(SUM(CASE WHEN classifier IN ({alts}) THEN "
            f"CAST(value AS DECIMAL(18,2)) END) OVER ({fin}) AS DOUBLE)"
            f" AS sum_{name}_final")
    extra = (",\n           " + ",\n           ".join(subset_sql)
             if subset_sql else "")
    return f"""
    SELECT {key}, match_no, row_in_match, classifier, event_id, value,
           CAST(COUNT(*) OVER ({run}) AS BIGINT) AS running_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER ({run}) AS DOUBLE)
               AS running_sum,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER ({run}) AS DOUBLE)
               / CAST(COUNT(*) OVER ({run}) AS BIGINT) AS running_avg,
           CAST(COUNT(*) OVER ({fin}) AS BIGINT) AS final_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER ({fin}) AS DOUBLE)
               AS final_sum{extra}
    FROM (
        SELECT m.*, CAST(e.{value_col} AS DOUBLE) AS value
        FROM ({inner}) m
        JOIN {table} e ON {_key_eq('e', 'm', keys)} AND e.{id_col} = m.event_id
    ) jm
    """


# --- per-edge WITHIN: Flink 1.18 WithinType.PREVIOUS_AND_CURRENT ----------

def _validate_within_step(pattern) -> None:
    """Scope rules for the per-edge within engine: at least two
    variables, every quantifier '1' (single occurrence — the form
    where Flink's per-edge bound is exactly one inter-event gap per
    edge; quantified loops would need a bound INSIDE the loop, a
    different lowering), unique names. Types may be positive or
    complement classes IN ANY POSITION — including a complement FIRST
    variable, which the token-scan engines must reject (their
    unanchored scan needs a positive first atom) but the pointer
    lowering anchors at a concrete row, so no such restriction
    applies."""
    if not pattern:
        raise ValueError("pattern needs at least one variable")
    seen = set()
    for var, etype, _ in pattern:
        if var in seen:
            raise ValueError(f"duplicate pattern variable {var!r}")
        if not _types_of(etype):
            raise ValueError(
                f"variable {var!r} needs at least one event type")
        seen.add(var)
    if len(pattern) < 2:
        raise ValueError(
            "per-edge within needs at least two variables (the bound "
            "constrains an EDGE — with one variable there is none)")
    for var, _, quant in pattern:
        if quant != "1":
            raise ValueError(
                f"variable {var!r}: per-edge within supports "
                "single-occurrence variables only (quantifier '1'); "
                "a bound inside a quantified loop is a different "
                "lowering (whole-pattern within covers it)")


def _validate_within_step_links(pattern, links) -> frozenset:
    """links= for the per-edge within engine (round 14): strict
    next() edges named by their TARGET variable — must be non-first
    pattern variables. Returns the 1-based pattern indexes whose
    incoming edge is strict."""
    if not links:
        return frozenset()
    names = [v for v, _, _ in pattern]
    out = set()
    for var in links:
        if var not in names:
            raise ValueError(f"links names unknown variable {var!r}")
        if names.index(var) == 0:
            raise ValueError(
                f"links target {var!r} is the FIRST variable — it has "
                "no incoming edge to make strict")
        out.add(names.index(var))
    return frozenset(out)


def _step_pred(etype, type_col: str):
    """Boolean admit predicate for one within-step variable."""
    from pyspark.sql import functions as F

    types = _types_of(etype)
    col = F.col(type_col).isin(*types)
    return ~col if _var_negated(etype) else col


def _step_pred_sql(etype, type_col: str) -> str:
    alts = ", ".join(f"'{t}'" for t in _types_of(etype))
    if _var_negated(etype):
        return f"({type_col} NOT IN ({alts}))"
    return f"({type_col} IN ({alts}))"


def match_recognize_within_step(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    within_minutes: int,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    skip: str = "past_last_row",
    max_key_rows: int | None = None,
    links: set | frozenset | None = None,
) -> DataFrame:
    """Per-edge WITHIN under relaxed linking — Flink 1.18's
    ``pattern.within(Time.minutes(w), WithinType.PREVIOUS_AND_CURRENT)``
    (round 13 — VERDICT r12 next #3): the time bound applies between
    CONSECUTIVE matched events, not the whole pattern. Each variable
    (quantifier '1', positive or complement class) is linked to its
    predecessor by followedBy; under skip-till-next the step's matched
    row is the FIRST admitting row after the previous matched row, and
    the partial match DIES when that row lies beyond
    ``prev_ts + within`` (timestamps are monotone along the scan, so a
    later admitting row can never resurrect it — exactly Flink's
    timer-pruned NFA). ONE ROW PER MATCH; AFTER MATCH SKIP PAST LAST
    ROW (default) or 'to_next_row' (every anchored attempt emits).

    Lowering — the fully LINEAR flat form (no per-anchor scan at all,
    hence no hot-key gate): for each non-first variable a
    NEXT-OCCURRENCE POINTER (min admitting row number strictly after
    the row — spelled as a GROWING ``(unboundedPreceding, -1)`` frame
    over the REVERSED order, which WindowExec processes incrementally;
    the literal ``(1 FOLLOWING, UNBOUNDED FOLLOWING)`` frame rescans
    the tail per row, O(rows²) per key — measured 204s vs 2s at 100k
    rows one key) rides the single per-key shuffle; a match attempt at
    an anchor is then a fixed k-1-step pointer chase with one
    closed-boundary timestamp comparison per edge — O(1) per anchor,
    O(n log n) per key overall.
    This is the hot-key-safe deployment shape the whole-pattern
    ``within`` engines cannot reach (their eligible run is a regex
    scan); the per-edge bound also caps each skip gap by construction.
    COMPUTE is linear, but like every flat form the key's rows are
    collected into one array row, so per-key EXECUTOR MEMORY is
    O(rows). Measured (HOTKEY.json ``within_step_flat``, r15 re-run
    after flattening the per-row pointer array into scalar struct
    fields — one fewer heap object per collected row): near-linear
    through 200k rows one key (0.6→3.4s), COMPLETES at 1M (69s, down
    from 86s pre-shave; match counts exactly linear — no dropped
    work) but the per-row cost still inflates ~4× there: the single
    collected struct array's allocation/GC remains the memory term
    ADVICE r13 flagged — it is the array ROW itself, not the field
    layout. Past ~200k rows/key pass ``max_key_rows`` to fail fast
    (default None = ungated) or deploy a sessionized composition.
    The DuckDB oracle replays the identical pointer chain as k-1
    self-equi-joins plus the shared recursive non-overlap fold.

    ``links`` (round 14 — the mixed-linking composition VERDICT r13
    next #9 asked the fuzz matrix to cover): a set of non-first
    variable names whose edge from the previous variable is Flink's
    strict ``next()`` — the step's pointer is then "row prev+1 IF it
    admits" (one ``lead`` of the admit flag) instead of the
    next-occurrence suffix-min, with the SAME per-edge time bound
    (Flink 1.18 applies PREVIOUS_AND_CURRENT to every edge kind).
    Composes with both skip modes; still fully linear.

    Precondition: (ts, id) unique per key (array_sort positional
    alignment, as in :func:`match_recognize_runagg`).

    Returns ``key..., match_no, first_event_id, last_event_id,
    n_rows (rows consumed = len(pattern)), n_skipped (rows inside the
    span the match skipped over)``.

    Semantics source: Flink 1.18 release notes / CEP docs,
    ``WithinType.PREVIOUS_AND_CURRENT`` (public docs, per SURVEY §0).
    The boundary is CLOSED (a row at exactly prev_ts + within is
    eligible), matching the whole-pattern engines' convention.
    """
    from pyspark.sql.window import Window

    _validate_within_step(pattern)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    strict = _validate_within_step_links(pattern, links)
    keys = [key] if isinstance(key, str) else list(key)
    k = len(pattern)
    win = F.expr(f"INTERVAL {int(within_minutes)} MINUTES")

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    w_desc = Window.partitionBy(*keys).orderBy(
        F.col(ts).desc(), F.col(id_col).desc()
    )
    rn = F.row_number().over(w)
    # next-occurrence pointer = min admitting rn STRICTLY AFTER the
    # row. Spark evaluates a (1, unboundedFollowing) frame by
    # RESCANNING the tail per row — O(rows²) per key (measured: 7s at
    # 20k -> 204s at 100k on one hot key before this form) — so the
    # suffix-min is spelled as a GROWING frame over the REVERSED
    # order ((unboundedPreceding, -1) on ts DESC ≡ strictly-after on
    # ts ASC), which WindowExec processes incrementally: O(n log n)
    # per key, the linear curve HOTKEY.json records. Same single
    # shuffle — both windows hash-partition on the key; the second
    # ORDER BY adds one partition-local sort.
    # strict (links=) edges replace the suffix-min with "row rn+1 IF
    # it admits" — one lead of the admit flag, same single shuffle.
    nxt_cols = [
        F.when(
            F.lead(_step_pred(etype, type_col), 1).over(w), rn + 1
        ).cast("long")
        if i in strict
        else F.min(F.when(_step_pred(etype, type_col), rn)).over(
            w_desc.rowsBetween(Window.unboundedPreceding, -1)
        ).cast("long")
        for i, (_, etype, _) in enumerate(pattern[1:], start=1)
    ]
    # r15 memory shave (VERDICT r14 next #7): the pointers ride as
    # k-1 FLAT long fields instead of one nested array<long> — a
    # nested ArrayData per collected row was one extra heap object
    # per row in the single O(rows)-per-key array, the dominant GC
    # term of the 1M-row HOTKEY measurement. Struct sort order is
    # unchanged (ts, id lead the field list).
    rows = events.select(
        *[F.col(c) for c in keys],
        F.struct(
            F.col(ts).alias("ts"),
            F.col(id_col).alias("id"),
            _step_pred(pattern[0][1], type_col).alias("p0"),
            *[col.alias(f"n{i}") for i, col in enumerate(nxt_cols, start=1)],
        ).alias("t"),
    )
    grouped = rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("t")).alias("arr")
    )
    if max_key_rows is not None:
        # memory gate, not a compute gate (ADVICE r13): the pointer
        # chase is linear, but the collected array is O(rows) per-key
        # executor memory; fail fast past the caller's bound.
        chk = F.assert_true(
            F.size(F.col("arr")) <= F.lit(int(max_key_rows)),
            F.lit(
                "per-key rows exceed max_key_rows for the flat "
                "within_step form: compute is linear but the key's "
                "rows live in ONE collected array (O(rows) executor "
                "memory; HOTKEY.json: near-linear to 200k, ~5x "
                "per-row GC inflation at 1M) — deploy a sessionized "
                "composition or raise the bound"
            ),
        )
        grouped = grouped.withColumn(
            "arr", F.when(chk.isNull(), F.col("arr"))
        )
    arr = F.col("arr")
    n = F.size(arr)

    def cand(j):
        prev = j.cast("long")
        ok = F.lit(True)
        for i in range(1, k):
            cur = F.try_element_at(arr, prev.cast("int"))
            nxt = cur[f"n{i}"]
            nrow = F.try_element_at(arr, nxt.cast("int"))
            ok = ok & nxt.isNotNull() & (nrow["ts"] <= cur["ts"] + win)
            prev = nxt
        return F.struct(
            j.cast("long").alias("off"),
            prev.alias("end"),
            F.coalesce(ok, F.lit(False)).alias("valid"),
        )

    anchors = F.filter(
        F.sequence(F.lit(1), n),
        lambda j: F.element_at(arr, j.cast("int"))["p0"],
    )
    cands = F.filter(F.transform(anchors, cand), lambda c: c["valid"])
    if skip == "past_last_row":
        init = F.expr(
            "named_struct('p', CAST(1 AS BIGINT), 'sel', CAST(array() AS "
            "array<struct<off:bigint,end:bigint,valid:boolean>>))"
        )
        sel = F.aggregate(
            cands,
            init,
            lambda acc, c: F.when(
                c["off"] >= acc["p"],
                F.struct(
                    (c["end"] + 1).alias("p"),
                    F.concat(acc["sel"], F.array(c)).alias("sel"),
                ),
            ).otherwise(acc),
        )["sel"]
    else:
        sel = cands
    out = grouped.select(
        *[F.col(c) for c in keys],
        arr,
        F.posexplode(sel),
    )
    c = F.col("col")
    return out.select(
        *[F.col(col) for col in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.element_at(arr, c["off"].cast("int"))["id"].alias("first_event_id"),
        F.element_at(arr, c["end"].cast("int"))["id"].alias("last_event_id"),
        F.lit(k).cast("long").alias("n_rows"),
        (c["end"] - c["off"] + 1 - k).cast("long").alias("n_skipped"),
    )


def match_recognize_within_step_oracle_sql(
    pattern: list[tuple[str, object, str]],
    within_minutes: int,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    skip: str = "past_last_row",
    links: set | frozenset | None = None,
) -> str:
    """DuckDB replay of :func:`match_recognize_within_step`: the same
    next-occurrence suffix-min pointers (``min(CASE WHEN pred THEN rn
    END) OVER (... ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED
    FOLLOWING)`` — fine HERE: DuckDB evaluates window aggregates with
    segment trees, so the literal frame is O(n log n), unlike Spark's
    per-row rescan that forced the engine's reversed-frame form), the
    pointer chain as k-1 self-equi-joins with one
    closed-boundary interval comparison per edge, then either per-key
    offset numbering (to_next_row) or the shared recursive
    non-overlap fold (past_last_row)."""
    _validate_within_step(pattern)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    strict = _validate_within_step_links(pattern, links)
    klist = _key_list(key)
    key = ", ".join(klist)
    k = len(pattern)
    inner = f"SELECT * FROM {table}"
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    nxt_sql = ",\n               ".join(
        (
            f"CAST(CASE WHEN lead({_step_pred_sql(etype, type_col)}, 1)"
            f" OVER ({order}) THEN rn + 1 END AS BIGINT) AS nxt{i + 1}"
        )
        if i + 1 in strict
        else (
            f"CAST(min(CASE WHEN {_step_pred_sql(etype, type_col)} THEN rn END)"
            f" OVER ({order} "
            "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT)"
            f" AS nxt{i + 1}"
        )
        for i, (_, etype, _) in enumerate(pattern[1:])
    )
    joins = []
    for i in range(1, k):
        eq_k = " AND ".join(f"r{i}.{c} = r{i - 1}.{c}" for c in klist)
        joins.append(
            f"JOIN r r{i} ON {eq_k} AND r{i}.rn = r{i - 1}.nxt{i}\n"
            f"             AND r{i}.{ts} <= r{i - 1}.{ts} + "
            f"INTERVAL {int(within_minutes)} MINUTE"
        )
    join_sql = "\n        ".join(joins)
    r0_key = ", ".join(f"r0.{c}" for c in klist)
    eq_c2c = " AND ".join(f"c2.{c} = c.{c}" for c in klist)
    eq_nxpk = " AND ".join(f"nx.{c} = pk.{c}" for c in klist)
    eq_n2pk = " AND ".join(f"n2.{c} = pk.{c}" for c in klist)
    nx_key = ", ".join(f"nx.{c}" for c in klist)
    if skip == "to_next_row":
        numbering = f"""
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key} ORDER BY off)
                AS BIGINT) AS match_no,
           first_event_id, last_event_id, n_rows, n_skipped
    FROM cand"""
    else:
        numbering = f""",
    pick AS (
        SELECT {key}, off, endrn, first_event_id, last_event_id,
               n_rows, n_skipped, 1 AS match_no
        FROM cand c
        WHERE off = (SELECT min(off) FROM cand c2 WHERE {eq_c2c})
      UNION ALL
        SELECT {nx_key}, nx.off, nx.endrn, nx.first_event_id,
               nx.last_event_id, nx.n_rows, nx.n_skipped, pk.match_no + 1
        FROM pick pk JOIN cand nx
             ON {eq_nxpk} AND nx.off > pk.endrn
        WHERE nx.off = (SELECT min(n2.off) FROM cand n2
                        WHERE {eq_n2pk} AND n2.off > pk.endrn)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           first_event_id, last_event_id, n_rows, n_skipped
    FROM pick"""
    return f"""
    WITH RECURSIVE rbase AS (
        SELECT {key}, {ts}, {id_col}, {type_col},
               CAST(row_number() OVER ({order}) AS BIGINT) AS rn
        FROM ({inner})
    ),
    r AS (
        SELECT {key}, {ts}, {id_col}, rn,
               {_step_pred_sql(pattern[0][1], type_col)} AS p0,
               {nxt_sql}
        FROM rbase
    ),
    cand AS (
        SELECT {r0_key}, r0.rn AS off, r{k - 1}.rn AS endrn,
               CAST(r0.{id_col} AS BIGINT) AS first_event_id,
               CAST(r{k - 1}.{id_col} AS BIGINT) AS last_event_id,
               CAST({k} AS BIGINT) AS n_rows,
               CAST(r{k - 1}.rn - r0.rn + 1 - {k} AS BIGINT) AS n_skipped
        FROM r r0
        {join_sql}
        WHERE r0.p0
    ){numbering}
    """


# --- trailing notNext: Flink's non-consuming strict absence at END ------

def match_recognize_not_next_end(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    forbid,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    skip: str = "past_last_row",
) -> DataFrame:
    """Flink's trailing ``notNext(X)`` — a NON-CONSUMING strict
    absence at pattern END (round 13): ``begin(V).next(C).next(P)
    .notNext(X)`` matches V C P on ADJACENT rows iff the row
    IMMEDIATELY following P is not of a forbidden type; the witness
    row is NOT part of the match (it may anchor the next one) —
    the semantic contrast to this engine family's complement classes,
    which implement the CONSUMING form (the negative row joins the
    match span). An absent successor (end of the key partition)
    confirms the absence, exactly as batch end-of-input closes
    Flink's pending negative state.

    Scope: interior variables single-occurrence (quantifier '1',
    positive or complement classes — adjacency fixes the match
    shape); the LAST variable may carry a quantifier with min >= 1
    ('+', '{m,}', '{m,n}') — GENERALIZED in round 16 (VERDICT r15
    missing #4): the trailing run is the MAXIMAL adjacent run (the
    runagg greedy-end tabulation — the strict engine's one-match-per-
    anchor greedy discipline; under Flink's all-branch-lengths
    oneOrMore emission this is the deterministic greedy projection,
    the same narrowing greedy_pattern documents), truncated to n for
    bounded {m,n}, and the absence check applies to the row
    immediately after the TABULATED RUN END — no giveback: a
    forbidden successor kills the anchor rather than shortening the
    run (shortening would make the "next row" a run-class row and
    the absence vacuous whenever forbid ∩ run-class = ∅).

    Lowering — fully LINEAR, no per-key collect of raw rows: per row,
    ``lead``-shifted admit flags conjoin into one anchor predicate;
    for the single-occurrence tail the absence check is
    ``lead(type, k)`` ∉ forbid (NULL = end of partition = absent =
    confirmed); for a quantified tail the maximal-run length is ONE
    next-non-run-row pointer (the runagg tabulation: a reversed-frame
    min over the complement class), and one match-count-sized
    equi-join on (keys, run-end rn) fetches the run end's id and
    successor type. AFTER MATCH: candidates overlap, so
    'past_last_row' runs the family's non-overlap fold over per-key
    candidate (offset, end) structs (match-count-sized state);
    'to_next_row' emits every anchor. One shuffle plus the
    candidate-sized join, zero Python.

    Returns ``key..., match_no, first_event_id, last_event_id,
    n_rows`` (= len(pattern) for single-occurrence tails, prefix
    length + tabulated run length otherwise).
    Semantics source: Flink CEP Pattern API ``notNext`` (public docs,
    per SURVEY §0).
    """
    from pyspark.sql.window import Window

    if not pattern:
        raise ValueError("pattern needs at least one variable")
    seen = set()
    for i, (var, etype, quant) in enumerate(pattern):
        if var in seen:
            raise ValueError(f"duplicate pattern variable {var!r}")
        if not _types_of(etype):
            raise ValueError(
                f"variable {var!r} needs at least one event type")
        if quant != "1" and i < len(pattern) - 1:
            raise ValueError(
                f"variable {var!r}: trailing notNext supports "
                "single-occurrence variables at interior positions "
                "(quantifier '1') — only the LAST variable may carry "
                "a quantifier (the tabulated-run form)")
        seen.add(var)
    tail_quant = pattern[-1][2]
    if tail_quant != "1":
        t_lo, t_hi, t_lazy = _quant_parse(tail_quant)
        if t_lazy or t_lo < 1:
            raise ValueError(
                f"variable {pattern[-1][0]!r}: a quantified trailing "
                f"notNext target needs a greedy min>=1 quantifier "
                f"('+', '{{m,}}', '{{m,n}}') — got {tail_quant!r}; a "
                "zero-min run would move the absence check to the "
                "anchor itself")
    ftypes = _types_of(forbid)
    if not ftypes:
        raise ValueError("forbid must name at least one event type")
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    keys = [key] if isinstance(key, str) else list(key)
    k = len(pattern)

    if tail_quant != "1":
        return _not_next_end_quantified(
            events, pattern, ftypes, t_lo, t_hi, keys, ts, type_col,
            id_col, skip)

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    ok = _step_pred(pattern[0][1], type_col)
    for i, (_, etype, _) in enumerate(pattern[1:], start=1):
        ok = ok & F.coalesce(
            F.lead(_step_pred(etype, type_col), i).over(w), F.lit(False)
        )
    nxt_t = F.lead(type_col, k).over(w)
    absent = nxt_t.isNull() | ~nxt_t.isin(*ftypes)
    rn = F.row_number().over(w)
    last_id = F.lead(id_col, k - 1).over(w)
    cands = events.select(
        *[F.col(c) for c in keys],
        F.struct(
            rn.cast("long").alias("off"),
            F.col(id_col).alias("first_event_id"),
            last_id.alias("last_event_id"),
        ).alias("c"),
        (F.coalesce(ok, F.lit(False)) & absent).alias("valid"),
    ).filter(F.col("valid"))
    if skip == "to_next_row":
        w_no = Window.partitionBy(*keys).orderBy(F.col("c")["off"])
        return cands.select(
            *[F.col(c) for c in keys],
            F.row_number().over(w_no).cast("long").alias("match_no"),
            F.col("c")["first_event_id"].alias("first_event_id"),
            F.col("c")["last_event_id"].alias("last_event_id"),
            F.lit(k).cast("long").alias("n_rows"),
        )
    grouped = cands.groupBy(*keys).agg(
        F.array_sort(F.collect_list("c")).alias("l")
    )
    init = F.expr(
        "named_struct('p', CAST(1 AS BIGINT), 'sel', CAST(array() AS "
        "array<struct<off:bigint,first_event_id:bigint,"
        "last_event_id:bigint>>))"
    )
    sel = F.aggregate(
        F.col("l"),
        init,
        lambda acc, c: F.when(
            c["off"] >= acc["p"],
            F.struct(
                (c["off"] + F.lit(k)).alias("p"),
                F.concat(acc["sel"], F.array(c)).alias("sel"),
            ),
        ).otherwise(acc),
    )["sel"]
    return grouped.select(
        *[F.col(c) for c in keys],
        F.posexplode(sel),
    ).select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.col("col")["first_event_id"].alias("first_event_id"),
        F.col("col")["last_event_id"].alias("last_event_id"),
        F.lit(k).cast("long").alias("n_rows"),
    )


def _not_next_end_quantified(
    events, pattern, ftypes, t_lo, t_hi, keys, ts, type_col, id_col,
    skip,
):
    """The quantified-tail lowering for
    :func:`match_recognize_not_next_end` (round 16): prefix flags as
    lead conjunctions, the maximal adjacent run via ONE
    next-non-run-row pointer, the absence + run-end fetch as one
    candidate-sized (keys, rn) equi-join, and the shared (off, end)
    non-overlap fold."""
    from pyspark.sql.window import Window

    k1 = len(pattern) - 1  # single-occurrence prefix length
    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    w_desc = Window.partitionBy(*keys).orderBy(
        F.col(ts).desc(), F.col(id_col).desc())
    pred_run = _step_pred(pattern[-1][1], type_col)
    rn = F.row_number().over(w)
    key_rows = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    # first non-run row at or after the current row (the runagg
    # tabulation pointer); partition end -> sentinel max_rn + 1
    nxt_nonrun = F.coalesce(
        F.min(F.when(~pred_run, rn)).over(
            w_desc.rowsBetween(Window.unboundedPreceding, 0)),
        key_rows + 1,
    )
    ok = F.lit(True)
    for i, (_, etype, _) in enumerate(pattern[:-1]):
        p = _step_pred(etype, type_col)
        ok = ok & (p if i == 0
                   else F.coalesce(F.lead(p, i).over(w), F.lit(False)))
    start_nonb = (nxt_nonrun if k1 == 0
                  else F.lead(nxt_nonrun, k1).over(w))
    run_len = start_nonb - (rn + k1)
    taken = run_len if t_hi is None else F.least(run_len,
                                                 F.lit(t_hi))
    cand = events.select(
        *[F.col(c) for c in keys],
        rn.cast("long").alias("off"),
        F.col(id_col).alias("first_event_id"),
        (rn + k1 + taken - 1).cast("long").alias("endrn"),
        (F.lit(k1) + taken).cast("long").alias("n_rows"),
        (ok & (run_len >= t_lo)).alias("valid"),
    ).filter("valid").drop("valid")
    side = events.select(
        *[F.col(c).alias(f"_s{j}") for j, c in enumerate(keys)],
        rn.cast("long").alias("_ern"),
        F.col(id_col).alias("last_event_id"),
        F.lead(type_col, 1).over(w).alias("_nxt_t"),
    )
    cond = F.col("endrn") == F.col("_ern")
    for j, c in enumerate(keys):
        cond = cond & (F.col(f"_s{j}") == F.col(c))
    m = (
        cand.join(side, cond, "inner")
        .filter(F.col("_nxt_t").isNull()
                | ~F.col("_nxt_t").isin(*ftypes))
        .drop(*[f"_s{j}" for j in range(len(keys))], "_ern", "_nxt_t")
    )
    if skip == "to_next_row":
        w_no = Window.partitionBy(*keys).orderBy("off")
        return m.select(
            *[F.col(c) for c in keys],
            F.row_number().over(w_no).cast("long").alias("match_no"),
            "first_event_id", "last_event_id", "n_rows",
        )
    grouped = m.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct(
            "off", "endrn", "first_event_id", "last_event_id",
            "n_rows"))).alias("l")
    )
    init = F.expr(
        "named_struct('p', CAST(1 AS BIGINT), 'sel', CAST(array() AS "
        "array<struct<off:bigint,endrn:bigint,first_event_id:bigint,"
        "last_event_id:bigint,n_rows:bigint>>))"
    )
    sel = F.aggregate(
        F.col("l"),
        init,
        lambda acc, c: F.when(
            c["off"] >= acc["p"],
            F.struct(
                (c["endrn"] + 1).alias("p"),
                F.concat(acc["sel"], F.array(c)).alias("sel"),
            ),
        ).otherwise(acc),
    )["sel"]
    return grouped.select(
        *[F.col(c) for c in keys],
        F.posexplode(sel),
    ).select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.col("col")["first_event_id"].alias("first_event_id"),
        F.col("col")["last_event_id"].alias("last_event_id"),
        F.col("col")["n_rows"].alias("n_rows"),
    )


def match_recognize_not_next_end_oracle_sql(
    pattern: list[tuple[str, object, str]],
    forbid,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    skip: str = "past_last_row",
) -> str:
    """DuckDB replay of :func:`match_recognize_not_next_end`: the same
    lead-shifted positional flag conjunction, the same
    NULL-or-not-forbidden successor check, and the shared recursive
    non-overlap fold for past_last_row. Quantified trailing variables
    (round 16) replay the next-non-run-row tabulation + run-end join."""
    keys = _key_list(key)
    key = ", ".join(keys)
    if not pattern:
        raise ValueError("pattern needs at least one variable")
    for i, (var, etype, quant) in enumerate(pattern):
        if not _types_of(etype):
            raise ValueError(
                f"variable {var!r}: positive/complement classes with "
                ">= 1 event type (the engine's scope)")
        if quant != "1" and i < len(pattern) - 1:
            raise ValueError(
                f"variable {var!r}: only the LAST variable may carry "
                "a quantifier (the tabulated-run form)")
    ftypes = _types_of(forbid)
    if not ftypes:
        raise ValueError("forbid must name at least one event type")
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    k = len(pattern)
    if pattern[-1][2] != "1":
        t_lo, t_hi, t_lazy = _quant_parse(pattern[-1][2])
        if t_lazy or t_lo < 1:
            raise ValueError(
                f"variable {pattern[-1][0]!r}: greedy min>=1 "
                "quantifier required for the tabulated-run form")
        return _not_next_end_quantified_oracle_sql(
            pattern, ftypes, t_lo, t_hi, table, keys, ts, type_col,
            id_col, skip)
    alts = ", ".join(f"'{t}'" for t in ftypes)
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    flags = " AND ".join(
        f"COALESCE(lead({_step_pred_sql(etype, type_col)}, {i}) "
        f"OVER ({order}), FALSE)"
        if i else _step_pred_sql(etype, type_col)
        for i, (_, etype, _) in enumerate(pattern)
    )
    if skip == "to_next_row":
        numbering = f"""
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key} ORDER BY off)
                AS BIGINT) AS match_no,
           first_event_id, last_event_id,
           CAST({k} AS BIGINT) AS n_rows
    FROM cand"""
    else:
        numbering = f""",
    pick AS (
        SELECT {key}, off, first_event_id, last_event_id, 1 AS match_no
        FROM cand c
        WHERE off = (SELECT min(off) FROM cand c2
                     WHERE {_key_eq('c2', 'c', keys)})
      UNION ALL
        SELECT {_key_cols('nx', keys)}, nx.off, nx.first_event_id, nx.last_event_id,
               pk.match_no + 1
        FROM pick pk JOIN cand nx
             ON {_key_eq('nx', 'pk', keys)} AND nx.off >= pk.off + {k}
        WHERE nx.off = (SELECT min(n2.off) FROM cand n2
                        WHERE {_key_eq('n2', 'pk', keys)}
                          AND n2.off >= pk.off + {k})
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           first_event_id, last_event_id,
           CAST({k} AS BIGINT) AS n_rows
    FROM pick"""
    return f"""
    WITH RECURSIVE r AS (
        SELECT {key},
               CAST(row_number() OVER ({order}) AS BIGINT) AS off,
               CAST({id_col} AS BIGINT) AS first_event_id,
               CAST(lead({id_col}, {k - 1}) OVER ({order}) AS BIGINT)
                   AS last_event_id,
               ({flags}) AS ok,
               lead({type_col}, {k}) OVER ({order}) AS nxt_t
        FROM {table}
    ),
    cand AS (
        SELECT {key}, off, first_event_id, last_event_id
        FROM r
        WHERE ok AND (nxt_t IS NULL OR nxt_t NOT IN ({alts}))
    ){numbering}
    """


def _not_next_end_quantified_oracle_sql(
    pattern, ftypes, t_lo, t_hi, table, key, ts, type_col, id_col,
    skip,
) -> str:
    """DuckDB replay of the quantified-tail trailing-notNext lowering
    (round 16): identical next-non-run-row tabulation, prefix flag
    conjunction, run-end join and (off, endrn) non-overlap fold."""
    keys = _key_list(key)
    key = ", ".join(keys)
    k1 = len(pattern) - 1
    alts = ", ".join(f"'{t}'" for t in ftypes)
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    pred_run = _step_pred_sql(pattern[-1][1], type_col)
    flags = " AND ".join(
        f"COALESCE(lead({_step_pred_sql(etype, type_col)}, {i}) "
        f"OVER ({order}), FALSE)"
        if i else _step_pred_sql(etype, type_col)
        for i, (_, etype, _) in enumerate(pattern[:-1])
    ) or "TRUE"
    start_nonb = ("nxt_nonrun" if k1 == 0
                  else f"lead(nxt_nonrun, {k1}) OVER ({order})")
    taken = "run_len" if t_hi is None else f"LEAST(run_len, {t_hi})"
    if skip == "to_next_row":
        numbering = f"""
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key} ORDER BY off)
                AS BIGINT) AS match_no,
           first_event_id, last_event_id, n_rows
    FROM m"""
    else:
        numbering = f""",
    pick AS (
        SELECT {key}, off, endrn, first_event_id, last_event_id,
               n_rows, 1 AS match_no
        FROM m c
        WHERE off = (SELECT min(off) FROM m c2
                     WHERE {_key_eq('c2', 'c', keys)})
      UNION ALL
        SELECT {_key_cols('nx', keys)}, nx.off, nx.endrn, nx.first_event_id,
               nx.last_event_id, nx.n_rows, pk.match_no + 1
        FROM pick pk JOIN m nx
             ON {_key_eq('nx', 'pk', keys)} AND nx.off > pk.endrn
        WHERE nx.off = (SELECT min(n2.off) FROM m n2
                        WHERE {_key_eq('n2', 'pk', keys)}
                          AND n2.off > pk.endrn)
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           first_event_id, last_event_id, n_rows
    FROM pick"""
    return f"""
    WITH RECURSIVE base AS (
        SELECT {key}, {ts}, {id_col}, {type_col},
               CAST(row_number() OVER ({order}) AS BIGINT) AS rn,
               NOT ({pred_run}) AS nonrun
        FROM {table}
    ),
    r AS (
        SELECT *,
               COALESCE(min(CASE WHEN nonrun THEN rn END)
                   OVER ({order} ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING),
                   max(rn) OVER (PARTITION BY {key}) + 1) AS nxt_nonrun,
               lead({type_col}, 1) OVER ({order}) AS nxt_t
        FROM base
    ),
    c0 AS (
        SELECT {key}, rn AS off,
               CAST({id_col} AS BIGINT) AS first_event_id,
               ({flags}) AS ok,
               {start_nonb} AS start_nonb
        FROM r
    ),
    cand AS (
        SELECT {key}, off, first_event_id,
               CAST(off + {k1} + {taken} - 1 AS BIGINT) AS endrn,
               CAST({k1} + {taken} AS BIGINT) AS n_rows
        FROM (SELECT *, start_nonb - (off + {k1}) AS run_len FROM c0)
        WHERE ok AND run_len >= {t_lo}
    ),
    m AS (
        SELECT {_key_cols('c', keys)}, c.off, c.endrn, c.first_event_id,
               CAST(e.{id_col} AS BIGINT) AS last_event_id, c.n_rows
        FROM cand c JOIN r e
             ON {_key_eq('e', 'c', keys)} AND e.rn = c.endrn
        WHERE e.nxt_t IS NULL OR e.nxt_t NOT IN ({alts})
    ){numbering}
    """


def _validate_not_next(pattern, not_next):
    """Shared plan-time validation for the generalized non-consuming
    notNext engine (round 14): single-occurrence variables, forbid
    classes keyed by variable NAME, each naming >=1 event type."""
    if not pattern:
        raise ValueError("pattern needs at least one variable")
    seen = set()
    for var, etype, quant in pattern:
        if var in seen:
            raise ValueError(f"duplicate pattern variable {var!r}")
        if not _types_of(etype):
            raise ValueError(
                f"variable {var!r} needs at least one event type")
        if quant != "1":
            raise ValueError(
                f"variable {var!r}: notNext composition supports "
                "single-occurrence variables only (quantifier '1') — "
                "a quantified variable makes the greedy end interact "
                "with the positional absence check")
        seen.add(var)
    if not not_next:
        raise ValueError("not_next must name at least one edge")
    names = [v for v, _, _ in pattern]
    checks = {}
    for var, forbid in not_next.items():
        if var not in names:
            raise ValueError(f"not_next names unknown variable {var!r}")
        if _var_negated(forbid):
            # _types_of would silently strip the '!' marker, inverting
            # the caller's intent (forbid everything EXCEPT the set
            # becomes forbid the set) — fail loudly instead (ADVICE r14)
            raise ValueError(
                f"not_next[{var!r}]: complement ('!') forbid classes "
                "are not supported — name the forbidden types directly")
        ftypes = _types_of(forbid)
        if not ftypes:
            raise ValueError(
                f"not_next[{var!r}] must name at least one event type")
        checks[names.index(var)] = ftypes
    return checks


def match_recognize_not_next(
    events: DataFrame,
    pattern: list[tuple[str, object, str]],
    not_next: dict,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    skip: str = "past_last_row",
) -> DataFrame:
    """Flink's ``notNext(X)`` at ANY pattern position — the
    generalized NON-CONSUMING strict absence (round 14, VERDICT r13
    missing #4): ``not_next`` maps a pattern variable name to a
    forbidden type class checked on the row IMMEDIATELY AFTER that
    variable's matched row. For an INTERIOR variable that row is
    exactly the row the NEXT variable consumes, so the edge becomes a
    lead-flag CONJUNCTION: the successor row must satisfy the next
    variable's class AND fall outside the forbid class. This is
    observably different from the CONSUMING complement form
    (q_cep_negation) precisely when forbid ∩ next-class ≠ ∅ —
    ``begin(V).notNext(error).next(B∈{click,error})`` admits only
    click successors, while the consuming form would spend a whole
    row on the non-error check. A trailing entry (last variable)
    degenerates to :func:`match_recognize_not_next_end`: the witness
    row is not consumed and an absent successor (end of partition)
    CONFIRMS the absence, exactly as batch end-of-input closes
    Flink's pending negative state.

    Lowering — fully LINEAR, no per-key collect of raw rows (the
    :func:`match_recognize_not_next_end` shape): positional
    ``lead``-shifted admit flags conjoin into one anchor predicate;
    each notNext edge at variable index i adds ONE more conjunct
    ``coalesce(NOT lead(type ∈ forbid, i+1), TRUE)`` (NULL = end of
    partition = absent = confirmed; for interior edges the successor
    row's existence is already forced by the next variable's flag).
    Only match-count-sized candidate structs reach the non-overlap
    fold. One shuffle, zero Python.

    Returns ``key..., match_no, first_event_id, last_event_id,
    n_rows`` (= len(pattern); notNext edges consume nothing).
    Semantics source: Flink CEP Pattern API ``notNext`` (public docs,
    per SURVEY §0). Reference: /root/reference/README.md:1.
    """
    from pyspark.sql.window import Window

    checks = _validate_not_next(pattern, not_next)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    keys = [key] if isinstance(key, str) else list(key)
    k = len(pattern)

    w = Window.partitionBy(*keys).orderBy(ts, id_col)
    ok = _step_pred(pattern[0][1], type_col)
    for i, (_, etype, _) in enumerate(pattern[1:], start=1):
        ok = ok & F.coalesce(
            F.lead(_step_pred(etype, type_col), i).over(w), F.lit(False)
        )
    for i, ftypes in sorted(checks.items()):
        fpred = F.col(type_col).isin(*ftypes)
        ok = ok & F.coalesce(~F.lead(fpred, i + 1).over(w), F.lit(True))
    rn = F.row_number().over(w)
    last_id = F.lead(id_col, k - 1).over(w) if k > 1 else F.col(id_col)
    cands = events.select(
        *[F.col(c) for c in keys],
        F.struct(
            rn.cast("long").alias("off"),
            F.col(id_col).alias("first_event_id"),
            last_id.alias("last_event_id"),
        ).alias("c"),
        F.coalesce(ok, F.lit(False)).alias("valid"),
    ).filter(F.col("valid"))
    if skip == "to_next_row":
        w_no = Window.partitionBy(*keys).orderBy(F.col("c")["off"])
        return cands.select(
            *[F.col(c) for c in keys],
            F.row_number().over(w_no).cast("long").alias("match_no"),
            F.col("c")["first_event_id"].alias("first_event_id"),
            F.col("c")["last_event_id"].alias("last_event_id"),
            F.lit(k).cast("long").alias("n_rows"),
        )
    grouped = cands.groupBy(*keys).agg(
        F.array_sort(F.collect_list("c")).alias("l")
    )
    init = F.expr(
        "named_struct('p', CAST(1 AS BIGINT), 'sel', CAST(array() AS "
        "array<struct<off:bigint,first_event_id:bigint,"
        "last_event_id:bigint>>))"
    )
    sel = F.aggregate(
        F.col("l"),
        init,
        lambda acc, c: F.when(
            c["off"] >= acc["p"],
            F.struct(
                (c["off"] + F.lit(k)).alias("p"),
                F.concat(acc["sel"], F.array(c)).alias("sel"),
            ),
        ).otherwise(acc),
    )["sel"]
    return grouped.select(
        *[F.col(c) for c in keys],
        F.posexplode(sel),
    ).select(
        *[F.col(c) for c in keys],
        (F.col("pos") + 1).cast("long").alias("match_no"),
        F.col("col")["first_event_id"].alias("first_event_id"),
        F.col("col")["last_event_id"].alias("last_event_id"),
        F.lit(k).cast("long").alias("n_rows"),
    )


def match_recognize_not_next_oracle_sql(
    pattern: list[tuple[str, object, str]],
    not_next: dict,
    table: str = "events",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    skip: str = "past_last_row",
) -> str:
    """DuckDB replay of :func:`match_recognize_not_next`: the same
    lead-shifted positional flag conjunction with one
    COALESCE(NOT lead(type IN forbid, i+1), TRUE) conjunct per
    notNext edge, and the shared recursive non-overlap fold for
    past_last_row."""
    keys = _key_list(key)
    key = ", ".join(keys)
    checks = _validate_not_next(pattern, not_next)
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError("skip must be 'past_last_row' or 'to_next_row'")
    k = len(pattern)
    order = f"PARTITION BY {key} ORDER BY {ts}, {id_col}"
    conj = [
        f"COALESCE(lead({_step_pred_sql(etype, type_col)}, {i}) "
        f"OVER ({order}), FALSE)"
        if i else _step_pred_sql(etype, type_col)
        for i, (_, etype, _) in enumerate(pattern)
    ]
    for i, ftypes in sorted(checks.items()):
        alts = ", ".join(f"'{t}'" for t in ftypes)
        conj.append(
            f"COALESCE(NOT (lead({type_col}, {i + 1}) OVER ({order}) "
            f"IN ({alts})), TRUE)"
        )
    flags = " AND ".join(conj)
    last_id = (
        f"CAST(lead({id_col}, {k - 1}) OVER ({order}) AS BIGINT)"
        if k > 1 else f"CAST({id_col} AS BIGINT)"
    )
    if skip == "to_next_row":
        numbering = f"""
    SELECT {key},
           CAST(row_number() OVER (PARTITION BY {key} ORDER BY off)
                AS BIGINT) AS match_no,
           first_event_id, last_event_id,
           CAST({k} AS BIGINT) AS n_rows
    FROM cand"""
    else:
        numbering = f""",
    pick AS (
        SELECT {key}, off, first_event_id, last_event_id, 1 AS match_no
        FROM cand c
        WHERE off = (SELECT min(off) FROM cand c2
                     WHERE {_key_eq('c2', 'c', keys)})
      UNION ALL
        SELECT {_key_cols('nx', keys)}, nx.off, nx.first_event_id, nx.last_event_id,
               pk.match_no + 1
        FROM pick pk JOIN cand nx
             ON {_key_eq('nx', 'pk', keys)} AND nx.off >= pk.off + {k}
        WHERE nx.off = (SELECT min(n2.off) FROM cand n2
                        WHERE {_key_eq('n2', 'pk', keys)}
                          AND n2.off >= pk.off + {k})
    )
    SELECT {key}, CAST(match_no AS BIGINT) AS match_no,
           first_event_id, last_event_id,
           CAST({k} AS BIGINT) AS n_rows
    FROM pick"""
    return f"""
    WITH RECURSIVE r AS (
        SELECT {key},
               CAST(row_number() OVER ({order}) AS BIGINT) AS off,
               CAST({id_col} AS BIGINT) AS first_event_id,
               {last_id} AS last_event_id,
               ({flags}) AS ok
        FROM {table}
    ),
    cand AS (
        SELECT {key}, off, first_event_id, last_event_id
        FROM r WHERE ok
    ){numbering}
    """
