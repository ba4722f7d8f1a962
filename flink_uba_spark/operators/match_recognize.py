"""MATCH_RECOGNIZE — the SQL row-pattern-recognition front-end,
compiled onto the Pattern-API engines.

Flink exposes its CEP library twice: the Pattern API the reference uses
(OrderPayTimeout.java:52-64) and SQL ``MATCH_RECOGNIZE`` (ISO/IEC
9075-2:2016 row-pattern recognition), which compiles onto the same NFA.
This module is that second surface for the Spark engines: a declarative
(PARTITION BY, ORDER BY, PATTERN, DEFINE, AFTER MATCH, MEASURES) spec
compiled onto the ``pattern_detect`` engine family — the pattern is a
plan shape here, so the front-end is a pure compiler; nothing new
executes.

Supported subset (validated, everything else raises):

- ``PATTERN``: a space-separated token sequence of
  - a variable with an optional GREEDY quantifier — ``B+`` (oneOrMore,
    uncapped), ``B{n}``, ``B{n,m}``, ``B{n,}`` (timesOrMore), ``B?``
    (optional) — served by ``pattern_detect`` (the ``greedy()`` run);
  - a RELUCTANT quantifier — ``B{n,m}?`` / ``B{n}?`` (lazy: the match
    binds as FEW repetitions as possible) — served by
    ``pattern_detect_reluctant``; ``B+?`` / ``B{n,}?`` raise (an
    uncapped reluctant loop emits unboundedly many candidate counts —
    write the finite cap);
  - an ALTERNATION group ``(A|B)`` / ``(A|B|C)`` — plain variables,
    leftmost-alternative preference (ISO 9075-2's lexicographic rule) —
    served by one ``pattern_detect`` plan per alternative, unioned
    (the ``pattern_detect_branching`` construction);
  - a QUANTIFIED alternation group ``(A|B)+`` / ``(A|B){n,m}`` (round
    9) — each repetition may be ANY member (ISO's per-repetition
    alternative choice), so the group compiles to ONE greedy Kleene
    step over the OR of the members' DEFINEs (single-plan path; the
    run is the within-gap session of the union row set). Output
    columns join the member names (``A_B_ts``/``A_B_last_ts``/
    ``A_B_n``); under ALL ROWS each repetition's CLASSIFIER() is the
    leftmost member matching it. A reluctant group quantifier raises;
  - a ``PERMUTE(A,B[,C])`` group (round 8) — every ordering of the
    members, preference in listed order (ISO: PERMUTE expands to the
    alternation of all permutations lexicographically) — same
    branch-union compile, one plan per ordering;
  - an EXCLUSION wrapper ``{- X -}`` (round 8) — X matches normally but
    its rows/columns are excluded from the output (ISO exclusion is
    pure output shaping; single-plan path, both ONE and ALL ROWS);
  - PARTITION ANCHORS ``^`` / ``$`` (round 8) — the match must start at
    the partition's first row / end at its last row ((ts, id) order;
    batch-only: a partition's last row is unknowable on an unbounded
    stream; single-plan path).
- ``DEFINE``: variable → self-row Column predicate. Prefix-referencing
  definitions (SQL's ``PREV``/``FIRST``/``LAST`` navigation over bound
  variables, Flink's ``IterativeCondition``) go through ``iter_define``:
  ``{"P": lambda b: b["P"]["cents"] >= 2 * b["S"]["cents"]}`` where
  ``b[var]`` exposes ``"ts"``, ``"id"`` and every ``payload`` column of
  the variable's bound row — served by ``pattern_detect_iterative``
  (plain chains, every within mandatory: the join band is the fan-out
  bound).
- ``AFTER MATCH``: ``skip_past_last`` (SKIP PAST LAST ROW — the SQL
  default), ``no_skip`` (every anchor's match), ``"skip_to_first V"`` /
  ``"skip_to_last V"`` (SKIP TO FIRST/LAST <var> — plain chains, where
  one event binds per variable so FIRST ≡ LAST; served by
  ``after_match_skip_to_first``).
- ``ONE ROW PER MATCH`` (default): one output row per match —
  ``partition_by, anchor_id, <var>_ts...`` (+ ``<var>_last_ts`` /
  ``<var>_n`` per quantified var, ``end_id`` under a skip strategy,
  ``<payload>_<var>`` under iter_define), or the MEASURES projection.
- ``ALL ROWS PER MATCH``: one output row per BOUND EVENT —
  ``(partition, anchor_id, seq, var, event_id, ts)``, ``var`` the
  CLASSIFIER() column. Quantified variables enumerate their whole run
  (one row per repetition) via a band join back to the input — the run
  is the ``n{k}``-prefix of the step's rows from the bound entry, so
  membership is exactly ``(ts, id) >= entry``, ``ts <= run_last``,
  ``row_number <= n{k}`` (round 8; r7 raised on quantified vars).
- ``SUBSET`` (round 9 second pass, ISO 9075-2 <row pattern subset
  clause>): ``subset={"U": ("A", "B")}`` declares a UNION variable
  whose rows are the union of the members' bound rows in (ts, id) row
  order; consumed by RunAgg MEASURES (``run_agg("sum", "U", col)`` ≡
  SQL ``SUM(U.col)`` — plain members contribute their bound row,
  quantified members their whole run, skipped optionals nothing).
- ``ORDER BY`` must be the event-time column; ties determinize by the
  engine family's (ts, step_rank, id) total order.

Routing matrix (one specialty per spec — cross-SPECIALTY combinations
raise): ``iter_define`` → iterative join compile (round 9: greedy
quantifiers COMPOSE there via the session-refined run step); a
reluctant quantifier → the count-enumeration engine on the 3-step
shape (round 9; serves uncapped ``+?``) else the per-count union; an
alternation/PERMUTE group → per-branch union (greedy quantifiers on
OTHER variables compose); SKIP TO FIRST/LAST → step-id fold;
everything else → the single-plan ``pattern_detect`` path
(quantifiers/optionals/quantified groups compose freely there).

Round-9 SECOND-pass lifts: a GREEDY quantifier on the FINAL variable
composes with SKIP PAST LAST / ``$`` on the single-plan path (the
engine's ``il{n}`` run-last id is the fold's end; reluctant trailing
forms still raise); ``ALL ROWS PER MATCH`` composes with
alternation/PERMUTE, ``iter_define``, and SKIP TO (plain/optional
variables — each is a stateless (seq, var, event_id, ts) explode after
the route's own fold); RunAgg targets a quantified GROUP's run (the
OR-of-members band join) and SUBSET union variables; the STREAM
front-end runs exclusions on its single-plan path and prefix-
referencing DEFINE via ``iter_define_py`` under NO SKIP.

Round-10 lifts (VERDICT r9 items 5/6 + second pass):
``within_overall`` now composes with EVERY route on BOTH engines —
batch everywhere; stream: single-plan/quantified-group/iterative/
reluctant-fused NO SKIP as stateless post-filters (emission is
per-anchor data-driven), the skip replays (SKIP TO, past-last plain
chains, trailing runs, lazy reluctant) and the alternation preference
operator as IN-OPERATOR candidate prunes before their folds. Round 11
closed the last cell: mid-pattern quantifiers AND interior optional
steps under streaming SKIP PAST LAST route to the GENERAL
quantified-chain replayer (runs at any position, the optional greedy
race per anchor; finite caps/withins bound the horizon), with or
without the overall bound — previously unstreamable shapes. Every
stream skip replay — SKIP TO, past-last plain and quantified chains,
and the lazy reluctant fold (a reluctant step walked once per count)
— runs on that one replayer.
Exclusion ``{- X -}``
(round 11) composes with EVERY route on BOTH engines — pure output
shaping after each engine's fold: ONE row drops the excluded columns
(plus the iterative route's payload columns), ALL ROWS drops the
per-event rows; per-count reluctant multi-matches whose projections
coincide after the drop emit as DUPLICATE rows, one row per match.
There is also a SQL-TEXT front-end
(operators/match_recognize_sql.py) compiling the ISO clause string
onto this spec, batch (``match_recognize_sql``) and streaming
(``stream_match_recognize_sql``). Round 11 also streams MEASURES run
aggregates (COUNT + SUBSET — the NFA's own count columns), FIRST/LAST
timestamp navigation, and ALL ROWS PER MATCH (plain/optional
single-plan routes, per-step ids from state).
"""

from __future__ import annotations

import re
from itertools import product as _product

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

class RunAgg:
    """Aggregate navigation in MEASURES over a quantified variable's run
    (round 9) — ISO 9075-2's ``SUM(B.x)`` / ``COUNT(B.*)`` /
    ``FIRST(B.x, n)`` / ``LAST(B.x, n)`` over a pattern variable bound
    to a RUN, the SQL twin of Flink's ``ctx.getEventsForPattern("B")``
    folds. ``func`` ∈ {sum, count, avg, min, max, first, last}; ``col``
    is a Column evaluated on the INPUT events (None for count —
    ``COUNT(B.*)``); ``n`` is first/last's logical offset (FIRST(B.x, n)
    = x on the run's (n+1)-th row, LAST from the end; past-the-run →
    NULL, per ISO navigation)."""

    FUNCS = ("sum", "count", "avg", "min", "max", "first", "last")

    def __init__(self, func: str, var: str, col=None, n: int = 0):
        if func not in self.FUNCS:
            raise ValueError(f"RunAgg func must be one of {self.FUNCS}")
        if func != "count" and col is None:
            raise ValueError(f"RunAgg {func} needs a value column")
        if n < 0:
            raise ValueError("first/last offset must be >= 0")
        self.func, self.var, self.col, self.n = func, var, col, n


def run_agg(func: str, var: str, col=None, n: int = 0) -> RunAgg:
    """MEASURES helper: ``run_agg("sum", "B", F.col("x"))`` ≡ SQL
    ``SUM(B.x)`` (see :class:`RunAgg`)."""
    return RunAgg(func, var, col, n)


_TOKEN = re.compile(
    r"^([A-Za-z_][A-Za-z0-9_]*)(\+\??|\?|\{(\d+)(,(\d*))?\}\??)?$"
)
_ALT = re.compile(
    r"^\(([A-Za-z_][A-Za-z0-9_]*(?:\|[A-Za-z_][A-Za-z0-9_]*)+)\)"
    r"(\+\??|\{(\d+)(,(\d*))?\}\??)?$"
)
_PERMUTE = re.compile(
    r"^PERMUTE\(([A-Za-z_][A-Za-z0-9_]*(?:,[A-Za-z_][A-Za-z0-9_]*)+)\)$"
)
_EXCL = re.compile(r"\{-\s*(.+?)\s*-\}")


def strip_exclusions(pattern: str) -> tuple[str, set[str]]:
    """ISO 9075-2 exclusion ``{- X -}``: the wrapped element matches
    normally but its rows are EXCLUDED from the output (pure output
    shaping). Returns (pattern with wrappers removed, excluded var
    names)."""
    excluded: set[str] = set()

    def strip(m):
        inner = m.group(1)
        t = _TOKEN.match(inner)
        if not t:
            raise ValueError(f"bad exclusion token: {{- {inner} -}}")
        excluded.add(t.group(1))
        return inner

    return _EXCL.sub(strip, pattern), excluded


def strip_anchors(pattern: str) -> tuple[str, bool, bool]:
    """ISO 9075-2 partition anchors: a leading ``^`` requires the match
    to START at the partition's first row, a trailing ``$`` to END at
    its last row ((ts, id) order — the family's tie determinization).
    Returns (pattern without anchors, start_anchor, end_anchor)."""
    toks = pattern.split()
    start = bool(toks) and toks[0] == "^"
    if start:
        toks = toks[1:]
    end = bool(toks) and toks[-1] == "$"
    if end:
        toks = toks[:-1]
    if "^" in toks or "$" in toks:
        raise ValueError("^ / $ anchor only at the PATTERN's ends")
    return " ".join(toks), start, end


def parse_pattern(pattern: str) -> list[tuple]:
    """``"S E{1,3} P"`` → ``[("S", None), ("E", ("kleene", 1, 3)),
    ("P", None)]``. Quantifiers: ``+ ? {n} {n,} {n,m}`` (greedy),
    ``{n}? {n,m}?`` (reluctant). ``(A|B)`` → ``(("A", "B"), None)`` —
    an alternation group; ``PERMUTE(A,B)`` → ``(("A", "B"),
    ("permute",))`` — every ordering of the members, lexicographic
    preference (tuple variables, group members are plain)."""
    out = []
    toks = pattern.split()
    if len(toks) < 2 and not (_PERMUTE.match(toks[0]) if toks else False):
        raise ValueError("PATTERN needs at least 2 variables")
    for tok in toks:
        alt = _ALT.match(tok)
        if alt:
            members, gq = tuple(alt.group(1).split("|")), alt.group(2)
            if gq is None:
                out.append((members, None))
            elif gq.endswith("?") and gq != "?":
                raise ValueError(
                    "a RELUCTANT quantifier on an alternation group is "
                    "not supported (the greedy group run compiles to ONE "
                    "OR-predicate Kleene step; reluctant multi-match "
                    "stays on single variables)"
                )
            elif gq == "+":
                out.append((members, ("kleene", 1, None)))
            elif alt.group(4) is None:  # {n}
                out.append((members, ("kleene", int(alt.group(3)),
                                      int(alt.group(3)))))
            elif alt.group(5) == "":  # {n,}
                out.append((members, ("kleene", int(alt.group(3)), None)))
            else:  # {n,m}
                out.append((members, ("kleene", int(alt.group(3)),
                                      int(alt.group(5)))))
            continue
        perm = _PERMUTE.match(tok)
        if perm:
            out.append((tuple(perm.group(1).split(",")), ("permute",)))
            continue
        m = _TOKEN.match(tok)
        if not m:
            raise ValueError(f"bad PATTERN token: {tok!r}")
        var, quant = m.group(1), m.group(2)
        lazy = quant is not None and quant.endswith("?") and quant != "?"
        if quant is None:
            q = None
        elif quant == "+":
            q = ("kleene", 1, None)
        elif quant == "+?":
            # round 9: uncapped reluctant parses — the count-enumeration
            # engine serves it on the 3-step shape (routes validate)
            q = ("reluctant", 1, None)
        elif quant == "?":
            q = ("optional",)
        elif m.group(4) is None:  # {n} / {n}?
            q = ("reluctant" if lazy else "kleene", int(m.group(3)), int(m.group(3)))
        elif m.group(5) == "":  # {n,} / {n,}?
            q = ("reluctant" if lazy else "kleene", int(m.group(3)), None)
        else:  # {n,m} / {n,m}?
            q = ("reluctant" if lazy else "kleene", int(m.group(3)), int(m.group(5)))
        out.append((var, q))
    vars_ = [v for var, _ in out for v in (var if isinstance(var, tuple) else (var,))]
    if len(set(vars_)) != len(vars_):
        raise ValueError("PATTERN variables must be distinct")
    return out


def _parse_after_match(after_match: str, parsed) -> tuple[str, int | None]:
    """→ ``(mode, skip_step)``; mode ∈ {skip_past_last, no_skip, skip_to}."""
    if after_match in ("skip_past_last", "no_skip"):
        return after_match, None
    parts = after_match.split()
    if len(parts) == 2 and parts[0] in ("skip_to_first", "skip_to_last"):
        target = parts[1]
        for k, (var, q) in enumerate(parsed, start=1):
            if var == target:
                if q is not None or k == 1:
                    raise ValueError(
                        "SKIP TO FIRST/LAST targets a plain variable at "
                        "position 2..n (step 1 would re-admit every match; "
                        "quantified targets stay on SKIP PAST LAST)"
                    )
                return "skip_to", k
        raise ValueError(f"SKIP TO target {target!r} is not a PATTERN variable")
    raise ValueError(
        "AFTER MATCH: skip_past_last | no_skip | 'skip_to_first V' | "
        "'skip_to_last V'"
    )


def _group_pred_within(var, define, withins, default_within):
    """A QUANTIFIED alternation group ``(A|B)+`` compiles to ONE Kleene
    step whose predicate is the OR of the members' DEFINEs — each
    repetition may be any member (ISO's per-repetition alternative
    choice), so the run is exactly the within-gap session of the union
    row set. Members must agree on the within (it is the group's
    repetition gap)."""
    pred = None
    for m in var:
        if m not in define:
            raise ValueError(f"PATTERN variable {m!r} has no DEFINE entry")
        pred = define[m] if pred is None else (pred | define[m])
    ws = {withins[m] for m in var if m in withins}
    if len(ws) > 1:
        raise ValueError(
            f"quantified group {var}: members declare conflicting withins "
            f"{sorted(ws)} — the group has ONE repetition gap"
        )
    return pred, (ws.pop() if ws else default_within)


def _steps_and_sets(parsed, define, withins, default_within, choice=None):
    """Build the pattern_detect ``steps`` list + optional set. ``choice``
    maps an alternation group position (1-based) to the chosen member."""
    steps, optional = [], set()
    for k, (var, q) in enumerate(parsed, start=1):
        if isinstance(var, tuple) and q is not None and q[0] == "kleene":
            pred, w = _group_pred_within(var, define, withins, default_within)
            lo, hi = q[1], q[2]
            steps.append((pred, w, (lo, float("inf") if hi is None else hi)))
            continue
        if isinstance(var, tuple):
            var = (choice or {})[k]
        if var not in define:
            raise ValueError(f"PATTERN variable {var!r} has no DEFINE entry")
        w = withins.get(var, default_within if k > 1 else None)
        if q is None:
            steps.append((define[var], w))
        elif q[0] == "optional":
            steps.append((define[var], w))
            optional.add(k)
        else:
            # a reluctant step carries its kind (the stream chain
            # replayer's lazy count loop); the batch engines take the
            # reluctant steps as a separate index set
            lo, hi = q[1], q[2]
            steps.append(
                (define[var], w, (lo, float("inf") if hi is None else hi))
                + (("reluctant",) if q[0] == "reluctant" else ())
            )
    return steps, optional


def _var_names(parsed, choice=None):
    """Step position → displayed variable name (alternation groups show
    the chosen member under ``choice``, a QUANTIFIED group the joined
    member names — its run owns one column family — else the group
    tuple)."""
    names = []
    for k, (var, q) in enumerate(parsed, start=1):
        if isinstance(var, tuple) and q is not None and q[0] == "kleene":
            names.append("_".join(var))
        elif isinstance(var, tuple):
            names.append((choice or {}).get(k, var))
        else:
            names.append(var)
    return names


def _explode_plain_rows(
    out: DataFrame, vnames, partition_by: str, excluded=frozenset()
) -> DataFrame:
    """ALL ROWS PER MATCH over a PLAIN chain that already carries
    ``i{k}``/``t{k}`` columns (the iterative and skip-to routes): one
    output row per bound event — a stateless explode of the
    compile-time (seq, var) layout, CLASSIFIER() = the var column.
    Skipped optionals carry null ts and are filtered, as everywhere.
    ``excluded`` variables (ISO ``{- X -}``) still match but leave the
    per-event output (round 10 — the single-plan ALL ROWS rule)."""
    entries = [
        F.struct(
            F.lit(k).cast("long").alias("seq"),
            F.lit(v).alias("var"),
            F.col(f"i{k}").alias("event_id"),
            F.col(f"t{k}").alias("ts"),
        )
        for k, v in enumerate(vnames, start=1)
        if v not in excluded
    ]
    if not entries:
        raise ValueError(
            "ALL ROWS PER MATCH needs at least one non-excluded variable"
        )
    return (
        out.select(
            partition_by, "anchor_id", F.explode(F.array(*entries)).alias("__e")
        )
        .select(
            partition_by, "anchor_id",
            "__e.seq", "__e.var", "__e.event_id", "__e.ts",
        )
        .filter(F.col("ts").isNotNull())
    )


def _rename(out: DataFrame, parsed) -> DataFrame:
    renames: dict[str, str] = {}
    for k, (var, q) in enumerate(parsed, start=1):
        nm = "_".join(var) if isinstance(var, tuple) else var
        renames[f"t{k}"] = f"{nm}_ts"
        if q is not None and q[0] in ("kleene", "reluctant"):
            renames[f"t{k}_last"] = f"{nm}_last_ts"
            renames[f"n{k}"] = f"{nm}_n"
    # one Dataset op (was one withColumnRenamed per column — each a full
    # plan re-analysis in the compile phase)
    return out.withColumnsRenamed(renames)


def _drop_excluded(out: DataFrame, excluded) -> DataFrame:
    """ISO exclusion is pure output shaping: the excluded variable still
    matches (and gates the chain), its columns just leave the ONE-row
    projection — a stateless drop after ``_rename``."""
    if not excluded:
        return out
    return out.drop(
        *[c for v in excluded for c in (f"{v}_ts", f"{v}_last_ts", f"{v}_n")]
    )


def _measures(out: DataFrame, partition_by, measures) -> DataFrame:
    if measures is None:
        return out
    cols = [
        (F.col(f"__ra_{nm}") if isinstance(c, RunAgg) else c).alias(nm)
        for nm, c in measures.items()
    ]
    return out.select(partition_by, *cols)


def _stream_run_agg_columns(
    measures: dict, parsed, subset: dict | None, excluded
) -> dict:
    """Rewrite RunAgg MEASURES into STATELESS Column expressions over the
    stream output's per-variable columns (round 11 — the streaming
    MEASURES lift). The stream NFA already carries every run's COUNT
    (``{v}_n``) and a plain/optional variable's bound indicator
    (``{v}_ts``), so ``COUNT(V.*)`` — and COUNT over a SUBSET union —
    is a column read computed while matching, not a new aggregate.
    Value aggregates (SUM/AVG/MIN/MAX, FIRST/LAST value navigation)
    need run MEMBERSHIP — the batch band join
    (``_attach_run_aggregates``) — and stay batch-only."""
    kinds: dict[str, tuple | None] = {}
    for var, q in parsed:
        if isinstance(var, tuple) and q is not None and q[0] == "kleene":
            kinds["_".join(var)] = q
        elif isinstance(var, tuple):
            for m in var:  # alternation/PERMUTE members bind one row each
                kinds[m] = None
        else:
            kinds[var] = q

    def _count_col(v: str) -> Column:
        if v in (excluded or ()):
            raise ValueError(
                f"RunAgg over the EXCLUDED variable {v!r} is batch-only "
                "on the stream (exclusion drops the variable's columns "
                "before MEASURES here; batch attaches aggregates first)"
            )
        q = kinds[v]
        if q is not None and q[0] in ("kleene", "reluctant"):
            return F.col(f"{v}_n").cast("long")
        return (
            F.when(F.col(f"{v}_ts").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )

    plain_names = set(kinds)
    for uname, members in (subset or {}).items():
        if uname in plain_names:
            raise ValueError(
                f"SUBSET name {uname!r} collides with a PATTERN variable"
            )
        if not members:
            raise ValueError(f"SUBSET {uname!r} needs at least one member")
        bad = sorted(set(members) - plain_names)
        if bad:
            raise ValueError(
                f"SUBSET {uname!r} members must be PATTERN variables "
                f"(groups don't join a subset): {bad}"
            )
        if len(set(members)) != len(members):
            raise ValueError(
                f"SUBSET {uname!r} repeats a member: {tuple(members)} — "
                "members form a set, list each variable once"
            )

    out: dict = {}
    for nm, spec in measures.items():
        if not isinstance(spec, RunAgg):
            out[nm] = spec
            continue
        if spec.func != "count":
            raise ValueError(
                f"RunAgg {spec.func!r} MEASURES need run membership (the "
                "batch band join, _attach_run_aggregates) — batch-only; "
                "the stream serves COUNT (the NFA's {v}_n / bound "
                "indicator) and the boundary timestamps {v}_ts / "
                "{v}_last_ts as plain columns"
            )
        if subset and spec.var in subset:
            col = None
            for m in subset[spec.var]:
                c = _count_col(m)
                col = c if col is None else (col + c)
            out[nm] = col.cast("long")
        elif spec.var in kinds:
            out[nm] = _count_col(spec.var)
        else:
            raise ValueError(
                f"RunAgg targets unknown variable {spec.var!r}"
            )
    return out


def _attach_run_aggregates(
    out: DataFrame,
    events: DataFrame,
    parsed,
    define,
    run_aggs: dict[str, RunAgg],
    partition_by: str,
    order_by: str,
    event_id: str,
    subset: dict | None = None,
    withins_map: dict | None = None,
    default_within_val: str | None = None,
) -> DataFrame:
    """Attach each RunAgg's value to the ONE-row matches as
    ``__ra_<name>``, reading the match set ``out`` once.

    A variable's rows are its steps' member rows: a quantified step k (a
    greedy variable, or a quantified GROUP admitted by the OR of its
    members' DEFINEs) contributes the ``n{k}``-prefix of its admitted
    rows from the bound entry — ``(ts, id) >= (t{k}, i{k})``,
    ``ts <= t{k}_last``, ``row_number <= n{k}`` — and a plain/optional
    step its bound row (a skipped optional nothing, ISO's unbound
    variable rule). ``subset`` maps a UNION variable (ISO's SUBSET
    clause) to member pattern variables; its rows are the union of the
    members' rows.

    Plan: ONE key-equi left band join of the matches to the input rows
    that satisfy some step's DEFINE, a per-row step tag (a row in two
    steps' bands counts once per step), ONE ``row_number`` window over
    ``(key, anchor_id, step)`` that caps each run at ``n{k}``, then
    conditional aggregates grouped on the match's own columns — no join
    back. Every other reference to ``out`` would re-run the whole
    ``pattern_detect`` window chain and the skip fold under it. A
    COUNT over a variable with no member rows in the match is NULL."""
    subset = subset or {}
    step_of = {var: k for k, (var, _q) in enumerate(parsed, start=1)
               if not isinstance(var, tuple)}
    group_of = {
        "_".join(var): (k, var)
        for k, (var, q) in enumerate(parsed, start=1)
        if isinstance(var, tuple) and q is not None and q[0] == "kleene"
    }
    is_run = {k: q is not None and q[0] == "kleene"
              for k, (_v, q) in enumerate(parsed, start=1)}
    steps_of: dict[str, list[int]] = {}  # RunAgg variable -> member steps
    pred_of: dict[int, Column] = {}      # step -> admission predicate
    for spec in run_aggs.values():
        var = spec.var
        if var in subset:
            members = [(step_of[m], define[m]) for m in subset[var]]
        elif var in group_of:
            k, group = group_of[var]
            pred, _w = _group_pred_within(
                group, define, withins_map, default_within_val
            )
            members = [(k, pred)]
        elif var in step_of and is_run[step_of[var]]:
            members = [(step_of[var], define[var])]
        else:
            raise ValueError(
                f"RunAgg navigates a GREEDY-quantified variable's run, "
                f"a quantified GROUP's run, or a SUBSET union "
                f"variable; {var!r} is none of these (plain variables "
                "project their bound row's columns directly; "
                "reluctant runs multi-match and keep per-count rows)"
            )
        steps_of[var] = [k for k, _p in members]
        pred_of.update(members)
    steps = sorted(pred_of)
    val_cols = {
        f"__v_{nm}": F.col(spec.col) if isinstance(spec.col, str) else spec.col
        for nm, spec in run_aggs.items()
        if spec.col is not None
    }
    any_pred = None
    for k in steps:
        any_pred = pred_of[k] if any_pred is None else (any_pred | pred_of[k])
    leg = events.filter(any_pred).select(
        F.col(partition_by).alias("__ek"),
        F.col(event_id).alias("__eid"),
        F.col(order_by).alias("__ets"),
        *[pred_of[k].alias(f"__p{k}") for k in steps],
        *[c.alias(nm) for nm, c in val_cols.items()],
    )
    ets, eid = F.col("__ets"), F.col("__eid")

    def member(k: int) -> Column:
        if not is_run[k]:
            return eid == F.col(f"i{k}")
        t0, i0 = F.col(f"t{k}"), F.col(f"i{k}")
        return (
            F.col(f"__p{k}")
            & ((ets > t0) | ((ets == t0) & (eid >= i0)))
            & (ets <= F.col(f"t{k}_last"))
        )

    in_any = None
    for k in steps:
        in_any = member(k) if in_any is None else (in_any | member(k))
    tag = F.filter(
        F.array(*[F.when(member(k), F.lit(k)) for k in steps]),
        lambda x: x.isNotNull(),
    )
    rows = out.join(
        leg, (F.col(partition_by) == F.col("__ek")) & in_any, "left"
    ).withColumn("__step", F.explode_outer(tag))
    runs = [k for k in steps if is_run[k]]
    if runs:
        cap = F.coalesce(
            *[F.when(F.col("__step") == k, F.col(f"n{k}")) for k in runs]
        )
        w = Window.partitionBy(partition_by, "anchor_id", "__step").orderBy(
            "__ets", "__eid"
        )
        rows = rows.withColumn("__rn", F.row_number().over(w)).filter(
            cap.isNull() | (F.col("__rn") <= cap)
        )
    agg_exprs = []
    for nm, spec in run_aggs.items():
        inv = F.col("__step").isin(*steps_of[spec.var])
        v = F.when(inv, F.col(f"__v_{nm}")) if spec.col is not None else None
        if spec.func == "sum":
            e = F.sum(v)
        elif spec.func == "count":
            e = F.when(
                F.count(F.when(inv, F.lit(1))) > 0,
                F.count(v if v is not None else F.when(inv, F.lit(1))),
            )
        elif spec.func == "avg":
            e = F.avg(v)
        elif spec.func == "min":
            e = F.min(v)
        elif spec.func == "max":
            e = F.max(v)
        else:  # first / last — ISO logical navigation with offset
            arr = F.sort_array(
                F.collect_list(
                    F.when(inv, F.struct(
                        ets.alias("t"), eid.alias("i"),
                        F.col(f"__v_{nm}").alias("v"),
                    ))
                ),
                asc=(spec.func == "first"),
            )
            e = F.get(arr, spec.n)["v"]
        agg_exprs.append(e.alias(f"__ra_{nm}"))
    return rows.groupBy(*out.columns).agg(*agg_exprs)


def match_recognize(
    events: DataFrame,
    partition_by: str,
    order_by: str,
    pattern: str,
    define: dict[str, Column],
    withins: dict[str, str] | None = None,
    default_within: str | None = None,
    measures: dict[str, Column] | None = None,
    after_match: str = "skip_past_last",
    event_id: str = "event_id",
    rows_per_match: str = "one",
    payload: dict[str, Column] | None = None,
    iter_define: dict | None = None,
    subset: dict[str, tuple] | None = None,
    within_overall: str | None = None,
) -> DataFrame:
    """Compile the MATCH_RECOGNIZE spec onto the batch engines (see the
    module docstring for the full supported subset). ``withins`` bounds
    the transition INTO a variable's step (and is a quantified variable's
    repetition gap); ``default_within`` fills unlisted variables.

    ``iter_define`` maps a variable to a function of the binder ``b``
    (``b[var]["ts"|"id"|<payload name>]`` → Column of that variable's
    bound row); its Column is ANDed into the variable's admission test
    BEFORE binding, exactly Flink's IterativeCondition — the variable may
    reference itself and EARLIER pattern variables only.

    ``within_overall`` bounds the WHOLE match: end_ts <= anchor_ts +
    bound, INCLUSIVE — consistent with this repo's per-transition
    ``withins`` convention. NOTE (round-9 ADVICE, documented
    divergence): Flink CEP's window timeout is EXCLUSIVE (a match is
    discarded when ``end - start >= windowTime``, CEP NFA
    ``isStateTimedOut``), so a match ending exactly at anchor + bound
    is emitted here but dropped by Flink. Every catalog oracle pins
    the inclusive form; write ``bound - 1 unit`` to get Flink's edge."""
    from flink_uba_spark.operators.sequence import (
        after_match_skip_past_last,
        after_match_skip_to_first,
        pattern_detect,
        pattern_detect_iterative,
        pattern_detect_reluctant,
    )

    if rows_per_match not in ("one", "all"):
        raise ValueError("ROWS PER MATCH: one | all")
    pattern, anchor_start, anchor_end = strip_anchors(pattern)
    pattern, excluded = strip_exclusions(pattern)
    parsed = parse_pattern(pattern)
    mode, skip_step = _parse_after_match(after_match, parsed)
    # a QUANTIFIED alternation group compiles to one OR-predicate Kleene
    # step (round 9) — it rides the single-plan path, not the branch union
    has_alt = any(
        isinstance(var, tuple) and not (q is not None and q[0] == "kleene")
        for var, q in parsed
    )
    has_rel = any(q is not None and q[0] == "reluctant" for _, q in parsed)
    specialties = sum(
        (bool(iter_define), has_alt, has_rel, mode == "skip_to")
    )
    if specialties > 1:
        raise ValueError(
            "one specialty per spec: iter_define, a reluctant quantifier, "
            "an alternation group, and SKIP TO FIRST/LAST each pick a "
            "dedicated engine compile and do not compose with each other"
        )
    # A GREEDY quantifier on the FINAL variable composes with SKIP PAST
    # LAST / $ on the single-plan path (round 9 second pass: the engine
    # surfaces the run-last repetition's id as end_id, and run-last ends
    # are monotone in anchor order under skip-till-next, so the fold's
    # completion-order replay holds). Reluctant trailing quantifiers and
    # the specialty routes still raise with the real reason (ADVICE r8).
    last_q = parsed[-1][1]
    if (
        last_q is not None
        and last_q[0] in ("kleene", "reluctant")
        and (mode == "skip_past_last" or anchor_end)
    ):
        if last_q[0] == "reluctant":
            if anchor_end or specialties > 1:
                raise ValueError(
                    "a RELUCTANT quantifier on the final PATTERN "
                    "variable does not compose with a trailing $ anchor "
                    "(the minimum count need not reach the partition's "
                    "last row) — end the pattern with a plain variable"
                )
            # trailing reluctant under SKIP PAST LAST is EXACTLY the
            # exact-count run times(mn, mn) (round 9 second pass): with
            # no suffix after the run, the lazy preference always picks
            # the MINIMUM count — for a shared entry the mn-th repetition
            # precedes every later one, and a larger count's entry can
            # only move later (avail >= m is harder) — and the engine's
            # entry rule (earliest entry with avail >= mn) is the
            # times(mn, mn) binding itself. Rewrite and take the
            # single-plan trailing-run path.
            v, q = parsed[-1]
            if q[1] < 1:
                # (round-9 ADVICE) mn == 0 would rewrite to times(0, 0),
                # whose lead(ts, -1) run-last is silently wrong — the
                # degenerate zero-count run has no single-plan shape
                raise ValueError(
                    "a trailing RELUCTANT quantifier under SKIP PAST "
                    f"LAST needs a minimum count >= 1 (got {{{q[1]},"
                    f"{q[2]}}}?) — a zero-count lazy run matches the "
                    "empty sequence; drop the variable or write {1,m}?"
                )
            parsed = parsed[:-1] + [(v, ("kleene", q[1], q[1]))]
            has_rel = any(
                qq is not None and qq[0] == "reluctant" for _, qq in parsed
            )
            specialties = sum(
                (bool(iter_define), has_alt, has_rel, mode == "skip_to")
            )
        if specialties:
            raise ValueError(
                "a quantifier on the final PATTERN variable composes "
                "with SKIP PAST LAST ROW / $ on the single-plan path "
                "only (the specialty engines' folds pin the end to a "
                "plain last step)"
            )
    if rows_per_match == "all":
        if has_rel:
            raise ValueError(
                "ALL ROWS PER MATCH does not compose with a reluctant "
                "quantifier (lazy runs multi-match per count — there is "
                "no single per-event row set)"
            )
        if (has_alt or iter_define or mode == "skip_to") and any(
            q is not None and q[0] == "kleene" for _v, q in parsed
        ):
            raise ValueError(
                "ALL ROWS over the specialty routes takes plain/optional "
                "variables (a quantified variable's run enumeration is "
                "single-plan only)"
            )
        if measures is not None:
            raise ValueError("MEASURES is the ONE ROW PER MATCH shape")

    run_aggs = {
        nm: c for nm, c in (measures or {}).items() if isinstance(c, RunAgg)
    }
    if run_aggs and specialties:
        raise ValueError(
            "RunAgg MEASURES compose with the single-plan path only "
            "(greedy quantified runs; the specialty engines don't carry "
            "run membership)"
        )
    wmap, vnames = dict(withins or {}), _var_names(parsed)
    # SUBSET union variables (ISO 9075-2 <row pattern subset clause>):
    # names must be fresh, members must be plain/optional/quantified
    # pattern variables (not groups), and they are MEASURES-side only —
    # a RunAgg may target one
    plain_names = {v for v, _q in parsed if not isinstance(v, tuple)}
    for uname, members in (subset or {}).items():
        if uname in plain_names:
            raise ValueError(
                f"SUBSET name {uname!r} collides with a PATTERN variable"
            )
        if not members:
            raise ValueError(f"SUBSET {uname!r} needs at least one member")
        bad = sorted(set(members) - plain_names)
        if bad:
            raise ValueError(
                f"SUBSET {uname!r} members must be PATTERN variables "
                f"(groups don't join a subset): {bad}"
            )
        if len(set(members)) != len(members):
            # ISO 9075-2 treats SUBSET members as a SET — a repeated
            # member would union its rows twice and silently double
            # count/sum run aggregates (round-9 ADVICE)
            raise ValueError(
                f"SUBSET {uname!r} repeats a member: {tuple(members)} — "
                "members form a set, list each variable once"
            )
    if subset and not run_aggs:
        raise ValueError(
            "SUBSET is consumed by RunAgg MEASURES (e.g. "
            "run_agg('sum', '<subset name>', col)) — pass one"
        )
    # round 11 lifts the LAST exclusion cells — reluctant and iterative
    # (r10 lifted SKIP TO and alternation/PERMUTE): ISO exclusion is pure
    # output shaping everywhere, so the reluctant engines drop the
    # excluded columns after their folds (two distinct per-count matches
    # whose visible projections then coincide emit as DUPLICATE rows —
    # faithful ONE-row semantics, each row is one match) and the
    # iterative route drops its payload columns with the variable.
    if (anchor_start or anchor_end) and specialties:
        raise ValueError("^ / $ anchors compose with the single-plan path only")

    # ---- iterative route (prefix-referencing DEFINE) -------------------
    if iter_define:
        if any(
            (q is not None and q[0] != "kleene") or isinstance(var, tuple)
            for var, q in parsed
        ):
            # round 9 lifts greedy quantifiers onto this route (the
            # session-refined run step of pattern_detect_iterative);
            # optional/reluctant/group tokens stay out
            raise ValueError(
                "iter_define composes with plain and GREEDY-quantified "
                "variables (optional/reluctant/alternation tokens don't)"
            )
        unknown = sorted(set(iter_define) - set(vnames))
        if unknown:
            raise ValueError(f"iter_define names unknown variables: {unknown}")
        steps, _ = _steps_and_sets(parsed, define, wmap, default_within)
        pay = dict(payload or {})
        # a quantified variable's binder exposes its ENTRY row (the
        # iterative condition admits the entry; the run then follows the
        # within-gap session — pattern_detect_iterative's documented
        # split) plus last_ts/n for LATER variables' conditions
        binder = {
            v: {
                "ts": F.col(f"t{k}"),
                "id": F.col(f"i{k}"),
                **(
                    {"last_ts": F.col(f"t{k}_last"), "n": F.col(f"n{k}")}
                    if parsed[k - 1][1] is not None
                    else {}
                ),
                **{nm: F.col(f"{nm}{k}") for nm in pay},
            }
            for k, v in enumerate(vnames, start=1)
        }
        conds = {
            k: iter_define[v](binder)
            for k, v in enumerate(vnames, start=1)
            if v in iter_define
        }
        if 1 in conds:
            raise ValueError(
                "the first variable has no prefix to reference — put its "
                "self-row predicate in DEFINE"
            )
        n = len(parsed)
        out = pattern_detect_iterative(
            events, key=partition_by, steps=steps, payload=pay, conds=conds,
            event_id=event_id, ts=order_by,
        )
        if within_overall is not None:
            # Flink's overall within (Pattern.within / SQL WITHIN): a
            # candidate whose END exceeds anchor + bound is NOT a match,
            # so it is pruned BEFORE any skip fold
            end_t = (
                F.col(f"t{len(parsed)}_last")
                if parsed[-1][1] is not None
                else F.col(f"t{len(parsed)}")
            )
            out = out.filter(end_t <= F.col("t1") + F.expr(within_overall))
        if mode == "skip_past_last":
            out = after_match_skip_past_last(
                out, key=partition_by, anchor_ts="t1", anchor_id="i1",
                end_ts=f"t{n}", end_id=f"i{n}",
            )
        out = out.withColumn("anchor_id", F.col("i1"))
        if rows_per_match == "all":
            # plain iterative chains: one row per bound event, a
            # stateless explode of the compile-time (seq, var) layout
            # (round 9 second pass — same shape as the alternation route;
            # round 11: excluded variables leave the per-event output,
            # the single-plan rule)
            return _explode_plain_rows(out, vnames, partition_by, excluded)
        if mode == "skip_past_last":
            out = out.withColumn("end_id", F.col(f"i{n}"))
        var_cols = []
        renames: dict[str, str] = {}
        for k, v in enumerate(vnames, start=1):
            renames[f"t{k}"] = f"{v}_ts"
            if parsed[k - 1][1] is not None:
                renames[f"t{k}_last"] = f"{v}_last_ts"
                renames[f"n{k}"] = f"{v}_n"
            for nm in pay:
                renames[f"{nm}{k}"] = f"{nm}_{v}"
            if v in excluded:
                # round 11: exclusion drops the variable's columns AND
                # its payload columns — the same stateless shaping as
                # everywhere else
                continue
            var_cols.append(f"{v}_ts")
            if parsed[k - 1][1] is not None:
                var_cols += [f"{v}_last_ts", f"{v}_n"]
        out = out.withColumnsRenamed(renames)
        out = out.select(
            partition_by, "anchor_id",
            *var_cols,
            *[
                f"{nm}_{v}"
                for v in vnames
                if v not in excluded
                for nm in pay
            ],
            *(["end_id"] if mode == "skip_past_last" else []),
        )
        return _measures(out, partition_by, measures)

    # ---- reluctant route (lazy quantifier) ------------------------------
    if has_rel:
        from flink_uba_spark.operators.sequence import (
            pattern_detect_reluctant_enum,
        )

        steps, optional = _steps_and_sets(parsed, define, wmap, default_within)
        rel = {
            k for k, (_v, q) in enumerate(parsed, start=1)
            if q is not None and q[0] == "reluctant"
        }
        uncapped = any(
            q[2] is None for _v, q in parsed
            if q is not None and q[0] == "reluctant"
        )
        # the canonical 3-step shape (plain anchor → B{mn,mx}? → plain
        # suffix) routes to the COUNT-ENUMERATION engine (round 9): one
        # session pass derives every count's binding — no per-count
        # plans, and the cap may be absent (B+? / B{n,}?)
        enum_ok = (
            len(parsed) == 3
            and rel == {2}
            and parsed[0][1] is None
            and parsed[2][1] is None
            and not isinstance(parsed[0][0], tuple)
            and not isinstance(parsed[2][0], tuple)
        )
        folded = False
        if enum_ok:
            # under SKIP PAST LAST the lazy preference + horizon walk
            # run IN-KERNEL (round 9 second pass: two exchanges and a
            # second pandas fold cheaper than the window pipeline) —
            # unless an overall WITHIN is set (round 10): the bound must
            # prune candidates before the fold, so that combination
            # takes the window pipeline, whose pre-fold filter is
            # expressible
            folded = mode == "skip_past_last" and within_overall is None
            out = pattern_detect_reluctant_enum(
                events, key=partition_by, steps=steps,
                event_id=event_id, ts=order_by,
                with_end_id=(mode == "skip_past_last"),
                lazy_fold=folded,
            ).filter(F.col("state") == "matched")
        else:
            if uncapped:
                raise ValueError(
                    "an uncapped reluctant quantifier (B+? / B{n,}?) is "
                    "served by the count-enumeration engine, which takes "
                    "the 3-variable shape anchor B? suffix (plain anchor "
                    "and suffix); write a finite cap for other shapes"
                )
            out = pattern_detect_reluctant(
                events, key=partition_by, steps=steps, reluctant=rel,
                event_id=event_id, ts=order_by,
                with_end_id=(mode == "skip_past_last"),
            ).filter(F.col("state") == "matched")
        n = len(parsed)
        if within_overall is not None:
            # overall WITHIN (round 10 — the r9 raise lifted): the bound
            # depends only on the END ts (the anchor is fixed per
            # candidate group), so violating candidates are a SUFFIX of
            # each anchor's end-ordered candidate list — pruning here is
            # equivalent to pruning after the lazy preference pick, and
            # it must happen BEFORE the skip fold (a pruned candidate
            # never advances the horizon)
            _lqr = parsed[-1][1]
            _endr = (
                F.col(f"t{n}_last")
                if _lqr is not None and _lqr[0] in ("kleene", "reluctant")
                else F.col(f"t{n}")
            )
            out = out.filter(_endr <= F.col("t1") + F.expr(within_overall))
        if mode == "skip_past_last" and not folded:
            # SQL's lazy ONE-ROW semantics: per anchor the preferred match
            # binds as FEW repetitions as possible while still completing —
            # i.e. the candidate that completes EARLIEST (ties → smaller
            # count), then the non-overlap fold
            w = Window.partitionBy(partition_by, "anchor_id").orderBy(
                f"t{n}", "end_id", *[F.col(f"n{k}") for k in sorted(rel)]
            )
            out = (
                out.withColumn("__pref", F.row_number().over(w))
                .filter(F.col("__pref") == 1)
                .drop("__pref")
            )
            out = after_match_skip_past_last(out, key=partition_by)
        out = _rename(out.drop("max_step", "state"), parsed)
        # round 11: exclusion composes — a stateless column drop after
        # the fold; per-count multi-matches whose projections coincide
        # after the drop emit as duplicate rows (one row per match)
        out = _drop_excluded(out, excluded)
        return _measures(out, partition_by, measures)

    # ---- branch-union route (alternation and/or PERMUTE) -----------------
    if has_alt:
        from itertools import permutations as _permutations

        if any(
            isinstance(var, tuple) and q is not None and q[0] == "kleene"
            for var, q in parsed
        ):
            raise ValueError(
                "a quantified alternation group does not compose with a "
                "branch-union alternation/PERMUTE group in the same "
                "pattern (the group run rides the single-plan path)"
            )

        # per token: the list of FLAT expansions it contributes — an
        # alternation group contributes one chosen member, a PERMUTE
        # group one ordering of all members, a plain token itself
        token_options: list[list[list[tuple]]] = []
        group_tokens: dict[int, tuple] = {}
        for ti, (var, q) in enumerate(parsed):
            if isinstance(var, tuple) and q == ("permute",):
                group_tokens[ti] = ("permute", var)
                token_options.append(
                    [[(m, None) for m in perm] for perm in _permutations(var)]
                )
            elif isinstance(var, tuple):
                group_tokens[ti] = ("alt", var)
                token_options.append([[(m, None)] for m in var])
            else:
                token_options.append([[(var, q)]])
        n_branches = 1
        for opts_t in token_options:
            n_branches *= len(opts_t)
        if n_branches > 8:
            raise ValueError(
                f"alternation/PERMUTE compiles one plan per combination; "
                f"{n_branches} branches exceed the 8-plan envelope"
            )
        all_vars = [
            v for var, _q in parsed
            for v in (var if isinstance(var, tuple) else (var,))
        ]
        with_end = mode == "skip_past_last"
        branches = None
        for bi, combo in enumerate(_product(*token_options)):
            flat: list[tuple] = [e for part in combo for e in part]
            fparsed = flat
            steps, optional = _steps_and_sets(
                fparsed, define, wmap, default_within
            )
            b = pattern_detect(
                events, key=partition_by, steps=steps, event_id=event_id,
                ts=order_by, optional=optional or None, with_end_id=with_end,
                with_step_ids=(rows_per_match == "all"),
            ).filter(F.col("state") == "matched")
            if within_overall is not None:
                # overall within prunes BEFORE the leftmost-preference
                # pick: a violating branch candidate is not a match
                _bq = fparsed[-1][1]
                _bend = (
                    F.col(f"t{len(fparsed)}_last")
                    if _bq is not None and _bq[0] == "kleene"
                    else F.col(f"t{len(fparsed)}")
                )
                b = b.filter(_bend <= F.col("t1") + F.expr(within_overall))
            # remap positions onto the var universe: every var gets its
            # `<var>_ts` column (null when the branch never binds it)
            pos_of = {v: p for p, (v, _q) in enumerate(fparsed, start=1)}
            sel = [F.col(partition_by), F.col("anchor_id")]
            if rows_per_match == "all":
                # ALL ROWS over a branch: the branch's bound events as
                # one array column — positions/names are compile-time
                # constants per branch, so the whole projection is
                # stateless; CLASSIFIER() is each row's var name
                entries = [
                    F.struct(
                        F.lit(p).cast("long").alias("seq"),
                        F.lit(v).alias("var"),
                        F.col(f"i{p}").alias("event_id"),
                        F.col(f"t{p}").alias("ts"),
                    )
                    for p, (v, _q) in enumerate(fparsed, start=1)
                ]
                sel.append(F.array(*entries).alias("__rows"))
            else:
                for v in all_vars:
                    p = pos_of.get(v)
                    if p is None:
                        sel.append(F.lit(None).cast("timestamp").alias(f"{v}_ts"))
                    else:
                        sel.append(F.col(f"t{p}").alias(f"{v}_ts"))
                        _q = fparsed[p - 1][1]
                        if _q is not None and _q[0] == "kleene":
                            sel.append(F.col(f"t{p}_last").alias(f"{v}_last_ts"))
                            sel.append(F.col(f"n{p}").alias(f"{v}_n"))
                for ti, (kind, members) in sorted(group_tokens.items()):
                    label = (
                        ",".join(v for v in (x[0] for x in combo[ti]))
                        if kind == "permute"
                        else combo[ti][0][0]
                    )
                    sel.append(F.lit(label).alias(f"classifier_{ti + 1}"))
            if with_end:
                # the match END position's var differs per PERMUTE branch
                # — carry explicit anchor/end columns for the fold
                sel.append(F.col("t1").alias("__anchor_ts"))
                sel.append(F.col(f"t{len(fparsed)}").alias("__end_ts"))
                sel.append(F.col("end_id"))
            b = b.select(*sel).withColumn("__branch", F.lit(bi))
            branches = b if branches is None else branches.unionByName(b)
        # lexicographic preference (ISO 9075-2: leftmost alternative;
        # PERMUTE = alternation over permutations in listed order): per
        # anchor the lowest branch index that matched wins
        w = Window.partitionBy(partition_by, "anchor_id").orderBy("__branch")
        out = (
            branches.withColumn("__pref", F.row_number().over(w))
            .filter(F.col("__pref") == 1)
            .drop("__pref", "__branch")
        )
        if mode == "skip_past_last":
            out = after_match_skip_past_last(
                out, key=partition_by,
                anchor_ts="__anchor_ts", end_ts="__end_ts",
            ).drop("__anchor_ts", "__end_ts")
        if rows_per_match == "all":
            # one output row per bound event of the winning branch
            # (skipped optionals carry null ts and are filtered, as on
            # the single-plan route; excluded variables' rows leave the
            # output — round 10, the single-plan ALL ROWS rule)
            if excluded and not (set(all_vars) - excluded):
                raise ValueError(
                    "ALL ROWS PER MATCH needs at least one non-excluded "
                    "variable"
                )
            rows_out = (
                out.select(
                    partition_by, "anchor_id",
                    F.explode("__rows").alias("__e"),
                )
                .select(
                    partition_by, "anchor_id",
                    "__e.seq", "__e.var", "__e.event_id", "__e.ts",
                )
                .filter(F.col("ts").isNotNull())
            )
            if excluded:
                rows_out = rows_out.filter(~F.col("var").isin(*excluded))
            return rows_out
        out = _drop_excluded(out, excluded)
        return _measures(out, partition_by, measures)

    # ---- SKIP TO FIRST/LAST route ----------------------------------------
    if mode == "skip_to":
        if any(q is not None for _, q in parsed):
            raise ValueError(
                "SKIP TO FIRST/LAST runs on plain chains (each variable "
                "binds exactly one event, so FIRST ≡ LAST)"
            )
        steps, _ = _steps_and_sets(parsed, define, wmap, default_within)
        n = len(parsed)
        out = pattern_detect(
            events, key=partition_by, steps=steps, event_id=event_id,
            ts=order_by, with_step_ids=True,
        ).filter(F.col("state") == "matched").drop("max_step", "state")
        if within_overall is not None:
            out = out.filter(
                F.col(f"t{n}") <= F.col("t1") + F.expr(within_overall)
            )
        out = after_match_skip_to_first(out, key=partition_by, step=skip_step)
        if rows_per_match == "all":
            # plain chains by construction — stateless per-event explode
            # over the folded matches (round 9 second pass)
            return _explode_plain_rows(out, vnames, partition_by, excluded)
        out = out.withColumn("end_id", F.col(f"i{n}")).drop(
            *[f"i{k}" for k in range(1, n + 1)]
        )
        out = _drop_excluded(_rename(out, parsed), excluded)
        return _measures(out, partition_by, measures)

    # ---- single-plan path --------------------------------------------
    steps, optional = _steps_and_sets(parsed, define, wmap, default_within)
    out = pattern_detect(
        events,
        key=partition_by,
        steps=steps,
        event_id=event_id,
        ts=order_by,
        optional=optional or None,
        with_end_id=(mode == "skip_past_last" or anchor_end),
        with_step_ids=(rows_per_match == "all" or bool(run_aggs)),
    ).filter(F.col("state") == "matched")
    if within_overall is not None:
        # Flink's overall within (Pattern.within / SQL WITHIN): the
        # match's END — a trailing run's LAST repetition — must sit
        # within the bound of the ANCHOR; violating candidates are not
        # matches, so they prune BEFORE the anchors/skip machinery
        _lq2 = parsed[-1][1]
        _end2 = (
            F.col(f"t{len(parsed)}_last")
            if _lq2 is not None and _lq2[0] == "kleene"
            else F.col(f"t{len(parsed)}")
        )
        out = out.filter(_end2 <= F.col("t1") + F.expr(within_overall))
    # partition anchors filter CANDIDATES (a non-qualifying match never
    # exists, so it never advances the skip horizon); extremes are per-key
    # min_by/max_by over the RAW partition rows in (ts, id) order
    if anchor_start:
        first = events.groupBy(partition_by).agg(
            F.min_by(
                F.col(event_id), F.struct(F.col(order_by), F.col(event_id))
            ).alias("__first_id")
        )
        out = (
            out.join(first, partition_by)
            .filter(F.col("anchor_id") == F.col("__first_id"))
            .drop("__first_id")
        )
    if anchor_end:
        last = events.groupBy(partition_by).agg(
            F.max_by(
                F.col(event_id), F.struct(F.col(order_by), F.col(event_id))
            ).alias("__last_id")
        )
        out = (
            out.join(last, partition_by)
            .filter(F.col("end_id") == F.col("__last_id"))
            .drop("__last_id")
        )
    if mode == "skip_past_last":
        # a trailing Kleene run's match END is its run-last repetition —
        # the fold walks (t{n}_last, end_id) then (round 9)
        _lq = parsed[-1][1]
        _trailing_run = _lq is not None and _lq[0] == "kleene"
        out = after_match_skip_past_last(
            out,
            key=partition_by,
            end_ts=f"t{len(parsed)}_last" if _trailing_run else None,
        )
    elif anchor_end:
        out = out.drop("end_id")
    if rows_per_match == "all":
        plain = [
            F.struct(
                F.lit(k).cast("long").alias("seq"),
                F.lit(vnames[k - 1]).alias("var"),
                F.col(f"i{k}").alias("event_id"),
                F.col(f"t{k}").alias("ts"),
            )
            for k, (_var, q) in enumerate(parsed, start=1)
            if not (q is not None and q[0] == "kleene")
            and vnames[k - 1] not in excluded
        ]
        if not plain:
            # ADVICE r8: an all-quantified/all-excluded pattern would
            # build F.array() with zero struct entries and fail analysis
            # with an opaque cannot-resolve-explode error
            raise ValueError(
                "ALL ROWS PER MATCH needs at least one non-excluded "
                "plain/optional variable (a pattern whose every variable "
                "is quantified or excluded emits no per-event row shape)"
            )
        rows = (
            out.select(partition_by, "anchor_id", F.explode(F.array(*plain)).alias("__e"))
            .select(
                partition_by, "anchor_id",
                "__e.seq", "__e.var", "__e.event_id", "__e.ts",
            )
            .filter(F.col("ts").isNotNull())
        )
        # quantified variables enumerate their RUN: the run is the
        # n{k}-prefix of the step's rows from the bound entry in the run
        # machinery's (ts, id) order, so membership is a band join back
        # to the input — (ts, id) >= entry, ts <= run_last, row_number
        # <= n{k}; fan-out bounded by run length (≤ cap / within-gap
        # session size), no cross-key work
        for k, (var, q) in enumerate(parsed, start=1):
            if isinstance(var, tuple):
                # quantified group: OR-predicate run, CLASSIFIER names
                # the leftmost member matching each repetition (ISO's
                # per-repetition alternative)
                vname = "_".join(var)
                pred, _w = _group_pred_within(var, define, wmap, default_within)
                label = F.coalesce(
                    *[F.when(define[m], F.lit(m)) for m in var]
                )
            else:
                vname, pred, label = var, None, F.lit(var)
            if not (q is not None and q[0] == "kleene") or vname in excluded:
                continue
            m = out.filter(F.col(f"t{k}").isNotNull()).select(
                F.col(partition_by).alias("__mk"),
                F.col("anchor_id"),
                F.col(f"t{k}").alias("__t0"),
                F.col(f"i{k}").alias("__i0"),
                F.col(f"t{k}_last").alias("__tl"),
                F.col(f"n{k}").alias("__n"),
            )
            leg = events.filter(
                pred if pred is not None else define[var]
            ).select(
                F.col(partition_by).alias("__ek"),
                F.col(event_id).alias("__eid"),
                F.col(order_by).alias("__ets"),
                label.alias("__lbl"),
            )
            j = m.join(
                leg,
                (F.col("__mk") == F.col("__ek"))
                & (
                    (F.col("__ets") > F.col("__t0"))
                    | (
                        (F.col("__ets") == F.col("__t0"))
                        & (F.col("__eid") >= F.col("__i0"))
                    )
                )
                & (F.col("__ets") <= F.col("__tl")),
            )
            wr = Window.partitionBy("__mk", "anchor_id").orderBy("__ets", "__eid")
            run_rows = (
                j.withColumn("__rn", F.row_number().over(wr))
                .filter(F.col("__rn") <= F.col("__n"))
                .select(
                    F.col("__mk").alias(partition_by),
                    "anchor_id",
                    F.lit(k).cast("long").alias("seq"),
                    F.col("__lbl").alias("var"),
                    F.col("__eid").alias("event_id"),
                    F.col("__ets").alias("ts"),
                )
            )
            rows = rows.unionByName(run_rows)
        return rows
    if run_aggs:
        out = _attach_run_aggregates(
            out, events, parsed, define, run_aggs,
            partition_by, order_by, event_id, subset=subset,
            withins_map=wmap, default_within_val=default_within,
        ).drop(*[f"i{k}" for k in range(1, len(parsed) + 1)])
    out = _rename(out.drop("max_step", "state"), parsed)
    if excluded:
        out = out.drop(
            *[c for v in excluded for c in (f"{v}_ts", f"{v}_last_ts", f"{v}_n")]
        )
    return _measures(out, partition_by, measures)


def _stream_reluctant(
    events, partition_by, order_by, parsed, define, wmap, default_within,
    measures, event_id, rel, within_overall=None, excluded=None,
):
    """Reluctant streaming compile: the per-count NFAs packed into ONE
    stateful operator over ONE source scan (stream_pattern_detect_fused;
    the r7 shape ran one streaming query per count). ``within_overall``
    (round 10) is a STATELESS post-filter here: per-count matches emit
    independently under NO SKIP — there is no cross-candidate fold a
    pruned row could corrupt."""
    from itertools import product as _product

    from flink_uba_spark.streaming.pattern import (
        _interval_us,
        pattern_output_schema,
        stream_pattern_detect_fused,
    )

    steps, optional = _steps_and_sets(parsed, define, wmap, default_within)
    if optional:
        raise ValueError("reluctant + optional does not compose on the stream")
    n = len(steps)
    counts: list[list[int]] = []
    for k in sorted(rel):
        lo, hi = steps[k - 1][2]
        if hi == float("inf"):
            raise ValueError(
                "a reluctant quantifier STREAMS with a finite cap only "
                "(one NFA per count in the fused operator); uncapped "
                "B+? is batch-only via the count-enumeration engine"
            )
        counts.append(list(range(int(lo), int(hi) + 1)))
    n_branches = 1
    for c in counts:
        n_branches *= len(c)
    if n_branches > 8:
        raise ValueError(
            f"{n_branches} count branches exceed the 8-NFA envelope"
        )
    withins_us = [
        None if s[1] is None else _interval_us(s[1]) for s in steps
    ]
    kl_shape = [
        (withins_us[k - 1], 1, 1) if (k in rel or len(steps[k - 1]) > 2 and steps[k - 1][2] is not None) else None
        for k in range(1, n + 1)
    ]
    schema = pattern_output_schema(
        n, [None if k is None else (k[0], k[1]) for k in kl_shape]
    )
    cols = [f.name for f in schema.fields]

    def ident(frame):
        return frame[cols]

    branches = []
    for combo in _product(*counts):
        by_step = dict(zip(sorted(rel), combo))
        kleenes = []
        for k in range(1, n + 1):
            if k in by_step:
                m = by_step[k]
                kleenes.append((withins_us[k - 1], m, m))
            elif len(steps[k - 1]) > 2 and steps[k - 1][2] is not None:
                lo, hi = steps[k - 1][2]
                kleenes.append(
                    (withins_us[k - 1],
                     None if hi == float("inf") else int(hi), int(lo))
                )
            else:
                kleenes.append(None)
        branches.append(
            {
                "engine": "chain",
                "slots": [f"p{j}" for j in range(1, n + 1)],
                "withins_us": withins_us,
                "kleenes": kleenes,
                "project": ident,
            }
        )
    out = stream_pattern_detect_fused(
        events,
        key=partition_by,
        flags={f"p{j}": steps[j - 1][0] for j in range(1, n + 1)},
        branches=branches,
        output_schema=schema,
        event_id=event_id,
        ts=order_by,
    )
    out = out.filter(F.col("state") == "matched")
    if within_overall is not None:
        _lqf = parsed[-1][1]
        _endf = (
            F.col(f"t{len(parsed)}_last")
            if _lqf is not None and _lqf[0] in ("kleene", "reluctant")
            else F.col(f"t{len(parsed)}")
        )
        out = out.filter(_endf <= F.col("t1") + F.expr(within_overall))
    if partition_by != "user_id":
        out = out.withColumnRenamed("user_id", partition_by)
    out = _rename(out.drop("max_step", "state"), parsed)
    # round 11: exclusion is a stateless drop after the per-count fold;
    # projections that coincide across counts emit as duplicate rows
    out = _drop_excluded(out, excluded)
    return _measures(out, partition_by, measures)


def _stream_alternation(
    events, partition_by, order_by, parsed, define, wmap, default_within,
    measures, event_id, excluded=None, within_overall=None,
):
    """Streaming alternation/PERMUTE (round 9): the batch branch-union
    compile's B plain-chain plans packed into ONE stateful operator
    (``stream_pattern_detect_preferred`` = ``make_fused_matcher`` + the
    watermark-final min-branch preference fold), then a stateless CASE
    projection maps chain positions back onto variables/CLASSIFIERs.
    ``excluded`` (round 10) drops the exclusion columns after it;
    ``within_overall`` (round 10 second pass) prunes completions inside
    the preference operator BEFORE the leftmost pick — the batch
    route's per-branch pre-union filter."""
    from itertools import permutations as _permutations
    from itertools import product as _product2

    from flink_uba_spark.streaming.pattern import (
        _interval_us,
        stream_pattern_detect_preferred,
    )

    token_options: list[list[list[str]]] = []
    group_tokens: dict[int, tuple] = {}
    for ti, (var, q) in enumerate(parsed):
        if q is not None and not isinstance(var, tuple):
            raise ValueError(
                "streaming alternation/PERMUTE composes with plain "
                "variables only (the preference fold's horizon needs "
                "single-event steps)"
            )
        if isinstance(var, tuple) and q == ("permute",):
            group_tokens[ti] = ("permute", var)
            token_options.append([list(p) for p in _permutations(var)])
        elif isinstance(var, tuple):
            group_tokens[ti] = ("alt", var)
            token_options.append([[m] for m in var])
        else:
            token_options.append([[var]])
    n_branches = 1
    for opts_t in token_options:
        n_branches *= len(opts_t)
    if n_branches > 8:
        raise ValueError(
            f"{n_branches} branches exceed the 8-NFA envelope"
        )
    all_vars = [
        v for var, _q in parsed
        for v in (var if isinstance(var, tuple) else (var,))
    ]
    branches: list[list[str]] = []
    for combo in _product2(*token_options):
        branches.append([v for part in combo for v in part])
    n = len(branches[0])
    flags = {f"f_{v}": define[v] for v in all_vars}
    slots, withins_us = [], []
    for flat in branches:
        slots.append([f"f_{v}" for v in flat])
        ws = [None]
        for v in flat[1:]:
            w = wmap.get(v, default_within)
            ws.append(None if w is None else _interval_us(w))
        withins_us.append(ws)
    out = stream_pattern_detect_preferred(
        events,
        key=partition_by,
        flags=flags,
        branch_slots=slots,
        withins_us=withins_us,
        event_id=event_id,
        ts=order_by,
        within_overall=within_overall,
    )
    sel = [
        F.col("user_id").alias(partition_by)
        if partition_by != "user_id" else F.col("user_id"),
        F.col("anchor_id"),
    ]
    for v in all_vars:
        expr = None
        for bi, flat in enumerate(branches):
            if v in flat:
                p = flat.index(v) + 1
                cond, val = F.col("__branch") == bi, F.col(f"t{p}")
                expr = (
                    F.when(cond, val) if expr is None else expr.when(cond, val)
                )
        sel.append(
            (expr if expr is not None else F.lit(None).cast("timestamp"))
            .alias(f"{v}_ts")
        )
    for ti, (kind, members) in sorted(group_tokens.items()):
        lbl = None
        for bi, combo in enumerate(_product2(*token_options)):
            label = ",".join(combo[ti]) if kind == "permute" else combo[ti][0]
            cond = F.col("__branch") == bi
            lbl = (
                F.when(cond, F.lit(label)) if lbl is None
                else lbl.when(cond, F.lit(label))
            )
        sel.append(lbl.alias(f"classifier_{ti + 1}"))
    out = _drop_excluded(out.select(*sel), excluded)
    if measures is not None:
        out = out.select(
            partition_by, *[c.alias(nm) for nm, c in measures.items()]
        )
    return out


def _stream_skip_to(
    events, partition_by, order_by, parsed, define, wmap, default_within,
    measures, event_id, skip_step, within_overall=None, excluded=None,
    rows_per_match="one",
):
    """Streaming SKIP TO FIRST/LAST (round 9): plain-chain candidates +
    the ≥-horizon replay, watermark-driven (see
    streaming/skip_replay.py for the decidability contract). Round 10:
    ``within_overall`` prunes candidates inside the replayer (before the
    fold); ``excluded`` drops the exclusion columns (output shaping).
    Round 12: ``rows_per_match="all"`` emits per-BOUND-EVENT rows — the
    chain replayer's candidates ARE the per-step ids, so the explode is
    in-operator and the batch (seq, var) projection applies after."""
    from flink_uba_spark.streaming.skip_replay import (
        stream_quantified_chain_detect,
    )

    steps, _ = _steps_and_sets(parsed, define, wmap, default_within)
    out = stream_quantified_chain_detect(
        events, key=partition_by, steps=steps, mode="skip_to",
        skip_step=skip_step, event_id=event_id, ts=order_by,
        within_overall=within_overall, all_rows=(rows_per_match == "all"),
    )
    if rows_per_match == "all":
        return _stream_all_rows_project(
            out, _var_names(parsed), partition_by, excluded
        )
    if partition_by != "user_id":
        out = out.withColumnRenamed("user_id", partition_by)
    out = _drop_excluded(_rename(out, parsed), excluded)
    return _measures(out, partition_by, measures)


def _stream_all_rows_project(
    out: DataFrame, vnames, partition_by: str, excluded=frozenset()
) -> DataFrame:
    """Map a replayer's per-event rows (round 12) onto the batch
    ALL-ROWS shape: ``var`` (CLASSIFIER) is the step's compile-time
    name — a stateless array lookup on ``seq`` — and excluded
    variables' rows leave the output (the single-plan rule)."""
    if excluded and not (set(vnames) - set(excluded)):
        raise ValueError(
            "ALL ROWS PER MATCH needs at least one non-excluded variable"
        )
    if partition_by != "user_id":
        out = out.withColumnRenamed("user_id", partition_by)
    var_col = F.element_at(
        F.array(*[F.lit(v) for v in vnames]), F.col("seq").cast("int")
    )
    out = out.select(
        partition_by, "anchor_id", "seq", var_col.alias("var"),
        "event_id", "ts",
    )
    if excluded:
        out = out.filter(~F.col("var").isin(*excluded))
    return out


def _numeric_value_type(events: DataFrame, col):
    """Resolve a RunAgg value Column's dtype against the input schema →
    ``(DataType, integral)``; non-numeric raises (the stream carries
    values as float64 — exact for integrals < 2^53)."""
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    c = F.col(col) if isinstance(col, str) else col
    dt = events.select(c.alias("__v")).schema[0].dataType
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return dt, True
    if isinstance(dt, (FloatType, DoubleType)):
        return dt, False
    raise ValueError(
        "stream value RunAgg takes a NUMERIC value column (got "
        f"{dt.simpleString()}); timestamps navigate via the FIRST/LAST "
        "run-boundary columns the NFA already emits"
    )


def _stream_value_measures(
    events, partition_by, order_by, parsed, define, wmap, default_within,
    measures, after_match, event_id, subset, excluded, within_overall,
    iter_define_py=None,
):
    """VALUE RunAgg MEASURES as a continuous query (round 12 — VERDICT
    r11 item 2). COUNT already rewrites to the engines' own columns
    (round 11); SUM/AVG/MIN/MAX and offset FIRST/LAST need run
    MEMBERSHIP, which batch recovers with a band join
    (``_attach_run_aggregates``) and the stream carries in the
    QUANTIFIED-CHAIN REPLAYER (streaming/skip_replay.py): every run is
    re-derived from the buffered rows, so declared value columns ride
    the buffer (state field ``vals``) and each aggregate is computed
    EXACTLY over the bound slice in-operator, then projected.

    Routing: single-plan shapes only (plain anchor, capped greedy runs
    at any position, interior optionals; finite withins — the replay
    horizon) under SKIP PAST LAST (the ``past_last`` fold) or NO SKIP
    (``mode="no_skip"`` — every anchor's candidate, matching the
    data-driven batch emission). Specialty engines raise exactly as
    batch (RunAgg composes with the single-plan path only). SUBSET
    unions compose for sum/min/max/avg: the members' per-step partials
    combine STATELESSLY after the fold (a union's total is the sum of
    member partial sums, its min the least of member mins); offset
    FIRST/LAST over a union needs the merged (ts, id) row order across
    members — batch-only, with the raise saying so."""
    mode, _ = _parse_after_match(after_match, parsed)
    if mode == "skip_to":
        raise ValueError(
            "stream value RunAgg MEASURES run under SKIP PAST LAST ROW "
            "or NO SKIP (SKIP TO FIRST/LAST is a plain-chain fold whose "
            "replayer carries no value state); use the batch "
            "match_recognize"
        )
    if iter_define_py:
        raise ValueError(
            "RunAgg MEASURES compose with the single-plan path only "
            "(the iterative engine does not carry run membership)"
        )
    # trailing reluctant under SKIP PAST LAST rewrites to times(mn, mn)
    # first — the batch rule (no suffix → lazy always binds the minimum)
    _lq = parsed[-1][1]
    if (
        mode == "skip_past_last"
        and _lq is not None
        and _lq[0] == "reluctant"
        and not any(isinstance(v, tuple) for v, _q in parsed)
        and all(q is None for _v, q in parsed[:-1])
    ):
        if _lq[1] < 1:
            raise ValueError(
                "a trailing RELUCTANT quantifier under SKIP PAST LAST "
                "needs a minimum count >= 1"
            )
        v0, _ = parsed[-1]
        parsed = parsed[:-1] + [(v0, ("kleene", _lq[1], _lq[1]))]
    if (
        any(isinstance(v, tuple) for v, _q in parsed)
        or any(q is not None and q[0] == "reluctant" for _v, q in parsed)
    ):
        raise ValueError(
            "stream value RunAgg MEASURES compose with the single-plan "
            "path only (single variables with capped greedy quantifiers; "
            "alternation/PERMUTE groups and reluctant multi-match are "
            "batch-only for value aggregates)"
        )
    if any(
        q is not None and q[0] == "kleene" and q[2] is None
        for _v, q in parsed
    ):
        raise ValueError(
            "stream value RunAgg MEASURES need FINITE caps on every run "
            "(mx*gap is part of the replay horizon) — write the cap or "
            "use the batch match_recognize"
        )

    kinds: dict[str, tuple | None] = {
        v: q for v, q in parsed if not isinstance(v, tuple)
    }
    step_of = {v: k for k, (v, _q) in enumerate(parsed, start=1)
               if not isinstance(v, tuple)}
    plain_names = set(kinds)
    for uname, members in (subset or {}).items():
        if uname in plain_names:
            raise ValueError(
                f"SUBSET name {uname!r} collides with a PATTERN variable"
            )
        if not members:
            raise ValueError(f"SUBSET {uname!r} needs at least one member")
        bad = sorted(set(members) - plain_names)
        if bad:
            raise ValueError(
                f"SUBSET {uname!r} members must be PATTERN variables "
                f"(groups don't join a subset): {bad}"
            )
        if len(set(members)) != len(members):
            raise ValueError(
                f"SUBSET {uname!r} repeats a member: {tuple(members)} — "
                "members form a set, list each variable once"
            )

    def _check_target(v):
        if v in (excluded or ()):
            raise ValueError(
                f"RunAgg over the EXCLUDED variable {v!r} is batch-only "
                "on the stream (exclusion drops the variable's columns "
                "before MEASURES here; batch attaches aggregates first)"
            )

    # value slots (deduped by expression text) + per-measure agg specs
    values: dict[str, Column] = {}
    slot_of_expr: dict[str, str] = {}
    val_dtype: dict[str, tuple] = {}

    def _slot(col):
        c = F.col(col) if isinstance(col, str) else col
        k = str(c)
        if k not in slot_of_expr:
            nm = f"val{len(values)}"
            slot_of_expr[k] = nm
            values[nm] = c
            val_dtype[nm] = _numeric_value_type(events, c)
        return slot_of_expr[k]

    agg_specs: list[tuple] = []
    post_plan: dict[str, tuple] = {}  # measure name -> combine plan
    for nm, spec in measures.items():
        if not isinstance(spec, RunAgg) or spec.func == "count":
            continue
        if subset and spec.var in subset:
            if spec.func in ("first", "last"):
                raise ValueError(
                    f"RunAgg {spec.func!r} over SUBSET {spec.var!r} is "
                    "batch-only on the stream (offset navigation needs "
                    "the union's merged (ts, id) row order — the batch "
                    "band join); sum/min/max/avg/count compose"
                )
            vslot = _slot(spec.col)
            part_names = []
            for i, m in enumerate(subset[spec.var]):
                _check_target(m)
                pn = f"__ra_{nm}_{i}"
                part_names.append(pn)
                pfunc = "sum" if spec.func == "avg" else spec.func
                agg_specs.append(
                    (step_of[m], vslot, pfunc, 0, pn,
                     val_dtype[vslot][1])
                )
            if spec.func == "avg":
                cnt_names = []
                for i, m in enumerate(subset[spec.var]):
                    cn = f"__ra_{nm}_c{i}"
                    cnt_names.append(cn)
                    agg_specs.append(
                        (step_of[m], vslot, "cnt", 0, cn, True)
                    )
                post_plan[nm] = ("subset_avg", part_names, cnt_names)
            else:
                post_plan[nm] = (
                    f"subset_{spec.func}", part_names, val_dtype[vslot][0]
                )
            continue
        if spec.var not in kinds:
            raise ValueError(f"RunAgg targets unknown variable {spec.var!r}")
        _check_target(spec.var)
        q = kinds[spec.var]
        if q is None or q[0] != "kleene":
            raise ValueError(
                f"RunAgg navigates a GREEDY-quantified variable's run or "
                f"a SUBSET union variable; {spec.var!r} is neither (plain "
                "variables project their bound row's columns directly)"
            )
        vslot = _slot(spec.col)
        dt, integral = val_dtype[vslot]
        out_integral = integral and spec.func != "avg"
        agg_specs.append(
            (step_of[spec.var], vslot, spec.func, spec.n, f"__ra_{nm}",
             out_integral)
        )
        post_plan[nm] = ("direct", f"__ra_{nm}",
                         None if spec.func in ("sum", "avg") else dt)

    from flink_uba_spark.streaming.skip_replay import (
        stream_quantified_chain_detect,
    )

    steps, optional = _steps_and_sets(parsed, define, wmap, default_within)
    out = stream_quantified_chain_detect(
        events, key=partition_by, steps=steps,
        event_id=event_id, ts=order_by,
        within_overall=within_overall,
        optional=optional or None,
        mode="no_skip" if mode == "no_skip" else "past_last",
        values=values, aggs=agg_specs,
    )
    if partition_by != "user_id":
        out = out.withColumnRenamed("user_id", partition_by)
    out = _rename(out, parsed)

    def _nn_reduce(cols, op):
        e = cols[0]
        for c in cols[1:]:
            e = op(e, c)
        return e

    count_rewrites = None
    sel = [F.col(partition_by)]
    for nm, spec in measures.items():
        if not isinstance(spec, RunAgg):
            sel.append(spec.alias(nm))
            continue
        if spec.func == "count":
            if count_rewrites is None:
                count_rewrites = _stream_run_agg_columns(
                    {n2: s2 for n2, s2 in measures.items()
                     if isinstance(s2, RunAgg) and s2.func == "count"},
                    parsed, subset, excluded,
                )
            sel.append(count_rewrites[nm].alias(nm))
            continue
        plan = post_plan[nm]
        if plan[0] == "direct":
            c = F.col(plan[1])
            sel.append((c if plan[2] is None else c.cast(plan[2])).alias(nm))
        elif plan[0] == "subset_sum":
            ps = [F.col(p) for p in plan[1]]
            any_nn = _nn_reduce([p.isNotNull() for p in ps],
                                lambda a, b: a | b)
            total = _nn_reduce([F.coalesce(p, F.lit(0)) for p in ps],
                               lambda a, b: a + b)
            sel.append(F.when(any_nn, total).alias(nm))
        elif plan[0] in ("subset_min", "subset_max"):
            ps = [F.col(p) for p in plan[1]]
            if len(ps) == 1:
                e = ps[0]
            elif plan[0] == "subset_min":
                e = F.least(*ps)  # least/greatest skip nulls
            else:
                e = F.greatest(*ps)
            sel.append(e.cast(plan[2]).alias(nm))
        else:  # subset_avg: Σ member sums / Σ member non-null counts
            ps = [F.coalesce(F.col(p), F.lit(0.0)) for p in plan[1]]
            cs = [F.coalesce(F.col(c), F.lit(0)) for c in plan[2]]
            total = _nn_reduce(ps, lambda a, b: a + b)
            cnt = _nn_reduce(cs, lambda a, b: a + b)
            sel.append(
                F.when(cnt > 0, total / cnt).alias(nm)
            )
    return out.select(*sel)


def stream_match_recognize(
    events: DataFrame,
    partition_by: str,
    order_by: str,
    pattern: str,
    define: dict,
    withins: dict[str, str] | None = None,
    default_within: str | None = None,
    measures: dict[str, Column] | None = None,
    after_match: str = "skip_past_last",
    event_id: str = "event_id",
    payload: dict[str, Column] | None = None,
    iter_define_py: dict | None = None,
    within_overall: str | None = None,
    subset: dict[str, tuple] | None = None,
    rows_per_match: str = "one",
) -> DataFrame:
    """The same spec as a continuous query (``stream_pattern_detect``).

    ``measures`` may hold ``RunAgg`` COUNT entries (and ``subset`` their
    union variables) — round 11: they rewrite to STATELESS column reads
    of the per-variable counts the NFA already emits
    (``_stream_run_agg_columns``); value aggregates keep the batch-only
    raise (run membership is the batch band join).

    ``rows_per_match="all"`` (round 11) STREAMS on the single-plan
    plain/optional routes: the NFA emits per-step bound ids
    (``with_step_ids``) and the same stateless explode as batch
    (``_explode_plain_rows``) produces the per-event rows. Quantified
    runs (the batch band join), the replay routes (no per-step ids) and
    MEASURES keep their raises.
    The in-NFA streaming skip fold serves plain chains; quantified and
    optional patterns under SKIP PAST LAST route to the chain replayer
    (``stream_quantified_chain_detect``: runs at ANY position and
    interior optional steps — finite caps/withins mandatory, they bound
    the replay horizon; a trailing reluctant quantifier rewrites to
    ``times(mn, mn)`` first, the batch rule). A RELUCTANT
    quantifier streams under ``no_skip`` (round 8: the per-count NFAs
    compile into ONE packed stateful operator,
    ``stream_pattern_detect_fused``) AND — round 9 — under the SQL
    default ``SKIP PAST LAST ROW`` on the 3-variable shape: the chain
    replayer walks the reluctant step once per count, keeps the lazy
    preference and runs the non-overlap horizon replay watermark-driven
    (``stream_quantified_chain_detect``). ``SKIP TO FIRST/LAST <var>``
    streams on plain chains (``stream_quantified_chain_detect``,
    ``mode="skip_to"``) with every within finite — the within sum is
    the replay horizon.
    Alternation/PERMUTE stream under NO SKIP via the preference-folded
    fused operator (round 9). Prefix-referencing DEFINE streams under
    NO SKIP through ``stream_pattern_detect_iterative`` (round 9 second
    pass): pass ``iter_define_py`` — variable →
    ``lambda prefix_pays, cand_pay`` over ``payload`` tuples, the
    engine's conds_py contract (the batch Column binder can't cross
    into the Arrow-side NFA)."""
    from flink_uba_spark.streaming.pattern import stream_pattern_detect

    if after_match not in ("skip_past_last", "no_skip") and not (
        len(after_match.split()) == 2
        and after_match.split()[0] in ("skip_to_first", "skip_to_last")
    ):
        raise ValueError(
            "AFTER MATCH: skip_past_last | no_skip | 'skip_to_first V' | "
            "'skip_to_last V'"
        )
    _p, a_start, a_end = strip_anchors(pattern)
    if a_start or a_end:
        raise ValueError(
            "^ / $ anchors are batch-only (a partition's LAST row is "
            "unknowable on an unbounded stream)"
        )
    pattern, excluded = strip_exclusions(pattern)
    parsed = parse_pattern(pattern)
    if rows_per_match not in ("one", "all"):
        raise ValueError("ROWS PER MATCH: one | all")
    if rows_per_match == "all":
        if measures is not None:
            raise ValueError("MEASURES is the ONE ROW PER MATCH shape")
        if any(isinstance(v, tuple) for v, _q in parsed):
            raise ValueError(
                "streaming ALL ROWS PER MATCH does not compose with "
                "alternation/PERMUTE/quantified groups (the per-event "
                "rows need the branch explode / per-repetition "
                "CLASSIFIER — batch-only); use the batch match_recognize"
            )
        if any(q is not None and q[0] == "reluctant" for _v, q in parsed):
            raise ValueError(
                "ALL ROWS PER MATCH does not compose with a reluctant "
                "quantifier (lazy runs multi-match per count — there is "
                "no single per-event row set)"
            )
    if measures is not None and any(
        isinstance(c, RunAgg) and c.func != "count"
        for c in measures.values()
    ):
        # round 12 (VERDICT r11 item 2): VALUE aggregates stream through
        # the quantified-chain replayer, which re-derives run membership
        # from its buffered rows — see _stream_value_measures
        return _stream_value_measures(
            events, partition_by, order_by, parsed, define,
            dict(withins or {}), default_within, measures, after_match,
            event_id, subset, excluded, within_overall,
            iter_define_py=iter_define_py,
        )
    if measures is not None and (
        subset or any(isinstance(c, RunAgg) for c in measures.values())
    ):
        measures = _stream_run_agg_columns(measures, parsed, subset, excluded)
    elif subset:
        raise ValueError(
            "SUBSET is consumed by RunAgg MEASURES (e.g. "
            "run_agg('count', '<subset name>')) — pass one"
        )
    # round 11: exclusion streams on EVERY route (r10 left reluctant and
    # iterative raising) — it is a stateless column drop after each
    # engine's fold; per-count multi-matches whose projections coincide
    # after the drop emit as duplicate rows (one row per match), and the
    # iterative route drops its payload columns with the variable.
    if any(
        isinstance(var, tuple) and not (q is not None and q[0] == "kleene")
        for var, q in parsed
    ):
        # round 9: alternation/PERMUTE STREAM — the branch-union plans
        # pack into one preference-folded stateful operator
        if after_match != "no_skip":
            raise ValueError(
                "streaming alternation/PERMUTE runs under NO SKIP (the "
                "per-anchor preference fold; the cross-anchor SKIP PAST "
                "LAST horizon replay is batch-only)"
            )
        return _stream_alternation(
            events, partition_by, order_by, parsed, define,
            dict(withins or {}), default_within, measures, event_id,
            excluded=excluded, within_overall=within_overall,
        )
    mode, skip_step = _parse_after_match(after_match, parsed)
    # within_overall now streams on EVERY route (round 10 + second
    # pass): NO SKIP engines take a stateless post-filter (emission is
    # per-anchor data-driven — reluctant fused, iterative, single-plan,
    # quantified groups), the skip replays and the alternation
    # preference operator prune candidates IN-OPERATOR before their
    # folds, and mid-pattern quantifiers under SKIP PAST LAST raise
    # below (the in-NFA fold cannot compose with the bound).
    # round 9 second pass: a trailing quantifier under SKIP PAST LAST
    # streams through the recompute-over-buffer replay. A trailing
    # RELUCTANT quantifier rewrites to times(mn, mn) first (no suffix →
    # the lazy preference is always the minimum count, the batch rule).
    _slq = parsed[-1][1]
    if (
        mode == "skip_past_last"
        and _slq is not None
        and _slq[0] == "reluctant"
        and not iter_define_py
        and not any(isinstance(v, tuple) for v, _q in parsed)
        and all(q is None for _v, q in parsed[:-1])
    ):
        if _slq[2] is None:
            raise ValueError(
                "a trailing uncapped reluctant quantifier streams with a "
                "finite cap only (the horizon needs mx)"
            )
        v0, _ = parsed[-1]
        parsed = parsed[:-1] + [(v0, ("kleene", _slq[1], _slq[1]))]
    if (
        rows_per_match == "all"
        and not iter_define_py
        and (
            (
                mode == "skip_past_last"
                and (
                    any(q is not None for _v, q in parsed)
                    or within_overall is not None
                )
            )
            or (
                mode == "no_skip"
                and any(
                    q is not None and q[0] == "kleene" for _v, q in parsed
                )
            )
        )
    ):
        # round 12 (VERDICT r11 item 3): ALL ROWS PER MATCH on the
        # replay family — the quantified-chain replayer holds every
        # run's member rows (the leg slice), so per-event emission is
        # IN-OPERATOR, no batch band join. Covers quantified/optional
        # chains and within_overall under SKIP PAST LAST, and
        # quantified runs under NO SKIP (mode="no_skip" — every
        # anchor's candidate, the data-driven batch emission).
        from flink_uba_spark.streaming.skip_replay import (
            stream_quantified_chain_detect,
        )

        if any(
            q is not None and q[0] == "kleene" and q[2] is None
            for _v, q in parsed
        ):
            raise ValueError(
                "an uncapped run (B+ / B{n,}) streams ALL ROWS with a "
                "finite cap only (mx*gap is part of the replay horizon) "
                "— write the cap or use the batch match_recognize"
            )
        steps, optional = _steps_and_sets(
            parsed, define, dict(withins or {}), default_within
        )
        out = stream_quantified_chain_detect(
            events, key=partition_by, steps=steps,
            event_id=event_id, ts=order_by,
            within_overall=within_overall,
            optional=optional or None,
            mode="no_skip" if mode == "no_skip" else "past_last",
            all_rows=True,
        )
        return _stream_all_rows_project(
            out, _var_names(parsed), partition_by, excluded
        )
    if (
        mode == "skip_past_last"
        and not iter_define_py
        and rows_per_match == "one"
        and any(q is not None for _v, q in parsed)
        and all(
            q is None or q[0] in ("kleene", "optional")
            for _v, q in parsed
        )
        and not any(isinstance(v, tuple) for v, _q in parsed)
        and parsed[0][1] is None
    ):
        # quantified/optional chains under SKIP PAST LAST: greedy runs
        # at ANY position (trailing ones included) and interior
        # optional steps stream through the chain replayer (finite
        # caps + withins bound the horizon); within_overall prunes
        # in-replayer before the fold, the plain-chain route's rule.
        from flink_uba_spark.streaming.skip_replay import (
            stream_quantified_chain_detect,
        )

        if any(
            q is not None and q[0] == "kleene" and q[2] is None
            for _v, q in parsed
        ):
            raise ValueError(
                "an uncapped run (B+ / B{n,}) streams under SKIP PAST "
                "LAST with a finite cap only (mx·gap is part of the "
                "replay horizon) — write the cap or use no_skip"
            )
        steps, optional = _steps_and_sets(
            parsed, define, dict(withins or {}), default_within
        )
        out = stream_quantified_chain_detect(
            events, key=partition_by, steps=steps,
            event_id=event_id, ts=order_by,
            within_overall=within_overall,
            optional=optional or None,
        )
        if partition_by != "user_id":
            out = out.withColumnRenamed("user_id", partition_by)
        out = _rename(out, parsed)
        out = _drop_excluded(out, excluded)
        return _measures(out, partition_by, measures)
    if iter_define_py:
        # round 9 second pass: prefix-referencing DEFINE STREAMS through
        # stream_pattern_detect_iterative (the engine the Pattern-API
        # catalog already soaks) under NO SKIP. ``iter_define_py`` is the
        # streaming spelling of the batch binder: variable →
        # ``lambda prefix_pays, cand_pay: bool`` over payload tuples
        # (tuple order = payload dict order), exactly the engine's
        # conds_py contract — the batch Column binder can't cross into
        # the Arrow-side NFA, so the condition is given in Python.
        from flink_uba_spark.streaming.pattern import (
            stream_pattern_detect_iterative,
        )

        if mode != "no_skip":
            raise ValueError(
                "streaming iter_define runs under NO SKIP (the iterative "
                "NFA emits per-anchor matches; the cross-anchor skip "
                "folds are batch-only on this route)"
            )
        if any(q is not None or isinstance(v, tuple) for v, q in parsed):
            raise ValueError(
                "streaming iter_define runs on plain chains "
                "(quantifiers/groups are batch-only on this route)"
            )
        vnames = [v for v, _q in parsed]
        unknown = sorted(set(iter_define_py) - set(vnames))
        if unknown:
            raise ValueError(
                f"iter_define_py names unknown variables: {unknown}"
            )
        if vnames[0] in iter_define_py:
            raise ValueError(
                "the first variable has no prefix to reference — put its "
                "self-row predicate in DEFINE"
            )
        steps, _ = _steps_and_sets(
            parsed, define, dict(withins or {}), default_within
        )
        conds_py = {
            k: iter_define_py[v]
            for k, v in enumerate(vnames, start=1)
            if v in iter_define_py
        }
        out = stream_pattern_detect_iterative(
            events, key=partition_by, steps=steps,
            payload=payload, conds_py=conds_py,
            event_id=event_id, ts=order_by,
        )
        n = len(parsed)
        if within_overall is not None:
            # NO SKIP data-driven emission (plain chains) — a stateless
            # post-filter is the bound (round 10 second pass)
            out = out.filter(
                F.col(f"t{n}") <= F.col("t1") + F.expr(within_overall)
            )
        if partition_by != "user_id":
            out = out.withColumnRenamed("user_id", partition_by)
        out = out.withColumn("anchor_id", F.col("i1"))
        if rows_per_match == "all":
            # round 12: the iterative stream engine already emits
            # per-step ids (i{k}) — ALL ROWS is the same stateless
            # explode as batch (_explode_plain_rows)
            return _explode_plain_rows(out, vnames, partition_by, excluded)
        out = out.drop(*[f"i{k}" for k in range(1, n + 1)])
        out = _rename(out, parsed)
        out = out.withColumnsRenamed(
            {
                f"{nm}{k}": f"{nm}_{v}"
                for nm in (payload or {})
                for k, v in enumerate(vnames, start=1)
            }
        )
        # round 11: exclusion drops the variable's columns AND its
        # payload columns — the batch iterative route's rule
        out = _drop_excluded(out, excluded)
        if excluded and payload:
            out = out.drop(
                *[f"{nm}_{v}" for v in excluded for nm in payload]
            )
        return _measures(out, partition_by, measures)
    rel = {
        k for k, (_v, q) in enumerate(parsed, start=1)
        if q is not None and q[0] == "reluctant"
    }
    if rel:
        if mode == "skip_past_last":
            # the lazy fold streams on the 3-variable shape with a
            # finite cap: the chain replayer walks the reluctant step
            # once per count and keeps the earliest completion
            q2 = parsed[1][1] if len(parsed) == 3 else None
            if (
                len(parsed) != 3 or rel != {2}
                or parsed[0][1] is not None or parsed[2][1] is not None
                or any(isinstance(v, tuple) for v, _ in parsed)
                or q2[2] is None
            ):
                raise ValueError(
                    "the streaming lazy SKIP PAST LAST fold takes the "
                    "3-variable shape anchor B{mn,mx}? suffix with a "
                    "finite cap (the cap bounds the replay horizon)"
                )
            from flink_uba_spark.streaming.skip_replay import (
                stream_quantified_chain_detect,
            )

            steps, _ = _steps_and_sets(
                parsed, define, dict(withins or {}), default_within
            )
            out = stream_quantified_chain_detect(
                events, key=partition_by, steps=steps, event_id=event_id,
                ts=order_by, within_overall=within_overall,
            )
            if partition_by != "user_id":
                out = out.withColumnRenamed("user_id", partition_by)
            out = _drop_excluded(_rename(out, parsed), excluded)
            return _measures(out, partition_by, measures)
        if mode != "no_skip":
            raise ValueError(
                "a reluctant quantifier streams under NO SKIP (per-count "
                "multi-match) or SKIP PAST LAST (the lazy fold)"
            )
        return _stream_reluctant(
            events, partition_by, order_by, parsed, define,
            dict(withins or {}), default_within, measures, event_id, rel,
            within_overall=within_overall, excluded=excluded,
        )
    if mode == "skip_to":
        if any(q is not None for _v, q in parsed):
            raise ValueError(
                "streaming SKIP TO FIRST/LAST runs on plain chains (each "
                "variable binds exactly one event, so FIRST ≡ LAST)"
            )
        return _stream_skip_to(
            events, partition_by, order_by, parsed, define,
            dict(withins or {}), default_within, measures, event_id,
            skip_step, within_overall=within_overall, excluded=excluded,
            rows_per_match=rows_per_match,
        )
    if mode == "skip_past_last" and within_overall is not None:
        # round 10 (VERDICT r9 item 5): the overall bound must prune
        # candidates BEFORE the skip fold, and the single-plan NFA folds
        # in-operator — route plain chains to the chain replayer
        # (quantified chains took the replay branch above; only
        # OPTIONAL steps remain on the in-NFA fold)
        if any(q is not None for _v, q in parsed):
            raise ValueError(
                "within_overall under streaming SKIP PAST LAST runs on "
                "the replay routes (plain chains, trailing runs, "
                "quantified chains); an OPTIONAL step keeps the in-NFA "
                "fold, which cannot compose with the overall bound"
            )
        from flink_uba_spark.streaming.skip_replay import (
            stream_quantified_chain_detect,
        )

        steps, _ = _steps_and_sets(
            parsed, define, dict(withins or {}), default_within
        )
        out = stream_quantified_chain_detect(
            events, key=partition_by, steps=steps,
            event_id=event_id, ts=order_by, within_overall=within_overall,
        )
        if partition_by != "user_id":
            out = out.withColumnRenamed("user_id", partition_by)
        out = _drop_excluded(_rename(out, parsed), excluded)
        return _measures(out, partition_by, measures)
    steps, optional = _steps_and_sets(
        parsed, define, dict(withins or {}), default_within
    )
    out = stream_pattern_detect(
        events,
        key=partition_by,
        steps=steps,
        event_id=event_id,
        ts=order_by,
        optional=optional or None,
        after_match=("skip_past_last" if after_match == "skip_past_last" else None),
        # batch parity (round 11, found by the option-matrix sweep): the
        # batch compiler emits end_id under SKIP PAST LAST, and the
        # replay routes (within_overall / trailing run) already do — the
        # in-NFA fold must too, or one option toggles the schema
        with_end_id=(
            after_match == "skip_past_last" and rows_per_match == "one"
        ),
        with_step_ids=(rows_per_match == "all"),
    )
    # the stream NFA also emits matched_late (first-candidate-decides);
    # MATCH_RECOGNIZE's contract is bounds-respected matches, as batch
    out = out.filter(F.col("state") == "matched")
    if within_overall is not None:
        # overall within under NO SKIP is a stateless post-filter on
        # complete matches (the end is t{n} / a trailing run's t{n}_last)
        _lq3 = parsed[-1][1]
        _end3 = (
            F.col(f"t{len(parsed)}_last")
            if _lq3 is not None and _lq3[0] == "kleene"
            else F.col(f"t{len(parsed)}")
        )
        out = out.filter(_end3 <= F.col("t1") + F.expr(within_overall))
    if partition_by != "user_id":
        # pattern_output_schema names the key column user_id
        out = out.withColumnRenamed("user_id", partition_by)
    if rows_per_match == "all":
        # the same stateless explode as batch — per-step ids from state
        return _explode_plain_rows(
            out, _var_names(parsed), partition_by, excluded
        )
    out = _rename(out.drop("max_step", "state"), parsed)
    if excluded:
        # ISO exclusion is pure output shaping: the excluded variable
        # still matches (and gates the chain), its columns just leave
        # the ONE-row projection — a stateless drop, same as batch
        out = out.drop(
            *[c for v in excluded for c in (f"{v}_ts", f"{v}_last_ts", f"{v}_n")]
        )
    if measures is not None:
        out = out.select(
            partition_by, *[c.alias(nm) for nm, c in measures.items()]
        )
    return out
