"""CEP-lite: N-step sequence detection (SURVEY.md §2.6 J3, §7 step 7).

Reference: ``Pattern.begin("create").where(...).followedBy("pay")
.where(...).within(Time.minutes(15))`` (OrderPayTimeout.java:52-64), with
``select(timeoutTag, timeoutFn, selectFn)`` splitting matches from timeouts.
The Pattern API chains arbitrarily (begin → followedBy → … → within);
``pattern_detect`` compiles that chain shape, and ``sequence_detect`` keeps
the reference's exact 2-step semantics (the non-CEP twin,
OrderPayTimeoutWithoutCEP.java, including orphan-pay side output).

Spark has no CEP library; these operators expand the pattern spec into a
plan — the §4 conclusion that the pattern is a plan shape, not a runtime.
``pattern_detect`` uses followed-by (skip-till-next-match) semantics: from
each anchor event, each subsequent step binds to the EARLIEST event matching
its predicate after the previous step's event (ties at equal timestamps
resolve earlier-steps-first, the same rule the 2-step batch form uses for
same-ts pays). A per-transition ``within`` bound classifies complete chains
as matched vs matched_late — mirroring payed vs payed_late — rather than
re-searching later candidates, exactly as the reference's first-pay-decides
state machine does.

Scale: the whole N-step compile is N-1 chained window aggregates over ONE
hash exchange on the key, each a min-of-struct over the
rows-following frame — no self-joins, no anchors×candidates fan-out, linear
in per-key density (same class as the funnel operator, sessions.py:72).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_uba_spark.operators.order_lifecycle import classify_order_states_single_pass


def sequence_detect(
    events: DataFrame,
    key: str,
    first_pred: Column,
    then_pred: Column,
    within: str = "INTERVAL 15 MINUTES",
    event_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """Detect ``first → then`` sequences per key within a time bound.

    Returns one row per anchor event (plus orphan follows) with ``state`` ∈
    {payed, timeout, payed_late, pay_no_create} — ``payed`` rows are the CEP
    matches (selectFn output); every other state is the reference's side
    output family.
    """
    anchors = events.filter(first_pred)
    follows = events.filter(then_pred)
    # round 3: the single-pass window form — one key exchange, linear in
    # per-key density, where the join form fans out anchors×follows per key
    # before aggregating (SCALE.md round-1 ratio 3.7 at 10×); equivalence
    # with the join form is pinned by tests/test_joins.py
    return classify_order_states_single_pass(
        anchors, follows, key=key, deadline=within, anchor_id=event_id, follow_id=event_id, ts=ts
    )


def pattern_detect(
    events: DataFrame,
    key: str,
    steps: list[tuple[Column, str | None]],
    event_id: str = "event_id",
    ts: str = "ts",
    not_followed_by: dict[int, Column] | None = None,
    optional: set[int] | None = None,
    strict: set[int] | None = None,
    not_next: dict[int, Column] | None = None,
    with_end_id: bool = False,
    with_step_ids: bool = False,
    until: dict[int, Column] | None = None,
    consecutive: set[int] | None = None,
) -> DataFrame:
    """Compile an N-step ``begin → followedBy → …`` pattern into chained
    window aggregates (one key exchange for the plain-step chain).

    ``strict`` marks transitions as STRICT CONTIGUITY — the reference
    Pattern API's ``next()`` (round 6): ``s ∈ strict`` means step s must
    be the IMMEDIATELY NEXT event of the key after step s-1's bound row —
    any intervening event (pattern-relevant or not) breaks the chain
    (``incomplete``; Flink discards the partial match). ``not_next`` maps
    step index k to a forbidden predicate — ``notNext()``: if the
    immediately-next event after step k's bound row matches, the match is
    KILLED (``state='negated'``, like notFollowedBy; the streaming twin
    emits nothing); otherwise step k+1 binds by normal followed-by
    search. "Immediately next" is evaluated in the engine's total event
    order (ts, step_rank, id) over ALL events of the key — strict
    patterns therefore disable the match-nothing scan filter (the price
    of the semantics: every key row must be witnessed, exactly as in
    Flink's NFA). Strict transitions compose with plain steps only: not
    into/out of Kleene steps, not touching optional steps, and not
    stacked on a notFollowedBy guard at the same transition.

    ``steps`` is an ordered list of ``(predicate, within)`` or
    ``(predicate, within, max_reps)`` where ``within`` (an ``INTERVAL``
    literal, or None for unbounded) bounds the transition INTO that step
    (first step's bound is ignored) and a present ``max_reps`` makes the
    step a Kleene ``oneOrMore``: the step binds a greedy RUN of matching
    events — each repetition within ``within`` of the previous one,
    capped at ``max_reps`` (the reference Pattern API's
    ``oneOrMore().until(...)`` family). ``max_reps=float("inf")`` is the
    reference's UNCAPPED ``oneOrMore``: the run extends through the whole
    within-gap session (round 6; safe because state is bounded by the
    repetition GAP, not the cap — batch keeps no per-rep state at all,
    and the streaming twin keeps one fixed-width frontier per run plus a
    gap-horizon row buffer, so a finite ``within`` is what an unbounded
    deployment must set). The step after a Kleene step binds strictly
    after the run's LAST repetition.

    ``until`` (round 7) maps a Kleene step index k to a STOP predicate —
    the reference Pattern API's ``oneOrMore().until(condition)``: the
    looping state stops accepting repetitions once a stop-row occurs, so
    a run never spans an until-row. Compiled as session REFINEMENT: stop
    rows split the step's within-gap sessions (in the run machinery's
    (ts, id) order — a dual rep+stop row is its run's final repetition),
    and caps / min_reps / the run-last handoff apply to the refined runs
    unchanged; a fresh run may begin after the stop row. An until step
    cannot also carry a notFollowedBy/notNext guard on its outgoing
    transition (both own the 2k rank slot).

    ``consecutive`` (round 7) marks a Kleene step's INTERNAL contiguity
    as STRICT — the reference Pattern API's ``oneOrMore().consecutive()``
    / ``times(..).consecutive()``: repetitions must be IMMEDIATELY
    ADJACENT events of the key (in the engine's total (ts, rank, id)
    order) — any intervening event, pattern-relevant or not, ends the
    run, exactly Flink's consecutive-looping break (Flink: "any
    non-matching element breaks the loop"). Compiled as session
    refinement over the step's global row positions: a repetition whose
    predecessor is not at position-1 starts a new run, and caps /
    min_reps / until / the run-last handoff apply to the refined runs
    unchanged. Like ``strict``/``not_next``, consecutive() disables the
    match-nothing scan filter — every key row is a contiguity witness.
    (Streaming twin: ``streaming/pattern.py stream_pattern_detect
    consecutive=`` — the NFA assigns every observed row a per-key global
    sequence position and persists buffered rows' positions; closure is
    CHEAPER than the gap timer, since an observed successor position —
    or the run's (ts, id)-next session row failing to link — is
    definitive. Both engines and the brute pin the same corner: at equal
    timestamps the run walks the family's (ts, id) Kleene order while
    adjacency compares (ts, rank, id) positions, so a same-ts
    lower-position step row permanently breaks the session it lands in.)

    ``not_followed_by`` maps a step index k (1..n-1) to a FORBIDDEN
    predicate — the reference Pattern API's ``notFollowedBy`` between step
    k and k+1 (Pattern.begin/followedBy/notFollowedBy chaining): if an
    event matching the forbidden predicate occurs strictly between step
    k's bound row and the step-(k+1) binder (or after step k while no
    binder ever arrives), the match is KILLED — Flink's NFA discards the
    pending path. The batch form keeps the anchor row with
    ``state='negated'`` for auditability; the streaming twin emits
    nothing. Position order at equal timestamps: the guard slot sits
    between its neighboring steps (forbidden row at the same ts as step k
    counts as after it; at the same ts as the binder counts as before it).

    Semantics (followed-by / skip-till-next-match): every event matching
    step 1 anchors a potential match; step k+1 binds to the earliest
    step-(k+1) event after step k's event (same-timestamp events count,
    with earlier pattern steps ordered first — the 2-step form's
    ``follow_ts >= anchor_ts`` rule; residual ties break by event id).
    One output row per anchor:

    - ``t1..tN`` — the bound chain timestamps (first repetition for Kleene
      steps; null from the first unbound step onward),
    - ``tK_last``/``nK`` — per Kleene step: the run's last repetition and
      the repetition count (≤ max_reps),
    - ``max_step`` — number of steps bound,
    - ``state`` — ``matched`` (complete, every bound respected),
      ``matched_late`` (complete, some transition exceeded its bound —
      the payed_late analogue: the first candidate decides, later ones are
      not re-searched), ``incomplete`` (chain broke: some step never
      occurred after its predecessor).

    Construction: rows matching no step are dropped at the scan (they can
    never contribute), then per key everything sorts ONCE by
    (ts, step_rank, event_id). For the last step the chain struct is its
    (ts, id); walking backwards, each step's chain = struct(own ts, id,
    fields of min(next-step chain) over the rows-following frame) —
    min-of-struct picks the earliest next-step event. A Kleene step adds a
    per-step session pass over ITS rows only (runs = ``within``-gap
    sessions of the step's events; a run from any entry row extends to the
    session end, capped at max_reps via lead()), and the downstream lookup
    is evaluated at the run's LAST row and carried back to the entry row
    through the session partition. Plain chains cost one exchange + one
    sort total; each Kleene step adds one (key)-window pass on its own
    rows, a broadcast-sized id join, and one (key, session) window —
    still linear in per-key density, no self-joins, at 100 TB.
    """
    n = len(steps)
    if n < 2:
        raise ValueError("pattern_detect needs at least 2 steps")
    preds = [s[0] for s in steps]
    withins = [s[1] for s in steps]
    # a repetition spec is max_reps (oneOrMore, min 1) or (min_reps,
    # max_reps) — the reference Pattern API's times(n) / times(from, to):
    # an entry whose within-gap run holds fewer than min_reps rows is NOT
    # a valid binding (the previous step binds the next valid entry)
    reps: list[tuple[int, int] | None] = []
    # cap None = UNCAPPED oneOrMore (the run extends through the whole
    # within-gap session); spelled max_reps=float("inf") at the API
    for s in steps:
        r = s[2] if len(s) > 2 else None
        if r is None:
            reps.append(None)
        elif isinstance(r, tuple):
            reps.append(
                (int(r[0]), None if r[1] == float("inf") else int(r[1]))
            )
        else:
            reps.append((1, None) if r == float("inf") else (1, int(r)))
    if reps[0] is not None:
        raise ValueError("oneOrMore/times is not supported on the first step")
    if any(
        r is not None and (r[0] < 1 or (r[1] is not None and r[1] < r[0]))
        for r in reps
    ):
        raise ValueError("need 1 <= min_reps <= max_reps")
    if any(
        r is not None and r[1] is None and withins[k] is None
        for k, r in enumerate(reps)
    ):
        raise ValueError(
            "an uncapped oneOrMore step needs a finite within interval "
            "(the repetition gap is what bounds the run and the streaming "
            "twin's state)"
        )
    negs = dict(not_followed_by or {})
    if any(k < 1 or k >= n for k in negs):
        raise ValueError("not_followed_by keys must be step indexes 1..n-1")
    opts = set(optional or ())
    # optional steps: greedy-race single-match semantics (see docstring).
    # Kept composable-but-bounded: never first/last, never adjacent to
    # another optional (the pairwise race is complete only then), never a
    # Kleene step, and never adjacent to a notFollowedBy guard.
    if any(k <= 1 or k >= n for k in opts):
        raise ValueError("optional steps must be interior (2..n-1)")
    if any(k + 1 in opts for k in opts):
        raise ValueError("two consecutive optional steps are not supported")
    if any(reps[k - 1] is not None for k in opts):
        raise ValueError("an optional step cannot be a Kleene/times step")
    if any(k in opts or k + 1 in opts for k in negs):
        raise ValueError("a notFollowedBy guard cannot touch an optional step")
    stricts = set(strict or ())
    nnx = dict(not_next or {})
    if any(s <= 1 or s > n for s in stricts):
        raise ValueError("strict transitions are into steps 2..n")
    if any(k < 1 or k >= n for k in nnx):
        raise ValueError("not_next keys must be step indexes 1..n-1")
    if any(
        reps[s - 1] is not None or reps[s - 2] is not None
        for s in stricts
    ) or any(reps[k - 1] is not None for k in nnx):
        raise ValueError("strict/notNext transitions must not touch Kleene steps")
    if any(s in opts or s - 1 in opts or s + 1 in opts for s in stricts) or any(
        k in opts or k + 1 in opts for k in nnx
    ):
        raise ValueError("strict/notNext transitions must not touch optional steps")
    if any(s - 1 in negs or s - 1 in nnx for s in stricts) or any(
        k in negs for k in nnx
    ):
        raise ValueError(
            "a transition takes ONE of next/notNext/notFollowedBy, not several"
        )
    untils = dict(until or {})
    if any(reps[k - 1] is None for k in untils):
        raise ValueError("until() applies to oneOrMore/times steps only")
    consecs = set(consecutive or ())
    if any(reps[k - 1] is None for k in consecs):
        raise ValueError("consecutive() applies to oneOrMore/times steps only")
    if any(k in negs or k in nnx for k in untils):
        raise ValueError(
            "an until() step cannot also carry a notFollowedBy/notNext "
            "guard on its outgoing transition (both own the 2k rank slot)"
        )

    # slot ranks: positive step k at 2k-1, a notFollowedBy guard OR a
    # notNext forbidden slot between k and k+1 at 2k — so at equal
    # timestamps a forbidden row sorts after its preceding step and before
    # its following step (the position order the guard comparison runs
    # on; guard and notNext are mutually exclusive per transition, so the
    # rank never collides). Guard-free patterns see only the positives at
    # 2k-1: same relative order as the old 1..n ranks, so binding
    # semantics are unchanged.
    flag_cols = (
        [p.cast("boolean").alias(f"__p{i}") for i, p in enumerate(preds, start=1)]
        + [negs[k].cast("boolean").alias(f"__g{k}") for k in sorted(negs)]
        + [nnx[k].cast("boolean").alias(f"__x{k}") for k in sorted(nnx)]
        + [untils[k].cast("boolean").alias(f"__u{k}") for k in sorted(untils)]
    )
    base = events.select(
        F.col(key).alias("__k"),
        F.col(event_id).alias("__id"),
        F.col(ts).alias("__ts"),
        *flag_cols,
    )
    # rows matching no step (and no guard) never contribute to any window
    # min / guard check and are never anchors — drop them at the scan.
    # EXCEPT under strict/notNext/consecutive semantics: there EVERY
    # event of the key is a potential contiguity witness, so the filter
    # must stay off
    if not stricts and not nnx and not consecs:
        all_flags = (
            [F.col(f"__p{i}") for i in range(1, n + 1)]
            + [F.col(f"__g{k}") for k in sorted(negs)]
            + [F.col(f"__u{k}") for k in sorted(untils)]
        )
        base = base.filter(
            F.greatest(*all_flags) if len(all_flags) > 1 else all_flags[0]
        )
    # earliest slot a row can serve — earlier slots sort first at equal
    # timestamps so a same-ts successor is still "after" its anchor
    rank_cases = []
    for i in range(1, n + 1):
        rank_cases.append(F.when(F.col(f"__p{i}"), F.lit(2 * i - 1)))
        if i in negs:
            rank_cases.append(F.when(F.col(f"__g{i}"), F.lit(2 * i)))
        if i in nnx:
            rank_cases.append(F.when(F.col(f"__x{i}"), F.lit(2 * i)))
        if i in untils:
            # an until row at a repetition's timestamp sorts AFTER it —
            # the same-ts rep still counts, the stop applies from there
            rank_cases.append(F.when(F.col(f"__u{i}"), F.lit(2 * i)))
    base = base.withColumn(
        "__rank", F.coalesce(*rank_cases, F.lit(2 * n + 1))
    )

    # consecutive(): each row's global position in the key's total
    # (ts, rank, id) order — adjacency (pos == prev_pos + 1) is what
    # "no intervening event" means once every row is a witness
    if consecs:
        base = base.withColumn(
            "__pos",
            F.row_number().over(
                Window.partitionBy("__k").orderBy("__ts", "__rank", "__id")
            ),
        )

    # Kleene prep: assign each step-k row its within-gap session id (runs).
    # Round 13 (guide §2.4): computed IN PLACE over the key-partitioned
    # ordering instead of filter → window-on-own-rows → join-back — the
    # join cost two exchanges + two sorts per Kleene step and broke the
    # single-key-exchange chain. "Previous step-k row's X" over the full
    # row set is last(when(__p{k}, X), ignorenulls) over the strict prefix
    # frame (an incremental running aggregate, same O(rows)): the step's
    # rows and their (ts, id) order are identical filtered or not, so
    # gap_break is unchanged; the running sum counts breaks among step-k
    # rows only, and non-step rows get a NULL session id exactly as the
    # old left-join miss produced — session partitions hold the same rows.
    sess_cols: dict[str, Column] = {}
    for k in range(2, n + 1):
        if reps[k - 1] is None:
            continue
        w_prefix = (
            Window.partitionBy("__k")
            .orderBy("__ts", "__id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        if k in untils:
            # until(): a run may not span an until-row — count U rows
            # strictly before each row in the (ts, id) order (the Kleene
            # run machinery's own order, so rep-vs-stop placement at equal
            # timestamps resolves by event id; a dual rep+stop row counts
            # as the run's FINAL repetition, then the run ends);
            # consecutive repetitions with differing counts straddle a U
            # and belong to different runs (Flink stops the looping state
            # when the condition fires; session splitting is the batch
            # equivalent, and the machinery downstream — caps, min_reps,
            # run_last handoff — applies to the refined runs unchanged)
            base = base.withColumn(
                f"__ucnt{k}",
                F.coalesce(
                    F.sum(F.when(F.col(f"__u{k}"), 1).otherwise(0)).over(w_prefix),
                    F.lit(0),
                ),
            )

        def prev_pk(col: str, k=k, w_prefix=w_prefix) -> Column:
            return F.last(
                F.when(F.col(f"__p{k}"), F.col(col)), ignorenulls=True
            ).over(w_prefix)

        prev = prev_pk("__ts")
        gap_break = (
            prev.isNull() | (F.col("__ts") > prev + F.expr(withins[k - 1]))
            if withins[k - 1] is not None
            else prev.isNull()
        )
        if k in untils:
            gap_break = gap_break | (
                F.col(f"__ucnt{k}") != prev_pk(f"__ucnt{k}")
            )
        if k in consecs:
            # strict internal contiguity: a repetition whose predecessor
            # is not the IMMEDIATELY preceding event of the key starts a
            # new run (an intervening row — matching anything or nothing
            # — ends the loop, Flink's consecutive() break)
            gap_break = gap_break | (
                F.col("__pos") != prev_pk("__pos") + F.lit(1)
            )
        sess_cols[f"__sess{k}"] = F.when(
            F.col(f"__p{k}"),
            F.sum(F.when(F.col(f"__p{k}") & gap_break, 1).otherwise(0)).over(
                Window.partitionBy("__k")
                .orderBy("__ts", "__id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    if sess_cols:
        base = base.withColumns(sess_cols)

    # "earliest strictly-after row": the natural shrinking frame
    # (rowsBetween(1, unboundedFollowing) over the ascending order) makes
    # Spark recompute the min FROM SCRATCH per row
    # (UnboundedFollowingWindowFunctionFrame) — O(rows^2) in a key
    # partition, quadratic under one hot key. The identical row set is a
    # GROWING frame over the reversed sort — (__ts,__rank,__id) is a total
    # key, so desc order is the exact reverse permutation and "rows
    # strictly after me in time" = "rows strictly before me in the desc
    # sort" — which Spark executes as an incremental running min
    # (UnboundedPrecedingWindowFunctionFrame), O(rows).
    w_after = (
        Window.partitionBy("__k")
        .orderBy(F.desc("__ts"), F.desc("__rank"), F.desc("__id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # strict contiguity looks at ONE row — the immediate successor in the
    # ascending total order; lead(1) is an O(1)-per-row incremental frame
    w_lead = Window.partitionBy("__k").orderBy("__ts", "__rank", "__id")

    # chain field names carried by each step's struct (built backwards).
    # Field ORDER matters only through (t{k}, i{k}) — they are unique per
    # row, so min-of-struct binding never compares past them; r{k} (the
    # bound row's actual rank, for guard position compares) and b{k} (this
    # transition's guard verdict) ride behind.
    def own_fields(k: int) -> list[str]:
        names = [f"t{k}", f"i{k}"]
        if k - 1 in negs or k in opts or k - 1 in opts:
            names.append(f"r{k}")
        if reps[k - 1] is not None:
            names += [f"t{k}_last", f"n{k}"]
            if with_end_id and k == n:
                # trailing Kleene run under a skip strategy / end anchor:
                # the match's last EVENT is the run's LAST repetition, so
                # its id rides the chain as il{n} (round 9 — lifts the
                # ADVICE-r8 "plain last step" restriction)
                names.append(f"il{k}")
        if k in negs:
            names.append(f"b{k}")
        if k in nnx:
            names.append(f"bx{k}")
        return names

    chain_fields: dict[int, list[str]] = {n + 1: []}
    for k in range(n, 0, -1):
        chain_fields[k] = own_fields(k) + chain_fields[k + 1]

    def guard_broken(fb: Column, nxt, k: int) -> Column:
        """The notFollowedBy verdict for transition k→k+1 at the row where
        both lookups were evaluated: the earliest forbidden row after this
        position exists AND precedes the bound step-(k+1) row (or nothing
        ever bound) in (ts, rank, id) position order."""
        if nxt is None:
            return fb.isNotNull()
        bound = F.struct(
            nxt.getField(f"t{k+1}"),
            nxt.getField(f"r{k+1}"),
            nxt.getField(f"i{k+1}"),
        )
        return fb.isNotNull() & (nxt.isNull() | (fb < bound))

    def build_step(df: DataFrame, k: int) -> DataFrame:
        # Round 13 (py4j batching, VERDICT r12 item 3a): the per-step
        # helper columns are added in dependency LAYERS via withColumns —
        # each withColumn call was one JVM Dataset op re-analyzing the
        # whole (growing) plan, and this function dominated the compile
        # phase's 4,405 py4j round-trips. Expressions are unchanged.
        downstream = chain_fields[k + 1]
        layer1: dict[str, Column] = {}
        layer2: dict[str, Column] = {}
        nxt = fb = None
        if k < n:
            if k + 1 in stricts:
                # next(): the binder is the IMMEDIATE successor row or
                # nothing — __c{k+1} is non-null exactly on step-(k+1)
                # rows, so a non-matching successor yields null and the
                # chain breaks, Flink's strict-contiguity discard
                layer1[f"__nx{k}"] = F.lead(F.col(f"__c{k+1}")).over(w_lead)
            else:
                layer1[f"__nx{k}"] = F.min(F.col(f"__c{k+1}")).over(w_after)
            nxt = F.col(f"__nx{k}")
        if k + 1 in opts:
            # optional step j = k+1: the greedy race — take j iff its
            # earliest candidate precedes the earliest step-(j+2) candidate
            # in (ts, rank, id) position order, else skip (t_j stays null
            # and the chain continues from step j+2's candidate directly)
            j = k + 1
            layer1[f"__nxskip{k}"] = F.min(F.col(f"__c{j+1}")).over(w_after)
            nx, sk = F.col(f"__nx{k}"), F.col(f"__nxskip{k}")
            # take unless the skip candidate STRICTLY precedes — a tie
            # (the same row serving both steps) takes, matching the
            # streaming race's strict b_pos < a_pos skip rule
            take = nx.isNotNull() & (
                sk.isNull()
                | ~(
                    F.struct(
                        sk.getField(f"t{j+1}"),
                        sk.getField(f"r{j+1}"),
                        sk.getField(f"i{j+1}"),
                    )
                    < F.struct(
                        nx.getField(f"t{j}"), nx.getField(f"r{j}"), nx.getField(f"i{j}")
                    )
                )
            )
            own_j = [f"t{j}", f"i{j}", f"r{j}"]
            layer2[f"__nxm{k}"] = F.when(
                nx.isNotNull() | sk.isNotNull(),
                F.struct(
                    *[F.when(take, nx.getField(f)).alias(f) for f in own_j],
                    *[
                        F.when(take, nx.getField(f)).otherwise(sk.getField(f)).alias(f)
                        for f in chain_fields[j + 1]
                    ],
                ),
            )
            nxt = F.col(f"__nxm{k}")
        if k in negs:
            layer1[f"__fb{k}"] = F.min(
                F.when(
                    F.col(f"__g{k}"),
                    F.struct(F.col("__ts"), F.col("__rank"), F.col("__id")),
                )
            ).over(w_after)
            fb = F.col(f"__fb{k}")
        own = [F.col("__ts").alias(f"t{k}"), F.col("__id").alias(f"i{k}")]
        if k - 1 in negs or k in opts or k - 1 in opts:
            own.append(F.col("__rank").alias(f"r{k}"))
        if reps[k - 1] is None:
            fields = own
            if k in negs:
                fields = fields + [guard_broken(fb, nxt, k).alias(f"b{k}")]
            if k in nnx:
                # notNext(): killed iff the immediate successor of step
                # k's bound row matches the forbidden predicate; no
                # successor (end of data) = trivially satisfied
                layer1[f"__xn{k}"] = F.coalesce(
                    F.lead(F.col(f"__x{k}")).over(w_lead), F.lit(False)
                )
                fields = fields + [F.col(f"__xn{k}").alias(f"bx{k}")]
            fields = fields + (
                [nxt.getField(f).alias(f) for f in downstream] if nxt is not None else []
            )
            if layer1:
                df = df.withColumns(layer1)
            if layer2:
                df = df.withColumns(layer2)
            return df.withColumn(f"__c{k}", F.when(F.col(f"__p{k}"), F.struct(*fields)))

        # Kleene step: capped greedy run within the session; an entry with
        # fewer than min_reps rows available is not a valid binding
        mn, cap = reps[k - 1]
        w_sess = Window.partitionBy("__k", f"__sess{k}").orderBy("__ts", "__id")
        w_sess_full = w_sess.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        # session-carried helpers go in the layer AFTER whichever column
        # they read (fb/nx from layer1, the race-merged nxm from layer2)
        layer3: dict[str, Column] = {}
        layer1[f"__last_ts{k}"] = F.max("__ts").over(w_sess_full)
        layer1[f"__cnt{k}"] = F.count(F.lit(1)).over(w_sess_full)
        layer1[f"__rn{k}"] = F.row_number().over(w_sess)
        avail_reps = (F.col(f"__cnt{k}") - F.col(f"__rn{k}") + 1).cast("long")
        if cap is None:
            # uncapped oneOrMore: every run extends to its session end —
            # the lead(cap-1) probe degenerates away entirely
            capped = F.lit(False)
            run_last = F.col(f"__last_ts{k}")
            n_reps = avail_reps
        else:
            layer1[f"__lead_ts{k}"] = F.lead("__ts", cap - 1).over(w_sess)
            capped = F.col(f"__lead_ts{k}").isNotNull()
            run_last = F.coalesce(F.col(f"__lead_ts{k}"), F.col(f"__last_ts{k}"))
            n_reps = F.least(F.lit(cap).cast("long"), avail_reps)
        fields = own + [
            run_last.alias(f"t{k}_last"),
            n_reps.alias(f"n{k}"),
        ]
        if with_end_id and k == n:
            # run-last id, same lead/session-last probe as run_last ts —
            # (ts, id) ascending inside the session, so the session-last
            # row IS the run's last repetition when the cap never bites
            if cap is None:
                run_last_id = F.last("__id").over(w_sess_full)
            else:
                layer1[f"__lead_id{k}"] = F.lead("__id", cap - 1).over(w_sess)
                run_last_id = F.when(capped, F.col(f"__lead_id{k}")).otherwise(
                    F.last("__id").over(w_sess_full)
                )
            fields = fields + [run_last_id.alias(f"il{k}")]
        # downstream lookups (next chain AND this transition's guard) must
        # happen AFTER the run's last row: carry them from the cap-th (or
        # session-last) row back to the entry row through the session
        nxt_at_last = None
        if k < n:
            # carry the column `nxt` points to — the race-MERGED struct
            # when step k+1 is optional, else the raw next-chain min
            nx_layer = layer3 if k + 1 in opts else layer2
            nxcol = f"__nxm{k}" if k + 1 in opts else f"__nx{k}"
            nx_layer[f"__last_nx{k}"] = F.last(nxcol).over(w_sess_full)
            if cap is None:
                nxt_at_last = F.col(f"__last_nx{k}")
            else:
                nx_layer[f"__lead_nx{k}"] = F.lead(nxcol, cap - 1).over(w_sess)
                nxt_at_last = F.when(capped, F.col(f"__lead_nx{k}")).otherwise(
                    F.col(f"__last_nx{k}")
                )
        if k in negs:
            layer2[f"__last_fb{k}"] = F.last(f"__fb{k}").over(w_sess_full)
            if cap is None:
                fb_at_last = F.col(f"__last_fb{k}")
            else:
                layer2[f"__lead_fb{k}"] = F.lead(f"__fb{k}", cap - 1).over(w_sess)
                fb_at_last = F.when(capped, F.col(f"__lead_fb{k}")).otherwise(
                    F.col(f"__last_fb{k}")
                )
            fields = fields + [guard_broken(fb_at_last, nxt_at_last, k).alias(f"b{k}")]
        if nxt_at_last is not None:
            fields = fields + [nxt_at_last.getField(f).alias(f) for f in downstream]
        # times(from, to): entries with avail < min_reps yield a null
        # struct, so the previous step's min-of-struct binder skips them
        # and binds the next VALID entry (skip-till-next-match)
        valid = F.col(f"__p{k}") & (
            (F.col(f"__cnt{k}") - F.col(f"__rn{k}") + 1) >= F.lit(mn)
        )
        for layer in (layer1, layer2, layer3):
            if layer:
                df = df.withColumns(layer)
        return df.withColumn(f"__c{k}", F.when(valid, F.struct(*fields)))

    df = base
    for k in range(n, 0, -1):
        df = build_step(df, k)

    anchors = df.filter(F.col("__p1"))
    # ``with_step_ids`` additionally surfaces each step's bound EVENT ID
    # (``i{k}`` — a Kleene step's entry id) so callers can tie matches
    # back to input rows (MATCH_RECOGNIZE's ALL ROWS PER MATCH); default
    # keeps the round-3 contract (timestamps only)
    out_fields = [
        f
        for f in chain_fields[1]
        if not (
            f[0] in ("rb" if with_step_ids else "irb") and f[1:].isdigit()
        )
        and not (f.startswith("bx") and f[2:].isdigit())
        and f != f"il{n}"
    ]
    t_cols = [F.col("__c1").getField(f).alias(f) for f in out_fields]
    if with_end_id:
        # the LAST bound event's id — the after-match skip strategies
        # (after_match_skip_past_last) need it for exact tie-breaks at
        # equal end timestamps. A plain last step binds one event (i{n});
        # a trailing Kleene run's last event is its last REPETITION, whose
        # id rides the chain as il{n} (round 9 — the fold's end is then
        # (t{n}_last, end_id), and run-last ends stay monotone in anchor
        # order under skip-till-next, so the completion-order replay is
        # unchanged)
        end_field = f"il{n}" if reps[n - 1] is not None else f"i{n}"
        t_cols = t_cols + [F.col("__c1").getField(end_field).alias("end_id")]
    b_cols = [
        F.col("__c1").getField(f"b{k}").alias(f"__b{k}") for k in sorted(negs)
    ] + [
        F.col("__c1").getField(f"bx{k}").alias(f"__bx{k}") for k in sorted(nnx)
    ]
    out = anchors.select(
        F.col("__k").alias(key), F.col("__id").alias("anchor_id"), *t_cols, *b_cols
    )

    def prev_ts_col(k: int) -> Column:
        # predecessor time for the transition into step k: a Kleene
        # predecessor hands off from its run's LAST repetition; a SKIPPED
        # optional predecessor falls through to the step before it
        def own_t(kk: int) -> Column:
            return (
                F.col(f"t{kk}_last") if reps[kk - 1] is not None else F.col(f"t{kk}")
            )

        if (k - 1) in opts:
            return F.coalesce(own_t(k - 1), own_t(k - 2))
        return own_t(k - 1)

    complete = F.col(f"t{n}").isNotNull()
    bounds_ok = F.lit(True)
    for k in range(2, n + 1):
        if withins[k - 1] is not None:
            term = F.col(f"t{k}") <= prev_ts_col(k) + F.expr(withins[k - 1])
            if k in opts:
                # a skipped optional step has no transition to classify
                term = F.col(f"t{k}").isNull() | term
            bounds_ok = bounds_ok & term
    max_step = F.lit(1) + sum(
        F.when(F.col(f"t{k}").isNotNull(), 1).otherwise(0) for k in range(2, n + 1)
    )
    # a fired notFollowedBy guard KILLS the match in the reference
    # (Pattern.notFollowedBy — the NFA discards the pending path); the
    # batch form keeps the row with state='negated' for auditability, and
    # the streaming twin emits nothing for it
    negated = F.lit(False)
    for k in sorted(negs):
        negated = negated | F.coalesce(F.col(f"__b{k}"), F.lit(False))
    for k in sorted(nnx):
        negated = negated | F.coalesce(F.col(f"__bx{k}"), F.lit(False))
    # one projection appends max_step/state and drops the guard verdicts
    # (was withColumn + withColumn + drop — three plan re-analyses)
    helper = {f"__b{k}" for k in sorted(negs)} | {f"__bx{k}" for k in sorted(nnx)}
    return out.select(
        *[c for c in out.columns if c not in helper],
        max_step.cast("long").alias("max_step"),
        F.when(negated, F.lit("negated"))
        .when(~complete, F.lit("incomplete"))
        .when(bounds_ok, F.lit("matched"))
        .otherwise(F.lit("matched_late"))
        .alias("state"),
    )


def pattern_detect_branching(
    events: DataFrame,
    key: str,
    steps: list[tuple[Column, str | None]],
    optional: set[int],
    event_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """Flink-faithful MULTI-MATCH ``optional()``: emit BOTH branches — the
    chain that takes each optional step and the chain that skips it — as
    separate rows, exactly as the reference's branching NFA does
    (Pattern.optional(), OrderPayTimeout.java:52-64 chains). This closes
    the single-match divergence ``pattern_detect(optional=...)``
    documents: that form races greedily and emits one row per anchor;
    this form compiles one plan per optional-subset (2^|optional| plans —
    optional steps are few by construction) and unions them, with a
    ``branch`` column naming the taken subset.

    Each branch is a plain ``pattern_detect`` chain (no race), so every
    branch row classifies independently (matched / matched_late /
    incomplete). Skipped steps appear as null t-columns with the within
    bound re-anchored on the surviving predecessor, mirroring how Flink
    evaluates the shortened chain. Branches whose own chain is incomplete
    are still emitted (per-anchor visibility), so downstream consumers
    filter on state like with pattern_detect.

    At most 4 optional steps are accepted: the plan is a union over
    2^|optional| branches (16 at the bound — fine for Catalyst; real
    patterns carry 1-2 optionals), and an unguarded wide set would blow
    the planner up with a 2^k-branch union."""
    from itertools import combinations

    n = len(steps)
    opts = sorted(optional or ())
    if any(k <= 1 or k >= n for k in opts):
        raise ValueError("optional steps must be interior (2..n-1)")
    if len(opts) > 4:
        raise ValueError(
            f"pattern_detect_branching compiles 2^|optional| branch plans; "
            f"{len(opts)} optional steps would union {2 ** len(opts)} "
            "branches — at most 4 are supported"
        )

    out = None
    for r in range(len(opts) + 1):
        for skip in combinations(opts, r):
            kept = [k for k in range(1, n + 1) if k not in skip]
            sub = [steps[k - 1] for k in kept]
            branch = pattern_detect(events, key, sub, event_id=event_id, ts=ts)
            # re-map the branch's t1..tm columns back to the FULL step
            # numbering; skipped steps become null columns
            sel = [F.col(key), F.col("anchor_id")]
            for pos, k in enumerate(kept, start=1):
                sel.append(F.col(f"t{pos}").alias(f"t{k}"))
            for k in skip:
                sel.append(F.lit(None).cast("timestamp").alias(f"t{k}"))
            sel += [
                F.col("max_step"),
                F.col("state"),
                F.lit(",".join(str(k) for k in skip) or "none").alias("skipped"),
            ]
            b = branch.select(*sel).select(
                key, "anchor_id", *[f"t{k}" for k in range(1, n + 1)],
                "max_step", "state", "skipped",
            )
            out = b if out is None else out.unionByName(b)
    return out


def after_match_skip_past_last(
    matches: DataFrame,
    key: str,
    anchor_ts: str = "t1",
    anchor_id: str = "anchor_id",
    end_ts: str | None = None,
    end_id: str = "end_id",
) -> DataFrame:
    """Flink's ``AfterMatchSkipStrategy.SKIP_PAST_LAST_EVENT`` over the
    candidate matches of a compiled pattern: once a match is emitted,
    every run that STARTED at or before the match's last event is
    discarded, so the emitted matches per key never overlap — the alert
    -dedup / episode-segmentation strategy of the reference Pattern API
    (Flink CEP ``AfterMatchSkipStrategy``; the reference's
    OrderPayTimeout chains use the default NO_SKIP = our per-anchor
    ``pattern_detect`` output, which this operator post-processes).

    ``matches`` is ``pattern_detect(..., with_end_id=True)`` output
    FILTERED to complete in-bound matches (``state='matched'``) — late
    or incomplete chains never emit under a skip strategy, so they do
    not prune. ``end_ts`` defaults to the highest ``t{n}`` column
    present.

    Semantics (exactly what the NFA replay produces): candidates are
    processed in COMPLETION order ``(end_ts, end_id, anchor_ts,
    anchor_id)`` — the earliest-ending match wins any race, and at a
    shared end event the earliest anchor wins. A candidate is emitted
    iff its anchor is STRICTLY PAST the previously emitted match's last
    event in ``(ts, id)`` order; emitting advances that horizon to the
    candidate's own end. Bindings of surviving candidates are unchanged
    (skip-till-next runs bind independently, and every binding is
    strictly after its own anchor, hence past the horizon).

    Scale: the greedy horizon scan is inherently sequential per key, but
    it runs over the MATCH set, not the event set — one extra exchange
    on the key of match-sized data, then a linear pass per key inside
    ``applyInPandas``. At 100 TB the match set is output-sized (bounded
    by the rarest step's frequency), orders of magnitude below the scan.
    """
    import pandas as pd

    if end_ts is None:
        tcols = sorted(
            (c for c in matches.columns if c.startswith("t") and c[1:].isdigit()),
            key=lambda c: int(c[1:]),
        )
        if not tcols:
            raise ValueError("no t{k} columns to infer end_ts from")
        end_ts = tcols[-1]
    cols = list(matches.columns)
    schema = matches.schema

    # exchange on pmod(hash(key), 64) rather than the raw key: per-key
    # pandas groups cost ~3 ms each in Arrow overhead, so thousands of
    # tiny key groups dominate at test SF; the per-key replay runs
    # unchanged inside the bucket (horizon resets on key change), and 64
    # buckets bound parallelism — raise for a bigger cluster (round 7,
    # same change as after_match_skip_to_first)
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pdf[cols]
        pdf = pdf.sort_values(
            [key, end_ts, end_id, anchor_ts, anchor_id], kind="mergesort"
        ).reset_index(drop=True)
        kv = pdf[key].to_numpy()
        a_ts = pdf[anchor_ts].astype("datetime64[ns]").astype("int64").to_numpy()
        a_id = pdf[anchor_id].to_numpy().astype("int64")
        e_ts = pdf[end_ts].astype("datetime64[ns]").astype("int64").to_numpy()
        e_id = pdf[end_id].to_numpy().astype("int64")
        keep = [False] * len(pdf)
        cur = None
        le_ts = le_id = None
        for i in range(len(pdf)):
            if kv[i] != cur:
                cur, le_ts, le_id = kv[i], None, None
            if le_ts is None or (a_ts[i], a_id[i]) > (le_ts, le_id):
                keep[i] = True
                le_ts, le_id = e_ts[i], e_id[i]
        return pdf.loc[keep, cols]

    bucket = F.pmod(F.hash(F.col(key)), F.lit(64))
    return (
        matches.withColumn("__b", bucket)
        .groupBy("__b")
        .applyInPandas(lambda pdf: fold(pdf.drop(columns="__b")), schema)
    )


def pattern_detect_any(
    events: DataFrame,
    key: str,
    steps: list[tuple[Column, str]],
    event_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """``followedByAny`` — the reference Pattern API's NON-DETERMINISTIC
    relaxed contiguity (Flink ``Pattern.followedByAny``): where
    ``pattern_detect`` (skip-till-next) binds each step to the EARLIEST
    candidate, followedByAny branches on EVERY candidate — the output is
    every strictly-increasing combination (e1 < e2 < … < eN in the
    engine's (ts, rank, id) total order) with each transition inside its
    ``within`` bound. Bound events are therefore DISTINCT by construction
    — one event never fills two steps of the same match, exactly Flink's
    NFA (each event extends a partial match once) — the round-7 fix for
    ADVICE r6's self-binding tie-break bug.

    The combinatorial fan-out IS the semantics, so every ``within``
    (steps 2..N) is MANDATORY — it bounds each step's candidate set to a
    time window, making the output size the data's answer, not a plan
    accident. Emitted rows are all in-bound by construction (Flink
    discards out-of-window branches; there is no matched_late here).

    Total order: (ts, rank, id) lexicographic where rank is the EVENT's
    global rank — the earliest step index whose predicate it matches —
    the same determinization of same-timestamp arrival order the
    skip-till-next engines and the brute reference use
    (tests/test_properties_round5.py slot_layout/rank). One event has one
    position, so strict ``>`` across adjacent steps makes every match a
    strictly-increasing subsequence — distinct events, monotone in
    arrival order. (The round-6 draft gave each LEG its own rank 2k-1,
    which handed one event two positions and let it bind adjacent steps
    of the same match.)

    Construction: N-1 chained range joins on the key — each is a hash
    exchange on the key (all N scans co-partition, so AQE merges them
    into one shuffle boundary each) with the band predicate
    ``prev < next <= prev + within`` evaluated on the total order above.
    At 100 TB: per-key join fan-out is bounded by per-key density × the
    within windows; no cross-key work, no cartesian term.
    Output: ``i1..iN`` / ``t1..tN`` per combination.
    """
    n = len(steps)
    if n < 2:
        raise ValueError("pattern_detect_any needs at least 2 steps")
    if any(s[1] is None for s in steps[1:]):
        raise ValueError(
            "followedByAny needs a within interval on every step after the "
            "first (the bound is what keeps the branching output finite)"
        )
    # one global rank per EVENT: earliest step whose predicate matches
    rank = F.coalesce(
        *[F.when(pred, F.lit(k)) for k, (pred, _w) in enumerate(steps, start=1)]
    )
    tagged = events.withColumn("__rank", rank)
    legs = []
    for k, (pred, _w) in enumerate(steps, start=1):
        legs.append(
            tagged.filter(pred).select(
                F.col(key).alias("__k"),
                F.col(ts).alias(f"t{k}"),
                F.col("__rank").alias(f"__r{k}"),
                F.col(event_id).alias(f"i{k}"),
            )
        )
    out = legs[0]
    for k in range(2, n + 1):
        p, c = k - 1, k
        after_prev = (F.col(f"t{c}") > F.col(f"t{p}")) | (
            (F.col(f"t{c}") == F.col(f"t{p}"))
            & (
                (F.col(f"__r{c}") > F.col(f"__r{p}"))
                | (
                    (F.col(f"__r{c}") == F.col(f"__r{p}"))
                    & (F.col(f"i{c}") > F.col(f"i{p}"))
                )
            )
        )
        in_bound = F.col(f"t{c}") <= F.col(f"t{p}") + F.expr(steps[k - 1][1])
        out = out.join(legs[k - 1], on="__k").filter(after_prev & in_bound)
    return out.select(
        F.col("__k").alias(key),
        *[F.col(f"i{k}") for k in range(1, n + 1)],
        *[F.col(f"t{k}") for k in range(1, n + 1)],
    )


def after_match_skip_to_first(
    matches: DataFrame,
    key: str,
    step: int,
) -> DataFrame:
    """Flink's ``AfterMatchSkipStrategy.SKIP_TO_FIRST(p)`` /
    ``SKIP_TO_LAST(p)`` over followedByAny candidates (round 7,
    completing the after-match family: NO_SKIP, SKIP_TO_NEXT,
    SKIP_PAST_LAST_EVENT, SKIP_TO_FIRST, SKIP_TO_LAST): after a match
    emits, every pending match that STARTED BEFORE the event bound to
    step ``p`` of the emitted match is discarded; matches starting AT or
    after it survive. Over plain (non-Kleene) chains each step binds
    exactly ONE event, so SKIP_TO_FIRST ≡ SKIP_TO_LAST — this one
    operator covers both strategies on the pattern_detect_any surface
    (Kleene runs, where first/last repetition differ, stay on the
    skip-till-next engine where after_match_skip_past_last applies).

    ``matches`` is ``pattern_detect_any`` output; ``step`` ∈ [2, N] is
    the skip target (step 1 would be a no-op: every match starts at its
    own step-1 event). Candidates replay in COMPLETION order
    ``(tN, iN, anchor_ts, anchor_id)`` (same-ts races canonicalized by
    event id, as across the engine family); a candidate survives iff its
    anchor is AT-OR-PAST the running horizon — the max ``(t_p, i_p)``
    over emitted matches — and emitting advances the horizon. ``>=``
    (not the strictly-past of SKIP_PAST_LAST) is Flink's "started
    before" clause verbatim.

    Scale: same class as the skip_past_last fold — one match-sized
    exchange, then a linear per-key pass in ``applyInPandas``. The
    exchange key is ``pmod(hash(key), n_buckets)`` rather than the raw
    key: per-key pandas groups cost ~3 ms each in Arrow/conversion
    overhead, so thousands of tiny key groups dominate wall time at test
    SF (measured 6.1 s → 0.9 s on 1948 matches / 1500 keys); bucketing
    amortizes that while the per-key replay runs unchanged inside the
    bucket. n_buckets bounds parallelism — set it to the cluster's
    task budget at 100 TB (the greedy replay stays sequential only
    WITHIN a key, as it must).

    The replay order must be TOTAL over candidates — two followedByAny
    branches can share end AND anchor, differing only in middle
    bindings, and whichever is processed first advances the horizon that
    prunes the other — so the middle steps' ``(t_k, i_k)`` extend the
    sort key ascending (earliest-binding branch first, the family's
    canonicalization; found by the 3-SF gate on first wiring).
    """
    import pandas as pd

    tcols = sorted(
        (c for c in matches.columns if c[0] == "t" and c[1:].isdigit()),
        key=lambda c: int(c[1:]),
    )
    n = len(tcols)
    if not 2 <= step <= n:
        raise ValueError(f"step must be in [2, {n}]")
    cols = list(matches.columns)
    schema = matches.schema
    sort_cols = [key, f"t{n}", f"i{n}", "t1", "i1"] + [
        c for k in range(2, n) for c in (f"t{k}", f"i{k}")
    ]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pdf[cols]
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        kv = pdf[key].to_numpy()
        a_ts = pdf["t1"].astype("datetime64[ns]").astype("int64").to_numpy()
        a_id = pdf["i1"].to_numpy().astype("int64")
        p_ts = pdf[f"t{step}"].astype("datetime64[ns]").astype("int64").to_numpy()
        p_id = pdf[f"i{step}"].to_numpy().astype("int64")
        keep = [False] * len(pdf)
        cur = None
        h_ts = h_id = None
        for i in range(len(pdf)):
            if kv[i] != cur:
                cur, h_ts, h_id = kv[i], None, None
            if h_ts is None or (a_ts[i], a_id[i]) >= (h_ts, h_id):
                keep[i] = True
                if h_ts is None or (p_ts[i], p_id[i]) > (h_ts, h_id):
                    h_ts, h_id = p_ts[i], p_id[i]
        return pdf.loc[keep, cols]

    bucket = F.pmod(F.hash(F.col(key)), F.lit(64))
    return (
        matches.withColumn("__b", bucket)
        .groupBy("__b")
        .applyInPandas(lambda pdf: fold(pdf.drop(columns="__b")), schema)
    )


after_match_skip_to_last = after_match_skip_to_first  # plain chains: 1 event/step


def after_match_skip_to_next(
    matches: DataFrame,
    key: str,
) -> DataFrame:
    """Flink's ``AfterMatchSkipStrategy.SKIP_TO_NEXT`` over the candidate
    matches of a compiled pattern (round 7): after a match is emitted,
    every other match that STARTED WITH THE SAME EVENT is discarded — so
    exactly ONE match survives per start event, the first one emitted.
    Under the default skip-till-next compiler there is already one match
    per anchor; the strategy becomes meaningful over ``pattern_detect_any``
    (followedByAny), whose branching yields many matches per anchor —
    precisely the pairing the Flink docs describe.

    ``matches`` is ``pattern_detect_any`` output (``i1..iN`` / ``t1..tN``
    per combination). Emission order is completion order: the match whose
    END event arrives first is emitted first, so per anchor the survivor
    is the minimum under ``(tN, iN, tN-1, iN-1, …, t2, i2)`` —
    lexicographic completion order with a deterministic drill-down (Flink
    leaves same-timestamp arrival races to processing order; this batch
    fold canonicalizes them by event id, the engine family's
    determinization, so replays are bit-stable).

    Scale: unlike the sequential SKIP_PAST_LAST horizon fold, SKIP_TO_NEXT
    is per-anchor INDEPENDENT — one hash exchange on (key, i1) and a
    partial/final ``min_by`` struct aggregate over the MATCH set; fully
    parallel, no per-key sequential pass, match-set-sized.
    """
    tcols = sorted(
        (c for c in matches.columns if c[0] == "t" and c[1:].isdigit()),
        key=lambda c: int(c[1:]),
    )
    n = len(tcols)
    if n < 2 or any(f"i{k}" not in matches.columns for k in range(1, n + 1)):
        raise ValueError("expected pattern_detect_any output (i1..iN/t1..tN)")
    order = []
    for k in range(n, 1, -1):
        order += [F.col(f"t{k}"), F.col(f"i{k}")]
    payload = F.struct(
        *[F.col(f"i{k}") for k in range(2, n + 1)],
        *[F.col(f"t{k}") for k in range(2, n + 1)],
    )
    won = (
        matches.groupBy(key, "i1", "t1")
        .agg(F.min_by(payload, F.struct(*order)).alias("__w"))
    )
    return won.select(
        key,
        F.col("i1"),
        *[F.col(f"__w.i{k}").alias(f"i{k}") for k in range(2, n + 1)],
        F.col("t1"),
        *[F.col(f"__w.t{k}").alias(f"t{k}") for k in range(2, n + 1)],
    )


def pattern_detect_reluctant(
    events: DataFrame,
    key: str,
    steps: list[tuple],
    reluctant: set[int],
    event_id: str = "event_id",
    ts: str = "ts",
    not_followed_by: dict[int, Column] | None = None,
    until: dict[int, Column] | None = None,
    consecutive: set[int] | None = None,
    with_end_id: bool = False,
) -> DataFrame:
    """RELUCTANT (non-greedy) Kleene emission — the reference Pattern
    API's DEFAULT ``oneOrMore()`` / ``times(from, to)`` multi-match
    semantics (Flink: a looping pattern NOT marked ``greedy()`` emits a
    match for EVERY admissible repetition count — pattern ``a b+ c`` on
    ``a b1 b2 b3 c`` yields ``{a b1 c}``, ``{a b1 b2 c}``,
    ``{a b1 b2 b3 c}``; the engine family's greedy run in
    ``pattern_detect`` is the ``greedy()`` variant, which keeps only the
    longest). Reference family: Pattern.oneOrMore / times chaining,
    OrderPayTimeout.java:52-64.

    ``reluctant`` names the Kleene step indexes to branch: each must
    carry a ``(min_reps, max_reps)`` spec with a FINITE ``max_reps`` —
    the branch count is what keeps the emission finite, exactly like
    ``pattern_detect_branching``'s 2^|optional| bound. Compiled as one
    ``pattern_detect`` plan per admitted repetition-count combination
    (``times(m, m)`` pins the run to exactly m repetitions; the
    downstream step binds after the m-th), unioned, with duplicate rows
    collapsed: branches agree bit-for-bit on any anchor whose reluctant
    run never bound (nK null), and disagree on nK otherwise, so
    ``dropDuplicates`` over the full row is exact. Per-count validity
    follows the engine's times(from, to) rule — an entry whose within-gap
    run holds fewer than m rows is not a valid m-binding and the
    previous step binds the next valid entry — so each branch is the
    skip-till-next-match plan for that count (the brute reference is the
    same union, tests/test_properties_round5.py brute_reluctant).

    At most 16 count-combinations are accepted (the product over
    reluctant steps of ``max_reps - min_reps + 1``): the plan is a
    16-way union at the bound — fine for Catalyst, same envelope as
    branching's 2^4 — and real reluctant loops are short (a 32-count
    loop wants the greedy run + per-prefix re-derivation instead).

    Scale: each branch is the linear pattern_detect plan (one key
    exchange + per-Kleene session passes); the union multiplies scan
    count by the branch factor, and the final dropDuplicates is one
    exchange over MATCH-sized output. No self-joins, no per-key
    quadratic term, at 100 TB.
    """
    from itertools import product as _product

    n = len(steps)
    rel = sorted(set(reluctant or ()))
    if not rel:
        raise ValueError("reluctant needs at least one Kleene step index")
    counts: list[list[int]] = []
    for k in rel:
        if k < 2 or k > n:
            raise ValueError("reluctant steps must be step indexes 2..n")
        spec = steps[k - 1][2] if len(steps[k - 1]) > 2 else None
        if not isinstance(spec, tuple):
            raise ValueError(
                f"reluctant step {k} needs an explicit (min_reps, max_reps) "
                "spec — the finite count range is what bounds the branches"
            )
        mn, mx = spec
        if mx == float("inf"):
            raise ValueError(
                f"reluctant step {k} needs a FINITE max_reps (an uncapped "
                "reluctant loop emits unboundedly many matches per run; "
                "use the greedy pattern_detect run instead)"
            )
        counts.append(list(range(int(mn), int(mx) + 1)))
    n_branches = 1
    for c in counts:
        n_branches *= len(c)
    if n_branches > 16:
        raise ValueError(
            f"pattern_detect_reluctant compiles one plan per repetition-"
            f"count combination; {n_branches} branches exceed the 16-plan "
            "envelope (shrink the count ranges)"
        )

    out = None
    for combo in _product(*counts):
        branch_steps = list(steps)
        for k, m in zip(rel, combo):
            pred, w = branch_steps[k - 1][0], branch_steps[k - 1][1]
            branch_steps[k - 1] = (pred, w, (m, m))
        b = pattern_detect(
            events,
            key,
            branch_steps,
            event_id=event_id,
            ts=ts,
            not_followed_by=not_followed_by,
            until=until,
            consecutive=consecutive,
            with_end_id=with_end_id,
        )
        out = b if out is None else out.unionByName(b)
    # branches agree bit-for-bit on any anchor whose reluctant run never
    # bound (nK null — end_id is then null too), so full-row dedup stays
    # exact with the end id column present
    return out.dropDuplicates()


def pattern_detect_combinations(
    events: DataFrame,
    key: str,
    steps: list[tuple],
    combinations: set[int],
    event_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """``allowCombinations()`` — the reference Pattern API's
    NON-DETERMINISTIC relaxed contiguity for LOOPING patterns (Flink
    ``oneOrMore().allowCombinations()`` / ``times(..).allowCombinations()``,
    the looping twin of ``followedByAny`` exactly as ``consecutive()`` is
    the looping twin of ``next()``): the loop binds EVERY
    strictly-increasing subset of candidate events — pattern ``a b+ c``
    on ``a b1 b2 c`` emits the {b1}, {b2} AND {b1,b2} matches, where the
    default relaxed loop emits only prefixes of the earliest run and
    consecutive() only adjacent ones. With this operator the engine
    family covers Flink's full contiguity matrix — strict
    (next/consecutive), relaxed (followedBy/oneOrMore), non-deterministic
    relaxed (followedByAny/allowCombinations) — on both the simple and
    looping axes. Reference family: Pattern combinators of
    OrderPayTimeout.java:52-64.

    ``steps`` follows ``pattern_detect_any``'s shape; a step in
    ``combinations`` carries ``(pred, within, (min_reps, max_reps))``
    with FINITE max_reps — the combinatorial fan-out IS the semantics,
    so both the per-step ``within`` bounds and the finite count range
    are mandatory (they make the output size the data's answer). The
    loop's ``within`` bounds the transition INTO the loop AND each
    repetition gap, exactly the batch Kleene's dual use; the step after
    the loop binds within its bound of the subset's LAST element, and
    every transition keeps followedByAny's every-candidate branching
    (the operator's uniform contiguity).

    Compile: one ``pattern_detect_any`` plan per admitted count
    combination — the loop step expands to m identical legs (the chained
    key-partitioned range joins; an event gets ONE global rank, so legs
    bind DISTINCT events in (ts, rank, id) order — no self-binding) —
    then a column-aligned union: loop step k emits ``iK_1..iK_mx`` /
    ``tK_1..tK_mx`` (null-padded past nK) and ``nK``; rows are distinct
    across branches by nK and within a branch by pattern_detect_any's
    strictly-increasing combination guarantee, so NO dedupe exchange is
    needed. At most 8 branch plans are accepted (each is an (n+m-1)-way
    join chain; real combination loops are short — wide ranges belong to
    the reluctant/greedy forms).

    Scale: per-branch cost is pattern_detect_any's — per-key join
    fan-out bounded by per-key density × the within windows, no
    cross-key work; the union multiplies scan count by the branch
    factor. At 100 TB the within windows are the output-size knob, as
    with followedByAny.
    """
    from itertools import product as _product

    n = len(steps)
    combs = sorted(set(combinations or ()))
    if not combs:
        raise ValueError("combinations needs at least one loop step index")
    counts: list[list[int]] = []
    for k in combs:
        if k < 2 or k > n:
            raise ValueError("combination steps must be step indexes 2..n")
        if len(steps[k - 1]) < 3 or not isinstance(steps[k - 1][2], tuple):
            raise ValueError(
                f"combination step {k} needs a (min_reps, max_reps) spec"
            )
        mn, mx = steps[k - 1][2]
        if mx == float("inf"):
            raise ValueError(
                f"combination step {k} needs a FINITE max_reps (the subset "
                "fan-out is unbounded otherwise)"
            )
        if steps[k - 1][1] is None:
            raise ValueError(
                f"combination step {k} needs a within interval (it bounds "
                "the entry and every repetition gap)"
            )
        mn, mx = int(mn), int(mx)
        if mn < 1 or mx < mn:
            raise ValueError("need 1 <= min_reps <= max_reps")
        counts.append(list(range(mn, mx + 1)))
    n_branches = 1
    for c in counts:
        n_branches *= len(c)
    if n_branches > 8:
        raise ValueError(
            f"pattern_detect_combinations compiles one followedByAny plan "
            f"per count combination; {n_branches} branches exceed the "
            "8-plan envelope (shrink the count ranges)"
        )
    maxes = {k: max(c) for k, c in zip(combs, counts)}

    out = None
    for combo in _product(*counts):
        m_of = dict(zip(combs, combo))
        any_steps, legmap = [], []  # legmap[j] = (step_k, rep_index|None)
        for k in range(1, n + 1):
            pred, w = steps[k - 1][0], steps[k - 1][1]
            if k in m_of:
                for r in range(1, m_of[k] + 1):
                    any_steps.append((pred, w))
                    legmap.append((k, r))
            else:
                any_steps.append((pred, w))
                legmap.append((k, None))
        b = pattern_detect_any(
            events, key, any_steps, event_id=event_id, ts=ts
        )
        sel = [F.col(key)]
        for j, (k, r) in enumerate(legmap, start=1):
            if r is None:
                sel.append(F.col(f"i{j}").alias(f"i{k}"))
                sel.append(F.col(f"t{j}").alias(f"t{k}"))
            else:
                sel.append(F.col(f"i{j}").alias(f"i{k}_{r}"))
                sel.append(F.col(f"t{j}").alias(f"t{k}_{r}"))
        for k in combs:
            for r in range(m_of[k] + 1, maxes[k] + 1):
                sel.append(F.lit(None).cast("long").alias(f"i{k}_{r}"))
                sel.append(F.lit(None).cast("timestamp").alias(f"t{k}_{r}"))
            sel.append(F.lit(m_of[k]).cast("long").alias(f"n{k}"))
        cols = []
        for k in range(1, n + 1):
            if k in maxes:
                cols += [f"i{k}_{r}" for r in range(1, maxes[k] + 1)]
                cols += [f"t{k}_{r}" for r in range(1, maxes[k] + 1)]
                cols.append(f"n{k}")
            else:
                cols += [f"i{k}", f"t{k}"]
        b = b.select(*sel).select(key, *cols)
        out = b if out is None else out.unionByName(b)
    return out


def pattern_detect_group_loop(
    events: DataFrame,
    key: str,
    prefix: list[tuple],
    group: list[tuple],
    suffix: list[tuple],
    reps: tuple,
    event_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """GROUP patterns — the reference Pattern API's
    ``Pattern.begin(subPattern).times(from, to)`` (Flink group patterns:
    a whole sub-pattern quantified as one unit, e.g. ``(a b)+ c``): the
    ``group`` step sequence repeats ``reps = (min, max)`` times between
    the ``prefix`` and ``suffix`` chains, every transition keeping
    followedByAny's every-candidate branching (the non-deterministic
    member of the group-pattern family — the same contiguity
    ``pattern_detect_combinations`` gives the single-step loop, of which
    this is the multi-step generalization: a 1-step group IS
    allowCombinations). Reference family: Pattern combinators of
    OrderPayTimeout.java:52-64.

    ``prefix``/``group``/``suffix`` are ``(pred, within)`` pairs in
    ``pattern_detect_any``'s shape (prefix[0] may carry within=None;
    every other within is MANDATORY — the bounds keep the branching
    output finite, and the first step of each repetition binds within
    its own ``within`` of the previous repetition's last step). Finite
    ``max`` is required and the expanded plans are capped at 8 branches.

    Compile: one ``pattern_detect_any`` plan per admitted repetition
    count — the group's steps are tiled m times — then a column-aligned
    union: group step j of repetition r emits ``gI{r}_{j}``/``gT{r}_{j}``
    (null-padded past n_loops), plus ``n_loops``; prefix/suffix steps
    keep ``i{k}``/``t{k}`` numbering. Distinctness across branches by
    n_loops, within a branch by the strictly-increasing combination
    guarantee — no dedupe exchange.

    Scale: identical to pattern_detect_combinations — per-branch
    followedByAny join chains (per-key fan-out bounded by density ×
    windows), branch-factor scan multiplication, output IS the
    semantics.
    """
    from itertools import product as _product  # noqa: F401 (symmetry)

    g = len(group)
    if g < 1:
        raise ValueError("group needs at least one step")
    if not prefix:
        raise ValueError("group loops need a prefix anchor step")
    mn, mx = reps
    if mx == float("inf"):
        raise ValueError("group loops need a FINITE max repetition count")
    mn, mx = int(mn), int(mx)
    if mn < 1 or mx < mn:
        raise ValueError("need 1 <= min <= max")
    if mx - mn + 1 > 8:
        raise ValueError(
            f"pattern_detect_group_loop compiles one followedByAny plan per "
            f"count; {mx - mn + 1} branches exceed the 8-plan envelope"
        )
    for s in prefix[1:] + group + suffix:
        if s[1] is None:
            raise ValueError(
                "every within after the first prefix step is mandatory "
                "(the bounds keep the branching output finite)"
            )

    np_, ns = len(prefix), len(suffix)
    out = None
    for m in range(mn, mx + 1):
        any_steps = list(prefix) + list(group) * m + list(suffix)
        b = pattern_detect_any(events, key, any_steps, event_id=event_id, ts=ts)
        sel = [F.col(key)]
        for k in range(1, np_ + 1):
            sel += [F.col(f"i{k}").alias(f"i{k}"), F.col(f"t{k}").alias(f"t{k}")]
        for r in range(1, mx + 1):
            for j in range(1, g + 1):
                if r <= m:
                    pos = np_ + (r - 1) * g + j
                    sel += [
                        F.col(f"i{pos}").alias(f"gi{r}_{j}"),
                        F.col(f"t{pos}").alias(f"gt{r}_{j}"),
                    ]
                else:
                    sel += [
                        F.lit(None).cast("long").alias(f"gi{r}_{j}"),
                        F.lit(None).cast("timestamp").alias(f"gt{r}_{j}"),
                    ]
        sel.append(F.lit(m).cast("long").alias("n_loops"))
        for k in range(1, ns + 1):
            pos = np_ + m * g + k
            sel += [
                F.col(f"i{pos}").alias(f"s{k}_id"),
                F.col(f"t{pos}").alias(f"s{k}_ts"),
            ]
        cols = (
            [c for k in range(1, np_ + 1) for c in (f"i{k}", f"t{k}")]
            + [c for r in range(1, mx + 1) for j in range(1, g + 1)
               for c in (f"gi{r}_{j}", f"gt{r}_{j}")]
            + ["n_loops"]
            + [c for k in range(1, ns + 1) for c in (f"s{k}_id", f"s{k}_ts")]
        )
        b = b.select(*sel).select(key, *cols)
        out = b if out is None else out.unionByName(b)
    return out


def pattern_within(
    events: DataFrame,
    key: str,
    preds: list[Column],
    window: str,
    event_id: str = "event_id",
    ts: str = "ts",
    optional: set[int] | None = None,
    strict: set[int] | None = None,
) -> DataFrame:
    """Flink's ``Pattern...within(Time)`` — the GLOBAL match window, with
    the timed-out partial match as a first-class output row.

    Reference: ``Pattern.begin("create").followedBy("pay")
    .within(Time.minutes(15))`` + ``select(timeoutTag, timeoutFn, selectFn)``
    (OrderPayTimeout.java:52-64): Flink's ``within`` bounds FIRST event →
    LAST event of the whole match — for the reference's 2-step pattern the
    transition bound and the global bound coincide, which is why the
    engine's per-transition ``within`` family reproduced it exactly; for
    N-step patterns they differ, and THIS operator is the faithful N-step
    generalization, timeout side output included.

    Why a wrapper is exact: under skip-till-next-match, binding is
    within-INDEPENDENT — each step binds the earliest candidate in the
    (ts, step_rank, id) total order and the NFA never re-searches — so at
    the moment the window expires (t1 + window), the partial match Flink
    prunes holds exactly the chain prefix whose bound timestamps fit the
    budget. Globally-windowed matches are therefore precisely the complete
    chains with span ≤ window, and every other anchor emits a ``timeout``
    row whose ``max_step`` counts the bound prefix at expiry — the
    ``timeoutFn`` payload. Boundary is INCLUSIVE (``t_n <= t1 + window``),
    the engine family's established deadline rule
    (order_lifecycle.py:82) pinned since round 1.

    Output per anchor: ``key, anchor_id, t1..tN, max_step, span_us, state``
    with ``state ∈ {matched, timeout}`` and ``span_us`` the exact
    integer-microsecond match span (null on timeout rows).

    Composition bounds: Kleene/times steps would need per-anchor run
    truncation at ``t1 + window`` (a per-anchor recount the shared-session
    compile cannot express — each anchor's budget cuts the run at a
    different repetition), and a ``notFollowedBy`` guard row past the
    budget must NOT kill (the partial is pruned first) but the compile does
    not expose the guard row's timestamp; both therefore raise. ``optional``
    and ``strict`` compose soundly: chain timestamps stay monotone, so the
    in-budget prefix is still a prefix.

    Scale: identical to the underlying ``pattern_detect`` — one key
    exchange + one sort, N-1 min-of-struct windows, and the
    reclassification is a pure projection; nothing new shuffles.
    """
    n = len(preds)
    steps = [(p, None) for p in preds]
    out = pattern_detect(
        events,
        key,
        steps,
        event_id=event_id,
        ts=ts,
        optional=optional,
        strict=strict,
    )
    deadline = F.col("t1") + F.expr(window)
    matched = (F.col("state") == "matched") & (F.col(f"t{n}") <= deadline)
    bound_w = F.lit(1) + sum(
        F.when(F.col(f"t{k}").isNotNull() & (F.col(f"t{k}") <= deadline), 1)
        .otherwise(0)
        for k in range(2, n + 1)
    )
    span = F.unix_micros(F.col(f"t{n}")) - F.unix_micros(F.col("t1"))
    return out.select(
        key,
        "anchor_id",
        *[f"t{k}" for k in range(1, n + 1)],
        # on a matched row every step fits the budget, so the budget count
        # equals n — one formula serves both states
        bound_w.cast("long").alias("max_step"),
        F.when(matched, span).cast("long").alias("span_us"),
        F.when(matched, F.lit("matched")).otherwise(F.lit("timeout")).alias("state"),
    )


def pattern_detect_iterative(
    events: DataFrame,
    key: str,
    steps: list[tuple[Column, str | None]],
    payload: dict[str, Column] | None = None,
    conds: dict[int, Column] | None = None,
    event_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """``IterativeCondition`` — predicates over PREVIOUSLY BOUND events,
    Flink's ``where(new IterativeCondition<T>() { ...
    ctx.getEventsForPattern("first") ... })`` on the reference's Pattern
    API chains (the dynamic form of OrderPayTimeout.java:52-64's static
    ``where`` clauses).

    ``steps`` is the familiar ``(predicate, within)`` list —
    skip-till-next-match (followedBy) semantics, each step binding the
    EARLIEST admissible candidate in the engine family's (ts, rank, id)
    total order (rank = the event's earliest matching step). ``payload``
    maps output names to Columns computed on the input (e.g.
    ``{"cents": floor(value*100)}``); each bound step j exposes its
    payload as ``<name>{j}`` plus ``t{j}``/``i{j}``. ``conds`` maps step
    k to an arbitrary Column over those columns for j ≤ k — e.g.
    ``{2: F.col("cents2") >= 2 * F.col("cents1")}`` — evaluated BEFORE
    binding, exactly Flink's NFA: an event whose iterative condition
    fails is skipped and the search continues with the next candidate
    (the condition is part of "matching", not a post-filter on the
    earliest match).

    Why a different compile: the shared min-of-struct window trick behind
    ``pattern_detect`` depends on every anchor agreeing on which rows are
    candidates; an iterative condition makes candidacy PER-PARTIAL-MATCH,
    so this operator compiles to the join family instead — per step one
    key-equi join (band predicate: total-order ``>`` + mandatory
    ``within``, the fan-out bound) followed by a min_by(struct) argmin
    per partial match. Every ``within`` after the first is therefore
    MANDATORY, as in ``pattern_detect_any``. Output: matched chains only
    (the ``selectFn`` contract — one row per anchor that completes), with
    ``i1..iN``/``t1..tN`` and the payload columns.

    Scale: N-1 key-equi joins, each bounded by per-key density × the
    within window, immediately collapsed by a partial-aggregating min_by
    (map-side combine) back to ≤ one row per anchor — the intermediate
    never exceeds the join band, and there is no combinatorial output
    (unlike followedByAny). No cross-key work, no cartesian term.

    GREEDY Kleene steps (round 9 — the iterative join compile with a
    session-refined run step): a step may carry ``(pred, within,
    (min_reps, max_reps))`` — it binds a greedy run exactly like
    ``pattern_detect``'s Kleene machinery (``within`` is the repetition
    gap; the run is the session prefix from the entry, capped at
    max_reps; entries with fewer than min_reps available are invalid),
    compiled as an ENTRIES leg: one session pass over the step's rows
    plus a sorted per-session struct array makes every entry's run
    length/last repetition a vectorized lookup (the budget-run
    construction, sans budget). The iterative condition on a Kleene
    step admits the run's ENTRY row (``t{k}``/``payload{k}`` expose the
    entry; the run then follows the within-gap session unconditionally
    — binding is candidacy-based, runs are shared, exactly the batch
    Kleene machinery's split); conditions on LATER steps may also
    reference ``t{k}_last`` and ``n{k}``. The step after a Kleene step
    binds strictly after the run's LAST repetition. max_reps may be
    ``float("inf")`` (the within-gap session bounds the run).
    """
    n = len(steps)
    if n < 2:
        raise ValueError("pattern_detect_iterative needs at least 2 steps")
    if any(s[1] is None for s in steps[1:]):
        raise ValueError(
            "iterative patterns need a within interval on every step after "
            "the first (the join band is the fan-out bound)"
        )
    reps: list[tuple[int, int | None] | None] = []
    for s in steps:
        r = s[2] if len(s) > 2 else None
        if r is None:
            reps.append(None)
        elif isinstance(r, tuple):
            reps.append(
                (int(r[0]), None if r[1] == float("inf") else int(r[1]))
            )
        else:
            reps.append((1, None) if r == float("inf") else (1, int(r)))
    if reps[0] is not None:
        raise ValueError("oneOrMore/times is not supported on the first step")
    if any(
        r is not None and (r[0] < 1 or (r[1] is not None and r[1] < r[0]))
        for r in reps
    ):
        raise ValueError("need 1 <= min_reps <= max_reps")
    pay = dict(payload or {})
    cnd = dict(conds or {})
    if any(k < 2 or k > n for k in cnd):
        raise ValueError("conds keys must be step indexes 2..n")
    rank = F.coalesce(
        *[F.when(s[0], F.lit(k)) for k, s in enumerate(steps, start=1)]
    )
    tagged = events.withColumn("__rank", rank)

    def leg(k: int) -> DataFrame:
        plain = tagged.filter(steps[k - 1][0]).select(
            F.col(key).alias("__ck" if k > 1 else "__k"),
            F.col(ts).alias(f"t{k}"),
            F.col("__rank").alias(f"__r{k}"),
            F.col(event_id).alias(f"i{k}"),
            *[c.alias(f"{nm}{k}") for nm, c in pay.items()],
        )
        if reps[k - 1] is None:
            return plain
        # Kleene entries leg: one session pass over the step's rows
        # ((ts, id) order, the gap = within); the sorted per-session
        # array makes run length / last repetition vectorized lookups
        mn, mx = reps[k - 1]
        wk = Window.partitionBy("__ck").orderBy(f"t{k}", f"i{k}")
        prev_ts = F.lag(f"t{k}").over(wk)
        rows = plain.withColumn(
            "__ns",
            F.when(
                prev_ts.isNull()
                | (F.col(f"t{k}") > prev_ts + F.expr(steps[k - 1][1])),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).withColumn(
            "__sid",
            F.sum("__ns").over(wk.rowsBetween(Window.unboundedPreceding, 0)),
        )
        w_sess = Window.partitionBy("__ck", "__sid").orderBy(f"t{k}", f"i{k}")
        w_sess_full = w_sess.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        rows = (
            rows.withColumn("__rn", F.row_number().over(w_sess))
            .withColumn("__cnt", F.count(F.lit(1)).over(w_sess_full))
            .withColumn(
                "__arr",
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("__rn"),
                            F.col(f"t{k}").alias("t"),
                            F.col(f"i{k}").alias("i"),
                            F.col(f"__r{k}").alias("r"),
                        )
                    ).over(w_sess_full)
                ),
            )
        )
        avail = (F.col("__cnt") - F.col("__rn") + 1).cast("long")
        n_reps = avail if mx is None else F.least(F.lit(mx).cast("long"), avail)
        last = F.element_at("__arr", (F.col("__rn") + n_reps - 1).cast("int"))
        return (
            rows.filter(avail >= F.lit(mn))
            .select(
                "__ck", f"t{k}", f"__r{k}", f"i{k}",
                *[f"{nm}{k}" for nm in pay],
                last["t"].alias(f"t{k}_last"),
                last["i"].alias(f"__li{k}"),
                last["r"].alias(f"__lr{k}"),
                n_reps.alias(f"n{k}"),
            )
        )

    def handoff(p: int) -> tuple[str, str, str]:
        """The (ts, rank, id) columns the NEXT step binds after — a
        Kleene predecessor hands off from its run's LAST repetition."""
        if reps[p - 1] is not None:
            return (f"t{p}_last", f"__lr{p}", f"__li{p}")
        return (f"t{p}", f"__r{p}", f"i{p}")

    cur = leg(1)
    for k in range(2, n + 1):
        p = k - 1
        h_ts, h_r, h_i = handoff(p)
        after_prev = F.struct(f"t{k}", f"__r{k}", f"i{k}") > F.struct(
            h_ts, h_r, h_i
        )
        in_bound = F.col(f"t{k}") <= F.col(h_ts) + F.expr(steps[k - 1][1])
        cond = after_prev & in_bound
        if k in cnd:
            cond = cond & cnd[k]
        joined = (
            cur.join(leg(k), cur["__k"] == F.col("__ck"), "inner")
            .filter(cond)
            .drop("__ck")
        )
        prev_cols = cur.columns
        new_cols = [f"t{k}", f"__r{k}", f"i{k}"] + [f"{nm}{k}" for nm in pay]
        if reps[k - 1] is not None:
            new_cols += [f"t{k}_last", f"__li{k}", f"__lr{k}", f"n{k}"]
        # skip-till-next: the EARLIEST admissible candidate per partial
        # match — min_by partial-aggregates map-side, so the shuffle
        # carries one row per (partial, partition), not the join band
        cur = joined.groupBy(*prev_cols).agg(
            F.min_by(
                F.struct(*new_cols), F.struct(f"t{k}", f"__r{k}", f"i{k}")
            ).alias("__b")
        )
        cur = cur.select(*prev_cols, *[F.col(f"__b.{c}").alias(c) for c in new_cols])
    return cur.select(
        F.col("__k").alias(key),
        *[F.col(f"i{k}") for k in range(1, n + 1)],
        *[F.col(f"t{k}") for k in range(1, n + 1)],
        *[
            c
            for k in range(1, n + 1)
            if reps[k - 1] is not None
            for c in (F.col(f"t{k}_last"), F.col(f"n{k}"))
        ],
        *[F.col(f"{nm}{k}") for nm in pay for k in range(1, n + 1)],
    )


def pattern_detect_budget_run(
    events: DataFrame,
    key: str,
    anchor: Column,
    run: Column,
    suffix: Column,
    payload: Column,
    budget: int,
    gap: str,
    suffix_within: str,
    cap: int | None = None,
    event_id: str = "event_id",
    ts: str = "ts",
) -> DataFrame:
    """BUDGET-capped Kleene run — ``oneOrMore().until(IterativeCondition)``
    with a RUNNING-AGGREGATE stop (round 8): anchor → run⁺ → suffix where
    the run stops accepting BEFORE its cumulative ``payload`` would
    exceed ``budget`` (Flink's ``until`` STOPS the looping state the
    moment its condition fires — evaluated here over
    ``ctx.getEventsForPattern("run")``'s sum including the candidate —
    so the run is the maximal prefix of the entry's within-gap session
    whose running sum stays ≤ budget; the SQL MATCH_RECOGNIZE analogue
    is an aggregate in DEFINE over the quantified variable). ``payload``
    must be a NON-NEGATIVE integer column (monotone running sums are
    what make the stop a prefix rule; the family's exactness rule bans
    floats anyway). An entry whose own payload exceeds the budget is not
    a valid binding and the anchor binds the next valid entry
    (times-validity). ``cap`` optionally bounds repetitions on top.

    Compile: the run table sessionizes ONCE per key ((ts, id) order,
    ``gap`` splits); per-session prefix sums + one sorted per-session
    struct array make every entry's run length a single vectorized
    ``filter`` count (prefix sums are non-decreasing, so "stop before
    exceeding" = count of session prefixes ≤ entry_base + budget) and
    its last repetition an ``element_at`` lookup — no per-entry
    iteration, no variable-offset lead. Binding is the iterative-join
    family (the per-entry run length makes candidacy entry-dependent,
    so the shared-window compile can't express it): anchors band-join
    valid entries ((ts, rank, id) admission, ``gap`` bounds the
    transition), the bound run's LAST repetition band-joins suffixes
    (``suffix_within`` mandatory — the fan-out bound), each collapsed by
    map-side ``min_by``. Output: one row per anchor that COMPLETES
    (the iterative-family contract): ``key, anchor_id, t1, t2, t2_last,
    n2, spent, t3, end_id``.

    Scale: one key exchange for the session pass (per-session arrays are
    bounded by within-gap density), two band joins each immediately
    collapsed by partial-aggregating min_by — anchor-sized
    intermediates, no cross-key work, no driver participation.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    if cap is not None and cap < 1:
        raise ValueError("cap must be >= 1")
    rank = F.coalesce(
        F.when(anchor, F.lit(1)), F.when(run, F.lit(2)), F.when(suffix, F.lit(3))
    )
    tagged = events.withColumn("__rank", rank)

    w_key = Window.partitionBy("__k").orderBy("__ts", "__id")
    # ADVICE r8: the prefix-sum stop rule assumes MONOTONE running sums —
    # a negative payload would silently yield wrong run lengths, so fail
    # loudly at evaluation time instead (the family's exactness-rule
    # enforcement; the streaming twin checks the same in numpy)
    pay_long = payload.cast("long")
    checked_pay = F.when(pay_long >= 0, pay_long).otherwise(
        F.raise_error(
            F.concat(
                F.lit("pattern_detect_budget_run: payload must be a "
                      "non-negative integer column, got "),
                pay_long.cast("string"),
            )
        )
    )
    runs = tagged.filter(run).select(
        F.col(key).alias("__k"),
        F.col(ts).alias("__ts"),
        F.col(event_id).alias("__id"),
        F.col("__rank").alias("__r"),
        checked_pay.alias("__pay"),
    )
    runs = runs.withColumn(
        "__ns",
        F.when(
            F.lag("__ts").over(w_key).isNull()
            | (F.col("__ts") > F.lag("__ts").over(w_key) + F.expr(gap)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__sid", F.sum("__ns").over(w_key.rowsBetween(Window.unboundedPreceding, 0)))
    w_sess = Window.partitionBy("__k", "__sid").orderBy("__ts", "__id")
    w_sess_full = w_sess.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    runs = (
        runs.withColumn("__rn", F.row_number().over(w_sess))
        .withColumn(
            "__pre", F.sum("__pay").over(w_sess.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn(
            "__arr",
            F.sort_array(
                F.collect_list(
                    F.struct("__rn", "__pre", "__ts", "__id", "__r")
                ).over(w_sess_full)
            ),
        )
    )
    bound = F.col("__pre") - F.col("__pay") + F.lit(budget)
    cnt_le = F.size(F.filter("__arr", lambda x: x["__pre"] <= bound))
    n_reps = cnt_le - (F.col("__rn") - 1)
    if cap is not None:
        n_reps = F.least(n_reps, F.lit(cap))
    last = F.element_at("__arr", (F.col("__rn") + n_reps - 1).cast("int"))
    entries = (
        runs.filter(F.col("__pay") <= F.lit(budget))
        .select(
            F.col("__k").alias("__ek"),
            F.col("__ts").alias("t2"),
            F.col("__r").alias("__r2"),
            F.col("__id").alias("i2"),
            last["__ts"].alias("t2_last"),
            last["__id"].alias("__last_id"),
            last["__r"].alias("__last_r"),
            n_reps.cast("long").alias("n2"),
            (last["__pre"] - (F.col("__pre") - F.col("__pay")))
            .cast("long")
            .alias("spent"),
        )
    )
    anchors = tagged.filter(anchor).select(
        F.col(key).alias("__k"),
        F.col(ts).alias("t1"),
        F.col("__rank").alias("__r1"),
        F.col(event_id).alias("anchor_id"),
    )
    adm1 = F.struct("t2", "__r2", "i2") > F.struct("t1", "__r1", "anchor_id")
    in1 = F.col("t2") <= F.col("t1") + F.expr(gap)
    j1 = (
        anchors.join(entries, anchors["__k"] == entries["__ek"], "inner")
        .filter(adm1 & in1)
        .drop("__ek")
    )
    b1_cols = ["t2", "__r2", "i2", "t2_last", "__last_id", "__last_r", "n2", "spent"]
    cur = (
        j1.groupBy("__k", "t1", "__r1", "anchor_id")
        .agg(
            F.min_by(
                F.struct(*b1_cols), F.struct("t2", "__r2", "i2")
            ).alias("__b")
        )
        .select(
            "__k", "t1", "__r1", "anchor_id",
            *[F.col(f"__b.{c}").alias(c) for c in b1_cols],
        )
    )
    sufs = tagged.filter(suffix).select(
        F.col(key).alias("__sk"),
        F.col(ts).alias("t3"),
        F.col("__rank").alias("__r3"),
        F.col(event_id).alias("end_id"),
    )
    adm2 = F.struct("t3", "__r3", "end_id") > F.struct(
        "t2_last", "__last_r", "__last_id"
    )
    in2 = F.col("t3") <= F.col("t2_last") + F.expr(suffix_within)
    j2 = (
        cur.join(sufs, cur["__k"] == sufs["__sk"], "inner")
        .filter(adm2 & in2)
        .drop("__sk")
    )
    prev_cols = cur.columns
    out = (
        j2.groupBy(*prev_cols)
        .agg(
            F.min_by(
                F.struct("t3", "__r3", "end_id"),
                F.struct("t3", "__r3", "end_id"),
            ).alias("__s")
        )
        .select(*prev_cols, F.col("__s.t3").alias("t3"), F.col("__s.end_id").alias("end_id"))
    )
    return out.select(
        F.col("__k").alias(key),
        "anchor_id", "t1", "t2", "t2_last", "n2", "spent", "t3", "end_id",
    )


def pattern_detect_reluctant_enum(
    events: DataFrame,
    key: str,
    steps: list[tuple],
    event_id: str = "event_id",
    ts: str = "ts",
    with_end_id: bool = False,
    n_buckets: int = 64,
    lazy_fold: bool = False,
) -> DataFrame:
    """RELUCTANT multi-match by PER-ENTRY COUNT ENUMERATION (round 9) —
    the union-of-plans collapse for the canonical 3-step shape ``anchor
    → B{min,max}? → suffix`` (plain anchor and suffix, ONE reluctant
    step), and the lift of the uncapped ``B+?`` / ``B{n,}?`` raise:
    where ``pattern_detect_reluctant`` compiles ONE plan per admissible
    repetition count (scan count × branch factor; capped at 16),
    this operator derives EVERY count's binding from one session pass —
    so the count range no longer needs to be finite.

    Semantics are pinned to the union engine bit-for-bit on finite
    ranges (the family's brute: one ``times(m, m)`` skip-till-next plan
    per count, unioned, full-row dedup):

    - per count m, the anchor binds the EARLIEST entry whose within-gap
      session still holds ≥ m repetitions from it (times-validity; an
      entry with fewer rows is skipped and a LATER session may bind —
      the count staircase, which is why a naive per-entry explode is
      not enough);
    - the suffix binds strictly after the run's m-th repetition in the
      engine family's (ts, rank, id) total order;
    - ``within`` bounds CLASSIFY (matched / matched_late), never bind;
      the reluctant step's within is also the session gap (the dual use
      everywhere in the family);
    - per-anchor visibility rows match the union + dedup exactly: ONE
      null-entry ``incomplete`` row when some count in the FINITE range
      has no valid entry, per-count ``incomplete`` rows when an entry
      binds but no suffix follows. An UNCAPPED spec emits bound counts
      only (Flink's multi-match has no ghost rows; the union limit's
      per-anchor null row would be pure noise), and requires a finite
      ``within`` — the session gap is what keeps per-anchor emission
      finite, the same rule the greedy uncapped run enforces.

    Construction: per key (bucketed ``applyInPandas``, the after-match
    folds' exchange shape) the classified rows sort once by the total
    order; run rows sessionize by the gap ((ts, id) order); each
    anchor's admissible counts come from walking the RECORD entries
    after it (entries whose availability exceeds every entry between) —
    a sparse-table range-max descent, O(log n) per record, and records
    per anchor are bounded by the count range actually emitted. Suffix
    bindings are searchsorted probes on global positions.

    Scale: ONE exchange of the three classified row sets (the union
    engine shuffles the same rows once per count plan), per-key work
    O(n log n + output), output IS the multi-match semantics. The
    per-key pass is vectorized numpy except the per-anchor record walk,
    which is output-bounded. Reference: Flink CEP's default (reluctant)
    oneOrMore multi-match, Pattern.oneOrMore chaining
    (OrderPayTimeout.java:52-64 family).

    ``lazy_fold=True`` (round 9, second pass) additionally runs SQL's
    LAZY one-row semantics IN-KERNEL — per anchor the candidate
    completing earliest (ties → smaller count), then the SKIP PAST
    LAST non-overlap horizon walk — emitting only the folded matches
    (bit-equal to the 3-stage preference-window + fold pipeline, two
    exchanges and a second pandas pass cheaper; implies with_end_id).
    """
    import numpy as np
    import pandas as pd

    if lazy_fold:
        with_end_id = True
    if len(steps) != 3:
        raise ValueError(
            "pattern_detect_reluctant_enum serves the 3-step shape "
            "anchor → B{min,max}? → suffix (other shapes stay on the "
            "per-count union engine)"
        )
    pa, pr, ps = steps[0][0], steps[1][0], steps[2][0]
    w2, w3 = steps[1][1], steps[2][1]
    spec = steps[1][2] if len(steps[1]) > 2 else None
    if not isinstance(spec, tuple):
        raise ValueError("the reluctant step needs a (min_reps, max_reps) spec")
    mn = int(spec[0])
    mx = None if spec[1] == float("inf") else int(spec[1])
    if mn < 1 or (mx is not None and mx < mn):
        raise ValueError("need 1 <= min_reps <= max_reps")
    if mx is None and w2 is None:
        raise ValueError(
            "an uncapped reluctant step needs a finite within interval "
            "(the session gap bounds per-anchor emission, exactly the "
            "greedy uncapped rule)"
        )
    if len(steps[0]) > 2 and steps[0][2] is not None:
        raise ValueError("the anchor step must be plain")
    if len(steps[2]) > 2 and steps[2][2] is not None:
        raise ValueError("the suffix step must be plain")

    from flink_uba_spark.streaming.pattern import _interval_us

    w2_us = None if w2 is None else _interval_us(w2)
    w3_us = None if w3 is None else _interval_us(w3)

    base = events.select(
        F.col(key).alias("__k"),
        F.col(event_id).alias("__id"),
        F.col(ts).alias("__ts"),
        pa.cast("boolean").alias("__pa"),
        pr.cast("boolean").alias("__pr"),
        ps.cast("boolean").alias("__ps"),
    ).filter(F.col("__pa") | F.col("__pr") | F.col("__ps"))

    out_cols = [key, "anchor_id", "t1", "t2", "t2_last", "n2", "t3"]
    if with_end_id:
        out_cols.append("end_id")
    out_cols += ["max_step", "state"]
    key_dtype = dict(events.dtypes)[key]
    schema_sql = (
        f"{key} {key_dtype}, anchor_id long, t1 timestamp, t2 timestamp, "
        "t2_last timestamp, n2 long, t3 timestamp, "
        + ("end_id long, " if with_end_id else "")
        + "max_step long, state string"
    )

    def _key_matches(g: pd.DataFrame, out: list):
        kv = g["__k"].iloc[0]
        e_ts = g["__ts"].astype("datetime64[us]").astype("int64").to_numpy()
        e_id = g["__id"].to_numpy().astype("int64")
        fa = g["__pa"].to_numpy().astype(bool)
        fr = g["__pr"].to_numpy().astype(bool)
        fs = g["__ps"].to_numpy().astype(bool)
        rank = np.where(fa, 1, np.where(fr, 3, 5))
        # global positions in the family's (ts, rank, id) total order
        order = np.lexsort((e_id, rank, e_ts))
        e_ts, e_id, fa, fr, fs, rank = (
            a[order] for a in (e_ts, e_id, fa, fr, fs, rank)
        )
        pos = np.arange(len(e_ts))

        # run rows in the session machinery's (ts, id) order
        r_idx = np.nonzero(fr)[0]
        rs = r_idx[np.lexsort((e_id[r_idx], e_ts[r_idx]))]
        r_ts, r_id, r_pos = e_ts[rs], e_id[rs], pos[rs]
        nR = len(rs)
        if nR:
            new_sess = np.empty(nR, dtype=bool)
            new_sess[0] = True
            if w2_us is None:
                new_sess[1:] = False
            else:
                new_sess[1:] = r_ts[1:] > r_ts[:-1] + w2_us
            starts = np.nonzero(new_sess)[0]
            sess_start = np.zeros(nR, dtype="int64")
            sess_start[starts] = starts
            sess_start = np.maximum.accumulate(sess_start)
            ends = np.append(starts[1:], nR)
            sess_end = np.empty(nR, dtype="int64")
            for si in range(len(starts)):
                sess_end[starts[si]:ends[si]] = ends[si]
            avail = sess_end - np.arange(nR)
        else:
            avail = np.empty(0, dtype="int64")

        # BINDING order is the engine's min-of-struct: lexicographic
        # (ts, id) among candidates ADMISSIBLE by strict (ts, rank, id)
        # position — the two orders differ only inside an equal-ts
        # group, where inadmissible same-ts rows are skipped linearly
        # (groups are tie-sized). Entries stay in run-sorted (ts, id)
        # order, which the sparse table and the staircase walk follow.
        if nR:
            kmax = int(nR).bit_length() - 1
            sp = [avail]
            for j in range(1, kmax + 1):
                prev, half = sp[-1], 1 << (j - 1)
                sp.append(
                    np.maximum(prev[: nR - (1 << j) + 1],
                               prev[half: nR - half + 1])
                )

            def first_avail_gt(lo: int, v: int) -> int:
                """Leftmost j >= lo with avail[j] > v, or nR."""
                j = lo
                while j < nR:
                    if avail[j] > v:
                        return j
                    step = 1
                    lvl = 0
                    while True:
                        nxt_lvl = lvl + 1
                        sz = 1 << nxt_lvl
                        if j + sz <= nR and sp[nxt_lvl][j] <= v:
                            lvl, step = nxt_lvl, sz
                        else:
                            break
                    j += step
                return nR

        s_idx0 = np.nonzero(fs)[0]
        ss = s_idx0[np.lexsort((e_id[s_idx0], e_ts[s_idx0]))]
        s_pos, s_ts_arr, s_id_arr = pos[ss], e_ts[ss], e_id[ss]
        nS = len(ss)

        def bind_suffix(lr_ts: int, lr_pos: int) -> int:
            """Earliest suffix by (ts, id) strictly after position
            lr_pos; -1 if none. Linear only over the lr_ts tie group."""
            sj = int(np.searchsorted(s_ts_arr, lr_ts, side="left"))
            while sj < nS and s_ts_arr[sj] == lr_ts:
                if s_pos[sj] > lr_pos:
                    return sj
                sj += 1
            return sj if sj < nS else -1

        a_idx = np.nonzero(fa)[0]
        lazy_cands: list[tuple] = []
        for ai in a_idx:
            a_ts, a_id, a_pos = e_ts[ai], e_id[ai], pos[ai]
            j = int(np.searchsorted(r_ts, a_ts, side="left")) if nR else 0
            runmax = 0
            while nR and j < nR:
                j = first_avail_gt(j, runmax)
                if j >= nR:
                    break
                if r_pos[j] <= a_pos:
                    # same-ts row at/before the anchor's position — not
                    # admissible, not a record; keep scanning
                    j += 1
                    continue
                v = int(avail[j])
                lo_m = max(mn, runmax + 1)
                hi_m = v if mx is None else min(mx, v)
                ri = j
                for m in range(lo_m, hi_m + 1):
                    last = ri + m - 1   # run-sorted contiguous session
                    lr_pos = r_pos[last]
                    t2, t2l = int(r_ts[ri]), int(r_ts[last])
                    sj = bind_suffix(t2l, lr_pos)
                    if lazy_fold:
                        # the fold acts on MATCHED candidates only
                        if sj >= 0:
                            t3 = int(s_ts_arr[sj])
                            if (
                                (w2_us is None or t2 <= a_ts + w2_us)
                                and (w3_us is None or t3 <= t2l + w3_us)
                            ):
                                lazy_cands.append(
                                    (int(a_ts), int(a_id), t2, t2l, m,
                                     t3, int(s_id_arr[sj]))
                                )
                        continue
                    row = {
                        key: kv, "anchor_id": int(a_id), "t1": a_ts,
                        "t2": t2, "t2_last": t2l, "n2": m,
                    }
                    if sj >= 0:
                        t3 = int(s_ts_arr[sj])
                        ok = (w2_us is None or t2 <= a_ts + w2_us) and (
                            w3_us is None or t3 <= t2l + w3_us
                        )
                        row.update(
                            t3=t3, max_step=3,
                            state="matched" if ok else "matched_late",
                        )
                        if with_end_id:
                            row["end_id"] = int(s_id_arr[sj])
                    else:
                        row.update(t3=None, max_step=2, state="incomplete")
                        if with_end_id:
                            row["end_id"] = None
                    out.append(row)
                runmax = v
                if mx is not None and runmax >= mx:
                    break
                j += 1
            if not lazy_fold and mx is not None and runmax < mx:
                # some count in the finite range has no valid entry —
                # the union's per-anchor null row (deduped to one)
                row = {
                    key: kv, "anchor_id": int(a_id), "t1": a_ts,
                    "t2": None, "t2_last": None, "n2": None, "t3": None,
                    "max_step": 1, "state": "incomplete",
                }
                if with_end_id:
                    row["end_id"] = None
                out.append(row)
        if lazy_fold and lazy_cands:
            # lazy preference: per anchor the earliest-completing
            # candidate, ties to the smaller count — then the SKIP PAST
            # LAST horizon walk in completion order (the exact order of
            # the 3-stage window + fold pipeline)
            best: dict[tuple, tuple] = {}
            for t1_, i1_, t2_, t2l_, m_, t3_, e3_ in lazy_cands:
                kk = (t1_, i1_)
                c = (t3_, e3_, m_, t2_, t2l_)
                if kk not in best or c < best[kk]:
                    best[kk] = c
            le = None
            for (t1_, i1_), (t3_, e3_, m_, t2_, t2l_) in sorted(
                best.items(), key=lambda kv2: (kv2[1][0], kv2[1][1],
                                               kv2[0][0], kv2[0][1])
            ):
                if le is None or (t1_, i1_) > le:
                    out.append(
                        {
                            key: kv, "anchor_id": i1_, "t1": t1_,
                            "t2": t2_, "t2_last": t2l_, "n2": m_,
                            "t3": t3_, "end_id": e3_,
                            "max_step": 3, "state": "matched",
                        }
                    )
                    le = (t3_, e3_)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows: list = []
        if len(pdf):
            for _kv, g in pdf.groupby("__k", sort=False):
                _key_matches(g, rows)
        res = pd.DataFrame(rows, columns=out_cols)
        for c in ("t1", "t2", "t2_last", "t3"):
            res[c] = pd.to_datetime(res[c], unit="us") if len(res) else pd.Series(
                [], dtype="datetime64[us]")
        for c in (["n2", "max_step", "anchor_id"]
                  + (["end_id"] if with_end_id else [])):
            res[c] = res[c].astype("Int64") if len(res) else pd.Series(
                [], dtype="Int64")
        return res

    bucket = F.pmod(F.hash(F.col("__k")), F.lit(n_buckets))
    return (
        base.withColumn("__b", bucket)
        .groupBy("__b")
        .applyInPandas(lambda pdf: kernel(pdf.drop(columns="__b")), schema_sql)
    )
