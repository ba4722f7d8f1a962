"""Streaming N-step CEP pattern matching — the Pattern-API chain
(``Pattern.begin(...).followedBy(...)...within(...)``,
OrderPayTimeout.java:52-64) in its native streaming form: a per-key NFA in
``applyInPandasWithState``, the streaming twin of the batch compiler
``operators/sequence.py:pattern_detect``. ONE engine covers plain chains of
any length AND bounded-Kleene (``oneOrMore(gap, cap)``) steps at any
position ≥ 2 — the same generality as the batch compiler (round 5;
previously the Kleene form was hardwired to the 3-step A → B⁺ → C shape).

Semantics (identical to the batch compiler's followed-by /
skip-till-next-match):

- every event matching step 1 anchors an independent match attempt —
  events are NOT consumed, two anchors may bind the same successor;
- a plain step k+1 binds to the candidate event minimizing (ts, event_id)
  among step-(k+1) events strictly after step k's bound row in
  (ts, step_rank, event_id) order — the batch form's min-of-struct over
  the rows-after frame, reproduced exactly (same-ts successors count;
  earlier pattern steps order first at equal timestamps);
- a Kleene step binds its ENTRY the same way, then extends through the
  greedy run: successive step-k rows (in (ts, id) order among the step's
  own rows) each within ``gap`` of the previous, capped at ``cap`` — the
  batch compiler's within-gap session. The next step binds strictly after
  the run's LAST repetition;
- ``within`` bounds CLASSIFY a complete chain as ``matched`` vs
  ``matched_late`` (the payed vs payed_late rule — the first candidate
  decides, later ones are not re-searched); they never reject a binding.
  The bound INTO a Kleene step applies to its entry; the bound INTO the
  step after a Kleene applies from the run's last repetition.

Streaming delta vs batch: a chain is emitted the moment its last step
binds. A Kleene run is only known CLOSED when cap is reached, a same-key
row proves the gap lapsed (event-time-ordered batches: any observed row
with ts > last_rep + gap), or the watermark passes last_rep + gap
(event-time timer). While a run is open the chain cannot bind its next
step, so rows that might serve LATER steps are kept in a per-key buffer
bounded by the gap horizon (an open run's last rep is always within gap
of the newest observed row, else evidence would have closed it); on
closure the chain resolves against buffer + current batch. Chains whose
runs never close by the final watermark never emit — the oracle excludes
them with the same ms-floored watermark predicate the order-timeout twin
uses. ``state_ttl`` optionally flushes idle chains as ``incomplete``
(bounded-state policy knob; trades matched_late for dropped — see
make_pattern_matcher).

Vectorized micro-batch resolution (no per-event Python loop — the
round-3-verdict anti-pattern): per key, buffer ⊕ batch forms a TIMELINE
sorted once by (ts, rank, id); each step's occurrence list carries a
precomputed suffix-argmin by (ts, id), Kleene steps additionally a
session (linked-run) table, so every pending chain binds via one
``np.searchsorted`` + gathers per step — O(m log m) in timeline rows,
looping only over the N pattern steps (plus one O(open runs) loop for
carried-run extension). Cross-batch state per key is O(pending chains)
fixed-width integer rows + the gap-horizon buffer.

Cross-batch ordering contract: replays split micro-batches by event time
(equal-ts rows land together), so every prior-batch event precedes every
current-batch event in the global sort — buffer rows always precede batch
rows and the concatenated timeline is sorted.

CHECKPOINT COMPATIBILITY: every keyed operator keeps its state in hash
buckets (``_keyed_state_apply``): Spark sees one ``BUCKET_STATE_SCHEMA``
binary column per bucket, and the blob behind it carries a header naming
its codec, the codec's version and the bucket count B. A blob without the
header, from another codec or version, or written under another B is
refused with ``StateLayoutError`` — restart such a query with a NEW
checkpoint directory (replays are deterministic, so a fresh
``availableNow`` replay reproduces the stream). A per-key detect function
wrapped by ``make_bucketed_matcher`` stores a plain tuple; the rule for
changing it sits next to ``KMAP_CODEC``.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_US = 1_000_000

# uncapped-oneOrMore sentinel: large enough that "cap reached" never
# fires, small enough that cap-arithmetic (cap - kln, minimum(cap, t))
# stays inside int64
UNCAPPED_REPS = 1 << 62


def pattern_output_schema(
    n_steps: int, kleenes: list[tuple[int, int] | None] | None = None,
    with_end_id: bool = False, with_step_ids: bool = False,
) -> T.StructType:
    """Output columns mirror the batch compiler: t{k} per step, plus
    t{k}_last / n{k} after each Kleene step's entry column.
    ``with_step_ids`` adds i{k} (the bound row's event id; a Kleene
    step's ENTRY id) after each step's columns; ``with_end_id`` adds
    end_id before max_step — both round 11, batch-parity opt-ins."""
    kleenes = kleenes or [None] * n_steps
    fields = [
        T.StructField("user_id", T.LongType()),
        T.StructField("anchor_id", T.LongType()),
    ]
    for k in range(1, n_steps + 1):
        fields.append(T.StructField(f"t{k}", T.TimestampType()))
        if kleenes[k - 1] is not None:
            fields.append(T.StructField(f"t{k}_last", T.TimestampType()))
            fields.append(T.StructField(f"n{k}", T.LongType()))
        if with_step_ids:
            fields.append(T.StructField(f"i{k}", T.LongType()))
    if with_end_id:
        fields.append(T.StructField("end_id", T.LongType()))
    fields.append(T.StructField("max_step", T.LongType()))
    fields.append(T.StructField("state", T.StringType()))
    return T.StructType(fields)


# shared zero-row frame for timeout-flush batches (one allocation instead
# of one per group per flush batch; the empty path only reads it)
_EMPTY_ROWS = pd.DataFrame(columns=["event_id", "ts", "event_type"])

# the length of make_pattern_matcher's per-key state tuple (its fields are
# named and explained where _advance unpacks it)
CHAIN_STATE_FIELDS = 22

def _suffix_argmin_ts_id(ts: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """For an occurrence list in timeline-sort order, return for each start
    position j the position of the (ts, id)-minimal element in the suffix
    [j:] — the vectorized equivalent of the batch min-of-struct binder."""
    order = np.lexsort((ids, ts))
    ordinal = np.empty(len(ts), dtype="int64")
    ordinal[order] = np.arange(len(ts))
    suf_min_ordinal = np.minimum.accumulate(ordinal[::-1])[::-1]
    return order[suf_min_ordinal]


def _gap_session_last(ts: np.ndarray, gap_us: int, link=None) -> np.ndarray:
    """For rows in (ts, id) order, the index of the last row of each
    row's gap session: row i+1 continues row i's session when it sits
    within ``gap_us`` of it and, if given, ``link[i]`` allows it
    (consecutive/until cuts). Forward availability is ``last − i + 1``."""
    lk = np.zeros(ts.size, dtype=bool)
    lk[:-1] = ts[1:] <= ts[:-1] + gap_us
    if link is not None:
        lk[:-1] &= link
    brk = np.flatnonzero(~lk)
    return brk[np.searchsorted(brk, np.arange(ts.size))]


def _insertion_pos(
    tl_ts: np.ndarray, tl_rk: np.ndarray, tl_id: np.ndarray,
    q_ts: np.ndarray, q_rk: np.ndarray, q_id: np.ndarray,
) -> np.ndarray:
    """Index of the LAST timeline row with triple ≤ each query triple
    (lexicographic on (ts, rank, id)); -1 if none. Vectorized merge —
    O((m+q) log(m+q)), no per-query scans."""
    ns, nq = tl_ts.size, q_ts.size
    if ns == 0 or nq == 0:
        return np.full(nq, -1, dtype="int64")
    all_ts = np.concatenate([tl_ts, q_ts])
    all_rk = np.concatenate([tl_rk, q_rk])
    all_id = np.concatenate([tl_id, q_id])
    # queries tag-sort AFTER equal timeline triples → inclusive count
    tag = np.concatenate([np.zeros(ns, dtype="int64"), np.ones(nq, dtype="int64")])
    order = np.lexsort((tag, all_id, all_rk, all_ts))
    sortedpos = np.empty(ns + nq, dtype="int64")
    sortedpos[order] = np.arange(ns + nq)
    cnt = np.cumsum((order < ns).astype("int64"))
    return cnt[sortedpos[ns:]] - 1


def make_pattern_matcher(
    step_types: list[str],
    withins_us: list[int | None],
    ttl_us: int | None = None,
    kleenes: list[tuple[int, int] | None] | None = None,
    negations: dict[int, str] | None = None,
    optionals: set[int] | None = None,
    stricts: set[int] | None = None,
    not_nexts: dict[int, str] | None = None,
    after_match: str | None = None,
    untils: dict[int, str] | None = None,
    consecutives: set[int] | None = None,
    with_end_id: bool = False,
    with_step_ids: bool = False,
):
    """Build the per-key state function (separate so unit tests can drive
    it with a fake GroupState, as for order_timeout/transitions).

    ``after_match="skip_past_last"`` is Flink CEP's
    ``AfterMatchSkipStrategy.SKIP_PAST_LAST_EVENT`` (round 6): matches
    emit in completion order ``(end_ts, end_id, anchor_ts, anchor_id)``;
    emitting one discards every other run — pending or simultaneously
    complete — whose anchor is at or before its last event in (ts, id)
    order, and anchors at or before the horizon never start a run, so
    emitted matches per key never overlap. Only 'matched' chains emit
    (a late chain is a discarded partial match under a skip strategy,
    exactly as in Flink; a ttl flush still reports ``incomplete`` rows,
    which are not matches and do not advance the horizon). Supported for
    plain chains with notFollowedBy guards — not with Kleene, optional,
    or strict/notNext steps. The horizon persists as state field 19
    (``ams_horizon``) even when no chains are pending, so a same-ts
    anchor arriving in a later micro-batch is still excluded; same-ts
    completion races split across micro-batches resolve in arrival
    order, which equals the batch completion order under the engine's
    ts-cohort-aligned replay contract (see the module docstring).

    ``kleenes[k]`` is ``(gap_us, cap)`` to make step k+1 a bounded Kleene
    ``oneOrMore`` (None = plain step). ``withins_us[k]`` classifies the
    transition INTO step k+1 (entry, for Kleene steps) — for batch parity
    a Kleene step's within usually equals its gap, but they may differ.

    ``negations`` maps a step index k (1..n-1) to a forbidden event-type
    string — the reference Pattern API's ``notFollowedBy`` between step k
    and k+1: a forbidden row landing strictly between step k's bound row
    and the step-(k+1) binder (or after step k while no binder ever
    arrives) KILLS the chain — nothing is emitted, matching Flink's
    pending-path discard. In general-predicate mode the wiring sends
    ``__g{k}`` boolean columns and the mapped string is ignored.

    ``ttl_us`` is the bounded-state policy knob: when set, a pending chain
    idle past its last bound event + ttl (by watermark) is FLUSHED as an
    ``incomplete`` row and evicted — state becomes O(chains inside the ttl
    horizon), the property an unbounded deployment needs. Due timers are
    settled before a call's rows bind, as a watermark-only call would, so
    the flush does not depend on where the stream is cut. The trade: a
    binder arriving after the flush no longer produces ``matched_late``;
    exact batch equality holds only for ttl_us=None."""
    n = len(step_types)
    # a Kleene spec is (gap_us, max_reps) or (gap_us, max_reps, min_reps)
    # — times(from, to): entries whose run holds fewer than min_reps rows
    # are not valid bindings. Normalize to (gap, cap, mn); max_reps of
    # None / float("inf") = UNCAPPED oneOrMore, carried as an int64-safe
    # sentinel so every cap comparison ("run closed at cap?") is simply
    # never true — the run closes only when its GAP lapses (evidence row
    # or watermark timer), which is also what bounds its state.
    def _cap(c):
        return UNCAPPED_REPS if c is None or c == float("inf") else int(c)

    kleenes = [
        (None if k is None else (k[0], _cap(k[1]), k[2] if len(k) > 2 else 1))
        for k in (kleenes if kleenes is not None else [None] * n)
    ]
    negs = dict(negations or {})
    if n < 2:
        raise ValueError("pattern matcher needs at least 2 steps")
    if len(withins_us) != n or len(kleenes) != n:
        raise ValueError("withins_us/kleenes must have one entry per step")
    if kleenes[0] is not None:
        raise ValueError("oneOrMore/times is not supported on the first step")
    if any(
        k is not None and (k[0] is None or k[2] < 1 or k[1] < k[2]) for k in kleenes
    ):
        raise ValueError("Kleene steps need a finite gap and 1 <= min_reps <= max_reps")
    opts = set(optionals or ())
    if any(k <= 1 or k >= n for k in opts):
        raise ValueError("optional steps must be interior (2..n-1)")
    if any(k + 1 in opts for k in opts):
        raise ValueError("two consecutive optional steps are not supported")
    if any(kleenes[k - 1] is not None for k in opts):
        raise ValueError("an optional step cannot be a Kleene/times step")
    if any(k in opts or k + 1 in opts for k in negs):
        raise ValueError("a notFollowedBy guard cannot touch an optional step")
    if any(k < 1 or k >= n for k in negs):
        raise ValueError("negations keys must be step indexes 1..n-1")
    strict_set = set(stricts or ())
    nnx = dict(not_nexts or {})
    if any(s <= 1 or s > n for s in strict_set):
        raise ValueError("strict transitions are into steps 2..n")
    if any(k < 1 or k >= n for k in nnx):
        raise ValueError("not_nexts keys must be step indexes 1..n-1")
    if any(
        kleenes[s - 1] is not None or kleenes[s - 2] is not None
        for s in strict_set
    ) or any(kleenes[k - 1] is not None for k in nnx):
        raise ValueError("strict/notNext transitions must not touch Kleene steps")
    if any(s in opts or s - 1 in opts or s + 1 in opts for s in strict_set) or any(
        k in opts or k + 1 in opts for k in nnx
    ):
        raise ValueError("strict/notNext transitions must not touch optional steps")
    if any(s - 1 in negs or s - 1 in nnx for s in strict_set) or any(
        k in negs for k in nnx
    ):
        raise ValueError(
            "a transition takes ONE of next/notNext/notFollowedBy, not several"
        )
    u_steps = dict(untils or {})
    if any(kleenes[k - 1] is None for k in u_steps):
        raise ValueError("until() applies to oneOrMore/times steps only")
    if any(k in negs or k in nnx for k in u_steps):
        raise ValueError(
            "an until() step cannot also carry a notFollowedBy/notNext "
            "guard on its outgoing transition"
        )
    consec_set = set(consecutives or ())
    if any(kleenes[k - 1] is None for k in consec_set):
        raise ValueError("consecutive() applies to oneOrMore/times steps only")
    if after_match not in (None, "skip_past_last"):
        raise ValueError("after_match must be None or 'skip_past_last'")
    skip_mode = after_match == "skip_past_last"
    if skip_mode and (
        any(k is not None for k in kleenes) or opts or strict_set or nnx
    ):
        raise ValueError(
            "after_match='skip_past_last' supports plain chains with "
            "notFollowedBy guards only (no Kleene/optional/strict/notNext)"
        )
    # every key row is a witness under strict/notNext/consecutive
    strict_mode = bool(strict_set or nnx or consec_set)
    has_kleene = any(k is not None for k in kleenes)
    timers = has_kleene or ttl_us is not None

    # slot layout in (ts, rank, id) tie-order: positive step k, then its
    # notFollowedBy guard OR notNext forbidden slot (if any) — mirrors the
    # batch compiler's 2k-1 / 2k rank interleave (only relative order
    # matters; guard and notNext are mutually exclusive per transition)
    pslot: dict[int, int] = {}
    gslot: dict[int, int] = {}
    xslot: dict[int, int] = {}
    uslot: dict[int, int] = {}
    _slots: list[tuple[str, int]] = []
    for k in range(1, n + 1):
        pslot[k] = len(_slots)
        _slots.append(("p", k))
        if k in negs and k < n:
            gslot[k] = len(_slots)
            _slots.append(("g", k))
        if k in nnx and k < n:
            xslot[k] = len(_slots)
            _slots.append(("x", k))
        if k in u_steps:
            uslot[k] = len(_slots)
            _slots.append(("u", k))
    nslots = len(_slots)
    if nslots > 63:
        # buffer step-membership is packed into a single int64 bitmask
        # (one bit per slot = positive step or notFollowedBy guard); more
        # slots would silently overflow and corrupt buffered-row
        # membership across batches
        raise ValueError(
            f"pattern too wide: {nslots} slots (steps + notFollowedBy "
            "guards) exceed the 63-bit buffer-membership mask"
        )

    def _emit(
        user_id, a_ids, cur, bnd, klast, kln, st, b_ids=None, e_ids=None
    ) -> pd.DataFrame:
        # hot path: one call per group per micro-batch across every twin —
        # build columns as raw numpy datetime64[us] / IntegerArray buffers
        # (pd.to_datetime + masked Series __setitem__ per column was ~60%
        # of the measured per-group wall, round-10 profile)
        m = len(a_ids)
        cols = {
            "user_id": np.full(m, user_id, dtype="int64"),
            "anchor_id": pd.arrays.IntegerArray(
                np.asarray(a_ids, dtype="int64"), np.zeros(m, dtype=bool)
            ),
        }
        for k in range(1, n + 1):
            arr = np.asarray(bnd[:, k - 1], dtype="int64")
            dt = arr.astype("datetime64[us]")
            dt[arr < 0] = np.datetime64("NaT")  # unbound steps of flushed chains
            cols[f"t{k}"] = dt
            if kleenes[k - 1] is not None:
                la = np.asarray(klast[:, k - 1], dtype="int64")
                ldt = la.astype("datetime64[us]")
                ldt[la < 0] = np.datetime64("NaT")
                cols[f"t{k}_last"] = ldt
                nk = np.asarray(kln[:, k - 1], dtype="int64")
                cols[f"n{k}"] = pd.arrays.IntegerArray(nk, nk <= 0)
            if with_step_ids:
                ik = np.asarray(b_ids[:, k - 1], dtype="int64")
                cols[f"i{k}"] = pd.arrays.IntegerArray(ik, ik < 0)
        if with_end_id:
            ek = np.asarray(e_ids, dtype="int64")
            cols["end_id"] = pd.arrays.IntegerArray(ek, ek < 0)
        # bound-step count, not the frontier step: a skipped optional step
        # is not counted (batch-compiler parity)
        cols["max_step"] = (
            (np.asarray(bnd, dtype="int64").reshape(m, -1) >= 0)
            .sum(axis=1)
            .astype("int64")
        )
        cols["state"] = np.asarray(st, dtype=object)
        # every buffer above is freshly allocated per call — zero-copy safe
        return pd.DataFrame(cols, copy=False)

    def _timer_due(state) -> bool:
        """A chain is idle past its ttl, or an open run's gap lapsed."""
        _aid, cur, opn, fts = state.get[:4]
        wm_us = state.getCurrentWatermarkMs() * 1000
        return wm_us > 0 and any(
            f + ttl_us <= wm_us or (o and f + kleenes[c - 1][0] <= wm_us)
            for c, o, f in zip(cur, opn, fts)
        )

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        chunks = [] if getattr(state, "hasTimedOut", False) else list(pdfs)
        if ttl_us is not None and chunks and state.exists and _timer_due(state):
            # settle the due timers first, exactly as a watermark-only
            # call would (ttl flush, lapsed runs), so the ttl flush does
            # not depend on where the stream is cut into micro-batches
            yield from _advance(key[0], [], state)
        yield from _advance(key[0], chunks, state)

    def _advance(user_id, chunks: list, state: Any) -> Iterator[pd.DataFrame]:
        if state.exists:
            # the per-key state: CHAIN_STATE_FIELDS lists of int64, per-chain fixed-width
            # integers + the gap-horizon row buffer (step membership packed
            # as an int64 bitmask over SLOTS = positive steps +
            # notFollowedBy guard slots — at most 63 slots total; wider
            # patterns are rejected rather than overflowing the mask)
            (
                s_aid, s_cur, s_opn,  # anchor id, frontier step, open-run flag
                s_fts, s_frk, s_fid,  # frontier row's (ts, rank, id)
                # row-major [chain][step]: bound ts, Kleene last rep, Kleene count
                s_bnd, s_kl, s_kn,
                # pre-bind frontier + step of a TENTATIVE times() run (kln <
                # min so the bind may prove invalid): on invalid closure the
                # chain is RESTORED to this point and binding replays against
                # the buffer, which protects rows back to the earliest such
                # frontier — so provisional notFollowedBy/optional decisions
                # re-run with full information instead of being remembered
                # wrong. -1 = not set.
                s_pts, s_prk, s_pid, s_pcur,
                s_bts, s_brk, s_bid, s_bmk,  # buffered rows: ts, rank, id, slot mask
                # per-chain bitmask, bit k = the notNext() probe after step k
                # was witnessed CLEAR — a cross-batch decision that must not
                # be re-evaluated against a later batch's first row
                s_nnf,
                # the after-match skip horizon [last_emitted_end_ts_us,
                # last_emitted_end_id] of SKIP_PAST_LAST_EVENT — anchors at
                # or before it (in (ts, id) order) never start a run.
                # [-1, -1] = no match emitted yet / skip strategy off
                s_ams,
                # consecutive(): per-buffered-row global sequence positions
                # in the key's total (ts, rank, id) order, plus the
                # one-element running row counter [seq_next] that makes
                # positions stable across micro-batches (adjacency = pos
                # difference 1; closure = any observed successor position)
                s_bps, s_seq,
                # per-chain bound-row EVENT IDS, the row-major twin of s_bnd
                # (-1 = unbound; a Kleene step stores its ENTRY row's id),
                # for end_id (SKIP PAST LAST) and the i{k} step ids
                s_bndid,
            ) = state.get
            aid = np.asarray(s_aid, dtype="int64")
            cur = np.asarray(s_cur, dtype="int64")
            opn = np.asarray(s_opn, dtype="int64").astype(bool)
            fts = np.asarray(s_fts, dtype="int64")
            frk = np.asarray(s_frk, dtype="int64")
            fid = np.asarray(s_fid, dtype="int64")
            nc = aid.size
            bnd = (
                np.asarray(s_bnd, dtype="int64").reshape(-1, n)
                if nc else np.empty((0, n), dtype="int64")
            )
            bnd_id = (
                np.asarray(s_bndid, dtype="int64").reshape(-1, n)
                if nc else np.empty((0, n), dtype="int64")
            )
            klast = (
                np.asarray(s_kl, dtype="int64").reshape(-1, n)
                if nc else np.empty((0, n), dtype="int64")
            )
            kln = (
                np.asarray(s_kn, dtype="int64").reshape(-1, n)
                if nc else np.empty((0, n), dtype="int64")
            )
            pv_ts = np.asarray(s_pts, dtype="int64")
            pv_rk = np.asarray(s_prk, dtype="int64")
            pv_id = np.asarray(s_pid, dtype="int64")
            pv_cur = np.asarray(s_pcur, dtype="int64")
            bts = np.asarray(s_bts, dtype="int64")
            brk = np.asarray(s_brk, dtype="int64")
            bid = np.asarray(s_bid, dtype="int64")
            bmk = np.asarray(s_bmk, dtype="int64")
            nnf = np.asarray(s_nnf, dtype="int64")
            le_ts, le_id = (
                (int(s_ams[0]), int(s_ams[1])) if len(s_ams) == 2 else (-1, -1)
            )
            bps = np.asarray(s_bps, dtype="int64")
            seq_next = int(s_seq[0]) if len(s_seq) else 0
        else:
            aid = cur = fts = frk = fid = np.empty(0, dtype="int64")
            opn = np.empty(0, dtype=bool)
            bnd = klast = kln = np.empty((0, n), dtype="int64")
            bnd_id = np.empty((0, n), dtype="int64")
            pv_ts = pv_rk = pv_id = pv_cur = np.empty(0, dtype="int64")
            bts = brk = bid = bmk = np.empty(0, dtype="int64")
            nnf = np.empty(0, dtype="int64")
            le_ts, le_id = -1, -1
            bps = np.empty(0, dtype="int64")
            seq_next = 0

        # hot path: the serializer almost always delivers ONE chunk per
        # group — skip the per-group concat (and share one empty frame;
        # the zero-row path never mutates it)
        if len(chunks) == 1:
            rows = chunks[0]
        elif chunks:
            rows = pd.concat(chunks, ignore_index=True)
        else:
            rows = _EMPTY_ROWS
        if len(rows):
            if "__p1" in rows.columns:
                # general-predicate mode: slot membership precomputed
                # JVM-side (stream_pattern_detect) — the payload carries
                # one boolean per slot instead of the raw predicate inputs
                match = np.stack(
                    [
                        rows[f"__{kind}{k}"].fillna(False).to_numpy().astype(bool)
                        for kind, k in _slots
                    ],
                    axis=1,
                )
            else:
                et = rows["event_type"].to_numpy()

                def _slot_type(kind, k):
                    if kind == "p":
                        return step_types[k - 1]
                    if kind == "u":
                        return u_steps[k]
                    return negs[k] if kind == "g" else nnx[k]

                match = np.stack(
                    [et == _slot_type(kind, k) for kind, k in _slots],
                    axis=1,
                )
            if not strict_mode:
                # under strict/notNext semantics EVERY row is a
                # contiguity witness and must stay in the timeline
                keep = match.any(axis=1)
                if not keep.all():
                    # usually all-True: the JVM scan filter already
                    # dropped no-slot rows — skip the per-group take
                    rows = rows.loc[keep].reset_index(drop=True)
                    match = match[keep]

        if len(rows):
            # explicit us resolution (ADVICE r3: never trust the
            # Arrow->pandas datetime unit implicitly); copy=False makes
            # the us case a zero-copy int64 view
            ts_us = (
                rows["ts"]
                .to_numpy()
                .astype("datetime64[us]", copy=False)
                .view("int64")
            )
            ev_ids = rows["event_id"].to_numpy().astype("int64")
            # earliest slot a row serves; a no-slot witness row (strict
            # mode keeps them) sorts LAST at its timestamp, mirroring the
            # batch compiler's 2n+1 default rank
            rank = np.where(
                match.any(axis=1), match.argmax(axis=1) + 1, nslots + 1
            )
            order = np.lexsort((ev_ids, rank, ts_us))
            ts_us, ev_ids, rank, match = ts_us[order], ev_ids[order], rank[order], match[order]
        else:
            ts_us = ev_ids = rank = np.empty(0, dtype="int64")
            match = np.empty((0, nslots), dtype=bool)
        # consecutive(): global sequence positions — batch rows extend the
        # key's running counter in their sorted (ts, rank, id) order (the
        # replay contract aligns that order with the global one)
        batch_pos = seq_next + np.arange(ts_us.size, dtype="int64")
        seq_next += int(ts_us.size)

        # timeline = buffer ⊕ batch (sorted: prior-batch rows precede)
        nbuf = bts.size
        tl_ts = np.concatenate([bts, ts_us])
        tl_rk = np.concatenate([brk, rank])
        tl_id = np.concatenate([bid, ev_ids])
        tl_pos = np.concatenate([bps, batch_pos])
        buf_match = (
            ((bmk[:, None] >> np.arange(nslots)) & 1).astype(bool)
            if nbuf else np.empty((0, nslots), dtype=bool)
        )
        tl_match = np.concatenate([buf_match, match], axis=0)
        M = tl_ts.size

        try:
            # raises on a watermark-free stream (plain, no-ttl patterns run
            # without withWatermark); 0 = "no watermark yet" either way
            wm_us = state.getCurrentWatermarkMs() * 1000
        except Exception:  # noqa: BLE001
            wm_us = 0
        # external closure evidence: any observed row beyond last_rep+gap
        # proves no future row can extend (event-time-ordered batches); a
        # buffered row works too — future rows are later than ALL past rows
        evid_ts = int(tl_ts.max()) if M else None

        # until() stop tables (round 7): per until step, the observed
        # stop rows sorted in the run machinery's (ts, id) order. A run
        # never spans a stop row; a dual rep+stop row is its run's final
        # repetition (batch parity — operators/sequence.py until=).
        # Under the event-time-ordered replay contract an OBSERVED stop
        # row is definitive closure evidence (no future rep can precede
        # it), so no watermark wait is needed.
        ucuts: dict[int, tuple] = {}
        for _us_k, _us_sl in uslot.items():
            _uidx = np.flatnonzero(tl_match[:, _us_sl])
            if _uidx.size:
                _uperm = np.lexsort((tl_id[_uidx], tl_ts[_uidx]))
                ucuts[_us_k] = (tl_ts[_uidx][_uperm], tl_id[_uidx][_uperm])

        def _u_lt(us_k, ts_q, id_q):
            """count of step-us_k stop rows strictly before (ts,id) —
            vectorized over query arrays."""
            ts_q = np.atleast_1d(np.asarray(ts_q, dtype="int64"))
            id_q = np.atleast_1d(np.asarray(id_q, dtype="int64"))
            if us_k not in ucuts:
                return np.zeros(ts_q.size, dtype="int64")
            uts, uidv = ucuts[us_k]
            lo = np.searchsorted(uts, ts_q, "left")
            hi = np.searchsorted(uts, ts_q, "right")
            out = lo.copy()
            for qi in np.flatnonzero(hi > lo):
                out[qi] = lo[qi] + np.searchsorted(
                    uidv[lo[qi]:hi[qi]], id_q[qi], "left"
                )
            return out

        def _u_after(us_k, ts_q, id_q):
            """a stop row AT or after (ts,id) exists (dual rows count)."""
            if us_k not in ucuts:
                return False
            return int(_u_lt(us_k, ts_q, id_q)[0]) < ucuts[us_k][0].size

        # per-slot occurrence lists (timeline order = position order) +
        # binder / session tables for positive slots; occ_bind = the
        # BINDING view (min_reps-restricted for times() Kleene steps)
        occ: dict[int, tuple] = {}
        occ_bind: dict[int, tuple] = {}
        ksess: dict[int, tuple] = {}
        for si in range(nslots):
            idxs = np.flatnonzero(tl_match[:, si])
            if not idxs.size:
                continue
            occ[si] = (idxs, _suffix_argmin_ts_id(tl_ts[idxs], tl_id[idxs]))
            kind, k = _slots[si]
            if kind == "p" and kleenes[k - 1] is not None:
                gap_us, cap, mn = kleenes[k - 1]
                perm = np.lexsort((tl_id[idxs], tl_ts[idxs]))  # session order
                srt = idxs[perm]
                inv = np.empty(idxs.size, dtype="int64")
                inv[perm] = np.arange(idxs.size)
                sts = tl_ts[srt]
                link = None
                if k in consec_set:
                    # strict internal contiguity: only a rep at the NEXT
                    # global position extends the run (positions are dense
                    # over all observed rows — witnesses included)
                    link = tl_pos[srt[1:]] == tl_pos[srt[:-1]] + 1
                if k in ucuts:
                    # a stop row in [rep_i, rep_i+1) splits the run —
                    # strictly-between stops via the (ts, id) counts, the
                    # dual rep+stop case via the row's own stop flag
                    _cl = _u_lt(k, sts, tl_id[srt])
                    _dual = tl_match[srt, uslot[k]]
                    cut = ~((_cl[1:] > _cl[:-1]) | _dual[:-1])
                    link = cut if link is None else link & cut
                gl = _gap_session_last(sts, gap_us, link)
                ksess[si] = (srt, inv, gl)
                if mn > 1:
                    # times(from, to): restrict BINDING to entries that are
                    # already valid (avail >= min_reps) or still undecided
                    # (the final session, not yet provably unextendable) —
                    # invalid entries are transparent, exactly as the batch
                    # compiler's null structs make them
                    avail = gl - np.arange(idxs.size) + 1
                    valid = avail >= mn
                    final_closed = (
                        evid_ts is not None and evid_ts > sts[-1] + gap_us
                    ) or (wm_us > 0 and sts[-1] + gap_us <= wm_us) or (
                        k in ucuts
                        and _u_after(k, int(sts[-1]), int(tl_id[srt[-1]]))
                    ) or (
                        # consecutive(): an observed successor position
                        # proves the final session cannot extend
                        k in consec_set and int(tl_pos[srt[-1]]) < seq_next - 1
                    )
                    ok = valid.copy()
                    if k in consec_set:
                        # undecided = the session whose LAST rep is the
                        # globally newest observed row (only that run can
                        # still extend; session-order finality is not
                        # position-order finality at equal timestamps)
                        if not final_closed:
                            ok |= tl_pos[srt[gl]] == seq_next - 1
                    elif not final_closed:
                        ok |= gl == idxs.size - 1
                    keep_occ = ok[inv]  # occ-order mask
                    f_idxs = idxs[keep_occ]
                    if f_idxs.size:
                        occ_bind[si] = (
                            f_idxs,
                            _suffix_argmin_ts_id(tl_ts[f_idxs], tl_id[f_idxs]),
                        )
                    continue
            occ_bind[si] = occ[si]

        # carried chains: frontier position in the timeline (buffer rows may
        # precede or follow a chain's frontier; batch rows always follow)
        posidx = _insertion_pos(tl_ts, tl_rk, tl_id, fts, frk, fid)

        frames: list[pd.DataFrame] = []

        # ---- 1. extend / close carried open runs — O(open chains)
        restored: list[int] = []
        for ci in np.flatnonzero(opn):
            s = int(cur[ci])
            gap_us, cap, mn = kleenes[s - 1]
            cons = s in consec_set
            closed = False
            if pslot[s] in ksess:
                srt, inv, gl = ksess[pslot[s]]
                numS = srt.size
                # batch step-s rows form a session-order SUFFIX (their ts
                # exceed all buffer ts); buffer step-s rows all precede an
                # open run's last rep (they extended it on arrival)...
                # EXCEPT under consecutive(): a same-ts lower-position
                # row that failed the adjacency check stays buffered
                # (ts, id)-AFTER the frontier and permanently breaks the
                # session there (the (ts, id) walk is the family's Kleene
                # canonicalization; soak seed 705) — so the continuation
                # candidate is the first session row strictly (ts, id)
                # after the frontier, wherever it lives
                if cons:
                    q0 = int(np.searchsorted(tl_ts[srt], fts[ci], side="left"))
                    while q0 < numS and (
                        int(tl_ts[srt[q0]]), int(tl_id[srt[q0]])
                    ) <= (int(fts[ci]), int(fid[ci])):
                        q0 += 1
                else:
                    q0 = int(np.count_nonzero(srt < nbuf))
                u_blocked = s in ucuts and (
                    q0 < numS
                    and int(
                        _u_lt(s, int(tl_ts[srt[q0]]), int(tl_id[srt[q0]]))[0]
                    ) > int(_u_lt(s, int(fts[ci]), int(fid[ci]))[0])
                )
                ext_ok = q0 < numS and not u_blocked and (
                    tl_ts[srt[q0]] <= fts[ci] + gap_us
                )
                if ext_ok and cons:
                    # consecutive(): only the rep at the frontier's NEXT
                    # global position extends; anything else (including
                    # the position having gone to a non-rep row) is a
                    # definitive break, resolved by the closure rule below
                    ext_ok = posidx[ci] >= 0 and int(
                        tl_pos[srt[q0]]
                    ) == int(tl_pos[posidx[ci]]) + 1
                if q0 < numS and not u_blocked:
                    if ext_ok:
                        lp = int(gl[q0]) - q0 + 1
                        t = min(cap - int(kln[ci, s - 1]), lp)
                        if t > 0:
                            lastp = srt[q0 + t - 1]
                            fts[ci], frk[ci], fid[ci] = tl_ts[lastp], tl_rk[lastp], tl_id[lastp]
                            klast[ci, s - 1] = tl_ts[lastp]
                            kln[ci, s - 1] += t
                            posidx[ci] = lastp
                        if cons:
                            # position rule below decides; session-order
                            # inference is invalid under consecutive()
                            closed = kln[ci, s - 1] >= cap
                        else:
                            closed = (
                                kln[ci, s - 1] >= cap
                                or (t == lp and gl[q0] < numS - 1)
                                or (
                                    t == lp and gl[q0] == numS - 1
                                    and evid_ts is not None
                                    and evid_ts > fts[ci] + gap_us
                                )
                            )
                    else:
                        closed = True  # next step-s row beyond gap: break
                else:
                    # no extensible batch rep (or a stop row blocks the
                    # continuation — the run ends at its current frontier)
                    closed = u_blocked or (
                        evid_ts is not None and evid_ts > fts[ci] + gap_us
                    )
            else:
                closed = evid_ts is not None and evid_ts > fts[ci] + gap_us
            if not closed and s in ucuts and _u_after(
                s, int(fts[ci]), int(fid[ci])
            ):
                # a stop row at (dual) or after the run's last rep closes
                # it — definitive under the event-time-ordered contract
                closed = True
            if not closed and cons and posidx[ci] >= 0 and int(
                tl_pos[posidx[ci]]
            ) < seq_next - 1:
                # consecutive(): an observed successor position that did
                # not extend the run (it would have, above) ends the loop
                closed = True
            if not closed and wm_us > 0 and fts[ci] + gap_us <= wm_us:
                closed = True
            if not closed and kln[ci, s - 1] >= mn:
                # the run can no longer prove invalid — drop the
                # protection early (shrinks the buffer horizon)
                pv_ts[ci] = pv_rk[ci] = pv_id[ci] = pv_cur[ci] = -1
            if closed:
                opn[ci] = False
                if kln[ci, s - 1] < mn:
                    # a tentatively-bound times() entry whose run closed
                    # short of min_reps: the binding is INVALID — RESTORE
                    # the chain to its pre-bind state (frontier + step)
                    # and let the sweep replay from there. The buffer kept
                    # every row since the pre-bind frontier, so guard
                    # kills and optional races that were decided against
                    # the now-invalid binder re-run with full information.
                    pc = int(pv_cur[ci])
                    cur[ci] = pc
                    fts[ci], frk[ci], fid[ci] = pv_ts[ci], pv_rk[ci], pv_id[ci]
                    bnd[ci, pc:] = -1
                    bnd_id[ci, pc:] = -1
                    klast[ci, pc:] = -1
                    kln[ci, pc:] = 0
                    # notNext decisions for transitions past the restore
                    # point must re-run; the decision AT pc stays valid
                    # (same frontier row, same successor)
                    nnf[ci] &= (1 << (pc + 1)) - 1
                    restored.append(ci)
                pv_ts[ci] = pv_rk[ci] = pv_id[ci] = pv_cur[ci] = -1

        if restored:
            ri = np.asarray(restored, dtype="int64")
            posidx[ri] = _insertion_pos(
                tl_ts, tl_rk, tl_id, fts[ri], frk[ri], fid[ri]
            )

        # ---- 2. new anchors (batch rows matching step 1; buffer rows
        # anchored when they first arrived)
        if pslot[1] in occ:
            a_tl = occ[pslot[1]][0]
            a_tl = a_tl[a_tl >= nbuf]
            if skip_mode and a_tl.size:
                # anchors at or before the after-match horizon never
                # start a run (SKIP_PAST_LAST_EVENT)
                a_tl = a_tl[
                    (tl_ts[a_tl] > le_ts)
                    | ((tl_ts[a_tl] == le_ts) & (tl_id[a_tl] > le_id))
                ]
            if a_tl.size:
                aid = np.concatenate([aid, tl_id[a_tl]])
                cur = np.concatenate([cur, np.ones(a_tl.size, dtype="int64")])
                opn = np.concatenate([opn, np.zeros(a_tl.size, dtype=bool)])
                fts = np.concatenate([fts, tl_ts[a_tl]])
                frk = np.concatenate([frk, tl_rk[a_tl]])
                fid = np.concatenate([fid, tl_id[a_tl]])
                nb = np.full((a_tl.size, n), -1, dtype="int64")
                nb[:, 0] = tl_ts[a_tl]
                bnd = np.concatenate([bnd, nb])
                nbi = np.full((a_tl.size, n), -1, dtype="int64")
                nbi[:, 0] = tl_id[a_tl]
                bnd_id = np.concatenate([bnd_id, nbi])
                klast = np.concatenate([klast, np.full((a_tl.size, n), -1, dtype="int64")])
                kln = np.concatenate([kln, np.zeros((a_tl.size, n), dtype="int64")])
                neg1 = np.full(a_tl.size, -1, dtype="int64")
                pv_ts = np.concatenate([pv_ts, neg1])
                pv_rk = np.concatenate([pv_rk, neg1])
                pv_id = np.concatenate([pv_id, neg1])
                pv_cur = np.concatenate([pv_cur, neg1])
                nnf = np.concatenate([nnf, np.zeros(a_tl.size, dtype="int64")])
                posidx = np.concatenate([posidx, a_tl])

        # ---- 3. resolution sweep — vectorized over chains per step
        dead = np.zeros(aid.size, dtype=bool)
        for s in range(2, n + 1):
            if s in strict_set:
                # next(): the binder is the immediate timeline successor
                # of the frontier or nothing — a non-matching successor
                # kills the chain (Flink's strict-contiguity discard); no
                # successor yet = still pending (the next batch's first
                # row is the true successor, since event-time-ordered
                # replays never reorder across batches)
                w = np.flatnonzero((cur == s - 1) & ~opn & ~dead)
                if w.size:
                    succ = posidx[w] + 1
                    have = succ < M
                    w2, succ2 = w[have], succ[have]
                    if w2.size:
                        okm = tl_match[succ2, pslot[s]]
                        dead[w2[~okm]] = True
                        bw, rp = w2[okm], succ2[okm]
                        bnd[bw, s - 1] = tl_ts[rp]
                        bnd_id[bw, s - 1] = tl_id[rp]
                        cur[bw] = s
                        fts[bw], frk[bw], fid[bw] = (
                            tl_ts[rp], tl_rk[rp], tl_id[rp]
                        )
                        posidx[bw] = rp
                continue
            if (s - 1) in xslot:
                # notNext(): probe the immediate successor once — kill on
                # a forbidden match, otherwise latch the cleared bit so a
                # later batch never re-probes against ITS first row
                wx = np.flatnonzero(
                    (cur == s - 1) & ~opn & ~dead
                    & (((nnf >> (s - 1)) & 1) == 0)
                )
                if wx.size:
                    succ = posidx[wx] + 1
                    have = succ < M
                    w2, succ2 = wx[have], succ[have]
                    if w2.size:
                        bad = tl_match[succ2, xslot[s - 1]]
                        dead[w2[bad]] = True
                        nnf[w2[~bad]] |= 1 << (s - 1)
            has_guard = (s - 1) in negs and gslot.get(s - 1) in occ
            w = np.flatnonzero((cur == s - 1) & ~opn & ~dead)
            if (s - 1) in xslot and w.size:
                # only notNext-cleared chains may bind step s
                w = w[((nnf[w] >> (s - 1)) & 1) == 1]
            if s in opts and w.size:
                # greedy race for an optional step: skip it when the
                # earliest step-(s+1) candidate precedes the earliest
                # step-s candidate in (ts, rank, id) position order (both
                # are timeline indexes, so a plain integer compare); the
                # skipped chain advances to cur=s WITHOUT binding and the
                # next sweep iteration binds step s+1 from the same
                # frontier. Event-time ordering makes the decision stable
                # across batches: a candidate observed first wins any race
                # against one not yet observed.
                sentinel = np.iinfo(np.int64).max
                a_pos = np.full(w.size, sentinel, dtype="int64")
                b_pos = np.full(w.size, sentinel, dtype="int64")
                for tgt, slot_i in ((a_pos, pslot[s]), (b_pos, pslot[s + 1])):
                    if slot_i in occ_bind:
                        o_idx, o_suf = occ_bind[slot_i]
                        jj = np.searchsorted(o_idx, posidx[w], side="right")
                        hh = jj < o_idx.size
                        tgt[hh] = o_idx[o_suf[jj[hh]]]
                skip = b_pos < a_pos
                if skip.any():
                    cur[w[skip]] = s  # advance unbound; frontier unchanged
                    w = w[~skip]
            if not w.size or (pslot[s] not in occ_bind and not has_guard):
                continue
            if pslot[s] in occ_bind:
                occ_idx, sufmin = occ_bind[pslot[s]]
                j0 = np.searchsorted(occ_idx, posidx[w], side="right")
                hit = j0 < occ_idx.size
            else:
                occ_idx = sufmin = None
                j0 = np.empty(w.size, dtype="int64")
                hit = np.zeros(w.size, dtype=bool)
            if has_guard:
                # notFollowedBy kill: the FIRST forbidden row after the
                # frontier (occ lists are in position order, so it's a
                # plain searchsorted gather) precedes the binder's
                # timeline position — or no binder ever arrives
                g_idx = occ[gslot[s - 1]][0]
                jg = np.searchsorted(g_idx, posidx[w], side="right")
                has_fb = jg < g_idx.size
                fb_pos = np.where(has_fb, g_idx[np.minimum(jg, g_idx.size - 1)], -1)
                binder_pos = np.full(w.size, np.iinfo(np.int64).max, dtype="int64")
                if occ_idx is not None:
                    binder_pos[hit] = occ_idx[sufmin[j0[hit]]]
                kill = has_fb & (fb_pos < binder_pos)
                if kill.any():
                    dead[w[kill]] = True
                    keepm = ~kill
                    w, j0, hit = w[keepm], j0[keepm], hit[keepm]
            w, j0 = w[hit], j0[hit]
            if not w.size:
                continue
            bp = sufmin[j0]          # occ-order position of (ts,id)-min binder
            rowpos = occ_idx[bp]     # timeline position of the entry/bound row
            bnd[w, s - 1] = tl_ts[rowpos]
            bnd_id[w, s - 1] = tl_id[rowpos]
            cur[w] = s
            if kleenes[s - 1] is None:
                fts[w], frk[w], fid[w] = tl_ts[rowpos], tl_rk[rowpos], tl_id[rowpos]
                posidx[w] = rowpos
            else:
                gap_us, cap, mn = kleenes[s - 1]
                srt, inv, gl = ksess[pslot[s]]
                numS = srt.size
                # bp indexes the RESTRICTED binding list; map its rows back
                # to session positions via the full occ inverse
                full_idx, _ = occ[pslot[s]]
                se = inv[np.searchsorted(full_idx, rowpos)]  # entry session position
                rl = gl[se]                      # run limit (session end)
                t = np.minimum(cap, rl - se + 1)
                lastp = srt[se + t - 1]
                pf_ts, pf_rk, pf_id = fts[w].copy(), frk[w].copy(), fid[w].copy()
                klast[w, s - 1] = tl_ts[lastp]
                kln[w, s - 1] = t
                fts[w], frk[w], fid[w] = tl_ts[lastp], tl_rk[lastp], tl_id[lastp]
                posidx[w] = lastp
                if s in consec_set:
                    # consecutive(): the "later session exists" inference
                    # is INVALID here — sessions can split at equal
                    # timestamps, where session (ts, id) order disagrees
                    # with global position order (soak seed 6230). The
                    # definitive rule: the run is closed iff its last
                    # rep's successor POSITION was observed (that row
                    # failed to extend it, or the session walk stopped
                    # before it), or the cap was hit
                    closed = (t == cap) | (tl_pos[lastp] < seq_next - 1)
                else:
                    closed = (t == cap) | (rl < numS - 1)
                if evid_ts is not None:
                    closed |= (rl == numS - 1) & (evid_ts > tl_ts[lastp] + gap_us)
                if wm_us > 0:
                    closed |= tl_ts[lastp] + gap_us <= wm_us
                if s in ucuts:
                    # stop row at/after the run's last rep (incl. a dual
                    # last rep) — the run is definitively over
                    u_tot = ucuts[s][0].size
                    closed |= _u_lt(s, tl_ts[lastp], tl_id[lastp]) < u_tot
                opn[w] = ~closed
                # tentative = the run could still prove invalid (short of
                # min_reps): snapshot the pre-bind restore point — the last
                # SOLID (frontier-moving) step, stepping over a skipped
                # optional predecessor so its race replays too
                tent = ~closed & (t < mn)
                if tent.any():
                    wt = w[tent]
                    pv_ts[wt], pv_rk[wt], pv_id[wt] = (
                        pf_ts[tent], pf_rk[tent], pf_id[tent]
                    )
                    pv_cur[wt] = np.where(bnd[wt, s - 2] >= 0, s - 1, s - 2)

        # ---- 4. emit complete chains (run closed for a last-step Kleene);
        # guard-killed chains emit nothing and are dropped below
        done = (cur == n) & ~opn & ~dead
        if done.any():
            d_bnd = bnd[done]
            ok = np.ones(int(done.sum()), dtype=bool)

            def _prev_of(k):
                return (
                    klast[done, k - 1] if kleenes[k - 1] is not None else d_bnd[:, k - 1]
                )

            for k in range(2, n + 1):
                wv = withins_us[k - 1]
                if wv is not None:
                    prev = _prev_of(k - 1)
                    if (k - 1) in opts:
                        # a skipped optional predecessor falls through
                        prev = np.where(d_bnd[:, k - 2] >= 0, prev, _prev_of(k - 2))
                    term = d_bnd[:, k - 1] <= prev + wv
                    if k in opts:
                        term |= d_bnd[:, k - 1] < 0  # skipped: nothing to classify
                    ok &= term
            if skip_mode:
                # SKIP_PAST_LAST_EVENT: only 'matched' chains are matches
                # (a late chain is a discarded partial, as in Flink);
                # process candidates in completion order (end_ts, end_id,
                # anchor_ts, anchor_id) and keep one iff its anchor is
                # strictly past the horizon — emitting advances it. The
                # loop runs over this batch's COMPLETED chains only.
                di = np.flatnonzero(done)[ok]
                order = di[
                    np.lexsort((aid[di], bnd[di, 0], fid[di], fts[di]))
                ]
                kept = []
                for ci in order:
                    a_t, a_i = int(bnd[ci, 0]), int(aid[ci])
                    if (a_t, a_i) > (le_ts, le_id):
                        kept.append(ci)
                        le_ts, le_id = int(fts[ci]), int(fid[ci])
                if kept:
                    ki = np.asarray(kept, dtype="int64")
                    frames.append(
                        _emit(
                            user_id, aid[ki], cur[ki], bnd[ki], klast[ki],
                            kln[ki], ["matched"] * ki.size,
                            b_ids=bnd_id[ki], e_ids=fid[ki],
                        )
                    )
                # discard every pending run anchored at or before the
                # advanced horizon
                pend = ~done & ~dead
                if pend.any():
                    at, ai = bnd[:, 0], aid
                    dead |= pend & (
                        (at < le_ts) | ((at == le_ts) & (ai <= le_id))
                    )
            else:
                st = np.where(ok, "matched", "matched_late")
                frames.append(
                    _emit(
                        user_id, aid[done], cur[done], d_bnd, klast[done],
                        kln[done], st, b_ids=bnd_id[done], e_ids=fid[done],
                    )
                )
        alive = ~done & ~dead

        # ---- 5. ttl flush (bounded-state policy)
        if ttl_us is not None and alive.any():
            expired = (
                alive & (fts + ttl_us <= wm_us)
                if wm_us > 0
                else np.zeros(aid.size, dtype=bool)
            )
            if expired.any():
                frames.append(
                    _emit(
                        user_id, aid[expired], cur[expired], bnd[expired],
                        klast[expired], kln[expired],
                        ["incomplete"] * int(expired.sum()),
                        b_ids=bnd_id[expired], e_ids=fid[expired],
                    )
                )
                alive &= ~expired

        aid, cur, opn, fts, frk, fid = (
            a[alive] for a in (aid, cur, opn, fts, frk, fid)
        )
        bnd, klast, kln = bnd[alive], klast[alive], kln[alive]
        bnd_id = bnd_id[alive]
        pv_ts, pv_rk, pv_id, pv_cur, nnf = (
            a[alive] for a in (pv_ts, pv_rk, pv_id, pv_cur, nnf)
        )

        # ---- 6. buffer: rows after the earliest open-run PROTECTED
        # frontier (the pre-bind restore point for tentative times() runs,
        # else the run-last) may bind later steps once that run closes —
        # or replay a restored chain; everything else is consumed
        if opn.any():
            oi = np.flatnonzero(opn)
            pr_ts = np.where(pv_ts[oi] >= 0, pv_ts[oi], fts[oi])
            pr_rk = np.where(pv_ts[oi] >= 0, pv_rk[oi], frk[oi])
            pr_id = np.where(pv_ts[oi] >= 0, pv_id[oi], fid[oi])
            # keep whole TIMESTAMP cohorts from the earliest protected
            # frontier on: a Kleene run extends through its step's rows in
            # (ts, id) order, which can include a row at the same ts as
            # the frontier but with a LOWER (ts, rank, id) position — the
            # strictly-after-triple rule dropped exactly those and broke a
            # cross-batch run continuation (soak seed 6997)
            lt = int(pr_ts.min())
            keep = tl_ts >= lt
            bts, brk, bid = tl_ts[keep], tl_rk[keep], tl_id[keep]
            bmk = (tl_match[keep].astype("int64") << np.arange(nslots)).sum(axis=1)
            bps = tl_pos[keep]
        else:
            bts = brk = bid = bmk = bps = np.empty(0, dtype="int64")

        # ---- 7. persist + timers (the skip horizon outlives the chains:
        # a later same-ts anchor must still be excluded)
        if aid.size or bts.size or (skip_mode and le_ts >= 0):
            state.update(
                (
                    aid.tolist(), cur.tolist(), opn.astype("int64").tolist(),
                    fts.tolist(), frk.tolist(), fid.tolist(),
                    bnd.reshape(-1).tolist(), klast.reshape(-1).tolist(),
                    kln.reshape(-1).tolist(),
                    pv_ts.tolist(), pv_rk.tolist(), pv_id.tolist(), pv_cur.tolist(),
                    bts.tolist(), brk.tolist(), bid.tolist(), bmk.tolist(),
                    nnf.tolist(), [le_ts, le_id],
                    bps.tolist(), [seq_next],
                    bnd_id.reshape(-1).tolist(),
                )
            )
            if timers:
                # fire as soon as floor_ms(wm)*1000 >= due (Spark fires on
                # wm > timeout, so ceil-1; the closure/flush predicates are
                # re-checked on firing, so an early fire is harmless and
                # the timer re-arms); a due at most one ms away fires on
                # the next advance
                cands = []
                oi = np.flatnonzero(opn)
                if oi.size:
                    due = min(int(fts[c]) + kleenes[int(cur[c]) - 1][0] for c in oi)
                    cands.append(-(-due // 1000) - 1)
                if ttl_us is not None and aid.size:
                    cands.append(-(-(int(fts.min()) + ttl_us) // 1000) - 1)
                if cands:
                    state.setTimeoutTimestamp(
                        max(min(cands), _next_watermark_ms(state.getCurrentWatermarkMs()))
                    )
        elif state.exists:
            state.remove()

        out = [f for f in frames if len(f)]
        if len(out) == 1:  # hot path: skip the per-group concat
            yield out[0]
        elif out:
            yield pd.concat(out, ignore_index=True)

    return detect


def _interval_us(interval: str) -> int:
    parts = interval.split()
    qty, unit = int(parts[-2]), parts[-1].lower().rstrip("s")
    unit_us = {
        "microsecond": 1,
        "millisecond": 1000,
        "second": _US,
        "minute": 60 * _US,
        "hour": 3600 * _US,
        "day": 86400 * _US,
    }[unit]
    return qty * unit_us


def stream_pattern_detect(
    events: DataFrame,
    key: str,
    steps: list[tuple],
    event_id: str = "event_id",
    ts: str = "ts",
    state_ttl: str | None = None,
    watermark_delay: str = "0 seconds",
    not_followed_by: dict | None = None,
    optional: set[int] | None = None,
    strict: set[int] | None = None,
    not_next: dict | None = None,
    after_match: str | None = None,
    until: dict | None = None,
    consecutive: set[int] | None = None,
    with_end_id: bool = False,
    with_step_ids: bool = False,
) -> DataFrame:
    """Wire the matcher over a streaming events frame.

    ``with_end_id`` / ``with_step_ids`` (round 11) surface the batch
    compiler's end_id / i{k} bound-row ids from state — opt-ins so
    existing callers' schemas are untouched.

    ``after_match="skip_past_last"`` applies Flink CEP's
    ``AfterMatchSkipStrategy.SKIP_PAST_LAST_EVENT`` — emitted matches per
    key never overlap; see make_pattern_matcher. Emits 'matched' rows
    only.

    ``steps`` mirrors the batch ``pattern_detect`` surface: an ordered list
    of ``(spec, within)`` or ``(spec, within, max_reps)`` where ``within``
    (an ``INTERVAL`` literal or None) bounds — and only classifies — the
    transition INTO that step, and a present ``max_reps`` makes the step a
    bounded Kleene ``oneOrMore`` whose repetition gap is ``within`` (batch
    parity: the Kleene within doubles as the session gap). Rows matching
    no step are dropped before the keyed exchange (the batch compiler's
    scan filter).

    ``state_ttl`` (e.g. ``"INTERVAL 1 DAY"``) turns on the bounded-state
    policy: event-time timers flush chains idle past the ttl as
    ``incomplete`` rows (see make_pattern_matcher) — the knob an unbounded
    deployment sets; leave None for exact batch equality on replays.

    Each step's spec may be an event-type STRING or an arbitrary
    ``Column`` predicate (the batch compiler's surface): predicates are
    evaluated JVM-side before the keyed exchange, so the state operator's
    payload carries N booleans, not the predicate inputs.

    ``not_followed_by`` maps step index k (1..n-1) to a forbidden
    event-type string or ``Column`` predicate — ``Pattern.notFollowedBy``
    between step k and k+1; killed chains emit nothing (the batch
    compiler's ``negated`` rows).

    ``strict`` / ``not_next`` are the strict-contiguity combinators
    (round 6, Flink's ``next()`` / ``notNext()``): ``s ∈ strict`` means
    step s must be the IMMEDIATELY NEXT event of the key after step s-1;
    ``not_next[k]`` kills the chain when the immediately-next event after
    step k matches. Either disables the match-nothing scan filter — every
    key row is a contiguity witness and rides the keyed exchange, the
    inherent price of strict semantics (Flink's NFA sees every row too).
    Killed chains emit nothing (batch: ``incomplete`` / ``negated``).

    Kleene steps need event-time timers for end-of-stream run closure, so
    their presence (like ``state_ttl``) applies the watermark.

    ``until`` (round 7) maps a Kleene step index to a stop predicate —
    ``oneOrMore().until(condition)``: stop rows ride the keyed exchange
    as their own slot class and act as POSITIONAL closure evidence in
    the NFA — they split repetition sessions in the run machinery's
    (ts, id) order (a dual rep+stop row is its run's final repetition),
    an observed stop at/after an open run's last rep closes it
    immediately (definitive under the event-time-ordered replay
    contract), and the min_reps/invalid-closure restore machinery
    applies to the refined runs unchanged. Verified against the extended
    brute by the ``timers`` soak (stop slots mixed into 40% of Kleene
    steps). An until step cannot also carry a notFollowedBy/notNext
    guard on its outgoing transition (batch parity).

    ``consecutive`` (round 7) marks Kleene steps whose INTERNAL
    contiguity is STRICT — ``oneOrMore().consecutive()``: only the row
    at the run's next per-key global sequence position extends it; any
    other row ending up there (matching anything or nothing) ends the
    loop, and is itself the closure evidence — observed successor
    positions close runs without waiting for the gap timer. Like
    strict/notNext, every key row rides the exchange as a contiguity
    witness (the scan filter is off), and buffered rows carry their
    global positions in state (``s_bps``/``s_seq``)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    specs = [s[0] for s in steps]
    withins = [s[1] for s in steps]
    withins_us = [None if w is None else _interval_us(w) for w in withins]
    def _kspec(s):
        if len(s) <= 2 or s[2] is None:
            return None
        if s[1] is None:
            raise ValueError(
                "Kleene steps need a within interval (the repetition gap)"
            )
        r = s[2]
        if isinstance(r, tuple):  # times(from, to)
            return (_interval_us(s[1]), r[1], r[0])
        return (_interval_us(s[1]), r)  # oneOrMore capped

    kleenes = [_kspec(s) for s in steps]
    nfb = dict(not_followed_by or {})
    nnx = dict(not_next or {})
    unt = dict(until or {})
    stricts = set(strict or ())
    consecs = set(consecutive or ())
    n = len(specs)
    flags = {f"__p{i}": _pred(s) for i, s in enumerate(specs, 1)}
    flags.update({f"__g{k}": _pred(v) for k, v in nfb.items()})
    flags.update({f"__x{k}": _pred(v) for k, v in nnx.items()})
    flags.update({f"__u{k}": _pred(v) for k, v in unt.items()})
    step_types = [s if isinstance(s, str) else f"step{i}" for i, s in enumerate(specs, 1)]
    negations = {
        k: (v if isinstance(v, str) else f"not{k}") for k, v in nfb.items()
    }
    not_nexts = {
        k: (v if isinstance(v, str) else f"nx{k}") for k, v in nnx.items()
    }
    until_types = {
        k: (v if isinstance(v, str) else f"u{k}") for k, v in unt.items()
    }
    ttl_us = None if state_ttl is None else _interval_us(state_ttl)
    timers = ttl_us is not None or any(k is not None for k in kleenes)
    # strict/notNext/consecutive semantics keep the rows matching no slot:
    # every key row is a contiguity witness (the inherent price of
    # next()/notNext()); only timers need the watermark
    filtered = _keyed_input(
        events, key, flags, event_id, ts,
        watermark_delay=watermark_delay if timers else None,
        scan_filter=not (stricts or nnx or consecs),
    )
    return _keyed_state_apply(
        filtered,
        make_pattern_matcher(
            step_types, withins_us, ttl_us=ttl_us, kleenes=kleenes,
            negations=negations, optionals=optional,
            stricts=stricts, not_nexts=not_nexts, after_match=after_match,
            untils=until_types, consecutives=consecs,
            with_end_id=with_end_id, with_step_ids=with_step_ids,
        ),
        pattern_output_schema(
            n, kleenes, with_end_id=with_end_id, with_step_ids=with_step_ids
        ),
        GroupStateTimeout.EventTimeTimeout if timers else GroupStateTimeout.NoTimeout,
    )


def branching_output_schema(n_steps: int) -> T.StructType:
    fields = [
        T.StructField("user_id", T.LongType()),
        T.StructField("anchor_id", T.LongType()),
    ]
    for k in range(1, n_steps + 1):
        fields.append(T.StructField(f"t{k}", T.TimestampType()))
    fields += [
        T.StructField("max_step", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("skipped", T.StringType()),
    ]
    return T.StructType(fields)


class _BranchStateSlot:
    """GroupState facade handed to one branch's detect function; captures
    its update/remove/timer calls so the fused matcher can pack all
    branch states into the single real state row."""

    def __init__(self, value, wm_ms, timed_out, timer_sink):
        self.value = value
        self._wm = wm_ms
        self.hasTimedOut = timed_out
        self._timers = timer_sink

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def getCurrentWatermarkMs(self):
        return self._wm

    def update(self, v):
        self.value = v

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ms):
        self._timers.append(ms)


def _next_watermark_ms(wm_ms: int) -> int:
    """The timeout that fires on the next watermark advance, however
    small: Spark fires a timeout strictly below the watermark and refuses
    one below it or not positive, so the watermark itself (at least 1).
    A timer clamped to ``wm + 1`` instead misses an advance of exactly
    1 ms, e.g. the final no-data batch of an availableNow run."""
    return max(wm_ms, 1)


# ---------------------------------------------------------------------------
# keyed state in hash buckets
# ---------------------------------------------------------------------------
# Every keyed stateful operator groups on pmod(hash(key), B), not on the key.
# The applyInPandasWithState protocol pays a fixed cost PER GROUP PER
# MICRO-BATCH (one Arrow frame, one state row (de)serialization and one
# state-store lookup each), so a per-key plan pays it once per active key —
# ~1,500 keys per batch on the bench replays. With B buckets it is paid B
# times. Inside a bucket the UNCHANGED per-key matcher replays each member
# key against its own private state (the _BranchStateSlot facade), with
# per-key timers emulated on Spark's own eviction rule (a data-less key
# fires when its stored timeout < the watermark, strict; the bucket's real
# timer is the min over members, clamped to >= wm as Spark requires).
# Member states ride in ONE pickled state blob per bucket; a bucket-native
# operator (order_timeout) keeps its own columnar payload instead.
#
# B is the session's defaultParallelism (total cores: measured on local[32],
# 8/16/64 buckets were all slower than 32), or SPARK_GRAFT_STATE_BUCKETS (an
# integer >= 1) for a deployment whose key cardinality makes a bucket's one
# state row too large (raise it toward keys / target keys per bucket).
#
# B is part of the checkpoint: a key's state lives in bucket
# pmod(hash(key), B), so a restart under another B would look every key up
# in the wrong bucket and silently lose its state. Every bucket blob
# therefore starts with a fixed header (magic, codec name and version, B);
# decoding refuses a blob written under another B or by another codec
# instead of guessing.
BUCKET_STATE_SCHEMA = T.StructType([T.StructField("pkl", T.BinaryType())])

_BLOB_HEADER = struct.Struct("<4s4sHi")  # magic, codec name, codec version, B
_BLOB_MAGIC = b"FUBS"
# make_bucketed_matcher's payload: a pickled {key: (per-key state, timer)}.
# The per-key state is whatever tuple the wrapped detect function stores,
# and nothing checks its layout on read: ANY change to the state tuple of a
# wrapped per-key detect function (a field added, dropped, reordered or
# re-typed) must bump this version, or an old checkpoint would unpickle
# silently into the wrong fields.
KMAP_CODEC = (b"kmap", 1)


class StateLayoutError(RuntimeError):
    """A checkpointed bucket blob this build cannot read as written."""


def pack_bucket_blob(codec: tuple[bytes, int], n_buckets: int, payload: bytes) -> bytes:
    """``payload`` behind the header recording ``codec`` and ``n_buckets``."""
    name, version = codec
    return _BLOB_HEADER.pack(_BLOB_MAGIC, name, version, n_buckets) + payload


def unpack_bucket_blob(blob: bytes, codec: tuple[bytes, int], n_buckets: int) -> memoryview:
    """The payload of a blob written by ``codec`` under ``n_buckets``
    buckets; raises StateLayoutError for anything else."""
    if len(blob) < _BLOB_HEADER.size or blob[:4] != _BLOB_MAGIC:
        raise StateLayoutError(
            "checkpointed stream state has no bucket-blob header (written by an "
            "older build); restart the query with a new checkpoint directory"
        )
    _, name, version, got_b = _BLOB_HEADER.unpack_from(blob)
    if (name, version) != codec:
        raise StateLayoutError(
            f"checkpointed stream state uses codec {name.decode()} v{version}, this "
            f"build reads {codec[0].decode()} v{codec[1]}; restart the query with a "
            "new checkpoint directory"
        )
    if got_b != n_buckets:
        raise StateLayoutError(
            f"state bucket count changed: the checkpoint was written with B={got_b} "
            f"state buckets, this run uses B={n_buckets}, so keys would miss their "
            f"state; resume with SPARK_GRAFT_STATE_BUCKETS={got_b} or restart the "
            "query with a new checkpoint directory"
        )
    return memoryview(blob)[_BLOB_HEADER.size:]


def _state_buckets(df: DataFrame) -> int:
    """B: SPARK_GRAFT_STATE_BUCKETS when set, else defaultParallelism."""
    import os

    env = os.environ.get("SPARK_GRAFT_STATE_BUCKETS")
    if env is None:
        return int(df.sparkSession.sparkContext.defaultParallelism)
    try:
        nb = int(env)
    except ValueError:
        nb = 0
    if nb < 1:
        raise ValueError(
            f"SPARK_GRAFT_STATE_BUCKETS={env!r}: the state bucket count must "
            "be an integer >= 1"
        )
    return nb


def make_bucketed_matcher(inner_det, timers: bool, n_buckets: int):
    """Per-BUCKET state function running the per-key ``inner_det`` for each
    member key of the bucket — emissions, state evolution and timeout
    firing order per key are the per-key operator's own (see block comment
    above). ``n_buckets`` is the B the blobs record."""
    import pickle

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        timed_out = getattr(state, "hasTimedOut", False)
        chunks = [] if timed_out else [c for c in pdfs if len(c)]
        if len(chunks) == 1:  # hot path: one chunk per group
            pdf = chunks[0]
        else:
            pdf = pd.concat(chunks, ignore_index=True) if chunks else None
        try:
            wm_ms = state.getCurrentWatermarkMs()
        except Exception:  # noqa: BLE001 — NoTimeout queries have no watermark
            wm_ms = 0
        kmap: dict = (
            pickle.loads(unpack_bucket_blob(state.get[0], KMAP_CODEC, n_buckets))
            if state.exists else {}
        )
        out_frames: list[pd.DataFrame] = []

        def run(uid, frames, fire):
            sink: list[int] = []
            slot = _BranchStateSlot(
                kmap.get(uid, (None, None))[0], wm_ms, fire, sink
            )
            for frame in inner_det((uid,), frames, slot):
                if len(frame):
                    out_frames.append(frame)
            if slot.value is None:
                kmap.pop(uid, None)
            else:
                # Spark clears a key's timeout on every invocation; only a
                # fresh setTimeoutTimestamp (the LAST one wins) re-arms it
                kmap[uid] = (slot.value, sink[-1] if sink else None)

        seen = set()
        if pdf is not None:
            for uid, g in pdf.groupby("user_id", sort=False, dropna=False):
                uid = None if pd.isna(uid) else int(uid)
                seen.add(uid)
                run(uid, iter([g.reset_index(drop=True)]), False)
        # members without data whose stored timeout has expired get their
        # timeout callback in this micro-batch (strict <, Spark's rule)
        for uid in [
            u
            for u, (_v, t) in list(kmap.items())
            if u not in seen and t is not None and t < wm_ms
        ]:
            run(uid, iter([]), True)
        if kmap:
            state.update((pack_bucket_blob(KMAP_CODEC, n_buckets, pickle.dumps(kmap, protocol=4)),))
            if timers:
                pend = [t for (_v, t) in kmap.values() if t is not None]
                if pend:
                    # every member timer left is >= wm (a smaller one fired
                    # above), so the bucket fires in exactly the batches in
                    # which some member's own timer would
                    state.setTimeoutTimestamp(max(min(pend), wm_ms))
        elif state.exists:
            state.remove()
        if len(out_frames) == 1:  # hot path
            yield out_frames[0]
        elif out_frames:
            yield pd.concat(out_frames, ignore_index=True)

    return detect


def _keyed_state_apply(filtered, det, out_schema, timeout, bucket_det=None):
    """The one ``applyInPandasWithState`` call: every keyed stateful
    operator in ``streaming/`` (pattern matchers, skip replayers, budget
    run, OVER aggregate, temporal join, transitions, order timeout) goes
    through it. ``filtered`` must carry the key as a ``user_id`` column;
    rows group on ``__bucket`` = pmod(hash(user_id), B) and each bucket
    stores one ``BUCKET_STATE_SCHEMA`` blob (see the block comment above).

    ``det`` is a per-key state function, run for each member key of a
    bucket by ``make_bucketed_matcher``: its emissions, state and timers
    are exactly its own, as if Spark grouped on the key. It may touch its
    state only through the ``_BranchStateSlot`` surface (exists/get/
    update/remove, getCurrentWatermarkMs, setTimeoutTimestamp,
    hasTimedOut), and its state is any picklable tuple. A bucket-native
    operator passes ``bucket_det(B)`` instead: a state function over the
    whole bucket that writes its own blob."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    nb = _state_buckets(filtered)
    if bucket_det is not None:
        fn = bucket_det(nb)
    else:
        timers = timeout == GroupStateTimeout.EventTimeTimeout
        fn = make_bucketed_matcher(det, timers, nb)
    grouped = filtered.withColumn(
        "__bucket", F.pmod(F.hash(F.col("user_id")), F.lit(nb))
    ).groupBy("__bucket")
    return grouped.applyInPandasWithState(
        fn, out_schema, BUCKET_STATE_SCHEMA, "append", timeout
    )


def _keyed_input(events, key, flags, event_id, ts, watermark_delay=None,
                 extra=None, scan_filter=True):
    """The keyed input of every flag-based matcher: ``flags`` maps a
    column name to a boolean predicate (see ``_pred``), evaluated JVM-side
    once and carried null-safe, so the keyed exchange holds one boolean
    per flag instead of the predicate inputs. Rows matching no flag are
    dropped at the scan — an OR of the raw predicates, pushdown-friendly,
    unlike greatest() over the aliases — unless ``scan_filter`` is off.
    Columns: ``event_id, ts, user_id``, the flags, then ``extra``
    (name -> Column payloads). ``watermark_delay`` applies the watermark
    on ``ts``; None leaves the stream without one."""
    src = events
    if scan_filter:
        any_flag = None
        for c in flags.values():
            any_flag = c if any_flag is None else (any_flag | c)
        src = events.filter(any_flag)
    named = {nm: F.coalesce(c, F.lit(False)).alias(nm) for nm, c in flags.items()}
    filtered = src.withColumns(named).select(
        F.col(event_id).alias("event_id"),
        F.col(ts).alias("ts"),
        F.col(key).alias("user_id"),
        *named.keys(),
        *[c.alias(nm) for nm, c in (extra or {}).items()],
    )
    if watermark_delay is None:
        return filtered
    return filtered.withWatermark("ts", watermark_delay)


def _pred(spec):
    """A step spec as a boolean predicate: an event-type string matches
    ``event_type``; a Column is cast to boolean."""
    if isinstance(spec, str):
        return F.col("event_type") == spec
    return spec.cast("boolean")


def make_branching_matcher(
    step_types: list[str],
    withins_us: list[int | None],
    optionals: list[int],
    ttl_us: int | None = None,
):
    """Build the multi-match ``optional()`` state function: one stateful
    operator internally running 2^|optional| PLAIN-chain NFAs — exactly
    Flink's branching NFA, whose partial-match set is also the set of
    live branches. Each branch is the ``make_pattern_matcher`` chain for
    one optional-subset (within bounds re-anchored on the surviving
    predecessor via the shortened step list), fed the ``__p{k}`` flags of
    its kept steps; emitted rows are remapped to the full step numbering
    with ``skipped`` naming the branch. The branches pack into one state
    row through ``make_fused_matcher``."""
    from itertools import combinations

    n = len(step_types)
    branches = []
    for r in range(len(optionals) + 1):
        for skip in combinations(sorted(optionals), r):
            kept = [k for k in range(1, n + 1) if k not in skip]
            det = make_pattern_matcher(
                [step_types[k - 1] for k in kept],
                [withins_us[k - 1] for k in kept],
                ttl_us=ttl_us,
            )
            tag = ",".join(str(k) for k in skip) or "none"

            def project(frame, kept=kept, tag=tag):
                # build in output order (skips the reindex selection);
                # NaT/tag columns as raw numpy buffers (hot path)
                m = len(frame)
                tmap = {k: frame[f"t{j}"] for j, k in enumerate(kept, start=1)}
                cols = {
                    "user_id": frame["user_id"],
                    "anchor_id": frame["anchor_id"],
                    **{
                        f"t{k}": (
                            tmap[k]
                            if k in tmap
                            else np.full(m, np.datetime64("NaT"), "datetime64[us]")
                        )
                        for k in range(1, n + 1)
                    },
                    "max_step": frame["max_step"],
                    "state": frame["state"],
                    "skipped": np.full(m, tag, dtype=object),
                }
                return pd.DataFrame(cols, copy=False)

            branches.append((det, [f"__p{k}" for k in kept], project))
    return make_fused_matcher(branches)


def stream_pattern_detect_branching(
    events: DataFrame,
    key: str,
    steps: list[tuple],
    optional: set[int],
    event_id: str = "event_id",
    ts: str = "ts",
    state_ttl: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Flink-faithful MULTI-MATCH ``optional()`` in its native streaming
    form — the streaming twin of the batch
    ``operators/sequence.py:pattern_detect_branching`` (round 6, closing
    the last batch/streaming divergence: ``stream_pattern_detect``'s
    ``optional=`` races greedily to ONE match per anchor, while the
    reference's branching NFA (Pattern.optional()) emits BOTH the taken
    and the skipped chain).

    ONE stateful operator (Spark permits a single
    ``applyInPandasWithState`` per streaming query, so the batch form's
    union-of-plans cannot be transplanted) internally running the
    2^|optional| plain-chain NFAs — exactly how Flink's branching NFA
    carries one partial match per live branch. Every branch is a plain
    chain, where the streaming engine is batch-equivalent, so the output
    equals the batch branching result minus its ``incomplete`` rows (a
    streaming chain that never completes never emits). The ≤4 optional
    bound (16 branches) caps both the plan and the per-key state
    multiplier. Steps must be plain ``(spec, within)`` pairs (batch
    parity: the branching surface excludes Kleene steps)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    n = len(steps)
    opts = sorted(optional or ())
    if any(k <= 1 or k >= n for k in opts):
        raise ValueError("optional steps must be interior (2..n-1)")
    if len(opts) > 4:
        raise ValueError(
            f"stream_pattern_detect_branching runs 2^|optional| branch "
            f"NFAs; {len(opts)} optional steps would mean "
            f"{2 ** len(opts)} branches — at most 4 are supported"
        )
    if any(len(s) > 2 and s[2] is not None for s in steps):
        raise ValueError("branching steps must be plain (no oneOrMore/times)")

    specs = [s[0] for s in steps]
    withins_us = [None if s[1] is None else _interval_us(s[1]) for s in steps]
    flags = {f"__p{i}": _pred(s) for i, s in enumerate(specs, 1)}
    step_types = [s if isinstance(s, str) else f"step{i}" for i, s in enumerate(specs, 1)]
    ttl_us = None if state_ttl is None else _interval_us(state_ttl)
    return _keyed_state_apply(
        _keyed_input(
            events, key, flags, event_id, ts,
            watermark_delay=None if ttl_us is None else watermark_delay,
        ),
        make_branching_matcher(step_types, withins_us, opts, ttl_us=ttl_us),
        branching_output_schema(n),
        GroupStateTimeout.EventTimeTimeout
        if ttl_us is not None
        else GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# followedByAny — relaxed NON-DETERMINISTIC contiguity, streaming twin
# (round 7; batch form: operators/sequence.py:pattern_detect_any)
# --------------------------------------------------------------------------

def any_output_schema(n_steps: int) -> T.StructType:
    fields = [T.StructField("user_id", T.LongType())]
    fields += [T.StructField(f"i{k}", T.LongType()) for k in range(1, n_steps + 1)]
    fields += [T.StructField(f"t{k}", T.TimestampType()) for k in range(1, n_steps + 1)]
    return T.StructType(fields)


def _enumerate_any(ids, tss, masks, news, withins_us):
    """All strictly-increasing step-1..N combinations over the buffered
    events (sorted here by the engine's (ts, rank, id) total order,
    rank = earliest matching step) whose every transition is inside its
    within bound AND that contain at least one NEW event — i.e. exactly
    the combinations first completed by this micro-batch (every event is
    new once, and a combination is enumerable only once all its events
    are present, so the any-new filter is the exactly-once rule)."""
    n = len(withins_us)
    order = sorted(
        range(len(ids)),
        key=lambda i: (tss[i], (masks[i] & -masks[i]).bit_length(), ids[i]),
    )
    e_ids = [ids[i] for i in order]
    e_tss = [tss[i] for i in order]
    e_masks = [masks[i] for i in order]
    e_news = [news[i] for i in order]
    out = []

    def dfs(step, pos, acc_ids, acc_tss, has_new):
        if step > n:
            if has_new:
                out.append((tuple(acc_ids), tuple(acc_tss)))
            return
        bound = acc_tss[-1] + withins_us[step - 1]
        for p in range(pos + 1, len(e_ids)):
            if e_tss[p] > bound:  # ts-major sort → nothing later fits
                break
            if (e_masks[p] >> (step - 1)) & 1:
                dfs(step + 1, p, acc_ids + [e_ids[p]], acc_tss + [e_tss[p]],
                    has_new or e_news[p])

    for p0 in range(len(e_ids)):
        if e_masks[p0] & 1:
            dfs(2, p0, [e_ids[p0]], [e_tss[p0]], e_news[p0])
    return out


def _ingest_new_events(pdfs: Iterator[pd.DataFrame], n_steps: int, known: set,
                       n_pay: int = 0) -> tuple[list, list, list, list]:
    """The rows of a micro-batch that join a horizon buffer: every row
    matching some step whose event id is not in ``known`` (updated in
    place, so a row delivered twice joins once). Returns their ids, µs
    timestamps, step bitmasks (bit k-1 = ``__p{k}``) and, row-major,
    ``n_pay`` payload longs each (``__v0..``)."""
    ids, tss, masks, pays = [], [], [], []
    for pdf in pdfs:
        if not len(pdf):
            continue
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        eid = pdf["event_id"].to_numpy()
        pay_cols = [pdf[f"__v{j}"].to_numpy() for j in range(n_pay)]
        # step-membership bitmasks, vectorized over the batch (the
        # per-row inner loop was a measured hot spot, round 10)
        msk = np.zeros(len(pdf), dtype="int64")
        for i in range(n_steps):
            msk |= pdf[f"__p{i + 1}"].to_numpy().astype(bool).astype("int64") << i
        for r in np.flatnonzero(msk):
            e = int(eid[r])
            if e not in known:
                ids.append(e)
                tss.append(int(ts_us[r]))
                masks.append(int(msk[r]))
                pays.extend(int(c[r]) for c in pay_cols)
                known.add(e)
    return ids, tss, masks, pays


def make_any_matcher(n_steps: int, withins_us: list, after_match: str | None = None):
    """Per-key followedByAny matcher for ``applyInPandasWithState``.

    Plain mode: emission is DATA-DRIVEN (a combination emits in the
    micro-batch where its last-arriving event lands — Flink emits each
    branch when its final step binds), so the watermark is needed only
    for STATE eviction: an event can still join a future combination
    while ``ts > wm - H`` (H = the summed within bounds — any
    combination spans at most H), and is dropped afterwards. State per
    key is therefore the H-horizon event buffer — bounded by per-key
    rate × H, the same bound the batch join's fan-out argument rests on.
    Per-batch work re-walks combinations over the buffered horizon
    (old-only walks are filtered, not skipped — bounded by the same
    horizon); the combinatorial OUTPUT is the semantics, not overhead.
    Timers clear idle keys once the watermark passes the whole buffer + H.

    ``after_match='skip_to_next'`` (round 7): one survivor per anchor —
    the first in completion order ``(tN, iN, …, t2, i2)``, the batch
    ``after_match_skip_to_next`` fold. An anchor's winner is FINAL as
    soon as the watermark passes its current best's END (later events
    all carry ts ≥ wm, so none can complete earlier), so emission is
    watermark-driven at millisecond granularity (``best_end_ms ≤
    wm_ms`` — the ms-floored predicate the other NFA twins use) and
    never needs to wait for the anchor's full H window. Emitted anchors
    are latched in state (``emitted_ids``) and pruned with the buffer —
    an evicted anchor cannot re-enumerate, so the latch set stays
    buffer-sized. The pending-winner timer re-fires on watermark
    advance, which also flushes the stream tail on the final
    availableNow timer drive."""
    if after_match not in (None, "skip_to_next"):
        raise ValueError(f"unsupported after_match: {after_match!r}")
    horizon_us = sum(w for w in withins_us[1:])
    skip_next = after_match == "skip_to_next"

    def fold(key, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        if state.exists:
            # the event buffer (id, ts, step bitmask), then the anchors
            # already emitted under after_match='skip_to_next' (empty in
            # plain mode); pruned with the event buffer — an evicted anchor
            # can never re-enumerate, so the set needs only live anchors
            o_ids, o_tss, o_masks, o_emit = (list(v) for v in state.get)
        else:
            o_ids, o_tss, o_masks, o_emit = [], [], [], []
        n_ids, n_tss, n_masks, _ = _ingest_new_events(pdfs, n_steps, set(o_ids))
        ids = o_ids + n_ids
        tss = o_tss + n_tss
        masks = o_masks + n_masks
        wm_us = state.getCurrentWatermarkMs() * 1000
        rows = []
        emitted = set(o_emit)
        pending_end_ms = None
        if skip_next:
            if ids:
                best: dict[int, tuple] = {}
                for cid, cts in _enumerate_any(
                    ids, tss, masks, [True] * len(ids), withins_us
                ):
                    if cid[0] in emitted:
                        continue
                    ekey = tuple(
                        x for k in range(n_steps - 1, 0, -1) for x in (cts[k], cid[k])
                    )
                    cur = best.get(cid[0])
                    if cur is None or ekey < cur[0]:
                        best[cid[0]] = (ekey, cid, cts)
                for a, (_, cid, cts) in sorted(best.items()):
                    end_ms = cts[-1] // 1000
                    if end_ms <= wm_us // 1000:
                        rows.append((cid, cts))
                        emitted.add(a)
                    else:
                        pending_end_ms = (
                            end_ms if pending_end_ms is None
                            else min(pending_end_ms, end_ms)
                        )
        elif n_ids:
            news = [False] * len(o_ids) + [True] * len(n_ids)
            for cid, cts in _enumerate_any(ids, tss, masks, news, withins_us):
                rows.append((cid, cts))
        keep = [i for i in range(len(ids)) if tss[i] > wm_us - horizon_us]
        if keep:
            kept_ids = [ids[i] for i in keep]
            kept_set = set(kept_ids)
            state.update((
                kept_ids,
                [tss[i] for i in keep],
                [masks[i] for i in keep],
                sorted(a for a in emitted if a in kept_set),
            ))
            evict_ms = max(max(tss[i] for i in keep) + horizon_us, wm_us) // 1000 + 1
            # timers fire on wm > timeout, so a winner pending until
            # end_ms needs timeout end_ms - 1 (the ceil-1 rule the other
            # NFA twins use); at the earliest the next watermark advance
            state.setTimeoutTimestamp(
                min(evict_ms, max(pending_end_ms - 1, _next_watermark_ms(wm_us // 1000)))
                if pending_end_ms is not None
                else evict_ms
            )
        elif state.exists:
            state.remove()
        if rows:
            # columnar build (tuple-rows + per-cell pd.Timestamp was the
            # hot path for the combinatorial emitters, round 10)
            cid_arr = np.asarray([r[0] for r in rows], dtype="int64")
            cts_arr = np.asarray([r[1] for r in rows], dtype="int64")
            cols = {"user_id": np.full(len(rows), int(key[0]), dtype="int64")}
            for k in range(n_steps):
                cols[f"i{k + 1}"] = cid_arr[:, k]
            for k in range(n_steps):
                cols[f"t{k + 1}"] = cts_arr[:, k].astype("datetime64[us]")
            yield pd.DataFrame(cols, copy=False)

    return fold


def stream_pattern_detect_any(
    events: DataFrame,
    key: str,
    steps: list[tuple],
    event_id: str = "event_id",
    ts: str = "ts",
    watermark_delay: str = "0 seconds",
    after_match: str | None = None,
) -> DataFrame:
    """``Pattern.followedByAny`` as a continuous query — the streaming
    twin of ``operators/sequence.py:pattern_detect_any`` (same (ts, rank,
    id) total order, same mandatory within bounds; output equals the
    batch result exactly on a complete replay, since emission is
    data-driven and every combination completes at some micro-batch).
    ``steps`` mirrors the batch surface: (event-type string | Column
    predicate, within INTERVAL literal — mandatory after step 1)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    n = len(steps)
    if n < 2:
        raise ValueError("stream_pattern_detect_any needs at least 2 steps")
    if any(s[1] is None for s in steps[1:]):
        raise ValueError("followedByAny needs a within interval on every "
                         "step after the first")
    withins_us = [0] + [_interval_us(s[1]) for s in steps[1:]]
    flags = {f"__p{i}": _pred(s[0]) for i, s in enumerate(steps, 1)}
    return _keyed_state_apply(
        _keyed_input(events, key, flags, event_id, ts, watermark_delay=watermark_delay),
        make_any_matcher(n, withins_us, after_match=after_match),
        any_output_schema(n),
        GroupStateTimeout.EventTimeTimeout,
    )


def iterative_output_schema(n_steps: int, pay_names: list[str]) -> T.StructType:
    fields = [T.StructField("user_id", T.LongType())]
    fields += [T.StructField(f"i{k}", T.LongType()) for k in range(1, n_steps + 1)]
    fields += [T.StructField(f"t{k}", T.TimestampType()) for k in range(1, n_steps + 1)]
    fields += [
        T.StructField(f"{nm}{k}", T.LongType())
        for nm in pay_names
        for k in range(1, n_steps + 1)
    ]
    return T.StructType(fields)


def make_iterative_matcher(n_steps: int, withins_us: list, n_pay: int, conds_py: dict):
    """Per-key skip-till-next matcher with ITERATIVE conditions for
    ``applyInPandasWithState`` — the streaming twin of
    ``operators/sequence.py:pattern_detect_iterative`` (Flink
    ``IterativeCondition``: a step's admissibility depends on the bound
    prefix, so candidacy is per-partial-match).

    Emission is watermark-gated on the chain END: under
    skip-till-next-match a usurping candidate for any step k must sort
    BEFORE the bound event — ts ≤ t_k ≤ t_n — so once the watermark
    passes t_n (strict, µs) no future arrival can change any binding and
    the complete chain is FINAL. Pending complete chains set a timer at
    ``t_n // 1000`` (fires when wm_ms exceeds it — then wm_us > t_n);
    the final availableNow drive flushes chains whose end precedes the
    final ms-floored watermark, which is exactly the restriction the
    oracle applies to the batch result.

    State: the H-horizon event buffer (H = summed withins — every
    binding decision lives inside [t1, t1+H]) + payload longs + the
    emitted-anchor latch; eviction keeps rows with ts ≥ wm − H
    (inclusive: an anchor AT the boundary is not yet final).
    ``conds_py[k](prefix_pays, cand_pay)`` mirrors the batch ``conds``
    Columns in Python (the fold runs Arrow-side); the 3-SF oracle gate
    plus the soak pin the two spellings to each other.
    """
    horizon_us = sum(withins_us[1:])

    def fold(key, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        out_cols = (
            ["user_id"]
            + [f"i{k}" for k in range(1, n_steps + 1)]
            + [f"t{k}" for k in range(1, n_steps + 1)]
            + [f"v{j}_{k}" for j in range(n_pay) for k in range(1, n_steps + 1)]
        )
        if state.exists:
            # the event buffer (id, ts, step bitmask, payload values
            # row-major: n_pay longs per event), then the anchors whose
            # chain already emitted (complete + final); pruned with the
            # buffer — an evicted anchor is never re-walked
            o_ids, o_tss, o_masks, o_pays, o_emit = (list(v) for v in state.get)
        else:
            o_ids, o_tss, o_masks, o_pays, o_emit = [], [], [], [], []
        for buf, new in zip(
            (o_ids, o_tss, o_masks, o_pays),
            _ingest_new_events(pdfs, n_steps, set(o_ids), n_pay),
        ):
            buf.extend(new)
        wm_us = state.getCurrentWatermarkMs() * 1000
        wm_ms = wm_us // 1000
        order = sorted(
            range(len(o_ids)),
            key=lambda i: (o_tss[i], (o_masks[i] & -o_masks[i]).bit_length(), o_ids[i]),
        )
        e_ids = [o_ids[i] for i in order]
        e_tss = [o_tss[i] for i in order]
        e_masks = [o_masks[i] for i in order]
        e_pays = [
            tuple(o_pays[i * n_pay + j] for j in range(n_pay)) for i in order
        ]
        emitted = set(o_emit)
        rows = []
        pending_end = None
        for p0 in range(len(e_ids)):
            if not (e_masks[p0] & 1) or e_ids[p0] in emitted:
                continue
            pos = p0
            chain = [p0]
            prefix = [e_pays[p0]]
            complete = True
            for s in range(2, n_steps + 1):
                bound = e_tss[pos] + withins_us[s - 1]
                nxt = None
                for p in range(pos + 1, len(e_ids)):
                    if e_tss[p] > bound:  # ts-major sort → nothing later fits
                        break
                    if (e_masks[p] >> (s - 1)) & 1 and (
                        s not in conds_py or conds_py[s](prefix, e_pays[p])
                    ):
                        nxt = p
                        break
                if nxt is None:
                    complete = False
                    break
                pos = nxt
                chain.append(nxt)
                prefix.append(e_pays[nxt])
            if not complete:
                continue
            end_us = e_tss[pos]
            if end_us < wm_us:
                rows.append(
                    (int(key[0]),
                     *[e_ids[p] for p in chain],
                     *[pd.Timestamp(e_tss[p], unit="us") for p in chain],
                     *[e_pays[p][j] for j in range(n_pay) for p in chain])
                )
                emitted.add(e_ids[p0])
            else:
                pending_end = end_us if pending_end is None else min(pending_end, end_us)
        keep = [i for i in range(len(o_ids)) if o_tss[i] >= wm_us - horizon_us]
        if keep:
            kept_ids = [o_ids[i] for i in keep]
            kept_set = set(kept_ids)
            state.update((
                kept_ids,
                [o_tss[i] for i in keep],
                [o_masks[i] for i in keep],
                [o_pays[i * n_pay + j] for i in keep for j in range(n_pay)],
                sorted(a for a in emitted if a in kept_set),
            ))
            evict_ms = max(max(o_tss[i] for i in keep) + horizon_us, wm_us) // 1000 + 1
            state.setTimeoutTimestamp(
                min(evict_ms, max(pending_end // 1000, _next_watermark_ms(wm_ms)))
                if pending_end is not None
                else evict_ms
            )
        elif state.exists:
            state.remove()
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    return fold


def stream_pattern_detect_iterative(
    events: DataFrame,
    key: str,
    steps: list[tuple],
    payload: dict | None = None,
    conds_py: dict | None = None,
    event_id: str = "event_id",
    ts: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """``IterativeCondition`` CEP as a continuous query — the streaming
    twin of ``operators/sequence.py:pattern_detect_iterative``. ``steps``
    mirror the batch surface (predicate, within — mandatory after step
    1); ``payload`` maps names to JVM-evaluated long Columns carried into
    state; ``conds_py[k](prefix_pays, cand_pay)`` is the Python spelling
    of the batch ``conds`` Column for step k (prefix_pays = list of bound
    payload tuples for steps 1..k-1, tuple order = payload dict order).
    Output on a bounded replay = the batch result restricted to chains
    whose END precedes the final ms-floored watermark (see
    make_iterative_matcher)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    n = len(steps)
    if n < 2:
        raise ValueError("stream_pattern_detect_iterative needs at least 2 steps")
    if any(s[1] is None for s in steps[1:]):
        raise ValueError(
            "iterative patterns need a within interval on every step after "
            "the first"
        )
    pay = dict(payload or {})
    withins_us = [0] + [_interval_us(s[1]) for s in steps[1:]]
    flags = {f"__p{i}": _pred(s[0]) for i, s in enumerate(steps, 1)}
    pay_cols = {f"__v{j}": c.cast("long") for j, c in enumerate(pay.values())}
    out = _keyed_state_apply(
        _keyed_input(
            events, key, flags, event_id, ts,
            watermark_delay=watermark_delay, extra=pay_cols,
        ),
        make_iterative_matcher(n, withins_us, len(pay), dict(conds_py or {})),
        iterative_output_schema(n, [f"v{j}_" for j in range(len(pay))]),
        GroupStateTimeout.EventTimeTimeout,
    )
    # rename the positional payload columns back to the caller's names
    for j, nm in enumerate(pay):
        for k in range(1, n + 1):
            out = out.withColumnRenamed(f"v{j}_{k}", f"{nm}{k}")
    return out


# --------------------------------------------------------------------------
# Fused multi-branch operator (round 8): pack several fixed-cap NFAs into
# ONE applyInPandasWithState — the per-count reluctant / allowCombinations /
# group-loop twins previously ran one independent streaming query (its own
# source scan + stateful exchange) per admitted repetition count; Flink's
# shared version tree does one pass. make_fused_matcher is the one code
# that packs branch states: arbitrary branch step lists (heterogeneous
# widths included) over either the chain engine (make_pattern_matcher) or
# the followedByAny engine (make_any_matcher). The multi-match optional()
# operator (make_branching_matcher), the per-count twins and the
# preference fold all run through it.
# --------------------------------------------------------------------------


def make_fused_matcher(branches: list[tuple]):
    """Build the packed state function. ``branches`` is a list of
    ``(det, slot_cols, project)``: ``det`` a per-branch detect function
    (one engine family per operator — the seg_lens packing assumes every
    branch shares the same state field count), ``slot_cols`` the packed
    input column names feeding the branch's ``__p1..__pn`` slots, and
    ``project`` a pandas-level remap of the branch's output frame onto
    the operator's COMMON output schema. The state is
    ``(*fields, seg_lens)``: every field holds the branch-major
    concatenation of that field's per-branch arrays, and seg_lens
    ([branch][field], len = B * fields) restores the segmentation, so ONE
    state carries every branch NFA. The field count is read back from the
    stored tuple and taken from the branch values being packed. The
    operator's timer is the minimum of the branches' requests, clamped
    above the watermark."""
    B = len(branches)

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        timed_out = getattr(state, "hasTimedOut", False)
        chunks = [] if timed_out else [c for c in pdfs if len(c)]
        if len(chunks) == 1:  # hot path: skip the per-group concat
            pdf = chunks[0]
        else:
            pdf = pd.concat(chunks, ignore_index=True) if chunks else None
        try:
            # raises on a watermark-free stream (the no-ttl branching
            # operator runs without withWatermark); 0 = "no watermark yet"
            wm_ms = state.getCurrentWatermarkMs()
        except Exception:  # noqa: BLE001
            wm_ms = 0

        if state.exists:
            *flat, seg = state.get
            seg = [int(x) for x in seg]
            nf = len(flat)
            bvals: list[tuple | None] = []
            pos = [0] * nf
            for b in range(B):
                tup, empty = [], True
                for f in range(nf):
                    ln = seg[b * nf + f]
                    tup.append(list(flat[f][pos[f]:pos[f] + ln]))
                    pos[f] += ln
                    empty = empty and ln == 0
                bvals.append(None if empty else tuple(tup))
        else:
            bvals = [None] * B

        timer_cands: list[int] = []
        new_vals: list[tuple | None] = [None] * B
        out_frames: list[pd.DataFrame] = []
        for bi, (det, slot_cols, project) in enumerate(branches):
            slot = _BranchStateSlot(bvals[bi], wm_ms, timed_out, timer_cands)
            if pdf is not None:
                bpdf = pd.DataFrame(
                    {
                        "event_id": pdf["event_id"],
                        "ts": pdf["ts"],
                        **{
                            f"__p{j}": pdf[c]
                            for j, c in enumerate(slot_cols, start=1)
                        },
                    }
                )
                it: Iterator[pd.DataFrame] = iter([bpdf])
            else:
                it = iter([])
            for frame in det(key, it, slot):
                out_frames.append(project(frame))
            new_vals[bi] = slot.value

        live = [v for v in new_vals if v is not None]
        if live:
            nf = len(live[0])
            flat_out: list[list] = [[] for _ in range(nf)]
            seg_out: list[int] = []
            for v in new_vals:
                for f in range(nf):
                    arr = [] if v is None else list(v[f])
                    flat_out[f].extend(arr)
                    seg_out.append(len(arr))
            state.update(tuple([*flat_out, seg_out]))
            if timer_cands:
                # each branch already clamped its request
                state.setTimeoutTimestamp(max(min(timer_cands), _next_watermark_ms(wm_ms)))
        elif state.exists:
            state.remove()

        if len(out_frames) == 1:  # hot path: skip the per-group concat
            yield out_frames[0]
        elif out_frames:
            yield pd.concat(out_frames, ignore_index=True)

    return detect


def stream_pattern_detect_fused(
    events: DataFrame,
    key: str,
    flags: dict[str, "Column"],
    branches: list[dict],
    output_schema: T.StructType,
    event_id: str = "event_id",
    ts: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Run B fixed-cap NFAs as ONE stateful operator over ONE source scan.

    ``flags`` maps a packed column name to its predicate (each distinct
    predicate is evaluated JVM-side once; the scan filter is their OR —
    the usual match-nothing drop). Each branch dict:

    - ``engine``: ``"chain"`` (make_pattern_matcher — plain + Kleene
      steps, no guards) or ``"any"`` (make_any_matcher — followedByAny).
      All branches must share the engine (one state layout per operator).
    - ``slots``: ordered flag names feeding the branch's ``__p1..__pn``.
    - ``withins_us``: per-step within bounds (``None`` unbounded for
      chain; step-1 entry 0/None for any).
    - ``kleenes`` (chain only): per-step Kleene specs as
      ``make_pattern_matcher`` takes them.
    - ``project``: pandas-level remap of the branch's native output frame
      (``pattern_output_schema`` / ``any_output_schema`` shape) onto
      ``output_schema``'s columns.

    Scale: one keyed exchange carries the union of the branches' slot
    flags; per-key state is the sum of the B branch states (each bounded
    by its own gap/window horizon, as when run separately) — B is a
    fixed small cap (≤ 8 in the catalog), so this is strictly cheaper
    than B independent queries: one scan, one shuffle, one state store.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    engines = {b["engine"] for b in branches}
    if len(engines) != 1:
        raise ValueError("all fused branches must share one engine family")
    engine = engines.pop()
    if engine not in ("chain", "any"):
        raise ValueError("engine: chain | any")
    unknown = {s for b in branches for s in b["slots"]} - set(flags)
    if unknown:
        raise ValueError(f"branch slots name unknown flags: {sorted(unknown)}")

    built = []
    for b in branches:
        nb = len(b["slots"])
        if engine == "chain":
            det = make_pattern_matcher(
                [f"s{j}" for j in range(1, nb + 1)],
                list(b["withins_us"]),
                kleenes=list(b.get("kleenes") or [None] * nb),
            )
        else:
            det = make_any_matcher(nb, list(b["withins_us"]))
        built.append((det, list(b["slots"]), b["project"]))

    preds = {nm: _pred(c) for nm, c in flags.items()}
    return _keyed_state_apply(
        _keyed_input(events, key, preds, event_id, ts, watermark_delay=watermark_delay),
        make_fused_matcher(built),
        output_schema,
        GroupStateTimeout.EventTimeTimeout,
    )


PREF_NULL = -(1 << 62)


def preferred_output_schema(n_steps: int) -> T.StructType:
    return T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("__branch", T.LongType()),
            T.StructField("anchor_id", T.LongType()),
            *[
                T.StructField(f"t{k}", T.TimestampType())
                for k in range(1, n_steps + 1)
            ],
        ]
    )


def make_preference_fused(branches: list[tuple], n_steps: int, horizon_us: int,
                          within_overall_us: int | None = None):
    """Wrap ``make_fused_matcher`` with ISO 9075-2's lexicographic
    (leftmost-alternative) preference fold — the streaming twin of the
    batch branch-union route's per-anchor min-branch pick (round 9).

    The B plain-chain NFAs run packed in one stateful operator; their
    matched completions land in a PENDING buffer keyed by anchor. An
    anchor's preference is decided once NO branch can still complete:
    every in-bound completion satisfies ``end ≤ t1 + horizon`` (horizon
    = the max over branches of their within sums), and Spark's late
    filter drops rows below the watermark, so ``wm > t1 + horizon``
    strictly is finality — then the LOWEST branch index that completed
    wins and the anchor's other candidates drop (exactly-once by
    construction: the buffer is cleared on emission, and no branch can
    re-complete a final anchor). State = the fused matcher's packed
    ``(*fields, seg_lens)`` followed by the pending buffer
    ``(branch, anchor, t1..tn)`` (one array per chain position, µs with
    PREF_NULL for null; bounded by anchors inside the horizon window).
    With no branch state left, the fused part is written as
    ``CHAIN_STATE_FIELDS + 1`` empty arrays; an empty seg_lens marks it."""
    fused = make_fused_matcher(branches)
    n_pend = 2 + n_steps
    t_cols = [f"t{k}" for k in range(1, n_steps + 1)]

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if state.exists:
            all_v = state.get
            sub_v = tuple(all_v[:-n_pend])
            if not len(sub_v[-1]):   # seg empty = fused part removed
                sub_v = None
            pend = [np.asarray(x, dtype="int64") for x in all_v[-n_pend:]]
        else:
            sub_v = None
            pend = [np.empty(0, dtype="int64") for _ in range(n_pend)]

        timers: list[int] = []
        slot = _BranchStateSlot(sub_v, wm_ms, getattr(state, "hasTimedOut", False), timers)
        frames = list(fused(key, pdfs, slot))

        if frames:
            # hot path: skip the per-group concat for the 1-frame case
            add = (
                frames[0]
                if len(frames) == 1
                else pd.concat(frames, ignore_index=True)
            )
            cols = [add["__branch"].to_numpy().astype("int64"),
                    add["anchor_id"].to_numpy().astype("int64")]
            for c in t_cols:
                v = add[c].astype("datetime64[us]").astype("int64").to_numpy()
                mask = add[c].isna().to_numpy()
                v = np.where(mask, PREF_NULL, v)
                cols.append(v)
            if within_overall_us is not None:
                # overall WITHIN (round 10): a completion whose end
                # exceeds the anchor bound is NOT a match — it must not
                # enter the pending buffer, where it could win the
                # leftmost preference over a qualifying later branch
                # (t_n is always bound on a complete plain chain)
                keep = cols[-1] <= cols[2] + within_overall_us
                cols = [c[keep] for c in cols]
            pend = [np.concatenate([p, c]) for p, c in zip(pend, cols)]

        out = None
        if len(pend[0]):
            t1 = pend[2]
            final = t1 + horizon_us < wm_us
            if final.any():
                f_branch, f_anchor = pend[0][final], pend[1][final]
                # min branch per anchor
                order = np.lexsort((f_branch, f_anchor))
                f_anchor_s = f_anchor[order]
                first = np.empty(len(order), dtype=bool)
                first[0] = True
                first[1:] = f_anchor_s[1:] != f_anchor_s[:-1]
                win = order[first]
                data = {
                    "user_id": np.full(len(win), key[0], dtype="int64"),
                    "__branch": pend[0][final][win].astype("int64"),
                    "anchor_id": pend[1][final][win].astype("int64"),
                }
                for i, c in enumerate(t_cols):
                    v = pend[2 + i][final][win]
                    s = v.astype("datetime64[us]")
                    s[v == PREF_NULL] = np.datetime64("NaT")
                    data[c] = s
                out = pd.DataFrame(data, copy=False)
                keep = ~final
                pend = [p[keep] for p in pend]

        has_pend = bool(len(pend[0]))
        if slot.value is not None or has_pend:
            sub_out = (
                slot.value
                if slot.value is not None
                else tuple([] for _ in range(CHAIN_STATE_FIELDS + 1))
            )
            state.update(tuple([*sub_out, *[p.tolist() for p in pend]]))
            cands = list(timers)
            if has_pend:
                cands.append(_next_watermark_ms(wm_ms))
            if cands:
                state.setTimeoutTimestamp(max(min(cands), _next_watermark_ms(wm_ms)))
        elif state.exists:
            state.remove()

        if out is not None:
            yield out

    return detect


def stream_pattern_detect_preferred(
    events: DataFrame,
    key: str,
    flags: dict[str, "Column"],
    branch_slots: list[list[str]],
    withins_us: list[list[int]],
    event_id: str = "event_id",
    ts: str = "ts",
    watermark_delay: str = "0 seconds",
    within_overall: str | None = None,
) -> DataFrame:
    """B plain-chain NFAs (same length) + the leftmost-preference fold
    as ONE stateful operator (round 9 — the streaming compile of the
    MATCH_RECOGNIZE alternation/PERMUTE branch union). ``branch_slots``
    lists each branch's ordered flag names; ``withins_us`` its
    per-transition bounds (entry None, every later step FINITE — the
    horizon is what makes the fold watermark-decidable). Output:
    ``user_id, __branch, anchor_id, t1..tn`` of each anchor's winning
    branch; callers map positions onto variables with a stateless CASE
    projection (JVM-side). ``within_overall`` (round 10): completions
    whose end exceeds the anchor bound never enter the pending buffer —
    the bound prunes BEFORE the leftmost preference, so a violating
    lower branch cannot beat a qualifying higher one.

    Scale: one keyed exchange of the union flag set, one state store; B
    is the branch cap (≤ 8). The pending buffer holds one row per
    (anchor, completing branch) inside the horizon window — bounded by
    anchor density × horizon, the same class as the NFA's own state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ns = {len(s) for s in branch_slots}
    if len(ns) != 1:
        raise ValueError("all preference branches must share one length")
    n = ns.pop()
    horizon = 0
    for ws in withins_us:
        if any(w is None for w in ws[1:]):
            raise ValueError(
                "the preference fold needs a FINITE within on every "
                "transition (the horizon bounds when an anchor's "
                "preference is decidable on the stream)"
            )
        horizon = max(horizon, sum(ws[1:]))

    built = []
    for bi, (slots, ws) in enumerate(zip(branch_slots, withins_us)):
        det = make_pattern_matcher(
            [f"s{j}" for j in range(1, n + 1)],
            list(ws),
            kleenes=[None] * n,
        )

        def project(frame, _bi=bi):
            f = frame[frame["state"] == "matched"]
            f = f[["user_id", "anchor_id"] + [f"t{k}" for k in range(1, n + 1)]].copy()
            f["__branch"] = _bi
            return f

        built.append((det, list(slots), project))

    preds = {nm: _pred(c) for nm, c in flags.items()}
    wo_us = None if within_overall is None else _interval_us(within_overall)
    return _keyed_state_apply(
        _keyed_input(events, key, preds, event_id, ts, watermark_delay=watermark_delay),
        make_preference_fused(built, n, horizon, within_overall_us=wo_us),
        preferred_output_schema(n),
        GroupStateTimeout.EventTimeTimeout,
    )
