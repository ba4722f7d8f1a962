"""Watermark-driven AFTER MATCH skip replays as continuous queries — the
batch-only MATCH_RECOGNIZE skip routes lifted onto a stream. One
replayer, ``make_quantified_chain_replayer`` (wired by
``stream_quantified_chain_detect``), serves every route: skip-till-next
chains whose steps may be plain, capped greedy runs (any position past
the anchor), at most one capped RELUCTANT run, or interior optionals,
under one of three modes —

- ``past_last``: Flink's SKIP_PAST_LAST_EVENT — survivors start
  STRICTLY past the emitted match's END, which becomes the horizon.
  With a reluctant run this is the lazy fold of SQL's ``SKIP PAST LAST
  ROW``: per anchor the candidate completing EARLIEST (ties to the
  smaller repetition count) wins — the streaming twin of
  ``match_recognize_reluctant_lazy``'s batch compile;
- ``no_skip``: every anchor's candidate emits, the horizon never moves;
- ``skip_to``: Flink's SKIP_TO_FIRST/SKIP_TO_LAST on plain chains (one
  event binds per variable, so FIRST ≡ LAST) — survivors have their
  anchor AT-or-past the horizon, which is the bound entry of step
  ``skip_step``; the streaming twin of
  ``operators/sequence.py:after_match_skip_to_first``.

It uses the recompute-over-buffer pattern (the budget-run twin's
construction): per key, buffer the classified rows inside the
reachability horizon and re-derive the candidates VECTORIZED-ish on
every invoke; the skip replay itself is then a SEQUENTIAL horizon walk
that must observe candidates in completion order — the part that makes
these folds non-trivial on a stream. Decidability: every MATCHED
candidate satisfies ``end ≤ t1 + H`` (H = the spec's total within
budget: Σ withins + Σ mx·gap over the chain's greedy runs; a reluctant
run adds only its mx·gap), and any future anchor has ``t1 ≥ wm − H`` —
so once ``end + H < wm`` STRICTLY, no yet-unknown candidate can precede
``end`` in completion order and the replay prefix is final. State
beyond the row buffer is three scalars: the skip horizon pair and the
last-processed completion key (exactly-once: re-derived candidates at
or before it are skipped). Rows evict at ``ts < wm − 2H`` — processed
candidates reach back at most H from their end, ends still pending are
above ``wm − H``, and run/availability lookups are FORWARD-only from
the entry, so truncation never changes a pending candidate.

Scale: one keyed exchange through ``pattern._keyed_state_apply`` (hash
buckets; each member key replays against its own state), per-key state
= row density × 2H, per invoke O(buffer log buffer + candidates); the
replay loop is candidate-sized. Reference: Flink CEP
AfterMatchSkipStrategy (SKIP_TO_FIRST/SKIP_TO_LAST/SKIP_PAST_LAST_EVENT),
the Pattern API family of OrderPayTimeout.java:52-64.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from flink_uba_spark.streaming.pattern import _gap_session_last, _next_watermark_ms

_NULL = -(1 << 62)

# ALL ROWS PER MATCH on the replay family (round 12 — VERDICT r11 item
# 3): one row per BOUND EVENT; ``var`` (CLASSIFIER) is attached by the
# front-end from ``seq`` — a compile-time constant per step
ALL_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("anchor_id", T.LongType()),
        # non-nullable: the batch explode's seq is F.lit(k) — schema
        # parity on the ALL-ROWS shape requires it here too
        T.StructField("seq", T.LongType(), nullable=False),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _agg_val(func: str, n_off: int, sl) -> float | None:
    """One aggregate over a run's value slice (float64, NaN = SQL null).
    sum/avg/min/max skip nulls (Spark's aggregate rule; all-null → null);
    first/last are ISO logical navigation with offset (past-the-run or a
    null value → null)."""
    if func in ("first", "last"):
        idx = n_off if func == "first" else len(sl) - 1 - n_off
        if idx < 0 or idx >= len(sl):
            return None
        v = float(sl[idx])
        return None if np.isnan(v) else v
    good = sl[~np.isnan(sl)]
    if func == "cnt":
        # non-null value count (avg's denominator — F.avg skips nulls)
        return float(len(good))
    if not len(good):
        return None
    if func == "sum":
        return float(good.sum())
    if func == "avg":
        return float(good.mean())
    if func == "min":
        return float(good.min())
    return float(good.max())


def _order_and_pos(ts, ids, mask, n_flags):
    """(ts, rank, id) total order (rank = earliest set flag's 2k−1 slot)
    → sorted arrays + positions + the sort permutation (round 12: the
    permutation lets value columns ride along without re-sorting)."""
    rank = np.full(len(ts), 2 * n_flags + 1, dtype="int64")
    for k in range(n_flags, 0, -1):
        rank = np.where((mask >> (k - 1)) & 1 == 1, 2 * k - 1, rank)
    order = np.lexsort((ids, rank, ts))
    return ts[order], ids[order], mask[order], rank[order], order


def _bind_next(st_ts, st_id, st_pos, prev_ts, prev_pos):
    """Earliest (ts, id) row strictly after position prev_pos; −1 if
    none. Linear only over the prev_ts tie group (the engine family's
    min-of-struct over the strictly-after frame)."""
    j = int(np.searchsorted(st_ts, prev_ts, side="left"))
    while j < len(st_ts) and st_ts[j] == prev_ts:
        if st_pos[j] > prev_pos:
            return j
        j += 1
    return j if j < len(st_ts) else -1


def quantified_chain_output_schema(
    n_steps: int, quant: set[int],
    agg_fields: list[tuple[str, bool]] | None = None,
) -> T.StructType:
    """``agg_fields`` (round 12): one extra column per value-aggregate
    MEASURE — ``(name, integral)``; integral aggregates emit LongType
    (exact for |v| < 2^53 — the float64 state carrier's envelope),
    others DoubleType."""
    fields = [
        T.StructField("user_id", T.LongType()),
        T.StructField("anchor_id", T.LongType()),
    ]
    for k in range(1, n_steps + 1):
        fields.append(T.StructField(f"t{k}", T.TimestampType()))
        if k in quant:
            fields.append(T.StructField(f"t{k}_last", T.TimestampType()))
            fields.append(T.StructField(f"n{k}", T.LongType()))
    fields.append(T.StructField("end_id", T.LongType()))
    for name, integral in agg_fields or ():
        fields.append(
            T.StructField(name, T.LongType() if integral else T.DoubleType())
        )
    return T.StructType(fields)


def make_quantified_chain_replayer(n: int, withins_us: list, kleenes: list,
                                   h_us: int,
                                   within_overall_us: int | None = None,
                                   optionals: set[int] | None = None,
                                   mode: str = "past_last",
                                   all_rows: bool = False,
                                   n_vals: int = 0,
                                   aggs: list[tuple] | None = None,
                                   skip_step: int | None = None):
    """The chain replayer (see module docstring): skip-till-next chains
    in which any step past the anchor may be a capped GREEDY run
    (``kleenes[k-1] = (gap_us, mn, mx)``, finite mx), at ANY position.

    Per step the binding is the batch single-plan rule: a plain step
    binds the earliest (ts, id) row strictly after the frontier; a
    quantified step binds the earliest admissible ENTRY whose gap-linked
    session holds ≥ mn repetitions, takes ``cnt = min(avail, mx)`` reps,
    and moves the frontier to the run's LAST repetition (skip-till-next
    continues from there). Transition withins classify entry rows from
    the previous frontier (a violating bind is ``matched_late`` and
    never emits under skip). ``within_overall`` prunes candidates whose
    END (the last step's bind, or its run-last) exceeds the anchor
    bound BEFORE the fold — pruned candidates never advance the
    horizon, the batch compile's rule.

    A RELUCTANT step (``kleenes[k-1] = (gap_us, mn, mx, True)``, at most
    one per chain) is walked once per count m in mn..mx: its entry is
    the earliest admissible entry whose gap run holds ≥ m rows, it takes
    exactly m repetitions, and the rest of the chain is walked from the
    m-th. The anchor keeps the count whose candidate has the smallest
    ``(end_ts, end_id, m)`` — the lazy preference (earliest completion,
    then fewest repetitions); ``within_overall`` prunes each count
    before that pick.

    Decidability is the family contract applied PER quantified step:
    every candidate end sits ≤ t1 + H (Σ withins + Σ mx·gap; a
    reluctant step adds its mx·gap only); once ``end + H < wm`` strictly,
    every involved run is gap-closed (any extending row would sit ≥ wm
    > run_last + gap, since each run_last ≤ end) and each entry choice
    is final (an earlier admissible entry's session would have closed
    strictly earlier), so candidates below the cut form a final
    completion-order prefix.

    ``optionals`` (round 11 second pass — the last in-NFA-fold cell):
    interior OPTIONAL steps take the engines' greedy race — the step
    binds unless the earliest candidate of the NEXT step strictly
    precedes its own earliest candidate in (ts, position) order (a tie,
    the same row serving both steps, takes); a skipped optional leaves
    the frontier unchanged, emits a null t{k}, and the next step's
    within classifies from the pre-optional frontier (the batch
    fall-through rule).

    Modes and output shapes:

    - ``mode="past_last"`` (SKIP PAST LAST) — a survivor's anchor sits
      STRICTLY past the horizon, and its END becomes the horizon.
    - ``mode="skip_to"`` (SKIP TO FIRST/LAST ``skip_step``) — a
      survivor's anchor sits AT-or-past the horizon, and the bound
      entry of step ``skip_step`` becomes the horizon.
    - ``mode="no_skip"`` — every anchor's candidate emits (the NO SKIP
      strategy): the horizon never advances and ``survives`` is always
      true. The decidability cut and the last-processed exactly-once
      walk are unchanged — emitted candidates still form a final
      completion-order prefix (any yet-unknown candidate's end sits
      ≥ wm − H, strictly after every emitted end under the cut).
    - ``all_rows=True`` — ALL ROWS PER MATCH: instead of the ONE-row
      shape, emit one row per BOUND EVENT (``ALL_ROWS_SCHEMA``); a
      quantified step enumerates its whole run — the replayer holds
      the run's member rows (leg slice ``j..j+cnt−1``), so no band
      join is needed, unlike batch.
    - ``n_vals``/``aggs`` — value-aggregate MEASURES: ``n_vals`` value
      columns (``v0..``, float64, NaN = null) ride the buffer (a fifth
      state field, row-major); each ``aggs`` entry
      ``(k, vi, func, n_off, name, integral)`` emits one extra output
      column = ``func`` over step k's bound rows' ``vi``-th value —
      exact run membership, the batch band join's stream twin."""
    opts = set(optionals or ())
    if mode not in ("past_last", "no_skip", "skip_to"):
        raise ValueError("mode: past_last | no_skip | skip_to")
    if mode == "skip_to" and not (skip_step and 2 <= skip_step <= n):
        raise ValueError(f"skip_step must be in [2, {n}]")
    if mode == "skip_to" and skip_step in opts:
        raise ValueError("the SKIP TO step cannot be optional")
    if all_rows and aggs:
        raise ValueError("ALL ROWS and aggregate MEASURES are exclusive")
    aggs = list(aggs or ())
    rel = [k for k, q in enumerate(kleenes, 1) if q and q[3:4] == (True,)]
    if len(rel) > 1:
        raise ValueError("at most one reluctant step per chain")
    # per-anchor count loop: the reluctant step's counts, else one walk
    counts = range(kleenes[rel[0] - 1][1], kleenes[rel[0] - 1][2] + 1) if rel else (0,)

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        timed_out = getattr(state, "hasTimedOut", False)
        chunks = [] if timed_out else [c for c in pdfs if len(c)]
        wm_us = state.getCurrentWatermarkMs() * 1000

        if state.exists:
            # the row buffer (ts µs, event id, step bitmask), ctrl =
            # [h_ts, h_id, lp_end_ts, lp_end_id, lp_t1, lp_anchor], and
            # only when value columns are declared the row-major float64
            # value matrix (n_vals per buffered row, NaN = null)
            got = state.get
            ts, ids, mask, ctrl = (
                np.asarray(f, dtype="int64") for f in got[:4]
            )
            ctrl = list(ctrl)
            vals = (
                np.asarray(got[4], dtype="float64").reshape(-1, n_vals)
                if n_vals else np.empty((len(ts), 0))
            )
        else:
            ts = ids = mask = np.empty(0, dtype="int64")
            ctrl = [_NULL] * 6
            vals = np.empty((0, n_vals))
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            ts = np.concatenate(
                [ts, pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()]
            )
            ids = np.concatenate([ids, pdf["event_id"].to_numpy().astype("int64")])
            m = np.zeros(len(pdf), dtype="int64")
            for k in range(1, n + 1):
                m |= pdf[f"f{k}"].to_numpy().astype("int64") << (k - 1)
            mask = np.concatenate([mask, m])
            if n_vals:
                vals = np.concatenate(
                    [
                        vals,
                        np.stack(
                            [
                                pdf[f"v{i}"].to_numpy(dtype="float64",
                                                      na_value=np.nan)
                                for i in range(n_vals)
                            ],
                            axis=1,
                        ),
                    ]
                )

        out = None
        if len(ts):
            s_ts, s_id, s_mask, _rank, _ord = _order_and_pos(ts, ids, mask, n)
            s_vals = vals[_ord] if n_vals else None
            pos = np.arange(len(s_ts))
            legs, avails, leg_vals = [], [], []
            for k in range(1, n + 1):
                sel = np.nonzero((s_mask >> (k - 1)) & 1)[0]
                sel = sel[np.lexsort((s_id[sel], s_ts[sel]))]
                legs.append((s_ts[sel], s_id[sel], pos[sel]))
                leg_vals.append(s_vals[sel] if n_vals else None)
                if kleenes[k - 1] is not None:
                    # forward availability: reps from each row to the end
                    # of its gap session
                    avails.append(
                        _gap_session_last(s_ts[sel], kleenes[k - 1][0])
                        - np.arange(len(sel)) + 1
                    )
                else:
                    avails.append(None)

            def _cand(k, p_ts, p_pos, m):
                """Earliest candidate of step k strictly after the
                frontier — a plain step's next row, or a quantified
                step's earliest admissible entry (avail >= mn; >= m for
                the reluctant step). Returns (leg index, ts, timeline
                position) or None."""
                lt, li, lp = legs[k - 1]
                if kleenes[k - 1] is None:
                    j = _bind_next(lt, li, lp, p_ts, p_pos)
                    return None if j < 0 else (j, int(lt[j]), int(lp[j]))
                need = m if k in rel else kleenes[k - 1][1]
                avail = avails[k - 1]
                j = int(np.searchsorted(lt, p_ts, side="left"))
                while j < len(lt) and (
                    (lt[j] == p_ts and lp[j] <= p_pos) or avail[j] < need
                ):
                    j += 1
                return None if j >= len(lt) else (j, int(lt[j]), int(lp[j]))

            def _walk(ai, m):
                """The anchor's chain with the reluctant step (if any)
                taking m reps; None if it does not complete in time.
                Per step: (entry_ts, entry_id, last_ts, last_id, cnt,
                leg_j) — plain steps carry cnt 0 and entry == last; a
                skipped optional carries None entries (null t{k});
                leg_j indexes the step's leg arrays (run slice
                j..j+cnt−1 — the ALL ROWS / value-aggregate member set)."""
                rec = [
                    (int(a_ts[ai]), int(a_id[ai]),
                     int(a_ts[ai]), int(a_id[ai]), 0, ai)
                ]
                p_ts, p_pos = int(a_ts[ai]), int(a_pos[ai])
                for k in range(2, n + 1):
                    c = _cand(k, p_ts, p_pos, m)
                    if k in opts:
                        # the greedy race: skip iff the next step's
                        # earliest candidate STRICTLY precedes this
                        # step's (timeline positions are (ts, rank, id)
                        # total-order indexes; a tie — the same row
                        # serving both — takes)
                        nxt = _cand(k + 1, p_ts, p_pos, m)
                        if c is None or (
                            nxt is not None and nxt[2] < c[2]
                        ):
                            rec.append((None, None, None, None, 0, -1))
                            continue  # frontier unchanged — fall through
                    if c is None:
                        return None
                    j, c_ts, c_pos = c
                    if (
                        withins_us[k - 1] is not None
                        and c_ts > p_ts + withins_us[k - 1]
                    ):
                        return None  # matched_late never emits under skip
                    lt, li, lp = legs[k - 1]
                    if kleenes[k - 1] is None:
                        rec.append((c_ts, int(li[j]), c_ts, int(li[j]), 0, j))
                        p_ts, p_pos = c_ts, c_pos
                    else:
                        cnt = m if k in rel else int(
                            min(avails[k - 1][j], kleenes[k - 1][2])
                        )
                        last = j + cnt - 1
                        rec.append(
                            (c_ts, int(li[j]),
                             int(lt[last]), int(li[last]), cnt, j)
                        )
                        p_ts, p_pos = int(lt[last]), int(lp[last])
                return rec

            cands = []
            a_ts, a_id, a_pos = legs[0]
            for ai in range(len(a_ts)):
                best = None
                for m in counts:
                    rec = _walk(ai, m)
                    if rec is None:
                        continue
                    end_ts, end_id = rec[n - 1][2], rec[n - 1][3]
                    if (
                        within_overall_us is not None
                        and end_ts > rec[0][0] + within_overall_us
                    ):
                        continue  # not a match — prunes BEFORE the fold
                    if best is None or (end_ts, end_id, m) < best[0]:
                        best = ((end_ts, end_id, m), rec)
                if best is not None:
                    cands.append((best[1], *best[0][:2]))
            cands.sort(key=lambda c: (c[1], c[2], c[0][0][0], c[0][0][1]))
            rows = []
            h_ts, h_id = ctrl[0], ctrl[1]
            lp_key = tuple(ctrl[2:6])
            for rec, end_ts, end_id in cands:
                ckey = (end_ts, end_id, rec[0][0], rec[0][1])
                if end_ts + h_us >= wm_us:
                    break
                if lp_key[0] != _NULL and ckey <= lp_key:
                    continue
                lp_key = ckey
                anchor = (rec[0][0], rec[0][1])
                if mode == "no_skip" or h_ts == _NULL or (
                    anchor >= (h_ts, h_id) if mode == "skip_to"
                    else anchor > (h_ts, h_id)
                ):
                    if all_rows:
                        # one row per bound event; a quantified step's
                        # run is the leg slice j..j+cnt−1 (skipped
                        # optionals contribute nothing)
                        for k in range(1, n + 1):
                            e = rec[k - 1]
                            if e[0] is None:
                                continue
                            lt_k, li_k, _lp_k = legs[k - 1]
                            lj, cnt = e[5], max(e[4], 1)
                            rows.extend(
                                {
                                    "user_id": key[0],
                                    "anchor_id": rec[0][1],
                                    "seq": k,
                                    "event_id": int(li_k[lj + r]),
                                    "ts": int(lt_k[lj + r]),
                                }
                                for r in range(cnt)
                            )
                    else:
                        row = {"user_id": key[0], "anchor_id": rec[0][1]}
                        for k in range(1, n + 1):
                            row[f"t{k}"] = rec[k - 1][0]
                            if kleenes[k - 1] is not None:
                                row[f"t{k}_last"] = rec[k - 1][2]
                                row[f"n{k}"] = rec[k - 1][4]
                        row["end_id"] = end_id
                        for k, vi, func, n_off, name, _intg in aggs:
                            e = rec[k - 1]
                            if e[0] is None:
                                row[name] = None
                                continue
                            lj, cnt = e[5], max(e[4], 1)
                            row[name] = _agg_val(
                                func, n_off,
                                leg_vals[k - 1][lj:lj + cnt, vi],
                            )
                        rows.append(row)
                    if mode != "no_skip":
                        # past_last: the END (the last step's run-last);
                        # skip_to: step skip_step's bound entry
                        sp = (
                            (end_ts, end_id) if mode == "past_last"
                            else rec[skip_step - 1][:2]
                        )
                        if h_ts == _NULL or sp > (h_ts, h_id):
                            h_ts, h_id = sp
            ctrl = [h_ts, h_id, *lp_key]
            if rows:
                out = pd.DataFrame(rows)
                if all_rows:
                    out["ts"] = pd.to_datetime(out["ts"], unit="us")
                else:
                    for k in range(1, n + 1):
                        out[f"t{k}"] = pd.to_datetime(out[f"t{k}"], unit="us")
                        if kleenes[k - 1] is not None:
                            out[f"t{k}_last"] = pd.to_datetime(
                                out[f"t{k}_last"], unit="us"
                            )
                    for _k, _vi, _fn, _no, name, integral in aggs:
                        if integral:
                            out[name] = pd.array(
                                [
                                    None if pd.isna(v) else int(round(v))
                                    for v in out[name]
                                ],
                                dtype="Int64",
                            )
                        else:
                            out[name] = pd.array(out[name], dtype="Float64")
            keep = s_ts >= wm_us - 2 * h_us
            ts, ids, mask = s_ts[keep], s_id[keep], s_mask[keep]
            if n_vals:
                vals = s_vals[keep]

        if len(ts) or ctrl[0] != _NULL or ctrl[2] != _NULL:
            state.update(
                (ts.tolist(), ids.tolist(), mask.tolist(),
                 [int(x) for x in ctrl])
                + ((vals.reshape(-1).tolist(),) if n_vals else ())
            )
            if len(ts):
                state.setTimeoutTimestamp(_next_watermark_ms(wm_us // 1000))
        elif state.exists:
            state.remove()
        if out is not None:
            yield out

    return detect


def stream_quantified_chain_detect(
    events: DataFrame,
    key: str,
    steps: list[tuple],
    event_id: str = "event_id",
    ts: str = "ts",
    watermark_delay: str = "0 seconds",
    within_overall: str | None = None,
    optional: set[int] | None = None,
    mode: str = "past_last",
    all_rows: bool = False,
    values: dict[str, Column] | None = None,
    aggs: list[tuple] | None = None,
    skip_step: int | None = None,
) -> DataFrame:
    """Wire the chain replay: ``steps`` entries are ``(pred, within)``
    (plain), ``(pred, within, (mn, mx))`` (capped greedy run, ANY
    position past the first) or ``(pred, within, (mn, mx), "reluctant")``
    (capped reluctant run, at most one — the lazy fold under
    ``past_last``). Finite caps and finite withins are mandatory: the
    replay horizon is Σ within + Σ mx·gap over plain and greedy steps,
    and mx·gap for the reluctant step (its within is its gap).
    ``optional`` marks interior plain steps with the engines'
    greedy-race single-match semantics.

    ``mode`` picks the AFTER MATCH strategy: ``"past_last"`` (SKIP PAST
    LAST ROW), ``"skip_to"`` with ``skip_step`` (SKIP TO FIRST/LAST of
    that step's variable) or ``"no_skip"`` (every anchor's candidate
    emits). ``within_overall`` prunes candidates whose end exceeds the
    anchor bound BEFORE the fold. ``all_rows=True`` emits per-BOUND-EVENT rows
    (``ALL_ROWS_SCHEMA``); ``values`` declares named value Columns that
    ride the buffer (cast to double; the state gains a value field) and
    ``aggs`` entries ``(k, value_name, func, n_offset,
    out_name, integral)`` emit one aggregate column each over step k's
    bound rows — see ``make_quantified_chain_replayer``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from flink_uba_spark.streaming.pattern import (
        _interval_us,
        _keyed_input,
        _keyed_state_apply,
        _pred,
    )

    n = len(steps)
    if n < 2:
        raise ValueError("need at least 2 steps")
    if len(steps[0]) > 2 and steps[0][2] is not None:
        raise ValueError("the first step (the anchor) must be plain")
    opts = set(optional or ())
    if any(k <= 1 or k >= n for k in opts):
        raise ValueError("optional steps must be interior (2..n-1)")
    if any(k + 1 in opts for k in opts):
        raise ValueError("two consecutive optional steps are not supported")
    if any(len(steps[k - 1]) > 2 and steps[k - 1][2] is not None for k in opts):
        raise ValueError("an optional step cannot be a Kleene/times step")
    withins_us = [None] + [
        None if s[1] is None else _interval_us(s[1]) for s in steps[1:]
    ]
    if any(w is None for w in withins_us[1:]):
        raise ValueError(
            "the streaming quantified-chain replay needs a FINITE within "
            "on every transition (their sum bounds the replay horizon)"
        )
    kleenes: list = []
    for k, s in enumerate(steps, 1):
        if len(s) <= 2 or s[2] is None:
            kleenes.append(None)
            continue
        mn, mx = s[2]
        if mx == float("inf"):
            raise ValueError(
                "the streaming quantified-chain replay needs FINITE caps "
                "(mx*gap is part of the replay horizon)"
            )
        mn, mx = int(mn), int(mx)
        if mn < 1 or mx < mn:
            raise ValueError("need 1 <= mn <= mx")
        kleenes.append((withins_us[k - 1], mn, mx, s[3:4] == ("reluctant",)))
    # H is pinned per route by its twins' oracles (they cut their tails
    # at end + H < wm): plain steps add their within, a greedy run its
    # entry within and mx·gap (one gap looser than the bound needs), a
    # reluctant run only mx·gap (the lazy twin's mx·gap + suffix, 60 h).
    h_us = sum(
        w for w, q in zip(withins_us[1:], kleenes[1:]) if not (q and q[3])
    ) + sum(q[2] * q[0] for q in kleenes if q is not None)
    if all_rows and (values or aggs):
        raise ValueError("ALL ROWS and aggregate MEASURES are exclusive")
    values = dict(values or {})
    val_ix = {nm: i for i, nm in enumerate(values)}
    raggs = []
    agg_fields: list[tuple[str, bool]] = []
    for k, val_name, func, n_off, out_name, integral in aggs or ():
        if not 1 <= k <= n:
            raise ValueError(f"agg step {k} out of range 1..{n}")
        if val_name not in val_ix:
            raise ValueError(f"agg references undeclared value {val_name!r}")
        raggs.append((k, val_ix[val_name], func, n_off, out_name, integral))
        agg_fields.append((out_name, integral))
    flags = {f"f{k}": _pred(s[0]) for k, s in enumerate(steps, 1)}
    extra = {
        f"v{i}": c.cast("double") for i, c in enumerate(values.values())
    }
    filtered = _keyed_input(events, key, flags, event_id, ts,
                            watermark_delay=watermark_delay, extra=extra)
    wo_us = None if within_overall is None else _interval_us(within_overall)
    quant = {k for k in range(1, n + 1) if kleenes[k - 1] is not None}
    return _keyed_state_apply(
        filtered,
        make_quantified_chain_replayer(
            n, withins_us, kleenes, h_us, within_overall_us=wo_us,
            optionals=opts, mode=mode, all_rows=all_rows,
            n_vals=len(values), aggs=raggs, skip_step=skip_step,
        ),
        ALL_ROWS_SCHEMA if all_rows
        else quantified_chain_output_schema(n, quant, agg_fields),
        GroupStateTimeout.EventTimeTimeout,
    )

