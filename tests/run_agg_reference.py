"""``operators/match_recognize._attach_run_aggregates`` as it ran before
the single-reference rewrite, kept as the reference for it.

It reads the match set once per RunAgg variable (and once per SUBSET
member): each member's rows come from their own band join back to the
input, one hash aggregate per variable computes its measures, and a left
join on ``(key, anchor_id)`` carries them back onto the matches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_uba_spark.operators.match_recognize import RunAgg, _group_pred_within


def attach_run_aggregates(
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
    """Join each RunAgg's value onto the ONE-row matches as
    ``__ra_<name>``. The run's member rows are recovered by the same
    band join the ALL-ROWS route uses — membership is exactly
    ``(ts, id) >= entry``, ``ts <= run_last``, ``row_number <= n{k}``
    (run-length fan-out, no cross-key work) — then ONE hash aggregate
    per variable computes every aggregate over it and an anchor-keyed
    join carries them back (match-sized, not event-sized). ``subset``
    maps a UNION variable name (ISO's SUBSET clause) to its member
    pattern variables: aggregates over it run on the union of the
    members' bound rows (plain members one row each, quantified members
    their run, skipped optionals nothing)."""
    subset = subset or {}
    by_var: dict[str, dict[str, RunAgg]] = {}
    for nm, spec in run_aggs.items():
        by_var.setdefault(spec.var, {})[nm] = spec
    step_of = {var: k for k, (var, _q) in enumerate(parsed, start=1)
               if not isinstance(var, tuple)}
    group_of = {
        "_".join(var): (k, var)
        for k, (var, q) in enumerate(parsed, start=1)
        if isinstance(var, tuple) and q is not None and q[0] == "kleene"
    }

    def _quantified_rows(k: int, pred: Column, val_cols: dict) -> DataFrame:
        """Per-match run-member rows of quantified step k — the ALL-ROWS
        band join: (ts, id) >= entry, ts <= run_last, row_number <= n.
        ``pred`` is the step's admission predicate (a plain variable's
        DEFINE, or the OR of a quantified GROUP's members)."""
        m = out.filter(F.col(f"t{k}").isNotNull()).select(
            F.col(partition_by).alias("__mk"),
            F.col("anchor_id"),
            F.col(f"t{k}").alias("__t0"),
            F.col(f"i{k}").alias("__i0"),
            F.col(f"t{k}_last").alias("__tl"),
            F.col(f"n{k}").alias("__n"),
        )
        leg = events.filter(pred).select(
            F.col(partition_by).alias("__ek"),
            F.col(event_id).alias("__eid"),
            F.col(order_by).alias("__ets"),
            *[c.alias(nm) for nm, c in val_cols.items()],
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
        return (
            j.withColumn("__rn", F.row_number().over(wr))
            .filter(F.col("__rn") <= F.col("__n"))
            .select("__mk", "anchor_id", "__ets", "__eid",
                    *list(val_cols))
        )

    def _plain_rows(k: int, val_cols: dict) -> DataFrame:
        """Per-match bound row of plain/optional step k (skipped optional
        steps contribute nothing, per ISO's unbound-variable rule) —
        an id-equi join back to the input carries the value columns."""
        m = out.filter(F.col(f"t{k}").isNotNull()).select(
            F.col(partition_by).alias("__mk"),
            F.col("anchor_id"),
            F.col(f"i{k}").alias("__bid"),
        )
        leg = events.select(
            F.col(partition_by).alias("__ek"),
            F.col(event_id).alias("__eid"),
            F.col(order_by).alias("__ets"),
            *[c.alias(nm) for nm, c in val_cols.items()],
        )
        return m.join(
            leg,
            (F.col("__mk") == F.col("__ek"))
            & (F.col("__bid") == F.col("__eid")),
        ).select("__mk", "anchor_id", "__ets", "__eid", *list(val_cols))

    for var, specs in by_var.items():
        val_cols = {}
        for nm, spec in specs.items():
            if spec.col is not None:
                c = F.col(spec.col) if isinstance(spec.col, str) else spec.col
                val_cols[f"__v_{nm}"] = c
        if var in subset:
            # SUBSET union variable (round 9 second pass, ISO 9075-2
            # <row pattern subset clause>): its rows are the UNION of the
            # members' bound rows in (ts, id) row order — quantified
            # members contribute their whole run, plain members their
            # bound row, skipped optionals nothing
            run_rows = None
            for member in subset[var]:
                mk = step_of[member]
                mq = parsed[mk - 1][1]
                part = (
                    _quantified_rows(mk, define[member], val_cols)
                    if mq is not None and mq[0] == "kleene"
                    else _plain_rows(mk, val_cols)
                )
                run_rows = part if run_rows is None else run_rows.unionByName(part)
        elif var in group_of:
            # quantified GROUP run (round 9 second pass): the run's
            # admission predicate is the OR of the members' DEFINEs —
            # the same OR-Kleene step the single-plan compile built
            k, members = group_of[var]
            pred, _w = _group_pred_within(
                members, define, withins_map, default_within_val
            )
            run_rows = _quantified_rows(k, pred, val_cols)
        else:
            k = step_of.get(var)
            q = parsed[k - 1][1] if k else None
            if k is None or q is None or q[0] != "kleene":
                raise ValueError(
                    f"RunAgg navigates a GREEDY-quantified variable's run, "
                    f"a quantified GROUP's run, or a SUBSET union "
                    f"variable; {var!r} is none of these (plain variables "
                    "project their bound row's columns directly; "
                    "reluctant runs multi-match and keep per-count rows)"
                )
            run_rows = _quantified_rows(k, define[var], val_cols)
        agg_exprs = []
        for nm, spec in specs.items():
            v = F.col(f"__v_{nm}") if spec.col is not None else None
            if spec.func == "sum":
                e = F.sum(v)
            elif spec.func == "count":
                e = F.count(v if v is not None else F.lit(1))
            elif spec.func == "avg":
                e = F.avg(v)
            elif spec.func == "min":
                e = F.min(v)
            elif spec.func == "max":
                e = F.max(v)
            else:  # first / last — ISO logical navigation with offset
                arr = F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("__ets").alias("t"),
                            F.col("__eid").alias("i"),
                            v.alias("v"),
                        )
                    ),
                    asc=(spec.func == "first"),
                )
                e = F.get(arr, spec.n)["v"]
            agg_exprs.append(e.alias(f"__ra_{nm}"))
        aggs = (
            run_rows.groupBy("__mk", "anchor_id")
            .agg(*agg_exprs)
            .withColumnRenamed("__mk", partition_by)
        )
        out = out.join(aggs, on=[partition_by, "anchor_id"], how="left")
    return out
