"""Scale probe: run headline queries at sf0.1 and at a synthetic 10× of it,
to verify wall-clock grows sub-linearly-to-linearly (no quadratic plan).

Builds /tmp/spark_graft_scale10/{events,documents,embeddings}.parquet as 10
shifted copies of sf0.1 (ids offset; event times jittered) — perf probing
only, not correctness data. Usage: python tools/scale_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

# the repository this tool belongs to, wherever it is checked out
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

BASE = "/root/testdata/sf0.1"
SCALE_DIR = "/tmp/spark_graft_scale10"
COPIES = 10

QUERIES = [
    "hot_items",
    "user_sessions",
    "order_timeout_states",
    "attribution_interval_join",
    "daily_active_users",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "embedding_near_dup_lsh",
    "embedding_cosine_topk",
    "embedding_ivf_topk",
    "user_funnel",
    "asof_last_click",
    "purchases_in_signup_windows",
    "dedup_clusters",
    "text_pii_scrub",
    "daily_event_type_pivot",
    "rolling_7d_purchase_value",
    "decontam_ngram_overlap",
    "text_repetition_signals",
    "pack_training_sequences",
    "doc_chunks_overlap",
    "bm25_keyword_search",
]


def build(spark) -> None:
    from pyspark.sql import functions as F

    from flink_uba_spark.sources.readers import load_testdata

    os.makedirs(SCALE_DIR, exist_ok=True)
    t = load_testdata(spark, BASE, ("events", "documents", "embeddings"))

    ev = None
    for i in range(COPIES):
        c = (
            t["events"]
            .withColumn("event_id", F.col("event_id") + i * 10_000_000)
            .withColumn("user_id", F.col("user_id") + (i % 3) * 10_000)
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * 17} SECONDS"))
        )
        ev = c if ev is None else ev.unionByName(c)
    ev.repartition(32).write.mode("overwrite").parquet(f"{SCALE_DIR}/events.parquet")

    docs = None
    for i in range(COPIES):
        c = t["documents"].withColumn("doc_id", F.col("doc_id") + i * 1_000_000)
        docs = c if docs is None else docs.unionByName(c)
    docs.repartition(32).write.mode("overwrite").parquet(f"{SCALE_DIR}/documents.parquet")

    embs = None
    for i in range(COPIES):
        c = t["embeddings"].withColumn("vec_id", F.col("vec_id") + i * 1_000_000)
        embs = c if embs is None else embs.unionByName(c)
    embs.repartition(32).write.mode("overwrite").parquet(f"{SCALE_DIR}/embeddings.parquet")
    build_orders(spark)


def build_orders(spark) -> None:
    """Orders at 10× (added round 4 for the orders-based probes; built
    incrementally so existing scale dirs just gain the table)."""
    from pyspark.sql import functions as F

    from flink_uba_spark.sources.readers import load_testdata

    if os.path.exists(f"{SCALE_DIR}/orders.parquet"):
        return
    o = load_testdata(spark, BASE, ("orders",))["orders"]
    out = None
    for i in range(COPIES):
        c = o.withColumn("o_orderkey", F.col("o_orderkey") + i * 100_000_000)
        out = c if out is None else out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(f"{SCALE_DIR}/orders.parquet")


def build_const(spark, factor: int, out_dir: str) -> None:
    """Constant-dup-structure scale-up: ``factor`` copies where each copy is
    a DISJOINT world — fresh user ids (per-user event structure held
    constant) and per-copy token salting of document text (every 3-gram
    shingle of copy i contains the copy marker, so near-dup groups never
    merge across copies; within-copy dup structure is preserved verbatim).

    This is the control for the output-growth-class queries: the plain
    ``build`` multiplies dup-group sizes / per-user densities with the
    factor (pair outputs grow superlinearly BY CONSTRUCTION), while this
    build holds group structure constant — a linear-plan query must probe
    ~linear here, so a superlinear ratio would expose a real plan defect
    rather than output growth."""
    from pyspark.sql import functions as F

    from flink_uba_spark.sources.readers import load_testdata

    os.makedirs(out_dir, exist_ok=True)
    t = load_testdata(spark, BASE, ("events", "documents", "embeddings"))

    ev = None
    for i in range(factor):
        c = (
            t["events"]
            .withColumn("event_id", F.col("event_id") + i * 100_000_000)
            .withColumn("user_id", F.col("user_id") + i * 10_000_000)
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * 13} SECONDS"))
        )
        ev = c if ev is None else ev.unionByName(c)
    ev.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    docs = None
    for i in range(factor):
        c = (
            t["documents"]
            .withColumn("doc_id", F.col("doc_id") + i * 10_000_000)
            # interleave a per-copy marker token between every pair of
            # words: all word-3-grams of copy i contain x<i>, so cross-copy
            # jaccard ~ 0 while same-copy duplicates stay duplicates
            .withColumn("text", F.regexp_replace(F.col("text"), " ", f" x{i} "))
        )
        docs = c if docs is None else docs.unionByName(c)
    docs.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    embs = None
    for i in range(factor):
        c = t["embeddings"].withColumn("vec_id", F.col("vec_id") + i * 10_000_000)
        embs = c if embs is None else embs.unionByName(c)
    embs.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def main() -> None:
    import __spark_entry__ as entrymod
    from flink_uba_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    args = sys.argv[1:]
    if args and args[0].startswith("--const"):
        factor = int(args[0][len("--const"):] or "100")
        const_dir = f"/tmp/spark_graft_scale{factor}c"
        if not os.path.exists(f"{const_dir}/_done"):
            build_const(spark, factor, const_dir)
            open(f"{const_dir}/_done", "w").close()
        qs = entrymod.queries()
        out = {}
        for name in args[1:]:
            qs[name](spark, BASE).write.format("noop").mode("overwrite").save()
            times = {}
            for label, d in [("1x", BASE), (f"{factor}x", const_dir)]:
                t0 = time.time()
                qs[name](spark, d).write.format("noop").mode("overwrite").save()
                times[label] = round(time.time() - t0, 2)
            times["ratio"] = round(times[f"{factor}x"] / max(times["1x"], 1e-9), 1)
            times["ratio_per_x"] = round(times["ratio"] / factor, 3)
            out[name] = times
            print(
                f"# {name}: 1x={times['1x']}s {factor}x={times[f'{factor}x']}s "
                f"ratio={times['ratio']} (linear would be ~{factor})",
                file=sys.stderr,
            )
        print(json.dumps(out))
        return

    if not os.path.exists(f"{SCALE_DIR}/events.parquet"):
        build(spark)
    build_orders(spark)
    # warm
    spark.read.parquet(f"{BASE}/region.parquet").count()
    spark.range(256).repartition(32).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    qs = entrymod.queries()
    names = sys.argv[1:] or QUERIES
    out = {}
    for name in names:
        # warm this query's codegen/plan shape before measuring
        qs[name](spark, BASE).write.format("noop").mode("overwrite").save()
        times = {}
        for label, d in [("1x", BASE), ("10x", SCALE_DIR)]:
            t0 = time.time()
            qs[name](spark, d).write.format("noop").mode("overwrite").save()
            times[label] = round(time.time() - t0, 2)
        times["ratio"] = round(times["10x"] / max(times["1x"], 1e-9), 1)
        out[name] = times
        print(f"# {name}: 1x={times['1x']}s 10x={times['10x']}s ratio={times['ratio']}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
