"""Deterministic content-hash sampling — train/test splits and fractional
samples that are reproducible across runs, engines, task retries, and
input re-splits.

``df.sample()`` / TABLESAMPLE draw from a partition-seeded RNG: the
assignment changes whenever the input splits change, which silently leaks
test rows into training on any re-run over re-partitioned data. Keying
the split on md5(id) makes it a pure function of the ROW — the property a
training pipeline actually needs (and the same rand→hash discipline as
salted_join, operators/skew.py). Everything is a per-row JVM expression:
no shuffle, no UDF, fuses into whole-stage codegen on the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hash_bucket(col: Column, salt: str = "", buckets: int = 1000) -> Column:
    """Uniform bucket in [0, buckets) from md5 of the column's string form
    (first 8 hex digits → 32-bit int). md5 — not xxhash64/crc32 — so any
    engine can reproduce the assignment from the stored id alone."""
    h = F.conv(F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 8), 16, 10)
    return (h.cast("long") % buckets).alias("bucket")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    test_permille: int = 100,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Adds ``split_col``: 'test' for rows whose hash bucket falls below
    ``test_permille`` (per-thousand), else 'train'. ``salt`` derives
    independent splits from the same ids (e.g. cross-validation folds)."""
    b = _hash_bucket(F.col(id_col), salt)
    return df.withColumn(
        split_col, F.when(b < test_permille, F.lit("test")).otherwise(F.lit("train"))
    )


def _stratified_topk_by_hash(
    df: DataFrame,
    strata_col: str,
    quota,  # int or Column (per-stratum quota column)
    order_h: Column,
    id_col: str,
    sub_buckets: int = 32,
) -> DataFrame:
    """EXACT per-stratum top-``quota`` rows by ``order_h`` order, computed
    as a skew-proof two-level rank.

    A single ``Window.partitionBy(strata)`` rank funnels each ENTIRE
    stratum through one task — at 100 TB a dominant stratum (80%
    common-crawl) serializes on one executor. Instead:

    1. prune within (stratum, sub_bucket): any row in the true stratum
       top-quota is also in its sub-bucket's top-quota (a subset can only
       rank it higher), so keeping quota rows per sub-bucket loses
       nothing. Max window partition = stratum/sub_buckets.
    2. exact rank over the ≤ sub_buckets×quota survivors per stratum —
       a candidates-sized window, not a corpus-sized one.

    The sub-bucket hash (xxhash64) routes PRUNING only — it can never
    change the result, so cross-engine reproducibility still rests solely
    on the md5 ``order_h``. ``sub_buckets`` trades stage-1 parallelism
    against stage-2 candidate count; for corpus-scale quotas raise it so
    stratum/sub_buckets fits a task.
    """
    from pyspark.sql import Window

    q = F.lit(quota) if isinstance(quota, int) else quota
    out = df.withColumn("__h", order_h).withColumn(
        "__sb", F.pmod(F.xxhash64(F.col(id_col)), F.lit(sub_buckets))
    )
    w1 = Window.partitionBy(strata_col, "__sb").orderBy(F.col("__h"), F.col(id_col))
    w2 = Window.partitionBy(strata_col).orderBy(F.col("__h"), F.col(id_col))
    return (
        out.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= q)
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= q)
        .drop("__h", "__sb", "__rn1", "__rn")
    )


def quota_hash_sample(
    df: DataFrame,
    strata_col: str,
    quota: int,
    id_col: str = "doc_id",
    salt: str = "",
    sub_buckets: int = 32,
) -> DataFrame:
    """EXACT quota per stratum: keep precisely ``quota`` rows per value of
    ``strata_col`` (all rows when the stratum is smaller), chosen by
    md5-hash order — the corpus-mixing primitive for fixed budgets
    ("exactly 1M docs per language"), where rate-based sampling
    (stratified_hash_sample) only hits the target in expectation.
    Deterministic across runs/engines/re-partitioning: the hash order is
    row-intrinsic, ties broken by id. Skew-proof two-level rank
    (_stratified_topk_by_hash): no stratum ever funnels through one task."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    return _stratified_topk_by_hash(df, strata_col, quota, h, id_col, sub_buckets)


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    rates_permille: dict[str, int],
    id_col: str = "doc_id",
    default_permille: int = 0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the downsample/upweight step
    of corpus mixing (e.g. keep all rare-language docs, thin the dominant
    one). Each stratum keeps its own ~rate/1000 slice, still keyed on
    md5(id) so membership is row-intrinsic and strata stay consistent
    across runs. Strata absent from ``rates_permille`` keep
    ``default_permille``. Per-row expressions only — no shuffle."""
    rate = F.lit(default_permille)
    for value, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(permille)).otherwise(rate)
    return df.filter(_hash_bucket(F.col(id_col), salt) < rate)


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "",
) -> DataFrame:
    """Deterministic corpus shuffle for training order: adds ``shard``
    (which output shard the row lands in) and ``pos`` (its position within
    that shard). Iterating shards in any order and rows by ``pos`` yields a
    reproducible pseudo-random permutation of the corpus.

    Scale shape — the reason this is NOT ``ORDER BY rand()``: a true global
    sort ranks every row through one range exchange and a global
    zipWithIndex; at 100 TB the rank assignment serializes. Instead the
    md5 hash routes each row to a shard (one hash exchange) and a per-shard
    window ranks within the shard — rank windows run per-partition in
    parallel because the partition key IS the shard. Training readers
    consume shards independently (the standard webdataset/TFRecord layout),
    so no global order is ever needed. Deterministic across runs, engines,
    task retries, and input re-splits (hash is row-intrinsic; ties broken
    by id). ``salt`` derives fresh epoch permutations from the same ids.

    Position assignment is a two-level exact rank (the same skew-proof
    treatment as ``_stratified_topk_by_hash``): rows rank within
    (shard, sub-bucket) — the sub-bucket is the md5 PREFIX, i.e. a prefix
    of the rank order, so bucket-major concatenation IS the shard order —
    and a (shards × 256)-row offset table, broadcast back, lifts local
    ranks to shard positions. Max single-task window = shard/256, so the
    rank never serializes however few shards a caller asks for; positions
    are bit-identical to the single-window form.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards
    ).alias("shard")
    # first two hex chars: 256 sub-buckets, ordered consistently with the
    # full-h sort (lowercase hex compares in value order)
    sb = F.conv(F.substring(F.col("__h"), 1, 2), 16, 10).cast("long")
    hashed = df.withColumn("__h", h).withColumn("shard", shard).withColumn("__sb", sb)
    w1 = Window.partitionBy("shard", "__sb").orderBy(F.col("__h"), F.col(id_col))
    offsets = (
        hashed.groupBy("shard", "__sb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__n").over(
                    Window.partitionBy("shard")
                    .orderBy("__sb")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("shard", "__sb", "__off")
    )
    return (
        hashed.withColumn("__rn", F.row_number().over(w1))
        .join(F.broadcast(offsets), on=["shard", "__sb"])
        .withColumn("pos", (F.col("__off") + F.col("__rn")).cast("long"))
        .drop("__h", "__sb", "__rn", "__off")
    )


def temperature_mixture_sample(
    df: DataFrame,
    strata_col: str,
    total: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Temperature-based source mixing (the multilingual-corpus rebalance:
    sample source s proportionally to n_s^alpha, alpha=0.5, so dominant
    sources are down-weighted and rare ones up-weighted), with EXACT
    deterministic quotas summing to ≤ ``total``.

    quota_s = min(n_s, (total * w_s) div Σw)  with  w_s = floor(√n_s · 10⁶)

    alpha is fixed at 0.5 because IEEE-754 sqrt is correctly rounded —
    bit-identical on every engine — where pow(n, alpha) is not; quantizing
    the weight to an integer BEFORE the sum makes Σw order-independent
    (bigint addition commutes; a float sum would drift with aggregation
    order and flip quotas at floor boundaries). Every arithmetic step is
    exact integer after that, so Spark and any SQL oracle agree to the row.

    Plan: one tiny groupBy (|strata| rows) → window-total → quota frame
    joined back (AQE broadcasts it — it is strata-sized) → skew-proof
    two-level per-stratum rank (_stratified_topk_by_hash) picks the quota
    by md5 order, so a dominant stratum never serializes on one task.
    """
    from pyspark.sql import Window

    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    wgt = F.floor(F.sqrt(F.col("__n")) * F.lit(1_000_000)).cast("long")
    quotas = (
        counts.withColumn("__w", wgt)
        .withColumn("__tw", F.sum("__w").over(Window.partitionBy()))
        .withColumn(
            # the product runs in DECIMAL(38,0): total·w can pass 2^63 at
            # real corpus scale (total~1e7 × w~1e12), where bigint
            # arithmetic would wrap (non-ANSI) or error (ANSI) — decimal
            # keeps the quota exact at any scale, same value when small
            "__quota",
            F.least(
                F.col("__n"),
                F.expr(
                    f"CAST((CAST({total} AS DECIMAL(38,0)) * __w) div __tw AS BIGINT)"
                ),
            ),
        )
        .select(strata_col, "__quota")
    )
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    return _stratified_topk_by_hash(
        df.join(quotas, on=strata_col), strata_col, F.col("__quota"), h, id_col
    ).drop("__quota")


def dsir_importance(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    doc_id: str = "doc_id",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    keep_per_mille: int = 200,
) -> DataFrame:
    """DSIR-style data selection via importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hashed n-gram features estimate a target distribution (the docs
    matching ``target_pred``) against the raw corpus, every document gets
    an importance score, and the top slice is selected — the
    domain-adaptation curation step between raw crawl and training mix.

    Engine-exact formulation: word-bigram features hashed through the
    repo's md5 ``token_bucket`` (text.py — the classifier's hashing
    trick); per-bucket ratio ``r_b = ((t_b + 1) * scale) div (a_b + 1)``
    (Laplace-smoothed target/raw ratio in fixed-point); document score =
    Σ occurrences × r_bucket. DSIR's log-ratio sum is replaced by the
    LINEAR ratio sum — the established rank-equivalence trade (PMI,
    linear-idf) that keeps every value an exact integer for the hash
    gate; selection is the deterministic top ``keep_per_mille`` by
    (score, doc_id) instead of Gumbel resampling.

    Plan: one corpus scan explodes bigrams; the bucket table
    (``n_buckets`` rows) aggregates once and BROADCASTS back onto the
    per-doc bucket counts — no corpus-sized join side; the global
    selection rank is one total-order exchange (the curriculum trade —
    swap for an equi-depth histogram cut at 100 TB, see
    quality_decile_curriculum).
    """
    from pyspark.sql import Window

    from flink_uba_spark.operators.text import token_bucket

    toks = F.split(F.col(text_col), " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    ex = docs.select(
        F.col(doc_id).alias("__d"),
        target_pred.cast("int").alias("__tgt"),
        F.explode(bigrams).alias("__bg"),
    ).withColumn("bucket", token_bucket(F.col("__bg"), n_buckets))
    cnt = ex.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("a"), F.sum("__tgt").alias("t")
    )
    db = ex.groupBy("__d", "bucket").agg(F.count(F.lit(1)).alias("n"))
    sc = (
        db.join(F.broadcast(cnt), "bucket")
        .withColumn(
            "__term", F.expr(f"n * (((t + 1) * {scale}) div (a + 1))")
        )
        .groupBy("__d")
        .agg(F.sum("__term").alias("importance"))
    )
    j = (
        docs.select(F.col(doc_id).alias("__d"))
        .join(sc, "__d", "left")
        .select(
            F.col("__d").alias(doc_id),
            F.coalesce(F.col("importance"), F.lit(0)).cast("long").alias("importance"),
        )
    )
    w = Window.orderBy(F.col("importance").desc(), F.col(doc_id))
    # corpus size rides a broadcast 1-row aggregate (no driver collect);
    # rank*1000 ≤ n*kpm ⟺ rank ≤ floor(n*kpm/1000) in integers
    nrow = j.agg(F.count(F.lit(1)).alias("__n"))
    return (
        j.withColumn("sel_rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(nrow))
        .withColumn(
            "selected",
            F.col("sel_rank") * 1000 <= F.col("__n") * F.lit(keep_per_mille),
        )
        .drop("__n")
    )
