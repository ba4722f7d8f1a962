"""BPE scale probe (round 11 — VERDICT r10 item 7): run the batched
trainer at production-ish depth (default 512 merges, k=64) on the sf0.1
corpus, against the exact sequential trainer at the same depth, and
report wall clocks plus the token-count divergence on the metric BPE
optimizes. The r10 32k-merge economics claim extrapolated from 24
merges; this measures the real curve at ~20x that depth.

Usage: python tools/bpe_probe.py [sf_dir] [n_merges] [k]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

# the repository this tool belongs to, wherever it is checked out
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 512
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 64

    from flink_uba_spark.operators.tokenizer import (
        bpe_segment,
        bpe_train,
        bpe_train_batched,
    )
    from flink_uba_spark.session import get_spark
    from flink_uba_spark.sources.readers import load_testdata

    spark = get_spark("bpe_probe")
    docs = load_testdata(spark, sf_dir, ("documents",))["documents"].cache()
    docs.count()

    t0 = time.time()
    bat = bpe_train_batched(docs, n_merges=n_merges, k_per_round=k).collect()
    t_bat = time.time() - t0
    print(f"batched(k={k}) {len(bat)} merges: {t_bat:.1f}s", flush=True)

    t0 = time.time()
    seq = bpe_train(docs, n_merges=n_merges).collect()
    t_seq = time.time() - t0
    print(f"sequential {len(seq)} merges: {t_seq:.1f}s", flush=True)

    def total_tokens(rules):
        # chunk the replace chain so 512 rules stay codegen-sized: apply
        # 64 rules, checkpoint the exploded words? bpe_segment folds all
        # rules into one plan — measure as-is first; chunking is the
        # fallback if analysis blows up
        return sum(
            r.bpe_tokens for r in bpe_segment(docs, rules).collect()
        )

    t0 = time.time()
    tot_seq = total_tokens([(r.lhs, r.rhs) for r in seq])
    t_seg_seq = time.time() - t0
    t0 = time.time()
    tot_bat = total_tokens([(r.lhs, r.rhs) for r in bat])
    t_seg_bat = time.time() - t0
    overlap = len(
        {(r.lhs, r.rhs) for r in seq} & {(r.lhs, r.rhs) for r in bat}
    )
    print(
        f"token totals: sequential {tot_seq} ({t_seg_seq:.1f}s) "
        f"batched {tot_bat} ({t_seg_bat:.1f}s) "
        f"ratio {tot_bat / tot_seq:.5f} "
        f"rule overlap {overlap}/{n_merges}",
        flush=True,
    )


if __name__ == "__main__":
    main()
