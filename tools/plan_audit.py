"""Snapshot the physical plans of the headline queries into PLANS.md.

The 100 TB argument lives in the plans: filters reaching the parquet scan,
prunned ReadSchema, broadcast joins staying broadcast, whole-stage codegen
spans, no stray exchanges.  tests/test_plans.py asserts the load-bearing
properties; this tool writes the full `explain(formatted)` text so a
reviewer can audit the rest without running Spark.

Session-history numbers (expression ids ``#123``, ``plan_id=``, RDD ids)
are renumbered per plan in order of first appearance, and RDD call sites
and the process id in temp paths are dropped, so a diff of two PLANS.md
files shows only real plan changes.

Usage: python tools/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    "pip_join",
    "pip_join_salted",
    "tile_pyramid",
    "minhash_lsh",
    "dedup_exact",
    "ann_topk",
    "url_canon",
    "user_sessions",
    "decontaminate",
    "doc_sample",
    "simhash_pairs",
    "host_cap",
    "dup_coverage",
    "incr_neardup",
    "quality_prune2",
    "decontaminate_bloom",
    "budget_sample2",
    "dedup_keep_best",
    "seq_pack2",
    "para_dedup",
    "line_prune",
    "mix_temp",
    "ann_pq",
    "incr_line",
    "domain_rank",
    "ann_ivfpq",
    "semdedup",
    "kmeans_fp",
    "bm25",
    "dsir",
    "cluster_cap",
    "lm_score",
    "bpe_learn",
    "bpe_encode",
    "incr_lm",
    "dedup_recall",
    "hardneg",
    "tfidf",
    "epoch_shuffle",
    "funnel",
    "lm_target",
    "pq_recall",
    "lm_prune",
]


def normalize(plan: str) -> str:
    """``plan`` with every session-history number renumbered from 1 in
    order of first appearance (one counter per kind of id)."""
    plan = plan.replace(f"_{os.getpid()}/", "_<pid>/")
    plan = re.sub(r"(RDD\[\d+\]) at \S+ at \S+:\d+", r"\1", plan)
    for pat, fmt in ((r"#(\d+)", "#{}"), (r"plan_id=(\d+)", "plan_id={}"), (r"RDD\[(\d+)\]", "RDD[{}]")):
        ids: dict = {}
        plan = re.sub(pat, lambda m: fmt.format(ids.setdefault(m.group(1), len(ids) + 1)), plan)
    return plan


def main() -> None:
    import __spark_entry__ as E
    from shapefile_rs_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    print("# Physical plans (headline queries)\n")
    print(f"Generated by `python tools/plan_audit.py {sf_dir}`.  Properties")
    print("asserted in tests/test_plans.py: parquet column pruning + filter")
    print("pushdown, broadcast PIP phase, codegen'd page synthesis.  Ids are")
    print("renumbered per plan in order of first appearance.\n")
    for name in AUDITED:
        df = E.queries()[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        print(f"## {name}\n\n```\n{normalize(plan)}```\n")


if __name__ == "__main__":
    main()
