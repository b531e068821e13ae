"""Capture physical plans of the headline queries into PLANS.md.

Checks the plans are the ones we want at scale: parquet scans show pruned
ReadSchema, brute-force scans broadcast the corpus side, LSH joins are
hash-partitioned equi-joins, and expression work sits inside
WholeStageCodegen spans.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "sha256_rows",
    "exact_dup_groups",
    "near_dup_pairs_lsh",
    "dup_clusters",
    "substring_containment",
    "ann_cosine_topk",
    "ann_rp_lsh_topk",
    "token_stats",
    "simhash_hamming_pairs",
    "ann_balltree_topk",
    "emb_near_dup_pairs",
    "rp_hamming128_topk",
    "ann_ivf_topk",
    "itq_hamming_topk",
    "multimodal_decode",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from smqtk_indexing_spark.session import get_spark

    spark = get_spark(app_name="explain", master="local[4]")
    qs = E.queries()
    out = ["# PLANS — physical plans of headline queries (sf0.01)\n"]

    # capture the lazy plans the entry memo would checkpoint: a checkpoint
    # scan shows none of the topology this file is for
    E._memo = lambda table, spark, sf_dir, build: build()[0]

    def build(name):
        if name == "dup_clusters":
            # force the DISTRIBUTED star path: the hybrid's driver
            # union-find fast path (taken at sf0.01's tiny edge count)
            # would capture a trivial local-relation plan instead of the
            # production topology
            from smqtk_indexing_spark.operators.cluster import (
                connected_components,
            )

            docs = E._docs(spark, sf_dir).select("doc_id")
            return connected_components(
                E._lsh_pairs(spark, sf_dir).select("a", "b"),
                nodes=docs,
                driver_edge_cap=0,
            ).select("doc_id", "cluster_id")
        return qs[name](spark, sf_dir)

    for name in QUERIES:
        df = build(name)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
