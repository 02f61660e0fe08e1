"""Capture .explain("formatted") output for the queries a round touched.

Usage:
    SPARK_GRAFT_SF_DIR=<sf_dir> PYTHONPATH=<repo> \\
        python scripts/capture_plans.py <round> <suffix> <query>...

Writes plans/<round>/<query>_<suffix>.txt for each query. Run once from
a checkout of the previous round (suffix "before") and once from HEAD
(suffix "after"). Explain is lazy — no job runs except the bounded
query-construction collects some queries perform (k-means seeds etc.).
The committed captures were taken on the sf0.001 test set.

Query lists of the committed captures (the other files under plans/r10
come from scripts/capture_cc_round_plan.py and one-off captures):

r10 — shingle-pipeline fusion, window-fused df caps, flattened
fixed-dim cosine scorers; "before" was captured from the r9 commit,
except for the span/segment family fusion (last three), whose "before"
came from the pre-fusion r10 commit 8bf022c:
    minhash_lsh_pairs curate_corpus ngram_jaccard_pairs
    ngram_jaccard_prefix winnow_pairs dedup_multi_signal ann_cosine_topk
    semantic_knn_communities semantic_decontaminate
    semantic_dedup_checked knn_label_noise knn_label_transfer
    exact_span_dedup span_dedup_incremental segment_neardup

r11 — skew-safe salted df-cap (count) and ownership (min) attach,
bootstrap single pass, knn pre-rank, pq flatten; "before" from the r10
commit:
    ngram_jaccard_pairs ngram_containment_pairs ngram_jaccard_prefix
    curate_corpus winnow_pairs dedup_clusters dedup_multi_signal
    dedup_groups_planted exact_span_dedup span_dedup_incremental
    decontaminate_spans nearest_suppliers_knn bootstrap_ci_mean_price
    ann_pq_checked
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    if len(sys.argv) < 4 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        print(__doc__, file=sys.stderr)
        return 2
    rnd, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    sys.path.insert(0, REPO)
    from pandas_etl_spark.catalog import QUERIES
    from pandas_etl_spark.session import get_spark

    spark = get_spark(f"plans-{rnd}-{suffix}")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # capture the failure rather than abort
            text = f"ERROR capturing plan: {e!r}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
