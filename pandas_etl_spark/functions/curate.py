"""Corpus curation — the composed training-data pipeline (SURVEY §2.9).

One declarative flow over ``documents``:

1. annotate: token count, quality score (text.py);
2. quality gate: ``n_tokens ≥ min_tokens`` and ``quality ≥ min_quality``;
3. exact dedup: keep the min doc_id per normalized-content md5;
4. near-dup removal: n-gram Jaccard pairs (stop-shingle-capped inverted
   index, dedup.py) — every ``id_b`` of a pair (id_a < id_b) is dropped,
   a deterministic greedy keep-lowest-id rule.

Everything is built-in Catalyst expressions — the whole pipeline is ONE
lazy plan (filters push into the scan; the pair join sees only gated,
exact-deduped survivors). Fully reproducible by an ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_etl_spark.functions import text as tx
from pandas_etl_spark.functions.dedup import (
    exact_dedup,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
)


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.85,
    shingle_k: int = 5,
    max_df: int = 50,
) -> DataFrame:
    """Surviving documents with their curation annotations.

    The gated+exact-deduped frame feeds BOTH the near-dup pair
    computation AND the final anti-join, so its scan→annotate→gate→
    dedup prefix (one scan + one shuffle) executes twice. The recompute
    is accepted: measured at sf0.1 the duplicated prefix costs ~1.3s
    while a MEMORY_AND_DISK persist of the full-text rows costs ~2.8s
    extra (6.3s vs 3.5s end-to-end) — materializing wide text rows into
    block storage is slower than re-running a column-pruned scan that
    Catalyst narrows per consumer (the anti-join side never re-reads
    ``text``)."""
    annotated = docs.select(
        "*",
        tx.token_count(text_col).alias("n_tokens"),
        tx.quality_score(text_col).alias("quality"),
    )
    gated = annotated.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("quality") >= min_quality)
    )
    unique = exact_dedup(gated, text_col, id_col)
    # high thresholds → prefix-filtered pair plan (identical results,
    # candidate mass shrinks with (1-t); the bucket plan wins below
    # ~0.7 where prefixes stop being selective — SCALE.md measurements)
    pair_fn = (
        ngram_jaccard_pairs_prefix if jaccard_threshold >= 0.7 else ngram_jaccard_pairs
    )
    pairs = pair_fn(
        unique, text_col, id_col, k=shingle_k, threshold=jaccard_threshold, max_df=max_df
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return unique.join(drop, id_col, "left_anti")

