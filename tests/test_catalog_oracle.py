"""The correctness gate, locally: every catalog query with an oracle must
hash-match DuckDB on the sf test dir (driver runs the same at sf0.01).

Tiering (r11, VERDICT r10 #2): the FULL 331-query sweep + the rows-only
sweep are the dominant cost of the 55-minute suite and carry the `slow`
mark, so the driver's default `pytest tests/` run finishes inside its
verify window. A headline-coverage smoke subset stays in the default
tier; the full sweep runs in the closing gates
(`pytest tests/ -m "slow or not slow"`) and standalone at any SF via
scripts/oracle_sweep.py."""

from __future__ import annotations

import pytest

from pandas_etl_spark.catalog import ORACLES, QUERIES

from tests.oracle_harness import compare, run_oracle

ORACLE_NAMES = sorted(ORACLES)
ROWS_ONLY_NAMES = sorted(set(QUERIES) - set(ORACLES))

# default-tier smoke: every oracle-backed bench HEADLINE query, plus the
# operator families this round's optimizations touched
SMOKE_NAMES = sorted(
    set(ORACLE_NAMES)
    & {
        "pricing_summary",
        "top_revenue_orders",
        "nation_revenue",
        "window_topk_per_group",
        "rollup_totals",
        "sessionize",
        "asof_join_events",
        "dedup_exact",
        "ngram_jaccard_pairs",
        "minhash_lsh_pairs_checked",
        "minhash_source_signature_checked",
        "simhash_pairs_checked",
        "doc_stats",
        "quality_score",
        "ewm_mean",
        "winnow_pairs",
        "exact_span_dedup",
        "span_dedup_incremental",
        "dedup_multi_signal",
        "nearest_suppliers_knn",
        "bootstrap_ci_mean_price",
        "ann_pq_checked",
        "ngram_jaccard_prefix",
        # both streaming replay shapes: library sink, inline sink
        "stream_dedup_ingest_checked",
        "stream_hll_ingest_checked",
    }
)


def _check(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    opdf = run_oracle(ORACLES[name], sf_dir)
    problems = compare(sdf, opdf)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", SMOKE_NAMES)
def test_query_matches_oracle_smoke(spark, sf_dir, name):
    _check(spark, sf_dir, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    _check(spark, sf_dir, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0
