"""Registry-wide output contracts for the external correctness harness.

The driver gate compares every oracle-backed query's Spark output
against its DuckDB oracle by converting both to pandas and sorting ALL
columns before hashing. A top-level array/map/struct/binary column
breaks that canonicalization (`TypeError: unhashable type:
'numpy.ndarray'` in the harness's sort) even when the VALUES match —
exactly how `snapshot_diff_orders` became the one red driver row of
round 7 while hash-matching DuckDB in the repo's own sweep. The
contract enforced here: every ORACLE-BACKED query's output schema is
flat (atomic top-level types only). Queries that genuinely produce
nested data for API users must register a flattened projection
(array_join / to_json) and keep the nested return on the operator.
"""

from __future__ import annotations

from pyspark.sql import types as T

from pandas_etl_spark.catalog import ORACLES

_NESTED = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)


def test_oracle_backed_outputs_are_flat(registry_builds):
    """No oracle-backed query may emit array/map/struct/binary top-level
    columns — the external harness's pandas canonicalizer cannot sort
    them, turning a value-correct answer into a red gate row."""
    offenders: dict[str, list[str]] = {}
    for name in ORACLES:
        built = registry_builds[name]
        if built.error is not None:  # surface build failures loudly
            e = built.error
            offenders[name] = [f"SCHEMA BUILD FAILED: {type(e).__name__}: {e}"]
            continue
        schema = built.schema
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, _NESTED)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle-backed queries with non-flat output columns (the external "
        f"harness cannot canonicalize these): {offenders}"
    )
