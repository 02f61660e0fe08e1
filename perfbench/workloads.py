"""The benchmark workloads, their inputs and their references.

Each workload is a closed loop with one client: ``Workload.run`` performs one
invocation and returns after its outputs are committed and checked.  The
check compares the outputs with references that DuckDB computes once per
generated dataset (``prepare``), outside the timed region.

- ``etl_wavefront``: the YAML pipeline language end to end (three reads, two
  ``pd.merge`` joins, three ``groupby().agg`` steps in one wave, four parquet
  sinks, ``.parquet`` and ``.csv`` checkpoints), then a second invocation of
  the same YAML that resumes from the committed checkpoints.
- ``catalog_llm``: oracle-backed catalog queries built and run with a
  ``noop`` sink; the time is in query build (hidden eager jobs, streaming
  micro-batches) and at the Arrow UDF boundary.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

# Input sizes per workload: star-schema scale factor, documents, embeddings.
# The catalog documents stay few because the DuckDB oracles of the shingle
# queries grow with document count times the square of document length, and
# the references are recomputed for every seed.
SIZES = {
    "full": {
        "etl_wavefront": dict(sf=0.03, n_docs=100, n_vecs=100),
        "catalog_llm": dict(sf=0.002, n_docs=400, n_vecs=100),
    },
    "tiny": {
        "etl_wavefront": dict(sf=0.002, n_docs=100, n_vecs=100),
        "catalog_llm": dict(sf=0.001, n_docs=150, n_vecs=100),
    },
}

CATALOG_QUERIES = [
    "community_parts_lpa",
    "stream_dedup_ingest_checked",
    "unicode_normalize",
]

ETL_YAML = """
variables:
  dataDir: {data}
  outDir: {out}
steps:
- name: lineitem
  function: pd.read_parquet
  args:
    path: ${{ var.dataDir }}/lineitem.parquet
    columns: [l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
              l_discount, l_returnflag, l_shipdate]
- name: orders
  function: pd.read_parquet
  args:
    path: ${{ var.dataDir }}/orders.parquet
    columns: [o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_orderdate]
- name: customer
  function: pd.read_parquet
  args:
    path: ${{ var.dataDir }}/customer.parquet
    columns: [c_custkey, c_nationkey, c_mktsegment, c_acctbal]
- name: order_lines
  function: pd.merge
  args:
    left: ${{ steps['lineitem'].output }}
    right: ${{ steps['orders'].output }}
    left_on: l_orderkey
    right_on: o_orderkey
  saveProgress: ${{ var.outDir }}/ckpt_order_lines.parquet
- name: enriched
  function: pd.merge
  args:
    left: ${{ steps['order_lines'].output }}
    right: ${{ steps['customer'].output }}
    left_on: o_custkey
    right_on: c_custkey
- name: by_segment
  function: ${{ steps['enriched'].output.groupby }}
  args: {{by: [c_mktsegment, l_returnflag]}}
- name: by_priority
  function: ${{ steps['enriched'].output.groupby }}
  args: {{by: [o_orderpriority, o_orderstatus]}}
- name: by_customer
  function: ${{ steps['enriched'].output.groupby }}
  args: {{by: c_custkey}}
- name: returned
  function: ${{ steps['enriched'].output.query }}
  args: {{expr: "l_returnflag = 'R'"}}
- name: seg_stats
  function: ${{ steps['by_segment'].output.agg }}
  args:
    spec: {{l_extendedprice: [sum, mean], l_quantity: [sum, max]}}
  saveProgress: ${{ var.outDir }}/ckpt_seg_stats.parquet
- name: prio_stats
  function: ${{ steps['by_priority'].output.agg }}
  args:
    spec: {{l_extendedprice: sum, l_discount: mean, l_partkey: nunique}}
- name: cust_stats
  function: ${{ steps['by_customer'].output.agg }}
  args:
    spec: {{l_extendedprice: [sum, count], c_acctbal: max}}
  saveProgress: ${{ var.outDir }}/ckpt_cust_stats.csv
- name: sink_returned
  function: ${{ steps['returned'].output.to_parquet }}
  args: {{path: "${{ var.outDir }}/returned.parquet"}}
- name: sink_segment
  function: ${{ steps['seg_stats'].output.to_parquet }}
  args: {{path: "${{ var.outDir }}/segment.parquet"}}
- name: sink_priority
  function: ${{ steps['prio_stats'].output.to_parquet }}
  args: {{path: "${{ var.outDir }}/priority.parquet"}}
- name: sink_customer
  function: ${{ steps['cust_stats'].output.to_parquet }}
  args: {{path: "${{ var.outDir }}/customer.parquet"}}
"""

_ENRICHED = """(SELECT * FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey)"""
_LINE_COLS = """l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
                l_discount, l_returnflag, l_shipdate, o_orderkey, o_custkey,
                o_orderstatus, o_orderpriority, o_orderdate"""

# every sink and checkpoint of ETL_YAML -> (reference SQL, key columns)
ETL_REFERENCES = {
    "ckpt_order_lines.parquet": (
        f"SELECT {_LINE_COLS} FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
        ["l_orderkey", "l_linenumber"],
    ),
    "ckpt_seg_stats.parquet": (
        f"""SELECT c_mktsegment, l_returnflag,
                   sum(l_extendedprice) AS l_extendedprice_sum,
                   avg(l_extendedprice) AS l_extendedprice_mean,
                   sum(l_quantity) AS l_quantity_sum, max(l_quantity) AS l_quantity_max
            FROM {_ENRICHED} GROUP BY ALL""",
        ["c_mktsegment", "l_returnflag"],
    ),
    "ckpt_cust_stats.csv": (
        f"""SELECT c_custkey, sum(l_extendedprice) AS l_extendedprice_sum,
                   count(l_extendedprice) AS l_extendedprice_count, max(c_acctbal) AS c_acctbal
            FROM {_ENRICHED} GROUP BY ALL""",
        ["c_custkey"],
    ),
    "returned.parquet": (
        f"""SELECT {_LINE_COLS}, c_custkey, c_nationkey, c_mktsegment, c_acctbal
            FROM {_ENRICHED} WHERE l_returnflag = 'R'""",
        ["l_orderkey", "l_linenumber"],
    ),
    "priority.parquet": (
        f"""SELECT o_orderpriority, o_orderstatus, sum(l_extendedprice) AS l_extendedprice,
                   avg(l_discount) AS l_discount, count(DISTINCT l_partkey) AS l_partkey
            FROM {_ENRICHED} GROUP BY ALL""",
        ["o_orderpriority", "o_orderstatus"],
    ),
}
ETL_REFERENCES["segment.parquet"] = ETL_REFERENCES["ckpt_seg_stats.parquet"]
ETL_REFERENCES["customer.parquet"] = ETL_REFERENCES["ckpt_cust_stats.csv"]


def input_rows(name: str, stats: dict) -> int:
    """Rows one invocation reads (the ``rows_per_s`` base)."""
    if name == "etl_wavefront":
        return sum(stats[t]["rows"] for t in ("lineitem", "orders", "customer"))
    # community_parts_lpa reads lineitem; the other two queries read documents
    return stats["lineitem"]["rows"] + 2 * stats["documents"]["rows"]


# -- inputs and references (no Spark) -------------------------------------------


def prepare(name: str, size: str, seed: int, data_dir: str) -> dict:
    """Generate the inputs and compute the references once per dataset;
    returns the table statistics.  Runs in a process of its own, so none of
    it is charged to the benchmark's set-up."""
    stats_path = os.path.join(data_dir, "stats.json")
    if not os.path.exists(stats_path):
        import gen

        tmp = data_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        stats = gen.generate(tmp, seed, **SIZES[size][name])
        ref_dir = os.path.join(tmp, "ref")
        os.makedirs(ref_dir)
        if name == "etl_wavefront":
            con = _duck(tmp)
            for out, (sql, _) in ETL_REFERENCES.items():
                con.execute(f"COPY ({sql}) TO '{ref_dir}/{out}.parquet' (FORMAT parquet)")
            con.close()
        else:
            from pandas_etl_spark.catalog import ORACLES
            from tests.oracle_harness import run_oracle

            for q in CATALOG_QUERIES:
                run_oracle(ORACLES[q], tmp).to_parquet(f"{ref_dir}/{q}.parquet")
        with open(os.path.join(tmp, "stats.json"), "w") as f:
            json.dump(stats, f)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.rename(tmp, data_dir)
    with open(stats_path) as f:
        return json.load(f)


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    return con


def _scan(path: str) -> str:
    """DuckDB relation over a Spark output directory (parquet or csv)."""
    if path.endswith(".csv"):
        return f"read_csv('{path}/*.csv', header=true)"
    return f"read_parquet('{path}/*.parquet')"


def compare_keyed(con, got: str, ref: str, keys: list[str]) -> list[str]:
    """Mismatches between two DuckDB relations joined on ``keys``.

    Columns compare by name.  Numbers agree within 1e-9 relative, because
    sums of doubles depend on the aggregation order; everything else must be
    equal.  A missing, extra or duplicated row is a mismatch."""
    rtypes = {d[0]: d[1] for d in con.execute(f"DESCRIBE SELECT * FROM {ref}").fetchall()}
    gcols = [d[0] for d in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall()]
    if sorted(gcols) != sorted(rtypes):
        return [f"columns: got={sorted(gcols)} ref={sorted(rtypes)}"]
    problems = []
    n_got, n_ref = (con.execute(f"SELECT count(*) FROM {r}").fetchone()[0] for r in (got, ref))
    if n_got != n_ref:
        problems.append(f"row count: got={n_got} ref={n_ref}")
    on = " AND ".join(f"g.{k} = r.{k}" for k in keys)
    conds = [f"g.{keys[0]} IS NULL", f"r.{keys[0]} IS NULL"]
    for c, t in rtypes.items():
        g = f"CAST(g.{c} AS {t})"
        if any(x in t.upper() for x in ("DOUBLE", "FLOAT", "DECIMAL", "INT")):
            conds.append(
                f"({g} IS NULL) <> (r.{c} IS NULL) OR "
                f"abs(CAST({g} AS DOUBLE) - r.{c}) > 1e-9 * greatest(1, abs(r.{c}))"
            )
        else:
            conds.append(f"{g} IS DISTINCT FROM r.{c}")
    bad = con.execute(
        f"SELECT count(*) FROM {got} g FULL OUTER JOIN {ref} r ON {on} "
        f"WHERE {' OR '.join(f'({x})' for x in conds)}"
    ).fetchone()[0]
    if bad:
        problems.append(f"{bad} rows differ or are unmatched on {keys}")
    return problems


def check_etl(out_dir: str, ref_dir: str) -> dict[str, list[str]]:
    """Mismatch descriptions of every ETL sink and checkpoint."""
    import duckdb

    con = duckdb.connect()
    try:
        return {
            o: compare_keyed(
                con, _scan(os.path.join(out_dir, o)),
                f"read_parquet('{ref_dir}/{o}.parquet')", keys,
            )
            for o, (_, keys) in sorted(ETL_REFERENCES.items())
        }
    finally:
        con.close()


# -- invocations (need a Spark session) ------------------------------------------


@dataclass
class Invocation:
    """One invocation: its wall time, the operations it attempted (sinks and
    checkpoints checked, or queries run) and the failed ones with reasons."""

    wall_s: float
    attempted: int
    failures: dict[str, list[str]] = field(default_factory=dict)


class Workload:
    """Runs invocations of one workload on one session.  ``tracer`` (traced
    mode only) gets a span around each catalog build, plan and action."""

    def __init__(self, name: str, spark, data_dir: str, work_dir: str, tracer=None):
        self.name, self.spark, self.tracer = name, spark, tracer
        self.data_dir = data_dir
        self.ref_dir = os.path.join(data_dir, "ref")
        self.out_dir = os.path.join(work_dir, "out")
        self._refs: dict = {}

    def _span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext({})

    def run(self, resume: bool = False) -> Invocation:
        """A fresh invocation, or with ``resume`` one that starts from what
        the previous invocation committed."""
        if self.name == "catalog_llm":
            return self._catalog()
        if not resume:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir, exist_ok=True)
        from pandas_etl_spark.pipeline import Pipeline

        yaml_text = ETL_YAML.format(data=self.data_dir, out=self.out_dir)
        t0 = time.perf_counter()
        try:
            Pipeline(yaml_text, spark=self.spark).run()
        except Exception as e:  # a failing step is reported, never dropped
            return Invocation(time.perf_counter() - t0, 1, {"pipeline": [f"{type(e).__name__}: {e}"]})
        wall = time.perf_counter() - t0
        problems = check_etl(self.out_dir, self.ref_dir)
        return Invocation(wall, len(problems), {k: v for k, v in problems.items() if v})

    def _catalog(self) -> Invocation:
        import pandas as pd

        from pandas_etl_spark.catalog import QUERIES
        from tests.oracle_harness import compare

        inv = Invocation(0.0, len(CATALOG_QUERIES))
        for q in CATALOG_QUERIES:
            before = self.tracer.persisted() if self.tracer else None
            t0 = time.perf_counter()
            try:
                with self._span("catalog.build", query=q):
                    df = QUERIES[q](self.spark, self.data_dir)
                if self.tracer:
                    with self._span("catalog.plan", query=q):
                        df._jdf.queryExecution().executedPlan()
                with self._span("catalog.exec", query=q) as ex:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failing query is reported, never dropped
                inv.wall_s += time.perf_counter() - t0
                inv.failures[q] = [f"{type(e).__name__}: {e}"]
                continue
            inv.wall_s += time.perf_counter() - t0
            if q not in self._refs:
                self._refs[q] = pd.read_parquet(f"{self.ref_dir}/{q}.parquet")
            problems = compare(df, self._refs[q])
            del df
            if problems:
                inv.failures[q] = problems
            if before is not None:
                after = self.tracer.persisted()
                ex.attrs["leaked_blocks"] = after[0] - before[0]
                ex.attrs["leaked_mb"] = after[1] - before[1]
        return inv
