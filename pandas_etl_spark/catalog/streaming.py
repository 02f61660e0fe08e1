"""Streaming + sessionization catalog queries over ``events``.

Two harness shapes, both from ``pandas_etl_spark.streaming``:

- Stateful-operator queries (windows, watermarks, stream joins,
  applyInPandasWithState) run a file stream of the table synchronously
  to a memory sink (``run_stream_to_table``) and return the result
  table; their oracles are the batch-SQL equivalents (same grouping,
  same buckets) — valid because processAllAvailable drains the whole
  file source.
- Incremental-sink queries (``stream_dedup_ingest``,
  ``stream_span_ingest``, ``stream_manifest_ingest``,
  ``stream_hll_ingest``, their ``_checked`` twins, ``stream_cdc_apply``,
  ``stream_mv_incremental``, ``stream_asof_enrich`` and
  ``stream_quality_gate``) replay the table as ordered file-stream
  micro-batches into a ``foreachBatch`` sink through
  ``replay_microbatches``, read the sink's stores back inside its
  ``with`` block and materialize before the temp dir goes. Their
  oracles replay the same schedule in one batch, so a green hash proves
  the sink is micro-batch-schedule-invariant.

The dedup, span and manifest rows-only twins are projections over the
private run (``_*_ingest_run``) their ``_checked`` twin returns; the
hll twins use different sinks and share only the replay.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pandas_etl_spark.catalog.registry import query
from pandas_etl_spark.functions.sessions import with_session_ids
from pandas_etl_spark.functions.timeparse import ts_seconds
from pandas_etl_spark.sources import load_table
from pandas_etl_spark.streaming import (
    read_events_stream,
    replay_microbatches,
    run_stream_to_table,
)

_GAP_S = 1800  # 30-minute session gap


@query(
    "sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR extract(epoch FROM ts) - extract(epoch FROM lag(ts) OVER w) > {_GAP_S}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           sum(value) AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via the shared lag/cumsum core
    (functions/sessions.with_session_ids — review r5 #7 de-duplicated
    the three hand-copied variants and restored the event_id tie-break
    the cumsum window had lost): single shuffle on user_id shared by
    both windows and the final groupBy."""
    ev = load_table(spark, sf_dir, "events")
    sess = with_session_ids(ev, gap_s=_GAP_S)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum("value").alias("total_value"),
    )


@query(
    "session_window_agg",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR extract(epoch FROM ts) - extract(epoch FROM lag(ts) OVER w) > {_GAP_S}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           min(ts)                                  AS session_start,
           max(ts) + INTERVAL {_GAP_S} SECOND       AS session_end,
           CAST(count(*) AS BIGINT)                 AS n_events,
           sum(value)                               AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` (works on batch frames too): merged
    gap-based sessions per user. The oracle derives identical session
    bounds from the lag/cumsum formulation — proving the two sessionization
    paths agree (session.end = last event + gap, per Spark semantics)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", f"{_GAP_S} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def _running_counter(spark: SparkSession, sf_dir: str, ndigits: int) -> DataFrame:
    """The applyInPandasWithState pipeline ``stream_stateful_counter``
    and ``stream_counter_checked`` share: running per-user event count
    + value total (rounded to ``ndigits``) in explicit state, drained
    to a memory sink; returns the final state per user."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, ndigits)],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    table = run_stream_to_table(out, output_mode="update")
    # one update row per user per batch; the final state is the row
    # with the largest n_events (counts only grow)
    t = spark.table(table)
    return t.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@query("stream_stateful_counter")
def q_stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming (applyInPandasWithState): running
    per-user event count + value total maintained in explicit state.
    Rows-only check; value-parity with batch groupBy is asserted
    in tests/test_streaming.py."""
    return _running_counter(spark, sf_dir, 6)


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts, p.value AS purchase_value
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join with watermarks: purchases matched to
    the same user's clicks in the preceding hour. State is bounded by the
    watermark + interval condition (Spark drops click state older than
    purchase-watermark − 1h). Oracle = the equivalent batch interval
    join, valid because the file stream drains completely."""
    from pyspark.sql import functions as SF

    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(SF.col("event_type") == "purchase")
        .select(
            SF.col("event_id").alias("purchase_id"),
            "user_id",
            SF.col("ts").alias("purchase_ts"),
            SF.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        ev.filter(SF.col("event_type") == "click")
        .select(
            SF.col("event_id").alias("click_id"),
            SF.col("user_id").alias("c_user_id"),
            SF.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (SF.col("user_id") == SF.col("c_user_id"))
        & (SF.col("click_ts") >= SF.col("purchase_ts") - SF.expr("INTERVAL 1 HOUR"))
        & (SF.col("click_ts") <= SF.col("purchase_ts")),
        "inner",
    ).select(
        "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts", "purchase_value"
    )
    table = run_stream_to_table(joined, output_mode="append")
    return spark.table(table)


@query(
    "stream_tumbling_hour",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           CAST(count(*) AS BIGINT) AS n, sum(value) AS total_value
    FROM events
    GROUP BY bucket, event_type
    """,
)
def q_stream_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation (1h) with a
    watermark, drained synchronously; oracle = batch bucket agg."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )
    table = run_stream_to_table(agg, output_mode="complete")
    return spark.table(table).select(
        F.col("win.start").alias("bucket"), "event_type", "n", "total_value"
    )


@query(
    "stream_dedup_counts",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup (dropDuplicates on event_id) feeding a
    running count per type; oracle = batch distinct count."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    table = run_stream_to_table(agg, output_mode="complete")
    return spark.table(table)


@query(
    "stream_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts) - s * INTERVAL '30 minutes'
               AS win_start,
           CAST(count(*) AS BIGINT) AS n, sum(value) AS total_value
    FROM events, (SELECT unnest([0, 1]) AS s)
    WHERE event_type = 'purchase'
    GROUP BY win_start
    """,
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window, 30m slide) over the purchase stream.
    Every event lands in exactly 2 windows; the oracle enumerates both
    copies explicitly."""
    ev = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )
    table = run_stream_to_table(agg, output_mode="complete")
    return spark.table(table).select(
        F.col("win.start").alias("win_start"), "n", "total_value"
    )


@query(
    "stream_topk_trending",
    oracle="""
    WITH wins AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) - s * INTERVAL '30 minutes'
                   AS win_start,
               event_type, CAST(count(*) AS BIGINT) AS n
        FROM events, (SELECT unnest([0, 1]) AS s)
        GROUP BY 1, 2
    )
    SELECT win_start, event_type, n, CAST(rn AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY win_start
                                       ORDER BY n DESC, event_type) AS rn
          FROM wins)
    WHERE rn <= 3
    """,
)
def q_stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard: top-3 event types per sliding window (1h
    window, 30m slide). The RANKING runs over the drained sink table,
    not inside the stream — streaming aggregation cannot host a rank
    window (complete-mode aggregates only), so the production shape is
    exactly this: the stream maintains windowed counts, the dashboard
    query ranks the sink. Counts are integers, so micro-batch merge
    order cannot drift the ranking."""
    from pyspark.sql import Window as W

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    table = run_stream_to_table(agg, output_mode="complete")
    w = W.partitionBy("win.start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        spark.table(table)
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "rnk")
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_first
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: stateful dedup whose per-key state
    EXPIRES once the watermark passes it — the bounded-state production
    form (plain streaming dropDuplicates keeps every key forever). The
    whole file drains in one micro-batch here, so no state expires and
    the batch distinct-count oracle is exact. The dedup key INCLUDES the
    grouping column: dropDuplicatesWithinWatermark keeps an arbitrary
    first arrival per key, so counts grouped by a non-key column would
    be nondeterministic if an event_id ever appeared with two
    event_types (ADVICE r2) — per-(event_id, event_type) counts are
    deterministic for any data. Bounded-state expiry itself is
    unit-tested in tests/test_streaming.py."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id", "event_type"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_first"))
    table = run_stream_to_table(agg, output_mode="complete")
    return spark.table(table)


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 6) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the standard streaming enrichment shape: the
    unbounded event stream joins a bounded dimension snapshot per
    micro-batch (no watermark needed on the static side; Spark re-plans
    the static relation each batch, so a broadcast dim costs one
    broadcast per batch at scale). Aggregated per segment; oracle is the
    batch join over the same drained file source. Sum rounded to 6
    (driver float rule — sum order differs between engines)."""
    ev = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    table = run_stream_to_table(agg, output_mode="complete")
    return spark.table(table)


@query(
    "stream_quality_histogram",
    oracle="""
    SELECT lang,
           CAST(floor((0.4 * least(CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')) AS DOUBLE) / 20.0, 1.0)
             + 0.3 * (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)) * 5, 1.0))
             + 0.3 * least((CAST(len(list_filter(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> ''), t -> list_contains(['the', 'and', 'of', 'to', 'in', 'is', 'that', 'it', 'for', 'with'], t))) AS DOUBLE)
                            / greatest(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t <> '')), 1)) * 10, 1.0)) * 10) AS BIGINT)
               AS q_decile,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_stream_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest curation gate: the documents table replayed as a
    file stream, quality-scored in-flight (all Catalyst expressions —
    the same codegen'd projection a batch gate uses), aggregated into a
    per-language quality-decile histogram (complete mode; all-integer
    counts so micro-batch merge order can't drift floats). This is the
    monitoring surface of a streaming curation pipeline — the decile
    histogram is what you'd alert on when an upstream crawler change
    shifts the quality distribution."""
    from pandas_etl_spark.functions.text import quality_score
    from pandas_etl_spark.streaming import read_table_stream, run_stream_to_table

    stream = read_table_stream(spark, sf_dir, "documents")
    hist = (
        stream.select(
            "lang", F.floor(quality_score("text") * 10).cast("bigint").alias("q_decile")
        )
        .groupBy("lang", "q_decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    table = run_stream_to_table(hist, output_mode="complete")
    return spark.table(table)


@query(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR extract(epoch FROM ts) - extract(epoch FROM lag(ts) OVER w) > {_GAP_S}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           min(ts)                                  AS session_start,
           CAST(count(*) AS BIGINT)                 AS n_events,
           sum(value)                               AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION windows on an actual STREAM (session_window_agg covers the
    batch-frame form): gap-merged per-user sessions with per-key session
    state and a watermark — the production pattern for unbounded
    clickstreams. COMPLETE output mode so the final trigger reports every
    session including the still-open tail: in append mode sessions whose
    close postdates the final watermark (the last 2h of a drained file)
    are held back as unfinalized — correct streaming semantics, but not
    comparable to a whole-input batch oracle."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", f"{_GAP_S} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    )
    table = run_stream_to_table(agg, output_mode="complete")
    return spark.table(table).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        "n_events",
        "total_value",
    )


def _parity_batches(docs: DataFrame) -> list[DataFrame]:
    """The two-micro-batch schedule of the document-ingest twins (and
    their oracles): even doc_ids first, then odd."""
    return [
        docs.filter(F.pmod("doc_id", F.lit(2)) == 0),
        docs.filter(F.pmod("doc_id", F.lit(2)) == 1),
    ]


def _ts_midpoint(ev: DataFrame) -> float | None:
    """Midpoint of the events' ts range in seconds — the seq-ordered
    batch boundary of the CDC-style replays; None when ``ev`` is empty."""
    bounds = ev.agg(
        F.min(ts_seconds("ts")).alias("lo"), F.max(ts_seconds("ts")).alias("hi")
    ).first()
    if bounds is None or bounds["lo"] is None:
        return None
    return bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2


def _ts_halves(frame: DataFrame, cutoff: float) -> list[DataFrame]:
    """``frame`` as two micro-batches split at ``cutoff``, earlier first."""
    return [
        frame.filter(ts_seconds("ts") < cutoff),
        frame.filter(ts_seconds("ts") >= cutoff),
    ]


def _dedup_ingest_run(spark: SparkSession, sf_dir: str):
    """The run ``stream_dedup_ingest`` and ``stream_dedup_ingest_checked``
    share: documents replayed even-then-odd through
    ``dedup_ingest_sink(threshold=0.5)``. Returns the
    input frame and the final corpus membership (doc_id, batch). The
    membership is collected before temp cleanup — bounded at the gate
    scales these twins run at (the production path streams to durable
    storage and never collects)."""
    from pandas_etl_spark.streaming import dedup_ingest_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with replay_microbatches(
        spark,
        _parity_batches(docs),
        lambda tmp: dedup_ingest_sink(os.path.join(tmp, "corpus"), threshold=0.5),
    ) as tmp:
        try:
            rows = [
                (r["doc_id"], int(r["__batch"]))
                for r in spark.read.parquet(os.path.join(tmp, "corpus"))
                .select("doc_id", "__batch")
                .collect()
            ]
        except Exception:  # empty source: no batch ever wrote the corpus
            rows = []
    return docs, spark.createDataFrame(rows, "doc_id long, batch long")


@query("stream_dedup_ingest")
def q_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming corpus ingestion with incremental dedup
    (rows-only: the classification logic's oracle lives on its batch
    twin ``dedup_incremental``): documents arrive in two micro-batches
    (even doc_ids first, then odd), each batch classified against the
    corpus-so-far via ``streaming.dedup_ingest_sink`` — exact and near
    (Jaccard ≥ 0.5) duplicates of already-ingested docs are rejected,
    novel docs append. Returns the deterministic 1-row summary
    (input count, corpus count after ingestion, dropped count) of the
    membership ``stream_dedup_ingest_checked`` hash-verifies."""
    docs, corpus = _dedup_ingest_run(spark, sf_dir)
    n_in, kept = docs.count(), corpus.count()
    return spark.createDataFrame(
        [(n_in, kept, n_in - kept)], "n_input long, n_corpus long, n_dropped long"
    )


@query(
    "stream_ohlc_bars",
    oracle="""
    WITH o AS (
        SELECT event_type, date_trunc('hour', ts) AS bar, value, ts, event_id,
               row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, bar,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM o GROUP BY event_type, bar
    """,
)
def q_stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars computed on the LIVE stream (batch-frame twin:
    ohlc_bars): hourly window + watermark, open/close via
    min_by/max_by on the (ts, event_id) struct — declarative aggregates
    that merge correctly across triggers, so per-key streaming state is
    one struct per bar, not a row buffer. COMPLETE mode (drained file
    source) keeps the batch oracle comparable."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )
    table = run_stream_to_table(agg, output_mode="complete")
    return spark.table(table).select(
        "event_type",
        F.col("win.start").alias("bar"),
        "open",
        "high",
        "low",
        "close",
        "n_trades",
    )


@query(
    "stream_cdc_apply",
    oracle="""
    WITH ops AS (
        SELECT user_id,
               event_type AS status, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               ts, event_id
        FROM events
    ),
    latest AS (
        SELECT user_id, status, value, op FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM ops
        ) WHERE rn = 1
    ),
    merged AS (
        SELECT coalesce(l.user_id, b.c_custkey) AS user_id,
               CASE WHEN l.user_id IS NOT NULL THEN l.status
                    ELSE 'base' END AS status,
               CASE WHEN l.user_id IS NOT NULL THEN l.value
                    ELSE 0.0 END AS value,
               l.op AS op
        FROM customer b FULL OUTER JOIN latest l ON b.c_custkey = l.user_id
    )
    SELECT user_id, status, value
    FROM merged WHERE op IS NULL OR op <> 'D'
    """,
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC snapshot maintenance: the events table becomes an
    ops log (latest event = user status; 'error' = tombstone) split
    into two seq-ordered micro-batches, applied incrementally onto the
    customer base via ``streaming.cdc_apply_sink`` (versioned-parquet
    foreachBatch). The oracle replays the WHOLE log in one batch —
    passing proves incremental-apply ≡ one-shot apply when batch
    boundaries respect sequence order (the CDC transport contract)."""
    from pandas_etl_spark.streaming import cdc_apply_sink, read_snapshot_version

    ev = load_table(spark, sf_dir, "events")
    ops = ev.select(
        "user_id",
        F.col("event_type").alias("status"),
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "ts",
        "event_id",
    )
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.lit("base").alias("status"),
        F.lit(0.0).alias("value"),
    )
    with replay_microbatches(
        spark,
        _ts_halves(ops, _ts_midpoint(ev) or 0.0),  # 0.0: empty ops log
        lambda tmp: cdc_apply_sink(
            os.path.join(tmp, "snap"),
            base,
            keys=["user_id"],
            seq_cols=["ts", "event_id"],
        ),
    ) as tmp:
        try:
            result = read_snapshot_version(spark, os.path.join(tmp, "snap"))
        except FileNotFoundError:  # empty source: no micro-batch committed
            return base
        # materialize before the snapshot files the lazy plan reads go
        return result.localCheckpoint(eager=True)


@query(
    "stream_quality_gate",
    oracle="""
    WITH tagged AS (
        SELECT *,
               (CASE WHEN NOT coalesce(value >= 0, FALSE)
                     THEN 1 ELSE 0 END
              + CASE WHEN NOT coalesce(event_type IN
                         ('view','click','purchase','signup'), FALSE)
                     THEN 1 ELSE 0 END) AS n_viol
        FROM events
    )
    SELECT n_viol > 0 AS quarantined,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 6) AS total_value
    FROM tagged GROUP BY quarantined
    """,
)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion quality gate end-to-end
    (streaming.quality_gate_sink + operators/quality.split_by_rules):
    the events replay as one file-stream micro-batch that splits into
    clean appends and a quarantine dir carrying violated_rules. Returns
    the 2-row good/quarantined census; the oracle recomputes the same
    split row-logic in batch SQL — valid because the stream drains
    fully, the gate drops nothing, and a row-wise gate cannot depend on
    the micro-batch schedule."""
    from functools import reduce

    from pandas_etl_spark.streaming import quality_gate_sink

    rules = [
        ("value_nonneg", "value >= 0"),
        ("known_type", "event_type IN ('view','click','purchase','signup')"),
    ]

    def _read(path, quarantined):
        try:
            d = spark.read.parquet(path)
        except Exception:
            return None
        return d.agg(
            F.lit(quarantined).alias("quarantined"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )

    with replay_microbatches(
        spark,
        [load_table(spark, sf_dir, "events")],
        lambda tmp: quality_gate_sink(
            os.path.join(tmp, "good"), os.path.join(tmp, "quarantine"), rules
        ),
    ) as tmp:
        parts = [
            p
            for p in (
                _read(os.path.join(tmp, "good"), False),
                _read(os.path.join(tmp, "quarantine"), True),
            )
            if p is not None
        ]
        if not parts:
            return spark.createDataFrame(
                [], "quarantined boolean, n_rows bigint, total_value double"
            )
        out = reduce(DataFrame.unionAll, parts).filter(F.col("n_rows") > 0)
        # materialize (≤2 rows) before the stores the aggs read go
        return out.localCheckpoint(eager=True)


_MANIFEST_COLS = ["doc_id", "lang", "source", "n_chars"]


def _manifest_ingest_run(spark: SparkSession, sf_dir: str, read_manifest):
    """The run ``stream_manifest_ingest`` and
    ``stream_manifest_ingest_checked`` share: the documents' manifest
    columns replayed even-then-odd through
    ``manifest_ingest_sink(key_col="doc_id")`` into a release dir.
    Returns the input frame and ``read_manifest(spark, release_dir)``,
    evaluated before temp cleanup — None when it raises (empty source:
    no batch landed, so there is no manifest)."""
    from pandas_etl_spark.operators.checksum import manifest_ingest_sink

    docs = load_table(spark, sf_dir, "documents").select(*_MANIFEST_COLS)
    with replay_microbatches(
        spark,
        _parity_batches(docs),
        lambda tmp: manifest_ingest_sink(
            os.path.join(tmp, "release"), _MANIFEST_COLS, key_col="doc_id"
        ),
    ) as tmp:
        try:
            manifest = read_manifest(spark, os.path.join(tmp, "release"))
        except Exception:
            manifest = None
    return docs, manifest


@query("stream_manifest_ingest")
def q_stream_manifest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion with an incrementally XOR-merged integrity
    manifest (operators/checksum.manifest_ingest_sink): documents
    arrive in two micro-batches, each appends and folds its
    fingerprint into the manifest in O(batch); the query then runs the
    full ``verify_manifest`` recompute and returns (n_input, n_rows,
    verified) — proving incremental ≡ cold fingerprint. Rows-only
    driver check (summary row); replay-skip and tamper cases covered
    in tests/test_operators.py."""
    from pandas_etl_spark.operators.checksum import verify_manifest

    docs, res = _manifest_ingest_run(spark, sf_dir, verify_manifest)
    if res is None:  # empty source: no batch landed, nothing to verify
        n_rows, ok = 0, True
    else:
        n_rows, ok = res["n_rows"], bool(res["ok"])
    return spark.createDataFrame(
        [(docs.count(), n_rows, ok)],
        "n_input long, n_rows long, verified boolean",
    )


@query("stream_hll_ingest")
def q_stream_hll_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the mergeable HLL distinct-count
    rollup (streaming.hll_ingest_sink): events arrive in two
    micro-batches (first/second half of the month), each sketched at
    O(batch) and union-merged into a versioned per-day rollup. The
    1-row summary embeds the incremental ≡ one-shot proof — because
    sketch union is order/partition/batch-boundary-invariant, the
    streamed rollup's per-day AND grand-total estimates must equal a
    cold batch hll_rollup over all events EXACTLY (verified=true), not
    just approximately. Rows-only driver check (summary row);
    replay-skip is covered in tests/test_streaming.py."""
    from pandas_etl_spark.operators.sketches import hll_estimate, hll_rollup
    from pandas_etl_spark.streaming import (
        hll_ingest_sink,
        read_snapshot_version,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    # total split under NULL day (see the checked twin's note): null
    # rows land deterministically in batch 0 instead of vanishing.
    cut = F.coalesce(F.dayofmonth(F.col("day")) <= 15, F.lit(True))
    with replay_microbatches(
        spark,
        [ev.filter(cut), ev.filter(~cut)],
        lambda tmp: hll_ingest_sink(
            os.path.join(tmp, "rollup"), "user_id", ["day"]
        ),
    ) as tmp:
        try:
            streamed = read_snapshot_version(
                spark, os.path.join(tmp, "rollup")
            ).drop("__batch")
        except FileNotFoundError:  # empty source: nothing landed
            return spark.createDataFrame(
                [(0, 0, 0, True)],
                "n_days long, est_streamed long, est_batch long, verified boolean",
            )

        def _estimates(rollup):
            daily = {
                r["day"]: r["distinct_est"]
                for r in hll_estimate(rollup, ["day"]).collect()
            }
            # estimate over zero sketches is null (empty-source batch landed)
            return daily, hll_estimate(rollup, []).first()["distinct_est"] or 0

        s_daily, s_total = _estimates(streamed)
        c_daily, c_total = _estimates(hll_rollup(ev, "user_id", ["day"]))
    verified = s_daily == c_daily and s_total == c_total
    return spark.createDataFrame(
        [(len(s_daily), int(s_total), int(c_total), bool(verified))],
        "n_days long, est_streamed long, est_batch long, verified boolean",
    )


def _span_ingest_run(spark: SparkSession, sf_dir: str):
    """The run ``stream_span_ingest`` and ``stream_span_ingest_checked``
    share: documents replayed even-then-odd through
    ``span_dedup_ingest_sink(k=8, min_tokens=1)``. Returns the input
    frame and the REWRITTEN corpus (doc_id, batch, text),
    localCheckpointed before temp cleanup — None when no batch ever
    wrote the corpus (empty source)."""
    from pandas_etl_spark.streaming import span_dedup_ingest_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with replay_microbatches(
        spark,
        _parity_batches(docs),
        lambda tmp: span_dedup_ingest_sink(
            os.path.join(tmp, "corpus"), k=8, min_tokens=1
        ),
    ) as tmp:
        try:
            corpus = (
                spark.read.parquet(os.path.join(tmp, "corpus"))
                .select(
                    "doc_id",
                    F.col("__batch").cast("bigint").alias("batch"),
                    "text",
                )
                .localCheckpoint(eager=True)
            )
        except Exception:  # empty source: no batch ever wrote the corpus
            corpus = None
    return docs, corpus


@query("stream_span_ingest")
def q_stream_span_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming SPAN-level ingestion (rows-only: the
    rewrite logic's oracle lives on its batch twin
    ``span_dedup_incremental``): documents arrive in two micro-batches
    (even doc_ids first, then odd), each rewritten against the grams
    accepted so far via ``streaming.span_dedup_ingest_sink``. The
    1-row summary embeds an incremental ≡ two-phase-batch proof: the
    streamed corpus must equal running exact_span_dedup on batch 0
    then span_dedup_against(batch 1, accepted-0 grams) by hand."""
    from pandas_etl_spark.functions.text import (
        corpus_span_grams,
        exact_span_dedup,
        span_dedup_against,
    )

    docs, corpus = _span_ingest_run(spark, sf_dir)
    n_in = docs.count()
    if corpus is None:
        return spark.createDataFrame(
            [(n_in, 0, 0, n_in == 0)],
            "n_input long, n_corpus long, n_tokens_removed long, verified boolean",
        )
    got = corpus.select("doc_id", "text")

    def _accepted(rewritten):
        return rewritten.filter(
            (F.col("n_tokens") - F.col("n_removed")) >= 1
        ).select(F.col("id").alias("doc_id"), F.col("text_dedup").alias("text"))

    # two-phase batch replay of the same schedule
    b0, b1 = _parity_batches(docs)
    r0 = exact_span_dedup(b0, "text", "doc_id", k=8)
    r1 = span_dedup_against(
        b1, corpus_span_grams(_accepted(r0), "text", 8), "text", "doc_id", 8
    )
    expect = _accepted(r0).unionByName(_accepted(r1))
    n_removed = sum(r.agg(F.sum("n_removed")).first()[0] or 0 for r in (r0, r1))
    mismatches = (
        got.exceptAll(expect).count() + expect.exceptAll(got).count()
    )
    return spark.createDataFrame(
        [(n_in, got.count(), int(n_removed), mismatches == 0)],
        "n_input long, n_corpus long, n_tokens_removed long, verified boolean",
    )


@query(
    "stream_geo_density",
    oracle="""
    SELECT CAST(floor((-60.0 + 120.0 * (CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || '-lat'), 1, 8) AS BIGINT) / CAST(4294967296 AS DOUBLE))) / 10.0) AS BIGINT) AS cell_y,
           CAST(floor((-180.0 + 360.0 * (CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || '-lon'), 1, 8) AS BIGINT) / CAST(4294967296 AS DOUBLE))) / 10.0) AS BIGINT) AS cell_x,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    GROUP BY 1, 2
    """,
)
def q_stream_geo_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming location-density rollup: the customer table replayed
    as a file stream, synthetic coordinates derived in-flight (same
    codegen'd md5 expressions as batch geo_cell_density), counted per
    10-degree grid cell in complete mode. All-integer counts, so
    micro-batch merge order cannot drift the result; the oracle is the
    batch GROUP BY the stream must converge to."""
    from pandas_etl_spark.operators.geo import with_synthetic_coords
    from pandas_etl_spark.streaming import read_table_stream, run_stream_to_table

    stream = with_synthetic_coords(
        read_table_stream(spark, sf_dir, "customer"), "c_custkey"
    )
    dens = stream.groupBy(
        F.floor(F.col("lat") / 10.0).cast("bigint").alias("cell_y"),
        F.floor(F.col("lon") / 10.0).cast("bigint").alias("cell_x"),
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    table = run_stream_to_table(dens, output_mode="complete")
    return spark.table(table)


@query(
    "stream_mv_incremental",
    oracle="""
    WITH ops AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               ts, event_id
        FROM events
    ),
    latest AS (
        SELECT user_id, cents, op FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM ops
        ) WHERE rn = 1
    ),
    base AS (
        SELECT c_custkey AS user_id, CAST(0 AS BIGINT) AS cents
        FROM customer
    ),
    merged AS (
        SELECT coalesce(l.user_id, b.user_id) AS user_id,
               CASE WHEN l.user_id IS NOT NULL THEN l.cents
                    ELSE b.cents END AS cents,
               l.op AS op
        FROM base b FULL OUTER JOIN latest l ON b.user_id = l.user_id
    ),
    applied AS (SELECT * FROM merged WHERE op IS NULL OR op <> 'D')
    SELECT user_id % 10 AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM applied GROUP BY bucket
    """,
)
def q_stream_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance end-to-end: the events
    table becomes a CDC ops log (latest event per user wins; 'error' =
    tombstone) split into two seq-ordered micro-batches; each batch
    updates a per-bucket (count, sum-cents) MV via
    ``streaming.mv_maintain_sink`` — per-batch cost O(|batch| + |MV|),
    the MV is NEVER re-aggregated from the snapshot. The oracle
    aggregates the one-shot replay of the whole log, so a green hash
    proves streamed delta maintenance ≡ batch recompute (the MV
    maintenance invariant), the streaming twin of mv_incremental_agg's
    batch proof."""
    from pandas_etl_spark.streaming import mv_maintain_sink, snapshot_versions

    ev = load_table(spark, sf_dir, "events")
    ops = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "ts",
        "event_id",
    )
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.lit(0).cast("bigint").alias("cents"),
    )
    with replay_microbatches(
        spark,
        _ts_halves(ops, _ts_midpoint(ev) or 0.0),  # 0.0: empty ops log
        lambda tmp: mv_maintain_sink(
            os.path.join(tmp, "state"),
            base,
            keys=["user_id"],
            seq_cols=["ts", "event_id"],
            bucket_of=lambda df: F.col("user_id") % 10,
            value_col="cents",
        ),
    ) as tmp:
        state = os.path.join(tmp, "state")
        versions = snapshot_versions(state)
        if not versions:  # empty source: the seed MV is the answer
            return base.groupBy((F.col("user_id") % 10).alias("bucket")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("bal_cents"),
            )
        result = spark.read.parquet(
            os.path.join(state, f"v{versions[-1]}", "mv")
        ).select("bucket", "n_rows", "bal_cents")
        # materialize the 10-row MV before its files go
        return result.localCheckpoint(eager=True)


@query(
    "stream_asof_enrich",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, arg_max(value, event_id) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_value, c.ts AS ts_click
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING as-of enrichment — the feature-serving shape: purchase
    events arrive as micro-batches and each batch is enriched per
    foreachBatch with the most recent click at-or-before it from a
    STATIC click snapshot (the distributed union-tag as-of join of
    operators/asof.py — per-row enrichment against a static right side
    is batching-invariant, so the one-shot batch as-of join is an exact
    oracle). Enriched batches land as ``__batch=<id>`` partitions under
    dynamic overwrite — the replay-safe append convention of the other
    foreachBatch sinks (a checkpoint replay overwrites its own
    partition, never duplicates). Streaming twin of asof_join_events."""
    from pandas_etl_spark.operators.asof import asof_join
    from pandas_etl_spark.streaming import write_batch_partition

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    # purchases without a click match: the shape of the empty answers
    unmatched = purchases.select(
        "event_id", "user_id", "ts", "value",
        F.lit(None).cast("double").alias("click_value"),
        F.lit(None).cast(purchases.schema["ts"].dataType).alias("ts_click"),
    )
    cutoff = _ts_midpoint(ev)
    if cutoff is None:
        return unmatched

    def make_sink(tmp: str):
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            enriched = asof_join(
                batch_df, clicks, on="ts", by="user_id", suffix="_click"
            )
            write_batch_partition(enriched, batch_id, os.path.join(tmp, "out"))

        return sink

    with replay_microbatches(spark, _ts_halves(purchases, cutoff), make_sink) as tmp:
        out = os.path.join(tmp, "out")
        # zero purchases: every micro-batch is empty, the dynamic-overwrite
        # sink never writes a partition, and reading the store would fail
        # schema inference (r7 ADVICE) — return the stable empty frame
        if not os.path.isdir(out) or not any(
            n.startswith("__batch=") for n in os.listdir(out)
        ):
            return unmatched.filter(F.lit(False))
        result = spark.read.parquet(out).select(
            "event_id", "user_id", "ts", "value", "click_value", "ts_click"
        )
        # materialize before the files the lazy plan reads are deleted
        return result.localCheckpoint(eager=True)


def _stream_dedup_ingest_checked_oracle() -> str:
    """ANSI replay of the two-batch streaming dedup ingest (VERDICT r8
    #7 — batching-invariance twin of the rows-only
    ``stream_dedup_ingest``): batch 0 = even doc_ids against an empty
    corpus (all append, and they freeze the stop set — the index-backed
    sink's contract), batch 1 = odd doc_ids classified against the
    even corpus with that frozen stop set (md5 exact + corpus-rare
    k-gram Jaccard >= 0.5, the dedup_incremental oracle fragments
    verbatim). The final corpus membership (doc_id, batch) is the
    hash-checked output."""
    from pandas_etl_spark.catalog.dedup import (
        _DD_NORM,
        _DD_SHINGLES,
        _MAX_DF,
    )

    return f"""
    WITH evens AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    odds  AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    corp_fp AS (SELECT DISTINCT md5({_DD_NORM}) AS fp FROM evens),
    new_fp  AS (SELECT doc_id AS id, md5({_DD_NORM}) AS fp FROM odds),
    exact   AS (SELECT id FROM new_fp JOIN corp_fp USING (fp)),
    sh_cor0 AS (SELECT doc_id AS id, unnest({_DD_SHINGLES}) AS shingle FROM evens),
    sh_new0 AS (SELECT doc_id AS id, unnest({_DD_SHINGLES}) AS shingle FROM odds),
    stop    AS (SELECT shingle FROM sh_cor0 GROUP BY shingle
                HAVING count(*) > {_MAX_DF}),
    sh_cor  AS (SELECT * FROM sh_cor0 WHERE shingle NOT IN (SELECT shingle FROM stop)),
    sh_new  AS (SELECT * FROM sh_new0 WHERE shingle NOT IN (SELECT shingle FROM stop)),
    n_new   AS (SELECT id, count(*) AS n_a FROM sh_new GROUP BY id),
    n_cor   AS (SELECT id, count(*) AS n_b FROM sh_cor GROUP BY id),
    shared  AS (
        SELECT a.id AS id_a, c.id AS id_b, count(*) AS shared
        FROM sh_new a JOIN sh_cor c USING (shingle)
        GROUP BY 1, 2
    ),
    near    AS (
        SELECT id_a AS id
        FROM shared
        JOIN n_new ON n_new.id = shared.id_a
        JOIN n_cor ON n_cor.id = shared.id_b
        WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.5
        GROUP BY id_a
    )
    SELECT doc_id, CAST(0 AS BIGINT) AS batch FROM evens
    UNION ALL
    SELECT o.doc_id, CAST(1 AS BIGINT) AS batch
    FROM odds o
    LEFT JOIN exact e ON e.id = o.doc_id
    LEFT JOIN near  nr ON nr.id = o.doc_id
    WHERE e.id IS NULL AND nr.id IS NULL
    """


@query("stream_dedup_ingest_checked", oracle=_stream_dedup_ingest_checked_oracle())
def q_stream_dedup_ingest_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED streaming corpus ingestion (the batching-
    invariance twin VERDICT r8 #7 asked for): the SAME two-micro-batch
    file stream + ``dedup_ingest_sink`` run as the
    rows-only ``stream_dedup_ingest`` (``_dedup_ingest_run``), but the
    output is the per-doc corpus membership (doc_id, batch) instead of
    a 1-row summary — so the oracle hash-verifies WHICH documents each
    batch kept, i.e. the incremental classification itself (exact md5 /
    frozen-stop-set near-Jaccard / novel), not just the counts."""
    return _dedup_ingest_run(spark, sf_dir)[1]


@query(
    "stream_counter_checked",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_counter_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED arbitrary stateful streaming (the second VERDICT
    r8 #7 twin): the SAME applyInPandasWithState running-counter
    pipeline as the rows-only ``stream_stateful_counter``, with the
    FINAL per-user state hash-verified against the plain batch GROUP BY
    — the batching-invariance contract of a mergeable stateful
    operator (state folded over any micro-batch schedule must equal the
    one-shot aggregate). Totals pin to 4 decimals: event values are
    exact cents, so every per-user sum is within ulp noise of an exact
    2-decimal value — dead-center of its 1e-4 rounding cell regardless
    of fold order (cf. scripts/float_margin_audit.py), unlike a
    6-decimal pin whose margin would be ~the reassociation drift."""
    return _running_counter(spark, sf_dir, 4)


def _stream_span_ingest_checked_oracle() -> str:
    """ANSI replay of the two-batch streaming SPAN ingest (the third
    VERDICT r8 #7 twin, substring-level counterpart of
    stream_dedup_ingest_checked): batch 0 = evens span-deduped among
    themselves (exact_span_dedup semantics — min-id gram ownership,
    8-token windows, coverage-union rewrite); the ACCEPTED evens'
    REWRITTEN texts contribute the gram index; batch 1 = odds rewritten
    against that index (index hits cut everywhere, index-fresh grams
    fall to in-batch min-id ownership), keeping docs with >= 1 token.
    The final corpus (doc_id, batch, rewritten text) is hash-checked."""
    gh = (
        "CAST('0x' || substring(md5(array_to_string(t[pos+1:pos+8], ' ')),"
        " 1, 15) AS BIGINT)"
    )
    return f"""
    WITH tok0 AS (SELECT doc_id AS id, string_split(text, ' ') AS t
                  FROM documents WHERE doc_id % 2 = 0),
    p0 AS (SELECT id, unnest(generate_series(0, len(t) - 8)) AS pos, t
           FROM tok0),
    w0 AS (SELECT id, pos, {gh} AS gh FROM p0),
    o0 AS (SELECT gh, min(id) AS owner FROM w0 GROUP BY gh),
    dup0 AS (SELECT w0.id, w0.pos FROM w0 JOIN o0 USING (gh)
             WHERE w0.id > o0.owner),
    cov0 AS (SELECT DISTINCT id, idx FROM
             (SELECT id, pos + unnest(generate_series(0, 7)) AS idx
              FROM dup0)),
    tp0 AS (SELECT id, unnest(generate_series(0, len(t) - 1)) AS idx, t
            FROM tok0),
    tpv0 AS (SELECT id, idx, t[idx+1] AS tokv FROM tp0),
    kept0 AS (SELECT tpv0.id, tpv0.idx, tpv0.tokv FROM tpv0 LEFT JOIN cov0
              ON tpv0.id = cov0.id AND tpv0.idx = cov0.idx
              WHERE cov0.idx IS NULL),
    acc0 AS (SELECT id, string_agg(tokv, ' ' ORDER BY idx) AS text_dedup
             FROM kept0 GROUP BY id HAVING count(*) >= 1),
    gtok0 AS (SELECT id, string_split(text_dedup, ' ') AS t FROM acc0),
    gp0 AS (SELECT id, unnest(generate_series(0, len(t) - 8)) AS pos, t
            FROM gtok0),
    g0 AS (SELECT DISTINCT {gh} AS gh FROM gp0),
    tok1 AS (SELECT doc_id AS id, string_split(text, ' ') AS t
             FROM documents WHERE doc_id % 2 = 1),
    p1 AS (SELECT id, unnest(generate_series(0, len(t) - 8)) AS pos, t
           FROM tok1),
    w1 AS (SELECT id, pos, {gh} AS gh FROM p1),
    hit1 AS (SELECT id, pos FROM w1 WHERE gh IN (SELECT gh FROM g0)),
    fresh1 AS (SELECT * FROM w1 WHERE gh NOT IN (SELECT gh FROM g0)),
    own1 AS (SELECT gh, min(id) AS owner FROM fresh1 GROUP BY gh),
    dup1 AS (SELECT f.id, f.pos FROM fresh1 f JOIN own1 USING (gh)
             WHERE f.id > own1.owner),
    cut1 AS (SELECT id, pos FROM hit1 UNION SELECT id, pos FROM dup1),
    cov1 AS (SELECT DISTINCT id, idx FROM
             (SELECT id, pos + unnest(generate_series(0, 7)) AS idx
              FROM cut1)),
    tp1 AS (SELECT id, unnest(generate_series(0, len(t) - 1)) AS idx, t
            FROM tok1),
    tpv1 AS (SELECT id, idx, t[idx+1] AS tokv FROM tp1),
    kept1 AS (SELECT tpv1.id, tpv1.idx, tpv1.tokv FROM tpv1 LEFT JOIN cov1
              ON tpv1.id = cov1.id AND tpv1.idx = cov1.idx
              WHERE cov1.idx IS NULL),
    acc1 AS (SELECT id, string_agg(tokv, ' ' ORDER BY idx) AS text_dedup
             FROM kept1 GROUP BY id HAVING count(*) >= 1)
    SELECT id AS doc_id, CAST(0 AS BIGINT) AS batch, text_dedup AS text
    FROM acc0
    UNION ALL
    SELECT id, CAST(1 AS BIGINT), text_dedup FROM acc1
    """


@query("stream_span_ingest_checked", oracle=_stream_span_ingest_checked_oracle())
def q_stream_span_ingest_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED streaming span-level ingestion: the SAME
    two-micro-batch file stream + ``span_dedup_ingest_sink`` run as
    the rows-only ``stream_span_ingest`` (``_span_ingest_run``), but
    hash-verifying the full per-doc REWRITTEN corpus (doc_id, batch,
    text) instead of a 1-row equivalence summary — the oracle checks
    the actual Lee-2022-style substring cuts, token for token."""
    corpus = _span_ingest_run(spark, sf_dir)[1]
    if corpus is None:  # empty source: no batch ever wrote the corpus
        return spark.createDataFrame([], "doc_id long, batch long, text string")
    return corpus


@query(
    "stream_manifest_ingest_checked",
    oracle="""
    WITH h AS (
        SELECT CAST('0x' || substring(md5(concat_ws(chr(31),
                   CAST(doc_id AS VARCHAR), lang,
                   CAST(n_chars AS VARCHAR), source)), 1, 15) AS BIGINT)
                   AS rh,
               doc_id
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           coalesce(bit_xor(rh), 0) AS xor_hash,
           min(doc_id) AS key_min,
           max(doc_id) AS key_max
    FROM h
    """,
)
def q_stream_manifest_ingest_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED streaming manifest maintenance (fourth VERDICT r8
    #7 twin): the SAME two-micro-batch manifest_ingest_sink run as
    the rows-only ``stream_manifest_ingest`` (``_manifest_ingest_run``),
    but the output is the manifest's STORED incremental state (n_rows,
    xor_hash, key_min, key_max as folded batch by batch — NOT a
    recompute), hash-verified against DuckDB's one-shot cold
    fingerprint of the whole table. A green row proves the XOR-mergeable
    fold is exactly order-independent across any micro-batch schedule
    AND that the portable per-row md5 fingerprint is bit-identical
    cross-engine. Note the sink sorts its column list, so the oracle
    concatenates (doc_id, lang, n_chars, source) in that sorted order."""
    import json

    _, m = _manifest_ingest_run(
        spark,
        sf_dir,
        lambda spark, path: json.loads(
            spark.read.text(f"{path}/_manifest").first()["value"]
        ),
    )
    if m is None:  # empty source: no manifest — XOR identity state
        row = (0, 0, None, None)
    else:
        row = (m["n_rows"], m["xor_hash"], m.get("key_min"), m.get("key_max"))
    return spark.createDataFrame(
        [row], "n_rows long, xor_hash long, key_min long, key_max long"
    )


from pandas_etl_spark.catalog.analytics import _HLL_CHECKED_ORACLE  # noqa: E402


@query("stream_hll_ingest_checked", oracle=_HLL_CHECKED_ORACLE)
def q_stream_hll_ingest_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CHECKED streaming HLL maintenance (fifth VERDICT r8 #7
    twin — with it EVERY rows-only streaming sink family has a
    hash-verified twin): events arrive in two micro-batches (first /
    second half of the month) and each batch's PORTABLE p=8 register
    grid (md5 buckets — see hll_distinct_checked) is max-MERGED onto
    the stored grid as a new immutable version, the mergeable-sketch
    fold the DataSketches production sink (stream_hll_ingest) runs
    with JVM sketch bytes. The final folded registers feed the same
    estimate tail as the batch twin and are hash-verified against
    DuckDB's ONE-SHOT oracle — register union is provably
    batch-schedule-invariant, cross-engine, not just self-consistent
    (the rows-only sink's verified=true row). Register state is
    (type, bucket, M) — KB-sized; batches never rescan the corpus."""
    from pandas_etl_spark.catalog.analytics import (
        _portable_hll_finish,
        _portable_hll_regs,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id"
    )
    # coalesce(..., True) makes the split TOTAL: a NULL ts satisfies
    # neither `cut` nor `~cut`, so without it null-ts rows would fall
    # out of the streamed fold while the one-shot oracle scans them
    # (ADVICE r9) — deterministic batch-0 placement keeps the twin
    # honest if the events contract ever admits null timestamps.
    cut = F.coalesce(F.dayofmonth(F.date_trunc("day", "ts")) <= 15, F.lit(True))
    state = {"v": -1}

    def make_sink(tmp: str):
        regs_root = os.path.join(tmp, "regs")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            regs_b = _portable_hll_regs(batch_df.select("event_type", "user_id"))
            if state["v"] >= 0:
                old = spark.read.parquet(
                    os.path.join(regs_root, f"v{state['v']}")
                )
                regs_b = (
                    regs_b.unionByName(old)
                    .groupBy("event_type", "bucket")
                    .agg(F.max("M").alias("M"))
                )
            regs_b.write.mode("overwrite").parquet(
                os.path.join(regs_root, f"v{batch_id}")
            )
            state["v"] = batch_id

        return sink

    with replay_microbatches(
        spark, [ev.filter(cut), ev.filter(~cut)], make_sink
    ) as tmp:
        if state["v"] < 0:  # empty source: no batch ever folded registers
            return spark.createDataFrame(
                [],
                "event_type string, exact_users long, empty_registers long, "
                "hll_est double, rel_err double",
            )
        folded = spark.read.parquet(os.path.join(tmp, "regs", f"v{state['v']}"))
        return _portable_hll_finish(spark, folded, ev).localCheckpoint(
            eager=True
        )
