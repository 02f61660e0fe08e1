"""Streaming semantics beyond the oracle harness: stateful operator
value-parity with batch, watermark late-data behavior."""

from __future__ import annotations
import pytest

from pyspark.sql import functions as F

from pandas_etl_spark.catalog import QUERIES
from pandas_etl_spark.sources import load_table


def test_stateful_counter_matches_batch(spark, sf_dir):
    got = {
        r.user_id: (r.n_events, round(r.total_value, 3))
        for r in QUERIES["stream_stateful_counter"](spark, sf_dir).collect()
    }
    exp = {
        r.user_id: (r.n, round(r.t, 3))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert got == exp


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with watermark: a row far behind the
    watermark arriving in a later batch is dropped."""
    import pandas as pd

    d1 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:05:00", "2024-01-01 12:00:00"]), "v": [1.0, 2.0]}
    )
    d2 = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 10:10:00"]), "v": [100.0]})  # late
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(d1).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("v").alias("total"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(d2).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        # force one more empty-ish microbatch so closed windows flush
        spark.createDataFrame(
            pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 14:00:00"]), "v": [0.0]})
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.w.start.hour: r.total for r in spark.sql("SELECT * FROM late_test").collect()}
    # the 10:00 window must NOT include the late 100.0 (arrived after
    # watermark passed 11:50)
    assert rows.get(10) == 1.0


def test_dedup_within_watermark_drops_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate key arriving within the
    watermark window is dropped, across micro-batches."""
    import pandas as pd

    src = tmp_path / "dsrc"
    src.mkdir()
    d1 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 10:01:00"]),
            "k": [1, 2],
            "v": [1.0, 2.0],
        }
    )
    # batch 2: duplicate k=1 (within watermark) + fresh k=3
    d2 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 10:02:00", "2024-01-01 10:03:00"]),
            "k": [1, 3],
            "v": [99.0, 3.0],
        }
    )
    spark.createDataFrame(d1).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema("ts timestamp, k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_wm_test")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(d2).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.k: r.v for r in spark.sql("SELECT * FROM dedup_wm_test").collect()}
    # k=1 kept from its FIRST arrival (v=1.0, not 99.0); k=3 passes
    assert rows == {1: 1.0, 2: 2.0, 3: 3.0}


def test_foreachbatch_idempotent_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch — the production sink pattern Spark lacks built-in
    connectors for: each micro-batch lands as a parquet partition keyed
    by batch_id, so replays of the same batch OVERWRITE (idempotent)
    rather than duplicate. Replaying the batch function must not change
    the result."""
    from pandas_etl_spark.streaming import read_events_stream

    out = str(tmp_path / "sink")
    captured = []

    def sink(batch_df, batch_id):
        captured.append((batch_id, batch_df))
        (
            batch_df.withColumn("__batch", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("__batch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out)
        )

    ev = read_events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        ev.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    first = {r.event_type: r.n for r in spark.read.parquet(out).collect()}
    # replay the LAST batch verbatim — dynamic partition overwrite makes it a no-op
    bid, bdf = captured[-1]
    sink(bdf, bid)
    again = {r.event_type: r.n for r in spark.read.parquet(out).collect()}
    assert first == again
    exp = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert first == exp


def test_transform_with_state_batch_parity(spark, sf_dir):
    """Spark 4 transformWithStateInPandas (typed ValueState processor):
    drained single-batch output must equal the batch groupBy. Self-skips
    where the protobuf package is absent (sandbox limitation — the
    streaming runner's state protocol needs it; applyInPandasWithState
    covers arbitrary state unconditionally)."""
    import pytest as _pytest

    from pandas_etl_spark.streaming.tws import tws_available, user_stats_tws

    if not tws_available():
        with _pytest.raises(NotImplementedError, match="protobuf"):
            user_stats_tws(spark, sf_dir)
        _pytest.skip("protobuf not installed — transformWithState gated")

    from pyspark.sql import functions as F

    from pandas_etl_spark.sources import load_table

    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in user_stats_tws(spark, sf_dir).collect()
    }
    exp = {
        r.user_id: (r.n, round(r.t, 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert got == exp


def test_stream_reads_directory_layout(spark, sf_dir, tmp_path):
    """read_table_stream must also stream a normal Spark-written parquet
    DIRECTORY (the driver testdata uses single files; production tables
    are directories — a glob filter tuned to the file layout silently
    read zero rows from directories)."""
    from pandas_etl_spark.streaming import read_table_stream, run_stream_to_table

    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    src.write.parquet(str(tmp_path / "region.parquet"))
    stream = read_table_stream(spark, str(tmp_path), "region")
    table = run_stream_to_table(
        stream.groupBy().count(), output_mode="complete"
    )
    assert spark.table(table).collect()[0]["count"] == src.count() > 0


def test_stream_ingest_then_compact(spark, sf_dir, tmp_path):
    """The small-files lifecycle: a file-stream ingest (maxFilesPerTrigger
    =1 → one output file batch) leaves a fragmented table; compact_parquet
    rewrites it into the target file count with identical content —
    streaming write + periodic OPTIMIZE, the standard lakehouse pairing."""
    import glob

    from pandas_etl_spark.sources.layout import compact_parquet
    from pandas_etl_spark.streaming import read_events_stream

    out = str(tmp_path / "ingested")
    q = (
        read_events_stream(spark, sf_dir)
        .select("event_id", "user_id", "value")
        .repartition(8)  # simulate many-task micro-batches
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n_small = len(glob.glob(out + "/*.parquet"))
    assert n_small >= 8

    ingested = spark.read.parquet(out)
    total = sum(
        __import__("os").path.getsize(f) for f in glob.glob(out + "/*.parquet")
    )
    compacted = str(tmp_path / "compacted")
    n = compact_parquet(spark, out, compacted, target_file_bytes=total // 2 + 1)
    assert len(glob.glob(compacted + "/*.parquet")) == n < n_small
    assert spark.read.parquet(compacted).exceptAll(ingested).count() == 0


def test_dedup_ingest_sink_keeps_corpus_clean(spark, tmp_path):
    """Streaming corpus ingestion: batch 2's exact dup and near dup of
    batch-1 docs must NOT enter the corpus; its novel doc must.
    Classification runs against the sink's maintained .dedup_index."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandas_etl_spark.streaming import dedup_ingest_sink

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls softly on the quiet village rooftops at dusk every evening"
    )
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {"doc_id": [1, 2], "text": [base, "completely different content "
             "about spark physical plans and shuffle partitioning strategies"]}
        ),
        str(src / "b1.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": [3, 4, 5],
                "text": [
                    base,  # exact dup of doc 1
                    base.replace("dusk", "dawn"),  # near dup of doc 1
                    "a wholly novel third document discussing morton codes "
                    "and parquet footer statistics for file skipping",
                ],
            }
        ),
        str(src / "b2.parquet"),
    )
    # force discovery order: b1 strictly older than b2
    now = 1_700_000_000
    os.utime(src / "b1.parquet", (now - 100, now - 100))
    os.utime(src / "b2.parquet", (now, now))

    corpus = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(dedup_ingest_sink(corpus, threshold=0.5))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    kept = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
    assert kept == {1, 2, 5}


def test_snapshot_versioning_lifecycle(spark, tmp_path):
    """cdc_apply_sink writes v{n}; read_snapshot_version time-travels;
    vacuum keeps the newest k and refuses keep_last=0."""
    import pytest as _pytest

    from pandas_etl_spark.operators.upsert import cdc_apply
    from pandas_etl_spark.streaming import (
        read_snapshot_version,
        vacuum_snapshot_versions,
    )

    snap = str(tmp_path / "snap")
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    state = base
    # simulate three committed versions
    for i, (k, v, op) in enumerate([(2, "b", "U"), (1, None, "D"), (3, "c", "U")]):
        ops = spark.createDataFrame([(k, v, op, i)], "k long, v string, op string, seq long")
        state = cdc_apply(state, ops, ["k"], ["seq"])
        state.write.parquet(f"{snap}/v{i}")
        state = spark.read.parquet(f"{snap}/v{i}")
    assert {r["k"] for r in read_snapshot_version(spark, snap).collect()} == {2, 3}
    assert {r["k"] for r in read_snapshot_version(spark, snap, 0).collect()} == {1, 2}
    with _pytest.raises(FileNotFoundError):
        read_snapshot_version(spark, snap, 9)
    with _pytest.raises(ValueError):
        vacuum_snapshot_versions(snap, keep_last=0)
    removed = vacuum_snapshot_versions(snap, keep_last=1)
    assert removed == [0, 1]
    assert {r["k"] for r in read_snapshot_version(spark, snap).collect()} == {2, 3}
    with _pytest.raises(FileNotFoundError):
        read_snapshot_version(spark, snap, 0)  # vacuumed away


def test_quality_gate_sink_quarantines(spark, tmp_path, sf_dir):
    """Streaming ingest with a quality gate: bad rows land in the
    quarantine dir with their violated_rules column; good rows append
    clean; nothing is dropped (good + bad = input)."""
    import os

    from pandas_etl_spark.streaming import quality_gate_sink, read_events_stream

    good, quar = str(tmp_path / "good"), str(tmp_path / "quarantine")
    rules = [
        ("value_nonneg", "value >= 0"),
        ("known_type", "event_type IN ('view','click','purchase','signup')"),
    ]
    stream = read_events_stream(spark, sf_dir)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(quality_gate_sink(good, quar, rules))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_in = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    g = spark.read.parquet(good) if os.path.isdir(good) else None
    b = spark.read.parquet(quar)
    n_good = g.count() if g is not None else 0
    n_bad = b.count()
    assert n_good + n_bad == n_in
    assert n_bad > 0  # fixture contains 'error' events -> known_type fails
    assert "violated_rules" in b.columns
    bad_rules = {r0 for r in b.select("violated_rules").collect() for r0 in r[0]}
    assert "known_type" in bad_rules
    if g is not None:
        assert set(g.columns) == set(stream.schema.fieldNames())


def test_span_dedup_ingest_sink_rewrites_batches(spark, tmp_path):
    """Streaming span-level ingestion: batch 2's doc sharing an 8-token
    run with batch 1 lands REWRITTEN (run cut, novel remainder kept),
    a fully-duplicated doc collapses below min_tokens and is dropped,
    and a novel doc lands untouched."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandas_etl_spark.streaming import span_dedup_ingest_sink

    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"doc_id": [1], "text": [f"a1 a2 {run} a3"]}),
        str(src / "b1.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": [2, 3, 4],
                "text": [
                    f"n1 n2 {run} n3 n4",  # partial dup -> rewritten
                    run,                   # full dup -> dropped
                    "w1 w2 w3 w4 w5",      # novel -> untouched
                ],
            }
        ),
        str(src / "b2.parquet"),
    )
    now = 1_700_000_000
    os.utime(src / "b1.parquet", (now - 100, now - 100))
    os.utime(src / "b2.parquet", (now, now))

    corpus = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = span_dedup_ingest_sink(corpus, k=8, min_tokens=1)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r.doc_id: r.text
        for r in spark.read.parquet(corpus).select("doc_id", "text").collect()
    }
    assert got == {
        1: f"a1 a2 {run} a3",
        2: "n1 n2 n3 n4",
        4: "w1 w2 w3 w4 w5",
    }
    # replay safety: re-running batch 1's sink call overwrites its own
    # partitions; content unchanged
    b1 = spark.createDataFrame(
        [(1, f"a1 a2 {run} a3")], "doc_id long, text string"
    )
    sink(b1, 0)
    again = {
        r.doc_id: r.text
        for r in spark.read.parquet(corpus).select("doc_id", "text").collect()
    }
    assert again == got


def test_hll_ingest_sink_incremental_and_replay_safe(spark, tmp_path):
    """The HLL rollup sink folds batches incrementally (versioned
    snapshots), skips checkpoint replays by batch high-water mark,
    and — union idempotence — re-ingested old data under a NEW batch
    id cannot inflate the estimate."""
    from pyspark.sql import functions as F

    from pandas_etl_spark.operators.sketches import hll_estimate
    from pandas_etl_spark.streaming import hll_ingest_sink, read_snapshot_version

    path = str(tmp_path / "rollup")
    sink = hll_ingest_sink(path, "uid", ["grp"])
    b0 = spark.createDataFrame(
        [("a", i) for i in range(50)], "grp string, uid long"
    )
    b1 = spark.createDataFrame(
        [("a", i) for i in range(40, 90)] + [("b", 1)],
        "grp string, uid long",
    )
    sink(b0, 0)
    sink(b1, 1)

    def ests():
        r = read_snapshot_version(spark, path).drop("__batch")
        return {
            x["grp"]: x["distinct_est"]
            for x in hll_estimate(r, ["grp"]).collect()
        }

    got = ests()
    assert got["b"] == 1 and abs(got["a"] - 90) <= max(3, 0.05 * 90)

    sink(b1, 1)  # checkpoint replay: same batch id -> skipped outright
    assert ests() == got

    sink(b0, 2)  # re-ingest of already-seen keys under a new batch id
    assert ests() == got  # union idempotence: estimates unchanged


def test_mv_maintain_sink_atomic_commit_and_replay_safe(spark, tmp_path):
    """mv_maintain_sink's version publish is atomic: both artifacts are
    staged under a hidden dir with a _BATCH high-water mark and renamed
    into v{n} in one step, so (a) a checkpoint replay of an applied
    batch id is skipped outright, (b) a crashed half-stage (.stage-v*)
    is invisible to recovery and reclaimed by the next commit, and (c)
    every published version is complete (snapshot + mv + _BATCH)."""
    import os

    from pyspark.sql import functions as F

    from pandas_etl_spark.streaming import mv_maintain_sink

    path = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(i, 0) for i in range(10)], "user_id long, cents long"
    )
    sink = mv_maintain_sink(
        path,
        base,
        keys=["user_id"],
        seq_cols=["seq"],
        bucket_of=lambda df: F.col("user_id") % 2,
        value_col="cents",
    )
    b0 = spark.createDataFrame(
        [(1, 100, "U", 1), (2, 50, "U", 1)],
        "user_id long, cents long, op string, seq long",
    )
    b1 = spark.createDataFrame(
        [(1, 0, "D", 2), (3, 70, "U", 2)],
        "user_id long, cents long, op string, seq long",
    )
    sink(b0, 0)
    sink(b1, 1)

    def mv():
        vs = sorted(
            int(d[1:]) for d in os.listdir(path)
            if d.startswith("v") and d[1:].isdigit()
        )
        d = os.path.join(path, f"v{vs[-1]}")
        # (c) every published version is complete
        for v in vs:
            vd = os.path.join(path, f"v{v}")
            assert {"snapshot", "mv", "_BATCH"} <= set(os.listdir(vd)), vd
        return {
            r["bucket"]: (r["n_rows"], r["bal_cents"])
            for r in spark.read.parquet(os.path.join(d, "mv")).collect()
        }

    got = mv()
    # 10 seeded users, user 1 deleted: buckets 0/1 -> 5 rows / 4 rows
    assert got[0] == (5, 50) and got[1] == (4, 70)

    # (a) replay of an applied batch id: version count must not move
    n_before = len(os.listdir(path))
    sink(b1, 1)
    assert len(os.listdir(path)) == n_before and mv() == got

    # (b) a crashed half-stage is ignored by recovery and reclaimed
    stale = os.path.join(path, ".stage-v2")
    os.makedirs(os.path.join(stale, "snapshot"), exist_ok=True)
    b2 = spark.createDataFrame(
        [(4, 30, "U", 3)], "user_id long, cents long, op string, seq long"
    )
    sink(b2, 2)
    assert not os.path.isdir(stale)
    got2 = mv()
    assert got2[0] == (5, 50 + 30) and got2[1] == (4, 70)


def test_mv_maintain_sink_crash_between_stage_writes(spark, tmp_path, monkeypatch):
    """Crash-injection for the staged commit (r7 VERDICT #5): the sink
    is KILLED between the snapshot and mv writes inside the stage dir
    (a real mid-stage death, not a synthetic empty dir). Recovery must
    (a) leave the published state untouched — _latest never observes
    the orphan half-stage; (b) on restart with a fresh sink instance,
    reclaim the orphan and converge the replayed batch to exactly the
    once-applied result."""
    import os

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from pandas_etl_spark.streaming import mv_maintain_sink

    path = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(i, 0) for i in range(10)], "user_id long, cents long"
    )

    def make_sink():
        return mv_maintain_sink(
            path,
            base,
            keys=["user_id"],
            seq_cols=["seq"],
            bucket_of=lambda df: F.col("user_id") % 2,
            value_col="cents",
        )

    b0 = spark.createDataFrame(
        [(1, 100, "U", 1), (2, 50, "U", 1)],
        "user_id long, cents long, op string, seq long",
    )
    make_sink()(b0, 0)

    def latest_mv():
        vs = sorted(
            int(d[1:]) for d in os.listdir(path)
            if d.startswith("v") and d[1:].isdigit()
        )
        d = os.path.join(path, f"v{vs[-1]}", "mv")
        return vs[-1], {
            r["bucket"]: (r["n_rows"], r["bal_cents"])
            for r in spark.read.parquet(d).collect()
        }

    v_before, mv_before = latest_mv()

    # kill the sink between the snapshot write (1st stage parquet) and
    # the mv write (2nd): the stage dir holds a real half-written version
    orig = DataFrameWriter.parquet
    stage_writes = {"n": 0}

    def crashing(self, p, *a, **kw):
        if ".stage-" in p:
            stage_writes["n"] += 1
            if stage_writes["n"] == 2:
                raise RuntimeError("injected crash before the mv write")
        return orig(self, p, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    b1 = spark.createDataFrame(
        [(1, 0, "D", 2), (3, 70, "U", 2)],
        "user_id long, cents long, op string, seq long",
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        make_sink()(b1, 1)
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)

    # (a) the orphan stage exists with ONLY the snapshot; the published
    # state is untouched — recovery never sees the half-version
    stage = os.path.join(path, f".stage-v{v_before + 1}")
    assert os.path.isdir(stage)
    assert set(os.listdir(stage)) == {"snapshot"}
    assert latest_mv() == (v_before, mv_before)

    # (b) restart: a fresh sink replays the same batch, reclaims the
    # orphan, and converges to the once-applied result
    make_sink()(b1, 1)
    assert not os.path.isdir(stage)
    v_after, mv_after = latest_mv()
    assert v_after == v_before + 1
    # user 1 deleted, user 3 (+70 bucket 1): buckets 0/1 -> 5 / 4 rows
    assert mv_after[0] == (5, 50) and mv_after[1] == (4, 70)
    vd = os.path.join(path, f"v{v_after}")
    assert {"snapshot", "mv", "_BATCH"} <= set(os.listdir(vd))


def test_mv_maintain_sink_refuses_pre_upgrade_state(spark, tmp_path):
    """A committed version dir WITHOUT its _BATCH high-water mark can
    only be pre-upgrade state; resuming would re-apply an already-
    committed batch on checkpoint replay (r7 ADVICE). The sink must
    refuse loudly instead of double-applying."""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from pandas_etl_spark.streaming import mv_maintain_sink

    path = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(i, 0) for i in range(4)], "user_id long, cents long"
    )
    sink = mv_maintain_sink(
        path,
        base,
        keys=["user_id"],
        seq_cols=["seq"],
        bucket_of=lambda df: F.col("user_id") % 2,
        value_col="cents",
    )
    b0 = spark.createDataFrame(
        [(1, 100, "U", 1)], "user_id long, cents long, op string, seq long"
    )
    sink(b0, 0)
    os.remove(os.path.join(path, "v0", "_BATCH"))  # simulate old layout
    with pytest.raises(RuntimeError, match="_BATCH"):
        sink(b0, 1)
    # discarding the state dir (the documented remedy) recovers
    shutil.rmtree(path)
    sink(b0, 1)
    assert os.path.isfile(os.path.join(path, "v0", "_BATCH"))


def test_replay_failure_leaks_no_temp_dir(spark, sf_dir, tmp_path, monkeypatch):
    """A sink that raises mid-replay propagates out of the query and
    still leaves no temp dir behind (the replay removes it in a
    finally)."""
    import tempfile

    import pandas_etl_spark.streaming as streaming

    root = tmp_path / "t"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))

    def failing_sink_factory(*args, **kwargs):
        def sink(batch_df, batch_id):
            raise RuntimeError("injected sink failure")

        return sink

    monkeypatch.setattr(streaming, "dedup_ingest_sink", failing_sink_factory)
    with pytest.raises(Exception, match="injected sink failure"):
        QUERIES["stream_dedup_ingest_checked"](spark, sf_dir)
    assert list(root.iterdir()) == []
