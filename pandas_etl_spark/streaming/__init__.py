"""Structured Streaming surface (SURVEY §2.9, north-star — the reference
is strictly batch: one-shot scheduler at /root/reference/pandas_etl/etl.py:572-617).

Two synchronous runners make streaming operators testable and
oracle-comparable against their batch equivalents:

- :func:`run_stream_to_table` drains a streaming frame (typically a
  file stream of a test table, :func:`read_table_stream`) into an
  in-memory table — the path for stateful operators (windows,
  watermarks, stream joins, applyInPandasWithState) whose result IS the
  sink table.
- :func:`replay_microbatches` replays a list of batch frames as one
  file-stream micro-batch each, in order, into a ``foreachBatch`` sink
  under a private temp dir that is removed on exit, failure included.
  The catalog's streaming queries (``catalog/streaming.py``) drive the
  incremental sinks below (``dedup_ingest_sink``,
  ``span_dedup_ingest_sink``, ``cdc_apply_sink``, ``hll_ingest_sink``,
  ``mv_maintain_sink``, ``quality_gate_sink``, and
  ``operators.checksum.manifest_ingest_sink``) through it and compare
  the sink state after the replay with a one-shot batch computation.

The remaining functions are those ``foreachBatch`` sinks and the
versioned-snapshot (``v{n}``) read/vacuum helpers they share.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Any test table's parquet as a file stream (schema from the batch
    footer — streaming readers require an explicit schema).

    Handles both layouts: ``{name}.parquet`` as a DIRECTORY (normal
    Spark write — streamed directly) or as a single FILE (the driver's
    testdata layout — file-stream sources require a directory, so the
    parent is streamed with a glob filter down to that one file)."""
    import os

    from pandas_etl_spark.sources.io import nanos_columns, normalize_nanos_ts

    path = f"{sf_dir}/{name}.parquet"
    batch = spark.read.parquet(path)
    reader = spark.readStream.schema(batch.schema).format("parquet")
    if os.path.isdir(path):
        stream = reader.load(path)
    else:
        stream = reader.option("pathGlobFilter", f"{name}.parquet").load(sf_dir)
    # nanos columns confirmed from the batch footer (same file)
    return normalize_nanos_ts(stream, nanos_columns(path))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events parquet as a file stream."""
    return read_table_stream(spark, sf_dir, "events")


def run_stream_to_table(
    result: DataFrame, output_mode: str = "complete", name: str | None = None
) -> str:
    """Drive a streaming frame to completion into an in-memory table;
    returns the table name. Synchronous (processAllAvailable)."""
    table = name or f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(table)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return table


@contextmanager
def replay_microbatches(spark: SparkSession, batches: list[DataFrame], make_sink):
    """Replay ``batches`` as a file stream, one micro-batch per frame in
    list order, into ``foreachBatch(make_sink(tmp))``; yields ``tmp``.

    ``tmp`` is a fresh temp dir: each frame lands as one parquet dir
    under ``tmp/src`` with strictly increasing mtimes (file-stream batch
    order follows modification time), the stream checkpoints under
    ``tmp/ckpt``, and ``make_sink`` puts its own stores under ``tmp``.
    The stream is drained (processAllAvailable) and stopped before the
    ``with`` body runs, so the body reads the sink's stores back — and
    must materialize what it returns, because ``tmp`` is removed when
    the block exits, on failure too. Frames share the first one's
    schema.

    Usage::

        with replay_microbatches(spark, [b0, b1], lambda tmp:
                                 dedup_ingest_sink(f"{tmp}/corpus")) as tmp:
            kept = spark.read.parquet(f"{tmp}/corpus").count()
    """
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="replay_microbatches_")
    try:
        src = os.path.join(tmp, "src")
        mtime0 = 1_700_000_000
        for i, frame in enumerate(batches):
            d = os.path.join(src, f"b{i}")
            frame.coalesce(1).write.parquet(d)
            t = mtime0 + 100 * i
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (t, t))
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .format("parquet")
            .load(src)
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(make_sink(tmp))
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """The replay-safe append of the ``foreachBatch`` sinks: ``df`` lands
    as the ``__batch=<batch_id>`` partition of ``path`` under dynamic
    partition overwrite, so a checkpoint replay of the batch overwrites
    its own partition instead of duplicating it."""
    from pyspark.sql import functions as F

    (
        df.withColumn("__batch", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("__batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def snapshot_versions(snapshot_path: str) -> list[int]:
    """Ascending version numbers of the ``v{n}`` directories under
    ``snapshot_path`` (the versioned-snapshot convention of
    :func:`cdc_apply_sink`); empty when the directory is absent."""
    import os

    if not os.path.isdir(snapshot_path):
        return []
    return sorted(
        int(d[1:]) for d in os.listdir(snapshot_path)
        if d.startswith("v") and d[1:].isdigit()
    )


def _latest_snapshot(spark, snapshot_path: str) -> tuple[int, DataFrame | None]:
    """(newest version, its frame) under the ``v{n}`` convention, or
    (-1, None) before the first version lands."""
    import os

    vs = snapshot_versions(snapshot_path)
    if not vs:
        return -1, None
    return vs[-1], spark.read.parquet(os.path.join(snapshot_path, f"v{vs[-1]}"))


def dedup_ingest_sink(
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.5,
    max_df: int = 50,
):
    """foreachBatch sink: streaming corpus ingestion with incremental
    dedup — each micro-batch is classified against the corpus written so
    far (exact md5 / near-Jaccard / novel, as
    ``functions.dedup.incremental_dedup``) and ONLY novel documents
    append, so the corpus stays dedup-clean without ever re-clustering
    it.

    The corpus side (fingerprints, stop set, rare shingle postings,
    sizes) is MAINTAINED as a ``<corpus_path>.dedup_index`` alongside
    the data, so per-batch cost scales with the batch instead of
    re-shuffling the whole corpus each trigger. The stop set freezes at
    the first batch (rebuild periodically with
    ``functions.dedup.build_dedup_index`` — same drift note as
    ``append_to_dedup_index``). Index appends partition
    by ``__batch`` under dynamic overwrite, so replays overwrite their
    own contribution; classification excludes the replaying batch's own
    prior partitions.

    Replay-safe: batches land as ``__batch=<id>`` partitions under
    dynamic partition overwrite, so re-running a batch (checkpoint
    recovery) overwrites its own partition instead of duplicating —
    BUT a replayed batch is re-classified against a corpus that now
    contains other batches' later writes, so classification must stay
    monotone (a doc novel then is still novel, duplicates only grow).
    Exactly-once content, at-least-once classification.

    Usage::

        q = (docs_stream.writeStream.outputMode("append")
             .foreachBatch(dedup_ingest_sink("/data/corpus"))
             .option("checkpointLocation", ckpt).start())
    """
    import os

    from pyspark.sql import functions as F

    from pandas_etl_spark.functions.dedup import (
        _classify_against,
        _index_frames,
        _stop_shingles,
    )

    idx = corpus_path.rstrip("/") + ".dedup_index"

    def _append_index(spark, batch_id: int) -> None:
        """Index the just-written partition (post-materialization read —
        append_to_dedup_index's materialize-first rule)."""
        try:
            written = spark.read.parquet(corpus_path).where(
                F.col("__batch") == batch_id
            )
            if not written.head(1):
                return
        except Exception:
            return
        if not os.path.isdir(os.path.join(idx, "stop")):
            # frozen stop set from the first batch's shingle dfs
            _stop_shingles(written, text_col, id_col, k, max_df).write.mode(
                "overwrite"
            ).parquet(os.path.join(idx, "stop"))
        stop = written.sparkSession.read.parquet(os.path.join(idx, "stop"))
        fp, postings, sizes = _index_frames(written, text_col, id_col, k, stop)
        for name, frame in (("postings", postings), ("sizes", sizes), ("fp", fp)):
            write_batch_partition(frame, batch_id, os.path.join(idx, name))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.isdir(os.path.join(idx, "postings")):
            notme = F.col("__batch") != batch_id  # replay: no self-compare
            cls = _classify_against(
                batch_df,
                text_col,
                id_col,
                k,
                threshold,
                spark.read.parquet(os.path.join(idx, "fp")).where(notme),
                spark.read.parquet(os.path.join(idx, "stop")),
                spark.read.parquet(os.path.join(idx, "postings")).where(notme),
                spark.read.parquet(os.path.join(idx, "sizes")).where(notme),
            )
            novel = batch_df.join(
                cls.filter(F.col("status") == "novel").select(id_col),
                id_col,
                "left_semi",
            )
        else:
            novel = batch_df
        write_batch_partition(novel, batch_id, corpus_path)
        _append_index(spark, batch_id)

    return sink


def cdc_apply_sink(
    snapshot_path: str,
    base: DataFrame,
    keys: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
):
    """foreachBatch sink maintaining a CDC-applied snapshot: each
    micro-batch of ops applies onto the snapshot-so-far via
    ``operators.upsert.cdc_apply`` and writes the next immutable
    version directory ``<path>/v{n}`` (read-then-overwrite of the same
    files inside one job is unsafe; versioned swap is the plain-parquet
    stand-in for a table format's transactional commit — compact old
    versions like any lakehouse). Incremental application equals the
    one-shot batch apply exactly when batch boundaries respect the
    sequence order per key, which every real CDC transport (binlog,
    LSN, kafka per-key ordering) guarantees — the oracle of
    ``stream_cdc_apply`` checks that equality end-to-end."""
    import os

    from pandas_etl_spark.operators.upsert import cdc_apply

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ver, snap = _latest_snapshot(batch_df.sparkSession, snapshot_path)
        if snap is None:
            snap = base
        out = cdc_apply(snap, batch_df, keys, seq_cols, op_col, delete_op)
        out.write.mode("overwrite").parquet(
            os.path.join(snapshot_path, f"v{ver + 1}")
        )

    return sink


def hll_ingest_sink(
    rollup_path: str,
    key_col: str,
    group_cols: list[str],
    lg_k: int = 12,
):
    """foreachBatch sink maintaining a persistent mergeable HLL sketch
    rollup (operators/sketches): each micro-batch is sketched at
    O(batch) and union-merged into the rollup-so-far, written as the
    next immutable ``v{n}`` version directory (same transactional-swap
    convention as :func:`cdc_apply_sink`; vacuum with
    ``vacuum_snapshot_versions``). Distinct-count estimates over the
    rollup are REPLAY-PROOF twice over: a re-delivered batch_id is
    skipped outright via the stored ``__batch`` high-water mark, and
    even a re-ingested copy of old data cannot inflate estimates
    because sketch union is idempotent over duplicate keys (only the
    bookkeeping ``n_rows`` would grow). The rollup stays KB-per-group
    forever, so per-batch cost never depends on history size."""
    import os

    from pyspark.sql import functions as F

    from pandas_etl_spark.operators.sketches import hll_append, hll_rollup

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ver, prev = _latest_snapshot(batch_df.sparkSession, rollup_path)
        if prev is not None:
            applied = prev.agg(F.max("__batch")).first()[0]
            if applied is not None and applied >= batch_id:
                return  # checkpoint replay — already folded in
            merged = hll_append(
                prev.drop("__batch"), batch_df, key_col, group_cols, lg_k
            )
        else:
            merged = hll_rollup(batch_df, key_col, group_cols, lg_k)
        merged.withColumn("__batch", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(os.path.join(rollup_path, f"v{ver + 1}"))

    return sink


def read_snapshot_version(spark, snapshot_path: str, version: int | None = None):
    """Time-travel read over the ``v{n}`` versioned-snapshot convention
    that :func:`cdc_apply_sink` writes: latest version by default, or a
    pinned historical ``version``. Raises FileNotFoundError when the
    directory holds no versions (or the pinned one is absent) — never
    silently reads an empty frame."""
    import os

    versions = snapshot_versions(snapshot_path)
    if version is None:
        if not versions:
            raise FileNotFoundError(f"no snapshot versions under {snapshot_path}")
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"snapshot v{version} not in {snapshot_path} (have {versions})"
        )
    return spark.read.parquet(os.path.join(snapshot_path, f"v{version}"))


def vacuum_snapshot_versions(snapshot_path: str, keep_last: int = 2) -> list[int]:
    """Retention for the versioned-snapshot convention: delete all but
    the newest ``keep_last`` version directories (the compaction step a
    long-running CDC sink needs, or every batch leaks a full snapshot
    copy). Returns the versions removed. ``keep_last >= 1`` is
    enforced — vacuuming everything would destroy the table."""
    import os
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(snapshot_path)
    doomed = versions[:-keep_last] if len(versions) > keep_last else []
    for v in doomed:
        shutil.rmtree(os.path.join(snapshot_path, f"v{v}"))
    return doomed


def quality_gate_sink(
    good_path: str,
    quarantine_path: str,
    rules: list[tuple[str, str]],
):
    """foreachBatch sink gating a stream on declarative expectations
    (operators/quality.split_by_rules): per micro-batch, passing rows
    append to ``good_path`` and violating rows append to
    ``quarantine_path`` with their ``violated_rules`` triage column —
    the quarantine-not-crash ingestion posture (a bad producer deploy
    must not stall the pipeline, and the bad rows must stay queryable
    for triage/replay). Idempotent-enough under micro-batch replay for
    append sinks when upstream dedup (dedup_ingest_sink /
    dropDuplicatesWithinWatermark) guards the good path."""
    from pandas_etl_spark.operators.quality import split_by_rules

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        good, bad = split_by_rules(batch_df, rules)
        good.write.mode("append").parquet(good_path)
        bad.write.mode("append").parquet(quarantine_path)

    return sink


def span_dedup_ingest_sink(
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_tokens: int = 1,
):
    """foreachBatch sink: streaming SPAN-level corpus ingestion — each
    micro-batch is rewritten against the grams of everything accepted
    so far (``functions.text.span_dedup_against``: index hits cut,
    fresh grams fall to in-batch ownership), documents keeping at least
    ``min_tokens`` tokens append, and the accepted text's grams fold
    into a ``<corpus_path>.span_index`` maintained beside the data.
    The substring-dedup twin of :func:`dedup_ingest_sink`: that one
    accepts/rejects whole documents, this one REWRITES them, so a doc
    that is 30% boilerplate still contributes its novel 70%.

    Replay-safe the same way: corpus docs and index grams land as
    ``__batch=<id>`` partitions under dynamic overwrite, and a
    replaying batch excludes its own prior gram partition from
    classification. A replayed batch may see later batches' grams —
    rewriting is monotone (spans only ever shrink), so content stays
    exactly-once with at-least-once classification. Per-batch index
    appends are self-contained (no cross-batch anti join) so a replay
    fully reproduces its partition; duplicate gram hashes across
    partitions cost space, never correctness (the consumer distincts
    the index before its hit join).

    Per-batch cost ∝ batch windows + one (gh)-only index scan — the
    corpus text is never re-read.
    """
    import os

    from pyspark.sql import functions as F

    from pandas_etl_spark.functions.text import (
        corpus_span_grams,
        span_dedup_against,
    )

    idx_path = corpus_path.rstrip("/") + ".span_index"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        try:
            grams = (
                spark.read.parquet(idx_path)
                .filter(F.col("__batch") != batch_id)
                .select("gh")
            )
        except Exception:
            grams = spark.createDataFrame([], "gh bigint")
        rewritten = span_dedup_against(batch_df, grams, text_col, id_col, k)
        accepted = rewritten.filter(
            (F.col("n_tokens") - F.col("n_removed")) >= min_tokens
        ).select(
            F.col("id").alias(id_col), F.col("text_dedup").alias(text_col)
        )
        write_batch_partition(accepted, batch_id, corpus_path)
        write_batch_partition(
            corpus_span_grams(accepted, text_col, k), batch_id, idx_path
        )

    return _sink


def mv_maintain_sink(
    state_path: str,
    base: DataFrame,
    keys: list[str],
    seq_cols: list[str],
    bucket_of,
    value_col: str = "cents",
    op_col: str = "op",
    delete_op: str = "D",
):
    """foreachBatch sink maintaining a per-bucket (count, sum) MATERIALIZED
    VIEW alongside the CDC snapshot it summarizes: each micro-batch of
    ops is collapsed to the latest op per key, turned into per-bucket
    (Δcount, Δsum) deltas against the snapshot-so-far's old values
    (``operators.upsert.mv_agg_delta`` — a keyed lookup, never an MV
    recompute), merged onto the MV-so-far, and committed together with
    the updated snapshot as the next immutable ``v{n}`` version pair
    (``v{n}/snapshot``, ``v{n}/mv`` — the versioned-swap transactional
    convention of :func:`cdc_apply_sink`). Per-batch cost is
    O(|batch| + |MV|), independent of base size; the MV is never
    re-aggregated from the snapshot. ``bucket_of`` maps the joined
    frame to the grouping bucket (a key-derived Column expression).
    stream_mv_incremental's oracle aggregates the one-shot replay —
    passing proves streamed delta maintenance ≡ recompute.

    Commit protocol: snapshot and mv are two Spark jobs, so both land
    under a hidden staging dir (``.stage-v{n}``) together with a
    ``_BATCH`` high-water file, then one atomic ``os.rename`` publishes
    ``v{n}`` — ``_latest`` can never observe a half-written version, and
    a crash mid-stage leaves only an ignored (and later reclaimed)
    staging dir. Checkpoint replays of an already-committed batch are
    skipped via the ``_BATCH`` mark, mirroring ``hll_ingest_sink``'s
    ``__batch`` guard. (On a rename-less object store, publish via a
    ``_COMMITTED`` marker checked by ``_latest`` instead.)"""
    import os
    import shutil

    from pyspark.sql import functions as F

    from pandas_etl_spark.operators.upsert import (
        cdc_apply,
        cdc_collapse,
        mv_agg_delta,
        mv_merge,
    )

    def _latest(spark):
        vs = snapshot_versions(state_path)
        if not vs:
            return -1, None, None, -1
        v = vs[-1]
        mark = os.path.join(state_path, f"v{v}", "_BATCH")
        if not os.path.isfile(mark):
            # A committed version without its _BATCH high-water mark can
            # only be state written by pre-_BATCH code: treating it as
            # applied=-1 would re-apply an already-committed batch on
            # checkpoint replay (double-applied CDC deltas — r7 ADVICE).
            # There is no safe high-water guess, so refuse to resume.
            raise RuntimeError(
                f"mv_maintain_sink state at {state_path!r} has v{v} "
                "without a _BATCH mark (pre-upgrade layout); discard the "
                "state dir and the stream checkpoint, then re-run the "
                "initial load"
            )
        with open(mark) as fh:
            applied = int(fh.read().strip() or -1)
        return (
            v,
            spark.read.parquet(os.path.join(state_path, f"v{v}", "snapshot")),
            spark.read.parquet(os.path.join(state_path, f"v{v}", "mv")),
            applied,
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ver, snap, mv, applied = _latest(spark)
        if applied >= batch_id:
            return  # checkpoint replay — this batch is already committed
        if snap is None:
            snap = base
            mv = snap.groupBy(bucket_of(snap).alias("bucket")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(value_col).cast("bigint").alias("bal_cents"),
            )
        latest_ops = cdc_collapse(batch_df, keys, seq_cols)
        delta = mv_agg_delta(
            latest_ops,
            snap.select(*keys, F.col(value_col).alias("__old")),
            keys=keys,
            bucket=bucket_of(latest_ops),
            value_col=value_col,
            op_col=op_col,
            delete_op=delete_op,
        )
        new_mv = mv_merge(mv, delta)
        new_snap = cdc_apply(snap, batch_df, keys, seq_cols, op_col, delete_op)
        stage = os.path.join(state_path, f".stage-v{ver + 1}")
        shutil.rmtree(stage, ignore_errors=True)  # reclaim a crashed stage
        new_snap.write.mode("overwrite").parquet(os.path.join(stage, "snapshot"))
        new_mv.write.mode("overwrite").parquet(os.path.join(stage, "mv"))
        with open(os.path.join(stage, "_BATCH"), "w") as fh:
            fh.write(str(batch_id))
        os.rename(stage, os.path.join(state_path, f"v{ver + 1}"))

    return sink
