"""Streaming KILL-AND-RECOVER proof: a checkpointed stateful query
stopped (or SIGKILLed, in the pytest variant) mid-drain and resumed
from its checkpoint, with the recovered output proven equal to both
the uninterrupted run and the batch ground truth.

This is the streaming analogue of the reference's crash discipline —
/root/reference/src/main/test-mr.sh crash test kills workers mid-job
and asserts the recovered output equals the sequential oracle; here
the "worker" is the streaming query process, the "job state" is the
checkpoint (source offsets + dedup state store + file-sink metadata
log), and the oracle is DuckDB DISTINCT over the same rows.

The stateful operator under test is streaming deduplication
(`dropDuplicates` on event_id): the input is the events fixture split
into ordered chunk files where the SECOND half of the chunks carries
exact duplicate rows of the first half. A kill between a row's first
and second appearance can only produce the correct output if the
state store (seen keys) was restored from the checkpoint — lost state
re-emits the duplicate and the row count is wrong; a lost/replayed
sink batch double-writes and the value hash is wrong. Equality with
the oracle therefore certifies BOTH exactly-once sink semantics (the
parquet file sink's _spark_metadata commit log hides files from
uncommitted batches) and state-store recovery.

Scale notes: dropDuplicates-without-watermark keeps all seen keys in
the state store — right for a bounded proof, while production
ingestion uses dropDuplicatesWithinWatermark (streaming_dedup_events)
so state is evicted past the horizon. The checkpoint/WAL topology
exercised here is identical for both, and for any source (swap the
file source for Kafka; offsets+state+commit log work the same way).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

#: chunk layout: N_UNIQUE ordered files partition the events rows;
#: then N_UNIQUE more files repeat them (file i+N_UNIQUE duplicates
#: file i), so duplicates straddle any kill point past the first
#: few commits
N_UNIQUE_CHUNKS = 4

_CHUNK_SCHEMA = "event_id bigint, user_id bigint, event_type string, ts timestamp"


def build_chunked_input(spark: SparkSession, sf_dir: str, work_dir: str) -> str:
    """Write the events fixture as 2×N ordered single-file chunks under
    ``work_dir/input`` — the second N repeat the first N row-for-row.
    File mtimes increase with chunk index so the streaming file source
    (oldest-first) drains them in order. Returns the input dir.

    The N chunk-write jobs are independent (disjoint row sets, disjoint
    stage dirs), so they are submitted from a thread pool and overlap
    inside the one Spark app (optimization-guide §2.6) — same move,
    same A/B evidence as chunks.build_plain_chunks (0.98 → 0.38 s
    min-of-6 for a 4-chunk build, row sets identical). mtimes come
    from the chunk INDEX, so drain order is unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.tables import load_table

    input_dir = os.path.join(work_dir, "input")
    os.makedirs(input_dir, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    base = int(time.time()) - 3600

    def _one(i: int) -> None:
        stage_dir = os.path.join(work_dir, f"stage{i}")
        chunk = events.where(
            F.pmod(F.col("event_id"), F.lit(N_UNIQUE_CHUNKS)) == i
        ).coalesce(1)
        chunk.write.mode("overwrite").parquet(stage_dir)
        part = next(
            f for f in os.listdir(stage_dir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        for j, name in ((i, f"chunk_{i:02d}.parquet"),
                        (i + N_UNIQUE_CHUNKS, f"chunk_{i + N_UNIQUE_CHUNKS:02d}.parquet")):
            dst = os.path.join(input_dir, name)
            shutil.copyfile(os.path.join(stage_dir, part), dst)
            os.utime(dst, (base + j, base + j))
        shutil.rmtree(stage_dir, ignore_errors=True)

    with ThreadPoolExecutor(max_workers=min(4, N_UNIQUE_CHUNKS)) as pool:
        list(pool.map(_one, range(N_UNIQUE_CHUNKS)))
    return input_dir


def _dedup_plan(
    spark: SparkSession, input_dir: str, per_file_batches: bool = True
) -> DataFrame:
    reader = spark.readStream.schema(_CHUNK_SCHEMA)
    if per_file_batches:
        # phase 1 needs MANY small commits so the stop lands mid-drain
        reader = reader.option("maxFilesPerTrigger", "1")
    # the resume drops the rate limit: the WAL-pinned in-flight batch
    # replays with its exact original file set either way, and the
    # remainder drains in ONE batch instead of six (~3 s saved at
    # sf0.1 — batch planning + state commit per micro-batch is the
    # floor, not data volume). Source rate options are plan-side, not
    # checkpoint-pinned, so changing them across a restart is the
    # standard supported practice.
    return reader.parquet(input_dir).dropDuplicates(["event_id"])


def _start_sink(plan: DataFrame, work_dir: str, available_now: bool):
    writer = (
        plan.writeStream.format("parquet")
        .option("path", os.path.join(work_dir, "out"))
        .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="50 milliseconds")
    return writer.start()


def committed_batches(work_dir: str) -> int:
    commits = os.path.join(work_dir, "checkpoint", "commits")
    if not os.path.isdir(commits):
        return 0
    return sum(1 for f in os.listdir(commits) if f.isdigit())


def wait_for_commits(q, work_dir: str, n_commits: int, timeout_s: float) -> int:
    """Wait until ``n_commits`` micro-batches have committed, then STOP
    the query. Fails fast if the stream dies (q.exception) instead of
    spinning out the timeout masking the real error. Returns the
    commit count at stop time. Shared by the kill-recover and fanout
    proofs' phase 1."""
    deadline = time.time() + timeout_s
    try:
        while committed_batches(work_dir) < n_commits:
            exc = q.exception()
            if exc is not None:
                raise exc
            if time.time() > deadline:
                raise TimeoutError(
                    f"only {committed_batches(work_dir)} commits after {timeout_s}s"
                )
            time.sleep(0.05)
    finally:
        q.stop()
        q.awaitTermination()
    return committed_batches(work_dir)


def run_until_n_commits(
    spark: SparkSession, input_dir: str, work_dir: str, n_commits: int,
    timeout_s: float = 180.0,
) -> int:
    """Phase 1: start the checkpointed dedup stream and STOP it
    mid-drain, as soon as ``n_commits`` micro-batches have committed
    (well before the 2×N chunk files are drained). Returns the commit
    count at stop time."""
    q = _start_sink(_dedup_plan(spark, input_dir), work_dir, available_now=False)
    return wait_for_commits(q, work_dir, n_commits, timeout_s)


def resume_and_drain(spark: SparkSession, input_dir: str, work_dir: str) -> None:
    """Phase 2: restart the SAME query from the SAME checkpoint and
    drain everything left (availableNow). Spark replays the in-flight
    batch from the WAL, restores the dedup state store, and the file
    sink's commit log makes any orphaned files from the killed batch
    invisible to readers."""
    q = _start_sink(
        _dedup_plan(spark, input_dir, per_file_batches=False),
        work_dir,
        available_now=True,
    )
    q.awaitTermination()


def read_sink(spark: SparkSession, work_dir: str) -> DataFrame:
    """Batch-read the file sink's output THROUGH its _spark_metadata
    commit log (Spark does this automatically when the log is present
    — uncommitted part files are excluded)."""
    return spark.read.schema(_CHUNK_SCHEMA).parquet(os.path.join(work_dir, "out"))


def streaming_dedup_kill_recover(
    spark: SparkSession, sf_dir: str, work_root: str | None = None
) -> DataFrame:
    """The driver-graded query: chunked duplicate-bearing input →
    checkpointed streaming dedup STOPPED after 2 committed batches
    (mid-drain: 8 chunk files total) → resumed from the checkpoint →
    drained → sink read back. Oracle: DISTINCT over events (every
    injected duplicate must have been dropped, including those whose
    first occurrence was before the stop and second after — which is
    exactly the state-store recovery being proven).

    The harsher SIGKILL variant (worker process killed -9 mid-batch,
    no graceful stop) runs in tests/test_streaming_recovery.py via
    scripts/streaming_crash_worker.py; the checkpoint/recovery path
    exercised is the same.
    """
    from mapreduce_golang_spark.tempdirs import scratch_dir

    if work_root is None:
        # atexit-cleaned: the returned DF reads the sink lazily, so
        # the dir must outlive this call but not the process
        work_root = scratch_dir("mr_spark_recover_")
    work_dir = os.path.join(work_root, "run")
    os.makedirs(work_dir, exist_ok=True)
    input_dir = build_chunked_input(spark, sf_dir, work_dir)
    run_until_n_commits(spark, input_dir, work_dir, n_commits=2)
    resume_and_drain(spark, input_dir, work_dir)
    return read_sink(spark, work_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT).alias("ts_s"),
    )
