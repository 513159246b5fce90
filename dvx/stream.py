"""Structured Streaming ingestion: changelog tail -> vault, exactly-once.

The reference has no streaming (SURVEY.md §2.10) — NiFi polls
``updated_at`` and Spark batch-applies. This module is the north_rule's
re-expression: ``readStream`` over a binlog/WAL-style changelog directory
-> ``foreachBatch`` -> :func:`dvx.apply.apply_batch` (hub/link appends
of new keys; satellite history appends and equality-delete + insert
``delete_insert`` commits, never a bucket rewrite), with:

- **exactly-once**: an epoch stages every table's write, then publishes
  them in ONE fixed order (hubs, links, each satellite's history then
  current, ``pit_turn``, ``load_metadata``), each commit recording the
  ``epoch_id`` in its table's snapshot summary and skipped when the
  table already holds it. A crash at any commit boundary leaves a
  prefix of that order committed; on restart, foreachBatch replays the
  last uncommitted batch, which publishes the rest, and
  :func:`ingest_batch` skips a batch every table already holds (the
  Iceberg snapshot-summary handshake — analog of the reference's
  anti-join idempotency J1, RawVaultETL.scala:204-205, but O(1)
  metadata instead of a join).
- **resume from checkpoint**: the standard Structured Streaming
  checkpointLocation contract; killed mid-replay runs continue.
- **per-partition lineage + metrics**: load_metadata rows per epoch and
  per bucket at every checkpoint (north_rule).

File-source note: the changelog directory is read with
``maxFilesPerTrigger`` so replay batch boundaries are deterministic per
file — tests inject restarts between files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dvx import metadata
from dvx.apply import apply_batch, publish_order
from dvx.schema import CHANGELOG_SCHEMA, Vault

#: sentinel token for the fail_after_batches test hook. The Python
#: exception TYPE does not survive the foreachBatch -> JVM ->
#: StreamingQueryException round trip — only the message text does — so
#: recognition is by this (collision-proof) token, not isinstance.
_INJECT_TOKEN = "dvx::injected-restart-failure::d41d8cd9"


class InjectedFailure(RuntimeError):
    """Raised by the ``fail_after_batches`` restart-test hook."""

    def __init__(self) -> None:
        super().__init__(_INJECT_TOKEN)


def ingest_batch(
    vault: Vault,
    batch: DataFrame,
    epoch_id: int,
    stream_id: str = "default",
    log_lineage: bool = True,
    pit_dates: list[str] | None = None,
) -> dict:
    """Apply one micro-batch exactly once.

    One rule: :func:`dvx.apply.apply_batch` publishes the epoch's tables
    in ONE fixed order (:func:`dvx.apply.publish_order`: hubs, links,
    each satellite's history then current, ``pit_turn`` with
    ``pit_dates``, ``load_metadata`` with ``log_lineage``), every commit
    carrying the epoch mark and skipped when its table already holds
    it. The batch is skipped here only when EVERY table of that list
    holds the mark; a crash at any commit boundary leaves a prefix of
    the list committed, and the re-run publishes the rest.

    ``pit_dates``: PIT snapshot dates to maintain incrementally per
    micro-batch (north_star: "PIT tables rebuilt incrementally per
    micro-batch") — only the keys this batch touched are recomputed
    (dvx.pit.build_pit_incremental), all dates in one commit.
    ``log_lineage``: one append per epoch of the per-bucket metric rows
    and the COMPLETED row (north_rule per-partition lineage), last in
    the order; a skipped replay appends a SKIPPED row.
    """
    tables = publish_order(vault.registry, pit_dates, log_lineage)
    applied = min(vault.table(t).last_epoch(stream_id) for t in tables)
    if applied >= epoch_id:
        if log_lineage:
            metadata.complete_load(
                vault, epoch_id, metadata.ENTITY, 0, 0,
                stream_id=stream_id, status="SKIPPED",
            )
        return {"skipped": True, "epoch": epoch_id}
    stats = apply_batch(
        vault,
        batch,
        epoch_id=epoch_id,
        stream_id=stream_id,
        pit_dates=pit_dates,
        log_lineage=log_lineage,
    )
    return {"skipped": False, "epoch": epoch_id, **stats}


def run_stream(
    vault: Vault,
    changelog_dir: str,
    checkpoint_dir: str,
    stream_id: str = "default",
    max_files_per_trigger: int = 1,
    fail_after_batches: int | None = None,
    log_lineage: bool = True,
    pit_dates: list[str] | None = None,
) -> int:
    """Tail a changelog directory and ingest until drained.

    ``fail_after_batches`` injects a crash after N foreachBatch commits —
    the restart-replay test harness (SURVEY.md §5 item 3). Returns the
    number of batches processed this run.
    """
    processed = {"n": 0, "epoch": -1}

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if fail_after_batches is not None and processed["n"] >= fail_after_batches:
            raise InjectedFailure()
        ingest_batch(
            vault,
            batch_df,
            epoch_id,
            stream_id=stream_id,
            log_lineage=log_lineage,
            pit_dates=pit_dates,
        )
        processed["n"] += 1
        processed["epoch"] = epoch_id

    reader = (
        vault.spark.readStream.schema(CHANGELOG_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changelog_dir)
    )
    q = (
        reader.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    injected = False
    try:
        q.awaitTermination()
    except Exception as e:
        # swallow ONLY the injected crash (matched by its sentinel token,
        # which Spark wraps in StreamingQueryException) — any other
        # failure in a fail_after_batches run is a real bug and must
        # propagate, or the restart test would "pass" while masking it
        injected = fail_after_batches is not None and _INJECT_TOKEN in str(e)
        if not injected:
            raise
    finally:
        if q.isActive:
            q.stop()
        # fold every satellite table's remaining tombstones so serving
        # reads revert to plain scans with filter pushdown and column
        # pruning. Runs in finally so a drained-but-errored run still
        # folds — a fold only reads the last COMMITTED snapshot, so it is
        # safe at any point. Skipped after the injected crash: the
        # restart tests examine the mid-stream state on purpose.
        if not injected:
            _drain_fold(vault, stream_id, processed["epoch"])
    return processed["n"]


def _drain_fold(vault: Vault, stream_id: str, epoch: int) -> None:
    """End-of-drain fold of every satellite current and history table.
    Best-effort: every batch has already committed, so a failing fold
    neither aborts the load nor masks a streaming error propagating past
    it — it is logged and recorded as a FAILED ``load_metadata`` row
    (driver-side, no Spark job)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    tables = [t for s in vault.registry.satellites for t in (s.name, s.hist_name)]
    try:
        # independent tables: run the fold jobs concurrently on the
        # executors (same overlap pattern as apply_batch's merges)
        with ThreadPoolExecutor(max_workers=len(tables)) as ex:
            for f in [ex.submit(vault.table(t).compact_tombstones) for t in tables]:
                f.result()
    except Exception as e:
        print(f"dvx: end-of-drain fold failed: {e!r}", file=sys.stderr)
        metadata.complete_load(
            vault, epoch, "drain_fold", 0, 0,
            stream_id=stream_id, status="FAILED", error=repr(e),
        )


def write_changelog_files(changelog: DataFrame, out_dir: str, n_files: int) -> None:
    """Materialize a changelog as N seq-ordered parquet files (the
    deterministic micro-batch boundaries for replay tests/bench).

    The Structured Streaming file source orders files by modification
    time; parquet part files written in one job share an mtime, so tie
    order (and therefore batch order) would be nondeterministic — the
    round-1 flaky-PIT root cause. Stamp strictly increasing mtimes in
    part-file (= seq-range) order so replay order is deterministic."""
    import os as _os
    import time as _time

    (
        changelog.repartitionByRange(n_files, F.col("seq"))
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    parts = sorted(f for f in _os.listdir(out_dir) if f.endswith(".parquet"))
    base = _time.time() - 2 * len(parts)
    for i, fn in enumerate(parts):
        t = base + 2 * i
        _os.utime(_os.path.join(out_dir, fn), (t, t))
