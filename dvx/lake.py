"""dvx.lake — a minimal snapshot-based ACID table format over Parquet.

The reference stores its vault in Iceberg and leans on four Iceberg
capabilities (SURVEY.md §2.1, §2.9): atomic snapshot commits with a
metadata pointer, row-level MERGE, partition pruning, and snapshot
maintenance (time travel / rollback / expiry / compaction —
/root/reference/src/main/scala/bronze/utils/IcebergWriter.scala:34-39,
248-263, 295-376, 396-426). The Iceberg Spark runtime jar is not
available in this environment, so this module re-implements exactly that
contract in pure PySpark + a JSON transaction log:

Layout::

    <root>/_log/v0000000001.json      one manifest per snapshot
    <root>/data/c0000000002/_p=<k>/*.parquet   data files of commit 2

A snapshot manifest carries the table schema, a summary (including the
per-stream max committed epoch — the exactly-once handshake used by
dvx.stream), and the file map ``{partition_key: [relative file paths]}``
in one of two forms:

- a **checkpoint** manifest embeds the full map (``"files"``), written
  every ``_CHECKPOINT_EVERY`` commits and at create/rollback/evolution;
- a **delta** manifest records only the touched keys (``"files_set"`` /
  ``"files_drop"`` against its immediate predecessor), so commit
  metadata is O(touched partitions), not O(total files) — the same
  shape as Iceberg's per-snapshot manifest lists / Delta's JSON actions
  + periodic checkpoints. Readers resolve a delta by walking back to
  the nearest checkpoint (≤ ``_CHECKPOINT_EVERY`` hops, memoized in
  ``_SNAP_CACHE``; manifests are immutable so the cache is safe).

The *latest* snapshot is simply the max version in ``_log``; commits are
atomic via ``os.link`` (fails if the target version already exists →
optimistic-concurrency retry), mirroring Iceberg's atomic
metadata-pointer swap which is likewise driver-side.

Writes
------
Every data write is one sequence run by one retry loop
(``LakeTable._write``): stage the attempt's files for base version v in
ONE Spark job, publish them with ONE :meth:`LakeTable.commit_staged`,
and on ``CommitConflict`` drop the attempt and stage again from the new
base (a frame read from the table itself is re-read there). A commit
names the manifest keys it ``replace``s; they lose their files and
tombstones: the written buckets of ``replace_buckets`` and of a plain
overwrite, every key of a written partition value on composite tables,
every key of an unpartitioned overwrite, and the folded keys of a
compaction. Staged data joins ``files`` and staged tombstones join
``tombstones``. Every write job has one distribution, whatever the
layout or op: a rebalance on the manifest key that AQE coalesces to what
the rows fill, so a trickle-sized fold runs in one task and a large
rewrite keeps about one task per bucket; an unsalted commit adds one
file per key (:meth:`LakeTable._write_files`).

Row-level change has one mechanism, the Iceberg format-v2 equality
delete: a ``delete_insert`` commit writes tombstones for the keys it
changes plus their new rows, and a read drops every row older than the
newest tombstone on its key (rows written in a tombstone's own commit
survive it). An upsert, a delete and an SCD2 re-chain are all that one
commit; :meth:`LakeTable.compact_tombstones` folds the tombstones away.

Object-store note (what changes off POSIX): ``os.link`` atomicity maps
to a conditional PUT (S3 ``If-None-Match: *``, GCS ``ifGenerationMatch=
0``) or a commit mutex in a transactional KV (the Delta/S3 LogStore and
Iceberg catalog-pointer patterns); directory listings are already never
used for data (explicit file lists from the manifest), and ``_versions``
becomes a prefix listing of ``_log/`` — bounded by ``expire_snapshots``,
which also rewrites the oldest retained delta as a checkpoint so expired
bases can be dropped.

Scale design
------------
- Tables are hash-bucketed on their merge key (``bucket =
  pmod(xxhash64(key), B)``). A MERGE only reads + rewrites the buckets
  the source batch touches (copy-on-write), so merge cost is
  O(touched data), not O(table) — the same file-level pruning Iceberg's
  ``bucket(N, key)`` hidden partitioning gives the reference
  (RawVaultSchema.scala:124). At 10^10 rows you raise ``num_buckets``
  (e.g. 4096) so each bucket stays ~executor-memory sized.
- File pruning happens in *metadata* (the manifest), so a point lookup
  or a merge never lists directories or scans untouched buckets.
- Commits are metadata-only; carried-over buckets are never rewritten.
- Writer width follows the data, not the layout: the writer exchange
  starts from ``4 x num_buckets`` partitions and is coalesced at
  runtime, never split inside a key, so a few touched rows cost one
  writer task and a full rewrite at 10^10 rows one task per bucket.
- Tables may combine a value partition WITH hash buckets (Iceberg's
  ``PARTITIONED BY (days(ts), bucket(N, key))`` composite): the manifest
  key is ``"<partition>|<bucket>"`` and reads/replacements prune on
  either half. This is what lets the incremental PIT maintain one
  snapshot-date partition with O(touched buckets) write IO instead of
  rewriting the whole date per micro-batch.
- Row-level changes (``delete_insert``) write O(changed rows): one
  tombstone file and one data file per touched bucket, never a bucket
  rewrite. Tombstones go only to buckets that hold rows at the base
  version, so a first load writes none. Readers pay a narrow hashed
  resolution join on tombstone-carrying buckets until a thresholded
  fold rewrites them, so the amortized rewrite per commit stays
  O(bucket / threshold) even when every micro-batch touches every
  bucket (uniformly hashed keys at 10^10 rows).
- The physical partition value is duplicated into a regular data column
  before write, so explicit-file-list reads keep it without relying on
  directory-name inference.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

_PHYS = "_p"  # physical layout column (dropped from data files by partitionBy)
BUCKET_COL = "_bucket"

#: a full ("checkpoint") manifest is written every N commits; the others
#: are deltas against their immediate predecessor
_CHECKPOINT_EVERY = 16

#: resolved-manifest memo, keyed (table_root, version). Manifests are
#: immutable once committed, so entries never go stale.
_SNAP_CACHE: dict[tuple[str, int], dict] = {}

#: the per-key maps every snapshot carries: data files, key bloom
#: segments, equality-delete tombstone files
_MAPS = ("files", "blooms", "tombstones")

#: merge-on-read delta files, a per-key map earlier versions of this
#: module wrote: resolved only so that a snapshot still holding some is
#: refused instead of read without them
_LEGACY = "deltas"

#: the manifest operations a data write commits as
_OPS = ("append", "delete_insert", "overwrite_partitions", "merge", "compact")

__all__ = ["LakeTable", "BUCKET_COL", "CommitConflict", "empty_frame"]


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic CC)."""


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """A frame of ``schema`` with no rows that the optimizer knows is empty.

    A typed null projection under ``limit(0)``: ``OptimizeLimitZero``
    rewrites it into an empty ``LocalRelation``, and
    ``PropagateEmptyRelation`` then folds every join, semi-join and union
    over it before planning, so reading it starts no task.
    ``spark.createDataFrame([], schema)`` is not used: PySpark builds it
    as a parallelized empty RDD behind a Python reserialize, which the
    optimizer cannot see through, and every plan over it runs
    ``defaultParallelism`` Python-worker tasks that produce no rows.
    """
    cols = [F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    return spark.range(1).select(*cols).limit(0)


def _is_composite(m: dict) -> bool:
    """Composite layout: value partition + hash buckets (manifest keys
    are ``"<partition>|<bucket>"``)."""
    return m["num_buckets"] is not None and bool(m.get("partition_col"))


def _part_of(k: str) -> str:
    return k.split("|", 1)[0]


def _bucket_of(k: str, composite: bool) -> str:
    return k.split("|", 1)[1] if composite else k


def _key_bloom(m: dict) -> bool:
    """The table keeps per-bucket key bloom segments (table property
    ``key_bloom``, set for hubs/links: append-only key tables whose
    insert is an existence proof). :meth:`LakeTable.create` admits it
    only on a plain table bucketed by one column."""
    return bool(m.get("properties", {}).get("key_bloom"))


def _next_maps(m: dict, op: str, part: dict, replace: set) -> dict:
    """The next snapshot's manifest maps: the one place they are
    derived. ``replace``d keys lose their files and tombstones; staged
    data joins ``files``, staged tombstones join ``tombstones``; blooms
    follow the rules below."""
    nxt = {
        name: {
            k: list(ps) for k, ps in m[name].items()
            if name == "blooms" or k not in replace
        }
        for name in _MAPS
    }
    for k, ps in part["new_files"].items():
        nxt["files"].setdefault(k, []).extend(ps)
    for k, ps in part["tomb_files"].items():
        nxt["tombstones"].setdefault(k, []).extend(ps)
    # a compaction rewrites the same key set: blooms stay valid
    if _key_bloom(m) and op != "compact":
        blooms = nxt["blooms"]
        for k in part["new_files"]:
            # An appended key without a segment breaks the bucket's
            # completeness invariant, and every other op may introduce
            # keys no segment covers; false negatives are correctness
            # bugs, so such buckets drop their blooms and readers fall
            # back to the plain existence read. A segment may only
            # ATTACH when coverage stays complete: the bucket either
            # already had complete coverage (k in blooms) or holds no
            # pre-existing rows at all. Without that guard, a bucket
            # invalidated by a merge/overwrite/unbloomed append would be
            # "resurrected" by the next bloomed append with a segment
            # covering only that batch — its older keys covered by no
            # segment, so redeliveries would probe hits=0 and insert
            # duplicates.
            seg = part["blooms"].get(k)
            if op == "append" and seg and (k in blooms or k not in m["files"]):
                blooms.setdefault(k, []).append(seg)
            else:
                blooms.pop(k, None)
    return nxt


def _refuse_legacy(m: dict, root: str) -> None:
    """Refuse a snapshot whose resolved merge-on-read delta map is not
    empty: this version reads and writes no delta files, so serving or
    extending such a snapshot would silently drop their rows."""
    if _LEGACY in m:
        raise ValueError(
            f"{root}: snapshot v{m['version']} holds merge-on-read delta "
            "files written by an earlier dvx version; fold them with that "
            "version (compact_deltas(max_delta_files=1)) first"
        )


def _log_dir(root: str) -> str:
    return os.path.join(root, "_log")


class LakeTable:
    """Handle to one lake table. Cheap to construct; all state is on disk."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def exists(root: str) -> bool:
        d = _log_dir(root)
        return os.path.isdir(d) and any(f.startswith("v") for f in os.listdir(d))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: StructType,
        *,
        num_buckets: int | None = None,
        bucket_cols: list[str] | None = None,
        partition_col: str | None = None,
        properties: dict | None = None,
        if_not_exists: bool = True,
    ) -> "LakeTable":
        """Idempotent CREATE TABLE (reference: CREATE TABLE IF NOT EXISTS ...
        USING iceberg PARTITIONED BY (...), RawVaultSchema.scala:116-131)."""
        if cls.exists(root):
            if if_not_exists:
                return cls(spark, root)
            raise FileExistsError(root)
        if (num_buckets is None) != (bucket_cols is None):
            raise ValueError("num_buckets and bucket_cols go together")
        manifest = {
            "operation": "create",
            "schema": json.loads(schema.json()),
            "num_buckets": num_buckets,
            "bucket_cols": bucket_cols,
            "partition_col": partition_col,
            "properties": properties or {},
            "files": {},
            "summary": {"epochs": {}},
        }
        if _key_bloom(manifest) and (bucket_cols is None or len(bucket_cols) != 1):
            raise ValueError("key_bloom requires exactly one bucket column")
        if _key_bloom(manifest) and partition_col:
            # composite "<partition>|<bucket>" manifest keys would defeat
            # the bloom scan's plain-bucket key arithmetic (dvx.apply
            # _bloom_scan int(k) / k.isdigit()), silently classifying
            # data-bearing buckets as empty — duplicate inserts
            raise ValueError(
                "key_bloom is not supported on composite "
                "(partition_col + bucketed) layouts"
            )
        os.makedirs(_log_dir(root), exist_ok=True)
        t = cls(spark, root)
        t._commit(expected_version=0, manifest=manifest)
        return t

    # ------------------------------------------------------------- snapshots

    def _versions(self) -> list[int]:
        d = _log_dir(self.root)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        )

    def version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no such lake table: {self.root}")
        return vs[-1]

    def _read_manifest(self, v: int) -> dict:
        with open(os.path.join(_log_dir(self.root), f"v{v:010d}.json")) as f:
            return json.load(f)

    def snapshot(self, version: int | None = None) -> dict:
        """Resolved manifest at ``version`` (latest if None) — Iceberg time
        travel ``VERSION AS OF`` analog (IcebergWriter.scala:248-250).
        Delta manifests are folded onto their base checkpoint; the result
        always carries the full ``files`` map."""
        v = self.version() if version is None else version
        key = (self.root, v)
        cached = _SNAP_CACHE.get(key)
        if cached is not None:
            return cached
        m = self._read_manifest(v)
        if "files" not in m:  # delta: fold onto predecessor
            base = self.snapshot(m.pop("delta_base"))
            for name in (*_MAPS, _LEGACY):
                cur = dict(base.get(name, {}))
                for k in m.pop(f"{name}_drop", []):
                    cur.pop(k, None)
                cur.update(m.pop(f"{name}_set", {}))
                m[name] = cur
        for name in _MAPS:
            m.setdefault(name, {})
        if not any(m.get(_LEGACY, {}).values()):
            m.pop(_LEGACY, None)
        if len(_SNAP_CACHE) > 512:
            _SNAP_CACHE.clear()
        _SNAP_CACHE[key] = m
        return m

    def history(self) -> list[dict]:
        """All snapshot summaries, oldest first (``table.snapshots`` analog,
        IcebergWriter.scala:252-263)."""
        out = []
        for v in self._versions():
            m = self.snapshot(v)
            out.append(
                {
                    "version": v,
                    "operation": m["operation"],
                    "committed_at": m.get("committed_at"),
                    "summary": m.get("summary", {}),
                }
            )
        return out

    def schema(self, version: int | None = None) -> StructType:
        return StructType.fromJson(self.snapshot(version)["schema"])

    # --------------------------------------------------------------- commit

    def _commit(self, expected_version: int, manifest: dict) -> int:
        next_v = expected_version + 1
        manifest = dict(manifest)
        manifest["version"] = next_v
        manifest["committed_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        d = _log_dir(self.root)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
        final = os.path.join(d, f"v{next_v:010d}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # atomic, fails with EEXIST on conflict
        except FileExistsError as e:
            raise CommitConflict(f"version {next_v} already committed") from e
        finally:
            os.unlink(tmp)
        return next_v

    # ---------------------------------------------------------------- reads

    def read(
        self,
        version: int | None = None,
        *,
        buckets: list[int] | None = None,
        partitions: list[str] | None = None,
        columns: list[str] | None = None,
        keys: list[str] | None = None,
        key_filter: DataFrame | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot, with manifest-level file pruning.

        ``buckets``/``partitions`` restrict to those partition keys without
        touching any other file (metadata pruning — no directory listing);
        on composite tables they match the bucket / partition HALF of the
        ``"<partition>|<bucket>"`` key. ``keys`` matches manifest keys
        verbatim (the maintenance surface).
        Schema is imposed explicitly so files written before an additive
        column evolution null-fill the new columns (AvroReader.scala:283-313
        schema-merge semantics).

        ``columns`` prunes the read schema to those columns (order
        preserved; bucket cols are always included on bucketed tables so
        the tombstone resolution can key on them).

        ``key_filter`` (bucketed tables): a frame whose ``bucket_cols``
        columns name the keys the caller wants — rows for other keys are
        dropped by a semi-join BELOW the tombstone resolution join, so
        the resolution runs over O(kept keys' rows), not O(touched
        buckets' rows). This is what keeps the per-micro-batch satellite
        apply O(batch), not O(table): the batch's key set is a vanishing
        fraction of a grown table's buckets.

        Buckets carrying equality-delete TOMBSTONES
        (:meth:`delete_keys_insert`) resolve them at read time: a data
        row is dropped when its commit version is older than the newest
        tombstone covering its key. Only tombstone-carrying buckets pay
        the (narrow, hashed) resolution join;
        :meth:`compact_tombstones` folds them away.

        A selection of no files (an empty table, or ``buckets`` /
        ``partitions`` / ``keys`` that match no file) returns an empty
        ``LocalRelation`` (:func:`empty_frame`) with the same column
        names and types as a file-backed read of the same arguments, so
        every join against it folds away in the optimizer: a first
        load's anti-joins and lookups against vault state plan no scan
        and start no task.
        """
        m = self.snapshot(version)
        _refuse_legacy(m, self.root)
        key_cols = m["bucket_cols"]
        if key_filter is not None and not key_cols:
            raise ValueError("key_filter requires a bucketed table")
        full = StructType.fromJson(m["schema"])
        schema = full
        if columns is not None:
            want = set(columns) | set(key_cols or [])
            schema = StructType([f for f in full.fields if f.name in want])
        tomb_map = m["tombstones"]
        live = set(m["files"])
        composite = _is_composite(m)
        if buckets is not None:
            want = {str(b) for b in buckets}
            live = {k for k in live if _bucket_of(k, composite) in want}
        if partitions is not None:
            want = set(map(str, partitions))
            live = {k for k in live if (_part_of(k) if composite else k) in want}
        if keys is not None:
            live &= set(map(str, keys))
        tomb_keys = sorted(k for k in live if tomb_map.get(k))

        def paths(ks, name="files") -> list[str]:
            return [os.path.join(self.root, p) for k in ks for p in m[name].get(k, [])]

        def scan(ps: list[str], with_cv: bool = False) -> DataFrame:
            df = self.spark.read.schema(schema).parquet(*ps)
            if with_cv:
                # the row's commit version comes from its file path: it
                # is non-deterministic, so it must live in a Project
                # directly above its OWN scan — below any join
                df = df.withColumn(
                    "_cv",
                    F.regexp_extract(
                        F.input_file_name(), r"data/c(\d+)[-/]", 1
                    ).cast("long"),
                )
            if key_filter is None:
                return df
            kf = key_filter.select(*key_cols).distinct()
            # shuffle_hash on the key side: hashing a narrow key set
            # never sort-merge-sorts the wide table rows, and AQE still
            # converts to broadcast at runtime when the key set is
            # actually small (a forced broadcast would make the driver
            # build an O(batch-keys) relation every micro-batch — a
            # fixed, non-scaling cost and an OOM hazard at big batches).
            return df.join(kf.hint("shuffle_hash"), key_cols, "left_semi")

        plain_files = paths(sorted(live.difference(tomb_keys)))
        tomb_files = paths(tomb_keys)
        parts: list[DataFrame] = []
        if plain_files:
            parts.append(scan(plain_files))
        if tomb_files:
            # the tombstone's commit version is a stored column (_tcv),
            # not a path derivation: two input_file_name sources in one
            # plan are ambiguous
            tschema = StructType(
                [f for f in full.fields if f.name in key_cols]
                + [StructField("_tcv", LongType())]
            )
            newest = (
                self.spark.read.schema(tschema)
                .parquet(*paths(tomb_keys, "tombstones"))
                .groupBy(*key_cols)
                .agg(F.max("_tcv").alias("_tcv"))
            )
            # rows written in the tombstone's own commit survive it
            parts.append(
                scan(tomb_files, with_cv=True)
                .join(newest.hint("shuffle_hash"), key_cols, "left")
                .filter(F.col("_tcv").isNull() | (F.col("_cv") >= F.col("_tcv")))
                .drop("_tcv", "_cv")
            )
        if not parts:
            return empty_frame(self.spark, schema)
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    # --------------------------------------------------------------- writes

    def _bucket_expr(self, num_buckets: int, bucket_cols: list[str]):
        return F.pmod(F.xxhash64(*[F.col(c) for c in bucket_cols]), F.lit(num_buckets)).cast(
            "int"
        )

    def with_bucket(self, df: DataFrame) -> DataFrame:
        m = self.snapshot()
        if m["num_buckets"] is None:
            raise ValueError("table is not bucketed")
        if BUCKET_COL in df.columns:
            return df
        return df.withColumn(BUCKET_COL, self._bucket_expr(m["num_buckets"], m["bucket_cols"]))

    def _write_files(
        self, df: DataFrame, manifest: dict, next_v: int, salts: int = 1
    ) -> tuple[dict[str, list[str]], str]:
        """Write df physically split by partition key; return
        ``({key: [relpaths]}, commit_rel)``.

        Files land in a commit dir UNIQUE PER ATTEMPT
        (``data/c<version>-<uuid>/``): two writers racing for the same
        version must not share a directory, or the loser's
        ``mode("overwrite")`` write would delete the winner's
        already-committed files before the loser's manifest commit even
        fails (found by test_concurrent_writers_occ). The losing
        attempt's directory is removed by :meth:`commit_staged` on
        CommitConflict; a crash in the window leaves an orphan dir that no
        manifest references (harmless, reclaimed by a vacuum).

        Write distribution (what Iceberg's bucket-partitioned write
        distribution does), one rebalance exchange on the manifest key
        for every layout, sized by the data it carries:

        - it starts from ``4 x num_buckets`` partitions
          (``4 x defaultParallelism`` on unbucketed tables), headroom so
          two keys rarely hash to the same writer task, and AQE coalesces
          it to what the rows fill: a small append or fold runs in one
          task, a large rewrite keeps about one task per bucket. At scale
          num_buckets is sized so a bucket's rewrite (~100-500 MB) is one
          healthy task.
        - skew splitting of rebalance partitions is off
          (dvx.session.get_spark), so a key never spans two tasks and an
          unsalted commit adds ONE file per touched key (read cost stays
          O(keys), not O(commits x tasks)).
        - ``salts > 1`` is the one way to spread a key over several
          writer tasks: a deterministic row-hash salt gives up to
          ``salts`` files per key. Without it, a commit touching one
          partition value (every PIT single-date overwrite, every
          unpartitioned full overwrite) funnels the whole dataset through
          ONE task — the round-1 pit_build anti-scaling (4.7s -> 30.4s
          with MORE cores).
        """
        commit_rel = os.path.join("data", f"c{next_v:010d}-{uuid.uuid4().hex[:8]}")
        commit_dir = os.path.join(self.root, commit_rel)
        nb = manifest["num_buckets"]
        if nb is not None:
            if BUCKET_COL not in df.columns:
                df = df.withColumn(BUCKET_COL, self._bucket_expr(nb, manifest["bucket_cols"]))
            phys = F.col(BUCKET_COL).cast("string")
            if "_tcv" in df.columns:
                # tombstone rows (:meth:`_stage`) land under "t<bucket>"
                phys = F.when(F.col("_tcv").isNull(), phys).otherwise(
                    F.concat(F.lit("t"), phys)
                )
            if manifest.get("partition_col"):
                # composite layout: "<partition>|<bucket>" ('|' is not in
                # Spark's partition-path escape set, so the directory name
                # round-trips verbatim)
                phys = F.concat(
                    F.col(manifest["partition_col"]).cast("string"), F.lit("|"), phys
                )
        elif manifest["partition_col"]:
            phys = F.col(manifest["partition_col"]).cast("string")
        else:
            phys = F.lit("")
        df = df.withColumn(_PHYS, phys)
        by = [_PHYS]
        if salts > 1:
            # the rebalance hint takes column names only: the salt is a
            # column for the exchange and dropped before the write
            by.append("_w_salt")
            df = df.withColumn(
                "_w_salt",
                F.pmod(F.xxhash64(*[F.col(c) for c in df.columns if c != _PHYS]), F.lit(salts)),
            )
        width = 4 * (nb or self.spark.sparkContext.defaultParallelism)
        df = df.hint("rebalance", width, *by).drop("_w_salt")
        df.write.mode("overwrite").partitionBy(_PHYS).parquet(commit_dir)

        out: dict[str, list[str]] = {}
        for entry in sorted(os.listdir(commit_dir)):
            if not entry.startswith(f"{_PHYS}="):
                continue
            key = entry.split("=", 1)[1]
            pdir = os.path.join(commit_dir, entry)
            rels = [
                os.path.join(commit_rel, entry, fn)
                for fn in sorted(os.listdir(pdir))
                if fn.endswith(".parquet")
            ]
            if rels:
                out[key] = rels
        return out, commit_rel

    def _schema_aligned(self, df: DataFrame, manifest: dict) -> DataFrame:
        """Project df onto the table schema (order + types), erroring on
        missing required columns — the schema-validation gate
        (AvroReader.scala:212-261)."""
        schema = StructType.fromJson(manifest["schema"])
        missing = [f.name for f in schema.fields if f.name not in df.columns]
        if missing:
            raise ValueError(f"batch is missing required columns {missing}")
        keep_bucket = manifest["num_buckets"] is not None and BUCKET_COL in df.columns
        cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        if keep_bucket and BUCKET_COL not in [f.name for f in schema.fields]:
            cols.append(F.col(BUCKET_COL))
        return df.select(*cols)

    # --------------------------------------------------------- key blooms

    def bloom_paths(self, version: int | None = None) -> dict[int, list[str]]:
        """{bucket: [absolute segment paths]} for buckets with COMPLETE
        bloom coverage at a snapshot. A bucket absent here (invalidated
        or never bloomed) must be read the plain way."""
        m = self.snapshot(version)
        return {
            int(k): [os.path.join(self.root, p) for p in ps]
            for k, ps in m.get("blooms", {}).items()
        }

    # ------------------------------------------------------- the write path

    def _stage(
        self,
        m: dict,
        v: int,
        df=None,
        tombstone_keys: DataFrame | None = None,
        salts: int = 1,
        bloom_segments: dict[str, bytes] | None = None,
    ) -> dict:
        """Write one attempt's files for base snapshot ``m`` at version
        ``v`` in ONE Spark job — the only caller of :meth:`_write_files`.
        ``df``'s rows become data files; ``df`` may also be a function
        of ``v`` returning them (a frame read from the table itself at
        the base it is staged on). ``tombstone_keys`` (plain
        bucketed tables without key blooms) become equality-delete
        tombstone files for those keys, stamped with the attempt's commit
        version (``_tcv``, a stored column so the read side never needs a
        second input_file_name derivation). A key whose bucket holds no
        rows at ``v`` gets no tombstone: it would delete nothing, and the
        commit re-checks ``v``. On a ``key_bloom`` table,
        ``bloom_segments`` ({manifest key: segment}) attach to the
        written buckets; a bucket written without one loses its bloom
        coverage (:func:`_next_maps`). Nothing is visible until
        :meth:`commit_staged` publishes the returned part."""
        _refuse_legacy(m, self.root)
        staged = {
            "base_version": v, "new_files": {}, "commit_rel": None,
            "tomb_files": {}, "blooms": {},
        }
        if callable(df):
            df = df(v)
        frame = None if df is None else self._schema_aligned(df, m)
        if tombstone_keys is not None:
            if m["num_buckets"] is None or m.get("partition_col"):
                raise ValueError(
                    "delete_keys_insert requires a plain bucketed table"
                )
            if _key_bloom(m):
                raise ValueError(
                    "delete_keys_insert is not supported on key_bloom "
                    "tables (deletes break segment completeness)"
                )
            if m["files"]:
                bucket = self._bucket_expr(m["num_buckets"], m["bucket_cols"])
                tombs = (
                    tombstone_keys.select(*m["bucket_cols"]).distinct()
                    .withColumn(BUCKET_COL, bucket)
                    .filter(F.col(BUCKET_COL).isin([int(k) for k in m["files"]]))
                    .withColumn("_tcv", F.lit(v + 1).cast("long"))
                )
                if frame is None:
                    frame = tombs
                else:
                    if BUCKET_COL not in frame.columns:
                        frame = frame.withColumn(BUCKET_COL, bucket)
                    frame = frame.unionByName(tombs, allowMissingColumns=True)
        if frame is not None:
            written, staged["commit_rel"] = self._write_files(frame, m, v + 1, salts)
            for k, ps in written.items():
                if k.startswith("t"):
                    staged["tomb_files"][k[1:]] = ps
                else:
                    staged["new_files"][k] = ps
        if _key_bloom(m) and bloom_segments:
            for k in staged["new_files"]:
                if k in bloom_segments:
                    rel = os.path.join(staged["commit_rel"], f"_bloom_{k}.bin")
                    with open(os.path.join(self.root, rel), "wb") as bf:
                        bf.write(bloom_segments[k])
                    staged["blooms"][k] = rel
        return staged

    def _write(self, op: str, stage, summary: dict | None = None) -> int:
        """The data-write retry loop. ``stage(m, v)`` writes one
        attempt's files for base snapshot ``m`` at version ``v`` and
        returns ``(staged, replace)``, or None when there is nothing to
        write (then nothing commits and ``v`` is returned). One
        :meth:`commit_staged` publishes the attempt; on CommitConflict
        (its directories already dropped) the whole stage runs again
        from the new base, so a frame read from the table itself is
        re-read there and a concurrent commit is never lost."""
        while True:
            v = self.version()
            out = stage(self.snapshot(v), v)
            if out is None:
                return v
            try:
                return self.commit_staged(out[0], op, summary, replace=out[1])
            except CommitConflict:
                continue

    def write(
        self,
        op: str,
        df,
        tombstone_keys: DataFrame | None = None,
        summary: dict | None = None,
        bloom_segments: dict[str, bytes] | None = None,
    ) -> int:
        """Stage ``df`` (and ``tombstone_keys``, ``bloom_segments``; see
        :meth:`_stage`) and commit them as ONE ``op`` commit, staged again
        from the new base on conflict — the body of :meth:`append` and
        :meth:`delete_keys_insert`, and the redo of a :meth:`stage_write`
        whose :meth:`commit_staged` conflicted. A ``df`` given as a
        function of the base version is called again at every base."""
        def stage(m: dict, v: int):
            return self._stage(m, v, df, tombstone_keys, bloom_segments=bloom_segments), ()

        return self._write(op, stage, summary)

    def stage_write(
        self,
        df,
        tombstone_keys: DataFrame | None = None,
        bloom_segments: dict[str, bytes] | None = None,
    ) -> dict:
        """Run ONLY the data-file write job of an append / delete_insert
        now, at the latest version; publish later with
        :meth:`commit_staged` (``op="delete_insert"`` when
        ``tombstone_keys`` is given), or drop with :meth:`discard_staged`.
        Arguments as in :meth:`write`.

        Lets a caller overlap several tables' write jobs on the executors
        while still COMMITTING them in a required order (dvx.apply
        publishes an epoch's tables in one fixed order). The staged files
        are invisible until commit; a crash in between leaves an orphan
        attempt dir only."""
        v = self.version()
        return self._stage(
            self.snapshot(v), v, df, tombstone_keys, bloom_segments=bloom_segments
        )

    def discard_staged(self, staged: dict) -> None:
        """Drop a staged part that will not be committed: its attempt
        directory is referenced by no manifest."""
        if staged["commit_rel"]:
            shutil.rmtree(os.path.join(self.root, staged["commit_rel"]), ignore_errors=True)

    def commit_staged(
        self,
        staged: dict,
        op: str,
        summary: dict | None = None,
        replace=(),
    ) -> int:
        """Publish one staged part as ONE ``op`` commit. ``replace``
        names the manifest keys whose current files and tombstones the
        commit supersedes. Rows written in a tombstone's own commit
        survive it.

        Raises :class:`CommitConflict` (after removing the attempt dir)
        if the table moved past the staged base version. No silent
        retry here: the staged file paths embed the guessed commit
        version, which the tombstone resolution orders by, so
        re-targeting them at a different version would corrupt it.
        :meth:`_write` stages again."""
        v = staged["base_version"]
        try:
            if self.version() != v:
                raise CommitConflict(f"table moved past staged version {v}")
            if op not in _OPS:
                raise ValueError(f"unsupported write op {op!r}")
            m = self.snapshot(v)
            nxt = _next_maps(m, op, staged, set(replace))
            s = dict(m.get("summary", {}))
            epochs = dict(s.get("epochs", {}))
            user = dict(summary or {})
            for sid, ep in (user.pop("epochs", None) or {}).items():
                epochs[sid] = max(int(ep), int(epochs.get(sid, -1)))
            s.update(user)
            s["epochs"] = epochs
            s["added_files"] = sum(len(ps) for ps in staged["new_files"].values())
            s["total_files"] = sum(len(ps) for ps in nxt["files"].values())
            if nxt["tombstones"]:
                s["total_tombstone_files"] = sum(
                    len(ps) for ps in nxt["tombstones"].values()
                )
            manifest = {
                "operation": op,
                "schema": m["schema"],
                "num_buckets": m["num_buckets"],
                "bucket_cols": m["bucket_cols"],
                "partition_col": m["partition_col"],
                "properties": m.get("properties", {}),
                "summary": s,
            }
            if (v + 1) % _CHECKPOINT_EVERY == 0:
                manifest.update(nxt)  # checkpoint: the full maps
            else:
                manifest["delta_base"] = v
                for name in _MAPS:
                    old, new = m[name], nxt[name]
                    manifest[f"{name}_set"] = {
                        k: ps for k, ps in new.items() if old.get(k) != ps
                    }
                    manifest[f"{name}_drop"] = [k for k in old if k not in new]
            return self._commit(v, manifest)
        except CommitConflict:
            self.discard_staged(staged)
            raise

    def append(
        self,
        df: DataFrame,
        summary: dict | None = None,
        bloom_segments: dict[str, bytes] | None = None,
    ) -> int:
        """Append-only insert (Iceberg append sink, IcebergWriter.scala:86-121).
        ``bloom_segments`` as in :meth:`_stage`: a bucket appended to
        without one falls back to the plain existence read."""
        return self.write("append", df, summary=summary, bloom_segments=bloom_segments)

    def append_rows(self, rows: list[dict], summary: dict | None = None) -> int:
        """Driver-side tiny append: write ``rows`` as ONE parquet file via
        pyarrow and commit — no Spark job at all.

        The lineage/status path appends O(touched buckets) ~100-byte rows
        per micro-batch; routing that through a Spark write costs a full
        job (plan + schedule + task launch — measured ~0.5 s/batch at 16
        cores, pure per-batch fixed floor). Metadata-sized appends are
        driver work, the same way Delta/Iceberg write commit-log actions
        driver-side. Restricted to unbucketed, unpartitioned tables
        (load_metadata); data tables keep the distributed path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import types as T

        _ARROW = {
            T.LongType: pa.int64(),
            T.IntegerType: pa.int32(),
            T.StringType: pa.string(),
            T.DoubleType: pa.float64(),
            T.BooleanType: pa.bool_(),
            T.DateType: pa.date32(),
            # session tz is UTC (dvx.session); naive datetimes here are
            # UTC by the metadata._now() contract
            T.TimestampType: pa.timestamp("us", tz="UTC"),
        }

        def stage(m: dict, v: int):
            if m["num_buckets"] is not None or m["partition_col"]:
                raise ValueError(
                    "append_rows is the driver-side path for unbucketed, "
                    "unpartitioned metadata tables; use append()"
                )
            schema = StructType.fromJson(m["schema"])
            fields = []
            for f in schema.fields:
                at = _ARROW.get(type(f.dataType))
                if at is None:
                    raise TypeError(
                        f"append_rows: no arrow mapping for {f.dataType}"
                    )
                fields.append(pa.field(f.name, at, nullable=True))
            tbl = pa.Table.from_pydict(
                {f.name: [r.get(f.name) for r in rows] for f in schema.fields},
                schema=pa.schema(fields),
            )
            # same physical layout as the Spark writer (`_p=` hive dir with
            # the empty-value sentinel) so compaction and readers treat
            # both kinds of file identically
            key = "__HIVE_DEFAULT_PARTITION__"
            staged = self._stage(m, v)
            staged["commit_rel"] = os.path.join(
                "data", f"c{v + 1:010d}-{uuid.uuid4().hex[:8]}"
            )
            pdir = os.path.join(self.root, staged["commit_rel"], f"{_PHYS}={key}")
            os.makedirs(pdir, exist_ok=True)
            rel = os.path.join(
                staged["commit_rel"], f"{_PHYS}={key}",
                f"part-00000-{uuid.uuid4().hex}.parquet",
            )
            pq.write_table(tbl, os.path.join(self.root, rel), compression="snappy")
            staged["new_files"] = {key: [rel]}
            return staged, ()

        return self._write("append", stage, summary)

    def overwrite_partitions(self, df: DataFrame, summary: dict | None = None) -> int:
        """Dynamic partition overwrite — replace only the partition values
        present in df (IcebergWriter.scala:209-231; used by bridge refresh
        and SCD1 dims). The replaced keys lose their pending tombstones
        too: every key of an unpartitioned table, the written
        keys of a plain partitioned or bucketed table, every key of the
        written partition values of a composite table."""

        def stage(m: dict, v: int):
            par = self.spark.sparkContext.defaultParallelism
            if _is_composite(m):
                # the (partition x bucket) key space already spreads the
                # write across ~num_buckets tasks per partition value;
                # full-parallelism salting here multiplied FILES per key
                # ~salts-fold (measured: full 7-date PIT build emitted
                # buckets x ~26 files/date at 32 cores — the round-4
                # pit_build 4.6 -> 7.8 s regression). Salt only up to the
                # headroom the buckets don't cover.
                salts = max(1, -(-par // m["num_buckets"]))
            else:
                salts = max(2, par)
            staged = self._stage(m, v, df, salts=salts)
            keys = set().union(m["files"], m["tombstones"])
            if not m["partition_col"] and m["num_buckets"] is None:
                replace = keys  # unpartitioned: full overwrite
            elif _is_composite(m):
                written = {_part_of(k) for k in staged["new_files"]}
                replace = {k for k in keys if _part_of(k) in written}
            else:
                replace = set(staged["new_files"])
            return staged, replace

        return self._write("overwrite_partitions", stage, summary)

    def upsert_delta(self, df: DataFrame, summary: dict | None = None) -> int:
        """Upsert ``df`` (at most one row per bucket key): its keys'
        stored rows are equality-deleted and its rows inserted in ONE
        commit — :meth:`delete_keys_insert` with ``df`` as both sides."""
        return self.delete_keys_insert(df, df, summary)

    def delete_keys_insert(
        self, keys: DataFrame, rows: DataFrame, summary: dict | None = None
    ) -> int:
        """Equality-delete + append in ONE atomic commit (the Iceberg
        format-v2 equality-delete analog): every pre-existing row whose
        key appears in ``keys`` is dropped at read time (its commit
        version is older than this commit's tombstone), and ``rows``
        are appended as this commit's data files. Write IO is
        O(len(keys) + len(rows)) — no bucket is rewritten; readers pay a
        narrow hashed resolution join on the touched buckets until
        :meth:`compact_tombstones` folds them.

        This is the splice primitive for out-of-order SCD2 re-chains:
        the caller passes the re-chained keys and their full replacement
        version rows. Re-running the same splice converges — the newer
        tombstone also covers the previous run's inserted rows.

        Restricted to plain bucketed tables (no partition_col) without
        key blooms (tombstones would break bloom completeness).
        """
        return self.write("delete_insert", rows, tombstone_keys=keys, summary=summary)

    def replace_buckets(
        self, touched: list[int], contents: DataFrame, summary: dict | None = None
    ) -> int:
        """Copy-on-write commit: replace the file sets of ``touched``
        keys with ``contents`` (which must be exactly those keys' new
        rows); pending tombstones of those keys go too.
        Untouched keys carry over as pure metadata.

        ``touched`` entries are bucket ids (ints) on plain bucketed
        tables, or full ``"<partition>|<bucket>"`` key strings on
        composite tables (the incremental-PIT path)."""
        replace = {str(t) for t in touched}
        return self._write(
            "merge",
            lambda m, v: (self._stage(m, v, contents), replace),
            summary,
        )

    def _fold(self, op: str, pick, label: str) -> tuple[int, int]:
        """Rewrite the manifest keys ``pick(m)`` selects from their
        resolved read (tombstones applied) at the base version,
        replacing their files and tombstones. The read
        happens inside the retry loop, so a commit that lands meanwhile
        is folded in, not lost. Returns ``(version, keys folded)``."""
        summary: dict = {}

        def stage(m: dict, v: int):
            keys = sorted(pick(m))
            summary.clear()
            if not keys:
                return None
            summary[label] = len(keys)
            return self._stage(m, v, self.read(v, keys=keys)), keys

        v = self._write(op, stage, summary)
        return v, summary.get(label, 0)

    def compact_tombstones(self, min_files: int = 1) -> int:
        """Fold equality-delete tombstones: rewrite every bucket holding
        at least ``min_files`` tombstone files from its resolved read,
        clearing its tombstones so reads revert to plain scans with
        pushdown (rewrite_data_files analog). A satellite's current
        table takes one tombstone file per touched bucket per batch, so
        with threshold T a bucket is rewritten once every T batches: the
        amortized rewrite cost per commit is O(bucket/T) while per-batch
        write IO stays O(changed rows). Returns the number of buckets
        folded."""
        return self._fold(
            "merge",
            lambda m: [k for k, ps in m["tombstones"].items() if len(ps) >= min_files],
            "compacted_tombstone_buckets",
        )[1]

    def compact_deltas(self, max_delta_files: int = 8) -> int:
        """The former name of :meth:`compact_tombstones`."""
        return self.compact_tombstones(max_delta_files)

    # ----------------------------------------------------- exactly-once API

    def last_epoch(self, stream_id: str) -> int:
        """Max epoch committed for a stream (-1 if none) — the snapshot-
        summary mark dvx.apply skips a table's commit on, and dvx.stream
        a replayed micro-batch on."""
        return int(self.snapshot().get("summary", {}).get("epochs", {}).get(stream_id, -1))

    # ------------------------------------------------------------ evolution

    def add_columns(self, new_fields: list) -> int:
        """Additive schema evolution without rewrite (Iceberg ADD COLUMN,
        RawVaultSchema.scala:17-27; loyalty_tier scenario). Old files
        null-fill on read via the explicit read schema."""
        while True:
            v = self.version()
            m = self.snapshot(v)
            _refuse_legacy(m, self.root)
            schema = StructType.fromJson(m["schema"])
            names = {f.name for f in schema.fields}
            for f in new_fields:
                if f.name not in names:
                    schema = schema.add(f)
            manifest = dict(m)
            manifest["schema"] = json.loads(schema.json())
            manifest["operation"] = "add_columns"
            try:
                return self._commit(v, manifest)
            except CommitConflict:
                continue

    def files_added_since(self, version: int) -> list[str]:
        """Absolute paths of data files live in the CURRENT snapshot that
        were not live at ``version`` — the change-capture surface for
        downstream incremental refreshes (Iceberg's incremental-scan
        analog). A row-level change inserts only the changed rows, so the
        added files hold exactly the rows written since (compaction
        commits widen this to whole rewritten buckets — a conservative
        over-approximation). Raises FileNotFoundError if ``version`` was
        expired."""
        old = {p for ps in self.snapshot(version)["files"].values() for p in ps}
        return sorted(
            os.path.join(self.root, p)
            for ps in self.snapshot()["files"].values()
            for p in ps
            if p not in old
        )

    def publish_mirror(self, dest: str) -> int:
        """Materialize the CURRENT snapshot as a stable flat directory of
        hardlinks — the serving surface for catalog objects (persistent
        views / external tables) that address a plain parquet PATH and
        cannot consume the manifest's explicit file list. Re-publishing
        atomically retargets the directory to the new snapshot (links are
        O(files) metadata ops, no data copy; on an object store this
        becomes a manifest-driven copy or an Iceberg catalog pointer).

        Refuses while tombstones are pending: a plain directory read
        cannot express the equality deletes — fold first
        (:meth:`compact_tombstones`)."""
        m = self.snapshot()
        _refuse_legacy(m, self.root)
        if any(m["tombstones"].values()):
            raise ValueError(
                f"publish_mirror on {self.root}: pending equality-delete "
                "tombstones; run compact_tombstones() first"
            )
        os.makedirs(dest, exist_ok=True)
        for fn in os.listdir(dest):
            if fn.endswith(".parquet"):
                os.unlink(os.path.join(dest, fn))
        n = 0
        for ps in m["files"].values():
            for p in ps:
                os.link(
                    os.path.join(self.root, p),
                    os.path.join(dest, p.replace(os.sep, "__")),
                )
                n += 1
        return n

    def file_stats(self, version: int | None = None) -> list[dict]:
        """Per-partition-key file statistics at a snapshot — the
        ``table.files`` metadata-table analog (IcebergWriter.scala:
        436-469): one row per partition key with file count and on-disk
        bytes; ``delta_file_count`` / ``delta_bytes`` count the key's
        equality-delete tombstone files (Iceberg's delete files).
        Driver-side metadata walk; no Spark job."""
        m = self.snapshot(version)
        out = []

        def _size(paths: list[str]) -> int:
            size = 0
            for p in paths:
                try:
                    size += os.path.getsize(os.path.join(self.root, p))
                except OSError:
                    pass
            return size

        for k in sorted(set(m["files"]) | set(m["tombstones"])):
            paths = m["files"].get(k, [])
            tpaths = m["tombstones"].get(k, [])
            out.append(
                {
                    "partition": k,
                    "file_count": len(paths),
                    "bytes": _size(paths),
                    "delta_file_count": len(tpaths),
                    "delta_bytes": _size(tpaths),
                }
            )
        return out

    # ---------------------------------------------------------- maintenance

    def rollback(self, version: int) -> int:
        """CALL system.rollback_to_snapshot analog (IcebergWriter.scala:347-376):
        commit a NEW snapshot whose file map is the old one."""
        old = self.snapshot(version)
        _refuse_legacy(old, self.root)
        cur_v = self.version()
        manifest = dict(old)
        manifest["operation"] = "rollback"
        manifest.setdefault("summary", {})["rolled_back_to"] = version
        return self._commit(cur_v, manifest)

    def expire_snapshots(self, retain_last: int = 10) -> int:
        """CALL system.expire_snapshots analog (IcebergWriter.scala:295-325):
        drop old manifests and delete data files no live snapshot references."""
        vs = self._versions()
        expire = vs[:-retain_last] if len(vs) > retain_last else []
        if not expire:
            return 0
        keep = vs[len(expire):]
        live: set[str] = set()
        for v in keep:
            snap = self.snapshot(v)
            for name in _MAPS:
                for ps in snap[name].values():
                    live.update(ps)
        # the oldest retained manifest may be a delta whose base is about
        # to be expired: rewrite it as a checkpoint (resolved full map)
        # so the retained chain stays self-contained
        oldest = keep[0]
        if "files" not in self._read_manifest(oldest):
            full = dict(self.snapshot(oldest))
            d = _log_dir(self.root)
            tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(full, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(d, f"v{oldest:010d}.json"))
        removed = 0
        for v in expire:
            snap = self.snapshot(v)
            for ps in (ps for name in _MAPS for ps in snap[name].values()):
                for p in ps:
                    if p not in live:
                        fp = os.path.join(self.root, p)
                        if os.path.exists(fp):
                            os.unlink(fp)
                            removed += 1
            os.unlink(os.path.join(_log_dir(self.root), f"v{v:010d}.json"))
        return removed

    def compact(self, max_files_per_key: int = 1) -> int:
        """rewrite_data_files analog (IcebergWriter.scala:396-426): rewrite
        partition keys whose file count exceeds the target, or that carry
        pending tombstones. Metadata-only for already-compact
        keys. Returns the table version."""
        return self._fold(
            "compact",
            lambda m: (
                {k for k, ps in m["files"].items() if len(ps) > max_files_per_key}
                | {k for k, ps in m["tombstones"].items() if ps}
            ),
            "compacted",
        )[0]
