"""Core CDC batch apply: changelog micro-batch -> hub / link / sat merges.

Re-expresses the reference's RawVaultETL load semantics (SURVEY.md §3.1)
with the *intended* behavior (proper SCD2 end-dating — the reference's
UPDATE is broken, RawVaultETL.scala:1032-1078; ours folds end-dating and
insertion into one commit), driven by a declarative entity registry
(dvx.entities) instead of the reference's per-entity copy-paste
(RawVaultETL.scala:176-224, 243-367, 413-520, 700-800):

1. vectorized-UDF hashing (every hub/link business key + every
   satellite's hash-diff fused in ONE Arrow pass),
2. deterministic dedup of exact redeliveries and (ts, seq) ties at the
   version grain (min attr struct — replays must byte-match even on
   anomalous inputs),
3. hub/link merges = insert-only anti-join on hash key (J1,
   RawVaultETL.scala:204-205): ONE fused scan job per batch tests every
   key table's batch keys against its buckets' key blooms, and each
   table reads only the buckets that may hold a batch key (a table or
   bucket without blooms is read whenever it holds data),
4. per-satellite SCD2 apply over a bounded CURRENT table + append-only
   HISTORY: the batch chains per key on the satellite's OWN hash-diff
   (consecutive duplicates collapse), displaced versions are end-dated
   into history, the batch-final version replaces the stored current row;
   stale (out-of-order) arrivals trigger a per-key re-chain that splices
   them into history (one-shot semantics, nothing lost); deletes are
   tombstone versions. Every batch, stale or not, has ONE write shape:
   the history and current writes are staged concurrently, each as a
   single commit. The current side is an
   equality-delete + insert (``delete_insert``) on the changed keys; the
   history side is an append, or a ``delete_insert`` on the stale keys
   when they re-chain. Each satellite takes its touched buckets from
   ONE per-bucket row census of its parent key, which also feeds the
   lineage metrics.
5. one exactly-once rule: every table's commit is staged first, then
   the epoch publishes them in ONE fixed order (:func:`publish_order`),
   each commit carrying the epoch mark and skipped when its table
   already holds it. A crash leaves a prefix of that order committed,
   and the re-run resumes at the first table without the mark.

Scale notes
-----------
- Hash computation is Arrow-vectorized (dvx.hashing.registry_hashes)
  and fully fused: all business keys + every satellite's hash-diff in
  ONE Arrow round trip.
- The SCD2 decision logic runs on narrow (key, ts, seq, hash_diff)
  rows; full-width transcript rows never sort or shuffle through the
  chain — they are recovered per output by an anti-join against the
  (tiny, AQE-broadcast) dropped set.
- Hot-conversation skew: the chain window partitions by the satellite
  parent key (one turn) — a hot conversation's events spread across its
  turns, so no single task holds a whole hot conversation, only one
  turn's version run (bounded by the per-turn edit count). The rows
  that flow through that window are the narrow ~100B decision columns,
  so even a pathological single-turn run is cheap to sort.
- Current-table writes are equality deletes plus inserts
  (dvx.lake ``delete_insert``): per-batch write IO is O(changed rows),
  never O(touched buckets).
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dvx import metadata
from dvx.entities import DEFAULT_REGISTRY, EntityRegistry, SatelliteSpec
from dvx.hashing import registry_hashes
from dvx.lake import BUCKET_COL, CommitConflict, LakeTable
from dvx.schema import RECORD_SOURCE, Vault, descriptive_cols
from dvx.session import merge_pool

#: a satellite's current table folds a bucket's equality-delete
#: tombstones into its data once the bucket holds this many tombstone files
SAT_TOMB_COMPACT = 8


def publish_order(
    registry: EntityRegistry, pit_dates: list[str] | None = None,
    log_lineage: bool = False,
) -> list[str]:
    """The tables an epoch commits, in the one order it commits them:
    hubs, links, each satellite's history then its current table,
    ``pit_turn`` with ``pit_dates``, ``load_metadata`` with
    ``log_lineage``. Hubs before links keeps every committed link row's
    hub rows committed; history before current keeps a displaced
    version in history before current drops it; the PIT derives from
    the committed satellites; the lineage row says the epoch is done.
    :func:`apply_batch` publishes in this order and
    dvx.stream.ingest_batch skips an epoch every one of these tables
    holds."""
    return [
        *registry.table_names(),
        *(["pit_turn"] if pit_dates else []),
        *(["load_metadata"] if log_lineage else []),
    ]


class _Part(NamedTuple):
    """One table's staged commit (``LakeTable.stage_write``), and what
    stages it again when another writer moved the table first: ``rows``
    (a frame, or a function of the new base version), ``tombs`` and
    ``segments``. A part with tombstones commits as ``delete_insert``,
    any other as ``append``."""

    tbl: LakeTable
    staged: dict
    rows: DataFrame | Callable[[int], DataFrame]
    tombs: DataFrame | None = None
    segments: dict | None = None

    @property
    def op(self) -> str:
        return "append" if self.tombs is None else "delete_insert"

    def commit(self, summary: dict | None = None) -> int:
        try:
            return self.tbl.commit_staged(self.staged, self.op, summary=summary)
        except CommitConflict:  # another writer moved the table
            return self.tbl.write(self.op, self.rows, self.tombs, summary, self.segments)


def prepare_batch(df: DataFrame, registry: EntityRegistry | None = None) -> DataFrame:
    """Dedup + hash enrichment of one changelog micro-batch.

    Emits one row per (version grain, ts, seq) carrying every hub/link
    hash key and every satellite's hash-diff. Exact redeliveries (same
    grain, ts, seq, content) collapse in the dedup agg; distinct-content
    ties on (ts, seq) — an ingest-contract violation — resolve
    DETERMINISTICALLY to the min attr struct, so replays byte-match even
    on anomalous inputs. Per-satellite version chaining happens inside
    each satellite's apply (each chains on its own diff).
    """
    registry = registry or DEFAULT_REGISTRY
    extras = descriptive_cols(df.columns)
    grain = list(registry.version_grain())
    # Redistribute on the version grain BEFORE the Arrow hash UDFs. A
    # micro-batch often arrives as one file (= 1-3 scan tasks), and
    # ArrowEval runs in the scan stage — without this, MD5 hashing of
    # millions of rows is pinned to those few Python workers regardless
    # of cluster size (measured: replay throughput flat from local[4] to
    # local[32]). The dedup agg below groups on a superset of the grain,
    # so Catalyst reuses the exchange — one shuffle total, and the UDFs
    # run at full width. Measured (synth100000, 4 micro-batches):
    # without this, 16 cores run SLOWER than 4 (14.2k vs 19.7k ev/s);
    # with it, 16 cores win (22.0k vs 16.8k).
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    df = df.repartition(n_part, *grain)
    others = [c for c in df.columns if c not in (*grain, "ts", "seq")]
    deduped = (
        df.groupBy(*grain, "ts", "seq")
        .agg(F.min(F.struct(*[F.col(c) for c in others])).alias("_r"))
        .select(*grain, "ts", "seq", "_r.*")
    )
    is_del = F.when(F.col("op") == "D", F.lit("Y")).cast("string")
    sat_diff_cols = {
        s.name: [*s.attrs, *(extras if s.dynamic_extras else []), "is_deleted"]
        for s in registry.satellites
    }
    return (
        deduped.withColumn("is_deleted", is_del)
        .withColumn("_keys", registry_hashes(registry, sat_diff_cols))
        .select("*", "_keys.*")
        .drop("_keys")
        .withColumn("load_date", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("record_source", F.lit(RECORD_SOURCE))
    )


def _spill_path(vault: Vault) -> str:
    """Scratch dir for intra-batch spills, colocated with Spark's own
    shuffle scratch (tmpfs when available, dvx.session._scratch_dir)."""
    import uuid

    base = vault.spark.conf.get("spark.local.dir", "/tmp").split(",")[0]
    return os.path.join(base, "dvx_spill", uuid.uuid4().hex)


def _in_pool(sc, pool: str, fn, *args, **kwargs):
    """Run ``fn`` with this thread's Spark jobs in the fair-scheduler
    pool ``pool`` (the scheduler-pool localProperty is per Python
    thread)."""
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        return fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def _bloom_scan(
    prepared: DataFrame, specs: list[tuple[str, object, str]]
) -> dict[str, tuple[int, dict[int, tuple[int, bytes]]]]:
    """ONE shuffle-keyed job serving every key table of the batch: per
    (table, bucket), test the batch keys against the bucket's existing
    bloom segments and build this batch's new segment. Returns
    ``{table: (version, {bucket: (possible_hits, segment)})}``: the
    snapshot version the hits hold at, and exactly the batch's touched
    buckets.

    Fusing the tables into a single applyInPandas pass matters because
    each extra Spark job is per-batch fixed floor (~0.3-0.5 s at 16
    cores): this one job replaces per-table scans AND the per-table
    touched-bucket distinct-collects. Executors read segment files
    straight from the table directory — no bitmap broadcast through the
    driver. A bucket with data but without complete bloom coverage (a
    table without ``key_bloom`` has none) reports all keys as possible
    hits (= must read); a bucket with no data reports none."""
    from functools import reduce

    import pandas as pd

    from dvx import bloom as _bloom

    info = {}
    frames = []
    for name, tbl, key in specs:
        v = tbl.version()
        m = tbl.snapshot(v)
        if m["bucket_cols"] != [key]:  # the scan buckets on `key` alone
            raise ValueError(
                f"{name}: bloom scan requires bucket_cols == [{key}], "
                f"got {m['bucket_cols']}"
            )
        info[name] = (v, tbl.bloom_paths(v), {int(k) for k in m["files"] if k.isdigit()})
        frames.append(
            tbl.with_bucket(prepared.select(F.lit(name).alias("_t"), F.col(key)))
            .select("_t", F.col(key).alias("_k"), F.col(BUCKET_COL).alias("_b"))
        )
    allk = reduce(lambda a, b: a.unionByName(b), frames)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        name = pdf["_t"].iloc[0]
        b = int(pdf["_b"].iloc[0])
        _, seg_paths, with_files = info[name]
        uniq = pdf["_k"].drop_duplicates().tolist()
        if b in seg_paths:
            segs = []
            for p in seg_paths[b]:
                with open(p, "rb") as f:
                    segs.append(f.read())
            hits = int(_bloom.contains_any(segs, uniq).sum())
        elif b in with_files:
            hits = len(uniq)  # no coverage: must read the plain way
        else:
            hits = 0  # bucket has no data at all
        return pd.DataFrame(
            [{"t": name, "bucket": b, "hits": hits, "segment": _bloom.build(uniq)}]
        )

    rows = (
        allk.groupBy("_t", "_b")
        .applyInPandas(fn, "t string, bucket int, hits long, segment binary")
        .collect()
    )
    out = {n: (info[n][0], {}) for n, _, _ in specs}
    for r in rows:
        out[r.t][1][r.bucket] = (r.hits, bytes(r.segment))
    return out


def _insert_new_keys(
    tbl: LakeTable,
    src: DataFrame,
    key: str,
    select_cols: list[str],
    scan: tuple[int, dict[int, tuple[int, bytes]]],
) -> _Part | None:
    """Insert-only hub/link apply as an anti-join + APPEND, staged:
    returns the append part (None for a batch without keys), which
    the caller commits.

    Hubs and links never update, so COW-rewriting their touched buckets
    every batch is pure write amplification — O(table) per batch once
    batches spread across all buckets. This path reads only the key
    column of the touched buckets (parquet column pruning), anti-joins
    (J1, RawVaultETL.scala:204-205), and appends just the new rows:
    write IO is O(new keys).

    ``scan`` is the table's slice of :func:`_bloom_scan` over ``src``:
    at the version the scan read, the existence read is PRUNED to the
    buckets that report a possible hit — with key blooms (dvx.bloom;
    hubs/links by default) a batch of brand-new keys reads (almost) no
    existing data — and the scan's per-bucket segments ride along into
    the append commit, keeping coverage complete. At any later base (a
    commit landed after the scan, or the commit conflicted) the scan's
    blooms cannot cover the newer keys, so the anti-join reads every
    touched bucket."""
    scanned, hits = scan
    if not hits:
        return None
    others = [c for c in select_cols if c != key]
    touched = sorted(hits)
    candidates = [b for b in touched if hits[b][0]]
    src_rows = (
        tbl.with_bucket(src).groupBy(key, BUCKET_COL)
        .agg(F.min(F.struct(*[F.col(c) for c in others])).alias("_s"))
        .select(key, "_s.*", BUCKET_COL)
    )

    def new_rows(v: int) -> DataFrame:
        read = candidates if v == scanned else touched
        if not read:
            return src_rows  # every batch key is provably absent
        return src_rows.join(tbl.read(v, buckets=read).select(key), key, "left_anti")

    segments = {str(b): seg for b, (_, seg) in hits.items()}
    staged = tbl.stage_write(new_rows, bloom_segments=segments)
    return _Part(tbl, staged, new_rows, segments=segments)


def _apply_satellite(
    vault: Vault,
    spec: SatelliteSpec,
    prepared: DataFrame,
    touched: list[int],
    scratch: str,
) -> dict[str, _Part]:
    """One satellite's SCD2 apply over its current/history split, staged:
    returns ``{table name: part}`` for its history and current tables,
    which :func:`apply_batch` commits. ``touched`` lists the batch's
    buckets of the parent key (the census in :func:`apply_batch`); the
    batch's spills go under ``scratch``, which outlives the commits.

    Semantics (reference's *intended* end-dating, RawVaultETL.scala
    1032-1078 fixed), per version of THIS satellite's hash-diff:

    - The batch chains per key in (ts, seq) order; rows whose diff equals
      the immediately preceding row's collapse (consecutive-duplicate
      removal — equivalent to comparing against the previous surviving
      version, since dropped rows share their predecessor's diff).
    - FRESH surviving rows (strictly newer than the stored current by
      (ts, seq)): the no-op guard drops the batch's earliest surviving
      version if it matches the stored current hash_diff (P5 change
      filter, RawVaultETL.scala:340-346); non-final chain versions +
      displaced old current rows go to the HISTORY table; the
      batch-final version per key replaces the key's CURRENT row
      (O(changed rows) write IO).
    - EQUAL rows (same (ts, seq) as the stored current): exact
      redeliveries — dropped, idempotent.
    - STALE rows (strictly older than the stored current): out-of-order
      arrivals. Every key receiving one is re-chained from scratch:
      union(history ∪ current ∪ incoming) for that key, dedup on
      (key, ts, seq), re-collapse consecutive duplicate hash_diffs,
      recompute valid_from/valid_to — the one-shot oracle semantics for
      O(stale keys) only.

    Write shape (the same for every batch, stale or in-order): a stale
    batch first computes and spills its re-chain on a helper thread
    while this thread plans the in-order frames; then the history write
    and the current write are STAGED concurrently (lake.stage_write,
    each one Spark job carrying its rows and its tombstones), each to be
    published as ONE commit. The history
    side is an ``append`` of the in-order keys' displaced/intermediate
    rows, or, when stale keys exist, a ``delete_insert`` that also
    tombstones the stale keys' old history and appends their re-chained
    ended versions (the key sets are disjoint through ``anti_stale``;
    rows written in the tombstone's own commit survive it). The current
    side is a ``delete_insert`` that tombstones every key with a fresh
    winner or a re-chain, and inserts the batch-final rows and the
    stale keys' re-chained current rows. Both parts are staged against
    the same stored current, so a re-run after a crash between the two
    commits stages the current part it did not publish.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.window import Window

    if not touched:
        return {}
    key = spec.parent_key
    cur_tbl = vault.table(spec.name)
    hist_tbl = vault.table(spec.hist_name)
    sat_fields = cur_tbl.schema().fields
    sat_cols = [f.name for f in sat_fields]
    types = {f.name: f.dataType for f in sat_fields}

    # project the prepared batch onto this satellite's surface: its own
    # diff column becomes hash_diff; schema attrs missing from the batch
    # (evolved columns absent this epoch) null-fill
    proj = []
    for c in sat_cols:
        if c == "hash_diff":
            proj.append(F.col(spec.diff_col).alias("hash_diff"))
        elif c in ("valid_from", "valid_to", "src_seq"):
            continue
        elif c in prepared.columns:
            proj.append(F.col(c))
        else:
            proj.append(F.lit(None).cast(types[c]).alias(c))
    # no extra cache here: src projects the spilled prepared batch, and
    # every extra multi-million-row block-manager cache serializes on the
    # memory store at high core counts (measured: 3 caches alive made the
    # satellite block 4x slower at local[32] than local[8])
    src = cur_tbl.with_bucket(prepared.select(*proj, "ts", "seq"))
    # waits on exit: no helper job may outlive the apply
    with ThreadPoolExecutor(max_workers=3) as ex:
        # the decisions pass needs only the version columns of current —
        # and only for keys THE BATCH CARRIES: a column-pruned,
        # key-filtered read keeps the tombstone resolution off `text` AND
        # off every key the batch doesn't mention, so this read (and the
        # decisions join below, whose build side it is) stays O(batch)
        # as the table grows instead of O(touched buckets' live keys)
        cur_live = cur_tbl.read(
            buckets=touched, columns=[key, "hash_diff", "valid_from", "src_seq"],
            key_filter=src.select(key),
        ).select(
            F.col(key),
            F.col("hash_diff").alias("_cur_diff"),
            F.col("valid_from").alias("_cur_vf"),
            F.col("src_seq").alias("_cur_seq"),
        )
        stale = F.col("_cur_diff").isNotNull() & (
            (F.col("ts") < F.col("_cur_vf"))
            | ((F.col("ts") == F.col("_cur_vf")) & (F.col("seq") < F.col("_cur_seq")))
        )
        # NARROW chain: the whole versioning decision (in-batch chain,
        # stale detection, fresh filter, no-op guard) needs only key/ts/
        # seq/hash_diff — ~100B/row. Running it narrow keeps `text` (the
        # bulk of a transcript row) out of the chain's shuffles and
        # spills; full rows are re-fetched per output by anti-joins
        # against the (tiny) dropped sets. The cur_live join shuffles on
        # `key` and every window needs exactly that clustering, so join
        # + chain + flags are ONE job — all decisions land in a single
        # narrow spill.
        src_n = src.select(key, "ts", "seq", "hash_diff", BUCKET_COL)
        fresh = (
            F.col("_cur_diff").isNull()
            | (F.col("ts") > F.col("_cur_vf"))
            | ((F.col("ts") == F.col("_cur_vf")) & (F.col("seq") > F.col("_cur_seq")))
        )
        w = Window.partitionBy(key).orderBy("ts", "seq")
        pd_ = F.lag("hash_diff").over(w)
        surv = pd_.isNull() | (pd_ != F.col("hash_diff"))
        joined = (
            src_n.join(cur_live, key, "left")
            .withColumn("_surv", surv)
            .withColumn("_fresh", fresh)
            .withColumn("_stale", stale)
            .withColumn("_eq_cur", F.col("_cur_diff") == F.col("hash_diff"))
        )
        # running count of surviving fresh rows per key: the first one
        # (the candidate the no-op guard compares to stored current) has
        # _fidx == 1. _next_ts = ts of the NEXT surviving version (an
        # unbounded-following frame over the same sort — no new shuffle).
        fidx = F.sum((F.col("_fresh") & F.col("_surv")).cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        nxt = F.min(F.when(F.col("_surv"), F.col("ts"))).over(
            w.rowsBetween(1, Window.unboundedFollowing)
        )
        noop = (
            F.col("_surv")
            & F.col("_fresh")
            & (fidx == 1)
            & F.col("_eq_cur").isNotNull()
            & F.col("_eq_cur")
        )
        decisions = joined.select(
            key,
            "ts",
            "seq",
            BUCKET_COL,
            (F.col("_surv") & F.col("_fresh") & ~noop).alias("_win"),
            nxt.alias("_next_ts"),
            # _sb: a stale row's bucket, -1 for every other row
            F.when(F.col("_stale"), F.col(BUCKET_COL)).otherwise(F.lit(-1)).alias("_sb"),
        )
        spill_j = os.path.join(scratch, f"{spec.name}.decisions")
        # spill PARTITIONED by _sb: whether any out-of-order row exists —
        # and which buckets hold them — is then a driver-side listdir of
        # the `_sb=<bucket>` directories, and the stale slice a
        # partition-pruned read. The stale check costs ZERO Spark jobs,
        # stale batch or not (guide §2.4 / §1.2: per-batch fixed floor).
        dec_schema = decisions.schema
        decisions.write.mode("overwrite").option(
            "compression", "snappy"
        ).partitionBy("_sb").parquet(spill_j)
        # explicit schema: the spill's shape is known, so the re-read
        # skips the per-batch driver-side footer/partition inference job
        decisions = vault.spark.read.schema(dec_schema).parquet(spill_j)
        stale_buckets = sorted(
            int(d[len("_sb="):])
            for d in os.listdir(spill_j)
            if d.startswith("_sb=") and d != "_sb=-1"
        )

        # Staleness is KEY-granular: windows are per key, so only the
        # keys that actually received an out-of-order row re-chain —
        # every other key in the same bucket stays on the fast path.
        # (Bucket-granular staleness re-chained whole buckets: ONE
        # straggler event forced a dedup+window recompute over every
        # key's full history in its bucket.) The anti-joins below are
        # free when no stale rows exist, and broadcast-sized otherwise
        # (stale keys are narrow and rare in a near-ordered stream).
        stale_keys = decisions.filter("_sb >= 0").select(key).distinct()

        def as_sat(df: DataFrame, valid_to) -> DataFrame:
            return df.select(
                *[
                    F.col("ts").alias("valid_from")
                    if c == "valid_from"
                    else valid_to.alias("valid_to")
                    if c == "valid_to"
                    else F.col("seq").alias("src_seq")
                    if c == "src_seq"
                    else F.col(c)
                    for c in sat_cols
                ],
                F.col(BUCKET_COL),
            )

        # the satellite apply is the batch's critical path: its helper
        # threads' jobs join the weighted pool too
        sc = vault.spark.sparkContext

        def _rechain(path: str) -> DataFrame:
            """Re-chain the stale keys over history ∪ current ∪ batch and
            spill the result to ``path``: it feeds BOTH staged writes,
            and without the spill each write job would recompute the
            whole re-chain (two table reads + tombstone resolution +
            dedup agg + two windows) from scratch (guide §1.2: don't
            compute things twice; §5 materialize shared subtrees)."""
            attr_cols = [
                c for c in sat_cols
                if c not in (key, "valid_from", "valid_to", "src_seq")
            ]

            def as_version(df: DataFrame) -> DataFrame:
                return df.select(
                    F.col(key),
                    F.col("valid_from").alias("ts"),
                    F.col("src_seq").alias("seq"),
                    *attr_cols,
                    F.col(BUCKET_COL),
                )

            inc_re = src.join(stale_keys, key, "left_semi").select(
                F.col(key), "ts", "seq", *attr_cols, F.col(BUCKET_COL)
            )
            # key-filtered reads: the re-chain consumes only the stale
            # keys' history and current — key_filter pushes the semi
            # below the tombstone resolution
            hist_re = as_version(
                hist_tbl.with_bucket(
                    hist_tbl.read(buckets=stale_buckets, key_filter=stale_keys)
                )
            )
            cur_re = as_version(
                cur_tbl.with_bucket(
                    cur_tbl.read(buckets=stale_buckets, key_filter=stale_keys)
                )
            )
            # dedup redeliveries on (key, ts, seq) with a deterministic
            # attr pick, then re-collapse consecutive duplicate diffs and
            # recompute the valid_from/valid_to chain — the one-shot
            # semantics over everything ever seen for these keys.
            # Repartition on the key FIRST: HashPartitioning(key) is a
            # subset of the dedup agg's grouping cols, so the agg reuses
            # this exchange, and the chain windows below (partitionBy
            # key) need only a sort — the full-text version rows cross
            # ONE exchange instead of two (guide §2.4: two operations
            # keyed the same way share one exchange)
            n_part = int(
                vault.spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
            allv = (
                inc_re.unionByName(hist_re)
                .unionByName(cur_re)
                .repartition(n_part, F.col(key))
                .groupBy(key, "ts", "seq", BUCKET_COL)
                .agg(F.min(F.struct(*attr_cols)).alias("_s"))
                .select(key, "ts", "seq", BUCKET_COL, "_s.*")
            )
            wv = Window.partitionBy(key).orderBy("ts", "seq")
            collapsed = allv.withColumn("_pd", F.lag("hash_diff").over(wv)).filter(
                F.col("_pd").isNull() | (F.col("_pd") != F.col("hash_diff"))
            )
            chained = collapsed.withColumn("_nt", F.lead("ts").over(wv))
            re_sat = as_sat(chained, F.col("_nt").cast("timestamp"))
            re_sat.write.mode("overwrite").option("compression", "snappy").parquet(path)
            return vault.spark.read.schema(re_sat.schema).parquet(path)

        # ---- stale keys: start the re-chain ----
        # it depends only on the decisions spill, so it runs on a helper
        # thread while this thread plans the in-order frames below
        f_rechain = None
        if stale_buckets:
            f_rechain = ex.submit(
                _in_pool, sc, "dvx_critical", _rechain,
                os.path.join(scratch, f"{spec.name}.rechain"),
            )

        def anti_stale(df: DataFrame) -> DataFrame:
            return df.join(stale_keys, key, "left_anti") if stale_buckets else df

        winners_n = anti_stale(decisions.filter(F.col("_win")))
        # full winner rows = src MINUS the dropped set. In steady state
        # almost every batch row survives (drops = redeliveries, chain
        # collapses, stale rows, the no-op guard), so the dropped set is
        # tiny — the anti-join broadcasts under AQE and the full-text src
        # rows never shuffle or sort on this path. Likewise the non-final
        # (intermediate) versions are the rare within-batch supersedes,
        # so recovering their full rows is a broadcast-sized inner join.
        src_fast = anti_stale(src)
        dropped_n = anti_stale(decisions.filter(~F.col("_win"))).select(
            key, "ts", "seq"
        )
        inter_n = winners_n.filter(F.col("_next_ts").isNotNull()).select(
            key, "ts", "seq", "_next_ts"
        )

        # ---- in-order keys ----
        # batch-final winner per key -> new current (valid_to NULL);
        # earlier chain versions -> history with their chained end ts
        intermediates = src_fast.join(inter_n, [key, "ts", "seq"], "inner")
        finals = src_fast.join(
            dropped_n.unionByName(inter_n.select(key, "ts", "seq")),
            [key, "ts", "seq"],
            "left_anti",
        )

        # shuffle_hash hint: enders is a narrow key set — hashing it beats
        # sort-merge, which would sort the full-text cur rows. Stale keys
        # never appear in enders (winners_n excludes them), so the inner
        # join needs no extra stale filter on the cur side.
        enders = winners_n.groupBy(key).agg(F.min("ts").alias("_end_ts")).hint(
            "shuffle_hash"
        )
        # full current rows are needed ONLY for the displaced set (keys
        # whose stored version gets end-dated into history) — key_filter
        # prunes the full-text read to those keys BEFORE it resolves, so
        # the displaced read is O(updated keys), not O(touched buckets).
        # enders derives from the spilled decisions parquet, so this does
        # not recompute the chain.
        cur = cur_tbl.with_bucket(
            cur_tbl.read(buckets=touched, key_filter=enders.select(key))
        )
        displaced = (
            cur.join(enders, key, "inner")
            .withColumn("valid_to", F.col("_end_ts"))
            .select(*sat_cols, BUCKET_COL)
        )
        hist_rows = as_sat(
            intermediates, F.col("_next_ts").cast("timestamp")
        ).unionByName(displaced)
        cur_rows = as_sat(finals, F.lit(None).cast("timestamp"))

        if f_rechain is not None:
            re_sat = f_rechain.result()
            hist_rows = hist_rows.unionByName(
                re_sat.filter(F.col("valid_to").isNotNull())
            )
            cur_rows = cur_rows.unionByName(
                re_sat.filter(F.col("valid_to").isNull())
            )

        # ---- staged write overlap ----
        # history and current are INDEPENDENT tables: run both
        # multi-second WRITE jobs concurrently on the executors; the
        # metadata commits follow in apply_batch's publish order. Each
        # write carries its tombstones: on history the stale keys, on
        # current every key with a fresh winner or a re-chain — read
        # from the decisions spill, so no frame above is recomputed for
        # them.
        changed = decisions.filter(F.col("_win") | (F.col("_sb") >= 0))
        writes = {
            spec.hist_name: (hist_tbl, hist_rows, stale_keys if stale_buckets else None),
            spec.name: (cur_tbl, cur_rows, changed.select(key)),
        }
        futs = {
            name: ex.submit(_in_pool, sc, "dvx_critical", tbl.stage_write, rows, keys)
            for name, (tbl, rows, keys) in writes.items()
        }
        return {
            name: _Part(tbl, futs[name].result(), rows, keys)
            for name, (tbl, rows, keys) in writes.items()
        }


def apply_batch(
    vault: Vault,
    batch: DataFrame,
    epoch_id: int | None = None,
    stream_id: str = "default",
    pit_dates: list[str] | None = None,
    log_lineage: bool = False,
) -> dict:
    """Apply one changelog micro-batch to the vault (idempotent).

    The prepared batch is materialized ONCE as scratch parquet and feeds
    every merge (the reference re-reads staging per entity; we don't).
    Parquet spill instead of ``persist()``: downstream consumers are
    column-disjoint (hubs/link read 3-5 narrow key columns, only a text
    satellite reads ``text``), so column-pruned parquet reads do
    strictly less decompression than columnar-cache scans — and the
    block-manager eviction race under concurrent jobs at high core
    counts made cached replays bimodal (measured: identical profile runs
    at local[16] swinging 43s ↔ 172s wall / 470 ↔ 2000 CPU-sec with
    persist(); spill reads are deterministic). The table merges are
    independent, so their write jobs are staged concurrently as
    driver-thread jobs (each in its own fair-scheduler pool) sharing the
    executors — the per-batch fixed overhead (scheduling, task launch)
    overlaps instead of summing, which matters most for small/frequent
    micro-batches.

    The merges wait on the batch's only driver collects: the fused
    :func:`_bloom_scan` over every hub and link gates the key-table
    inserts, and one per-bucket row census per distinct satellite
    parent key gates that key's satellites.

    Exactly-once rule: once every staged write is done, ONE loop
    publishes the epoch's tables in :func:`publish_order` — hubs, links,
    each satellite's history then current, the PIT snapshots for
    ``pit_dates`` (all dates in one commit, derived from the committed
    satellites), the lineage rows with ``log_lineage`` — and every
    commit carries the epoch mark. A table that already holds the mark
    is skipped (its staged part dropped), so a re-run after a crash at
    any commit boundary publishes exactly the tables the crash left
    behind. A commit that conflicts with another writer is staged again
    at the new base.

    Returns the event count and the per-bucket row counts of the first
    satellite's parent key (the lineage table's metrics).
    """
    import shutil as _shutil
    from concurrent.futures import ThreadPoolExecutor

    from dvx import pit
    from dvx.evolve import evolve_for_batch

    registry = vault.registry
    if pit_dates and pit.PIT_SATELLITE not in [s.name for s in registry.satellites]:
        # checked before any commit: a failure after the vault commits
        # would leave the epoch applied without its PIT maintenance
        raise ValueError(
            f"pit_dates maintenance requires the '{pit.PIT_SATELLITE}' "
            "satellite in the registry (dvx.pit builds the PIT over it); "
            f"this registry has {[s.name for s in registry.satellites]}"
        )
    desc_extras = evolve_for_batch(vault, batch)
    # snappy spills even on tmpfs scratch: transcript text compresses 3-4x,
    # and tmpfs "IO" is kernel memcpy, so fewer bytes = less sys-CPU (16c
    # A/B 2026-08-17: prepare stage 27.2s -> 17.4s, kernel CPU 128 -> 12s).
    # Every spill of the batch lives under `scratch`: the redo of a
    # conflicting commit may re-read them, so they outlive the publish.
    scratch = _spill_path(vault)
    spill = os.path.join(scratch, "prepared")
    pre = prepare_batch(batch, registry)
    pre.write.mode("overwrite").option("compression", "snappy").parquet(spill)
    prepared = vault.spark.read.schema(pre.schema).parquet(spill)
    try:
        summary = {"epochs": {stream_id: epoch_id}} if epoch_id is not None else None

        # every hub and link: (name, table, hash key, inserted columns)
        audit = ["load_date", "record_source"]
        key_tables = [
            (h.name, vault.table(h.name), h.hash_key,
             [h.hash_key, *h.business_keys, *audit])
            for h in registry.hubs
        ] + [
            (l.name, vault.table(l.name), l.hash_key,
             [l.hash_key, *l.parents, *audit])
            for l in registry.links
        ]
        # one census per distinct satellite parent key, on the bucket
        # function of the first satellite hanging off that key
        census_tables = {}
        for s in registry.satellites:
            census_tables.setdefault(s.parent_key, vault.table(s.name))

        def _count_buckets(key: str) -> list[tuple[int, int]]:
            # per-bucket row counts of the batch on ``key``: the
            # satellites' touched-bucket lists and the lineage metrics
            # in ONE narrow job
            bucketed = census_tables[key].with_bucket(prepared.select(key))
            return sorted(
                (r[0], r[1])
                for r in bucketed.groupBy(BUCKET_COL).count().collect()
            )

        # each merge thread gets its OWN fair-scheduler pool: with
        # spark.scheduler.mode=FAIR alone, all jobs land in the
        # default pool whose intra-pool scheduling is FIFO — an early
        # hub job would still hog every slot. Distinct on-demand pools
        # (default weight 1) round-robin slots across the merges.
        # The fused bloom scan and the census run as concurrent pooled
        # jobs too: the satellite applies (the critical path) start as
        # soon as their census lands (~sub-second narrow agg) instead of
        # waiting behind the multi-second scan that only the hub/link
        # inserts consume (guide §2.6 overlap).
        sc = vault.spark.sparkContext
        n_workers = 1 + len(census_tables) + len(key_tables) + len(registry.satellites)
        parts: dict[str, _Part] = {}
        with ThreadPoolExecutor(max_workers=n_workers) as ex:
            fut_scan = ex.submit(
                _in_pool, sc, merge_pool("scan"), _bloom_scan, prepared,
                [(nm, tbl, key) for nm, tbl, key, _ in key_tables],
            )
            # the census GATES the satellite start — run it in the
            # weighted critical pool so it never queues behind the
            # scan/hub stages
            fut_counts = {
                key: ex.submit(_in_pool, sc, "dvx_critical", _count_buckets, key)
                for key in census_tables
            }

            def _run_sat(s):
                touched = [b for b, _ in fut_counts[s.parent_key].result()]
                parts.update(_apply_satellite(vault, s, prepared, touched, scratch))

            def _run_key_table(nm, tbl, key, cols):
                parts[nm] = _insert_new_keys(
                    tbl, prepared.select(*cols), key, cols, fut_scan.result()[nm]
                )

            futs = [
                # the satellite applies are the critical path of the
                # batch: the weighted `dvx_critical` pool (dvx.session
                # _alloc_file) gives them most task slots; hub/link/
                # scan backfill (guide §2.6)
                ex.submit(_in_pool, sc, "dvx_critical", _run_sat, s)
                for s in registry.satellites
            ]
            futs += [
                ex.submit(
                    _in_pool, sc, merge_pool(nm), _run_key_table, nm, tbl, key, cols
                )
                for nm, tbl, key, cols in key_tables
            ]
            for f in futs:
                f.result()
            bucket_counts = fut_counts[registry.satellites[0].parent_key].result()
        events = sum(c for _, c in bucket_counts)

        # ---- publish: the one exactly-once rule ----
        # (a table the batch has no rows for has no entry)
        publish = {name: part.commit for name, part in parts.items() if part}
        if pit_dates:
            # maintained from the prepared batch's already-computed hash
            # keys while it is still spilled: no second Arrow hashing pass
            publish["pit_turn"] = lambda summary: pit.build_pit_incremental(
                vault, pit_dates, prepared, summary
            )
        if log_lineage:
            publish["load_metadata"] = lambda summary: metadata.log_epoch_lineage(
                vault, epoch_id, metadata.ENTITY, bucket_counts, events, stream_id, summary
            )
        for name in publish_order(registry, pit_dates, log_lineage):
            if epoch_id is not None and vault.table(name).last_epoch(stream_id) >= epoch_id:
                if parts.get(name):  # committed before a crash: drop the re-stage
                    parts[name].tbl.discard_staged(parts[name].staged)
            elif name in publish:
                publish[name](summary)
        for s in registry.satellites:
            # folding a bucket every SAT_TOMB_COMPACT current commits
            # keeps its amortized rewrite O(bucket/threshold)
            _in_pool(
                sc, "dvx_critical",
                vault.table(s.name).compact_tombstones, SAT_TOMB_COMPACT,
            )
        return {"events": events, "extras": desc_extras, "bucket_counts": bucket_counts}
    finally:
        _shutil.rmtree(scratch, ignore_errors=True)
