"""SparkSession factory.

Mirrors the reference's session bootstrap
(/root/reference/src/main/scala/common/SparkSessionFactory.scala:35-107 and
config/local-native/spark-defaults.conf): AQE + CBO + broadcast threshold +
dynamic partition overwrite + UTC session timezone, minus the Iceberg
catalog wiring (our ACID layer is dvx.lake, pure Parquet — the Iceberg
runtime jar is not available in this environment).

Scale notes
-----------
- ``shuffle_partitions`` defaults to the core count locally; on a real
  cluster set it to 2-3x total executor cores (AQE coalesces down).
- Arrow is enabled because all hash computation runs through vectorized
  pandas UDFs (BASELINE.json input_hint: "no per-row Python").
- UTC is mandatory for byte-deterministic replay (reference
  spark-defaults.conf timezone block).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession

from dvx.entities import DEFAULT_REGISTRY

#: fair-scheduler weight of the ``dvx_critical`` pool (every other pool
#: keeps weight 1)
CRITICAL_WEIGHT = 6
#: AQE's target post-shuffle partition size
ADVISORY_PARTITION_BYTES = 16 * 1024 * 1024
#: the largest file split one scan task reads
MAX_PARTITION_BYTES = 32 * 1024 * 1024


def _scratch_dir() -> str:
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        d = os.path.join(shm, "dvx_spark_local")
        os.makedirs(d, exist_ok=True)
        return d
    import tempfile

    return tempfile.gettempdir()


def merge_pool(name: str) -> str:
    """The fair-scheduler pool of one ingest merge job: ``scan`` for the
    fused bloom scan, else the hub or link table it inserts into."""
    return f"dvx_merge_{name}"


def _alloc_file() -> str:
    """Write the fair-scheduler allocation file (idempotent) and return
    its path. It declares every pool the ingest apply runs jobs in, so
    none is built on demand (each such pool logs a FairSchedulableBuilder
    WARN): the weighted ``dvx_critical`` (intra-pool FAIR, so two
    satellites of a multi-satellite registry still share) for the
    satellite applies and their census, and the :func:`merge_pool` of the
    scan and of each default-registry hub and link, with the
    weight 1 and FIFO mode an on-demand pool gets. A registry with other
    key tables still gets theirs on demand."""
    reg = DEFAULT_REGISTRY
    merge = ["scan"] + [t.name for t in (*reg.hubs, *reg.links)]
    pools = [("dvx_critical", "FAIR", CRITICAL_WEIGHT)]
    pools += [(merge_pool(t), "FIFO", 1) for t in merge]
    xml = "<?xml version=\"1.0\"?>\n<allocations>\n" + "".join(
        f"  <pool name=\"{name}\">\n"
        f"    <schedulingMode>{mode}</schedulingMode>\n"
        f"    <weight>{weight}</weight>\n"
        "    <minShare>0</minShare>\n"
        "  </pool>\n"
        for name, mode, weight in pools
    ) + "</allocations>\n"
    # the content's digest is in the name: a file another version wrote
    # into the shared scratch dir is never reused
    digest = hashlib.sha1(xml.encode()).hexdigest()[:12]
    path = os.path.join(_scratch_dir(), f"dvx_fair_pools_{digest}.xml")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write(xml)
        os.replace(tmp, path)
    return path


_WARMED: set[str] = set()


def warm_start(spark: SparkSession) -> None:
    """One-time engine warm-up (once per SparkSession): spawn the Python
    worker pool and classload/JIT the hot operator machinery — Arrow
    serialization, pandas-UDF and applyInPandas eval paths, whole-stage
    codegen + Janino, the parquet writer (committer, snappy codec) —
    with a tiny SYNTHETIC job, so the first real micro-batch does not
    pay multi-second cold-start inside the streaming hot path.

    Measured (sf0.1 bench, local[32]): batch 1 of the replay ran
    ~15-19 s vs ~7 s steady state — prepare_spill 5.6 s vs 1.4 s and
    the satellite's first staged write 13.5 s vs 2.6-3.2 s are almost
    entirely worker fork + pandas import (32x) and first-use codegen /
    writer classload, not data volume.

    This reads NO input data and keeps NO results — it is
    infrastructure warm-up (the local-mode analog of cluster executor
    pre-warming), safe to call from any untimed setup path.
    ``DVX_WARM_START=0`` disables it (A/B lever)."""
    if os.environ.get("DVX_WARM_START", "1") == "0":
        return
    key = spark.sparkContext.applicationId
    if key in _WARMED:
        return
    import shutil
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    n = max(2, spark.sparkContext.defaultParallelism)

    # real annotation objects (not strings): `from __future__ import
    # annotations` above would leave pandas_udf's type-hint inference
    # with an unresolvable "pd.Series" string. The UDF returns a STRUCT
    # so the warm-up walks the same Arrow struct-serialization path as
    # the fused hash UDF (dvx.hashing.registry_hashes), not just the
    # scalar one.
    def _echo_fn(s):
        return pd.DataFrame({"a": s.astype("string"), "b": s.astype("string")})

    _echo_fn.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    _echo = F.pandas_udf(_echo_fn, "a string, b string")

    # one partition per core so every worker slot forks its Python
    # worker NOW (in parallel) instead of inside the first real batch
    df = spark.range(0, n * 8, 1, n).select(
        F.col("id"),
        F.pmod("id", F.lit(7)).alias("g"),
        _echo("id").getField("a").alias("e"),
    )
    w = Window.partitionBy("g").orderBy("id")
    shaped = (
        df.groupBy("g", "id")
        .agg(F.min(F.struct("e")).alias("_s"))
        .select("g", "id", "_s.e")
        .withColumn("_lag", F.lag("id").over(w))
        .withColumn(
            "_rn",
            F.sum(F.lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    tmp = tempfile.mkdtemp(prefix="dvx_warm_", dir=_scratch_dir())
    try:
        # agg + window + snappy parquet write: the prepare/decision/write
        # shapes of the CDC hot path (class-level warm-up; per-plan
        # codegen is still compiled lazily, but Janino itself, the
        # operator classes, and the write path dominate the cold cost)
        shaped.write.mode("overwrite").option("compression", "snappy").parquet(tmp)
        # grouped-map Arrow path (the fused bloom scan shape)
        (
            df.groupBy("g")
            .applyInPandas(lambda p: p[["g"]].head(1), "g long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # marked only after the job succeeded: a failed warm-up is retried
    _WARMED.add(key)


def get_spark(
    app_name: str = "dvx",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the dvx SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # transcript rows are text-heavy but compress well: the default
        # 64MB advisory size coalesces a multi-million-row shuffle down to
        # a handful of partitions and starves the cores; 16MB keeps CDC
        # micro-batch stages at useful width without tiny-task overhead
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(ADVISORY_PARTITION_BYTES),
        )
        # a micro-batch often arrives as ONE parquet file; 32MB splits give
        # the scan (and the Arrow hash UDFs that run inside it) real width.
        # On a large cluster with many input files, raise via extra_conf.
        .config("spark.sql.files.maxPartitionBytes", str(MAX_PARTITION_BYTES))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # a lake write rebalances on its manifest key (dvx.lake
        # _write_files): splitting a skewed key over two writer tasks
        # would add a second file to it, so AQE only coalesces there
        .config("spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled", "false")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        # CBO acts on CATALOG tables with stats: dvx.views.publish_views
        # runs ANALYZE TABLE on the published serving tables, so BI SQL
        # over the persistent views gets stats-driven join reordering.
        # Path-based lake reads carry no catalog stats (AQE handles those
        # at runtime) — the flags are inert there, by design.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # local mode: the driver JVM runs every task; an undersized heap
        # turns the first action after a heavy shuffle into a multi-second
        # GC pause (measured: 12-15s spikes at 16g with local[32] on sf0.1)
        .config("spark.driver.memory", os.environ.get("DVX_DRIVER_MEMORY", "32g"))
        # shuffle/spill scratch: tmpfs when available — on this sandbox
        # /tmp is one virtual disk shared by all "executors", which is the
        # artificial serial bottleneck a real cluster (per-executor disks)
        # doesn't have; on a cluster leave DVX_LOCAL_DIR unset
        .config("spark.local.dir", os.environ.get("DVX_LOCAL_DIR", _scratch_dir()))
        # apply_batch runs 4 concurrent driver-thread jobs (hubs/link/sat):
        # FIFO lets an early hub job hog all task slots while the satellite
        # (the critical path) queues; FAIR round-robins slots across them
        .config("spark.scheduler.mode", "FAIR")
        # weighted pool for the satellite apply (the critical path of
        # every micro-batch): equal-weight FAIR stretches the critical
        # path ~Nx under N concurrent merge jobs (measured: the decisions
        # pipeline runs ~1.5 s in isolation but 12-16 s inside the
        # replay). The allocation file gives `dvx_critical` most of the
        # task slots; hub/link/scan jobs backfill its scheduling gaps
        # (guide §2.6: overlap fills the tail, the critical job should
        # not wait). CRITICAL_WEIGHT = 1 would share slots equally.
        .config("spark.scheduler.allocation.file", _alloc_file())
        # Shuffle compression ON (the cluster default) even though local
        # shuffle lands on tmpfs: an interleaved median-of-3 A/B at both
        # parallelism levels (2026-08-17, 5.6M-event batch) measured
        # compressed strictly faster — 4c 127.5s -> 101.5s, 16c 240.7s ->
        # 135.7s — because uncompressed shuffle burns kernel CPU moving
        # 4x the bytes through tmpfs (per-stage sys-CPU counters: up to
        # 654 CPU-sec kernel time in ONE 16c stage uncompressed vs ~7
        # compressed at 4c). Round-2's "LZ4 dominates jstack" reading
        # mistook user-visible decompress frames for the bottleneck while
        # the real cost was kernel-side page traffic.
        .config("spark.shuffle.compress", "true")
        .config("spark.shuffle.spill.compress", "true")
        # fewer, larger write syscalls on the shuffle path (default 32k):
        # tmpfs writes are pure kernel memcpy, so syscall count is the
        # cost driver at high core counts
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.shuffle.localDisk.file.output.buffer", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    # Persistent catalog (hive + embedded derby metastore, both shipped in
    # pyspark's jars): dvx.views.publish_views issues CREATE VIEW /
    # CREATE TABLE DDL that must survive session restarts — the
    # SemanticModel.scala:107-555 persistent-view contract. The metastore
    # initializes lazily on the first catalog operation, so pure
    # DataFrame pipelines (the CDC hot path) never pay for it.
    # DVX_CATALOG=memory opts out (e.g. a cluster with its own catalog).
    if os.environ.get("DVX_CATALOG", "hive") == "hive":
        # Embedded Derby permits ONE process per metastore directory: a
        # second concurrent session (parallel test run, interleaved bench
        # trial) against the same dir fails its first catalog op with a
        # db-lock error. Default to a per-USER cache dir (not a fixed
        # world-writable /tmp path — multi-user collision + predictable-
        # path unsafety); set DVX_METASTORE_DIR per warehouse/session to
        # run concurrent processes, or point at a real shared metastore
        # on a cluster.
        meta_dir = os.environ.get(
            "DVX_METASTORE_DIR",
            os.path.join(
                os.path.expanduser("~"), ".cache", "dvx", "metastore"
            ),
        )
        os.makedirs(meta_dir, exist_ok=True)
        b = (
            b.config("spark.sql.catalogImplementation", "hive")
            .config("spark.sql.warehouse.dir", os.path.join(meta_dir, "sql_warehouse"))
            .config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={os.path.join(meta_dir, 'metastore_db')};create=true",
            )
            .config(
                "spark.driver.extraJavaOptions",
                f"-Dderby.stream.error.file={os.path.join(meta_dir, 'derby.log')}",
            )
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
