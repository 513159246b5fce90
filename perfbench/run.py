"""dvx workload benchmark: one seeded workload per run, one JSON line out.

    python3 perfbench/run.py --workload trickle --seed 7 --seconds 15 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``backfill``  an empty vault replays one large micro-batch.
- ``trickle``   a preloaded vault (set-up) resumes its checkpoint over
                a small micro-batch with updates, redeliveries, deletes
                and stale events.

Each run is a closed loop: one process, one stream, ``local[nproc]``.
The run builds its inputs from ``--seed``, replays them through
``dvx.stream.run_stream``, checks the vault against a DuckDB reduction
of the same files (perfbench/oracle.py) and prints, as its last stdout
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1`` (a separate, instrumented run: perfbench/trace.py). Every
file it writes lives under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (reports) at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("backfill", "trickle")

# Vault shape shared by both workloads: the engine's default bucket count
NUM_BUCKETS = 16
# Every batch pays a per-batch floor of ~7-15 s on a 4-core host
# whatever its size, so a run times one batch per SECONDS_PER_BATCH of
# --seconds: at 15 s, backfill times one bulk file and trickle one small
# batch with stale edits
SECONDS_PER_BATCH = 15
BACKFILL_CONVS = 300  # ~6.4k events per bulk file
PRELOAD_CONVS = 100  # ~2.1k events preloaded before trickle's timed part
SMALL_BATCH_EVENTS = 100

# A/B levers and profiling switches the engine reads from the
# environment. Every inherited DVX_* / SPARK_GRAFT_* variable is removed,
# so these run at their defaults; the run pins only what it must.
LEVERS = (
    "DVX_KEY_BLOOM", "DVX_WARM_START", "DVX_SAT_DELTA_COMPACT",
    "DVX_CRITICAL_WEIGHT", "DVX_HIST_EQ_DELETE", "DVX_ADVISORY_PARTITION_BYTES",
    "DVX_MAX_PARTITION_BYTES", "DVX_SHUFFLE_COMPRESS",
    "DVX_BLOOM_FALLBACK_MAX_ROWS", "DVX_CATALOG", "DVX_PROFILE_BATCH",
    "DVX_PROFILE_SAT",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_memory() -> str:
    """A quarter of physical RAM, capped at 4g: the engine's 32g default
    would overcommit a small host."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def pin_env(work: str, warm_start: bool) -> dict:
    """Scrub inherited levers, pin parallelism, memory and every scratch
    path inside ``work``; return the effective settings. Without
    ``warm_start`` the engine's warm-up is switched off: a run whose
    set-up streams a preload batch warms the engine with that batch."""
    for k in list(os.environ):
        if k.startswith(("DVX_", "SPARK_GRAFT_")):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        DVX_DRIVER_MEMORY=spark_memory(),
        DVX_METASTORE_DIR=os.path.join(work, "metastore"),
        DVX_LOCAL_DIR=os.path.join(work, "spark_local"),
        TMPDIR=tmp,
        # every JVM (the spark-submit launcher and Spark itself) keeps its
        # temp files inside the run and writes no hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        # Python workers import dvx from this checkout
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    if not warm_start:
        os.environ["DVX_WARM_START"] = "0"
    pinned = {k: os.environ[k] for k in (
        "SPARK_GRAFT_CPUS", "DVX_DRIVER_MEMORY", "DVX_METASTORE_DIR", "DVX_LOCAL_DIR",
        *(() if warm_start else ("DVX_WARM_START",)),
    )}
    return {**{k: "default" for k in LEVERS}, **pinned}


def canary(seconds: float = 0.3) -> float:
    """Single-core busy loop, millions of iterations per second: host
    context for the run (a slow canary means a contended host)."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(10_000):
            n += 1
    return n / (time.perf_counter() - t0) / 1e6


class RssSampler(threading.Thread):
    """Peak summed RSS of this process tree (this Python process, Spark JVM,
    Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{d}/statm") as f:
                    rss[int(d)] = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo += children.get(p, [])
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def declared_metrics() -> tuple[dict, dict]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return (
        {m["name"]: m["unit"] for m in b["end_to_end"]},
        {m["name"]: m["unit"] for m in b["per_layer"]},
    )


def make_inputs(workload: str, seed: int, seconds: int):
    from perfbench import gen

    n = max(1, seconds // SECONDS_PER_BATCH)
    if workload == "backfill":
        return gen.backfill(seed, n_files=n, convs_per_file=BACKFILL_CONVS)
    return gen.trickle(seed, preload_convs=PRELOAD_CONVS, n_files=n,
                       events_per_file=SMALL_BATCH_EVENTS)


def spark_conf(event_log: str | None) -> dict:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(work: str, event_log: str | None):
    import dvx.session
    from dvx.session import get_spark

    scratch = os.path.join(work, "scratch")
    os.makedirs(scratch, exist_ok=True)
    # the engine puts its fair-scheduler file and warm-up scratch on
    # /dev/shm when it can; keep them inside the run directory instead
    dvx.session._scratch_dir = lambda: scratch
    return get_spark(
        app_name="perfbench", master=f"local[{nproc()}]", shuffle_partitions=nproc(),
        extra_conf=spark_conf(event_log),
    )


def stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers) and wait for it:
    it exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str, out_dir: str) -> dict:
    from perfbench import gen, oracle, report
    from perfbench.trace import Tracer, make_progress_log

    traced = args.trace == 1
    n_pre = 1 if args.workload == "trickle" else 0
    env = pin_env(work, warm_start=not n_pre)
    info: dict = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace, "env": env,
                  "canary_before": canary()}
    rss = RssSampler()
    rss.start()
    tracer = Tracer(traced)
    setup: dict[str, float] = {}

    # -- set-up: inputs (median of 3 generations) --------------------------
    gen_s = []
    for i in range(3):
        t0 = time.time()
        cl = make_inputs(args.workload, args.seed, args.seconds)
        staged = gen.write(cl, os.path.join(work, f"inputs{i}"))
        gen_s.append(time.time() - t0)
    setup["inputs_s"] = statistics.median(gen_s)

    # -- set-up: session, warm-up, tables (median of 3) ---------------------
    event_log = os.path.join(work, "eventlog") if traced else None
    t0 = time.time()
    with tracer.span("session.get_spark", "session"):
        spark = start_session(work, event_log)
    setup["get_spark_s"] = time.time() - t0
    tracer.install()
    import dvx.session
    from dvx.schema import Vault
    from dvx.stream import run_stream

    progress = make_progress_log(spark)
    try:
        if not n_pre:
            t0 = time.time()
            dvx.session.warm_start(spark)
            setup["warm_start_s"] = time.time() - t0
        create_s = []
        for i in range(3):
            vault = Vault(spark, os.path.join(work, f"wh{i}"), num_buckets=NUM_BUCKETS)
            t0 = time.time()
            with tracer.span("session.create_tables", "session"):
                vault.create_all_tables()
            create_s.append(time.time() - t0)
        setup["create_tables_s"] = statistics.median(create_s)

        cl_dir = os.path.join(work, "changelog")
        ckpt = os.path.join(work, "checkpoint")
        os.makedirs(cl_dir)

        def feed(paths):
            for p in paths:
                os.rename(p, os.path.join(cl_dir, os.path.basename(p)))

        if n_pre:
            feed(staged[:n_pre])
            t0 = time.time()
            with tracer.span("stream.preload", "stream"):
                run_stream(vault, cl_dir, ckpt)
            setup["preload_s"] = time.time() - t0
            progress.wait_for(n_pre)
        info["setup"] = setup

        # -- timed: the stream ---------------------------------------------
        feed(staged[n_pre:])
        bytes_before = dir_bytes(vault.warehouse)
        attempted = len(staged) - n_pre
        tracer.epoch = None
        t0 = time.time()
        with tracer.span("stream.run_stream", "stream") as run_span:
            processed = run_stream(vault, cl_dir, ckpt)
        wall = time.time() - t0
        progress.wait_for(len(staged))
        batches = progress.batches[n_pre:]
        events = sum(b["rows"] for b in batches)
        failed = max(0, attempted - processed)

        # -- correctness ----------------------------------------------------
        files = [os.path.join(cl_dir, os.path.basename(p)) for p in staged]
        t0 = time.time()
        verdict = oracle.check(vault, files)
        info["verify_s"] = time.time() - t0
        attempted += 1
        info["oracle"] = verdict["detail"]
        wrong = verdict["wrong_rows"]

        info["num_buckets"] = NUM_BUCKETS
        info["files_per_table"] = statistics.mean(
            sum(f["file_count"] + f["delta_file_count"] for f in vault.table(t).file_stats())
            for t in vault.tables
        )
        e2e = {
            "events_per_s": events / wall,
            "batch_p50_s": statistics.median(b["triggerExecution"] for b in batches),
            "setup_s": sum(setup.values()),
            "vault_mb": dir_bytes(vault.warehouse) / 2**20,
        }
        info["stream"] = {
            "batches": batches, "events": events, "wall_s": wall,
            "processed": processed, "bytes_written": dir_bytes(vault.warehouse) - bytes_before,
        }

        extra = {}
        if traced:
            extra = report.traced_phases(
                spark, vault, args, work, files, n_pre, tracer, info
            )
            wrong += extra.pop("wrong_rows", 0)
            attempted += extra.pop("attempted", 0)
            failed += extra.pop("failed", 0)
        spark.streams.removeListener(progress)
    finally:
        spark.stop()

    # per-layer, not end-to-end: JVM heap growth made it vary by up to
    # 60% between otherwise equal runs
    info["peak_rss_mb"] = rss.stop()
    info["canary_after"] = canary()
    info["e2e"] = e2e
    e2e_units, layer_units = declared_metrics()
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if traced:
        values = report.per_layer(args, info, tracer, event_log, run_span, extra, out_dir)
        units = layer_units
    else:
        values, units = e2e, e2e_units
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    info["correct"] = wrong == 0
    info["wrong_rows"] = wrong
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(info, f, indent=1, default=str)
    report.print_table(info, values, units)
    return {
        "correct": wrong == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dvx", "stream.py")):
        print(f"perfbench: no dvx package under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work, os.path.join(ROOT, ".perfbench_out"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
