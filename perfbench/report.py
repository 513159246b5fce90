"""Traced-run phases, per-layer metrics and the printed table.

Per-layer metrics are computed over the timed stream phase (the
``stream.run_stream`` span) unless their name says otherwise; "per
batch" values are medians over that phase's micro-batches. Both traced
workloads run the same extra phases (prepare alone, a serve round, the
text ops), so every per-layer time is measured on both.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import statistics
import sys
import time

from perfbench import trace

POOLS = (
    "dvx_critical", "dvx_merge_scan", "dvx_merge_hub_conversation",
    "dvx_merge_hub_turn", "dvx_merge_link_conversation_turn",
)
KEY_TABLES = ("hub_conversation", "hub_turn", "link_conversation_turn")
# every table the stream writes; per-op detail goes to the report file
# only, since which ops a batch calls depends on the workload
LAKE_TABLES = (
    "hub_conversation", "hub_turn", "link_conversation_turn",
    "sat_turn_text", "sat_turn_text_hist", "load_metadata",
)
SERVE = ("current_state", "pit_build", "fact_summary", "conversation_360", "validate")
OPS = ("near_dup", "ann_topk")
LAYERS = ("stream", "apply", "prepare", "bloom", "evolve", "metadata", "lake")
PIT_DATE = "2024-01-08"


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _group(spark, name: str):
    spark.sparkContext.setJobGroup(f"perfbench:{name}", name)


def _ungroup(spark) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------
# traced-only phases
# ---------------------------------------------------------------------


def traced_phases(spark, vault, args, work, files, n_pre, tracer, info) -> dict:
    """Run the phases only the traced run has; returns their counts
    (``wrong_rows``, ``attempted``, ``failed``) plus timings."""
    out = {"wrong_rows": 0, "attempted": 0, "failed": 0}
    out.update(_prepare_alone(spark, files[n_pre:], tracer))
    out.update(_serve(spark, vault, tracer, out))
    out.update(_text_ops(spark, work, args.seed, tracer, out))
    return out


def _prepare_alone(spark, files, tracer) -> dict:
    """``prepare_batch`` materialized alone (noop sink) on the workload's
    timed files: per-event cost of the hashing + dedup shuffle."""
    from dvx.apply import prepare_batch
    from dvx.schema import CHANGELOG_SCHEMA

    events, secs = 0, 0.0
    _group(spark, "prepare")
    try:
        for f in files:
            df = spark.read.schema(CHANGELOG_SCHEMA).parquet(f)
            events += df.count()
            t0 = time.time()
            with tracer.span("prepare.alone", "phase"):
                prepare_batch(df).write.format("noop").mode("overwrite").save()
            secs += time.time() - t0
    finally:
        _ungroup(spark)
    return {"prepare_events": events, "prepare_s": secs}


def _serve(spark, vault, tracer, counts) -> dict:
    """One round of the serving mix on the vault the stream just built."""
    from pyspark.sql import functions as F

    from dvx import gold, pit, validate, views

    def current_state():
        sat = vault.sat_turn_text.read().filter(
            F.col("valid_to").isNull() & F.col("is_deleted").isNull()
        )
        hub = vault.hub_turn.read().select("turn_hash_key", "conv_id", "turn_idx")
        return sat.join(hub, "turn_hash_key").count()

    def conversation_360():
        views.create_all_views(vault)
        return len(spark.table("v_conversation_360").collect())

    queries = {
        "current_state": current_state,
        "pit_build": lambda: pit.build_pit(vault, PIT_DATE, if_exists="replace"),
        "fact_summary": lambda: len(gold.fact_summary(vault).collect()),
        "conversation_360": conversation_360,
        "validate": lambda: validate.validate_vault(vault, pit_dates=[PIT_DATE]),
    }
    out = {}
    with tracer.span("serve.refresh_bridge", "serve"):
        pit.refresh_bridge(vault)
    for name, fn in queries.items():
        counts["attempted"] += 1
        _group(spark, f"serve.{name}")
        t0 = time.time()
        try:
            with tracer.span(f"serve.{name}", "serve"):
                res = fn()
        except Exception as e:  # a failed query is counted, not fatal
            print(f"serve.{name} failed: {e!r}", file=sys.stderr)
            counts["failed"] += 1
            res = None
        finally:
            _ungroup(spark)
        out[f"serve_{name}_s"] = time.time() - t0
        if name == "validate" and res is not None:
            bad = [k for k, v in res["checks"].items() if not v["ok"]]
            if bad:
                print(f"validate_vault failed checks: {bad}", file=sys.stderr)
            counts["wrong_rows"] += len(bad)
    return out


def _docs(seed: int, n: int = 2000):
    """Transcript-like documents; every 10th is a near-copy (one word
    changed) of a random earlier one."""
    import numpy as np

    rng = np.random.default_rng(seed + 7919)
    docs = []
    for i in range(n):
        if i % 10 == 9:
            words = docs[int(rng.integers(0, i))][1].split()
            words[int(rng.integers(0, len(words)))] = f"x{int(rng.integers(0, 1000))}"
        else:
            words = [f"w{w}" for w in rng.integers(0, 300, int(rng.integers(12, 40)))]
        docs.append((i, " ".join(words)))
    emb = rng.standard_normal((1000, 32)).astype("float32")
    return docs, emb


def _lsh_reference(docs, num_hashes: int = 8, bands: int = 4) -> set:
    """The MinHash-LSH definition of dvx.ops.dedup (k=5 word shingles,
    md5 min-hashes, md5 band buckets), in plain Python."""
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    buckets: dict[tuple, list[int]] = {}
    rows = num_hashes // bands
    for doc_id, text in docs:
        toks = text.lower().split()
        sh = {" ".join(toks[i:i + 5]) for i in range(max(len(toks) - 4, 1))}
        mh = [min(md5(f"{h}~{s}") for s in sh) for h in range(num_hashes)]
        for b in range(bands):
            key = (b, md5("~".join([str(b), *mh[b * rows:(b + 1) * rows]])))
            buckets.setdefault(key, []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        if len(ids) <= 10000:
            pairs.update((a, b) for a in ids for b in ids if a < b)
    return pairs


def _text_ops(spark, work, seed, tracer, counts) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dvx.ops import dedup, similarity

    docs, emb = _docs(seed)
    d_path, e_path = os.path.join(work, "docs.parquet"), os.path.join(work, "emb.parquet")
    pq.write_table(pa.table({"doc_id": [d for d, _ in docs], "text": [t for _, t in docs]}), d_path)
    pq.write_table(pa.table({
        "vec_id": np.arange(len(emb), dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
    }), e_path)
    out = {}

    counts["attempted"] += 1
    _group(spark, "ops.near_dup")
    t0 = time.time()
    try:
        with tracer.span("ops.near_dup", "ops"):
            sh = dedup.shingles(spark.read.parquet(d_path))
            got = {(r[0], r[1]) for r in dedup.lsh_pairs(dedup.minhash_signatures(sh)).collect()}
    finally:
        _ungroup(spark)
    out["ops_near_dup_s"] = time.time() - t0
    counts["wrong_rows"] += len(got ^ _lsh_reference(docs))

    counts["attempted"] += 1
    corpus = spark.read.parquet(e_path)
    n_q = 20
    _group(spark, "ops.ann_topk")
    t0 = time.time()
    try:
        with tracer.span("ops.ann_topk", "ops"):
            rows = similarity.brute_force_topk(
                corpus, corpus.filter(f"vec_id < {n_q}"), k=5
            ).collect()
    finally:
        _ungroup(spark)
    out["ops_ann_topk_s"] = time.time() - t0
    e64 = emb.astype("float64")
    unit = e64 / np.linalg.norm(e64, axis=1, keepdims=True)
    cos = unit[:n_q] @ unit.T
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in rows}
    for q in range(n_q):
        c = cos[q].copy()
        c[q] = -np.inf
        for rank, nb in enumerate(np.argsort(-c, kind="stable")[:5], start=1):
            g = got.get((q, rank))
            # a different id is wrong unless the two are tied at 1e-6
            if g is None or (g != nb and abs(c[g] - c[nb]) > 1e-6):
                counts["wrong_rows"] += 1
    return out


# ---------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(args, info, tracer, event_log, run_span, extra, out_dir) -> dict:
    """Every per-layer metric of the traced run; also writes the report
    (``<tag>-layers.json``) and the spans (``<tag>-spans.jsonl``)."""
    spans = tracer.spans
    win = (run_span.start, run_span.end)
    inside = [s for s in spans if s.start >= win[0] and s.end <= win[1] and s is not run_span]
    batches = info["stream"]["batches"]
    ingest = {s.epoch: s for s in inside if s.name == "apply.ingest_batch"}
    ev = trace.read_event_log(event_log)
    jobs, stages = ev["jobs"], ev["stages"]
    m: dict[str, float] = {}

    # -- stream ----------------------------------------------------------
    trig = [b["triggerExecution"] for b in batches]
    floors = [b["triggerExecution"] - b.get("addBatch", 0.0) for b in batches]
    m["stream.floor_s"] = _median(floors)
    m["stream.latest_offset_s"] = _median(b.get("latestOffset", 0.0) for b in batches)
    m["stream.wal_commit_s"] = _median(b.get("walCommit", 0.0) for b in batches)
    m["stream.commit_offsets_s"] = _median(b.get("commitOffsets", 0.0) for b in batches)
    m["stream.floor_share"] = sum(floors) / sum(trig)
    first_start = _epoch_s(batches[0]["timestamp"])
    m["stream.query_start_s"] = first_start - run_span.start
    last_end = max(s.end for s in ingest.values())
    m["stream.drain_fold_s"] = trace.union_s(
        (s.start, s.end) for s in inside
        if s.name in ("compact_deltas", "compact_tombstones") and s.start >= last_end
    )

    # -- apply + Spark jobs per batch -----------------------------------------
    per_batch = []
    for b in batches:
        s = ingest.get(b["batch"])
        bj = [j for j in jobs if s and s.start <= j["submit"] <= s.end]
        tot = trace.job_totals(bj, stages)
        busy = trace.union_s(
            iv for j in bj for st in j["stages"] for iv in stages[st]["intervals"]
        )
        pools = {}
        for p in POOLS:
            pj = [j for j in bj if j["pool"] == p]
            pools[p] = {
                "wall_s": trace.union_s((j["submit"], j["end"]) for j in pj),
                "task_s": trace.job_totals(pj, stages)["task_s"],
                "jobs": len(pj),
            }
        per_batch.append({
            "batch": b["batch"], "trigger_s": b["triggerExecution"],
            "add_batch_s": b.get("addBatch", 0.0),
            "ingest_s": (s.end - s.start) if s else 0.0,
            "task_busy_s": busy, **tot, "pools": pools,
        })
    m["apply.batch_s"] = _median(p["ingest_s"] for p in per_batch)
    m["apply.jobs_per_batch"] = _median(p["jobs"] for p in per_batch)
    m["apply.stages_per_batch"] = _median(p["stages"] for p in per_batch)
    m["apply.tasks_per_batch"] = _median(p["tasks"] for p in per_batch)
    # share of the batch during which no task ran: scheduling, commits,
    # planning and listing on the Spark application side (the per-batch
    # fixed floor)
    m["batch.fixed_share"] = 1 - sum(p["task_busy_s"] for p in per_batch) / sum(trig)
    for p in POOLS:
        for k in ("wall_s", "task_s", "jobs"):
            m[f"pool.{p}.{k}"] = _median(b["pools"][p][k] for b in per_batch)

    # -- prepare alone ----------------------------------------------------------
    prep_jobs = [j for j in jobs if j["group"] == "perfbench:prepare"]
    n_ev = max(1, extra.get("prepare_events", 0))
    m["prepare.s_per_kevent"] = extra.get("prepare_s", 0.0) / n_ev * 1000
    m["prepare.shuffle_bytes_per_event"] = (
        trace.job_totals(prep_jobs, stages)["shuffle_write"] / n_ev
    )

    # -- bloom -------------------------------------------------------------------
    reads = [
        s for s in inside
        if s.layer == "lake_read" and s.attrs.get("table") in KEY_TABLES
    ]
    nb = info["num_buckets"]
    m["bloom.buckets_read_frac"] = (
        sum(nb if s.attrs["buckets"] is None else s.attrs["buckets"] for s in reads)
        / (nb * len(reads)) if reads else 0.0
    )
    m["bloom.scan_s"] = _median(
        s.end - s.start for s in inside if s.name == "bloom.bloom_scan"
    )

    # -- lake ----------------------------------------------------------------
    lake_ops: dict[str, dict] = {}
    writes = [s for s in inside if s.layer == "lake" and s.attrs.get("table") in LAKE_TABLES]
    for s in writes:
        op = lake_ops.setdefault(f"{s.attrs['table']}.{s.name}", {"s": 0.0, "calls": 0})
        op["s"] += s.end - s.start
        op["calls"] += 1
    for table in LAKE_TABLES:
        ss = [s for s in writes if s.attrs["table"] == table]
        # union: a write op may call another on the same table
        m[f"lake.{table}.write_s"] = trace.union_s((s.start, s.end) for s in ss)
        m[f"lake.{table}.write_calls"] = len(ss)
    events = max(1, info["stream"]["events"])
    m["lake.bytes_written_per_event"] = info["stream"]["bytes_written"] / events
    m["lake.files_per_table"] = info["files_per_table"]

    # -- evolve / metadata ----------------------------------------------------------
    m["evolve.s"] = _median(s.end - s.start for s in inside if s.layer == "evolve")
    m["metadata.lineage_s"] = _median(
        s.end - s.start for s in inside if s.layer == "metadata"
    )

    # -- Spark totals of the timed phase ----------------------------------------
    stream_jobs = [j for j in jobs if win[0] <= j["submit"] <= win[1]]
    tot = trace.job_totals(stream_jobs, stages)
    m["spark.shuffle_write_bytes"] = tot["shuffle_write"]
    m["spark.executor_cpu_s"] = tot["cpu_s"]
    m["spark.gc_s"] = tot["gc_s"]

    # -- serve / ops ---------------------------------------------------------------
    for q in SERVE:
        qj = [j for j in jobs if j["group"] == f"perfbench:serve.{q}"]
        t = trace.job_totals(qj, stages)
        m[f"serve.{q}.s"] = extra.get(f"serve_{q}_s", 0.0)
        m[f"serve.{q}.jobs"] = t["jobs"]
        m[f"serve.{q}.shuffle_bytes"] = t["shuffle_write"]
    for o in OPS:
        oj = [j for j in jobs if j["group"] == f"perfbench:ops.{o}"]
        t = trace.job_totals(oj, stages)
        m[f"ops.{o}.s"] = extra.get(f"ops_{o}_s", 0.0)
        m[f"ops.{o}.jobs"] = t["jobs"]
        m[f"ops.{o}.tasks"] = t["tasks"]

    # -- session -------------------------------------------------------------------
    m["process.peak_rss_mb"] = info["peak_rss_mb"]
    setup = info["setup"]
    m["session.get_spark_s"] = setup["get_spark_s"]
    # the engine gets warm in set-up by warm_start (backfill) or by the
    # preload batch, with warm_start off (trickle)
    m["session.warm_s"] = setup.get("warm_start_s", setup.get("preload_s", 0.0))
    m["session.create_tables_s"] = setup["create_tables_s"]

    # -- layer self / busy time -------------------------------------------------------
    timed = [s for s in inside if s.layer in LAYERS]
    selfs = trace.self_times(timed + [run_span])
    for layer in LAYERS:
        m[f"layer.{layer}.self_s"] = selfs.get(layer, 0.0)
        m[f"layer.{layer}.busy_s"] = trace.union_s(
            (s.start, s.end) for s in timed + [run_span] if s.layer == layer
        )

    # -- closure + overhead -----------------------------------------------------------
    batch_err = [
        abs(p["ingest_s"] - p["add_batch_s"]) / p["trigger_s"] for p in per_batch
    ]
    wall = info["stream"]["wall_s"]
    accounted = sum(trig) + m["stream.query_start_s"] + m["stream.drain_fold_s"]
    m["trace.closure_batch_err"] = max(batch_err)
    m["trace.closure_run_err"] = abs(wall - accounted) / wall
    eps_n = info["e2e"]["events_per_s"]
    base = []
    for path in glob.glob(os.path.join(out_dir, f"{args.workload}-seed*-trace0.json")):
        with open(path) as f:
            base.append(json.load(f)["e2e"]["events_per_s"])
    m["trace.overhead_frac"] = (
        (_median(base) - eps_n) / _median(base) if base else 0.0
    )
    m["trace.spans"] = len(spans)

    tag = f"{args.workload}-seed{args.seed}-trace1"
    trace.write_spans(os.path.join(out_dir, tag + "-spans.jsonl"), spans)
    report = {
        "metrics": m,
        "per_batch": per_batch,
        "closure": {
            "batch_err": batch_err, "run_wall_s": wall, "accounted_s": accounted,
            "pass": max(batch_err) <= 0.05 and m["trace.closure_run_err"] <= 0.05,
        },
        "overhead": {"untraced_events_per_s": base, "traced_events_per_s": eps_n},
        "self_s": selfs,
        "lake_ops": lake_ops,
        "extra": extra,
    }
    with open(os.path.join(out_dir, tag + "-layers.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    info["closure_pass"] = report["closure"]["pass"]
    return m


def print_table(info: dict, values: dict, units: dict) -> None:
    """Every metric by name with its unit, then the run's context."""
    print(f"== perfbench {info['workload']} seed={info['seed']} trace={info['trace']}")
    for k in units:
        print(f"  {k:44s} {values[k]:16.4f} {units[k]}")
    s = info["stream"]
    trig = sorted(b["triggerExecution"] for b in s["batches"])
    print(f"  batches {len(trig)} (max {trig[-1]:.3f} s), events {s['events']}, "
          f"stream wall {s['wall_s']:.3f} s")
    print(f"  set-up {json.dumps({k: round(v, 3) for k, v in info['setup'].items()})}")
    print(f"  oracle {json.dumps(info['oracle'])}, wrong_rows {info['wrong_rows']}")
    print(f"  peak RSS {info['peak_rss_mb']:.1f} MB; canary {info['canary_before']:.2f}"
          f" -> {info['canary_after']:.2f} M it/s")
    print(f"  env {json.dumps(info['env'])}")
    if "closure_pass" in info:
        print(f"  closure within 5%: {info['closure_pass']}")
    sys.stdout.flush()
