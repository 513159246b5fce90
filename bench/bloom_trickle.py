"""Trickle-insert bloom demonstration: the regime where per-bucket key
blooms actually SKIP existence reads.

Why the replay-path A/Bs were noise-bounded (round 5, BENCH.md "Key
blooms"): a bulk CDC batch probes thousands of keys per bucket, and at
12 bits/key (fpp ~0.8%, dvx.bloom.build) the probability that a bucket
sees zero false positives is (1-fpp)^probed ~ 0 — so every bucket
reports possible hits and no read is ever skipped. The win exists in
the TRICKLE regime: a small batch of genuinely-new keys against a
large existing hub, where probed-keys-per-bucket is small enough that
most buckets report hits=0 and their existence read is skipped
entirely (read IO O(possibly-present buckets), the dvx.bloom design
note's asymptote).

Protocol: seed two key tables with the same SEED_KEYS keys — one
created with the ``key_bloom`` property, its twin without it — then
apply BATCHES trickle batches of BATCH_KEYS brand-new keys each. Both
arms make the engine's one insert call: the fused scan, the insert
staged with the scan's slice, then its commit. On the bloom table the scan prunes the
existence read to the possible-hit buckets; on the plain table every
touched bucket with data is a possible hit, so it reads them all. Each
arm's wall time includes its scan. Arms alternate order each batch,
same session/window. Reports per batch: wall per arm, buckets read by
the bloom arm (possible-hit count) vs total.

Usage: python bench/bloom_trickle.py [seed_keys] [batch_keys] [batches] [buckets]
Prints one JSON line; exit code 0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from dvx.apply import _bloom_scan, _insert_new_keys  # noqa: E402
from dvx.lake import LakeTable  # noqa: E402
from dvx.session import get_spark  # noqa: E402


def main() -> None:
    seed_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    batch_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000
    batches = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 64

    spark = get_spark(app_name="bloom-trickle")
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("payload", StringType()),
        ]
    )

    def keys_df(start: int, n: int):
        return spark.range(start, start + n).select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.concat(F.lit("p-"), F.col("id").cast("string")).alias("payload"),
        )

    def insert(tbl, src) -> dict:
        _, hits = scan = _bloom_scan(src, [("t", tbl, "k")])["t"]
        _insert_new_keys(tbl, src, "k", ["k", "payload"], scan).commit()
        return hits

    tmp = tempfile.mkdtemp(prefix="dvx_bloom_trickle_")
    results = []
    try:
        tbls = {}
        for arm in ("bloom", "plain"):
            path = os.path.join(tmp, arm)
            tbls[arm] = LakeTable.create(
                spark,
                path,
                schema,
                num_buckets=buckets,
                bucket_cols=["k"],
                properties={"key_bloom": arm == "bloom"},
            )
            # identical seed rows on both tables; only the bloom table
            # keeps the scan's segments
            insert(tbls[arm], keys_df(0, seed_keys))

        for b in range(batches):
            src = keys_df(seed_keys + b * batch_keys, batch_keys)
            row: dict = {"batch": b}
            order = ("bloom", "plain") if b % 2 == 0 else ("plain", "bloom")
            for arm in order:
                t0 = time.time()
                scan = insert(tbls[arm], src)
                row[f"{arm}_wall_s"] = round(time.time() - t0, 3)
                if arm == "bloom":
                    row["buckets_hit"] = sum(1 for hits, _ in scan.values() if hits)
                    row["buckets_touched"] = len(scan)
            results.append(row)

        # invariant: both arms inserted exactly the same rows
        counts = {
            arm: tbls[arm].read().count() for arm in ("bloom", "plain")
        }
        out = {
            "seed_keys": seed_keys,
            "batch_keys": batch_keys,
            "batches": batches,
            "buckets": buckets,
            "per_batch": results,
            "median_wall_s": {
                arm: statistics.median(r[f"{arm}_wall_s"] for r in results)
                for arm in ("bloom", "plain")
            },
            "median_buckets_read": statistics.median(
                r["buckets_hit"] for r in results
            ),
            "rows": counts,
            "rows_equal": counts["bloom"] == counts["plain"],
        }
        print(json.dumps(out))
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
