"""dvx command-line entry points — the spark-submit surface the reference
drives through sbt/spark-submit main classes (docs/setup_guide.md:1070,
RawVaultETL/BusinessVaultETL mains), resolved through the
:mod:`dvx.config` cascade (defaults < --config JSON < DVX_* env < flags).

    python -m dvx create   [--warehouse W] [--num-buckets N]
    python -m dvx replay   --changelog DIR [--checkpoint C] [--pit-dates D1,D2]
    python -m dvx pit      --date YYYY-MM-DD [--replace]
    python -m dvx bridge   [--incremental]
    python -m dvx views
    python -m dvx validate
    python -m dvx compact
    python -m dvx stats

On a real cluster: ``spark-submit --py-files dvx.zip -m dvx replay ...``
(north_rule run surface); locally the session factory picks
``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dvx")
    p.add_argument("--config", help="JSON config file (dvx.config cascade)")
    p.add_argument("--warehouse")
    p.add_argument("--master")
    p.add_argument("--num-buckets", type=int, dest="num_buckets")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("create")
    r = sub.add_parser("replay")
    r.add_argument("--changelog", dest="changelog_dir")
    r.add_argument("--checkpoint", dest="checkpoint_dir")
    r.add_argument("--pit-dates", dest="pit_dates")
    r.add_argument("--max-files-per-trigger", type=int, dest="max_files_per_trigger")
    pit = sub.add_parser("pit")
    pit.add_argument("--date", required=True)
    pit.add_argument("--replace", action="store_true")
    br = sub.add_parser("bridge")
    br.add_argument(
        "--incremental", action="store_true",
        help="rewrite only buckets of conversations loaded since the last refresh",
    )
    sub.add_parser("views")
    sub.add_parser("validate")
    sub.add_parser("compact")
    sub.add_parser("stats")
    return p


def main(argv: list[str] | None = None) -> int:
    from dvx.config import DvxConfig

    args = _build_parser().parse_args(argv)
    overrides = {
        k: v
        for k, v in vars(args).items()
        if k not in ("cmd", "config", "date", "replace", "incremental") and v is not None
    }
    cfg = DvxConfig.load(config_file=args.config, overrides=overrides)

    from dvx.schema import Vault
    from dvx.session import get_spark

    spark = get_spark(
        app_name=f"dvx-{args.cmd}",
        master=cfg.master or None,
        shuffle_partitions=cfg.shuffle_partitions or None,
    )
    vault = Vault(spark, cfg.warehouse, num_buckets=cfg.num_buckets)

    if args.cmd == "create":
        vault.create_all_tables()
        print(json.dumps({"created": cfg.warehouse}))
    elif args.cmd == "replay":
        from dvx.stream import run_stream

        if not cfg.changelog_dir:
            print("replay requires --changelog (or changelog_dir in config)", file=sys.stderr)
            return 2
        vault.create_all_tables()
        n = run_stream(
            vault,
            cfg.changelog_dir,
            cfg.checkpoint_dir or cfg.warehouse + "_ckpt",
            stream_id=cfg.stream_id,
            max_files_per_trigger=cfg.max_files_per_trigger,
            log_lineage=cfg.log_lineage,
            pit_dates=cfg.pit_dates or None,
        )
        print(json.dumps({"batches": n}))
    elif args.cmd == "pit":
        from dvx.pit import build_pit

        built = build_pit(vault, args.date, if_exists="replace" if args.replace else "skip")
        print(json.dumps({"date": args.date, "built": built}))
    elif args.cmd == "bridge":
        from dvx.pit import refresh_bridge

        touched = None
        if args.incremental:
            # Touched convs since the bridge's last refresh. Hub rows are
            # insert-only (load_date = first-seen, never updated), so a
            # hub-side watermark misses edits/deletes of pre-existing
            # conversations; event-time (load_date) watermarks also have a
            # cross-key skew hole. Instead: every change the satellite
            # applied since the refresh lives in data files COMMITTED
            # after the snapshot version recorded at refresh time (a
            # row-level change inserts only the changed rows; compaction
            # rewrites widen this conservatively). Read just those files' keys and map them to
            # conversations through the link.
            from dvx.lake import empty_frame

            tbl = vault.table("bridge_conversation_turn")
            sv = tbl.snapshot().get("summary", {}).get("refreshed_sat_version")
            sat_tbl = vault.sat_turn_text
            added = None
            if sv is not None:
                try:
                    added = sat_tbl.files_added_since(int(sv))
                except FileNotFoundError:
                    added = None  # expired snapshot: fall back to full refresh
            if added is not None:
                changed_turns = (
                    spark.read.schema(sat_tbl.schema()).parquet(*added)
                    if added
                    else empty_frame(spark, sat_tbl.schema())
                ).select("turn_hash_key")
                link = vault.link_conversation_turn.read().select(
                    "conv_hash_key", "turn_hash_key"
                )
                touched = link.join(
                    changed_turns, "turn_hash_key", "left_semi"
                ).select("conv_hash_key")
        n = refresh_bridge(vault, touched)
        print(json.dumps({"buckets_refreshed": n}))
    elif args.cmd == "views":
        from dvx.views import create_all_views, publish_views, staleness

        out: dict = {
            "session_views": create_all_views(vault),
            # how stale the PREVIOUS publish was at this moment (the
            # serving-freshness contract, README "Serving-freshness")
            "staleness_before": staleness(vault),
        }
        try:
            out["published"] = publish_views(vault)
        except RuntimeError as e:  # memory catalog: session views only
            out["published"] = None
            out["publish_skipped"] = str(e)
        print(json.dumps(out))
    elif args.cmd == "validate":
        from dvx.validate import validate_vault

        results = validate_vault(vault)
        print(json.dumps(results))
        return int(results["exit_code"])
    elif args.cmd == "compact":
        versions = {
            t: vault.table(t).compact() for t in vault.registry.table_names()
        }
        print(json.dumps({"compacted_to": versions}))
    elif args.cmd == "stats":
        out = {
            t: vault.table(t).file_stats()
            for t in (*vault.registry.table_names(), "pit_turn")
        }
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
