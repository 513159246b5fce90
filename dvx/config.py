"""Layered run configuration — the reference's ETLConfig / ConfigLoader
cascade (common/ETLConfig.scala:66-91, ConfigLoader.scala:109-143)
re-expressed for Python: defaults < JSON config file < environment
(``DVX_<KEY>``) < explicit overrides, with typed accessors.

The reference resolves system properties > env > HOCON file > defaults;
here the file format is plain JSON (no external deps) and "system
properties" become explicit overrides passed by the caller/CLI.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields


@dataclass
class DvxConfig:
    warehouse: str = "/tmp/dvx_warehouse"
    changelog_dir: str = ""
    checkpoint_dir: str = ""
    master: str = ""  # "" -> dvx.session default (local[$SPARK_GRAFT_CPUS])
    num_buckets: int = 16
    max_files_per_trigger: int = 1
    shuffle_partitions: int = 0  # 0 -> derived from master
    pit_dates: list[str] = field(default_factory=list)
    log_lineage: bool = True
    stream_id: str = "default"

    @classmethod
    def load(
        cls,
        config_file: str | None = None,
        overrides: dict | None = None,
        env: dict | None = None,
    ) -> "DvxConfig":
        """Resolve the cascade. ``env`` defaults to ``os.environ``; a key
        ``num_buckets`` reads ``DVX_NUM_BUCKETS``. Unknown file keys
        raise (fail-fast, the reference's validateConfig gate)."""
        env = os.environ if env is None else env
        values: dict = {}
        known = {f.name: f for f in fields(cls)}
        if config_file:
            with open(config_file) as fh:
                file_vals = json.load(fh)
            unknown = sorted(set(file_vals) - set(known))
            if unknown:
                raise ValueError(f"unknown config keys in {config_file}: {unknown}")
            values.update(file_vals)
        for name in known:
            env_key = "DVX_" + name.upper()
            if env_key in env:
                values[name] = env[env_key]
        if overrides:
            values.update({k: v for k, v in overrides.items() if v is not None})
        # coerce strings (env vars arrive as str) to field types
        out = {}
        for name, f in known.items():
            if name not in values:
                continue
            v = values[name]
            if f.type in ("int", int) and isinstance(v, str):
                v = int(v)
            elif f.type in ("bool", bool) and isinstance(v, str):
                v = v.lower() in ("1", "true", "yes")
            elif f.type.startswith("list") if isinstance(f.type, str) else False:
                if isinstance(v, str):
                    v = [s for s in v.split(",") if s]
            out[name] = v
        return cls(**out)
