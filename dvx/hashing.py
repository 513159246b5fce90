"""Business-key and hash-diff computation.

Semantics are the reference's HashKeyGenerator
(/root/reference/src/main/scala/bronze/utils/HashKeyGenerator.scala:136-149
hash key, :211-221 diff hash, rationale :98-109):

    md5( concat_ws("~",
         coalesce(upper(trim(cast(col as string))), "~NULL~"), ...) )

- NULL columns hash as the sentinel ``~NULL~`` (so NULL != empty string),
- values are upper-cased and trimmed (case/whitespace-insensitive keys),
- columns are joined with ``~``,
- output is lowercase 32-char MD5 hex.

Two implementations, bit-identical (unit-tested against each other):

- :func:`hash_expr` — native Column expression (JVM, whole-stage codegen),
  the reference used by gold and the tests.
- :func:`registry_hashes` — the ingest hot path: the normalization stays
  native, every MD5 digest of a registry runs in ONE vectorized Arrow
  pandas UDF (BASELINE.json north_star mandates pandas/Arrow UDFs for
  the hash computation; no per-row Python UDFs).

Link hash keys follow RawVaultETL.scala:477-490: MD5 over the
concatenation of the parent hash keys (joined with ``~`` like any other
multi-column key).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

NULL_SENTINEL = "~NULL~"
DELIMITER = "~"


def _normalized(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.upper(F.trim(c.cast("string"))), F.lit(NULL_SENTINEL))


def normalized_concat(*cols: Column | str) -> Column:
    """The pre-digest normalized key string (exposed for testing)."""
    return F.concat_ws(DELIMITER, *[_normalized(c) for c in cols])


def hash_expr(*cols: Column | str) -> Column:
    """Native-expression MD5 business-key / diff hash (codegen fast path)."""
    return F.md5(normalized_concat(*cols))


#: registry-shaped fused UDFs, cached by their output signature so a
#: streaming job registers one UDF per registry, not one per micro-batch
_FUSED_CACHE: dict[tuple, object] = {}


def registry_hashes(registry, sat_diff_cols: dict[str, list]) -> Column:
    """Every hash a changelog row needs for an entity registry, in ONE
    Arrow pass: one business key per hub, one link key per link (md5
    over the upper-cased parent hashes computed in-pass), one hash-diff
    per satellite.

    ``sat_diff_cols`` maps satellite name -> the diff's input columns
    (attrs + dynamic extras + is_deleted), resolved per batch by the
    caller. Normalization (upper/trim/~NULL~/concat_ws) stays native
    JVM; only the digests cross into Python, Arrow-batched.
    """
    hub_names = [h.hash_key for h in registry.hubs]
    link_specs = [(l.hash_key, l.parents) for l in registry.links]
    sat_names = [(s.diff_col, s.name) for s in registry.satellites]
    out_fields = (
        hub_names
        + [n for n, _ in link_specs]
        + [d for d, _ in sat_names]
    )
    sig = (
        tuple(tuple((h.hash_key, h.business_keys)) for h in registry.hubs),
        tuple(link_specs),
        tuple(out_fields),
    )
    udf = _FUSED_CACHE.get(sig)
    if udf is None:
        out_type = StructType([StructField(n, StringType()) for n in out_fields])
        n_hubs = len(hub_names)

        @F.pandas_udf(out_type)
        def _udf(*series: pd.Series) -> pd.DataFrame:
            md5 = lambda x: hashlib.md5(x.encode("utf-8")).hexdigest()  # noqa: E731
            out: dict[str, pd.Series] = {}
            for name, s in zip(hub_names, series[:n_hubs]):
                out[name] = s.map(md5)
            for (diff_name, _), s in zip(sat_names, series[n_hubs:]):
                out[diff_name] = s.map(md5)
            for name, parents in link_specs:
                cat = out[parents[0]].str.upper()
                for p in parents[1:]:
                    cat = cat + DELIMITER + out[p].str.upper()
                out[name] = cat.map(md5)
            return pd.DataFrame({n: out[n] for n in out_fields})

        udf = _udf
        if len(_FUSED_CACHE) > 64:
            _FUSED_CACHE.clear()
        _FUSED_CACHE[sig] = udf
    inputs = [normalized_concat(*h.business_keys) for h in registry.hubs] + [
        normalized_concat(*sat_diff_cols[name]) for _, name in sat_names
    ]
    return udf(*inputs)


def hash_sql(*cols: str) -> str:
    """ANSI-SQL equivalent (DuckDB-compatible) of :func:`hash_expr`,
    used by the oracle queries in __spark_entry__.py."""
    parts = ", ".join(
        f"coalesce(upper(trim(cast({c} as varchar))), '{NULL_SENTINEL}')" for c in cols
    )
    return f"md5(concat_ws('{DELIMITER}', {parts}))"
