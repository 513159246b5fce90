"""Per-bucket key bloom filters for the lake's append-only key tables.

The hub/link anti-join insert (J1, RawVaultETL.scala:204-205) must prove
each batch key absent before appending it. Without an index that proof
reads the key column of every touched bucket per micro-batch — and with
uniformly hashed keys every batch touches every bucket, so existing-key
read IO is O(live keys) per batch: column-pruned and parallel, but the
wrong asymptote at 10^10 rows. A per-bucket bloom over the bucket's key
set turns it into O(possibly-present buckets): a batch of brand-new keys
reads (almost) nothing.

Design (mirrors the manifest's own delta/checkpoint shape):

- Each APPEND commit writes one immutable bloom *segment* per touched
  bucket (built from that batch's keys — a superset of the inserted
  keys, which is exact: a batch key either is new and gets inserted, or
  already exists and is already in an older segment; same key -> same
  bits, so the union stays exactly the bucket's key set).
- A bucket's membership test ORs over its segments: present iff ANY
  segment contains all k probe bits. Segments are variable-size (sized
  to their own key count), so they are tested individually, never
  bit-OR'd together.
- False positives only cost an extra bucket read; false negatives are
  impossible for any key covered by a segment. Ops that could add keys
  without a segment (an append without segments, overwrite, upsert)
  *invalidate* the touched buckets' segment lists in the manifest,
  falling back to the plain read — see lake._next_maps.

Probe scheme: 16-byte digest per key (``bytes.fromhex`` when the key is
already a 32-hex hash — every dvx hub/link key — else md5), split into
two u64s, double-hashed to k positions in a power-of-two bit space
(classic Kirsch–Mitzenmacher). All vectorized in numpy; executors test
segments they read straight from the table directory (no broadcast of
bitmaps through the driver).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

_MAGIC = b"DVB1"
_HEADER = struct.Struct("<4sIQ")  # magic, k, m_bits


def _digest_block(keys) -> bytes:
    """16 bytes per key, concatenated. Fast path: a key that is already a
    32-char hex digest (every dvx hash key) parses directly; anything
    else gets md5'd. The choice is PER KEY and deterministic — a given
    key value always digests the same way regardless of which other keys
    it is co-batched with. (A wholesale per-call fallback would probe a
    hex key with md5 when any nullable/non-hex neighbor shares the call
    but with fromhex otherwise — bloom false negatives = duplicate
    inserts on the formats the module explicitly supports.)"""
    out = []
    for k in keys:
        k = "" if k is None else str(k)
        if len(k) == 32:
            try:
                out.append(bytes.fromhex(k))
                continue
            except ValueError:
                pass
        out.append(hashlib.md5(k.encode("utf-8")).digest())
    return b"".join(out)


def _hashes(keys) -> tuple[np.ndarray, np.ndarray]:
    raw = _digest_block(keys)
    arr = np.frombuffer(raw, dtype="<u8").reshape(-1, 2)
    return arr[:, 0].copy(), (arr[:, 1] | 1)


def build(keys, bits_per_key: int = 12, k: int = 7) -> bytes:
    """One immutable bloom segment over ``keys`` (dups fine)."""
    n = max(1, len(keys))
    m = 1 << max(13, int(bits_per_key * n - 1).bit_length())
    bits = np.zeros(m >> 3, dtype=np.uint8)
    if len(keys):
        h1, h2 = _hashes(keys)
        mask = np.uint64(m - 1)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) & mask
            np.bitwise_or.at(bits, pos >> np.uint64(3),
                             (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))
    return _HEADER.pack(_MAGIC, k, m) + bits.tobytes()


def contains_any(segments: list[bytes], keys) -> np.ndarray:
    """Boolean array: key possibly present in >= 1 segment. No false
    negatives for keys covered by the segments' source sets."""
    n = len(keys)
    out = np.zeros(n, dtype=bool)
    if not n or not segments:
        return out
    h1, h2 = _hashes(keys)
    for seg in segments:
        magic, k, m = _HEADER.unpack_from(seg)
        if magic != _MAGIC:
            raise ValueError("bad bloom segment header")
        bits = np.frombuffer(seg, dtype=np.uint8, offset=_HEADER.size)
        mask = np.uint64(m - 1)
        ok = ~out  # only keys not already matched need testing
        if not ok.any():
            break
        hit = np.ones(n, dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) & mask
            hit &= ((bits[pos >> np.uint64(3)] >>
                     (pos & np.uint64(7)).astype(np.uint8)) & 1).astype(bool)
            if not hit.any():
                break
        out |= hit
    return out
