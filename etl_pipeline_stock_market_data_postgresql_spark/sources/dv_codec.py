"""Deletion-vector sidecar codec — format-versioned position encoding.

Sidecars are tiny JSON documents next to the data files. Two formats:

- **v1** (legacy, r13-r15): ``{"positions": [sorted ints]}`` — ~10
  bytes of JSON per marked position. Readable forever.
- **v2** (default): ``{"format": 2, "n": N, "payload": "<base64>"}``
  where the payload is the sorted positions DELTA-encoded (first value
  absolute, then gaps) and LEB128-varint packed — the roaring-bitmap
  idea at its simplest (Delta's DV format uses roaring; gaps in a
  takedown's position set are small, so most gaps fit ONE byte).
  A 1%-of-a-file takedown costs ~1-2 bytes/position instead of ~10.

Both encode and decode are numpy-VECTORIZED (no per-position Python
loop): encode emits the k-th varint byte of every position in one
array pass (≤10 passes total — positions are < 2^63); decode
reassembles values with ``np.add.reduceat`` over continuation-bit
boundaries. Executor-side readers (the data-file reader
``store_batch.read_file`` behind the batch source and the change
feed, the distributed sidecar scan) import THIS module only — it is
pure numpy/stdlib, no Spark-session machinery, so executors never
import the store module. :func:`read_positions` is the one sidecar
FILE reader, on the driver and on executors alike.
"""

from __future__ import annotations

import base64

import numpy as np

#: the format this build WRITES; readers accept every format ≤ this
CURRENT_FORMAT = 2


def _leb128_encode(vals: np.ndarray) -> bytes:
    """LEB128-pack a uint64 array, vectorized: pass k emits the k-th
    7-bit group of every value that has one (≤10 passes)."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return b""
    # groups per value: ≥1, +1 per extra 7 bits
    ngroups = np.ones(n, dtype=np.int64)
    v = vals >> np.uint64(7)
    while v.any():
        ngroups += (v != 0)
        v >>= np.uint64(7)
    ends = np.cumsum(ngroups)
    starts = ends - ngroups
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    for g in range(int(ngroups.max())):
        mask = ngroups > g
        byte = ((vals[mask] >> np.uint64(7 * g))
                & np.uint64(0x7F)).astype(np.uint8)
        more = (ngroups[mask] - 1) > g
        byte[more] |= np.uint8(0x80)
        out[starts[mask] + g] = byte
    return out.tobytes()


def _leb128_decode(buf: bytes, n: int) -> np.ndarray:
    """Unpack ``n`` LEB128 varints from ``buf``, vectorized."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    cont = (arr & 0x80) != 0
    term_idx = np.nonzero(~cont)[0]
    if len(term_idx) != n:
        raise ValueError(
            f"corrupt varint payload: {len(term_idx)} terminators "
            f"for {n} declared values")
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = term_idx[:-1] + 1
    # each byte's 7-bit group index within its value
    value_id = np.zeros(len(arr), dtype=np.int64)
    value_id[starts[1:]] = 1
    value_id = np.cumsum(value_id)
    group_idx = np.arange(len(arr), dtype=np.int64) - starts[value_id]
    contrib = ((arr & 0x7F).astype(np.uint64)
               << (np.uint64(7) * group_idx.astype(np.uint64)))
    # groups within one value occupy disjoint bits → add == or
    return np.add.reduceat(contrib, starts)


def encode_positions_doc(positions) -> dict:
    """The sidecar JSON document for a SORTED position list, in the
    current (v2, delta-varint) format."""
    pos = np.sort(np.asarray(list(positions) if not isinstance(
        positions, np.ndarray) else positions, dtype=np.uint64))
    if len(pos):
        deltas = np.empty_like(pos)
        deltas[0] = pos[0]
        np.subtract(pos[1:], pos[:-1], out=deltas[1:])
    else:
        deltas = pos
    payload = base64.b64encode(_leb128_encode(deltas)).decode("ascii")
    return {"format": CURRENT_FORMAT, "n": int(len(pos)),
            "payload": payload}


def positions_count_doc(doc: dict) -> int:
    """CARDINALITY of a sidecar document without decoding positions —
    v2 records ``n`` explicitly; v1 is its list's length. Powers
    metadata-only COUNT (live rows = footer rows − marked)."""
    fmt = doc.get("format", 1)
    if fmt == 1 or doc.get("positions") is not None:
        return len(doc["positions"])
    if fmt == 2:
        return int(doc["n"])
    raise ValueError(f"unknown deletion-vector sidecar format {fmt!r} "
                     f"(this build reads ≤ {CURRENT_FORMAT})")


def decode_positions_doc(doc: dict) -> list[int]:
    """Positions of a sidecar document, ANY known format (v1's plain
    ``positions`` list, v2's delta-varint payload)."""
    fmt = doc.get("format", 1)
    if fmt == 1 or doc.get("positions") is not None:
        return [int(p) for p in doc["positions"]]
    if fmt == 2:
        deltas = _leb128_decode(
            base64.b64decode(doc["payload"]), int(doc["n"]))
        return np.cumsum(deltas, dtype=np.uint64).astype(
            np.int64).tolist()
    raise ValueError(f"unknown deletion-vector sidecar format {fmt!r} "
                     f"(this build reads ≤ {CURRENT_FORMAT})")


def read_positions(path: str) -> list[int]:
    """Positions of the sidecar FILE at ``path`` — the one sidecar
    reader, shared by the driver and the executor file reader."""
    import json

    with open(path, encoding="ascii") as f:
        return decode_positions_doc(json.load(f))


def decode_payload_array(payload: str, n: int) -> np.ndarray:
    """v2 payload → int64 position array (the vectorized core, for
    Arrow-batched executor decodes)."""
    deltas = _leb128_decode(base64.b64decode(payload), int(n))
    return np.cumsum(deltas, dtype=np.uint64).astype(np.int64)
