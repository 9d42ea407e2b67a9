"""Minimal OSM PBF encoder: zlib blobs, DenseNodes and ways.

Writes just enough of the format (https://wiki.openstreetmap.org/wiki/PBF_Format)
for the benchmark's extract: an ``OSMHeader`` blob, then ``OSMData`` blobs of
at most ``BLOCK_SIZE`` elements each, nodes first.  Packed varint arrays are
encoded with NumPy so a million-node extract encodes in about a second.
"""

from __future__ import annotations

import zlib

import numpy as np

BLOCK_SIZE = 8000  # elements per PrimitiveBlock, as osmium writes them
GRANULARITY = 100  # nanodegrees per coordinate unit (the format's default)


def varint(n: int) -> bytes:
    """One unsigned base-128 varint."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(values) -> tuple[np.ndarray, np.ndarray]:
    """Unsigned 64-bit values → (varint bytes, bytes per value), vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    rest = v >> np.uint64(7)
    while rest.any():
        nbytes += rest > 0
        rest >>= np.uint64(7)
    starts = np.cumsum(nbytes) - nbytes
    out = np.empty(int(nbytes.sum()), dtype=np.uint8)
    for k in range(int(nbytes.max(initial=0))):
        m = nbytes > k
        low = ((v[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        out[starts[m] + k] = low | ((nbytes[m] > k + 1).astype(np.uint8) << 7)
    return out, nbytes


def packed_varints(values) -> bytes:
    """Unsigned 64-bit values → concatenated varints."""
    return _encode(values)[0].tobytes()


def packed_runs(values, lengths) -> list[bytes]:
    """Concatenated non-empty runs of values → one packed payload per run."""
    out, nbytes = _encode(values)
    ends = np.cumsum(np.add.reduceat(nbytes, np.r_[0, np.cumsum(lengths)[:-1]]))
    buf = out.tobytes()
    return [buf[s:e] for s, e in zip(np.r_[0, ends[:-1]], ends)]


def zigzag(values: np.ndarray) -> np.ndarray:
    """Signed int64 → protobuf sint64 wire values."""
    v = np.asarray(values, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def delta(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, dtype=np.int64)
    return np.diff(v, prepend=np.int64(0))


def field_bytes(fno: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return varint(fno << 3 | 2) + varint(len(payload)) + payload


def field_varint(fno: int, value: int) -> bytes:
    return varint(fno << 3) + varint(value)


class _StringTable:
    """Block-local string table; index 0 is the empty string by convention."""

    def __init__(self) -> None:
        self.index: dict[str, int] = {"": 0}

    def __call__(self, s: str) -> int:
        i = self.index.get(s)
        if i is None:
            i = self.index[s] = len(self.index)
        return i

    def encode(self) -> bytes:
        return b"".join(field_bytes(1, s.encode("utf-8")) for s in self.index)


def _blob(kind: str, block: bytes, level: int) -> bytes:
    blob = field_varint(2, len(block)) + field_bytes(3, zlib.compress(block, level))
    header = field_bytes(1, kind.encode()) + field_varint(3, len(blob))
    return len(header).to_bytes(4, "big") + header + blob


def _dense_block(ids, lats, lons, tags) -> bytes:
    st = _StringTable()
    dense = (
        field_bytes(1, packed_varints(zigzag(delta(ids))))
        + field_bytes(8, packed_varints(zigzag(delta(lats))))
        + field_bytes(9, packed_varints(zigzag(delta(lons))))
    )
    if any(tags):
        kv: list[int] = []
        for t in tags:
            for k in sorted(t or {}):
                kv += [st(k), st(t[k])]
            kv.append(0)
        dense += field_bytes(10, packed_varints(np.array(kv, dtype=np.uint64)))
    group = field_bytes(2, dense)
    return field_bytes(1, st.encode()) + field_bytes(2, group) + field_varint(17, GRANULARITY)


def _way_block(ways) -> bytes:
    st = _StringTable()
    lengths = [len(nds) for _, nds, _ in ways]
    flat = np.concatenate([np.asarray(nds, dtype=np.int64) for _, nds, _ in ways])
    starts = np.r_[0, np.cumsum(lengths)[:-1]]
    deltas = np.diff(flat, prepend=np.int64(0))
    deltas[starts] = flat[starts]  # delta coding restarts in every way
    refs = packed_runs(zigzag(deltas), lengths)
    group = bytearray()
    for (wid, _, tags), packed in zip(ways, refs):
        keys = sorted(tags or {})
        msg = field_varint(1, int(wid))
        if keys:
            msg += field_bytes(2, b"".join(varint(st(k)) for k in keys))
            msg += field_bytes(3, b"".join(varint(st(tags[k])) for k in keys))
        msg += field_bytes(8, packed)
        group += field_bytes(3, msg)
    return field_bytes(1, st.encode()) + field_bytes(2, bytes(group)) + field_varint(17, GRANULARITY)


def write_pbf(path: str, nodes: dict, ways: list, level: int = 1) -> int:
    """Write an extract; returns the number of ``OSMData`` blobs.

    ``nodes``: ``{"id": int64[], "lat": float[], "lon": float[]}`` plus an
    optional ``"tags"`` list of dicts; coordinates are rounded to the
    format's 1e-7 degree grid.  ``ways``: ``[(id, nds, tags), ...]``.
    """
    ids = np.asarray(nodes["id"], dtype=np.int64)
    lats = np.rint(np.asarray(nodes["lat"]) * 1e9 / GRANULARITY).astype(np.int64)
    lons = np.rint(np.asarray(nodes["lon"]) * 1e9 / GRANULARITY).astype(np.int64)
    tags = nodes.get("tags") or [None] * len(ids)
    header = field_bytes(4, b"OsmSchema-V0.6") + field_bytes(4, b"DenseNodes")
    blobs = 0
    with open(path, "wb") as f:
        f.write(_blob("OSMHeader", header, level))
        for s in range(0, len(ids), BLOCK_SIZE):
            e = s + BLOCK_SIZE
            f.write(_blob("OSMData", _dense_block(ids[s:e], lats[s:e], lons[s:e], tags[s:e]), level))
            blobs += 1
        for s in range(0, len(ways), BLOCK_SIZE):
            f.write(_blob("OSMData", _way_block(ways[s : s + BLOCK_SIZE]), level))
            blobs += 1
    return blobs
