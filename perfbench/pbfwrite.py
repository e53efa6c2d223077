"""Minimal OSM PBF writer for the benchmark's synthetic extracts.

Emits the subset of the public PBF format that `sources.pbf` decodes:
one OSMHeader blob, then zlib-compressed OSMData blobs holding DenseNodes,
Ways and Relations (one entity kind per PrimitiveGroup, at most
`per_block` entities per blob). Granularity is 100 with zero offsets, so a
coordinate stored as decimicro integer `d` decodes to `d * 1e-7`.

Long varint runs are encoded with NumPy in bulk. The output is a pure
function of the entity lists, so the same city gives byte-identical files.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MEMBER_TYPE = {"node": 0, "way": 1, "relation": 2}


def varints(vals) -> bytes:
    """Concatenated protobuf varints of non-negative integers (NumPy for
    long runs, plain Python for the short field lists of one entity)."""
    if len(vals) < 64:
        out = bytearray()
        for x in vals:
            x = int(x)
            while x > 0x7F:
                out.append((x & 0x7F) | 0x80)
                x >>= 7
            out.append(x)
        return bytes(out)
    v = np.asarray(vals, dtype=np.uint64).ravel()
    if not len(v):
        return b""
    nb = np.ones(len(v), np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += t > 0
        t >>= np.uint64(7)
    width = int(nb.max())
    col = np.arange(width)
    shifts = col.astype(np.uint64) * np.uint64(7)
    out = ((v[:, None] >> shifts[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    out |= (col[None, :] < (nb[:, None] - 1)).astype(np.uint8) << 7
    return out[col[None, :] < nb[:, None]].tobytes()


def zigzag_delta(vals) -> list | np.ndarray:
    """Delta coding then zigzag, as PBF stores ids, coordinates and refs."""
    if len(vals) < 64:
        out, prev = [], 0
        for x in vals:
            d = int(x) - prev
            prev = int(x)
            out.append((d << 1) ^ (d >> 63))
        return out
    v = np.diff(np.asarray(vals, dtype=np.int64), prepend=np.int64(0))
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _key(fnum: int, wtype: int) -> bytes:
    return varints([(fnum << 3) | wtype])


def _field_bytes(fnum: int, payload: bytes) -> bytes:
    return _key(fnum, 2) + varints([len(payload)]) + payload


def _field_varint(fnum: int, value: int) -> bytes:
    return _key(fnum, 0) + varints([value])


class _Strings:
    """Per-block string table; index 0 is the empty string (the
    DenseNodes key/value delimiter)."""

    def __init__(self):
        self.index = {"": 0}

    def __call__(self, s: str) -> int:
        i = self.index.get(s)
        if i is None:
            i = self.index[s] = len(self.index)
        return i

    def encode(self) -> bytes:
        return b"".join(_field_bytes(1, s.encode("utf-8")) for s in self.index)


def _dense(ids, lat_dm, lon_dm, tags, st: _Strings) -> bytes:
    kv: list[int] = []
    for t in tags:
        if t:
            for k, v in t.items():
                kv.append(st(k))
                kv.append(st(v))
        kv.append(0)
    return (
        _field_bytes(1, varints(zigzag_delta(ids)))
        + _field_bytes(8, varints(zigzag_delta(lat_dm)))
        + _field_bytes(9, varints(zigzag_delta(lon_dm)))
        + _field_bytes(10, varints(kv))
    )


def _tag_fields(tags: dict, st: _Strings) -> bytes:
    if not tags:
        return b""
    return _field_bytes(2, varints([st(k) for k in tags])) + _field_bytes(
        3, varints([st(v) for v in tags.values()])
    )


def _way(wid: int, refs, tags: dict, st: _Strings) -> bytes:
    return (
        _field_varint(1, wid)
        + _tag_fields(tags, st)
        + _field_bytes(8, varints(zigzag_delta(refs)))
    )


def _relation(rid: int, members, tags: dict, st: _Strings) -> bytes:
    return (
        _field_varint(1, rid)
        + _tag_fields(tags, st)
        + _field_bytes(8, varints([st(m[2]) for m in members]))
        + _field_bytes(9, varints(zigzag_delta([m[1] for m in members])))
        + _field_bytes(10, varints([_MEMBER_TYPE[m[0]] for m in members]))
    )


def _block(group: bytes, st: _Strings) -> bytes:
    return (
        _field_bytes(1, st.encode())
        + _field_bytes(2, group)
        + _field_varint(17, 100)
    )


def _blob(btype: bytes, raw: bytes) -> bytes:
    blob = _field_varint(2, len(raw)) + _field_bytes(3, zlib.compress(raw, 6))
    header = _field_bytes(1, btype) + _field_varint(3, len(blob))
    return struct.pack(">i", len(header)) + header + blob


def write_pbf(path: str, city, per_block: int = 4096) -> int:
    """Write `city` (see synth.City) to `path`; returns the OSMData blob
    count."""
    header = (
        _field_bytes(4, b"OsmSchema-V0.6")
        + _field_bytes(4, b"DenseNodes")
        + _field_bytes(16, b"perfbench")
    )
    chunks = [_blob(b"OSMHeader", header)]
    n = len(city.node_id)
    for a in range(0, n, per_block):
        b = min(a + per_block, n)
        st = _Strings()
        tags = [city.node_tags.get(i) for i in range(a, b)]
        group = _field_bytes(
            2, _dense(city.node_id[a:b], city.node_lat[a:b], city.node_lon[a:b], tags, st)
        )
        chunks.append(_blob(b"OSMData", _block(group, st)))
    for rows, enc, fnum in (
        (city.ways, _way, 3),
        (city.relations, _relation, 4),
    ):
        for a in range(0, len(rows), per_block):
            st = _Strings()
            group = b"".join(
                _field_bytes(fnum, enc(*row, st)) for row in rows[a : a + per_block]
            )
            chunks.append(_blob(b"OSMData", _block(group, st)))
    with open(path, "wb") as f:
        for c in chunks:
            f.write(c)
    return len(chunks) - 1
