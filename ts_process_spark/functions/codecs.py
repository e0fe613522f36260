"""Gorilla-style time-series compression codecs in pure NumPy.

Two lossless codecs (public algorithm: Pelkonen et al., "Gorilla: A Fast,
Scalable, In-Memory Time Series Database", VLDB 2015):

- ``encode_dod`` / ``decode_dod``: delta-of-delta for int64 microsecond
  timestamps.  Variable-width buckets extended for µs resolution
  (the paper's buckets assume seconds): 0 bits, 7, 9, 12, 32, 64 —
  delta-of-deltas are zigzag-encoded so negative gaps pack tight.
- ``encode_gorilla`` / ``decode_gorilla``: XOR float64 compression —
  '0' for identical value, '11' + 5-bit leading + 6-bit length +
  meaningful bits otherwise.  The paper's '10' (reuse the previous
  leading/length window) is never written; the decoder rejects it.

Encoding is fully vectorized (the variable-length codes are expanded with
a repeat/cumsum bit-scatter, then ``np.packbits``) — no per-element
Python on the encode path, which is the hot path in the tier cascade.
Decoding walks elements (not bits) over a pre-unpacked bit array; blobs
are per-(conv, bucket) so the loop is bounded by bucket size.

Round-trip bit-equality is property-tested in tests/test_codecs.py; the
tier tables keep checked aggregate columns *alongside* blobs so tier
verification never depends on codec correctness (SURVEY.md §7.4.5).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------------- bits


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (no float round-trip)."""
    x = x.astype(np.uint64).copy()
    for s in (1, 2, 4, 8, 16, 32):
        x |= x >> np.uint64(s)
    return 64 - _popcount64(x)


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (64 where x == 0)."""
    x = x.astype(np.uint64)
    isolated = x & (~x + np.uint64(1))
    return np.where(x == 0, 64, _popcount64(isolated - np.uint64(1))).astype(np.int64)


def _popcount64(x: np.ndarray) -> np.ndarray:
    b = np.frombuffer(np.ascontiguousarray(x, dtype=np.uint64).tobytes(), dtype=np.uint8)
    return np.unpackbits(b).reshape(-1, 8).sum(axis=1).reshape(-1, 8).sum(axis=1)


class _BitReader:
    __slots__ = ("bits", "pos")

    def __init__(self, buf: bytes, offset_bytes: int):
        self.bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8, offset=offset_bytes))
        self.pos = 0

    def read(self, n: int) -> int:
        chunk = self.bits[self.pos : self.pos + n]
        self.pos += n
        if n > 8:
            padded = np.zeros(((n + 7) // 8) * 8, dtype=np.uint8)
            padded[-n:] = chunk
            return int.from_bytes(np.packbits(padded).tobytes(), "big")
        v = 0
        for b in chunk:
            v = (v << 1) | int(b)
        return v


# ------------------------------------------------------------ delta-of-delta

_DOD_BUCKETS = (  # (control value, control bits, payload bits)
    (0b10, 2, 7),
    (0b110, 3, 9),
    (0b1110, 4, 12),
    (0b11110, 5, 32),
    (0b11111, 5, 64),
)


def _zigzag(x: np.ndarray) -> np.ndarray:
    return ((x << 1) ^ (x >> 63)).astype(np.uint64)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def encode_dod(ts_us: np.ndarray) -> bytes:
    """int64 µs timestamps → bytes. Layout: [n:uint32][ts0:64][d0 zigzag:64][codes].

    Delegates to encode_dod_batch with one segment — the batch form IS
    the implementation; keeping two copies of the bucket/ctrl/header
    layout let them drift (review finding: the byte-identity of single
    vs batch blobs is a load-bearing cascade invariant)."""
    ts = np.asarray(ts_us, dtype=np.int64)
    return encode_dod_batch(ts, np.array([len(ts)], dtype=np.int64))[0]


def decode_dod(buf: bytes) -> np.ndarray:
    """Decode a plain or chunked-container delta-of-delta blob."""
    return _decode_any(buf, _decode_dod_plain)


def _decode_dod_plain(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", buf, 0)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out

    def _wrap(x: int) -> int:  # two's-complement int64 wrap, mirrors encode's
        x &= 0xFFFFFFFFFFFFFFFF  # np.diff int64 overflow semantics
        return x - (1 << 64) if x >= (1 << 63) else x

    r = _BitReader(buf, 4)
    cur = _wrap(r.read(64))
    out[0] = cur
    if n == 1:
        return out
    delta = _unzigzag(r.read(64))
    cur = _wrap(cur + delta)
    out[1] = cur
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            # control prefix is '1'-runs terminated by '0' (max 5 bits total)
            prefix = 1
            nread = 1
            while nread < 5:
                b = r.read(1)
                nread += 1
                prefix = (prefix << 1) | b
                if b == 0 or nread == 5:
                    break
            width = {0b10: 7, 0b110: 9, 0b1110: 12, 0b11110: 32, 0b11111: 64}[prefix]
            dod = _unzigzag(r.read(width))
        delta = _wrap(delta + dod)
        cur = _wrap(cur + delta)
        out[i] = cur
    return out


# ------------------------------------------------------------------- gorilla


def encode_gorilla(values: np.ndarray) -> bytes:
    """float64 array → bytes. Layout: [n:uint32][v0:64][codes].

    A changed value always takes the '11' new-window code, never the
    paper's '10' window reuse: the encode is fully vectorized, with no
    per-element Python, at a few % worse ratio.  One segment of
    ``encode_gorilla_batch`` (one copy of the bitstream layout, see
    encode_dod).
    """
    arr = np.asarray(values, dtype=np.float64)
    return encode_gorilla_batch(arr, np.array([len(arr)], dtype=np.int64))[0]


# -------------------------------------------------- chunked container
# Coarser tiers do not decode+re-encode child blobs (the Gorilla-paper
# deployment keeps immutable closed chunks for exactly this reason):
# a 1h blob is a container of its 1m chunks, concatenated byte-wise.
# Layout: [0xFFFFFFFF sentinel][n_chunks:u32][len_i:u32 ...][chunks...]
# (a plain blob's first field is its point count, which never reaches
# 2^32-1, so the sentinel is unambiguous).  decode_* transparently
# decodes both forms; concat_blobs flattens nested containers so a 1d
# blob holds 1m-grain chunks directly.

_CHUNK_SENTINEL = 0xFFFFFFFF


def _container_chunks(buf: bytes) -> list[bytes]:
    (n_chunks,) = struct.unpack_from("<I", buf, 4)
    lens = struct.unpack_from(f"<{n_chunks}I", buf, 8)
    off = 8 + 4 * n_chunks
    out = []
    for ln in lens:
        out.append(buf[off : off + ln])
        off += ln
    return out


def concat_blobs(blobs: list[bytes]) -> bytes:
    """Byte-level blob concatenation for the tier cascade — no decode."""
    chunks: list[bytes] = []
    for b in blobs:
        b = bytes(b)
        if len(b) >= 4 and struct.unpack_from("<I", b, 0)[0] == _CHUNK_SENTINEL:
            chunks.extend(_container_chunks(b))
        else:
            chunks.append(b)
    head = struct.pack("<II", _CHUNK_SENTINEL, len(chunks))
    head += struct.pack(f"<{len(chunks)}I", *[len(c) for c in chunks])
    return head + b"".join(chunks)


def _decode_any(buf: bytes, plain_decode) -> np.ndarray:
    buf = bytes(buf)
    if len(buf) >= 4 and struct.unpack_from("<I", buf, 0)[0] == _CHUNK_SENTINEL:
        parts = [plain_decode(c) for c in _container_chunks(buf)]
        return (
            np.concatenate(parts) if parts else plain_decode(struct.pack("<I", 0))
        )
    return plain_decode(buf)


# -------------------------------------------------- batched encoders
# One vectorized pass over a whole Arrow batch of blobs (thousands of
# buckets): identical bytes to the per-array encoders above, but the
# per-blob Python/NumPy fixed overhead (~50µs × millions of buckets in
# the tier cascade) collapses into ~15 array ops total.  The core
# returns ONE byte buffer holding every blob back to back (u32 count
# header included) plus the blob offsets, which is exactly the layout
# of an Arrow binary array: the tier cascade's encoder UDFs hand it to
# Spark without building a Python object per blob.


def _scatter_blobs(
    vals: np.ndarray, lens: np.ndarray, seg_arr: np.ndarray, counts: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Pack variable-length big-endian codes into one bitstream per
    array.  vals/lens/seg_arr are parallel per-segment arrays (seg_arr =
    owning array id, non-decreasing); zero-length segments are allowed.
    Returns ``(data, offsets)``: blob ``a`` = ``[counts[a]:u32][bits]``
    is ``data[offsets[a]:offsets[a + 1]]``."""
    n_arrays = len(counts)
    vals = vals.astype(np.uint64)
    lens = lens.astype(np.int64)
    bits_per_array = np.bincount(seg_arr, weights=lens, minlength=n_arrays).astype(
        np.int64
    )
    offsets = np.zeros(n_arrays + 1, dtype=np.int64)
    np.cumsum(4 + (bits_per_array + 7) // 8, out=offsets[1:])
    # global unpadded starts per segment and per-array unpadded bases
    seg_end = np.cumsum(lens)
    seg_start = seg_end - lens
    arr_base_unpadded = np.zeros(n_arrays, dtype=np.int64)
    arr_base_unpadded[1:] = np.cumsum(bits_per_array)[:-1]
    within = seg_start - arr_base_unpadded[seg_arr]
    global_start = (offsets[seg_arr] + 4) * 8 + within

    out_bytes = np.zeros(int(offsets[-1]), dtype=np.uint8)
    out_bytes[(offsets[:-1, None] + np.arange(4)).ravel()] = (
        np.asarray(counts).astype("<u4").view(np.uint8)
    )
    keep = lens > 0
    v, l, gs = vals[keep], lens[keep], global_start[keep]
    # byte-level scatter: a segment of L ≤ 64 bits starting at bit gs
    # touches ≤ 9 bytes; 9 masked bitwise_or scatters replace per-bit
    # materialization (≈100× less memory traffic for tiny tier blobs)
    if len(v):
        B0 = (gs >> 3).astype(np.int64)
        o = (gs & 7).astype(np.int64)
        span = o + l  # bits covered from the start of byte B0
        for k in range(9):
            active = span > 8 * k
            if not active.any():
                break
            sh = span[active] - 8 * (k + 1)
            va = v[active]
            right = va >> np.minimum(np.maximum(sh, 0), 63).astype(np.uint64)
            left = va << np.minimum(np.maximum(-sh, 0), 63).astype(np.uint64)
            byte_val = (np.where(sh >= 0, right, left) & np.uint64(0xFF)).astype(
                np.uint8
            )
            np.bitwise_or.at(out_bytes, B0[active] + k, byte_val)
    return out_bytes, offsets


def _dod_blobs(
    concat: np.ndarray, lengths: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Delta-of-delta blobs of every segment, as ``_scatter_blobs``'s
    ``(data, offsets)``."""
    concat = np.asarray(concat, dtype=np.int64)
    n_arrays = len(lengths)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    # per-array segment layout: head1 | head2(n≥2) | 2 segs per dod elem
    segs_per_array = (
        (lengths >= 1).astype(np.int64)
        + (lengths >= 2)
        + 2 * np.maximum(lengths - 2, 0)
    )
    seg_base = np.concatenate([[0], np.cumsum(segs_per_array)])
    S = int(seg_base[-1])
    vals = np.zeros(S, dtype=np.uint64)
    lens = np.zeros(S, dtype=np.int64)
    seg_arr = np.repeat(np.arange(n_arrays), segs_per_array)

    has1 = lengths >= 1
    vals[seg_base[:-1][has1]] = concat[starts[has1]].astype(np.uint64)
    lens[seg_base[:-1][has1]] = 64
    has2 = lengths >= 2
    d0 = concat[starts[has2] + 1] - concat[starts[has2]]
    vals[seg_base[:-1][has2] + 1] = _zigzag(d0)
    lens[seg_base[:-1][has2] + 1] = 64

    # dod elements: global positions i with i ≥ start+2 within each array
    n_dod = np.maximum(lengths - 2, 0)
    if int(n_dod.sum()):
        arr_of = np.repeat(np.arange(n_arrays), n_dod)
        k = np.arange(int(n_dod.sum())) - np.repeat(
            np.cumsum(n_dod) - n_dod, n_dod
        )  # 0..n_dod-1 within array
        gpos = starts[arr_of] + 2 + k
        dod = (concat[gpos] - concat[gpos - 1]) - (concat[gpos - 1] - concat[gpos - 2])
        zz = _zigzag(dod)
        ctrl_v = np.zeros(len(dod), np.uint64)
        ctrl_l = np.zeros(len(dod), np.int64)
        pay_l = np.zeros(len(dod), np.int64)
        done = dod == 0
        ctrl_l[done] = 1
        for cv, cl, pl in _DOD_BUCKETS:
            fits = (~done) & (
                zz < (np.uint64(1) << np.uint64(pl)) if pl < 64 else ~done
            )
            ctrl_v[fits] = cv
            ctrl_l[fits] = cl
            pay_l[fits] = pl
            done |= fits
        # head1 occupies seg_base, head2 seg_base+1 (n≥3 implies both);
        # element k's ctrl at seg_base+2+2k, payload at +3+2k
        ctrl_idx = seg_base[arr_of] + 2 + 2 * k
        vals[ctrl_idx] = ctrl_v
        lens[ctrl_idx] = ctrl_l
        vals[ctrl_idx + 1] = zz
        lens[ctrl_idx + 1] = pay_l
    return _scatter_blobs(vals, lens, seg_arr, lengths)


def _gorilla_blobs(
    concat: np.ndarray, lengths: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Fast-path Gorilla blobs (always-'11' window codes) of every
    segment, as ``_scatter_blobs``'s ``(data, offsets)``."""
    v = np.ascontiguousarray(concat, dtype=np.float64).view(np.uint64)
    n_arrays = len(lengths)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    segs_per_array = (lengths >= 1).astype(np.int64) + 3 * np.maximum(
        lengths - 1, 0
    )
    seg_base = np.concatenate([[0], np.cumsum(segs_per_array)])
    S = int(seg_base[-1])
    vals = np.zeros(S, dtype=np.uint64)
    lens = np.zeros(S, dtype=np.int64)
    seg_arr = np.repeat(np.arange(n_arrays), segs_per_array)

    has1 = lengths >= 1
    vals[seg_base[:-1][has1]] = v[starts[has1]]
    lens[seg_base[:-1][has1]] = 64

    n_el = np.maximum(lengths - 1, 0)
    if int(n_el.sum()):
        arr_of = np.repeat(np.arange(n_arrays), n_el)
        k = np.arange(int(n_el.sum())) - np.repeat(np.cumsum(n_el) - n_el, n_el)
        gpos = starts[arr_of] + 1 + k
        xors = v[gpos] ^ v[gpos - 1]
        lz = np.minimum(_clz64(xors), 31)
        tz = np.minimum(_ctz64(xors), 63)
        sig = np.where(xors == 0, 0, 64 - lz - tz).astype(np.int64)
        nz = xors != 0
        ctrl_v = np.zeros(len(xors), np.uint64)
        ctrl_l = np.ones(len(xors), np.int64)
        hdr_v = np.zeros(len(xors), np.uint64)
        hdr_l = np.zeros(len(xors), np.int64)
        pay_v = np.zeros(len(xors), np.uint64)
        pay_l = np.zeros(len(xors), np.int64)
        ctrl_v[nz] = 0b11
        ctrl_l[nz] = 2
        hdr_v[nz] = (lz[nz].astype(np.uint64) << np.uint64(6)) | (
            sig[nz].astype(np.uint64) & np.uint64(0x3F)
        )
        hdr_l[nz] = 11
        mask = np.where(
            sig >= 64,
            np.uint64(0xFFFFFFFFFFFFFFFF),
            (np.uint64(1) << sig.clip(0, 63).astype(np.uint64)) - np.uint64(1),
        )
        pay_v[nz] = (xors[nz] >> tz[nz].astype(np.uint64)) & mask[nz]
        pay_l[nz] = sig[nz]
        base_idx = seg_base[arr_of] + 1 + 3 * k
        vals[base_idx] = ctrl_v
        lens[base_idx] = ctrl_l
        vals[base_idx + 1] = hdr_v
        lens[base_idx + 1] = hdr_l
        vals[base_idx + 2] = pay_v
        lens[base_idx + 2] = pay_l
    return _scatter_blobs(vals, lens, seg_arr, lengths)


_BLOB_CODECS = {"dod": _dod_blobs, "gorilla": _gorilla_blobs}


def encode_arrow(lists: pa.ListArray, codec: str) -> pa.BinaryArray:
    """One blob per list of an Arrow list array (``codec`` ∈ {'dod',
    'gorilla'}), byte-identical to ``encode_dod`` / ``encode_gorilla``
    of each list.  Lengths come from the list offsets and values from
    ``flatten()`` (both honour a sliced array's offset); the encoded
    buffer becomes the binary array's data buffer as is."""
    lengths = np.diff(lists.offsets.to_numpy()).astype(np.int64)
    values = lists.flatten().to_numpy(zero_copy_only=False)
    data, offsets = _BLOB_CODECS[codec](values, lengths)
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(f"{offsets[-1]} blob bytes overflow an Arrow binary batch")
    return pa.BinaryArray.from_buffers(
        pa.binary(),
        len(lengths),
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _split(data: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    packed = data.tobytes()
    bounds = offsets.tolist()
    return [packed[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def encode_dod_batch(concat: np.ndarray, lengths: np.ndarray) -> list[bytes]:
    """Batched ``encode_dod``: byte-identical blobs, one vectorized pass."""
    return _split(*_dod_blobs(concat, np.asarray(lengths, dtype=np.int64)))


def encode_gorilla_batch(concat: np.ndarray, lengths: np.ndarray) -> list[bytes]:
    """Batched ``encode_gorilla`` (always-'11' window codes): one
    vectorized pass, byte-identical blobs."""
    return _split(*_gorilla_blobs(concat, np.asarray(lengths, dtype=np.int64)))


def decode_gorilla(buf: bytes) -> np.ndarray:
    """Decode a plain or chunked-container Gorilla blob."""
    return _decode_any(buf, _decode_gorilla_plain)


def _decode_gorilla_plain(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", buf, 0)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    r = _BitReader(buf, 4)
    out[0] = r.read(64)
    prev = int(out[0])
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 0:
            # no encoder here writes window reuse: in a stored blob the
            # code means corruption or a foreign writer
            raise ValueError(f"gorilla code '10' (window reuse) at value {i}")
        lz = r.read(5)  # '11' → new window
        sig = r.read(6)
        if sig == 0:
            sig = 64
        bits = r.read(sig)
        x = bits << ((64 - lz - sig) if lz + sig < 64 else 0)
        prev ^= x
        out[i] = prev
    return out.view(np.float64)
