"""Packed-series codecs: delta-of-delta timestamps + Gorilla-XOR values.

The reference stores each cell's series as dense netCDF arrays with zlib
(``/root/reference/src/c3s_sm/reshuffle.py:261-262``); the engine's
equivalent (mandated by BASELINE.json north_rule) packs each series into
two ``BinaryType`` columns:

- **timestamps**: delta-of-delta with the Gorilla paper's bucket classes
  (Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
  Database", VLDB 2015, §4.1): dod==0 costs ~3 bits; regular grids
  compress to ~n*3/8 bytes.
- **values**: XOR-with-previous, storing leading-zero count + significant
  length + meaningful bits for nonzero XORs (§4.1.2).

**Deliberate deviation from the paper's bitstream**: streams are laid out
structure-of-arrays (class codes, side-channel widths, payload bits in
separate sections) instead of one interleaved stream. Compression is
within a few % of the original; in exchange BOTH encode and decode are
pure vectorized numpy (no per-element Python), which is what makes the
pandas-UDF path viable at scale — an interleaved stream forces sequential
decode. NaNs survive exactly (bit-pattern XOR on the raw float64 words).

Blob layouts (little-endian):

ts blob:  u8 magic=0xD0 | u8 ver=1 | u32 n | i64 t0 | i64 d0
          | u32 m (=max(n-2,0)) | codes section | u32 payload_nbytes | payload
val blob: u8 magic=0xD1 | u8 ver=1 | u32 n | f64 v0
          | bitmap (ceil(m/8), m=n-1) | u32 k (#nonzero)
          | lead5 stream | len6 stream | u32 payload_nbytes | payload
"""

from __future__ import annotations

import numpy as np

from c3s_sm_spark.functions.per_key import per_key_ordered

_TS_MAGIC = 0xD0
_VAL_MAGIC = 0xD1
# dod bucket classes: (code, payload bits); code 0 = dod==0
_DOD_BITS = np.array([0, 7, 9, 12, 32, 64], dtype=np.int64)


# ---------------------------------------------------------------- bit utils


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (exact; no float log2)."""
    x = x.astype(np.uint64, copy=True)
    out = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        mask = x >= (np.uint64(1) << np.uint64(s))
        out[mask] += s
        x[mask] >>= np.uint64(s)
    out += (x > 0).astype(np.int64)
    return out


def _clz64(x: np.ndarray) -> np.ndarray:
    return 64 - _bit_length_u64(x)


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Trailing zeros (x must be nonzero where used)."""
    lowest = x & (np.uint64(0) - x)
    return _bit_length_u64(lowest) - 1


def _pack_varbits(values: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """MSB-first concatenation of ``lengths[i]`` low bits of ``values[i]``.

    Fully vectorized: expands to a flat bit vector via repeat/arange, then
    ``np.packbits``. Zero-length entries contribute nothing.
    """
    values = values.astype(np.uint64)
    lengths = lengths.astype(np.int64)
    total = int(lengths.sum())
    if total == 0:
        return np.zeros(0, dtype=np.uint8)
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    owner_len = np.repeat(lengths, lengths)
    owner_val = np.repeat(values, lengths)
    pos_in = np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)
    shift = (owner_len - 1 - pos_in).astype(np.uint64)
    bits = ((owner_val >> shift) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits)


def _unpack_varbits(buf: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_pack_varbits` given the per-value bit lengths."""
    lengths = lengths.astype(np.int64)
    n = len(lengths)
    out = np.zeros(n, dtype=np.uint64)
    total = int(lengths.sum())
    if total == 0:
        return out
    bits = np.unpackbits(buf, count=total).astype(np.uint64)
    nz = lengths > 0
    nz_len = lengths[nz]
    starts = np.zeros(len(nz_len), dtype=np.int64)
    np.cumsum(nz_len[:-1], out=starts[1:])
    owner_len = np.repeat(nz_len, nz_len)
    pos_in = np.arange(total, dtype=np.int64) - np.repeat(starts, nz_len)
    shift = (owner_len - 1 - pos_in).astype(np.uint64)
    contrib = bits << shift
    # reduceat is safe here: all segments are non-empty (nz filter)
    out[nz] = np.add.reduceat(contrib, starts)
    return out


def _zigzag(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64)
    return ((x << 1) ^ (x >> 63)).view(np.uint64)


def _unzigzag(z: np.ndarray) -> np.ndarray:
    z = z.astype(np.uint64)
    return ((z >> np.uint64(1)).view(np.int64)) ^ -(z & np.uint64(1)).view(np.int64)


class _Writer:
    def __init__(self) -> None:
        self.parts: list[bytes] = []

    def u8(self, v: int) -> None:
        self.parts.append(np.uint8(v).tobytes())

    def u32(self, v: int) -> None:
        self.parts.append(np.uint32(v).tobytes())

    def raw(self, b: bytes | np.ndarray) -> None:
        self.parts.append(b.tobytes() if isinstance(b, np.ndarray) else b)

    def bytes(self) -> bytes:
        return b"".join(self.parts)


class _Reader:
    def __init__(self, blob: bytes) -> None:
        self.buf = np.frombuffer(blob, dtype=np.uint8)
        self.off = 0

    def u8(self) -> int:
        v = int(self.buf[self.off])
        self.off += 1
        return v

    def u32(self) -> int:
        v = int(self.buf[self.off : self.off + 4].view(np.uint32)[0])
        self.off += 4
        return v

    def i64(self) -> int:
        v = int(self.buf[self.off : self.off + 8].view(np.int64)[0])
        self.off += 8
        return v

    def f64_bits(self) -> np.uint64:
        v = self.buf[self.off : self.off + 8].view(np.uint64)[0]
        self.off += 8
        return v

    def take(self, nbytes: int) -> np.ndarray:
        v = self.buf[self.off : self.off + nbytes]
        self.off += nbytes
        return v


# ------------------------------------------------------------- timestamps


def encode_ts(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 timestamp array (any unit)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    w = _Writer()
    w.u8(_TS_MAGIC)
    w.u8(1)
    w.u32(n)
    if n == 0:
        return w.bytes()
    w.raw(np.int64(ts[0]).tobytes())
    if n == 1:
        return w.bytes()
    deltas = np.diff(ts)
    w.raw(np.int64(deltas[0]).tobytes())
    dod = np.diff(deltas)  # m = n-2 values
    m = len(dod)
    w.u32(m)
    if m:
        z = _zigzag(dod)
        bl = _bit_length_u64(z)
        codes = np.zeros(m, dtype=np.uint64)
        codes[(dod != 0) & (bl <= 7)] = 1
        codes[(bl > 7) & (bl <= 9)] = 2
        codes[(bl > 9) & (bl <= 12)] = 3
        codes[(bl > 12) & (bl <= 32)] = 4
        codes[bl > 32] = 5
        w.raw(_pack_varbits(codes, np.full(m, 3, dtype=np.int64)))
        pay_len = _DOD_BITS[codes.astype(np.int64)]
        payload = _pack_varbits(z, pay_len)
        w.u32(len(payload))
        w.raw(payload)
    return w.bytes()


def decode_ts(blob: bytes) -> np.ndarray:
    """Inverse of :func:`encode_ts` — vectorized (no per-point Python)."""
    r = _Reader(blob)
    # explicit raises (not assert): data-dependent validation must
    # survive python -O / PYTHONOPTIMIZE on executors
    if r.u8() != _TS_MAGIC:
        raise ValueError("not a ts blob")
    if r.u8() != 1:
        raise ValueError("unknown ts codec version")
    n = r.u32()
    if n == 0:
        return np.empty(0, dtype=np.int64)
    t0 = r.i64()
    if n == 1:
        return np.array([t0], dtype=np.int64)
    d0 = r.i64()
    m = r.u32()
    dod = np.zeros(m, dtype=np.int64)
    if m:
        codes_bytes = r.take((3 * m + 7) // 8)
        codes = _unpack_varbits(codes_bytes, np.full(m, 3, dtype=np.int64)).astype(
            np.int64
        )
        pay_len = _DOD_BITS[codes]
        pay_nbytes = r.u32()
        z = _unpack_varbits(r.take(pay_nbytes), pay_len)
        dod = np.where(codes == 0, np.int64(0), _unzigzag(z))
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = d0
    if m:
        deltas[1:] = d0 + np.cumsum(dod)
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    np.cumsum(deltas, out=out[1:])
    out[1:] += t0
    return out


# ----------------------------------------------------------------- values


def encode_vals(v: np.ndarray) -> bytes:
    """Gorilla-XOR encode a float64 array (NaN-exact via bit patterns)."""
    v = np.asarray(v, dtype=np.float64)
    u = v.view(np.uint64)
    n = len(v)
    w = _Writer()
    w.u8(_VAL_MAGIC)
    w.u8(1)
    w.u32(n)
    if n == 0:
        return w.bytes()
    w.raw(u[0].tobytes())
    if n == 1:
        return w.bytes()
    xors = u[1:] ^ u[:-1]  # m = n-1
    nz_mask = xors != 0
    w.raw(np.packbits(nz_mask.astype(np.uint8)))
    nz = xors[nz_mask]
    k = len(nz)
    w.u32(k)
    if k:
        lead = np.minimum(_clz64(nz), 31)  # 5 bits
        trail = _ctz64(nz)
        sig = 64 - lead - trail  # 1..64 -> store sig-1 in 6 bits
        w.raw(_pack_varbits(lead.astype(np.uint64), np.full(k, 5, dtype=np.int64)))
        w.raw(_pack_varbits((sig - 1).astype(np.uint64), np.full(k, 6, dtype=np.int64)))
        payload = _pack_varbits(nz >> trail.astype(np.uint64), sig)
        w.u32(len(payload))
        w.raw(payload)
    return w.bytes()


def decode_vals(blob: bytes) -> np.ndarray:
    """Inverse of :func:`encode_vals` — prefix-XOR via ufunc accumulate."""
    r = _Reader(blob)
    if r.u8() != _VAL_MAGIC:
        raise ValueError("not a value blob")
    if r.u8() != 1:
        raise ValueError("unknown value codec version")
    n = r.u32()
    if n == 0:
        return np.empty(0, dtype=np.float64)
    u0 = r.f64_bits()
    if n == 1:
        return np.array([u0], dtype=np.uint64).view(np.float64)
    m = n - 1
    bitmap = np.unpackbits(r.take((m + 7) // 8), count=m).astype(bool)
    k = r.u32()
    xors = np.zeros(m, dtype=np.uint64)
    if k:
        lead = _unpack_varbits(r.take((5 * k + 7) // 8), np.full(k, 5, dtype=np.int64))
        sig = (
            _unpack_varbits(r.take((6 * k + 7) // 8), np.full(k, 6, dtype=np.int64))
            + 1
        ).astype(np.int64)
        pay_nbytes = r.u32()
        mant = _unpack_varbits(r.take(pay_nbytes), sig)
        trail = (64 - lead.astype(np.int64) - sig).astype(np.uint64)
        xors[bitmap] = mant << trail
    full = np.empty(n, dtype=np.uint64)
    full[0] = u0
    full[1:] = xors
    return np.bitwise_xor.accumulate(full).view(np.float64)


# -------------------------------------------------- Spark-facing operators

#: max points per packed blob; bounds Arrow batch memory for hot keys
#: (SURVEY.md §7 hard-part 5)
CHUNK = 8192

def packed_schema_for(key_type: str = "string") -> str:
    """Packed-row schema with the key column at its SOURCE dtype — a
    LongType key must stay long end-to-end, or the read-side hash-bucket
    predicate (xxhash64 hashes int/long/string differently) and the
    equality filter silently miss."""
    return (
        f"doc_id {key_type}, chunk int, ts_min timestamp, ts_max timestamp, "
        "n int, ts_blob binary, v_blob binary"
    )


PACKED_SCHEMA = packed_schema_for()


def pack_series(
    df,
    key: str = "doc_id",
    ts_col: str = "ts",
    val_col: str = "v_mean",
    n_partitions: int | None = None,
):
    """Packer: one (or more, chunked) packed row per series key.

    Physical strategy: :func:`~c3s_sm_spark.functions.per_key.per_key_ordered`
    partitions + partition-level ``mapInPandas`` — NOT per-group
    ``applyInPandas``. A grouped-map ships one Arrow batch per GROUP,
    whose round-trip overhead dwarfs the codec at realistic key counts
    (measured: identity applyInPandas over 1500 groups/40k rows = 4-7 s
    vs 1.1 s for the whole codec single-threaded); one batch stream per
    PARTITION amortizes that to ~nothing. Unlike the per-key ordered
    map, the encode STREAMS the partition instead of concatenating it.
    Inside, everything is numpy bit-packing — zero per-row Python.
    Sidecar columns ``(ts_min, ts_max, n)`` give min/max pruning on the
    packed table (SURVEY.md §4: predicates prune without decoding).
    """
    import pandas as pd  # local import keeps module import light on executors

    _COLS = ["doc_id", "chunk", "ts_min", "ts_max", "n", "ts_blob", "v_blob"]

    def _pack_partition(batches):
        # STREAMING encode: the partition arrives sorted by (key, ts), so
        # a key's rows are contiguous across the Arrow batch stream and a
        # small per-key carry (< CHUNK rows) is all the state needed.
        # Concatenating every batch first (the old shape) materialized
        # the WHOLE partition as one pandas frame — at the skewed-key
        # scale this path exists for, that is exactly the memory spike
        # the chunked format is supposed to avoid; peak is now one Arrow
        # batch + the carry.
        cur_key = None
        have_key = False
        buf_ts = np.empty(0, dtype=np.int64)
        buf_v = np.empty(0, dtype=np.float64)
        ci = 0

        def _emit(rows, t, v, chunk_idx):
            rows.append(
                (
                    cur_key,
                    chunk_idx,
                    pd.Timestamp(t[0], unit="us"),
                    pd.Timestamp(t[-1], unit="us"),
                    len(t),
                    encode_ts(t),
                    encode_vals(v),
                )
            )

        def _drain(rows, final):
            nonlocal buf_ts, buf_v, ci
            lo = 0
            while len(buf_ts) - lo >= CHUNK:
                _emit(rows, buf_ts[lo : lo + CHUNK], buf_v[lo : lo + CHUNK], ci)
                ci += 1
                lo += CHUNK
            if final and len(buf_ts) > lo:
                _emit(rows, buf_ts[lo:], buf_v[lo:], ci)
                ci += 1
                lo = len(buf_ts)
            buf_ts = buf_ts[lo:]
            buf_v = buf_v[lo:]

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pdf[key].isna().any():
                # pandas groupby(dropna=True) would silently VANISH a
                # null-key series from the packed table; fail like ingest
                raise ValueError(f"pack_series: null {key} rows are not packable")
            rows: list[tuple] = []
            k_arr = pdf[key].to_numpy()
            ts_arr = pdf[ts_col].to_numpy(dtype="datetime64[us]").view(np.int64)
            v_arr = pdf[val_col].to_numpy(dtype=np.float64)
            change = np.flatnonzero(k_arr[1:] != k_arr[:-1]) + 1
            bounds = np.concatenate(([0], change, [len(k_arr)]))
            for i in range(len(bounds) - 1):
                lo, hi = int(bounds[i]), int(bounds[i + 1])
                k = k_arr[lo]
                if not have_key or k != cur_key:
                    if have_key:
                        _drain(rows, final=True)  # previous key ends here
                    cur_key, have_key, ci = k, True, 0
                    buf_ts = ts_arr[lo:hi].copy()
                    buf_v = v_arr[lo:hi].copy()
                else:
                    buf_ts = np.concatenate((buf_ts, ts_arr[lo:hi]))
                    buf_v = np.concatenate((buf_v, v_arr[lo:hi]))
                _drain(rows, final=False)
            if rows:
                yield pd.DataFrame(rows, columns=_COLS)
        if have_key and len(buf_ts):
            rows = []
            _drain(rows, final=True)
            yield pd.DataFrame(rows, columns=_COLS)

    prepared = per_key_ordered(
        df.select(key, ts_col, val_col), [key], [ts_col], n_partitions
    )
    return prepared.mapInPandas(
        _pack_partition,
        schema=packed_schema_for(df.schema[key].dataType.simpleString()),
    )


UNPACKED_SCHEMA = "doc_id string, ts timestamp, v_mean double"


def unpack_series(packed_df):
    """Inverse of :func:`pack_series`: packed rows back to points.

    ``mapInPandas`` — streams Arrow batches, decodes each blob vectorized,
    concatenates. No shuffle: unpacking is embarrassingly parallel.
    """
    import pandas as pd

    def _unpack(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for row in pdf.itertuples():  # per-BLOB loop (not per-point)
                ts = decode_ts(row.ts_blob).view("datetime64[us]")
                vals = decode_vals(row.v_blob)
                outs.append(
                    pd.DataFrame(
                        {"doc_id": row.doc_id, "ts": ts, "v_mean": vals}
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    key_type = packed_df.schema["doc_id"].dataType.simpleString()
    return packed_df.select("doc_id", "ts_blob", "v_blob").mapInPandas(
        _unpack, schema=f"doc_id {key_type}, ts timestamp, v_mean double"
    )
