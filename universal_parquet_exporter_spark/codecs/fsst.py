"""FSST-style string compression (Fast Static Symbol Table).

A static table of ≤255 symbols, each 1-8 bytes; the encoded stream is one
byte per symbol occurrence, with byte 255 as an escape prefix for bytes no
symbol covers.  Decode is exact concatenation — lossless by construction.

Public-knowledge design (Boncz, Neumann, Leis: "FSST: Fast Random Access
String Compression", VLDB 2020).  This implementation is original:

- **train** (:func:`fsst_train`): bounded iterative table construction on a
  ≤64 KiB sample — parse sample with current table, count symbol-pair
  concatenations, keep the top-gain candidates (5 rounds), vectorized
  end to end, like the C kernels' lookup arrays (no per-symbol loop).
- **encode** (:func:`fsst_encode`): per-position longest-match lengths are
  precomputed fully vectorized (8-byte little-endian windows +
  ``np.searchsorted`` per symbol length); the final greedy walk is a tight
  Python loop over plain lists (~the only non-vectorized loop in the
  engine, O(output symbols), amortized by the vectorized match phase).
- **decode** (:func:`fsst_decode`): fully vectorized (escape-run parity,
  per-code lengths, cumsum offsets, one fancy-index gather).

Applies to high-entropy string/binary data buffers (``url``, ``text``;
FIXTURES.md §1) where dictionary encoding loses.
"""

from __future__ import annotations

import ctypes
from dataclasses import dataclass, field

import numpy as np

from ._native import get_native

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_LEN = 8
SAMPLE_BYTES = 1 << 16
TRAIN_ROUNDS = 5


@dataclass
class FsstTable:
    symbols: list[bytes]  # index == code byte
    _arrays: tuple | None = field(default=None, repr=False, compare=False)
    _dec: tuple | None = field(default=None, repr=False, compare=False)

    def to_meta(self) -> dict:
        return {"lens": [len(s) for s in self.symbols]}

    def table_buffer(self) -> bytes:
        return b"".join(self.symbols)

    def decode_arrays(self):
        """(sym_len i32, sym_val u64): each code's length and zero-padded
        little-endian 8-byte image — all the C decoder reads."""
        if self._dec is None:
            n = len(self.symbols)
            lens = np.fromiter(map(len, self.symbols), dtype=np.int32, count=n)
            img = np.zeros((max(n, 1), 8), dtype=np.uint8)
            img[:n][np.arange(8) < lens[:, None]] = np.frombuffer(self.table_buffer(), np.uint8)
            self._dec = (lens, img.view("<u8").ravel())
        return self._dec

    def native_arrays(self):
        """(sym_flat u8, sym_off i32, sym_len i32, grouped2 u8, first2_off
        i32[65537], code1 i16[256], sym_val u64, sym_mask u64, best2 i16[65536])
        — symbols of length >= 2 grouped by their FIRST TWO bytes (length-desc,
        then code, in a bucket; best2 is the bucket's first) so the C scan only
        examines candidates that already match two bytes; length-1 symbols
        resolve via the direct code1 table.  Little-endian 8-byte value/mask
        pairs give a one-load candidate check."""
        if self._arrays is None:
            lens, vals = self.decode_arrays()
            offs = np.zeros(lens.size + 1, dtype=np.int32)
            np.cumsum(lens, out=offs[1:])
            flat = np.frombuffer(self.table_buffer(), dtype=np.uint8)
            masks = _LEN_MASKS[np.pad(lens, (0, vals.size - lens.size))]
            codes = np.arange(lens.size)
            code1 = np.full(256, -1, dtype=np.int16)
            one = lens == 1
            code1[flat[offs[:-1][one]]] = codes[one]
            multi = codes[~one]
            w2 = (vals[multi] & np.uint64(0xFFFF)).astype(np.int64)
            order = np.lexsort((multi, -lens[multi], w2))
            grouped2 = multi[order].astype(np.uint8)
            # first2_off is a step function over the <= 255 occupied
            # buckets: repeat each running count up to the next bucket
            heads, counts = np.unique(w2, return_counts=True)
            starts = np.zeros(heads.size + 1, dtype=np.int32)
            np.cumsum(counts, out=starts[1:])
            first2_off = np.repeat(starts, np.diff(heads, prepend=-1, append=65536))
            best2 = np.full(65536, -1, dtype=np.int16)
            best2[heads] = grouped2[starts[:-1]]
            self._arrays = (
                flat, offs[:-1].copy(), lens, grouped2, first2_off, code1, vals, masks, best2
            )
        return self._arrays

    @staticmethod
    def from_meta(meta: dict, buf: bytes) -> "FsstTable":
        out, pos = [], 0
        for ln in meta["lens"]:
            out.append(buf[pos : pos + ln])
            pos += ln
        return FsstTable(out)


def _token_ids(sample: bytes, table: "FsstTable") -> np.ndarray:
    """Greedy tokenization of the sample as an id stream (vectorized):
    id < 256 → symbol code into ``table``; id ≥ 256 → literal byte
    (id-256).  Runs the real encoder, then classifies its code stream."""
    if not table.symbols:
        return np.frombuffer(sample, dtype=np.uint8).astype(np.int32) + 256
    enc = np.frombuffer(fsst_encode(sample, table), dtype=np.uint8)
    n = enc.size
    marker = np.zeros(n, dtype=bool)
    is_ff = enc == ESCAPE
    if is_ff.any():
        idx = np.flatnonzero(is_ff)
        run_start = np.concatenate(([True], np.diff(idx) > 1))
        run_id = np.cumsum(run_start) - 1
        starts = idx[run_start]
        offset = idx - starts[run_id]
        marker[idx[offset % 2 == 0]] = True
    literal = np.zeros(n, dtype=bool)
    lit_pos = np.flatnonzero(marker) + 1
    literal[lit_pos[lit_pos < n]] = True
    ids = enc.astype(np.int32)
    ids[literal] += 256
    return ids[~marker]


def fsst_train(sample: bytes) -> FsstTable:
    """Build a symbol table from a sample — bounded iterative construction
    (parse with current table, count adjacent-token concatenations, keep
    the top-gain candidates) on NumPy arrays: ``np.bincount`` counts, and
    a candidate is its (little-endian 8-byte image, length), so dedup and
    ranking are sorts — (−gain, big-endian image, length) is ``bytes`` order."""
    sample = sample[:SAMPLE_BYTES]
    if not sample:
        return FsstTable([])
    table = FsstTable([])
    for _ in range(TRAIN_ROUNDS):
        # token id < 256: a code of the current table; >= 256: literal byte
        ids = _token_ids(sample, table)
        sym_len, sym_val = table.decode_arrays()
        lens = np.ones(512, dtype=np.int32)
        lens[: sym_len.size] = sym_len
        vals = np.zeros(512, dtype=np.uint64)
        vals[256:] = np.arange(256)
        vals[: sym_len.size] = sym_val[: sym_len.size]

        cnt1 = np.bincount(ids, minlength=512)
        uniq1 = np.flatnonzero(cnt1)
        gain1 = cnt1[uniq1] * np.maximum(lens[uniq1] - 1, 1)

        # adjacent pairs, counted over the k tokens that occur (rank
        # order is id order, so pairs come out ordered as a * 512 + b)
        k = uniq1.size
        rank = np.zeros(512, dtype=np.int64)
        rank[uniq1] = np.arange(k)
        r, ln_ids = rank[ids], lens[ids]
        ok = (ln_ids[:-1] + ln_ids[1:]) <= MAX_LEN
        cnt2 = np.bincount(r[:-1][ok] * k + r[1:][ok], minlength=k * k)
        pair = np.flatnonzero(cnt2)
        uniq2 = uniq1[pair // k] * 512 + uniq1[pair % k]
        gain2 = cnt2[pair] * (lens[uniq2 // 512] + lens[uniq2 % 512] - 1)

        # a generous top slice of each kind, as (image, length, gain)
        o1 = np.argsort(-gain1)[: 2 * MAX_SYMBOLS]
        o2 = np.argsort(-gain2)[: 2 * MAX_SYMBOLS]
        t1 = uniq1[o1]
        ta, tb = uniq2[o2] // 512, uniq2[o2] % 512
        img = np.concatenate(
            (vals[t1], vals[ta] | (vals[tb] << (np.uint64(8) * lens[ta].astype(np.uint64))))
        )
        ln = np.concatenate((lens[t1], lens[ta] + lens[tb]))
        gain = np.concatenate((-gain1[o1], -gain2[o2]))
        be = img.byteswap()
        # one candidate per byte string, at its largest gain
        o = np.lexsort((gain, ln, be))
        first = np.ones(o.size, dtype=bool)
        first[1:] = (be[o][1:] != be[o][:-1]) | (ln[o][1:] != ln[o][:-1])
        o = o[first]
        o = o[np.lexsort((ln[o], be[o], gain[o]))][:MAX_SYMBOLS]
        o = o[gain[o] < -1]
        keep = img[o].astype("<u8").view(np.uint8).reshape(-1, 8)
        buf = keep[np.arange(8) < ln[o][:, None]].tobytes()
        table = FsstTable.from_meta({"lens": ln[o].tolist()}, buf)
    return table


def _match_tables(table: FsstTable):
    """Per symbol length: (sorted uint64 prefix values, code array)."""
    lens, vals = table.decode_arrays()
    by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for ln in np.unique(lens).tolist():
        codes = np.flatnonzero(lens == ln)
        codes = codes[np.argsort(vals[codes], kind="stable")]
        by_len[ln] = (vals[codes], codes.astype(np.uint8))
    return by_len


_LEN_MASKS = np.array(
    [0] + [(1 << (8 * ln)) - 1 for ln in range(1, 8)] + [0xFFFFFFFFFFFFFFFF],
    dtype=np.uint64,
)

_ENC_SLAB = 1 << 22  # positions per vectorized match slab (4 Mi)


def fsst_encode(data: bytes | np.ndarray, table: FsstTable) -> bytes:
    """Encode a byte buffer with ``table``; returns the code stream."""
    d = np.frombuffer(data, dtype=np.uint8) if isinstance(data, (bytes, bytearray, memoryview)) else np.ascontiguousarray(data, dtype=np.uint8)
    n = d.size
    if n == 0:
        return b""
    lib = get_native()
    if lib is not None:
        flat, offs, lens, grouped2, first2_off, code1, vals, masks, best2 = table.native_arrays()
        out = np.empty(2 * n, dtype=np.uint8)  # worst case: all escaped
        u8p = ctypes.POINTER(ctypes.c_uint8)
        i16p = ctypes.POINTER(ctypes.c_int16)
        i32p = ctypes.POINTER(ctypes.c_int32)
        u64p = ctypes.POINTER(ctypes.c_uint64)
        m = lib.upes_fsst_encode(
            d.ctypes.data_as(u8p), n,
            vals.ctypes.data_as(u64p), masks.ctypes.data_as(u64p),
            lens.ctypes.data_as(i32p), grouped2.ctypes.data_as(u8p),
            first2_off.ctypes.data_as(i32p), code1.ctypes.data_as(i16p),
            best2.ctypes.data_as(i16p),
            out.ctypes.data_as(u8p),
        )
        return out[:m].tobytes()
    by_len = _match_tables(table)
    lengths = sorted(by_len.keys(), reverse=True)

    match_len = np.zeros(n, dtype=np.uint8)
    match_code = np.zeros(n, dtype=np.uint8)
    padded = np.concatenate([d, np.zeros(8, dtype=np.uint8)])
    for start in range(0, n, _ENC_SLAB):
        stop = min(start + _ENC_SLAB, n)
        win = np.lib.stride_tricks.sliding_window_view(padded[start : stop + 8], 8)[: stop - start]
        w64 = np.ascontiguousarray(win).view(np.uint64).ravel()
        ml = match_len[start:stop]
        mc = match_code[start:stop]
        for ln in lengths:
            vals, codes = by_len[ln]
            masked = w64 & _LEN_MASKS[ln]
            idx = np.searchsorted(vals, masked)
            idx_c = np.minimum(idx, vals.size - 1)
            hit = (vals[idx_c] == masked) & (ml == 0)
            if ln > 1:
                # a symbol longer than the remaining tail must not match
                tail = n - (start + np.flatnonzero(hit))
                hit_pos = np.flatnonzero(hit)
                ok = tail >= ln
                hit = np.zeros_like(hit)
                hit[hit_pos[ok]] = True
            mc[hit] = codes[idx_c[hit]]
            ml[hit] = ln

    # greedy walk (sequential by nature; plain-list loop, O(#tokens))
    ml_l = match_len.tolist()
    mc_l = match_code.tolist()
    d_l = d.tolist()
    out = bytearray()
    i = 0
    append = out.append
    while i < n:
        ln = ml_l[i]
        if ln:
            append(mc_l[i])
            i += ln
        else:
            append(ESCAPE)
            append(d_l[i])
            i += 1
    return bytes(out)


def fsst_decode(enc: bytes, table: FsstTable) -> bytes:
    """Vectorized inverse of :func:`fsst_encode`."""
    return fsst_decode_np(enc, table).tobytes()


def fsst_decode_np(enc: bytes, table: FsstTable) -> np.ndarray:
    """:func:`fsst_decode` returning a uint8 numpy array WITHOUT the
    final bytes copy — the chunk decoder wraps the result in Arrow
    buffers directly, and at document-body sizes the avoided copy is a
    measurable share of decode wall."""
    codes = np.frombuffer(enc, dtype=np.uint8)
    n = codes.size
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    lib = get_native()
    if lib is not None:
        lens, vals = table.decode_arrays()
        u8p = ctypes.POINTER(ctypes.c_uint8)
        i32p = ctypes.POINTER(ctypes.c_int32)
        u64p = ctypes.POINTER(ctypes.c_uint64)
        total = lib.upes_fsst_decoded_size(codes.ctypes.data_as(u8p), n, lens.ctypes.data_as(i32p))
        # +8 tail slack: the C loop writes each symbol as one unaligned
        # 8-byte store (zero-padded image), so the last token may touch
        # up to 7 bytes past `total`
        out = np.empty(total + 8, dtype=np.uint8)
        lib.upes_fsst_decode(
            codes.ctypes.data_as(u8p), n,
            vals.ctypes.data_as(u64p),
            lens.ctypes.data_as(i32p), out.ctypes.data_as(u8p),
        )
        return out[:total]
    # classify positions: escape markers / literals / symbol codes.
    is_ff = codes == ESCAPE
    # markers alternate within each maximal run of 0xFF bytes (run parity),
    # except a run can start as a literal only if preceded by a marker —
    # impossible, since a marker is itself 0xFF and would extend the run.
    marker = np.zeros(n, dtype=bool)
    if is_ff.any():
        idx = np.flatnonzero(is_ff)
        run_start = np.concatenate(([True], np.diff(idx) > 1))
        run_id = np.cumsum(run_start) - 1
        starts = idx[run_start]
        offset = idx - starts[run_id]
        marker[idx[offset % 2 == 0]] = True
    literal = np.zeros(n, dtype=bool)
    lit_src = np.flatnonzero(marker) + 1
    # a marker is always followed by its literal byte inside the stream
    literal[lit_src] = True
    symbol = ~(marker | literal)

    sym_lens = np.zeros(MAX_SYMBOLS + 1, dtype=np.int64)
    lens = table.decode_arrays()[0]
    sym_lens[: lens.size] = lens
    sym_flat = np.frombuffer(table.table_buffer(), dtype=np.uint8)
    sym_offsets = np.zeros(MAX_SYMBOLS + 1, dtype=np.int64)
    np.cumsum(sym_lens[:-1], out=sym_offsets[1:])

    out_len = np.zeros(n, dtype=np.int64)
    out_len[literal] = 1
    out_len[symbol] = sym_lens[codes[symbol]]
    total = int(out_len.sum())

    src_start = np.zeros(n, dtype=np.int64)
    src_start[literal] = sym_flat.size + np.flatnonzero(literal)
    src_start[symbol] = sym_offsets[codes[symbol]]
    source = np.concatenate([sym_flat, codes])

    out_off = np.zeros(n, dtype=np.int64)
    np.cumsum(out_len[:-1], out=out_off[1:])
    pos_of_byte = np.repeat(src_start, out_len) + (
        np.arange(total, dtype=np.int64) - np.repeat(out_off, out_len)
    )
    return source[pos_of_byte]
