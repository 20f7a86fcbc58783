"""Codec kernel round-trip tests (encode→decode == input, bit-identical).

Pattern seed: the reference's write-then-read-back contract
(``/root/reference/tests/test_parquet_writer.py:38-58``), applied per codec
with edge cases: empty chunks, single values, constant runs, extreme int64,
null-heavy and escape-heavy byte streams.
"""

import hashlib

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from universal_parquet_exporter_spark.codecs import (
    FsstTable,
    bitpack,
    bits_needed,
    bitunpack,
    dict_decode_ints,
    dict_encode_ints,
    for_decode,
    for_encode,
    fsst_decode,
    fsst_encode,
    fsst_train,
    rle_decode,
    rle_encode,
)

rng = np.random.default_rng(42)


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 31, 37, 63, 64])
def test_bitpack_roundtrip(width):
    n = 10_007
    if width == 0:
        v = np.zeros(n, dtype=np.uint64)
    elif width == 64:
        v = rng.integers(0, 2**63, n, dtype=np.uint64) * 2 + rng.integers(0, 2, n, dtype=np.uint64)
    else:
        hi = (1 << width) - 1
        v = rng.integers(0, hi, n, endpoint=True, dtype=np.uint64)
    buf = bitpack(v, width)
    assert len(buf) == (n * width + 7) // 8
    out = bitunpack(buf, n, width)
    assert np.array_equal(out, v)


def test_bitpack_native_matches_numpy(monkeypatch):
    import universal_parquet_exporter_spark.codecs._native as native

    v = rng.integers(0, 1 << 23, 5000).astype(np.uint64)
    b_native = bitpack(v, 23)
    monkeypatch.setenv("UPES_DISABLE_NATIVE", "1")
    b_numpy = bitpack(v, 23)
    assert b_native == b_numpy
    assert np.array_equal(bitunpack(b_native, v.size, 23), v)


@pytest.mark.parametrize(
    "v",
    [
        np.array([], dtype=np.int64),
        np.array([0], dtype=np.int64),
        np.array([-(2**63), 2**63 - 1, 0], dtype=np.int64),
        np.full(1000, -42, dtype=np.int64),
        rng.integers(-(10**12), 10**12, 20000).astype(np.int64),
        (rng.integers(0, 1000, 20000) + 1_700_000_000_000_000).astype(np.int64),
        rng.integers(-100, 100, 5000).astype(np.int32),
    ],
    ids=["empty", "zero", "extremes", "const", "wide", "ts_like", "i32"],
)
def test_for_roundtrip(v):
    meta, bufs = for_encode(v)
    out = for_decode(meta, bufs)
    assert out.dtype == v.dtype
    assert np.array_equal(out, v)


def test_rle_roundtrip():
    v = np.repeat(rng.integers(-5, 5, 997), rng.integers(1, 60, 997)).astype(np.int64)
    meta, bufs = rle_encode(v)
    assert meta["runs"] <= 997
    assert np.array_equal(rle_decode(meta, bufs), v)


def test_rle_compresses_sorted():
    v = np.sort(rng.integers(0, 50, 100_000)).astype(np.int64)
    meta, bufs = rle_encode(v)
    assert sum(len(b) for b in bufs) < v.nbytes / 100


@pytest.mark.parametrize("use_rle", [False, True])
def test_dict_roundtrip(use_rle):
    v = rng.choice(np.array([7, -3, 10**10, 0]), 30_000).astype(np.int64)
    if use_rle:
        v = np.sort(v)
    meta, bufs = dict_encode_ints(v, use_rle=use_rle)
    assert meta["card"] == 4
    assert np.array_equal(dict_decode_ints(meta, bufs), v)


# ---------------------------------------------------------------------------
# FSST
# ---------------------------------------------------------------------------

TEXT = (b"the quick brown fox jumps over the lazy dog " * 500) + bytes(range(256)) * 4


def test_fsst_roundtrip_text():
    tbl = fsst_train(TEXT)
    assert 0 < len(tbl.symbols) <= 255
    enc = fsst_encode(TEXT, tbl)
    assert len(enc) < len(TEXT) / 2  # repetitive text must compress well
    assert fsst_decode(enc, tbl) == TEXT


def test_fsst_table_serialization():
    tbl = fsst_train(TEXT)
    back = FsstTable.from_meta(tbl.to_meta(), tbl.table_buffer())
    assert back.symbols == tbl.symbols
    enc = fsst_encode(TEXT, tbl)
    assert fsst_decode(enc, back) == TEXT


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"\xff" * 1000,  # escape byte floods
        bytes(rng.integers(0, 256, 50_000).astype(np.uint8)),  # incompressible
        b"aaaaaaaa" * 1000,  # one dominant symbol
        b"ab",  # shorter than any useful symbol
    ],
    ids=["empty", "escapes", "random", "constant", "tiny"],
)
def test_fsst_edge_cases(data):
    tbl = fsst_train(data)
    assert fsst_decode(fsst_encode(data, tbl), tbl) == data


def test_fsst_native_matches_numpy(monkeypatch):
    tbl = fsst_train(TEXT)
    enc_native = fsst_encode(TEXT, tbl)
    dec_native = fsst_decode(enc_native, tbl)
    monkeypatch.setenv("UPES_DISABLE_NATIVE", "1")
    enc_numpy = fsst_encode(TEXT, tbl)
    dec_numpy = fsst_decode(enc_native, tbl)
    assert enc_native == enc_numpy
    assert dec_native == dec_numpy == TEXT


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_fsst_property_roundtrip(data):
    tbl = fsst_train(data)
    assert fsst_decode(fsst_encode(data, tbl), tbl) == data


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=500)
)
def test_int_codecs_property_roundtrip(xs):
    v = np.array(xs, dtype=np.int64)
    for enc, dec in [(for_encode, for_decode), (rle_encode, rle_decode), (dict_encode_ints, dict_decode_ints)]:
        meta, bufs = enc(v)
        assert np.array_equal(dec(meta, bufs), v)


def test_bits_needed():
    assert bits_needed(0) == 0
    assert bits_needed(1) == 1
    assert bits_needed(255) == 8
    assert bits_needed(256) == 9
    with pytest.raises(ValueError):
        bits_needed(-1)


def test_delta_roundtrip_and_wins_on_sequences():
    from universal_parquet_exporter_spark.codecs.forcodec import delta_decode, delta_encode
    from universal_parquet_exporter_spark.encode.chunk import decode_int_stream, encode_int_stream

    cases = [
        np.arange(10_000, dtype=np.int64) + 1_000_000,          # sequential ids
        np.int64(1_700_000_000_000_000) + np.cumsum(np.random.default_rng(42).integers(0, 1000, 5000)),
        np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, -1, 0, 1], dtype=np.int64),
        np.array([7], dtype=np.int64),
        np.array([], dtype=np.int64),
    ]
    for v in cases:
        meta, bufs = delta_encode(v)
        assert np.array_equal(delta_decode(meta, bufs), v)
    # the selector must pick delta for a long sequential run and beat FOR hard
    seq = np.arange(50_000, dtype=np.int64) + 10**12
    meta, bufs = encode_int_stream(seq)
    assert meta["codec"] == "delta", meta["codec"]
    assert sum(len(b) for b in bufs) < seq.nbytes // 50
    assert np.array_equal(decode_int_stream(meta, bufs), seq)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=0, max_size=300)
)
def test_delta_property_roundtrip(xs):
    from universal_parquet_exporter_spark.codecs.forcodec import delta_decode, delta_encode

    v = np.array(xs, dtype=np.int64)
    meta, bufs = delta_encode(v)
    assert np.array_equal(delta_decode(meta, bufs), v)


# ---------------------------------------------------------------------------
# FSST table pins
# ---------------------------------------------------------------------------


def _fsst_pin_samples() -> dict:
    """Named training samples: seeded webpages columns cut or tiled to
    64 KiB, and edge inputs (short, random, constant, top-byte and
    NUL-bearing symbols)."""
    from universal_parquet_exporter_spark.fixtures.webpages import generate_batch

    ids = np.sort(np.random.default_rng(18).choice(1_000_000, 2_000, replace=False))
    batch = generate_batch(ids)
    out = {}
    for name in ("url", "html", "text", "lang"):
        vals = batch.column(name).cast(pa.binary()).to_pylist()
        data = b"".join(v for v in vals if v)
        out[name] = np.resize(np.frombuffer(data, dtype=np.uint8), 1 << 16).tobytes()
    r = np.random.default_rng(7)
    out["random64"] = r.integers(0, 256, 64, dtype=np.uint8).tobytes()
    out["random100"] = r.integers(0, 256, 100, dtype=np.uint8).tobytes()
    out["random64k"] = r.integers(0, 256, 1 << 16, dtype=np.uint8).tobytes()
    out["zeros"] = bytes(4096)
    out["ab"] = b"ab" * 2000
    out["top_bytes"] = bytes(range(0xFA, 0x100)) * 700
    out["nul_nul_a"] = b"\x00\x00a" * 1500
    out["a_nul"] = b"a\x00" * 2000
    out["mixed_nul"] = (b"\x00\x00a" * 3 + b"a\x00" * 5 + b"xyz") * 600
    out["fox"] = TEXT
    out["small_alphabet"] = r.choice(np.frombuffer(b"abcde \x00\xff", np.uint8), 30_000).tobytes()
    return out


def _fsst_digest(sample: bytes) -> str:
    tbl = fsst_train(sample)
    h = hashlib.sha256()
    for part in (tbl.table_buffer(), bytes(tbl.to_meta()["lens"]), fsst_encode(sample, tbl)):
        h.update(len(part).to_bytes(8, "little"))
        h.update(part)
    return h.hexdigest()[:32]


# sha256 prefixes of (table bytes, symbol lengths, fsst_encode output) for
# each sample of _fsst_pin_samples: training and encoding must stay byte
# for byte what every committed payload was written with
_FSST_PINS = {
    "url": "84ed7b3764734f1ef0582fdce5b4413c",
    "html": "26b85a6e754ccb4e53d4c48d398db2af",
    "text": "0edf123e7c85718e0b634cb53495c8ad",
    "lang": "694972fc720ad9b8dc8a5122dea8dea3",
    "random64": "f7428846bf80ad1b7774940210a17227",
    "random100": "96ed8ca2169b3cf055baca72d30d4acd",
    "random64k": "0321eaa087472a39f3c72995ee905f62",
    "zeros": "adcd8e7eb00a4cff62acc6e4c7524bd3",
    "ab": "e2c3712713e7b2ce9eb2ea7ec2cef52d",
    "top_bytes": "c6c985b62b5dd847e596c48a28ee149d",
    "nul_nul_a": "9eecba4e6c3fe158860bf83197f740c5",
    "a_nul": "93e8ea09ded92bcd2d46973ead7d72fb",
    "mixed_nul": "ce4ddd02c0057a2850e0e20c6a98a9f9",
    "fox": "da0120b06360cbd9bd0df1ee4bcaac66",
    "small_alphabet": "6c2baed1e5732c390c93b6f60f22f2c6",
}


def _native_arrays_oracle(symbols: list[bytes]) -> tuple:
    """The per-symbol construction of the C kernels' lookup arrays, kept
    as the reference the vectorized ``FsstTable.native_arrays`` must
    reproduce exactly."""
    lens = np.array([len(s) for s in symbols], dtype=np.int32)
    offs = np.zeros(len(symbols) + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    flat = np.frombuffer(b"".join(symbols), dtype=np.uint8)
    vals = np.zeros(max(len(symbols), 1), dtype=np.uint64)
    masks = np.zeros(max(len(symbols), 1), dtype=np.uint64)
    code1 = np.full(256, -1, dtype=np.int16)
    by_first2: dict[int, list[int]] = {}
    for code, sym in enumerate(symbols):
        vals[code] = int.from_bytes(sym.ljust(8, b"\x00"), "little")
        masks[code] = (1 << (8 * len(sym))) - 1 if len(sym) < 8 else 0xFFFFFFFFFFFFFFFF
        if len(sym) == 1:
            code1[sym[0]] = code
        else:
            by_first2.setdefault(sym[0] | (sym[1] << 8), []).append(code)
    counts = np.zeros(65536, dtype=np.int32)
    for w2, codes in by_first2.items():
        codes.sort(key=lambda c: (-len(symbols[c]), c))
        counts[w2] = len(codes)
    first2_off = np.zeros(65537, dtype=np.int32)
    np.cumsum(counts, out=first2_off[1:])
    grouped2 = np.array([c for w2 in sorted(by_first2) for c in by_first2[w2]], dtype=np.uint8)
    best2 = np.full(65536, -1, dtype=np.int16)
    for w2, codes in by_first2.items():
        best2[w2] = codes[0]
    return flat, offs[:-1].copy(), lens, grouped2, first2_off, code1, vals, masks, best2


def test_fsst_tables_are_pinned():
    samples = _fsst_pin_samples()
    assert {k: _fsst_digest(v) for k, v in samples.items()} == _FSST_PINS
    for name, sample in samples.items():
        tbl = fsst_train(sample)
        want = _native_arrays_oracle(tbl.symbols)
        got = FsstTable(list(tbl.symbols)).native_arrays()
        assert len(got) == len(want), name
        for g, w in zip(got, want):
            assert g.dtype == w.dtype and np.array_equal(g, w), name
        lens, vals = FsstTable(list(tbl.symbols)).decode_arrays()
        assert lens.dtype == want[2].dtype and np.array_equal(lens, want[2]), name
        assert vals.dtype == want[6].dtype and np.array_equal(vals, want[6]), name
