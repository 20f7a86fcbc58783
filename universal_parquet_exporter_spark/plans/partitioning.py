"""Size-aware range partitioning with skew salting (SURVEY.md §7 Phase 4).

The reference has no partitioning at all — one file per query
(``/root/reference/examples/basic_integration_example.py:101-116``).  At
10^12-document scale the encode units must (a) be byte-balanced — row
counts lie when ``text``/``html`` lengths are Zipf-skewed — and (b) have
*deterministic identity* so a resumed job can skip completed units.

Strategy: sample ``(key, size_proxy)``, compute range boundaries over the
sort key that equalize cumulative bytes, then split any unit whose
estimated bytes still exceed ``hot_factor × target`` (a pathologically hot
key range, e.g. one giant host) into hash-salted sub-units.  The plan is
persisted as JSON next to the output so reruns reuse identical boundaries
(AQE can rebalance shuffles, but it cannot give a custom encode stage
stable unit identity — this planner can)."""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np


@dataclass
class EncodePlan:
    key_col: str
    boundaries: list[str]  # len B-1 upper-exclusive cut points → B buckets
    salts: list[int]  # per bucket: number of hash-salt sub-units (≥1)
    unit_offsets: list[int] = field(default_factory=list)  # bucket → first unit id

    def __post_init__(self):
        if not self.unit_offsets:
            offs, acc = [], 0
            for s in self.salts:
                offs.append(acc)
                acc += s
            self.unit_offsets = offs

    @property
    def n_units(self) -> int:
        return self.unit_offsets[-1] + self.salts[-1] if self.salts else 0

    def to_json(self) -> str:
        return json.dumps(
            {"key_col": self.key_col, "boundaries": self.boundaries, "salts": self.salts},
        )

    @staticmethod
    def from_json(s: str) -> "EncodePlan":
        d = json.loads(s)
        return EncodePlan(d["key_col"], d["boundaries"], d["salts"])


def plan_encode(
    df,
    key_col: str,
    size_cols: list[str],
    target_bytes: int = 128 << 20,
    sample_rows: int = 100_000,
    hot_factor: float = 2.0,
    seed: int = 42,
) -> EncodePlan:
    """Sample the input and build an :class:`EncodePlan`.

    ``size_cols`` are the variable-width columns whose byte lengths proxy
    the per-row encode cost (e.g. ``["text", "html"]``)."""
    from pyspark.sql import functions as F

    total_rows = df.count()
    if total_rows == 0:
        return EncodePlan(key_col, [], [1])
    fraction = min(1.0, sample_rows / total_rows)
    def exact(name):
        # backtick-quote so a dotted name ("meta.lang") resolves as the
        # EXACT column, never as a struct path
        return F.col("`" + name.replace("`", "``") + "`")

    size_expr = None
    for c in size_cols:
        e = F.coalesce(F.length(exact(c)), F.lit(0)).cast("long")
        size_expr = e if size_expr is None else size_expr + e
    if size_expr is None:
        # no variable-width proxy columns (e.g. an embeddings table):
        # rows are near-constant-width, so row count is the size proxy
        size_expr = F.lit(8).cast("long")
    sample = (
        df.sample(fraction=fraction, seed=seed)
        .select(exact(key_col).alias("k"), size_expr.alias("sz"))
        .toArrow()
    )
    return plan_from_sample(sample, total_rows, key_col, target_bytes, hot_factor)


def plan_from_sample(
    sample,
    total_rows: int,
    key_col: str,
    target_bytes: int,
    hot_factor: float = 2.0,
) -> EncodePlan:
    """Build an :class:`EncodePlan` from a (k, sz) Arrow table sample —
    the shared tail of both samplers (DataFrame-scan and parquet-footer)."""
    import pyarrow.compute as pc

    if sample.num_rows == 0:
        return EncodePlan(key_col, [], [1])
    # plan on KEY_WIDTH-character prefixes — the same comparison the
    # assigner uses, so plan units and assigned units agree exactly; a
    # null key plans as 'None'
    k = pc.utf8_slice_codeunits(pc.fill_null(sample.column("k").cast("string"), "None"), 0, KEY_WIDTH)
    order = pc.sort_indices(k)
    keys = k.take(order).to_numpy(zero_copy_only=False)
    sz = sample.column("sz").take(order).to_numpy()
    scale = total_rows / sample.num_rows
    total_bytes_est = float(sz.sum()) * scale
    n_buckets = max(1, int(np.ceil(total_bytes_est / target_bytes)))

    cum = np.cumsum(sz.astype(np.float64))
    total = cum[-1]
    # boundary i at cumulative fraction (i+1)/B
    cuts = [(i + 1) / n_buckets * total for i in range(n_buckets - 1)]
    idx = np.searchsorted(cum, cuts)
    boundaries = sorted(set(str(keys[min(i, len(keys) - 1)]) for i in idx))
    n_buckets = len(boundaries) + 1

    # estimate bytes per bucket from the sample to find hot ranges
    bucket_of = np.searchsorted(np.array(boundaries, dtype=object), keys, side="right")
    est = np.zeros(n_buckets)
    np.add.at(est, bucket_of, sz.astype(np.float64) * scale)
    salts = [max(1, int(np.ceil(b / (hot_factor * target_bytes)))) for b in est]
    return EncodePlan(key_col, boundaries, salts)


KEY_WIDTH = 48  # range comparison happens on this utf-8 prefix


def _fixed_width(arr, width: int = KEY_WIDTH) -> np.ndarray:
    """Arrow string array → (n,) ``S{width}`` numpy array (zero-padded
    utf-8 prefixes), fully vectorized from the Arrow buffers."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    odtype = np.int64 if large else np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odtype)[arr.offset : arr.offset + len(arr) + 1].astype(
        np.int64
    )
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    n = len(arr)
    lens = np.minimum(np.diff(offsets), width)
    out = np.zeros((n, width), dtype=np.uint8)
    pos = np.repeat(offsets[:-1], lens) + (
        np.arange(int(lens.sum()), dtype=np.int64)
        - np.repeat(np.concatenate(([0], np.cumsum(lens)[:-1])), lens)
    )
    cols = np.arange(int(lens.sum()), dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(lens)[:-1])), lens
    )
    rows = np.repeat(np.arange(n, dtype=np.int64), lens)
    out[rows, cols] = data[pos]
    return out.view(f"S{width}").ravel()


def boundaries_fixed(plan: EncodePlan, width: int = KEY_WIDTH) -> np.ndarray:
    return np.array(
        [b.encode("utf-8")[:width] for b in plan.boundaries], dtype=f"S{width}"
    )


def assign_units_arrow(key_array, plan: EncodePlan) -> np.ndarray:
    """Vectorized unit-id assignment straight from an Arrow string column —
    zero per-row Python.  Range comparison uses KEY_WIDTH-byte prefixes
    (consistent between planning and assignment, so unit identity is
    deterministic)."""
    keys = _fixed_width(key_array)
    bnd = boundaries_fixed(plan)
    buckets = np.searchsorted(bnd, keys, side="right")
    salts = np.array(plan.salts, dtype=np.int64)
    offsets = np.array(plan.unit_offsets, dtype=np.int64)
    unit = offsets[buckets]
    hot = salts[buckets] > 1
    if hot.any():
        h = _hash_fixed(keys[hot])
        unit[hot] = unit[hot] + (h % salts[buckets][hot].astype(np.uint64)).astype(np.int64)
    return unit


def _hash_fixed(keys: np.ndarray) -> np.ndarray:
    """FNV-1a over the fixed-width key bytes (vectorized)."""
    w = keys.dtype.itemsize
    as_bytes = keys.view(np.uint8).reshape(keys.size, w)
    out = np.full(keys.size, 0xCBF29CE484222325, dtype=np.uint64)
    for j in range(w):
        out = (out ^ as_bytes[:, j].astype(np.uint64)) * np.uint64(0x100000001B3)
    return out


def units_for_key_range(plan: EncodePlan, lo: str | None, hi: str | None) -> list[int]:
    """Unit ids that can contain keys in ``[lo, hi]`` (inclusive; None =
    unbounded) — the encode layout's partition-pruning primitive.

    Range boundaries order keys by KEY_WIDTH-byte prefix, and truncation
    is monotone under bytewise order (``a <= b ⇒ a[:w] <= b[:w]``), so
    every key in the range lands in a bucket between ``bucket(lo)`` and
    ``bucket(hi)`` — the returned set is a conservative superset and a
    residual full-precision filter on the decoded rows makes the scan
    exact, the same contract as parquet row-group pruning.  Salted
    (hash-split) buckets contribute all their sub-units."""
    if not plan.salts:
        return []
    bnd = boundaries_fixed(plan)

    def bucket_of(key: str) -> int:
        k = np.array([key.encode("utf-8")[:KEY_WIDTH]], dtype=f"S{KEY_WIDTH}")
        return int(np.searchsorted(bnd, k, side="right")[0])

    b_lo = 0 if lo is None else bucket_of(lo)
    b_hi = len(plan.salts) - 1 if hi is None else bucket_of(hi)
    units: list[int] = []
    for b in range(b_lo, b_hi + 1):
        units.extend(range(plan.unit_offsets[b], plan.unit_offsets[b] + plan.salts[b]))
    return units


def assign_units(keys: np.ndarray, plan: EncodePlan) -> np.ndarray:
    """Unit-id assignment for an object array of key strings (small-scale
    helper; the pipeline uses :func:`assign_units_arrow`)."""
    import pyarrow as pa

    return assign_units_arrow(pa.array(keys.tolist(), type=pa.string()), plan)


