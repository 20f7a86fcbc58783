"""Driver-contract queries over the encode engine.

Each ``q_*`` builder takes a session and a fixture directory (``sf_dir``
holding ``documents.parquet``, ``events.parquet``, ...), drives one
engine path end to end on that data, and returns a DataFrame that
``__spark_entry__.oracle_sql()`` checks against a DuckDB twin (row
count plus an order-insensitive value hash).

Builders that certify pruning raise unless the scan planner's own
evidence shows it skipped what the query certifies — encode units for a
key range, manifest slices for zone maps (:func:`require_pruned`).  The
evidence is filled on the driver from the planner's masks, so no
builder re-derives the zone-map rule or runs a Spark job over the
manifest to check it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime

from pyspark.sql import functions as F

from .encode.compaction import compact
from .encode.maintenance import vacuum
from .encode.meta import _committed_manifest, _probe_chunk_schema
from .encode.pipeline import EncodeJobConfig, encode_job, load_or_build_plan
from .encode.scan import (
    DEFAULT_PARTITION_BYTES,
    _filter_groups,
    _pack_chunk_partitions,
    _pruning_groups,
    decode_dataset,
)
from .encode.stats import dataset_column_stats
from .sources.spark_datasource import register


_LAYERS = {"units": ("units_qualifying", "units_total"), "slices": ("qualifying", "total")}


def require_pruned(ev: dict, what: str, layer: str) -> None:
    """Raise unless ``ev`` — pruning evidence from the scan planner —
    shows it skipped something on the one ``layer`` the query
    certifies: ``"units"`` (``units_qualifying < units_total``, the key
    range's unit pruning) or ``"slices"`` (``qualifying < total``, the
    zone maps' manifest-slice pruning).  A layer with at most one
    candidate has nothing to prune and is not held against the scan."""
    qualifying, total = _LAYERS[layer]
    if total not in ev:
        raise RuntimeError(f"{what}: the planner recorded no {layer} evidence ({ev})")
    if ev[total] > 1 and ev[qualifying] >= ev[total]:
        raise RuntimeError(f"{what} pruned nothing ({ev})")


def _zone_map_evidence(spark, out_dir: str, filters) -> dict:
    """The scan planner's zone-map verdict for ``filters`` over EVERY
    slice of the committed manifest, as ``{"total", "qualifying"}``.
    ``decode_dataset``'s evidence counts only the slices of the units a
    key-column bound keeps (one slice each on a small dataset, so that
    layer has nothing left to prune); a guard on a key-column bound
    reads this instead, so it certifies the chunk stats themselves."""
    man = _committed_manifest(out_dir)
    probe = _probe_chunk_schema(out_dir, man)
    groups = _pruning_groups(spark, _filter_groups(filters), probe)
    ev: dict = {}
    _pack_chunk_partitions(
        man, os.path.join(out_dir, "payload"), None, list(probe),
        DEFAULT_PARTITION_BYTES, groups, probe, evidence=ev,
    )
    return ev


def _documents(spark, sf_dir: str):
    """The documents fixture keyed by ``doc_id`` as a string."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


def _padded_documents(spark, sf_dir: str):
    """The documents fixture with ``doc_key``, the zero-padded doc_id:
    lexicographic key order is numeric id order, so chunks carry narrow
    key bounds."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).withColumn(
        "doc_key", F.lpad(F.col("doc_id").cast("string"), 8, "0")
    )


def _encode(spark, df, prefix: str, **cfg) -> str:
    """Encode ``df`` into a fresh temporary directory with
    ``EncodeJobConfig(**cfg)`` and return the directory."""
    out = tempfile.mkdtemp(prefix=prefix)
    encode_job(spark, df, EncodeJobConfig(output_dir=out, **cfg))
    return out


def _encode_appends(spark, df, prefix: str, n: int, target_unit_bytes: int) -> str:
    """Encode ``df`` as ``n`` hash-split appends of 64-row chunks keyed
    by ``doc_id`` — the fragment drift a streaming table accrues — and
    return the directory."""
    out = tempfile.mkdtemp(prefix=prefix)
    for i in range(n):
        cfg = EncodeJobConfig(
            output_dir=out,
            key_col="doc_id",
            size_cols=("text",),
            target_unit_bytes=target_unit_bytes,
            chunk_rows=64,
            skip_completed=False,
            batch_tag=f"append_{i}",
        )
        encode_job(spark, df.where(F.crc32(F.col("doc_id")) % n == i), cfg)
    return out


def _doc_id_long():
    return F.col("doc_id").cast("long").alias("doc_id")


# ---------------------------------------------------------------------------
# encode → decode round trips
# ---------------------------------------------------------------------------


def q_encode_roundtrip(spark, sf_dir: str):
    """Run the REAL encode engine over the documents table and decode it
    back — the oracle is a plain ``SELECT`` from the source, so the
    driver's value-hash check asserts the engine's bit-identical round
    trip on independent data, not just our own fixtures (north-rule
    invariant; reference round-trip pattern
    ``tests/test_parquet_writer.py:38-58``)."""
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_rt_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=4 << 20,
    )
    dec = decode_dataset(spark, out)
    return dec.select(_doc_id_long(), "text", "lang", "source", "n_chars")


def q_encode_roundtrip_embeddings(spark, sf_dir: str):
    """Round-trip the ``embeddings`` table — ``array<float>`` vectors
    plus int ids — through the REAL engine, then explode each vector to
    (vec_id, label, pos, val) scalars so the driver's value-hash compares
    every element positionally (nested arrays don't sort/hash portably
    across engines).  Certifies that list columns survive the codec
    layer bit-identically — the payload an LLM-data engine stores most
    after text."""
    df = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).withColumn(
        "vec_id", F.col("vec_id").cast("string")
    )
    out = _encode(
        spark, df, "upes_rte_", key_col="vec_id", size_cols=(), target_unit_bytes=1 << 20
    )
    dec = decode_dataset(spark, out)
    return dec.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "label",
        F.posexplode("embedding").alias("pos", "val"),
    )


def q_encode_roundtrip_pruned(spark, sf_dir: str):
    """Encode the documents table, then decode ONLY (doc_id, lang) — the
    container skips the text column's buffers by their recorded lengths
    without decompressing them (:func:`.encode.container.deserialize_chunk`).
    The oracle is a plain two-column SELECT, so the driver's value hash
    certifies that pruned decode is exact, not just non-crashing."""
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_rtq_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=4 << 20,
    )
    dec = decode_dataset(spark, out, columns=["doc_id", "lang"])
    return dec.select(_doc_id_long(), "lang")


def q_encode_roundtrip_clustered(spark, sf_dir: str):
    """WRITE-TIME CLUSTERING (``EncodeJobConfig.cluster_by`` — the
    Iceberg SortOrder analog the reference's arbitrary-cursor-order
    export lacks).  The documents table arrives lang-interleaved (every
    chunk of a plain write holds most languages); clustering by (lang,
    n_chars) range-repartitions + sorts before encode so chunks collapse
    to single-language distinct sets, and the decode's ``lang = 'de'``
    equality PRUNES chunk payload — the query raises unless the
    planner's evidence proves it did.  Oracle: the same equality as
    plain SQL; the value hash certifies the clustered write reorders
    rows WITHOUT losing or altering one (the north-rule bit-identity,
    under a permutation)."""
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_clusq_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=64 << 10,
        chunk_rows=64, map_tasks=8, cluster_by=("lang", "n_chars"),
    )
    ev: dict = {}
    dec = decode_dataset(spark, out, filters=[("lang", "=", "de")], pruning_evidence=ev)
    require_pruned(ev, "clustered write", "slices")
    return dec.select(_doc_id_long(), "text", "lang", "n_chars")


# ---------------------------------------------------------------------------
# pruned decodes: each raises unless the planner's evidence shows pruning
# ---------------------------------------------------------------------------


def q_decode_key_range(spark, sf_dir: str):
    """Encode the documents table keyed by doc_id-as-string, then decode
    only the key range ['1', '3'], given as two key-column filter terms —
    the plan's range boundaries prune whole encode units before any
    payload byte is read, and the residual filter makes the result exact (string comparison semantics, mirrored
    by the oracle's VARCHAR predicate).  The query raises unless
    pruning skipped units, so the driver's green row certifies the
    pruning path runs, not just the filter."""
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_krq_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=64 << 10,
    )
    ev: dict = {}
    key_range = [("doc_id", ">=", "1"), ("doc_id", "<=", "3")]
    dec = decode_dataset(spark, out, filters=key_range, pruning_evidence=ev)
    require_pruned(ev, "key-range pruning", "units")
    return dec.select(_doc_id_long(), "lang", "n_chars")


def q_decode_key_range_open(spark, sf_dir: str):
    """Open-ended key-range decode — ``['5', None)`` prunes every unit
    strictly below bucket('5') and leaves the upper end unbounded, the
    common "resume the scan from key K" shape.  Same pruning guard as
    :func:`q_decode_key_range`; the oracle is the equivalent VARCHAR
    ``>=`` predicate."""
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_kro_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=64 << 10,
    )
    ev: dict = {}
    dec = decode_dataset(spark, out, filters=[("doc_id", ">=", "5")], pruning_evidence=ev)
    require_pruned(ev, "open key-range pruning", "units")
    return dec.select(_doc_id_long(), "lang", "n_chars")


def q_decode_filters(spark, sf_dir: str):
    """Zone-map filtered decode — a string bound on the key column
    (doc_id >= '5', which prunes: keys are range-clustered into units)
    AND a numeric bound on n_chars (which exercises typed residual
    filtering).  The query raises unless the doc_id zone maps exclude
    manifest slices across the whole dataset, so a green row certifies
    the stats pruning path ran, not just the unit ranges or the
    residual.  Oracle: the equivalent VARCHAR + integer
    predicates."""
    # small chunk_rows: each task's chunks then cover CONTIGUOUS unit
    # sub-ranges (the stream flushes units in sorted order), so a key
    # bound inside the range genuinely prunes chunks even at sf0.001
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_zmq_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=64 << 10, chunk_rows=128,
    )
    require_pruned(_zone_map_evidence(spark, out, [("doc_id", ">=", "5")]), "zone maps", "slices")
    dec = decode_dataset(spark, out, filters=[("doc_id", ">=", "5"), ("n_chars", ">=", 200)])
    return dec.select(_doc_id_long(), "lang", "n_chars")


def q_decode_filters_ts(spark, sf_dir: str):
    """TIMESTAMP zone-map pruning — the canonical Common-Crawl range
    filter (``warc_ts``-shaped; SURVEY §1.2, and the reference's only
    range diagnostic is ``MIN/MAX(order_date)``,
    ``examples/advanced_integration_example.py:168-169``).  The events
    table is keyed by zero-padded event_id (corr ≈ 1 with ``ts``), so
    chunks carry narrow epoch-µs ts bounds; the query raises unless the
    bounds actually disqualify chunks, certifying the timestamp pruning
    path ran — not just the exact residual.  Oracle: the same
    half-month window as plain SQL."""
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).withColumn(
        "event_key", F.lpad(F.col("event_id").cast("string"), 10, "0")
    )
    out = _encode(
        spark, df, "upes_zts_",
        key_col="event_key", size_cols=("props",), target_unit_bytes=64 << 10, chunk_rows=128,
        cluster_by=("event_key",),
    )
    ev: dict = {}
    dec = decode_dataset(
        spark, out,
        filters=[("ts", ">=", datetime(2024, 1, 8)), ("ts", "<=", datetime(2024, 1, 15))],
        pruning_evidence=ev,
    )
    require_pruned(ev, "timestamp zone maps", "slices")
    # µs epoch ints: identical across engines regardless of how each
    # stringifies timestamps (same convention as events_agg); doubles
    # rounded to 2dp like every other raw-double query column
    return dec.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        F.round(F.col("value"), 2).alias("value"),
    )


def q_decode_filters_dv(spark, sf_dir: str):
    """DISTINCT-VALUE-SET equality pruning — an IN term on the
    interleaved categorical ``lang`` column mixing a present value with
    one ('eo') that sits strictly INSIDE every chunk's [min, max] lang
    bounds but occurs in no row.  Bounds can never exclude it; only the
    recorded exact value sets can, so the query raises unless planning
    ``lang IN ('eo')`` alone prunes some chunk ('de' may sit in every
    chunk, so the query's own IN-list proves nothing) — then returns
    the present value's rows for the oracle's value hash (exactness:
    pruning must not lose a single 'de' row sharing chunks with the
    pruned check).  Oracle: plain IN predicate."""
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_dvq_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=64 << 10, chunk_rows=128,
    )
    ev: dict = {}
    decode_dataset(spark, out, filters=[("lang", "in", ["eo"])], pruning_evidence=ev)
    require_pruned(ev, "distinct-value sets", "slices")
    dec = decode_dataset(spark, out, filters=[("lang", "in", ["de", "eo"])])
    return dec.select(_doc_id_long(), "lang", "n_chars")


def q_decode_filters_null(spark, sf_dir: str):
    """NULL-COUNT pruning — ``IS NOT NULL`` on a column that is null on
    a key-contiguous half of the table (nulls clustered by the
    zero-padded key, so whole chunks are all-null — min/max bounds say
    nothing about nulls, only the recorded per-chunk null counts can
    disqualify).  The query raises unless the counts actually pruned
    chunks, then returns the non-null rows for the oracle's value hash
    (exactness: chunks MIXING null and non-null rows must survive
    pruning and re-filter exactly).  Oracle: the same predicate as plain
    SQL."""
    df = (
        _padded_documents(spark, sf_dir)
        .withColumn(
            "opt_lang",
            F.when(F.col("doc_id") % 500 < 250, F.lit(None)).otherwise(F.col("lang")),
        )
        .select("doc_key", "doc_id", "opt_lang", "n_chars")
    )
    out = _encode(
        spark, df, "upes_ncq_",
        key_col="doc_key", size_cols=("opt_lang",), target_unit_bytes=64 << 10, chunk_rows=128,
        cluster_by=("doc_key",),
    )
    ev: dict = {}
    dec = decode_dataset(
        spark, out, filters=[("opt_lang", "not_null", None)], pruning_evidence=ev
    )
    require_pruned(ev, "null counts", "slices")
    return dec.select(_doc_id_long(), "opt_lang", "n_chars")


def q_decode_filters_prefix(spark, sf_dir: str):
    """STRING-PREFIX pruning — ``startswith`` on the zero-padded key
    column (the url-prefix scan shape over a url-keyed Common-Crawl
    table: keys are clustered, so narrow per-chunk [min, max] key bounds
    disqualify every chunk outside the prefix's range).  Raises unless
    the key bounds exclude manifest slices across the whole dataset,
    then returns the matching rows for the
    oracle's value hash.  Oracle: the equivalent integer BETWEEN."""
    out = _encode(
        spark, _padded_documents(spark, sf_dir).select("doc_key", "doc_id", "lang", "n_chars"),
        "upes_pfx_",
        key_col="doc_key", size_cols=("doc_key",), target_unit_bytes=64 << 10, chunk_rows=128,
        cluster_by=("doc_key",),
    )
    terms = [("doc_key", "startswith", "0000012")]
    require_pruned(_zone_map_evidence(spark, out, terms), "prefix bounds", "slices")
    dec = decode_dataset(spark, out, filters=terms)
    return dec.select(_doc_id_long(), "lang", "n_chars")


def q_decode_filters_ne(spark, sf_dir: str):
    """INEQUALITY pruning through the exact distinct-value sets —
    ``cat != 'en'`` over a categorical that is constant 'en' on
    key-contiguous runs (the boilerplate-language-strip shape: drop the
    dominant language).  Bounds can never prove inequality, so the
    all-'en' chunks (recorded set exactly ``['en']``) are the ONLY
    prunable evidence; the query raises unless some chunk was
    disqualified, then returns the surviving rows for the oracle's value
    hash (exactness: mixed chunks must survive and re-filter to the
    row).  Oracle: the same ``<>`` predicate as plain SQL."""
    df = (
        _padded_documents(spark, sf_dir)
        .withColumn(
            "cat",
            F.when(F.col("doc_id") % 500 < 250, F.lit("en")).otherwise(F.col("lang")),
        )
        .select("doc_key", "doc_id", "cat", "n_chars")
    )
    out = _encode(
        spark, df, "upes_neq_",
        key_col="doc_key", size_cols=("cat",), target_unit_bytes=64 << 10, chunk_rows=128,
        cluster_by=("doc_key",),
    )
    ev: dict = {}
    dec = decode_dataset(spark, out, filters=[("cat", "!=", "en")], pruning_evidence=ev)
    require_pruned(ev, "inequality", "slices")
    return dec.select(_doc_id_long(), "cat", "n_chars")


def q_decode_filters_or(spark, sf_dir: str):
    """DISJUNCTIVE (DNF) filtered decode — the out-of-range scan
    ``key < a OR key >= b`` over a key-clustered dataset.  Filters in
    pyarrow's list-of-lists shape are OR-ed across groups; a chunk
    survives when ANY group's bounds keep it, so the chunks covering the
    middle of the key range are skipped before any payload byte.  Raises
    unless that pruning actually fired; the oracle is the plain OR
    predicate, so a green row certifies both halves of the union arrive
    exactly once (no loss, no duplication across groups)."""
    out = _encode(
        spark, _padded_documents(spark, sf_dir).select("doc_key", "doc_id", "lang", "n_chars"),
        "upes_dnf_",
        key_col="doc_key", size_cols=("doc_key",), target_unit_bytes=64 << 10, chunk_rows=128,
        cluster_by=("doc_key",),
    )
    ev: dict = {}
    dec = decode_dataset(
        spark,
        out,
        filters=[[("doc_key", "<", "00000100")], [("doc_key", ">=", "00000400")]],
        pruning_evidence=ev,
    )
    require_pruned(ev, "disjunctive bounds", "slices")
    return dec.select(_doc_id_long(), "lang", "n_chars")


# ---------------------------------------------------------------------------
# metadata and maintenance: stats, vacuum, compaction
# ---------------------------------------------------------------------------


def q_stats_agg(spark, sf_dir: str):
    """Metadata-only MIN/MAX/COUNT — the reference's
    ``MIN/MAX(order_date)`` diagnostic answered from the manifest
    without decoding any payload chunk (:func:`dataset_column_stats`).
    The value hash certifies the metadata-derived numbers EQUAL the
    oracle's full-scan aggregate; the query raises unless the engine
    reports them exact."""
    out = _encode(
        spark, _padded_documents(spark, sf_dir).select("doc_key", "doc_id", "lang", "n_chars"),
        "upes_stat_",
        key_col="doc_key", size_cols=("doc_key",), target_unit_bytes=64 << 10, chunk_rows=128,
    )
    st = dataset_column_stats(spark, out, columns=["n_chars"]).collect()[0]
    if not (st.min_exact and st.max_exact and st.null_count is not None):
        raise RuntimeError(f"metadata stats not exact: {st}")
    return spark.createDataFrame(
        [(int(st.min), int(st.max), int(st.null_count), int(st.row_count))],
        "mn long, mx long, nulls long, n_rows long",
    )


def q_vacuum_roundtrip(spark, sf_dir: str):
    """Encode the documents table, simulate a run that crashed between
    the manifest commit and the lineage commit (orphan manifest rows
    pointing at copied dead payload files, plus a payload-only casualty
    from a lost task attempt), :func:`vacuum` the dataset, and decode it
    back.  The oracle is a plain SELECT, so the driver's value hash
    certifies that the sweep deletes ONLY never-read data — the same
    crash pattern ``tests/test_maintenance.py`` gates, here re-proven
    against independent data every round."""
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_vacq_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=4 << 20,
    )
    data_dir = os.path.join(out, "data")
    pdir = os.path.join(out, "payload")
    torn = spark.read.parquet(data_dir).withColumn("run_id", F.lit("deadbeef0000"))
    renames = {
        r.file: f"frag-torn-{i:04d}.bin"
        for i, r in enumerate(torn.select("file").distinct().collect())
    }
    for src, dst in renames.items():
        shutil.copyfile(os.path.join(pdir, src), os.path.join(pdir, dst))
    mapping = F.create_map([F.lit(x) for kv in renames.items() for x in kv])
    torn.withColumn("file", mapping[F.col("file")]).write.mode("append").parquet(data_dir)
    with open(os.path.join(pdir, "frag-lost-attempt.bin"), "wb") as f:
        f.write(b"\x00" * 1024)

    rep = vacuum(spark, out)
    if not rep["deleted_files"] or not rep["manifest_rewritten"]:
        raise RuntimeError(f"vacuum swept nothing: {rep}")
    dec = decode_dataset(spark, out)
    return dec.select(_doc_id_long(), "text", "lang", "source", "n_chars")


def q_compact_roundtrip(spark, sf_dir: str):
    """Ingest the documents table in FOUR small appends (the fragment
    drift a streaming table accrues), compact, and decode through the
    rewritten manifest.  The oracle is a plain SELECT, so the driver's
    value hash certifies the rewrite moved every row bit-identically;
    the query itself also asserts the rewrite actually merged fragments
    (fewer slices after than before)."""
    out = _encode_appends(spark, _documents(spark, sf_dir), "upes_cmpq_", 4, 4 << 20)
    rep = compact(spark, out, chunk_rows=32768)
    if not rep["units_compacted"] or rep["slices_after"] >= rep["slices_before"]:
        raise RuntimeError(f"compaction merged nothing: {rep}")
    dec = decode_dataset(spark, out)
    return dec.select(_doc_id_long(), "text", "lang", "source", "n_chars")


def q_compact_filtered(spark, sf_dir: str):
    """Zone-map pruning STILL WORKS after a compaction rewrite —
    fragments carry stats, the rewrite re-encodes target units into
    fresh chunks with freshly computed stats (``_chunk_stats`` runs
    inside ``_encode_stream`` unconditionally), and a filtered decode
    over the rewritten manifest must still skip chunks.  The query
    raises unless (a) compaction merged fragments and (b) the zone maps
    of the post-compact manifest exclude slices for the predicate — so a
    green row certifies stats survival through the rewrite, not just
    row identity."""
    # zero-padded key: lexicographic unit order == numeric id order, so
    # post-compact chunks carry NARROW key bounds a bound can disqualify.
    # small units (16 KiB) → many units; three random-third appends give
    # each unit ~3 under-filled slices (a unit's wave flushes as one
    # chunk, so fragmentation here is slices-per-unit, not chunk splits)
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).withColumn(
        "doc_id", F.lpad(F.col("doc_id").cast("string"), 8, "0")
    )
    out = _encode_appends(spark, df, "upes_cmpf_", 3, 16 << 10)
    rep = compact(spark, out, chunk_rows=64, min_avg_slice_rows=64)
    if not rep["units_compacted"] or rep["slices_after"] >= rep["slices_before"]:
        raise RuntimeError(f"compaction merged nothing: {rep}")
    terms = [("doc_id", ">=", "00000300")]
    require_pruned(_zone_map_evidence(spark, out, terms), "post-compact zone maps", "slices")
    dec = decode_dataset(spark, out, filters=terms)
    return dec.select(_doc_id_long(), "lang", "source", "n_chars")


def q_compact_clustered(spark, sf_dir: str):
    """RETRO-CLUSTERING (``compact(cluster_by=…)``, Iceberg's
    sort-strategy ``rewrite_data_files``) end to end.  A dataset
    ingested in interleaved arrival order — every chunk mixes all
    languages, so ``lang = 'de'`` can prune nothing — is rewritten in
    place with ``cluster_by=("lang",)``; the query raises unless the
    rewrite ran AND the post-rewrite equality decode actually skipped
    chunks (distinct-value-set membership on now-narrow chunks), and the
    oracle is the plain predicate, so a green row certifies both the
    pruning evidence and bit-identical values through the re-sort."""
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).withColumn(
        "doc_id", F.lpad(F.col("doc_id").cast("string"), 8, "0")
    )
    # two hash-split appends: each unit gets ~2 slices (selectable) and
    # every chunk interleaves languages (nothing for equality to prune)
    out = _encode_appends(spark, df, "upes_cmpc_", 2, 16 << 10)
    ev_pre: dict = {}
    decode_dataset(spark, out, filters=[("lang", "=", "de")], pruning_evidence=ev_pre)
    # min_avg_slice_rows above any slice size selects every multi-slice
    # unit — re-clustering is the goal here, not fragment repair.
    # chunk_rows=16 < rows-per-lang-per-unit so the sorted rewrite yields
    # mostly single-language chunks (pruning needs chunks narrower than
    # the language mix)
    rep = compact(spark, out, chunk_rows=16, min_avg_slice_rows=1 << 30, cluster_by=("lang",))
    if not rep["units_compacted"] or not rep["manifest_rewritten"]:
        raise RuntimeError(f"retro-clustering rewrote nothing: {rep}")
    ev: dict = {}
    dec = decode_dataset(spark, out, filters=[("lang", "=", "de")], pruning_evidence=ev)
    require_pruned(
        ev, f"retro-clustered equality decode (before the rewrite: {ev_pre})", "slices"
    )
    return dec.select(_doc_id_long(), "lang", "n_chars")


# ---------------------------------------------------------------------------
# the upe_encoded Spark DataSource
# ---------------------------------------------------------------------------


def q_source_read_filtered(spark, sf_dir: str):
    """Encode the documents table, then read it back through the
    registered ``upe_encoded`` Spark format with a key-range and
    ``n_chars`` predicate, which Spark applies to every row the reader
    returns (the reader takes no pushed filters).  The oracle is the same predicate as
    plain SQL over the source, so the driver's value hash certifies the
    DataSource read path end to end, not just the function-call
    decode."""
    out = _encode(
        spark, _documents(spark, sf_dir), "upes_dsr_",
        key_col="doc_id", size_cols=("text",), target_unit_bytes=256 << 10, chunk_rows=128,
    )
    register(spark)
    r = (
        spark.read.format("upe_encoded")
        .load(out)
        .where((F.col("doc_id") >= "10") & (F.col("doc_id") <= "24") & (F.col("n_chars") > 200))
    )
    return r.select(_doc_id_long(), "text", "lang", "n_chars")


def q_source_write_roundtrip(spark, sf_dir: str):
    """Write the documents table through the ``upe_encoded`` SINK
    (Spark's commit protocol carrying the engine's manifest rows as task
    commit messages) and read it back through the same format.  A plain
    SELECT oracle certifies that the protocol-committed dataset is
    bit-identical to the source — the DataSource twin of
    ``encode_roundtrip``."""
    out = tempfile.mkdtemp(prefix="upes_dsw_")
    df = _documents(spark, sf_dir)
    load_or_build_plan(
        df,
        EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",), target_unit_bytes=1 << 20),
    )
    register(spark)
    df.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    dec = spark.read.format("upe_encoded").load(out)
    return dec.select(_doc_id_long(), "text", "lang", "source", "n_chars")


def q_source_stream_read(spark, sf_dir: str):
    """Two separate commits into an encoded dataset (an engine
    ``encode_job`` then a DataSource append), then the WHOLE history
    consumed through the ``upe_encoded`` STREAMING READER
    (``availableNow``) — each micro-batch lands in a parquet staging dir
    via ``foreachBatch``, and the returned DataFrame is the union of the
    emitted batches.  A plain SELECT oracle certifies that tailing the
    commit log reproduces the dataset exactly (no row lost, none
    duplicated across the offset intervals) — the stream-read twin of
    ``source_write_roundtrip``."""
    staging = tempfile.mkdtemp(prefix="upes_dsr_stage_")
    ck = tempfile.mkdtemp(prefix="upes_dsr_ck_")
    df = _documents(spark, sf_dir)
    out = _encode(
        spark, df.where("doc_id < '25'"), "upes_dsr_stream_", key_col="doc_id", size_cols=("text",)
    )
    register(spark)
    df.where("doc_id >= '25'").write.format("upe_encoded").option(
        "key_col", "doc_id"
    ).mode("append").save(out)

    q = (
        spark.readStream.format("upe_encoded")
        .load(out)
        .writeStream.foreachBatch(
            lambda bdf, bid: bdf.write.mode("append").parquet(staging)
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(staging)
    return got.select(_doc_id_long(), "text", "lang", "source", "n_chars")


def q_evolve_roundtrip(spark, sf_dir: str):
    """Two appends with DIFFERENT schemas — generation 1 keeps the base
    columns, generation 2 drops ``source`` and adds ``score`` — then a
    full decode through the evolved union schema.  The oracle is the
    equivalent UNION ALL with typed NULLs, so the driver's value hash
    certifies the null-padded evolution semantics end to end (meta-only
    union probe, per-chunk padding), not just that it runs."""
    out = tempfile.mkdtemp(prefix="upes_evo_")
    df = _documents(spark, sf_dir)
    load_or_build_plan(
        df,
        EncodeJobConfig(output_dir=out, key_col="doc_id", size_cols=("text",), target_unit_bytes=1 << 20),
    )
    register(spark)
    old = df.where("doc_id < '25'")
    new = (
        df.where("doc_id >= '25'")
        .drop("source")
        .withColumn("score", F.col("n_chars").cast("double") / 10.0)
    )
    old.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    new.write.format("upe_encoded").option("key_col", "doc_id").mode("append").save(out)
    dec = decode_dataset(spark, out)
    return dec.select(_doc_id_long(), "text", "lang", "source", "n_chars", "score")
