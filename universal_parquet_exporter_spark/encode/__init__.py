"""Encode pipeline: Arrow column chunks → codec containers → Spark sink.

Layers:

- :mod:`.chunk` — per-column encode/decode of Arrow arrays with the
  cost-model auto-selector (SURVEY.md §2C);
- :mod:`.container` — (de)serialization of encoded chunks to a binary
  payload + JSON meta;
- :mod:`.meta` — the dataset's files: payload storage, the manifest
  pointer, the commit every write shares, and the one cached reader of
  the committed manifest and lineage;
- :mod:`.stats` — the zone-map format: per-chunk statistics, their
  domain conversions, the pruning verdict and metadata-only column
  statistics;
- :mod:`.pipeline` — the distributed encode job: size-aware partition
  planning, map-side encode, commit and checkpointed resume;
- :mod:`.scan` — the scan planner both read paths run, and the decode
  (read-back) path;
- :mod:`.maintenance` — vacuum sweep for dead payload files and orphan
  manifest rows (the Iceberg ``remove_orphan_files`` analog);
- :mod:`.compaction` — rewrite fragmented units into full-size chunks
  (the Iceberg ``rewrite_data_files`` analog).
"""

from .chunk import decode_array, encode_array
from .compaction import compact
from .container import deserialize_chunk, serialize_chunk
from .maintenance import vacuum
from .pipeline import EncodeJobConfig, encode_job, encode_parquet_job
from .scan import decode_dataset
from .stats import dataset_column_stats

__all__ = [
    "encode_array",
    "decode_array",
    "serialize_chunk",
    "deserialize_chunk",
    "EncodeJobConfig",
    "encode_job",
    "encode_parquet_job",
    "decode_dataset",
    "dataset_column_stats",
    "vacuum",
    "compact",
]
