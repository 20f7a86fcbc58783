"""universal_parquet_exporter_spark — a PySpark-native columnar analytics +
lightweight-compression engine.

Brand-new engine with the query/data-processing capabilities of the
reference ``kanshuYokooSeiwa/universal-parquet-exporter`` (see SURVEY.md),
re-expressed Spark-first:

- relational surface (reference ``src/query/query_executor.py:20`` SQL
  pass-through corpus) → pyspark.sql DataFrame / Catalyst built-ins
  (:mod:`.operators.relational`);
- the export/encode path (reference ``src/export/parquet_writer.py:14-17``)
  → a per-column lightweight-compression engine (dict / RLE / bit-pack /
  frame-of-reference / FSST with a cost-model auto-selector) running inside
  vectorized Arrow UDFs (:mod:`.codecs`, :mod:`.encode`);
- plus web-scale training-data operators (dedup, similarity search, text
  analysis, multimodal plumbing) in :mod:`.operators`.

No code is ported from the reference; it is cited in docstrings only to
establish behavioral parity.
"""

import os as _os
import sys as _sys

# must be set before pyarrow is first imported: jemalloc (pyarrow's
# default pool) re-mmaps every large buffer, which dominates runtime on
# fault-expensive kernels
if "pyarrow" not in _sys.modules:
    _os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

from . import memtune as _memtune

_memtune.cache_zip_directories()

__version__ = "0.1.0"
