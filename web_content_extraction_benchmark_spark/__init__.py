"""PySpark-native web main-content extraction & evaluation engine.

A from-scratch, Spark-first re-expression of the query / data-processing
capabilities of chatnoir-eu/web-content-extraction-benchmark (SIGIR 2023
reproducibility study).  The reference is a single-machine multiprocessing
harness (see /root/reference/src/extraction_benchmark/extract.py:139-157);
this engine re-states every stage as DataFrame plans + Arrow-batched pandas
UDFs so Catalyst/Tungsten handle planning, shuffles, and codegen.

Layout
------
- ``dom``          lightweight stdlib-based HTML DOM (no lxml/bs4 in sandbox)
- ``encoding``     bytes -> str decode (BOM/meta sniff, gzip, fallbacks)
- ``textutils``    shared tokenizers / whitespace rules
- ``extractors``   from-scratch per-document extraction algorithms (pure fns)
- ``functions``    scoring kernels + pandas-UDF wrappers
- ``operators``    relational / dedup / similarity / text-analysis DataFrame ops
- ``sources``      pages-table synthesis, JSONL IO, snapshot log (resume)
- ``plans``        end-to-end pipelines (extract -> score -> aggregate), lineage
- ``streaming``    Structured Streaming surfaces (event rollups)
- ``_zipcache``    installed on import: Spark's Python workers stop
                   re-reading ``pyspark.zip``'s directory on every task
"""

from . import _zipcache

_zipcache.install()

__version__ = "0.1.0"

EXTRACTOR_VERSION = __version__
