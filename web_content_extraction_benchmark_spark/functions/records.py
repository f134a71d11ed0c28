"""The one record kernel: every per-record Python map in the package.

`map_records` runs a plain Python function on each input row inside a
raw-Arrow ``mapInArrow``: the input columns arrive as Python values
(``to_pylist``; a map column as a list of ``(key, value)`` pairs), and
the function's output tuples go straight into Arrow arrays, with no
pandas frame on either side of the crossing.  Batching, output chunking
and the worker heap freeze live here once.

The extraction kernel (`plans.pipeline._page_kernel`) is one such
function; per-partition counts are a groupBy over a kernel's rows, not
rows the loop adds.  Kernels that need more than one row at a time keep
their own loops: the neural extractor (one matmul over a whole Arrow
batch) and the WARC/WET writers (one file and one manifest row per
partition).
"""

from __future__ import annotations

import gc
from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# output rows per Arrow batch: bounds a kernel's buffered output (a WARC
# file of many records streams out in batches of this many rows)
BATCH_ROWS = 256


_heap_frozen = False


def _freeze_worker_heap() -> None:
    """Take the Python worker's import heap out of the cyclic collector's
    view, once per worker process.  A kernel's per-record garbage is
    freed by reference counting (the DOM is acyclic), so every full
    collection would only rescan the long-lived objects the worker
    imported (tens of thousands); ``gc.freeze`` moves them to the
    permanent generation.  The collector stays enabled for whatever
    cycles a later task makes.  The once-check is a module flag:
    ``gc.get_freeze_count()`` walks the whole permanent generation, which
    cost milliseconds on every task of a reused worker."""
    global _heap_frozen
    if not _heap_frozen:
        _heap_frozen = True
        gc.collect()
        gc.freeze()


def _error_message(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"


def map_records(df: DataFrame, fn: Callable[..., Iterable[tuple]],
                schema: T.StructType) -> DataFrame:
    """``df`` with ``fn(*row)`` run on each row: ``fn`` takes the row's
    columns in ``df``'s order and returns (or yields) zero or more output
    tuples in ``schema``'s field order.  Output streams out in Arrow
    batches of `BATCH_ROWS` rows, so a generator ``fn`` that yields many
    rows per input row holds at most one batch of them."""

    def run(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        _freeze_worker_heap()
        arrow_schema = to_arrow_schema(schema)

        def to_batch(rows: list[tuple]):
            return pa.RecordBatch.from_arrays(
                [pa.array(col, type=field.type)
                 for col, field in zip(zip(*rows), arrow_schema)],
                schema=arrow_schema,
            )

        rows: list[tuple] = []
        for batch in batches:
            for row in zip(*(col.to_pylist() for col in batch.columns)):
                for out in fn(*row):
                    rows.append(out)
                    if len(rows) >= BATCH_ROWS:
                        yield to_batch(rows)
                        rows = []
        if rows:
            yield to_batch(rows)

    return df.mapInArrow(run, schema=schema)
