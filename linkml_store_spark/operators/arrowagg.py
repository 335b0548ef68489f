"""Route reports for callers that name the tier a store's calls take.

Facets and counts run one backend query per call, as the reference does
(``utils/sql_utils.py:109-142``): the driver-local Arrow tier
(``operators/localexec.py``) when the store's footers pass its static
gate, else the Spark plan. :func:`ab_winner` reads that same gate, so a
harness can report a route without running the call.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession


def ab_winner(
    spark: SparkSession, files, column: str, total_rows: Optional[int] = None
) -> str:
    """The route a call over the parquet store ``files`` takes, read from
    the local tier's static gate: ``"arrow"`` when the driver-local tier
    serves it, else ``"jvm"``. ``column`` is a
    ``localexec.local_tier_column`` pseudo-column naming the shape class;
    a real column reports ``"jvm"``. The report honours
    ``SPARK_GRAFT_LOCAL_TIER=0`` and reads the footers for the row and
    byte totals. ``spark`` and ``total_rows`` are unused; the signature
    is kept for callers that report routes."""
    import pyarrow.parquet as pq

    from linkml_store_spark.operators import localexec as lx
    from linkml_store_spark.operators.topk import _MAX_SWEEP_FILES

    if (
        not files
        or len(files) > _MAX_SWEEP_FILES
        or not column.startswith(lx.LOCAL_TIER_COLUMN)
    ):
        return "jvm"
    paths = (f[len("file:"):] if f.startswith("file:") else f for f in files)
    rows, nbytes = lx.footer_totals(
        [(p, pq.ParquetFile(p).metadata) for p in paths]
    )
    kind = column[len(lx.LOCAL_TIER_COLUMN):]
    return "arrow" if lx.local_tier_admits(kind, rows, nbytes) else "jvm"
