"""Canonical loaders for the benchmark/test parquet tables.

The driver's testdata (``/root/testdata/sf*/``) is a TPC-H-ish set of ten
tables plus LLM-pipeline extras (documents, embeddings, events). One quirk
needs central handling: ``events.ts`` is written as parquet TIMESTAMP(NANOS),
which Spark cannot read natively (SPARK-40819) — with
``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py) it scans as
BIGINT nanoseconds. ``load_table`` converts it back to a proper
``TimestampType`` so every downstream operator (windows, watermarks,
date_trunc) sees real event time.

The conversion uses integer division (``div``), not float division: epoch
nanoseconds (~1.7e18) exceed double's 53-bit mantissa, so a float path would
corrupt microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: columns stored as TIMESTAMP(NANOS) in parquet, scanned as long nanoseconds
_NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def ts_from_nanos(col: str) -> F.Column:
    """BIGINT epoch-nanoseconds -> TimestampType (microsecond precision).

    ``div`` keeps the arithmetic in 64-bit integers; ``/`` would promote to
    double and lose sub-millisecond precision at 2024-era epochs.
    """
    return F.timestamp_micros(F.expr(f"`{col}` div 1000"))


def normalize_timestamps(df: DataFrame, table: str) -> DataFrame:
    """Normalize event-time columns to plain ``TimestampType``.

    Two parquet encodings occur in the wild for the same logical column:

    - TIMESTAMP(NANOS) → scans as BIGINT under ``nanosAsLong`` → integer-div
      to micros (known columns per table only, since any BIGINT could be one);
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → scans as ``TIMESTAMP_NTZ``
      when the reader session has ``inferTimestampNTZ`` on → cast to
      ``TimestampType``, lossless under the forced-UTC session and applied to
      EVERY NTZ column (the cast is the identity on wall-clock values).
      Without this, ``withWatermark`` and epoch ``cast("double")`` math
      reject the column outright.
    """
    for c in _NANOS_TS_COLS.get(table, []):
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, ts_from_nanos(c))
    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz:
        df = df.select(
            *[
                F.col(c).cast(T.TimestampType()).alias(c) if c in ntz else F.col(c)
                for c in df.columns
            ]
        )
    return df


def _ensure_session_confs(spark: SparkSession) -> None:
    """Confs a foreign session (e.g. the round driver's) may lack.

    Without ``nanosAsLong`` Spark refuses TIMESTAMP(NANOS) parquet outright
    ([PARQUET_TYPE_ILLEGAL]); both are runtime-settable. UTC keeps
    ``date_trunc``/``window`` wall-clock identical to DuckDB's naive
    timestamps regardless of the host timezone.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        # naive micros parquet should scan as TIMESTAMP, not TIMESTAMP_NTZ
        # (see normalize_timestamps; a foreign session may have NTZ inference
        # on, and this conf is runtime-settable)
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    _ensure_workers_can_import(spark)


#: file-name prefix of the package zip shipped to Python workers
_DIST_PREFIX = "linkml_store_spark_dist-"


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (idempotent).

    A foreign session (the round driver's, a notebook's) won't have the
    repo on the workers' PYTHONPATH; pandas UDFs that reference
    module-level functions (enrichment's log-gamma kernel, multimodal's
    featurizers) pickle BY REFERENCE and need ``import linkml_store_spark``
    to succeed on the worker. ``addPyFile`` with a zip of the package is
    the standard Spark mechanism — it reaches every current and future
    executor, unlike env vars which are fixed at JVM start. (Closures
    pickle by value and never hit this; the guard costs one zip per
    source tree.) The worker puts the zip ahead of its PYTHONPATH, so the zip
    must hold the driver's sources: ``_package_zip`` names it by their
    digest.
    """
    import os

    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    if any(p.startswith(_DIST_PREFIX) for p in sc._python_includes):
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = _package_zip(pkg_dir)
    try:
        sc.addPyFile(zip_path)
    except Py4JJavaError as ex:
        import warnings

        warnings.warn(
            f"could not ship {zip_path} to the Python workers; pandas UDFs "
            f"that import linkml_store_spark may fail there: {ex}",
            RuntimeWarning,
            stacklevel=3,
        )



def _package_zip(pkg_dir: str) -> str:
    """Zip of the ``.py`` sources under ``pkg_dir`` (the package directory)
    in the temp directory, named by a digest of their paths and contents.

    A changed tree gets a new name and so a fresh zip; a zip of the same
    tree is reused. Written under a per-process temporary name and renamed
    into place, so concurrent writers never expose a partial file.
    """
    import hashlib
    import os
    import tempfile
    import zipfile

    sources = []
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join(
                    "linkml_store_spark", os.path.relpath(full, pkg_dir)
                )
                with open(full, "rb") as fh:
                    sources.append((rel, fh.read()))
    digest = hashlib.sha256()
    for rel, data in sources:
        digest.update(f"{rel}\0{len(data)}\0".encode())
        digest.update(data)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{_DIST_PREFIX}{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, data in sources:
                zf.writestr(rel, data)
        os.replace(tmp, zip_path)
    return zip_path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one benchmark table with normalized column types."""
    _ensure_session_confs(spark)
    return normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"), name)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` access."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
