"""Arrow-native parquet aggregation: dictionary-code value counts.

The one shape where Spark's JVM scan measurably trails a vectorized
single-node engine is the low-cardinality GROUP BY count over a string
column (the facet — the reference's most-used operator,
reference ``utils/sql_utils.py:109-142``): Spark materializes every value
as a UTF8String row before the hash aggregate (~8M rows/s/core at 120M,
SCALING.md "Facet at 120M"), while DuckDB aggregates over parquet
DICTIONARY CODES (~27M rows/s/core).

This module does the same code-level aggregation, distributed: row groups
are enumerated driver-side from the footers (the same planning-time
metadata IO as ``operators/topk.py``), sprayed across the cluster as
(file, row_group) tasks, and each task counts one row group's column with
pyarrow — ``read_dictionary`` keeps parquet's dictionary encoding intact,
so ``pyarrow.compute.value_counts`` runs over int32 codes in C (measured
56M rows/s/core vs 27M for DuckDB's end-to-end rate on the same data).
The per-task output is a few (value, count) partials; one tiny groupBy
merges them. Python appears ONLY in the leaf scan via Arrow batches —
the classic Photon-style "replace the scan, keep the plan" move, with the
fixed ~0.1-0.15 s Python-stage bridge (measured, bench.py notes) amortized
by data volume: the path is gated to large stores.

100 TB: tasks = row groups (a 100 TB store has millions — full cluster
parallelism); per-task state is one row group's column; the merge moves
(cardinality x tasks) tiny rows. Skew-free by construction (row groups
are uniform). Falls back to the JVM aggregate whenever the column or
layout is not dictionary-friendly — correctness never depends on this
path.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _atomic_spark_type(df: DataFrame, column: str) -> Optional[str]:
    """DDL string of the column's type when it is an atomic type this
    aggregation supports, else None."""
    from pyspark.sql import types as T

    try:
        dt = df.schema[column].dataType
    except KeyError:
        return None
    ok = (
        T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
        T.DoubleType, T.FloatType, T.BooleanType, T.DateType,
    )
    return dt.simpleString() if isinstance(dt, ok) else None


#: footer-sweep cap, matching ``operators/topk.py`` — a store with more
#: files than this answers through the JVM aggregate instead of paying an
#: unbounded driver-side metadata scan
MAX_FOOTER_FILES = 4096


#: the measured JVM/Arrow crossover for single-column aggregation over a
#: parquet scan. The crossover is BOX-DEPENDENT (SCALING.md "Facet round
#: 6"): the Python-stage bridge cost and the JVM's string decode rate
#: both vary with the host — measured crossovers span ~260M rows (fast
#: Python workers: arrow 0.89 s vs JVM 1.32 s at 600M) to ~600M rows
#: (slow workers, round-6b re-measurement: arrow 1.6-3.4 s vs JVM 1.8 s
#: at 600M — a wash). The gate is the slowest measured crossover, so the
#: path only engages where every measured box wins; model-based
#: per-session calibration measured 20-25x off real stores (SCALING.md
#: "Round 7: Arrow gate calibration"). At 100 TB scale any gate is
#: satisfied.
ARROW_AGG_MIN_ROWS = 600_000_000


def parquet_row_groups(
    files: List[str], metas=None
) -> Tuple[List[Tuple[str, int]], int]:
    """((file, row_group_index) pairs, total_rows) for a parquet store —
    driver-side footer metadata only (same cost envelope as the zone-map
    sweep in ``operators/topk.py``). ``metas`` — optional preloaded
    ``[(file, FileMetaData)]`` (facets._footer_metas) so one query's
    routes share a single footer pass."""
    import pyarrow.parquet as pq

    preloaded = dict(metas) if metas else {}
    out = []
    total = 0
    for path in files:
        local = path[len("file:"):] if path.startswith("file:") else path
        md = preloaded.get(local)
        if md is None:
            md = pq.ParquetFile(local).metadata
        total += md.num_rows
        out.append((local, md.num_row_groups))
    return [(p, i) for p, n in out for i in range(n)], total


def parquet_value_counts(
    spark: SparkSession,
    df: DataFrame,
    column: str,
    n_tasks: Optional[int] = None,
    min_rows=0,
    footer_metas=None,
) -> Optional[DataFrame]:
    """Distributed value counts (value, count) for ``column`` of a PURE
    parquet scan ``df`` via Arrow dictionary-code aggregation.

    Returns None when the path does not apply (non-parquet plan, nested /
    unsupported column type, no input files, store below ``min_rows`` or
    above the footer-sweep cap) — callers fall back to the JVM
    ``groupBy().count()``. NULLs form a group, exactly like the SQL
    GROUP BY (``pyarrow.compute.value_counts`` emits a null value row).

    ``min_rows`` is the crossover gate: every Python-UDF-bearing stage
    pays a fixed scheduler/bridge constant (~0.15-0.4 s depending on box
    load — bench.py floor notes), so below a few hundred million rows
    the JVM hash aggregate wins on latency and routed callers pass
    :data:`ARROW_AGG_MIN_ROWS`.
    """
    ddl = _atomic_spark_type(df, column)
    if ddl is None:
        return None
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. a local-relation plan
        return None
    if (
        not files
        or len(files) > MAX_FOOTER_FILES
        or not all(f.endswith(".parquet") or ".parquet" in f for f in files)
    ):
        return None
    rgs, total_rows = parquet_row_groups(files, metas=footer_metas)
    if not rgs or total_rows < min_rows:
        return None
    if n_tasks is None:
        n_tasks = int(spark.sparkContext.defaultParallelism)
    tasks = spark.createDataFrame(
        [(p, i) for p, i in rgs], "path string, rg int"
    ).repartition(min(len(rgs), n_tasks))

    col = column

    def _count(batches):
        import pandas as pd
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # one open per FILE, not per row group: ParquetFile re-parses the
        # whole footer (hundreds of row-group entries on big files), which
        # measurably dominates the per-row-group read when repeated
        handles = {}
        for pdf in batches:
            values, counts = [], []
            for path, rg in zip(pdf["path"], pdf["rg"]):
                f = handles.get(path)
                if f is None:
                    f = handles[path] = pq.ParquetFile(path, read_dictionary=[col])
                tbl = f.read_row_group(int(rg), columns=[col], use_threads=False)
                vc = pc.value_counts(tbl.column(0).combine_chunks())
                values.extend(vc.field("values").to_pylist())
                counts.extend(vc.field("counts").to_pylist())
            yield pd.DataFrame({"value": values, "cnt": counts})

    partials = tasks.mapInPandas(_count, f"value {ddl}, cnt long")
    return partials.groupBy("value").agg(F.sum("cnt").alias("count"))


def parquet_predicate_count(
    spark: SparkSession,
    df: DataFrame,
    column: str,
    values: list,
    n_tasks: Optional[int] = None,
    min_rows: Optional[int] = None,
    footer_metas=None,
) -> Optional[int]:
    """COUNT of rows where ``column`` equals any of ``values``, computed by
    Arrow dictionary-code aggregation over the parquet row groups — the
    equality/IN companion to :func:`parquet_value_counts` for counts the
    zone maps cannot decide (an interior value like ``flag = 'R'`` appears
    in every row group, so footer min/max never prune it; the per-CODE
    count still runs ~7x Spark's UTF8String decode+compare rate).

    Each task emits ONE partial count (``pc.value_counts`` over the row
    group — 170M rows/s/core measured on dictionary columns — then a tiny
    mask over the distinct values), so the merge moves one long per task
    regardless of column cardinality. Returns None whenever the path does
    not apply and the caller must run the JVM plan: non-parquet scan,
    store under ``min_rows`` (default :data:`ARROW_AGG_MIN_ROWS`) / over
    the footer cap, unsupported or
    float column (float equality also risks NaN, which Spark orders but
    IEEE comparisons drop), or literal types that do not match the column
    (Spark would cast — mirroring cast domains is the zone path's job).
    NULLs never match an equality/IN predicate on either engine.
    """
    from pyspark.sql import types as T

    try:
        dt = df.schema[column].dataType
    except KeyError:
        return None
    int_types = (T.IntegerType, T.LongType, T.ShortType, T.ByteType)
    if isinstance(dt, T.StringType):
        ok = lambda v: isinstance(v, str)  # noqa: E731
    elif isinstance(dt, int_types):
        ok = lambda v: isinstance(v, int) and not isinstance(v, bool)  # noqa: E731
    elif isinstance(dt, T.BooleanType):
        ok = lambda v: isinstance(v, bool)  # noqa: E731
    else:
        return None
    if not values or not all(ok(v) for v in values):
        return None
    if min_rows is None:
        min_rows = ARROW_AGG_MIN_ROWS
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    if (
        not files
        or len(files) > MAX_FOOTER_FILES
        or not all(f.endswith(".parquet") or ".parquet" in f for f in files)
    ):
        return None
    rgs, total_rows = parquet_row_groups(files, metas=footer_metas)
    if not rgs or total_rows < min_rows:
        return None
    if n_tasks is None:
        n_tasks = int(spark.sparkContext.defaultParallelism)
    tasks = spark.createDataFrame(
        [(p, i) for p, i in rgs], "path string, rg int"
    ).repartition(min(len(rgs), n_tasks))

    col = column
    vals = list(values)

    def _count(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        value_set = pa.array(vals)
        handles = {}
        for pdf in batches:
            n = 0
            for path, rg in zip(pdf["path"], pdf["rg"]):
                f = handles.get(path)
                if f is None:
                    f = handles[path] = pq.ParquetFile(path, read_dictionary=[col])
                tbl = f.read_row_group(int(rg), columns=[col], use_threads=False)
                vc = pc.value_counts(tbl.column(0).combine_chunks())
                # the mask runs over the DISTINCT values (dictionary-sized,
                # not row-group-sized); is_in yields False for the null row
                m = pc.is_in(vc.field("values"), value_set=value_set)
                sel = pc.sum(pc.if_else(m, vc.field("counts"), pa.scalar(0, pa.int64())))
                n += sel.as_py() or 0
            yield pd.DataFrame({"cnt": [n]})

    partials = tasks.mapInPandas(_count, "cnt long")
    total = partials.agg(F.sum("cnt").alias("n")).collect()[0]["n"]
    return int(total or 0)


def ab_winner(
    spark: SparkSession, files, column: str, total_rows: Optional[int] = None
) -> str:
    """The route a call over the parquet store ``files`` takes, read from
    the same static gates the routers apply: ``"arrow"`` when the
    driver-local tier (``column`` a ``localexec.local_tier_column``
    pseudo-column naming the shape class) or the Arrow dictionary-code
    aggregate (a real column, :data:`ARROW_AGG_MIN_ROWS` gate) serves it,
    else ``"jvm"``. The local-tier report honours
    ``SPARK_GRAFT_LOCAL_TIER=0`` and reads the footers for the byte
    total; ``total_rows`` spares the aggregate report its footer read.
    ``spark`` is unused; the signature is kept for callers that report
    routes."""
    import pyarrow.parquet as pq

    from linkml_store_spark.operators import localexec as lx

    if not files or len(files) > MAX_FOOTER_FILES:
        return "jvm"
    if column.startswith(lx.LOCAL_TIER_COLUMN):
        paths = (f[len("file:"):] if f.startswith("file:") else f for f in files)
        rows, nbytes = lx.footer_totals(
            [(p, pq.ParquetFile(p).metadata) for p in paths]
        )
        kind = column[len(lx.LOCAL_TIER_COLUMN):]
        return "arrow" if lx.local_tier_admits(kind, rows, nbytes) else "jvm"
    if total_rows is None:
        total_rows = parquet_row_groups(files)[1]
    return "arrow" if total_rows >= ARROW_AGG_MIN_ROWS else "jvm"
