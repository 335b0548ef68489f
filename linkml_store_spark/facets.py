"""Facet engine: per-column value counts with Solr-style multi-select semantics.

Reference semantics (``src/linkml_store/api/collection.py:400-423``,
``utils/sql_utils.py:109-142``, mongo pipeline
``mongodb_collection.py:182-264``):

  * for each facet column: count of rows per distinct value, descending by
    count, capped at ``facet_limit`` (default 100);
  * the facet column's OWN condition is excluded from the WHERE before
    counting (multi-select faceting) — done here on the structured clause,
    not by string hacking;
  * multivalued (array) columns are exploded first (UNNEST/$unwind);
  * compound facets (tuple of columns) group by all of them;
  * ``facet_min_count`` filters low-count buckets (Solr facet.mincount).

Scale note: each facet is an independent partial-aggregate (map-side combine)
+ tiny shuffle of distinct values; at 100 TB per-facet cost is one pass over
the (pruned) scan. When many facets share the same WHERE, callers can
``.persist()`` the filtered DataFrame; for few low-cardinality columns a
single grouping-sets pass is possible — kept simple here because distinct
WHEREs per facet (the exclusion rewrite) defeat sharing in the general case.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linkml_store_spark.where import (
    WhereClause,
    apply_where,
    exclude_column,
    path_col,
    quote_ident,
    referenced_paths,
    under,
)

FacetKey = Union[str, Tuple[str, ...]]

DEFAULT_FACET_LIMIT = 100


def _scan_zones(df: DataFrame):
    """``col -> operators/topk.column_zones`` over the footers of a bare
    parquet scan's input files, read ONCE here and shared by every column
    of the call; every column gets None when the files are beyond the
    sweep cap or a footer read fails."""
    from pyarrow import ArrowException

    from linkml_store_spark.operators.topk import _footer_metas, column_zones

    try:
        metas = _footer_metas([
            f[len("file:"):] if f.startswith("file:") else f
            for f in df.inputFiles()
        ])
    except (ArrowException, OSError):
        metas = None  # stats are an optimization only
    return lambda column: column_zones(metas, column)


def facet_zone_decision(fdf: DataFrame, column: str, zones):
    """``operators/topk.facet_decision`` for ``column`` of a bare parquet
    scan over the zone records ``zones(column)``, or None when the
    column is neither string nor integral or the footers refuse."""
    from pyarrow import ArrowException

    from linkml_store_spark.operators.topk import facet_decision

    try:
        dt = fdf.schema[column].dataType
    except KeyError:
        return None  # not a top-level column: the scan routes report it
    if isinstance(dt, T.StringType):
        is_string = True
    elif isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        is_string = False
    else:
        return None
    try:
        return facet_decision(zones(column), is_string)
    except (ArrowException, ValueError):
        return None  # stats are an optimization only


def _zone_facet_frame(fdf: DataFrame, column: str, decision) -> Optional[DataFrame]:
    """Materialize a :func:`facet_zone_decision` as a ``(column, count)``
    DataFrame, or None when the SQL inlining refuses (caller falls
    through to the plain scan routes).

    Decided values are inlined as a VALUES list -> a pure-JVM
    LocalRelation. NOT createDataFrame: that parallelizes even 3 rows
    across defaultParallelism PYTHON partitions, and any downstream
    single-task stage then pays one sequential python-runner round-trip
    PER parent partition (measured 5 s for a 3-row facet on 32 cores).

    Escaping: Spark SQL string literals treat backslash as an escape
    (ANTLR ``('\\\\' .)`` alternative), so backslashes are doubled BEFORE
    quote-doubling — without it ``C:\\Users`` silently facets as
    ``C:Users`` and a trailing backslash swallows the closing quote
    (ParseException). Backticks in the column identifier are doubled the
    same way. Any residual parse/analysis failure degrades to None
    instead of raising — the zone route is an optimization, never a new
    failure mode the scan path didn't have.
    """
    from pyspark.errors import PySparkException

    rows, undecided = decision.answer, decision.undecided
    spark = fdf.sparkSession
    vt = fdf.schema[column].dataType.simpleString()
    try:
        parts = []
        if rows:
            def _lit(v):
                if v is None:
                    return f"CAST(NULL AS {vt})"
                if isinstance(v, str):
                    return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
                return str(v)

            ident = column.replace("`", "``")
            vals = ",".join(f"({_lit(v)}, {int(c)})" for v, c in rows)
            parts.append(spark.sql(
                f"SELECT CAST(col AS {vt}) AS `{ident}`, "
                f"CAST(cnt AS BIGINT) AS count "
                f"FROM (VALUES {vals}) AS t(col, cnt)"
            ))
        if undecided:
            # range-clustering leaves BOUNDARY files mixed — scan just
            # those and merge with the metadata counts
            parts.append(
                spark.read.parquet(*undecided)
                .groupBy(quote_ident(column))
                .agg(F.count(F.lit(1)).alias("count"))
            )
        adf = parts[0]
        for p in parts[1:]:
            adf = adf.unionByName(p)
        if len(parts) > 1:
            adf = adf.groupBy(quote_ident(column)).agg(
                F.sum("count").alias("count")
            )
        return adf
    except PySparkException:  # zone route is an optimization only
        return None


def _finish_facet_single(
    adf: DataFrame, column: str, facet_limit: int, facet_min_count: int
) -> DataFrame:
    """Shared ordering/limit tail for single-column facet frames: count
    desc, value asc (NULL first among ties — Spark asc default)."""
    if facet_min_count > 1:
        adf = adf.filter(F.col("count") >= facet_min_count)
    order = [F.desc("count"), F.asc(quote_ident(column))]
    if facet_limit and facet_limit > 0:
        return adf.orderBy(*order).limit(facet_limit)
    return adf.orderBy(*order)


def _bare_parquet_scan(df: DataFrame) -> bool:
    """True when ``df``'s analyzed plan is a single relation node (no
    Filter/Project/Join above the scan) — the only shape where raw-file
    value counts equal the DataFrame's group-by."""
    from py4j.protocol import Py4JError

    try:
        s = df._jdf.queryExecution().analyzed().toString()
    except (AttributeError, Py4JError):  # non-JVM-backed test doubles
        return False
    lines = [ln for ln in s.strip().splitlines() if ln.strip()]
    return len(lines) == 1 and lines[0].startswith("Relation")


def _is_array_col(df: DataFrame, name: str) -> bool:
    """Array detection for plain AND dotted paths: ``history.event`` through
    an array<struct> column is array-valued (the reference $unwind-chains
    dotted facet paths, mongodb_collection.py:227-246)."""
    from linkml_store_spark.where import _field_type

    if "." in name or "[" in name:
        t = _field_type(df.schema, name)
        return isinstance(t, T.ArrayType)
    try:
        return isinstance(df.schema[name].dataType, T.ArrayType)
    except KeyError:
        return False


def facet_df(
    df: DataFrame,
    where: WhereClause,
    column: FacetKey,
    facet_limit: int = DEFAULT_FACET_LIMIT,
    facet_min_count: int = 1,
    zones=None,
) -> DataFrame:
    """Build the lazy facet DataFrame for one column (or column tuple).

    Output columns: the facet column(s) plus ``count`` (bigint), ordered by
    count desc then value(s) asc for determinism.

    An unfiltered single-column facet over a bare parquet scan first asks
    the footers (:func:`facet_zone_decision`): on a clustered store the
    counts are driver metadata plus a scan of any undecided files. Every
    other facet is one JVM hash aggregate. ``zones`` — ``col ->
    operators/topk.column_zones`` of ``df``'s files, when the caller holds
    them; else the footers are read here.
    """
    cols = [column] if isinstance(column, str) else list(column)
    w = where
    for c in cols:
        w = exclude_column(w, c)
    fdf = apply_where(df, w)
    if (
        isinstance(column, str)
        and "." not in column
        and w in (None, {}, [])
        and not _is_array_col(fdf, column)
        and _bare_parquet_scan(fdf)
    ):
        d = facet_zone_decision(fdf, column, zones or _scan_zones(fdf))
        if d is not None and d.answer:
            adf = _zone_facet_frame(fdf, column, d)
            if adf is not None:
                return _finish_facet_single(
                    adf, column, facet_limit, facet_min_count
                )
    sel = []
    out_names = []
    for c in cols:
        out = c.replace(".", "_") if "." in c else c
        out_names.append(out)
        if _is_array_col(fdf, c):
            sel.append(F.explode_outer(path_col(c)).alias(out))
        else:
            sel.append(path_col(c).alias(out))
    gdf = (
        fdf.select(*sel)
        .groupBy(*[quote_ident(n) for n in out_names])
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if facet_min_count > 1:
        gdf = gdf.filter(F.col("count") >= facet_min_count)
    order = [F.desc("count")] + [F.asc(quote_ident(n)) for n in out_names]
    if facet_limit and facet_limit > 0:
        gdf = gdf.orderBy(*order).limit(facet_limit)
    else:
        gdf = gdf.orderBy(*order)
    return gdf


def _one_pass_eligible(
    df: DataFrame, where: WhereClause, facet_columns: Sequence[FacetKey]
) -> bool:
    """The grouping-sets fast path applies when every facet is a scalar
    top-level column and the WHERE reads none of them (so the per-facet
    exclusion rewrite is a no-op for all of them); a raw-SQL clause can't
    be analyzed for exclusion and stays per-column."""
    if len(facet_columns) < 2:
        return False
    paths = referenced_paths(where)
    if paths is None:
        return False
    for c in facet_columns:
        if not isinstance(c, str) or "." in c or _is_array_col(df, c):
            return False
        if any(under(p, c) for p in paths):
            return False
    return True


def query_facets_one_pass(
    df: DataFrame,
    where: WhereClause,
    facet_columns: Sequence[str],
    facet_limit: int = DEFAULT_FACET_LIMIT,
    facet_min_count: int = 1,
) -> Dict[FacetKey, List[Tuple]]:
    """All single-column facets in ONE scan via GROUPING SETS.

    The per-column path scans the (filtered) table once per facet; at 100 TB
    N facets = N full scans. Grouping sets compute every per-column count in
    a single pass; ``grouping_id`` tells which set a row belongs to (and
    keeps genuine NULL facet values distinct from aggregated-away columns).
    Per-set top-k is a window over the tiny aggregate, not the input.
    """
    from pyspark.sql.window import Window

    fdf = apply_where(df, where)
    # quote_ident: these string forms are PARSED as identifiers — a column
    # named a`b raises unquoted (same fix as facet_df, round 7)
    sets = [[quote_ident(c)] for c in facet_columns]
    agg = fdf.groupingSets(
        sets, *[quote_ident(c) for c in facet_columns]
    ).agg(
        F.count(F.lit(1)).alias("count"), F.grouping_id().alias("__gid")
    )
    if facet_min_count > 1:
        agg = agg.filter(F.col("count") >= facet_min_count)
    # gid bitmask: bit j set => column j aggregated away; set [cj] has all
    # bits set EXCEPT j
    n = len(facet_columns)
    full_mask = (1 << n) - 1
    # tie order within a set: value asc, nulls first (within one gid every
    # non-member column is NULL, so this effectively sorts by the member
    # column) — matches the per-column path and keeps facet_limit=1
    # (mode/top) deterministic
    w = Window.partitionBy("__gid").orderBy(
        F.desc("count"),
        *[F.asc_nulls_first(quote_ident(c)) for c in facet_columns],
    )
    if facet_limit and facet_limit > 0:
        agg = agg.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= facet_limit
        )
    rows = agg.collect()
    results: Dict[FacetKey, List[Tuple]] = {c: [] for c in facet_columns}
    for r in rows:
        gid = r["__gid"]
        j = None
        for i in range(n):
            if gid == full_mask ^ (1 << (n - 1 - i)):
                j = i
                break
        if j is None:
            continue
        c = facet_columns[j]
        results[c].append((r[c], r["count"]))
    for c in facet_columns:
        # tie order matches the per-column path: count desc, value asc with
        # nulls first (Spark ASC default)
        results[c].sort(key=lambda vc: (-vc[1], vc[0] is not None, str(vc[0])))
        if facet_limit and facet_limit > 0:
            results[c] = results[c][:facet_limit]
    return results


def query_facets(
    df: DataFrame,
    where: WhereClause = None,
    facet_columns: Optional[Sequence[FacetKey]] = None,
    facet_limit: int = DEFAULT_FACET_LIMIT,
    facet_min_count: int = 1,
    one_pass: Optional[bool] = None,
    zones=None,
) -> Dict[FacetKey, List[Tuple]]:
    """Compute facet counts for each requested column.

    Returns ``{column: [(value, count), ...]}``; compound facets yield
    ``[((v1, v2, ...), count), ...]`` (reference ``collection.py:400-423``).
    Defaults to all top-level columns when none given
    (``duckdb_collection.py:103-106``).

    ``one_pass=None`` auto-selects the grouping-sets single-scan path when
    the semantics allow (scalar columns, no exclusion interplay).

    ``zones`` — ``col -> operators/topk.column_zones`` of ``df``'s files
    (a Collection passes its store version's records); without it the
    footers are read once per call.
    """
    if facet_columns is None:
        facet_columns = list(df.columns)
    results: Dict[FacetKey, List[Tuple]] = {}
    remaining = list(facet_columns)
    # Route 0 (round 6): unfiltered facets over a bare parquet scan try the
    # footer zone facet per column FIRST — on a clustered store the cluster
    # column needs no scan at all (driver metadata, see facets.facet_df /
    # operators/topk.facet_decision), and only the undecided columns
    # proceed to the one-pass GROUPING SETS scan. Tie order matches the
    # scan paths exactly: count desc, then value asc with NULL first.
    if where in (None, {}, []) and _bare_parquet_scan(df):
        # one footer pass for the whole call, shared across columns
        # (ADVICE r6: per-column re-reads were O(columns x files) serial
        # driver IO; the partial branch below also reuses the decision
        # instead of re-sweeping inside facet_df)
        zones = zones or _scan_zones(df)
        still = []
        for column in remaining:
            d = None
            if (
                isinstance(column, str)
                and "." not in column
                and not _is_array_col(df, column)
            ):
                d = facet_zone_decision(df, column, zones)
            if d is not None and d.answer and not d.undecided:
                # fully footer-decided: answer in the driver, no job at all.
                # NULL sorts first among count ties (Spark asc default);
                # the third key is only ever compared within one column's
                # same-type non-null values (the None row differs on key 2)
                rows = sorted(
                    d.answer,
                    key=lambda t: (
                        -t[1], t[0] is not None,
                        t[0] if t[0] is not None else 0,
                    ),
                )
                if facet_min_count > 1:
                    rows = [t for t in rows if t[1] >= facet_min_count]
                if facet_limit and facet_limit > 0:
                    rows = rows[:facet_limit]
                results[column] = [(v, int(c)) for v, c in rows]
            elif d is not None and d.answer:
                # partially decided (range-boundary files): merge the
                # ALREADY-COMPUTED metadata counts with a scan of just the
                # undecided files — no second footer sweep
                adf = _zone_facet_frame(df, column, d)
                if adf is None:  # SQL inlining refused: plain scan facet
                    gdf = facet_df(
                        df, where, column, facet_limit, facet_min_count,
                        zones=zones,
                    )
                else:
                    gdf = _finish_facet_single(
                        adf, column, facet_limit, facet_min_count
                    )
                results[column] = [(r[0], r[-1]) for r in gdf.collect()]
            else:
                still.append(column)
        remaining = still
        if not remaining:
            return results
    if one_pass is None:
        one_pass = _one_pass_eligible(df, where, remaining)
    if one_pass:
        results.update(
            query_facets_one_pass(
                df, where, list(remaining), facet_limit, facet_min_count
            )
        )
        return results
    for column in remaining:
        gdf = facet_df(
            df, where, column, facet_limit, facet_min_count, zones=zones,
        )
        rows = gdf.collect()
        if isinstance(column, str):
            results[column] = [(r[0], r[-1]) for r in rows]
        else:
            results[column] = [(tuple(r[:-1]), r[-1]) for r in rows]
    return results
