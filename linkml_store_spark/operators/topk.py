"""Footer zone maps over parquet: one reader turns a column's row-group
statistics into zone records, and short decisions over those records
answer range counts, ``$in`` counts, facet counts and top-k thresholds
from metadata, leaving only the files they cannot decide to a scan.

**The reader.** :func:`column_zones` walks every file and row group of
one column once and keeps, per row group, a :class:`Zone`: the stored
(min, max), the non-null and total row counts, and the trust flags that
say which decisions may use them:

  * ``exact`` — an exact-typed numeric chunk (INT32/INT64/FLOAT/DOUBLE/
    BOOLEAN) with min/max and a null count, and no NaN in min/max (see
    :func:`column_zones` on NaN);
  * ``ascii`` — a string chunk whose stored min/max are pure ASCII, with a
    null count. Writers may truncate string stats, but only outward, and
    legacy writers ordered them by signed bytes, which agrees with code-
    point order only on ASCII;
  * ``all_null`` — every row is null (min/max may be absent then);
  * a file without the column refuses the whole store (``None``): a scan
    of a subset of files might not resolve the column that the
    whole-store scan resolves.

A Collection keeps the records per store version (``("zones", col)`` in
``Collection._version``), so each column's footers are walked once per
version whatever decisions read them.

**The decisions** return a :class:`Decision` — the metadata answer, the
units (files; row groups for top-k) left for the scan, and the unit
count — or None when the footers refuse:

  * :func:`range_decision` — ``lo <= col <= hi`` counts, exact numeric
    stats only;
  * :func:`value_decision` — ``col IN values`` counts over strings and
    ints, sound under truncation;
  * :func:`facet_decision` — per-value counts of collapsed row groups;
  * :func:`topk_decision` — the provably-safe top-k threshold τ:

      - **one-per-group bound** — the k-th largest row-group MAX is <= the
        k-th largest value overall (each of those k groups contributes at
        least one value, its max, that is >= the threshold);
      - **min-mass bound** — sort groups by MIN descending and accumulate
        row counts until >= k: every one of those >= k rows is >= that
        group's min, so the k-th largest value is >= it too.

    τ is the larger of the two; string keys use only the min-mass bound,
    which truncation can only loosen. ``col >= τ`` then reaches the scan as
    a PushedFilter, so row groups whose max < τ are never read.

:attr:`Decision.decided_nothing` — footers were read but no unit was
decided — is the unclustered-layout signature the Collection's
clustering advisor counts.

The public entry points over a store path (:func:`topk_stats_pruned`,
:func:`stats_filtered_count`, :func:`zone_value_count`) read the footers
on each call. Footer reads are planning-time work on the DRIVER: one
metadata fetch per file (no data IO), refused above
:data:`_MAX_SWEEP_FILES`.

Reference parity: the reference's find+sort and count surfaces
(src/linkml_store/api/collection.py) have no statistics pruning —
north-star scale extension.
"""

from __future__ import annotations

from typing import Any, Callable, List, NamedTuple, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: parquet physical types whose min/max statistics are exact (strings /
#: byte arrays may be truncated by writers — unsafe to prune on)
_SAFE_PHYSICAL = {"INT32", "INT64", "FLOAT", "DOUBLE", "BOOLEAN"}

#: driver-side footer sweeps are SEQUENTIAL — on a store with tens of
#: thousands of files the distributed scan a 1000-executor cluster runs
#: in parallel is the better plan, so every sweep refuses above this cap
_MAX_SWEEP_FILES = 4096


def _parquet_files(paths, max_files: int = None):
    """The .parquet files under ``paths`` (one path or a list; a
    directory contributes its files sorted, a file itself), or None when
    there are none or more than ``max_files`` (default _MAX_SWEEP_FILES,
    read at call time — a metadata shortcut must never become the
    bottleneck)."""
    import os

    if max_files is None:
        max_files = _MAX_SWEEP_FILES
    files = []
    for path in [paths] if isinstance(paths, str) else paths:
        if os.path.isdir(path):
            files.extend(sorted(
                os.path.join(dp, f)
                for dp, _dn, fns in os.walk(path)
                for f in fns
                if f.endswith(".parquet")
            ))
        else:
            files.append(path)
    if not files or len(files) > max_files:
        return None
    return files


def _footer_metas(paths):
    """``[(file, FileMetaData)]`` of every file under ``paths`` (one
    footer read each), or None when :func:`_parquet_files` refuses."""
    import pyarrow.parquet as pq

    files = _parquet_files(paths)
    if files is None:
        return None
    return [(fp, pq.ParquetFile(fp).metadata) for fp in files]


def _column_chunk(rg, col: str):
    """The column chunk of ``col`` in row group ``rg``, or None."""
    for j in range(rg.num_columns):
        if rg.column(j).path_in_schema == col:
            return rg.column(j)
    return None


def store_stamp(path: str):
    """The version stamp of the parquet store at ``path``: a sorted tuple
    of (relative name, st_size, st_mtime_ns) for each .parquet file,
    walked as :func:`_parquet_files` walks. Any rewrite changes it (the
    rewrite writes new files); None when the store is missing."""
    import os

    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        out = []
        for dp, _dn, fns in os.walk(path):
            for f in fns:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(dp, f))
                    out.append((os.path.relpath(os.path.join(dp, f), path),
                                st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except FileNotFoundError:
        return None  # missing, or swapped out mid-walk


# ------------------------------------------------------------------ #
# the reader: one column's footers -> zone records
# ------------------------------------------------------------------ #
class Zone(NamedTuple):
    """One row group's footer statistics for one column. ``lo``/``hi``
    are the stored min/max (None when absent or of a type no decision
    reads); ``nonnull`` is ``rows`` minus the null count (None without
    one). The flags are described in the module docstring."""

    physical: str
    lo: Any
    hi: Any
    nonnull: Optional[int]
    rows: int
    exact: bool
    ascii: bool
    all_null: bool


def _zone(chunk, rows: int) -> Zone:
    """The Zone of one column chunk of a row group of ``rows`` rows."""
    st = chunk.statistics
    physical = chunk.physical_type
    has_nulls = st is not None and st.has_null_count
    has_range = (
        st is not None and st.has_min_max
        and (physical in _SAFE_PHYSICAL or physical == "BYTE_ARRAY")
    )
    lo, hi = (st.min, st.max) if has_range else (None, None)
    nan = any(isinstance(v, float) and v != v for v in (lo, hi))
    return Zone(
        physical=physical,
        lo=lo,
        hi=hi,
        nonnull=rows - st.null_count if has_nulls else None,
        rows=rows,
        exact=has_range and has_nulls and physical in _SAFE_PHYSICAL
        and not nan,
        ascii=has_range and has_nulls and physical == "BYTE_ARRAY"
        and isinstance(lo, str) and isinstance(hi, str)
        and lo.isascii() and hi.isascii(),
        all_null=has_nulls and st.null_count == rows,
    )


def column_zones(metas, col: str):
    """``[(file, [Zone per row group])]`` of column ``col`` over the
    footers ``metas`` (``[(file, FileMetaData)]``), or None when
    ``metas`` is None or any file lacks the column.

    NaN: parquet-mr/Spark writers fold NaN into a float column's footer
    min/max, so a NaN there proves the column CONTAINS NaN, and the zone
    is not ``exact``. Spark ranks NaN above every value (``NaN >= lo`` is
    TRUE, ``NaN <= hi`` is FALSE, ORDER BY DESC puts NaN first) while
    footers carry no NaN count, so neither a count nor a top-k threshold
    can be decided from such stats. Spec-compliant writers (arrow,
    polars) OMIT NaN from min/max instead, making hidden NaN undetectable
    from footers — the parquet format's own limitation, under which even
    the plain Spark scan is layout-dependent (its pushed filter skips
    hidden-NaN row groups; DuckDB's zone maps measured dropping the same
    row). Spark-written stores — what Database persistence produces —
    are therefore fully guarded; foreign NaN-bearing floats are out of
    scope."""
    if metas is None:
        return None
    out = []
    for fp, md in metas:
        zones = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            chunk = _column_chunk(rg, col)
            if chunk is None:
                return None
            zones.append(_zone(chunk, rg.num_rows))
        out.append((fp, zones))
    return out


# ------------------------------------------------------------------ #
# decisions over zone records
# ------------------------------------------------------------------ #
class Decision(NamedTuple):
    """What the footers decided: ``answer`` (a metadata row count, facet
    ``[(value, count)]`` rows, or the top-k threshold τ) and the
    ``undecided`` units left for the scan (files; ``(file, row group)``
    for top-k) out of ``units``."""

    answer: Any
    undecided: list
    units: int

    @property
    def decided_nothing(self) -> bool:
        """Footers were read but decided no unit: every file straddles the
        predicate (every row group straddles τ) — an unclustered layout.
        A narrow range that decides every other file OUT is a success
        (one file scanned), not this."""
        return 0 < self.units == len(self.undecided)


class _Refuse(Exception):
    """A zone the decision may not degrade past: the whole store refuses."""


def _file_triage(zones, group_decides) -> Optional[Decision]:
    """Per-file triage shared by the count decisions: a file is decided
    when ``group_decides(zone)`` returns each of its row groups' count
    (0 = excluded); the first group it returns None for leaves the file
    undecided. ``group_decides`` raises :class:`_Refuse` for a
    whole-store refusal."""
    meta = 0
    undecided = []
    try:
        for fp, file_zones in zones:
            file_meta = 0
            for z in file_zones:
                n = group_decides(z)
                if n is None:
                    undecided.append(fp)
                    break
                file_meta += n
            else:
                meta += file_meta
    except _Refuse:
        return None
    return Decision(meta, undecided, len(zones))


def range_decision(zones, lo, hi, lo_inclusive: bool = True,
                   hi_inclusive: bool = True) -> Optional[Decision]:
    """Per-file zone-map triage for ``lo <= col <= hi`` (either bound may
    be None = unbounded). A row group is decided when its [min, max] lies
    entirely inside the predicate (contributes its non-null rows — nulls
    never satisfy a range) or entirely outside it (contributes 0).

    Comparison domain mirrors Spark exactly: when the column is integral
    and either bound is a float, Spark casts the COLUMN to double before
    comparing — so the stats are cast through ``float()`` (same IEEE
    round-half-even, and monotone, so group-level decisions stay valid
    beyond 2^53 where exact-int comparison would diverge from the scan).

    A file whose stats are missing or NaN-bearing joins the undecided
    set and is scanned with the pushed predicate — whatever Spark's scan
    computes for it IS the plain plan's answer for that file. A
    non-numeric physical type (string stats may truncate) or a bound
    that does not fit a double refuses the whole store."""
    if zones is None:
        return None
    float_bound = isinstance(lo, float) or isinstance(hi, float)

    def decide(z: Zone):
        if z.physical not in _SAFE_PHYSICAL:
            raise _Refuse
        if not z.exact:
            return None
        smin, smax, lo_e, hi_e = z.lo, z.hi, lo, hi
        if z.physical in ("FLOAT", "DOUBLE"):
            # Spark casts an integral literal to double; float() is
            # that exact cast (IEEE round-half-even)
            try:
                lo_e = None if lo is None else float(lo)
                hi_e = None if hi is None else float(hi)
            except OverflowError:
                raise _Refuse from None
        elif float_bound and isinstance(smin, int) and not isinstance(
            smin, bool
        ):
            smin, smax = float(smin), float(smax)
        inside = (
            lo_e is None or (smin >= lo_e if lo_inclusive else smin > lo_e)
        ) and (
            hi_e is None or (smax <= hi_e if hi_inclusive else smax < hi_e)
        )
        if inside:
            return z.nonnull
        outside = (
            lo_e is not None
            and (smax < lo_e if lo_inclusive else smax <= lo_e)
        ) or (
            hi_e is not None
            and (smin > hi_e if hi_inclusive else smin >= hi_e)
        )
        return 0 if outside else None

    return _file_triage(zones, decide)


def value_decision(zones, values) -> Optional[Decision]:
    """Per-file zone-map triage for ``col IN values`` over a string or
    integral column.

    Sound under parquet stat TRUNCATION: writers may truncate string
    min/max, but only ever OUTWARD (stored_min <= true_min, stored_max >=
    true_max). Two decisions survive that widening:

      * **excluded**: every v in values is < stored_min or > stored_max
        -> the group contributes 0;
      * **collapsed**: stored_min == stored_max == v for some v -> EVERY
        non-null value equals v — the group contributes its non-null
        rows (on a category-clustered layout this is most groups).

    String stats and probe values must be pure ASCII (see ``Zone.ascii``);
    a non-ASCII, bool, None or mixed-type probe, or a column of another
    physical type, refuses the whole store."""
    if zones is None:
        return None
    if any(isinstance(v, bool) or v is None for v in values):
        return None
    str_values = all(isinstance(v, str) for v in values)
    int_values = all(
        isinstance(v, int) and not isinstance(v, bool) for v in values
    )
    if not (str_values or int_values):
        return None
    if str_values and not all(v.isascii() for v in values):
        return None
    vals = set(values)

    def decide(z: Zone):
        if str_values and z.physical != "BYTE_ARRAY":
            raise _Refuse
        if int_values and z.physical not in ("INT32", "INT64"):
            raise _Refuse
        if not (z.ascii if str_values else z.exact):
            return None
        if z.lo == z.hi and z.lo in vals:
            return z.nonnull
        if all(v < z.lo or v > z.hi for v in vals):
            return 0
        return None

    return _file_triage(zones, decide)


def facet_decision(zones, physical_string: bool) -> Optional[Decision]:
    """Facet counts from footers: ``answer`` is ``[(value, count), ...]``
    over the decided files, NULLs as one ``(None, count)`` group with the
    exact parquet null count (mirroring SQL GROUP BY). A row group
    decides when its stored min == max (the collapsed proof of
    :func:`value_decision`) or when it is all-null; a file with any other
    group is undecided. A column of the wrong physical type refuses."""
    if zones is None:
        return None
    counts: dict = {}
    nulls = 0
    undecided = []
    for fp, file_zones in zones:
        file_counts: dict = {}
        file_nulls = 0
        for z in file_zones:
            if physical_string and z.physical != "BYTE_ARRAY":
                return None
            if not physical_string and z.physical not in ("INT32", "INT64"):
                return None
            if z.all_null:
                file_nulls += z.rows
                continue
            if not (z.ascii if physical_string else z.exact) or z.lo != z.hi:
                undecided.append(fp)
                break
            file_counts[z.lo] = file_counts.get(z.lo, 0) + z.nonnull
            file_nulls += z.rows - z.nonnull
        else:
            for v, n in file_counts.items():
                counts[v] = counts.get(v, 0) + n
            nulls += file_nulls
    out = list(counts.items())
    if nulls:
        out.append((None, nulls))
    return Decision(out, undecided, len(zones))


def topk_threshold(stats, k: int, descending: bool = True,
                   min_mass_only: bool = False):
    """The provably-safe τ from ``[(min, max, non_null_rows)]`` row-group
    stats, or None when no bound beats scanning (e.g. k exceeds the
    total row count).

    ``min_mass_only`` restricts to the min-mass bound — required for
    string stats, whose truncation only widens [min, max]: the min-mass
    τ derives from stored mins (DESC) / maxes (ASC) and can only LOOSEN,
    while the one-per-group bound derives from the opposite side and
    could tighten past the true k-th value."""
    if not stats or sum(r for _, _, r in stats) <= k:
        return None
    if descending:
        maxes = sorted((mx for _mn, mx, _r in stats), reverse=True)
        bound1 = (
            maxes[k - 1] if len(maxes) >= k and not min_mass_only else None
        )
        best = None
        acc = 0
        for mn, _mx, r in sorted(stats, key=lambda t: t[0], reverse=True):
            acc += r
            best = mn
            if acc >= k:
                break
        bound2 = best if acc >= k else None
        cands = [b for b in (bound1, bound2) if b is not None]
        return max(cands) if cands else None
    mins = sorted(mn for mn, _mx, _r in stats)
    bound1 = mins[k - 1] if len(mins) >= k and not min_mass_only else None
    best = None
    acc = 0
    for _mn, mx, r in sorted(stats, key=lambda t: t[1]):
        acc += r
        best = mx
        if acc >= k:
            break
    bound2 = best if acc >= k else None
    cands = [b for b in (bound1, bound2) if b is not None]
    return min(cands) if cands else None


def topk_decision(zones, k: int, descending: bool = True) -> Optional[Decision]:
    """τ for the top ``k`` rows of the column, with the row groups the
    ``col >= τ`` (``<= τ`` ascending) filter cannot skip, or None when the
    stats cannot bound it. Every row group must be ``exact`` (both
    bounds) or ``ascii`` (min-mass bound only). Row masses are NON-NULL
    rows (min/max ignore nulls), so a column whose non-null mass is <= k
    is never pruned: the plain plan's nulls-last tail would differ."""
    if zones is None:
        return None
    groups = [
        ((fp, g), z) for fp, file_zones in zones
        for g, z in enumerate(file_zones)
    ]
    if all(z.exact for _u, z in groups):
        min_mass_only = False
    elif all(z.ascii for _u, z in groups):
        min_mass_only = True
    else:
        return None
    tau = topk_threshold(
        [(z.lo, z.hi, z.nonnull) for _u, z in groups], k, descending,
        min_mass_only,
    )
    if tau is None:
        return None
    kept = [
        u for u, z in groups if not (z.hi < tau if descending else z.lo > tau)
    ]
    return Decision(tau, kept, len(groups))


def zone_count(
    spark: SparkSession,
    decision: Optional[Decision],
    whole: Callable[[], DataFrame],
    pred: Callable[[], Column],
    plan_memo: Optional[Callable] = None,
    key: tuple = (),
) -> int:
    """A count decision's metadata count plus the count of ``pred()``
    over the files it leaves undecided — over ``whole()`` (the store's
    scan) when the footers refused. ``plan_memo(key, build)``
    (caller-owned, dropped with the store version) keeps the count plan,
    so a repeated count (paging, dashboards) re-executes the SAME JVM
    plan instead of paying Python build + Catalyst analysis per call."""
    if decision is None:
        meta, files = 0, "all"
    else:
        meta, files = decision.answer, tuple(decision.undecided)
        if not files:
            return meta

    def build():
        scan = whole() if files == "all" else spark.read.parquet(*files)
        return scan.filter(pred()).agg(F.count(F.lit(1)).alias("n"))

    plan = build() if plan_memo is None else plan_memo(key + (files,), build)
    return meta + plan.collect()[0][0]


def range_predicate(col: str, lo=None, hi=None, lo_inclusive: bool = True,
                    hi_inclusive: bool = True) -> Column:
    """The Column predicate of ``lo <= col <= hi`` (None = unbounded)."""
    c = F.col(col)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (c >= lo if lo_inclusive else c > lo)
    if hi is not None:
        pred = pred & (c <= hi if hi_inclusive else c < hi)
    return pred


# ------------------------------------------------------------------ #
# entry points over a store path
# ------------------------------------------------------------------ #
def topk_stats_pruned(
    spark: SparkSession,
    path: str,
    value_col: str,
    k: int = 10,
    descending: bool = True,
    select_cols: Optional[Sequence[str]] = None,
    tiebreakers: Optional[List] = None,
) -> DataFrame:
    """Top-k rows of a parquet table by ``value_col``, with the footer
    threshold (:func:`topk_decision`) pushed into the scan. On
    time-ordered, clustered or Z-ordered data (operators/scale
    .write_clustered / write_zordered) the scan collapses to ~k rows'
    worth of groups; on uniform data the filter still discards almost
    every row before the sort. Falls back to the plain TakeOrdered plan
    whenever statistics cannot decide.

    **Null ordering is pinned to NULLS LAST in both directions** (matching
    DuckDB's default, and the only ordering under which the pushed range
    filter — which necessarily eliminates nulls — is safe). The result is
    identical to the plain ``orderBy(desc_nulls_last|asc_nulls_last)
    .limit(k)`` plan (pinned by test + oracle). ``tiebreakers`` (list of
    Columns) make the result deterministic under value ties. NaN-bearing
    sort columns are never pruned (see :func:`column_zones`)."""
    from pyarrow import ArrowException

    df = spark.read.parquet(path)
    try:
        decision = topk_decision(
            column_zones(_footer_metas(path), value_col), k, descending
        )
    except (ArrowException, OSError, TypeError, ValueError):
        decision = None  # stats are an optimization, never a risk
    if decision is not None:
        tau = decision.answer
        df = df.filter(
            F.col(value_col) >= tau if descending else F.col(value_col) <= tau
        )
    if select_cols:
        df = df.select(*select_cols)
    order = [
        F.desc_nulls_last(value_col) if descending else F.asc_nulls_last(value_col)
    ]
    order += list(tiebreakers or [])
    return df.orderBy(*order).limit(k)


def stats_filtered_count(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    lo_inclusive: bool = True,
    hi_inclusive: bool = True,
) -> int:
    """COUNT of rows with ``col`` in the given range over a parquet table,
    answered from footers wherever :func:`range_decision` decides the
    whole file; only the undecided files are scanned. On clustered /
    time-partitioned layouts almost every file is decided; on uniform
    layouts it degrades to the plain filtered count. Equality =
    ``lo == hi``. With no bound at all the footers' row total answers
    (nulls count when no range excludes them)."""
    from pyarrow import ArrowException

    if lo is None and hi is None:
        try:
            metas = _footer_metas(path)
        except (ArrowException, OSError):
            metas = None
        if metas is None:
            return spark.read.parquet(path).count()
        return sum(md.num_rows for _fp, md in metas)
    try:
        decision = range_decision(
            column_zones(_footer_metas(path), col), lo, hi, lo_inclusive,
            hi_inclusive,
        )
    except (ArrowException, OSError, TypeError, ValueError):
        decision = None  # stats are an optimization only
    return zone_count(
        spark, decision, lambda: spark.read.parquet(path),
        lambda: range_predicate(col, lo, hi, lo_inclusive, hi_inclusive),
    )


def zone_value_count(spark: SparkSession, path: str, col: str, values) -> int:
    """COUNT of rows with ``col IN values`` over a parquet table, answered
    from footers wherever :func:`value_decision` decides whole files —
    the equality/IN analog of :func:`stats_filtered_count`, and the zone
    path that safely covers STRING columns. Elsewhere it degrades to the
    plain pushed-In count."""
    from pyarrow import ArrowException

    try:
        decision = value_decision(
            column_zones(_footer_metas(path), col), values
        )
    except (ArrowException, OSError, TypeError, ValueError):
        decision = None  # stats are an optimization only
    return zone_count(
        spark, decision, lambda: spark.read.parquet(path),
        lambda: F.col(col).isin(list(values)),
    )
