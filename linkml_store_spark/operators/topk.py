"""Statistics-pruned top-k over parquet: turn footer min/max into a
provably-safe scan filter.

``ORDER BY col DESC LIMIT k`` on a 100 TB table is a full scan in stock
Spark (TakeOrderedAndProject heaps still READ everything). But parquet
footers already carry per-row-group min/max for every column, and a safe
threshold derived from them turns the top-k into a pushed-down range scan:

  * **one-per-group bound** — the k-th largest row-group MAX is <= the
    k-th largest value overall (each of those k groups contributes at
    least one value, its max, that is >= the threshold);
  * **min-mass bound** — sort groups by MIN descending and accumulate row
    counts until >= k: every one of those >= k rows is >= that group's
    min, so the k-th largest value is >= it too.

τ = the larger of the two bounds; ``col >= τ`` then reaches the scan as a
PushedFilter, so row groups whose max < τ are never read and surviving
pages are range-filtered before the heap. On time-ordered, clustered, or
Z-ordered data (operators/scale.write_clustered / write_zordered) the scan
collapses to ~k rows' worth of groups; on adversarially uniform data the
filter still discards almost every row before the sort. Falls back to the
plain TakeOrdered plan whenever statistics are missing.

The footer read is planning-time work on the DRIVER: one metadata fetch
per file (no data IO) — the same footer listing Spark itself performs.
Numeric, date, and timestamp columns use both bounds; STRING columns
(round 6) use only the min-mass bound, which parquet stat truncation can
only loosen (see ``_row_group_stats_string``), guarded to ASCII stats.

Reference parity: the reference's find+sort surface
(src/linkml_store/api/collection.py sort/limit) has no statistics
pruning — north-star scale extension.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: parquet physical types whose min/max statistics are exact (strings /
#: byte arrays may be truncated by writers — unsafe to prune on)
_SAFE_PHYSICAL = {"INT32", "INT64", "FLOAT", "DOUBLE", "BOOLEAN"}

#: driver-side footer sweeps are SEQUENTIAL — on a store with tens of
#: thousands of files the distributed scan a 1000-executor cluster runs
#: in parallel is the better plan, so every sweep refuses above this cap
_MAX_SWEEP_FILES = 4096


def _parquet_files(path: str, max_files: int = None):
    """Sorted .parquet files under ``path`` (or [path] itself), or None
    when empty / beyond ``max_files`` (default _MAX_SWEEP_FILES, read at
    call time — a metadata shortcut must never become the bottleneck)."""
    import os

    if max_files is None:
        max_files = _MAX_SWEEP_FILES

    if os.path.isdir(path):
        files = sorted(
            os.path.join(dp, f)
            for dp, _dn, fns in os.walk(path)
            for f in fns
            if f.endswith(".parquet")
        )
    else:
        files = [path]
    if not files or len(files) > max_files:
        return None
    return files


def _footer_metas(path: str, metas=None):
    """``metas`` when given, else ``[(file, FileMetaData)]`` of every file
    under ``path`` (one footer read each), or None when
    :func:`_parquet_files` refuses the store."""
    if metas is not None:
        return metas
    import pyarrow.parquet as pq

    files = _parquet_files(path)
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


def _stat_nan(st) -> bool:
    """True when a float column's footer min/max contains NaN — written by
    parquet-mr/Spark (which fold NaN into the comparator) — so the column
    provably CONTAINS NaN and every stats decision must be refused. Spark
    ranks NaN above every value (measured: ``NaN >= lo`` is TRUE, ``NaN
    <= hi`` is FALSE, ORDER BY DESC puts NaN first), while footer min/max
    carry no NaN count — so neither a zone count (NaN passes lower bounds
    but fails upper bounds) nor a top-k threshold (NaN poisons the
    ordering math) can be decided from statistics. Spec-compliant writers
    (arrow, polars) OMIT NaN from min/max instead, making hidden NaN
    undetectable from footers — the parquet format's own limitation,
    under which even the PLAIN Spark scan is layout-dependent (its pushed
    filter row-group-skips hidden-NaN groups; DuckDB's zone maps measured
    dropping the same row). Spark-written stores — what Database
    persistence produces — are therefore fully guarded; foreign
    NaN-bearing floats are documented as out of stats-decision scope."""
    mn, mx = st.min, st.max
    return (isinstance(mn, float) and mn != mn) or (
        isinstance(mx, float) and mx != mx
    )


def _row_group_stats(path: str, col: str, metas=None):
    """[(min, max, non_null_rows)] across every row group of every file
    under ``path`` (or of the preloaded ``metas``); None when any group
    lacks exact stats for ``col``.
    Row mass is NON-NULL rows (parquet min/max ignore nulls, so the
    min-mass bound must too — and a table whose non-null mass <= k must
    not be pruned at all: the plain plan's nulls-last tail would differ).
    NaN-bearing float stats refuse (see _stat_nan).
    """
    metas = _footer_metas(path, metas)
    if metas is None:
        return None
    out = []
    for _fp, md in metas:
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            c = _column_chunk(rg, col)
            if c is None:
                return None
            st = c.statistics
            if (
                st is None
                or not st.has_min_max
                or not st.has_null_count
                or c.physical_type not in _SAFE_PHYSICAL
                or _stat_nan(st)
            ):
                return None
            out.append((st.min, st.max, rg.num_rows - st.null_count))
    return out


def _row_group_stats_string(path: str, col: str, metas=None):
    """[(min, max, non_null_rows)] for a STRING (BYTE_ARRAY) column;
    None unless every row group carries str, pure-ASCII min/max stats.

    Parquet string statistics may be TRUNCATED — but only outward
    (stored_min is a prefix <= true_min, stored_max a bumped prefix >=
    true_max), so they are safe exactly for the MIN-MASS top-k bound
    (``topk_threshold(min_mass_only=True)``): the threshold derives from
    stored mins (DESC) / stored maxes (ASC), which only ever loosen it.
    The one-per-group bound would TIGHTEN under truncation and must not
    be used. ASCII guard: legacy writers ordered string stats by SIGNED
    bytes; pure-ASCII stored bounds prove the group holds no high-byte
    values, where signed and unsigned (= Python/UTF8String code-point)
    orderings agree — same argument as ``_file_value_zone_decision``.
    ``metas``: preloaded footers, as for :func:`_row_group_stats`."""
    metas = _footer_metas(path, metas)
    if metas is None:
        return None
    out = []
    for _fp, md in metas:
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            c = _column_chunk(rg, col)
            if c is None or c.physical_type != "BYTE_ARRAY":
                return None
            st = c.statistics
            if st is None or not st.has_min_max or not st.has_null_count:
                return None
            smin, smax = st.min, st.max
            if not (isinstance(smin, str) and isinstance(smax, str)):
                return None
            if not (smin.isascii() and smax.isascii()):
                return None
            out.append((smin, smax, rg.num_rows - st.null_count))
    return out


def topk_threshold(stats, k: int, descending: bool = True,
                   min_mass_only: bool = False):
    """The provably-safe τ from row-group stats, or None when no bound
    beats scanning (e.g. k exceeds the total row count).

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


def topk_stats_pruned(
    spark: SparkSession,
    path: str,
    value_col: str,
    k: int = 10,
    descending: bool = True,
    select_cols: Optional[Sequence[str]] = None,
    tiebreakers: Optional[List] = None,
) -> DataFrame:
    """Top-k rows of a parquet table by ``value_col``, with the footer-
    statistics threshold pushed into the scan.

    **Null ordering is pinned to NULLS LAST in both directions** (matching
    DuckDB's default, and the only ordering under which the pushed range
    filter — which necessarily eliminates nulls — is safe). The result is
    identical to the plain ``orderBy(desc_nulls_last|asc_nulls_last)
    .limit(k)`` plan (pinned by test + oracle): nulls can only surface in
    the top k when the non-null mass is <= k, and ``topk_threshold``
    refuses to prune exactly that case (its row masses are non-null
    counts). ``tiebreakers`` (list of Columns) make the result
    deterministic under value ties.

    NaN caveat: Spark ranks float NaN above every value (first under
    DESC; it passes ``>= tau`` but fails ``<= tau``), and NaN in the
    stats poisons the threshold math — so a NaN-bearing sort column must
    never be pruned. Spark/parquet-mr-written files are guarded (NaN
    lands in the footer min/max, which refuses pruning — see
    ``_stat_nan``); spec-compliant writers omit NaN from statistics, so
    hidden NaN in foreign files is out of pruning scope — the parquet
    format's own limitation, shared by stats-trusting engines (DuckDB
    measured dropping a hidden-NaN row via its parquet zone maps)."""
    df = spark.read.parquet(path)
    tau = None
    try:
        metas = _footer_metas(path)
        tau = topk_threshold(
            _row_group_stats(path, value_col, metas), k, descending
        )
        if tau is None:
            # string sort key: the ASCII-guarded min-mass bound is the
            # truncation-safe subset (see _row_group_stats_string)
            tau = topk_threshold(
                _row_group_stats_string(path, value_col, metas), k,
                descending, min_mass_only=True,
            )
    except Exception:  # noqa: BLE001 — stats are an optimization, never a risk
        tau = None
    if tau is not None:
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


# ------------------------------------------------------------------ #
# zone-map filtered count — the COUNT analog of the pruned top-k
# ------------------------------------------------------------------ #
def _file_zone_decision(path: str, col: str, lo, hi,
                        lo_inclusive: bool = True, hi_inclusive: bool = True,
                        metas=None):
    """Per-file zone-map triage for ``lo <= col <= hi`` (either bound may
    be None = unbounded): returns (metadata_count, undecided_files) or
    None when any footer lacks exact stats.

    A row group is DECIDED when its [min, max] lies entirely inside the
    predicate (contributes its non-null rows — nulls never satisfy a
    range) or entirely outside it (contributes 0). Files whose every
    group is decided are answered from metadata alone; the rest are
    scanned normally (where Spark's reader still row-group-skips the
    disjoint groups via the pushed filter). Same driver-side footer-only
    IO as ``_row_group_stats``; string columns are never used (parquet
    may truncate their stats).

    Refuses (returns None) above the shared ``_MAX_SWEEP_FILES`` cap: the
    footer sweep is SEQUENTIAL driver IO, so on a store with tens of
    thousands of files the distributed scan a 1000-executor cluster runs
    in parallel is the better plan — a metadata shortcut must never
    become the bottleneck.

    Comparison domain mirrors Spark exactly: when the column is integral
    and either bound is a float, Spark casts the COLUMN to double before
    comparing — so the stats are cast through ``float()`` (same IEEE
    round-half-even, and monotone, so group-level decisions stay valid
    beyond 2^53 where exact-int comparison would diverge from the scan).

    Degradation is PER FILE: a file whose stats are missing, inexact, or
    NaN-bearing (see _stat_nan) just joins the undecided set and is
    scanned with the pushed predicate — whatever Spark's scan computes
    for it IS the plain plan's answer for that file, so mixed stores
    (one statless/foreign writer among Spark-written files) keep the
    metadata shortcut for every clean file. Structural problems refuse
    globally: an unsafe physical type (strings may truncate min/max —
    table-wide), an unrepresentable bound, or a file missing the column
    entirely (a subset scan might not resolve the predicate column that
    the whole-store schema union does).
    """
    metas = _footer_metas(path, metas)
    if metas is None:
        return None
    float_bound = isinstance(lo, float) or isinstance(hi, float)
    meta_count = 0
    undecided = []
    for fp, md in metas:
        file_meta = 0
        file_decided = True
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            c = _column_chunk(rg, col)
            if c is None:
                # column absent in this file: scanning ONLY the undecided
                # subset could fail to resolve the predicate column at all
                # (schema comes from the files read, not the store) —
                # schema evolution is a table-wide concern, so refuse and
                # let the plain whole-store scan resolve it by union
                return None
            st = c.statistics
            if c.physical_type not in _SAFE_PHYSICAL:
                return None  # table-wide property: strings never decide
            if (
                st is None
                or not st.has_min_max
                or not st.has_null_count
                or _stat_nan(st)
            ):
                file_decided = False
                break
            smin, smax, lo_e, hi_e = st.min, st.max, lo, hi
            if c.physical_type in ("FLOAT", "DOUBLE"):
                # Spark casts an integral literal to double; float() is
                # that exact cast (IEEE round-half-even)
                try:
                    lo_e = None if lo is None else float(lo)
                    hi_e = None if hi is None else float(hi)
                except OverflowError:
                    return None
            elif float_bound and isinstance(smin, int) and not isinstance(
                smin, bool
            ):
                # Spark compares cast(col as double) against the double
                # literal; cast the stats the same way — the cast is
                # monotone, so group-level decisions stay valid
                smin, smax = float(smin), float(smax)
            inside_lo = lo_e is None or (
                smin >= lo_e if lo_inclusive else smin > lo_e
            )
            inside_hi = hi_e is None or (
                smax <= hi_e if hi_inclusive else smax < hi_e
            )
            outside = (
                lo_e is not None
                and (smax < lo_e if lo_inclusive else smax <= lo_e)
            ) or (
                hi_e is not None
                and (smin > hi_e if hi_inclusive else smin >= hi_e)
            )
            if inside_lo and inside_hi:
                file_meta += rg.num_rows - st.null_count
            elif outside:
                pass  # contributes 0
            else:
                file_decided = False
                break
        if file_decided:
            meta_count += file_meta
        else:
            undecided.append(fp)
    return meta_count, undecided


def stats_filtered_count(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    lo_inclusive: bool = True,
    hi_inclusive: bool = True,
    plan_memo: Optional[Callable] = None,
    metas=None,
    route_info: Optional[dict] = None,
) -> int:
    """COUNT of rows with ``col`` in the given range over a parquet table,
    answered from parquet footers wherever the zone maps decide the whole
    file — the DuckDB/zone-map count optimization expressed over the same
    footer statistics the pruned top-k uses.

    On clustered / time-partitioned layouts (write_clustered,
    write_zordered, natural time-ordered ingest — the realistic 100 TB
    layout for time-range counts) almost every file is decided, so the
    count is driver-metadata IO plus a scan of only the boundary files;
    on adversarially uniform layouts it degrades gracefully to the plain
    filtered count (every file undecided). Equality = ``lo == hi``.
    Files with missing/NaN statistics degrade individually into the
    scanned set (see _file_zone_decision); table-wide problems fall back
    to the plain scan entirely (unsafe physical type, oversized store,
    a file missing the predicate column, an unrepresentable bound).

    NaN caveat (same scope as every stats-trusting engine): Spark ranks
    NaN above every value (it passes lower bounds, fails upper bounds),
    and footers carry no NaN count — so a float column CONTAINING NaN
    must never be metadata-counted. Spark/parquet-mr-written files are
    fully guarded (those writers fold NaN into min/max, which
    ``_stat_nan`` detects and refuses); spec-compliant writers (arrow,
    polars) omit NaN from statistics entirely, making hidden NaN
    undetectable from footers — under which even the plain Spark scan is
    layout-dependent (pushed filters row-group-skip hidden-NaN groups),
    and DuckDB's zone maps measured dropping the same row. Keep NaN out
    of columns you range-count (Collection stores are Spark-written, so
    they are covered by the detection path).
    """
    if lo is None and hi is None:
        # no predicate at all: NULLS COUNT (a range excludes them, the
        # absence of a range does not) — plain metadata row total. The
        # same _MAX_SWEEP_FILES cap applies: this branch is sequential
        # driver IO too.
        try:
            metas = _footer_metas(path, metas)
            if metas is None:
                return spark.read.parquet(path).count()
            return sum(md.num_rows for _fp, md in metas)
        except Exception:  # noqa: BLE001
            return spark.read.parquet(path).count()
    decision = None
    try:
        decision = _file_zone_decision(
            path, col, lo, hi, lo_inclusive, hi_inclusive, metas=metas
        )
    except Exception:  # noqa: BLE001 — stats are an optimization only
        decision = None

    def _scan_count(files_key, paths):
        def build():
            c = F.col(col)
            pred = F.lit(True)
            if lo is not None:
                pred = pred & (c >= lo if lo_inclusive else c > lo)
            if hi is not None:
                pred = pred & (c <= hi if hi_inclusive else c < hi)
            return (
                spark.read.parquet(*paths)
                .filter(pred)
                .agg(F.count(F.lit(1)).alias("n"))
            )

        # ``plan_memo(key, build)`` (caller-owned, dropped with the store
        # version) keeps the constructed count Dataset: repeated identical
        # range counts (paging, dashboards) re-execute the SAME JVM plan
        # instead of paying Python build + Catalyst analysis per call
        key = ("range_scan", col, lo, hi, lo_inclusive, hi_inclusive,
               files_key)
        d = build() if plan_memo is None else plan_memo(key, build)
        return d.collect()[0][0]

    if decision is None:
        if route_info is not None:
            route_info["zone"] = "refused"
        return _scan_count(path, [path])
    meta_count, undecided = decision
    if route_info is not None:
        # "undecided_all" = the zone maps decided NOTHING — the layout
        # signature the clustering advisor counts (footers exist but EVERY
        # file's range straddles the predicate: an unclustered store).
        # Classified by file COUNT, not meta_count truthiness: a narrow
        # range fully inside one file of a well-clustered store decides
        # every other file OUT (meta_count 0, one file scanned) — that is
        # a zone SUCCESS, and advising a recluster for it would queue
        # redundant full-store compactions (round-9 advisor finding)
        try:
            n_files = len(metas) if metas else len(_parquet_files(path) or ())
        except Exception:  # noqa: BLE001
            n_files = 0
        route_info["zone"] = (
            "decided_full" if not undecided
            else (
                "undecided_all"
                if not meta_count and n_files and len(undecided) == n_files
                else "partial"
            )
        )
        route_info["undecided_files"] = len(undecided or ())
    if not undecided:
        return meta_count
    return meta_count + _scan_count(tuple(undecided), undecided)


# ------------------------------------------------------------------ #
# zone-map equality/IN count — strings and ints, truncation-sound
# ------------------------------------------------------------------ #
def _file_value_zone_decision(path: str, col: str, values, metas=None):
    """Per-file zone-map triage for ``col IN values`` over a string or
    integral column: (metadata_count, undecided_files), or None on any
    structural refusal.

    Soundness under parquet stat TRUNCATION (the reason the range
    machinery above excludes strings): writers may truncate string
    min/max, but only ever OUTWARD — stored_min <= true_min (prefix) and
    stored_max >= true_max (prefix with last byte incremented). Two
    decisions survive that widening:

      * **excluded**: every v in values is < stored_min or > stored_max
        -> v is outside the (wider) stored interval, so outside the true
        one — the group contributes 0;
      * **collapsed**: stored_min == stored_max == v for some v ->
        true_min >= stored_min = v and true_max <= stored_max = v force
        EVERY non-null value to equal v — the group contributes its
        non-null rows (on a category-clustered layout, the realistic
        100 TB shape for `status = 'X'` counts, this is most groups).

    Anything else leaves the file undecided (scanned with the pushed
    ``In`` filter, where disjoint row groups still skip).

    Ordering guard: parquet string stats are UNSIGNED-byte-lexicographic,
    which equals Python's code-point comparison for valid UTF-8 — but
    LEGACY writers ordered signed bytes, which diverges only when a byte
    >= 0x80 is involved. Stats and probe values are therefore required
    to be pure ASCII: if any true value had a high byte, a signed-order
    writer would have surfaced it as the (non-ASCII) min — so ASCII
    stored bounds prove the orderings agree on this group's data. Ints
    have exact stats and no ordering ambiguity. Same per-file
    degradation, whole-store refusals (missing column, unsupported
    physical type, >_MAX_SWEEP_FILES) as ``_file_zone_decision``.
    """
    metas = _footer_metas(path, metas)
    if metas is None:
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
    meta_count = 0
    undecided = []
    for fp, md in metas:
        file_meta = 0
        file_decided = True
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            c = _column_chunk(rg, col)
            if c is None:
                return None  # schema evolution: whole-store concern
            if str_values and c.physical_type != "BYTE_ARRAY":
                return None
            if int_values and c.physical_type not in ("INT32", "INT64"):
                return None
            st = c.statistics
            if st is None or not st.has_min_max or not st.has_null_count:
                file_decided = False
                break
            smin, smax = st.min, st.max
            if str_values:
                if not (isinstance(smin, str) and isinstance(smax, str)):
                    file_decided = False
                    break
                if not (smin.isascii() and smax.isascii()):
                    file_decided = False
                    break
            if smin == smax and smin in vals:
                file_meta += rg.num_rows - st.null_count
            elif all(v < smin or v > smax for v in vals):
                pass  # contributes 0
            else:
                file_decided = False
                break
        if file_decided:
            meta_count += file_meta
        else:
            undecided.append(fp)
    return meta_count, undecided


def zone_facet_counts(files, col: str, physical_string: bool, metas=None):
    """Facet counts from footers with PER-FILE degradation: returns
    ``([(value, count), ...], undecided_files)`` — decided files
    contribute their counts from metadata alone, undecided files (any
    mixed row group) are listed for the caller to scan — or None on a
    structural refusal (column missing anywhere, wrong physical type).

    A row group decides when its stored min == max (truncation can only
    widen the interval, so a collapsed one proves every non-null value
    equal — the same proof as ``_file_value_zone_decision``) or when it
    is all-null (null_count == num_rows; min/max may legitimately be
    absent then). NULLs form their own group with an EXACT count
    (parquet null_count), mirroring SQL GROUP BY. String stats keep the
    ASCII guard; ints are exact. On a category-clustered store
    (write_clustered / compact(sort_cols=...)) everything but the range
    BOUNDARY files is decided, turning the reference's most-used
    operator — the facet — into driver metadata IO plus a scan of the
    stragglers.

    ``metas`` — optional preloaded ``[(file, FileMetaData)]`` so a caller
    faceting MANY columns of the same store reads each footer once, not
    once per column (ADVICE r6: thousands of serial driver reads at the
    4096-file cap)."""
    import pyarrow.parquet as pq

    if metas is None:
        metas = [(fp, pq.ParquetFile(fp).metadata) for fp in files]
    counts: dict = {}
    nulls = 0
    undecided = []
    for fp, md in metas:
        file_counts: dict = {}
        file_nulls = 0
        file_decided = True
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            c = _column_chunk(rg, col)
            if c is None:
                return None  # schema evolution: whole-store concern
            if physical_string and c.physical_type != "BYTE_ARRAY":
                return None
            if not physical_string and c.physical_type not in ("INT32", "INT64"):
                return None
            st = c.statistics
            if st is None or not st.has_null_count:
                file_decided = False
                break
            if st.null_count == rg.num_rows:
                file_nulls += rg.num_rows
                continue
            if not st.has_min_max:
                file_decided = False
                break
            smin, smax = st.min, st.max
            if physical_string:
                if not (isinstance(smin, str) and isinstance(smax, str)):
                    file_decided = False
                    break
                if not (smin.isascii() and smax.isascii()):
                    file_decided = False
                    break
            if smin != smax:
                file_decided = False  # mixed group: scan this file
                break
            file_counts[smin] = (
                file_counts.get(smin, 0) + rg.num_rows - st.null_count
            )
            file_nulls += st.null_count
        if file_decided:
            for v, n in file_counts.items():
                counts[v] = counts.get(v, 0) + n
            nulls += file_nulls
        else:
            undecided.append(fp)
    out = list(counts.items())
    if nulls:
        out.append((None, nulls))
    return out, undecided


def zone_value_count(spark: SparkSession, path: str, col: str, values) -> int:
    """COUNT of rows with ``col IN values`` over a parquet table, answered
    from footers wherever ``_file_value_zone_decision`` decides whole
    files — the equality/IN analog of :func:`stats_filtered_count`, and
    the first zone path that safely covers STRING columns. On clustered
    layouts (write_clustered / hive-partition-by-category) the most
    common categorical count becomes driver metadata IO plus a scan of
    only the boundary files; elsewhere it degrades to the plain pushed-In
    count."""
    decision = None
    try:
        decision = _file_value_zone_decision(path, col, values)
    except Exception:  # noqa: BLE001 — stats are an optimization only
        decision = None
    pred = F.col(col).isin(list(values))
    if decision is None:
        return spark.read.parquet(path).filter(pred).count()
    meta_count, undecided = decision
    if not undecided:
        return meta_count
    return meta_count + spark.read.parquet(*undecided).filter(pred).count()
