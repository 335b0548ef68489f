"""Collection: a DataFrame-backed table with CRUDSI operations.

Mirrors the reference Collection surface
(``src/linkml_store/api/collection.py:57-1265``) re-expressed Spark-first:

  * insert/replace/upsert/update/delete/delete_where  (§2.2)
  * find/find_iter/get/get_one/peek/rows/size/query   (§2.4)
  * query_facets/group_by/describe                    (§2.5)
  * attach_indexer/index_objects/search               (§2.8)
  * diff/apply_patches                                (§2.2 patches)

Storage: in-memory DataFrames by default; parquet-backed when the owning
Database has a warehouse path. Mutations on parquet are overwrite-rewrites
(read, transform, write) — semantically identical to the reference's
delete+insert and the standard pattern on plain parquet; at 100 TB the same
API maps to Delta MERGE/DELETE, and inserts are plain appends either way.

Every query path is a lazy DataFrame plan: filters compile to native Column
predicates (pushed to the scan), projections prune columns, counts and pages
share one plan.
"""

from __future__ import annotations

import itertools
import logging
from typing import TYPE_CHECKING, Any, Dict, Iterable, Iterator, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linkml_store_spark.facets import DEFAULT_FACET_LIMIT, query_facets
from linkml_store_spark.query import Query, QueryResult
from linkml_store_spark.schema_utils import induce_schema
from linkml_store_spark.where import (
    WhereClause,
    apply_where,
    compile_where,
    fast_count,
    path_col,
)

if TYPE_CHECKING:
    from linkml_store_spark.database import Database
    from linkml_store_spark.index.indexer import Indexer

DEFAULT_LIMIT = 100  # reference sql_utils.py:96-97; limit=-1 => unlimited

#: the local tier's logger (``operators/localexec.py`` logs image loads
#: and evictions on it): Spark-path fallbacks and store-version changes
_tier_log = logging.getLogger("linkml_store_spark.localtier")

OBJECT = Dict[str, Any]

#: clustering advisor (mirror of the kNN advisory): the zone facet/count
#: routes only pay off on layouts users actually produce — when the SAME
#: low-cardinality column keeps being faceted/counted against an
#: UNCLUSTERED store (every row group mixed, footers decide nothing), one
#: ``compact(sort_cols=[col])`` rewrite turns those queries into
#: driver-metadata answers (measured 7-15x vs the scan at 120M,
#: SCALING.md). After ``CLUSTER_ADVICE_THRESHOLD`` such queries on one
#: column of a store of at least ``CLUSTER_ADVICE_MIN_ROWS`` rows, warn
#: once naming the compact call.
CLUSTER_ADVICE_THRESHOLD = 3
CLUSTER_ADVICE_MIN_ROWS = 1_000_000


def _rows_to_dicts(rows: List[Row]) -> List[OBJECT]:
    return [r.asDict(recursive=True) for r in rows]


_MISSING = object()
_VERSION_SERIALS = itertools.count()


class _StoreVersion:
    """Everything a Collection derives from one version of its store:
    footer metadata and row-group stats, result memos (counts), prepared
    Spark plans, the local tier's store image (``localexec.StoreImage``),
    the in-process text indexes and the shadow index plans. Filled on
    use through :meth:`memo` and never patched:
    ``Collection._new_store_version`` replaces it whole, so nothing
    built from one version is served on the next."""

    #: prepared Spark plans held at once, oldest dropped first: each pins
    #: a JVM Dataset, and a session issuing thousands of distinct query
    #: shapes must not grow driver memory without bound
    MAX_PLANS = 256

    def __init__(self, stamp=None):
        #: ``topk.store_stamp`` of the files this version scanned (None
        #: for an in-memory collection or a store that is gone)
        self.stamp = stamp
        #: unique across every collection's versions: a plan that reads
        #: another collection keys on that collection's serial
        self.serial = next(_VERSION_SERIALS)
        self.memos: Dict[Any, Any] = {}
        self._plan_keys: Dict[Any, None] = {}  # insertion-ordered

    def memo(self, key, build):
        """The value memoized under ``key``, built by ``build()`` on first
        use. An exception from ``build`` memoizes nothing; a DataFrame
        value is a prepared plan and counts toward :data:`MAX_PLANS`.
        ``build`` must not start a new version: callers resolve
        ``Collection.df`` (whose first scan starts one) before."""
        value = self.memos.get(key, _MISSING)
        if value is _MISSING:
            value = self.memos[key] = build()
            if isinstance(value, DataFrame):
                self._plan_keys[key] = None
                if len(self._plan_keys) > self.MAX_PLANS:
                    oldest = next(iter(self._plan_keys))
                    self._plan_keys.pop(oldest, None)
                    self.memos.pop(oldest, None)
        return value


class Collection:
    """An organized set of objects of the same or similar type
    (reference ``api/collection.py:57-74``)."""

    def __init__(
        self,
        name: str,
        database: "Database",
        alias: Optional[str] = None,
        identifier_attribute: Optional[str] = None,
        derived_from: Optional[Dict[str, Any]] = None,
        validate_modifications: bool = False,
        constraints: Optional[Dict[str, dict]] = None,
    ):
        self.name = name
        self.alias = alias or name
        self.database = database
        self.identifier_attribute = identifier_attribute
        #: reference ``api/config.py:105-108`` — when True, every insert runs
        #: the constraint compiler over the appended batch and raises on any
        #: violation (reference ``_pre_insert_hook``, collection.py:274-278)
        self.validate_modifications = validate_modifications
        #: slot constraint specs for ``validate.constraint_violations``
        self.constraints = constraints or {}
        #: {"source": <collection name>, "mappings": {slot: expr}, "where": ...}
        #: — materialized on first touch (reference collection.py:260-272,727-777)
        self.derived_from = derived_from
        self._df: Optional[DataFrame] = None
        self._indexers: Dict[str, "Indexer"] = {}
        #: vector_col -> (assigned_df, centroids, nprobe, durable_path) —
        #: IVF indexes that ``knn``/``search`` auto-route to (path None =
        #: in-memory). The one state kept across store versions, and only
        #: for durable indexes (:meth:`_new_store_version`)
        self._vector_indexes: Dict[str, tuple] = {}
        #: footer stats, memos, prepared plans, the store image and the
        #: index plans of the current store version; replaced whole by
        #: :meth:`_new_store_version`, the only place it is dropped. Its
        #: ``stamp`` is set exactly when ``_df`` is the scan of the
        #: persisted parquet store, so footer statistics describe the live
        #: data — the gate for the footer routes and the local tier
        self._version = _StoreVersion()
        #: vector columns already size-probed/advised on an unindexed knn —
        #: the advisory (and its one count job) fires once per column
        self._knn_advised: set = set()
        #: clustering advisor state: column -> zone-refused facet/count
        #: hits on the persisted store; columns already advised fire no
        #: further warnings (mirror of the kNN advisory)
        self._cluster_hits: Dict[str, int] = {}
        self._cluster_advised: set = set()

    # ------------------------------------------------------------------ #
    # plumbing
    # ------------------------------------------------------------------ #
    @property
    def spark(self):
        return self.database.spark

    @property
    def df(self) -> DataFrame:
        """The collection as a (lazy) DataFrame."""
        if self._df is None:
            self._new_store_version()  # scans the persisted store, if any
            if self._df is None and self.derived_from:
                self._materialize_derived()
            if self._df is None:
                raise ValueError(f"collection {self.alias!r} has no data yet")
        return self._df

    def _materialize_derived(self) -> DataFrame:
        """Pre-query-hook materialization of a derived collection
        (reference collection.py:727-777): the source collection projected
        through the slot mappings — one codegen'd select, persisted like any
        other collection data."""
        from linkml_store_spark.operators.derived import derive_collection

        src = self.database.get_collection(self.derived_from["source"])
        out = derive_collection(
            src.df,
            self.derived_from["mappings"],
            where=self.derived_from.get("where"),
        )
        self._set_df(out)
        return self._df

    def load_from_source(
        self,
        local_path: str,
        format: Optional[str] = None,
        json_path: Optional[str] = None,
        replace: bool = True,
    ) -> int:
        """Declarative source load (reference collection.py:689-722,
        config.py:27-56): read the file, optional JSONPath preselection,
        then replace/insert."""
        from linkml_store_spark.sources.formats import ensure_local, read_objects_df

        if local_path.startswith(("http://", "https://", "file://")):
            local_path = ensure_local(local_path)
        if json_path:
            from linkml_store_spark.functions.objects import jsonpath_select
            from linkml_store_spark.sources.formats import _read_document_objects, guess_format

            fmt = (format or guess_format(local_path)).lower()
            if fmt in ("yaml", "yamll", "toml", "xml"):
                objs = _read_document_objects(local_path, fmt)
            else:
                import json as _json

                with open(local_path) as f:
                    objs = _json.load(f)
                    if isinstance(objs, dict):
                        objs = [objs]
            selected = jsonpath_select(objs, json_path)
            df = self.spark.createDataFrame(
                selected, schema=induce_schema(selected)
            )
        else:
            df = read_objects_df(self.spark, local_path, format)
        return self.replace(df) if replace else self.insert(df)

    def exists(self) -> bool:
        if self._df is not None:
            return True
        if self.derived_from:
            return True  # materializes on first touch
        return self.database._collection_data_exists(self.alias)

    def _set_df(self, df: DataFrame, appended: Optional[DataFrame] = None) -> None:
        """Make ``df`` the collection's data (persisted when the database
        has a location) and start a new store version; ``appended`` is
        the batch when the write was a pure append."""
        self._df = df
        if self.database.location:
            self.database._save_collection_df(self.alias, df)
        self._new_store_version(appended)

    def _new_store_version(
        self, appended: Optional[DataFrame] = None, rows_kept: bool = False
    ) -> None:
        """Drop every per-version state and start the next version — the
        only place that happens. Every write, ``compact``, the first scan
        and a change to the store's files by another handle call it.

        A persisted store is re-scanned: ``_df`` points at its current
        files, and the new :class:`_StoreVersion` is stamped with them.
        The footer stats, memos, prepared plans, store image, text indexes
        and shadow index plans of the old version go with it; the next
        read rebuilds each once (the reference fully reindexes shadow
        collections on ANY modification, collection.py:289-295).

        IVF registrations are the only state carried over, and only
        durable ones (persisted beside the store): ``rows_kept`` (a
        ``compact`` rewrote the same rows) keeps them as they are;
        ``appended`` (a pure append) absorbs the batch into each whose
        column it carries (``ivf_append`` — new vectors join their
        nearest centroid's partition). Every other registration is
        dropped and knn runs the exact plan until it is rebuilt. They are
        dropped BEFORE the appends run and re-added one by one, so an
        error that escapes leaves no index over the replaced store."""
        stamp = None
        if self.database.location:
            stamp = self._current_stamp()
            if stamp is not None:
                self._df = self._scan_store(stamp)
        self._version = _StoreVersion(stamp)
        if self._df is not None:
            self.database._register_view(self.alias)
        registered, self._vector_indexes = self._vector_indexes, {}
        durable = {k: e for k, e in registered.items() if e[3] is not None}
        if rows_kept:
            self._vector_indexes = durable
            return
        if appended is None:
            return
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        from linkml_store_spark.operators.similarity import (
            ivf_append,
            read_ivf_index,
        )

        for key, (_assigned, _cents, nprobe, path) in durable.items():
            if key not in appended.columns:
                continue  # a shadow-text index: the batch lacks its column
            try:
                ivf_append(self.spark, path, appended, key)
                assigned, cents = read_ivf_index(self.spark, path)
            except (OSError, ValueError, PySparkException, Py4JJavaError) as e:
                # never block the insert: the index is dropped and knn
                # runs the exact brute plan until it is rebuilt
                import warnings

                warnings.warn(
                    f"collection {self.alias!r}: dropped the IVF index "
                    f"on {key!r}, its append failed "
                    f"({type(e).__name__}: {e}); knn runs the exact "
                    f"scan until build_vector_index({key!r}) rebuilds it",
                    stacklevel=4,
                )
                continue
            self._vector_indexes[key] = (assigned, cents, nprobe, path)

    def _scan_store(self, stamp) -> DataFrame:
        """The scan of the persisted store whose files ``stamp`` lists.
        Spark's writer records the DataFrame schema in every footer;
        handing it to the reader spares the schema-inference job a bare
        ``read.parquet`` runs, so a write's re-scan and a new handle's
        first read start no Spark job. A store without that footer entry
        is scanned with inference."""
        import json
        import os as _os

        import pyarrow.parquet as pq

        path = self.database._collection_path(self.alias)
        reader = self.spark.read
        try:
            kv = pq.ParquetFile(_os.path.join(path, stamp[0][0])).metadata.metadata
            spark_schema = (kv or {}).get(
                b"org.apache.spark.sql.parquet.row.metadata"
            )
            if spark_schema is not None:
                reader = reader.schema(
                    T.StructType.fromJson(json.loads(spark_schema))
                )
        except (IndexError, OSError, ValueError, KeyError, TypeError) as e:
            _tier_log.debug(
                "collection %s: no writer schema in the store's footer, "
                "inferring it (%s: %s)", self.alias, type(e).__name__, e,
            )
        return reader.parquet(path)

    # ------------------------------------------------------------------ #
    # identity
    # ------------------------------------------------------------------ #
    @property
    def pk(self) -> Optional[str]:
        return self.identifier_attribute

    def set_identifier_attribute_name(self, name: str) -> None:
        self.identifier_attribute = name

    @staticmethod
    def object_identifier_col() -> F.Column:
        """Fallback identity when no pk: md5 of the serialized object
        (reference ``collection.py:1046-1063``)."""
        return F.md5(F.to_json(F.struct("*")))

    # ------------------------------------------------------------------ #
    # mutation (§2.2)
    # ------------------------------------------------------------------ #
    @staticmethod
    def _strip_nan(obj):
        """NaN -> None recursively (reference strips NaN on load,
        format_utils.py:124-142, asserted by its test_api.py:100-106)."""
        if isinstance(obj, dict):
            return {k: Collection._strip_nan(v) for k, v in obj.items()}
        if isinstance(obj, list):
            return [Collection._strip_nan(v) for v in obj]
        if isinstance(obj, float) and obj != obj:
            return None
        return obj

    def _objects_to_df(self, objs: Union[OBJECT, Sequence[OBJECT]]) -> DataFrame:
        if isinstance(objs, dict):
            objs = [objs]
        objs = [self._strip_nan(o) for o in objs]
        if self._df is not None or self.exists():
            schema = self.df.schema
        else:
            schema = induce_schema(objs)
        return self.spark.createDataFrame(objs, schema=schema)

    @staticmethod
    def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project ``df`` onto ``schema`` column order, null-filling missing
        columns (reference insert null-fill, duckdb_collection.py:24-47)."""
        cols = []
        for field in schema.fields:
            if field.name in df.columns:
                cols.append(F.col(field.name).cast(field.dataType))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        return df.select(*cols)

    def _pre_insert_hook(self, new_df: DataFrame) -> None:
        """Validate-on-modification (reference collection.py:274-278 gated by
        config.py:105-108): compile slot constraints to native filters over
        the APPENDED batch only — distributed, no per-object Python loop —
        and raise with a bounded sample of the violations."""
        if not (self.validate_modifications and self.constraints):
            return
        from linkml_store_spark.validate import constraint_violations

        bad = constraint_violations(new_df, self.constraints)
        sample = bad.select("__violations").limit(20).collect()
        if sample:
            msgs = [v for r in sample for v in r["__violations"]]
            raise ValueError(f"Validation errors: {msgs}")

    def insert(self, objs: Union[OBJECT, Sequence[OBJECT], DataFrame]) -> int:
        """Append objects; induces schema + creates the table on first insert."""
        new_df = objs if isinstance(objs, DataFrame) else self._objects_to_df(objs)
        self._pre_insert_hook(new_df)
        if self.exists():
            base = self.df
            new_df = self._align(new_df, base.schema)
            combined = base.unionByName(new_df)
        else:
            combined = new_df
        n = new_df.count()
        self._set_df(combined, appended=new_df)
        return n

    def replace(self, objs: Union[OBJECT, Sequence[OBJECT], DataFrame]) -> int:
        """delete-all + insert (reference collection.py:179-195)."""
        new_df = objs if isinstance(objs, DataFrame) else self._objects_to_df_fresh(objs)
        n = new_df.count()
        self._set_df(new_df)
        return n

    def _objects_to_df_fresh(self, objs: Union[OBJECT, Sequence[OBJECT]]) -> DataFrame:
        if isinstance(objs, dict):
            objs = [objs]
        objs = [self._strip_nan(o) for o in objs]
        return self.spark.createDataFrame(objs, schema=induce_schema(objs))

    def delete(self, objs: Union[OBJECT, Sequence[OBJECT]]) -> int:
        """Delete rows matching ALL fields of each object
        (reference duckdb_collection.py:49-66)."""
        if isinstance(objs, dict):
            objs = [objs]
        base = self.df
        cond = None
        for obj in objs:
            c = compile_where(dict(obj), base)
            cond = c if cond is None else (cond | c)
        if cond is None:
            return 0
        before = base.count()
        remaining = base.filter(~cond)
        after = remaining.count()
        self._set_df(remaining)
        return before - after

    def delete_where(self, where: WhereClause = None, missing_ok: bool = True) -> int:
        """Delete by filter; returns number deleted
        (reference duckdb_collection.py:68-93)."""
        if not self.exists():
            if missing_ok:
                return 0
            raise ValueError(f"collection {self.alias!r} does not exist")
        base = self.df
        cond = compile_where(where, base)
        if cond is None:
            n = base.count()
            self._set_df(base.limit(0))
            return n
        n = base.filter(cond).count()
        self._set_df(base.filter(~cond | cond.isNull()))
        return n

    def update(self, objs: Union[OBJECT, Sequence[OBJECT]]) -> int:
        """Per-pk SET of provided fields (reference collection.py:362-370).

        Spark-first: one broadcast join of the updates against the table,
        coalescing updated fields — the Delta-MERGE shape on plain parquet.
        """
        if isinstance(objs, dict):
            objs = [objs]
        pk = self._require_pk()
        base = self.df
        upd = self.spark.createDataFrame(list(objs))
        upd_cols = [c for c in upd.columns if c != pk]
        joined = base.alias("t").join(
            F.broadcast(upd).alias("u"), on=F.col(f"t.{pk}") == F.col(f"u.{pk}"), how="left"
        )
        sel = []
        for field in base.schema.fields:
            c = field.name
            if c in upd_cols:
                sel.append(F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c))
            else:
                sel.append(F.col(f"t.{c}").alias(c))
        self._set_df(joined.select(*sel))
        return len(objs)

    def upsert(
        self,
        objs: Union[OBJECT, Sequence[OBJECT]],
        filter_fields: Optional[List[str]] = None,
        update_fields: Optional[List[str]] = None,
    ) -> int:
        """Insert-or-update keyed by ``filter_fields``
        (reference collection.py:234-258, mongodb_collection.py:91-129).

        MERGE semantics on a DataFrame: anti-join finds inserts, join+coalesce
        applies updates; one shuffle total, broadcast when updates are small.
        """
        if isinstance(objs, dict):
            objs = [objs]
        objs = list(objs)
        if not self.exists():
            return self.insert(objs)
        incoming = self.spark.createDataFrame(objs)
        self.upsert_df(incoming, filter_fields=filter_fields, update_fields=update_fields)
        return len(objs)

    def upsert_df(
        self,
        incoming: DataFrame,
        filter_fields: Optional[List[str]] = None,
        update_fields: Optional[List[str]] = None,
        broadcast_incoming: bool = True,
    ) -> None:
        """DataFrame-native MERGE: rows never pass through the driver, so an
        arbitrarily large incoming batch (a streaming micro-batch in
        ``stream_upsert_into``'s foreachBatch) upserts without driver
        materialization. Same semantics as ``upsert``; set
        ``broadcast_incoming=False`` when the batch rivals the table size
        (the join then shuffles on the key instead of broadcasting)."""
        if not self.exists():
            self.insert(incoming)
            return
        if filter_fields is None:
            filter_fields = [self._require_pk()]
        base = self.df
        incoming = self._align(incoming, base.schema)
        if update_fields is None:
            update_fields = [c for c in incoming.columns if c not in filter_fields]
        u = F.broadcast(incoming) if broadcast_incoming else incoming
        matched_keys = [F.col(f"t.{k}").eqNullSafe(F.col(f"u.{k}")) for k in filter_fields]
        on = matched_keys[0]
        for k in matched_keys[1:]:
            on = on & k
        joined = base.alias("t").join(u.alias("u"), on=on, how="left")
        sel = []
        for field in base.schema.fields:
            c = field.name
            if c in update_fields:
                sel.append(F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c))
            else:
                sel.append(F.col(f"t.{c}").alias(c))
        updated = joined.select(*sel)
        inserts = incoming.alias("u").join(
            base.select(*filter_fields).alias("t"), on=filter_fields, how="left_anti"
        )
        self._set_df(updated.unionByName(inserts.select(*[f.name for f in base.schema.fields])))

    def materialize(self) -> None:
        """Cut the current plan's lineage via ``localCheckpoint`` —
        partitions are pinned in EXECUTOR block storage, never the driver.
        Used by streaming upsert (each micro-batch layers a join+union on
        the plan; unpinned, the plan deepens per batch and can reference
        expired micro-batch sources) and useful after long merge chains."""
        if self._df is not None:
            self._df = self._df.localCheckpoint(eager=True)

    # ------------------------------------------------------------------ #
    # retrieval (§2.4)
    # ------------------------------------------------------------------ #
    def _require_pk(self) -> str:
        if not self.identifier_attribute:
            raise ValueError(f"collection {self.alias!r} has no identifier attribute")
        return self.identifier_attribute

    def _note_unclustered_hit(self, col: str, allow_float: bool = False) -> None:
        """Record one zone-refused facet/count/range/top-k query on
        ``col``; advise at the threshold. ``allow_float``: the range-count
        and top-k shapes prune on numeric footer stats including
        float/double/date/timestamp sort keys, so those callers widen the
        dtype gate (the value zone map stays string/int). A column it
        cannot advise on returns quietly: advice must not break a
        query."""
        if col in self._cluster_advised or self._version.stamp is None:
            return
        try:
            dt = self.df.schema[col].dataType
        except KeyError:  # not a top-level column: no footer stats to use
            return
        ok_types = (T.StringType, T.IntegerType, T.LongType,
                    T.ShortType, T.ByteType)
        if allow_float:
            ok_types = ok_types + (T.FloatType, T.DoubleType,
                                   T.DateType, T.TimestampType)
        if not isinstance(dt, ok_types):
            return
        self._cluster_hits[col] = self._cluster_hits.get(col, 0) + 1
        if self._cluster_hits[col] < CLUSTER_ADVICE_THRESHOLD:
            return
        self._cluster_advised.add(col)
        totals = self._footer_totals()
        n = None if totals is None else totals[0]
        if n is None or n < CLUSTER_ADVICE_MIN_ROWS:
            return  # compaction overhead isn't worth it below this
        import warnings

        warnings.warn(
            f"{self._cluster_hits[col]} facet/count/range/top-k "
            f"queries on {col!r} scanned this {n}-row unclustered "
            f"store; one compact(sort_cols=[{col!r}]) rewrite makes "
            f"them footer-metadata / row-group-skipping answers.",
            stacklevel=4,
        )

    def _value_predicate_count(self, col: str, values: list) -> Optional[int]:
        """The composed equality/$in count over the persisted store:
        footer-decided files from the value zone map, the undecided
        remainder through the pushed-In JVM scan of just those files (its
        plan memoized for paging). None when the store path is
        unavailable (caller runs the plan)."""
        import os as _os

        from linkml_store_spark.operators.topk import (
            _file_value_zone_decision,
        )

        path = self.database._collection_path(self.alias)
        if not _os.path.exists(path):
            return None
        metas = self._store_metas()  # one footer pass, memoized
        decision = None
        try:
            decision = _file_value_zone_decision(
                path, col, values, metas=metas
            )
        except Exception:  # noqa: BLE001 — stats are an optimization only
            decision = None
        if decision is None:
            meta, undecided = 0, None  # None = scan the whole store
        else:
            meta, undecided = decision
            if not undecided:
                return meta  # pure driver metadata — zero jobs
            if not meta and len(undecided) == len(metas or ()):
                # footers decided NOTHING (every file undecided): an
                # unclustered layout — the clustering advisor counts
                # repeats of this shape. meta == 0 with a smaller scan
                # set means files were decided OUT — a zone success, not
                # advisor material (round-9 advisor finding)
                self._note_unclustered_hit(col)
        key = (
            "in_scan", col, tuple(values),
            "all" if undecided is None else tuple(undecided),
        )

        def count_plan():
            rest = (
                self.df if undecided is None
                else self.spark.read.parquet(*undecided)
            )
            return rest.filter(F.col(col).isin(list(values))).agg(
                F.count(F.lit(1)).alias("n")
            )

        return meta + self._version.memo(key, count_plan).collect()[0][0]

    def _current_stamp(self):
        """``topk.store_stamp`` of this collection's store directory."""
        from linkml_store_spark.operators.topk import store_stamp

        return store_stamp(self.database._collection_path(self.alias))

    def _sync_store_version(self) -> None:
        """Start a new store version when the store's files changed since
        ``_df`` last scanned them — a write through another handle on the
        same location. Without this the footer stats, the local count
        memo and the store image serve the old rows, and the Spark scan
        names deleted files. Taken at each local-tier entry and in
        :meth:`size`: one directory walk with a stat per file."""
        if self._df is None or not self.database.location:
            return
        if self._current_stamp() == self._version.stamp:
            return
        _tier_log.debug(
            "collection %s: store files changed outside this handle; "
            "dropping its caches, image and index registrations", self.alias,
        )
        self._new_store_version()

    def _scans_store(self) -> bool:
        """True when ``_df`` is the scan of the persisted store's current
        files (its version carries their stamp), so footer statistics
        describe the live data. Resolves ``df`` on a new handle (its
        first scan stamps the version), else syncs with the files."""
        if not (self.database.location and self.exists()):
            return False
        if self._df is None:
            self.df  # a new handle's first scan stamps its version
        else:
            self._sync_store_version()
        return self._version.stamp is not None

    def _store_image(self, schema):
        """This store version's ``localexec.StoreImage`` (created empty;
        columns load on use). Call only after :meth:`_local_tier_gate`
        admitted the call, with the ``schema`` it returned."""
        from linkml_store_spark.operators import localexec as lx

        return self._version.memo(("image",), lambda: lx.StoreImage(
            self._store_metas(), schema, name=self.alias,
        ))

    def _store_metas(self):
        """``[(file, pyarrow FileMetaData)]`` of the persisted store, read
        ONCE per store version. Footer metadata is planning-time state
        (like row-group stats): the zone decisions, the local-tier
        gate and the unfiltered total all consult the same
        footers — without this memo one routed count was paying THREE
        redundant driver sweeps per execution (bench round 7). None when
        the store is missing or beyond the sweep cap."""
        import os as _os

        from linkml_store_spark.operators.topk import _footer_metas

        def read():
            path = self.database._collection_path(self.alias)
            return _footer_metas(path) if _os.path.exists(path) else None

        try:
            return self._version.memo(("metas",), read)
        except Exception:  # noqa: BLE001 — stats are an optimization only
            return None

    def _footer_totals(self) -> Optional[Tuple[int, int]]:
        """``localexec.footer_totals`` of the store's footers — (rows,
        uncompressed bytes), exact metadata — memoized per store version;
        None when :meth:`_store_metas` is. The row half is the
        unfiltered total of a Query and of :meth:`size`: zero jobs."""
        from linkml_store_spark.operators import localexec as lx

        metas = self._store_metas()
        if metas is None:
            return None
        return self._version.memo(
            ("footer_totals",), lambda: lx.footer_totals(metas)
        )

    def query(self, query: Query) -> QueryResult:
        """Execute the declarative Query IR (reference collection.py:375-398).

        Routing: a query whose store passes the local tier's static
        footer gate for its shape class (``count``, ``page`` or ``agg``;
        ``localexec.local_tier_admits``) and whose clauses compile into
        the faithfully-mirrored subset executes DRIVER-LOCALLY with Arrow
        kernels (``operators/localexec.py``) — zero Spark jobs, none of
        the per-job scheduling floor. Everything else — stores over the
        class cap, unsupported operators/types, facet-bearing queries, or
        a local run that raises — takes the distributed plan unchanged.
        """
        if not self.exists():
            return QueryResult(num_rows=0, rows=[], query=query)
        if query.join and not query.group_by:
            raise ValueError(
                "Query.join is part of the join+aggregate IR — set group_by"
            )
        if query.having is not None and not query.group_by:
            raise ValueError(
                "Query.having filters aggregate rows — set group_by"
            )
        if query.include_facet_counts and query.group_by:
            # facets count the ROW space; an aggregate query's page is the
            # GROUP space — a combined contract is undefined, so fail
            # loudly instead of silently dropping the facet request
            raise ValueError(
                "include_facet_counts and group_by cannot combine — "
                "facet the row space with query_facets() instead"
            )
        plan = self._local_tier_plan(query)
        if plan is not None:
            try:
                return plan()
            except Exception as e:  # noqa: BLE001 — never fail a query here
                _tier_log.debug(
                    "collection %s: local-tier query failed, running the "
                    "Spark path (%s: %s)", self.alias, type(e).__name__, e,
                )
        return self._query_spark(query)

    def _local_tier_plan(self, query: Query):
        """A closure returning the QueryResult when this query is
        local-tier eligible on this store, else None. Eligibility
        is decided entirely from driver-side state: the footer gate for
        the query's shape class, store-scan purity, and a full compile of
        where/sort/select into the mirrored Arrow subset
        (``operators/localexec.py``)."""
        from linkml_store_spark.operators import localexec as lx

        if query.include_facet_counts:
            return None
        gate = self._local_tier_gate(_query_class(query))
        if gate is None:
            return None
        schema, total_rows = gate
        if query.group_by:
            return self._local_tier_agg_plan(query, schema)
        try:
            cond = lx.compile_where_local(query.where_clause, schema)
            limit = DEFAULT_LIMIT if query.limit is None else query.limit
            eff_limit = None if (limit is None or limit < 0) else limit
            sort_specs = [_sort_parse(s) for s in (query.sort_by or [])]
            sel = list(query.select_cols) if query.select_cols else None
            if sel is not None and any(
                "." in c or "[" in c for c in sel
            ):
                return None
            # compile-check the page shape now so refusals never reach
            # the executor (sort cols plain+supported, outputs mappable)
            for c, _d in sort_specs:
                lx._col_type(schema, c)
            lx._check_output_types(
                schema, sel if sel is not None else [f.name for f in schema]
            )
        except lx.Unsupported:
            return None
        except Exception:  # noqa: BLE001 — any analysis surprise: Spark path
            return None

        session_tz = self._session_tz()
        offset = query.offset or 0

        def run() -> QueryResult:
            ck = ("count", "local", repr(query.where_clause))
            img = self._store_image(schema)
            if eff_limit == 0:
                num_rows = self._version.memo(
                    ck, lambda: lx.local_count(img, schema, cond, total_rows)
                )
                return QueryResult(num_rows=num_rows, rows=[], query=query)
            # the page's mask pass yields the count with it
            num_rows, rows = lx.local_count_page(
                img, schema, cond, sel, sort_specs, offset,
                eff_limit, total_rows, session_tz=session_tz,
            )
            self._version.memo(ck, lambda: num_rows)
            return QueryResult(num_rows=num_rows, rows=rows, query=query)

        return run

    def _local_tier_agg_plan(self, query: Query, schema):
        """The grouped-aggregation branch of :meth:`_local_tier_plan`:
        compile the where + group keys + aggregate specs into the Arrow
        subset, or None. The page tail (sort on keys/aliases, offset,
        limit, select) runs over the tiny aggregate table in-process."""
        from linkml_store_spark.operators import localexec as lx

        session_tz = self._session_tz()
        join = None
        try:
            if query.join:
                other = self.database.get_collection(
                    query.join["collection"]
                )
                ogate = other._local_tier_gate("agg")
                if ogate is None:
                    return None
                oschema, _orows = ogate
                left_on = query.join["left_on"]
                right_on = query.join["right_on"]
                how = query.join.get("how", "inner")
                if how not in ("inner", "left", "semi", "anti"):
                    return None
                lnames = {f.name for f in schema}
                rnames = {f.name for f in oschema}
                if how in ("inner", "left") and lnames & rnames:
                    # ambiguous columns: Spark would carry both sides;
                    # the Arrow join coalesces — not mirrored, refuse.
                    # Semi/anti surface only left columns: no ambiguity.
                    return None
                if left_on not in lnames or right_on not in rnames:
                    return None
                # Spark's joined frame keeps right_on; the Arrow join
                # drops it — refuse queries that reference it downstream
                import pyarrow as pa

                if how in ("semi", "anti"):
                    merged = schema
                else:
                    merged = pa.schema(
                        list(schema)
                        + [f for f in oschema if f.name != right_on]
                    )
                if lx._col_type(schema, left_on) != lx._col_type(
                    oschema, right_on
                ):
                    return None
                join = (
                    other._store_image(oschema), oschema, left_on, right_on,
                    how,
                )
            # compile/validate against the post-join column space; the
            # executor reads each side with its OWN schema
            compile_schema = merged if join is not None else schema
            cond = lx.compile_where_local(query.where_clause, compile_schema)
            lx.validate_group_agg(
                compile_schema, query.group_by, query.aggs,
                session_tz=session_tz,
            )
            aggs = dict(query.aggs or {"count": ("count", None)})
            having_cond = None
            if query.having is not None:
                # HAVING compiles at plan time against the PREDICTED
                # aggregate schema (keys + alias types); any uncertainty
                # there refuses to the Spark path before any work runs
                agg_schema = lx.predicted_agg_schema(
                    compile_schema, query.group_by, aggs
                )
                having_cond = lx.compile_where_local(
                    query.having, agg_schema
                )
            out_names = [
                g if isinstance(g, str) else g[0] for g in query.group_by
            ] + list(aggs)
            sort_specs = [_sort_parse(s) for s in (query.sort_by or [])]
            if any(c not in out_names for c, _d in sort_specs):
                return None
            sel = list(query.select_cols) if query.select_cols else None
            if sel is not None and any(c not in out_names for c in sel):
                return None
        except lx.Unsupported:
            return None
        except Exception:  # noqa: BLE001
            return None
        limit = DEFAULT_LIMIT if query.limit is None else query.limit
        eff_limit = None if (limit is None or limit < 0) else limit
        offset = query.offset or 0

        def run() -> QueryResult:
            total, table = lx.local_group_agg(
                self._store_image(schema), schema, cond, query.group_by, aggs,
                session_tz=session_tz, join=join,
            )
            if having_cond is not None:
                cols = {
                    c: table.column(c).combine_chunks()
                    for c in sorted(having_cond.cols)
                }
                table = table.filter(having_cond.fn(cols))
                total = table.num_rows  # post-HAVING group count
            if eff_limit == 0:
                rows: List[OBJECT] = []
            else:
                rows = lx.paginate_table(
                    table, sort_specs, offset, eff_limit, sel,
                    session_tz=session_tz,
                )
            return QueryResult(num_rows=total, rows=rows, query=query)

        return run

    def _query_spark(self, query: Query) -> QueryResult:
        """The distributed path of :meth:`query` (all stores beyond the
        local-tier gate, and every shape the local compiler refuses)."""
        if not self.exists():
            return QueryResult(num_rows=0, rows=[], query=query)
        if query.group_by:
            return self._query_spark_agg(query)
        self.df  # a first scan starts the version the memos below fill
        # the filtered plan is built LAZILY: a footer-answered count with
        # a prepared page plan (or limit=0) never needs it at all
        _df_cache = [None]

        def _filtered():
            if _df_cache[0] is None:
                _df_cache[0] = apply_where(self.df, query.where_clause)
            return _df_cache[0]

        num_rows = None
        if self._version.stamp is not None:
            num_rows = self._footer_count(query.where_clause)
        if num_rows is None:
            num_rows = self._version.memo(
                ("fcount", repr(query.where_clause)),
                lambda: _filtered().agg(F.count(F.lit(1)).alias("n")),
            ).collect()[0][0]
        limit = DEFAULT_LIMIT if query.limit is None else query.limit
        rows: List[OBJECT] = []
        if limit != 0:  # a count-only query (limit=0) builds no page
            # Page-plan reuse (prepared-statement analog): an identical
            # Query re-executes the SAME JVM Dataset — paging UIs and
            # dashboards re-issue one shape, and a fresh Python build +
            # Catalyst analysis costs ~50-150 ms per call at interactive
            # latencies. Results are NOT memoized (every action re-scans).
            pk = (
                "page", repr(query.where_clause),
                tuple(repr(s) for s in (query.sort_by or [])),
                query.offset or 0, limit,
                tuple(query.select_cols or []),
            )
            page = self._version.memo(
                pk, lambda: self._page_plan(query, limit, _filtered())
            )
            rows = _rows_to_dicts(page.collect())
        facet_counts = None
        if query.include_facet_counts:
            facet_counts = query_facets(
                self.df, query.where_clause, query.facet_slots
            )
        return QueryResult(num_rows=num_rows, rows=rows, facet_counts=facet_counts, query=query)

    def _footer_count(self, where) -> Optional[int]:
        """The pre-pagination total of ``where`` over the persisted store
        from its footers where they can answer (queries.py:41-44),
        memoized per store version — paging re-issues one predicate with
        different offsets. None: the caller runs the count plan.

        * no filter: the footers' exact row total, zero jobs;
        * a single-column numeric range/equality: the zone-map count
          (``operators/topk.stats_filtered_count``) — files whose row
          groups footer min/max decide are answered from METADATA, only
          boundary files scan;
        * a single-column equality/``$in``: the value zone map, then the
          pushed-In count of the files it leaves undecided
          (:meth:`_value_predicate_count`)."""
        if where in (None, {}, []):
            totals = self._footer_totals()
            return None if totals is None else totals[0]
        rng = _simple_range_clause(where, self.df)
        if rng is not None:
            try:
                n = self._version.memo(
                    ("count",) + rng, lambda: self._range_count(rng)
                )
            except Exception:  # noqa: BLE001 — optimization only
                n = None
            if n is not None:
                return n
        vc = _simple_value_clause(where, self.df)
        if vc is None:
            return None
        try:
            return self._version.memo(
                ("vcount", vc[0], tuple(vc[1])),
                lambda: self._value_predicate_count(*vc),
            )
        except Exception:  # noqa: BLE001 — optimization only
            return None

    def _range_count(self, rng) -> Optional[int]:
        """``topk.stats_filtered_count`` of a :func:`_simple_range_clause`
        over the store; None when the store path is missing."""
        import os as _os

        from linkml_store_spark.operators.topk import stats_filtered_count

        path = self.database._collection_path(self.alias)
        if not _os.path.exists(path):
            return None
        rinfo: Dict[str, Any] = {}
        n = stats_filtered_count(
            self.spark, path, *rng,
            plan_memo=self._version.memo,
            metas=self._store_metas(),
            route_info=rinfo,
        )
        if rinfo.get("zone") == "undecided_all":
            # footers exist but decided nothing: the unclustered-layout
            # signature the clustering advisor counts (range shape)
            self._note_unclustered_hit(rng[0], allow_float=True)
        return n

    def _page_plan(self, query: Query, limit: int, page: DataFrame) -> DataFrame:
        """The sort/offset/limit/projection plan of a find over ``page``
        (the filtered scan)."""
        if (
            query.sort_by
            and query.where_clause is None
            and 0 < limit <= 100_000
            and self._version.stamp is not None
        ):
            page = self._topk_prune(
                page, query.sort_by[0], (query.offset or 0) + limit
            )

        def _project(d):
            return d.select(*[path_col(c).alias(c.replace(".", "_")) if "." in c else F.col(c) for c in query.select_cols])

        # project BEFORE the sort when the selection covers every sort key:
        # orderBy+limit becomes TakeOrderedAndProject, whose per-partition
        # heaps store WHOLE rows — projecting first keeps wide payload
        # columns out of every heap sift (same fix as index/search.knn's
        # keep_vector). Catalyst cannot do this itself when the projection
        # renames dotted paths.
        projected_early = False
        if query.select_cols and query.sort_by:
            sort_bases = {_sort_base(s) for s in query.sort_by}
            plain = {c for c in query.select_cols if "." not in c}
            if sort_bases <= plain:
                page = _project(page)
                projected_early = True
        if query.sort_by:
            page = page.orderBy(*[_sort_col(s) for s in query.sort_by])
        if query.offset:
            page = page.offset(query.offset)
        if limit >= 0:
            page = page.limit(limit)
        if query.select_cols and not projected_early:
            page = _project(page)
        return page

    def _topk_prune(self, page: DataFrame, spec, k: int) -> DataFrame:
        """Statistics-pruned top-k as the DEFAULT sort+limit plan: the
        provably-safe footer threshold for the PRIMARY sort key pushed
        into the scan of an unfiltered sort (operators/topk.py — row
        groups whose max falls below τ are never read). Pruning on the
        first key alone is safe for multi-key sorts too: every
        lexicographic top-k row has a first-key value >= the k-th largest
        first-key value >= τ (secondary keys only reorder within
        first-key ties). Null ordering stays correct: _sort_col pins
        NULLS LAST both directions, and topk_threshold refuses to prune
        when the non-null mass <= k (the only case nulls can reach the
        page). ``page`` unchanged whenever the stats cannot decide."""
        from pyarrow import ArrowException

        from linkml_store_spark.operators.topk import topk_threshold

        try:
            # _sort_parse handles tuple specs too — the prune path must
            # see the same plan for every accepted spelling
            base, descending = _sort_parse(spec)
            kind, st = self._version.memo(
                ("sort_stats", base), lambda: self._sort_stats(base)
            )
            tau = topk_threshold(
                st, k, descending, min_mass_only=(kind == "str")
            )
            if tau is None:
                return page
            page = page.filter(
                F.col(base) >= tau if descending else F.col(base) <= tau
            )
        except (ArrowException, OSError, TypeError, ValueError):
            return page  # footer stats are an optimization only
        if kind == "num" and len(st) > 1 and not any(
            ((mx < tau) if descending else (mn > tau)) for mn, mx, _r in st
        ):
            # tau pushed but NO row group is skippable: every group's
            # range straddles the top-k threshold — the unclustered-layout
            # signature (top-k shape); one compact(sort_cols=[base]) makes
            # the prune skip all but the boundary groups
            self._note_unclustered_hit(base, allow_float=True)
        return page

    def _sort_stats(self, col: str):
        """(kind, row-group stats) of sort key ``col`` from the store's
        footers: ``"num"`` exact min/max, or ``"str"`` for a string key,
        whose stats only the truncation-safe min-mass bound may use
        (operators/topk.py round 6)."""
        from linkml_store_spark.operators.topk import (
            _row_group_stats,
            _row_group_stats_string,
        )

        path = self.database._collection_path(self.alias)
        metas = self._store_metas()
        st = _row_group_stats(path, col, metas=metas)
        if st is not None:
            return "num", st
        return "str", _row_group_stats_string(path, col, metas=metas)

    @staticmethod
    def _agg_exprs(aggs) -> List[F.Column]:
        """Query.aggs specs -> aliased aggregate Columns (shared between
        the distributed agg path and tests)."""
        from linkml_store_spark.operators.localexec import is_plain_name

        def _acol(c):
            # plain name -> column ref; anything else is the restricted
            # arithmetic grammar, identical in SQL and in the local tier
            return F.col(c) if is_plain_name(c) else F.expr(c)

        out = []
        for alias, spec in (aggs or {"count": ("count", None)}).items():
            fn = str(spec[0]).lower()
            col = spec[1] if len(spec) > 1 else None
            if fn == "count":
                e = (
                    F.count(F.lit(1)) if col in (None, "*")
                    else F.count(F.col(col))
                )
            elif fn == "sum":
                e = F.sum(_acol(col))
            elif fn == "avg":
                e = F.avg(_acol(col))
            elif fn == "min":
                e = F.min(_acol(col))
            elif fn == "max":
                e = F.max(_acol(col))
            elif fn == "max_by":
                # argmax: the value carried by the lexicographically-max
                # order tuple per group (struct comparison = tuple order)
                orders = [F.col(o) for o in spec[2]]
                e = F.max_by(F.col(col), F.struct(*orders))
            elif fn == "min_by":
                orders = [F.col(o) for o in spec[2]]
                e = F.min_by(F.col(col), F.struct(*orders))
            elif fn == "count_distinct":
                e = F.countDistinct(F.col(col))
            else:
                raise ValueError(f"unsupported aggregate fn {fn!r}")
            out.append(e.alias(alias))
        return out

    @staticmethod
    def _group_key_exprs(group_by) -> List[F.Column]:
        """Query.group_by entries -> grouping Columns. Plain names pass
        through; ``(alias, ("date_trunc", unit, col))`` derives the time
        bucket (grouping happens on the 8-byte truncated timestamp)."""
        out = []
        for g in group_by:
            if isinstance(g, str):
                out.append(F.col(g))
            else:
                alias, (fn, unit, col) = g
                if str(fn) != "date_trunc":
                    raise ValueError(f"unsupported derived group key {fn!r}")
                out.append(F.date_trunc(unit, F.col(col)).alias(alias))
        return out

    def _query_spark_agg(self, query: Query) -> QueryResult:
        """Grouped aggregation through the distributed plan (the
        Query.group_by/aggs/join IR extension): [join ->] filter -> hash
        aggregate (partial map-side combine; the shuffle moves only group
        partials) -> optional sort/offset/limit/projection over the tiny
        aggregate. The join side is broadcast whenever its store is
        footer-known small (<= 64 MB uncompressed, the parquet footer's
        row-group ``total_byte_size`` — the in-memory measure that
        actually bounds the broadcast) — the fact side then
        never shuffles, the correct plan at any scale where the dim fits.

        ``num_rows`` is the pre-pagination GROUP count; when the page is
        untruncated it is free (len of the page), otherwise one count
        over the aggregate plan."""
        self.df  # a first scan starts the version the memos below fill
        other = None
        if query.join:
            other = self.database.get_collection(query.join["collection"])
            other.df  # a first scan starts the version the key names
        gk = (
            "agg", repr(query.where_clause), repr(query.having),
            repr(query.group_by),
            repr(sorted((query.aggs or {}).items())), repr(query.join),
            None if other is None else other._version.serial,
        )
        gdf = self._version.memo(gk, lambda: self._agg_plan(query))
        limit = DEFAULT_LIMIT if query.limit is None else query.limit

        def _page():
            page = gdf
            if query.sort_by:
                page = page.orderBy(*[_sort_col(s) for s in query.sort_by])
            if query.offset:
                page = page.offset(query.offset)
            if limit is not None and limit >= 0:
                page = page.limit(limit)
            if query.select_cols:
                page = page.select(*query.select_cols)
            return page

        page = self._version.memo(gk + (
            tuple(repr(s) for s in (query.sort_by or [])),
            query.offset or 0, query.limit,
            tuple(query.select_cols or []),
        ), _page)
        rows = _rows_to_dicts(page.collect())
        untruncated = (
            not query.offset and (limit is None or limit < 0 or len(rows) < limit)
        )
        if untruncated:
            num_rows = len(rows)
        else:
            num_rows = fast_count(gdf)
        return QueryResult(num_rows=num_rows, rows=rows, query=query)

    def _agg_plan(self, query: Query) -> DataFrame:
        """[join ->] filter -> group -> aggregate [-> HAVING] plan of an
        aggregate Query, before its page tail."""
        base = self.df
        if query.join:
            other = self.database.get_collection(query.join["collection"])
            odf = other.df
            totals = other._footer_totals()
            if totals is not None and totals[1] <= 64 * (1 << 20):
                odf = F.broadcast(odf)
            how = query.join.get("how", "inner")
            try:
                spark_how = {
                    "inner": "inner", "left": "left",
                    "semi": "left_semi", "anti": "left_anti",
                }[how]
            except KeyError:
                raise ValueError(
                    f"join how={how!r}: expected inner|left|semi|anti"
                ) from None
            base = base.join(
                odf,
                base[query.join["left_on"]] == odf[query.join["right_on"]],
                spark_how,
            )
        gdf = apply_where(base, query.where_clause).groupBy(
            *self._group_key_exprs(query.group_by)
        ).agg(*self._agg_exprs(query.aggs))
        if query.having is not None:
            # SQL HAVING: the same where-language, evaluated over the
            # aggregate row space (group keys + agg aliases) — Catalyst
            # keeps the filter above the aggregate, and num_rows becomes
            # the post-HAVING group count
            gdf = apply_where(gdf, query.having)
        return gdf

    def find(
        self,
        where: WhereClause = None,
        select_cols: Optional[List[str]] = None,
        limit: Optional[int] = None,
        offset: Optional[int] = None,
        sort_by: Optional[List[str]] = None,
        **kwargs,
    ) -> QueryResult:
        """Filter + project + paginate; returns page AND pre-limit total count
        (reference collection.py:460-504; default LIMIT 100; limit=-1 means
        unlimited per sql_utils.py:94-104)."""
        q = Query(
            from_table=self.alias,
            where_clause=where,
            select_cols=select_cols,
            limit=limit,
            offset=offset,
            sort_by=sort_by,
            **kwargs,
        )
        return self.query(q)

    def explain(
        self,
        where: WhereClause = None,
        select_cols: Optional[List[str]] = None,
        mode: str = "formatted",
    ) -> str:
        """The physical plan for a find() — shows predicate pushdown
        (`PushedFilters`), column pruning (`ReadSchema`), and codegen spans.
        The engine's analog of EXPLAIN; plan shapes are regression-tested in
        tests/test_plans.py. The report leads with the route the find()
        takes: the driver-local Arrow tier when the static footer gate
        admits it (the physical plan below is then what the distributed
        path would run), else the distributed plan, with the gate's
        numbers either way."""
        header = self._route_report(
            Query(where_clause=where, select_cols=select_cols)
        )
        df = apply_where(self.df, where)
        if select_cols:
            df = df.select(*select_cols)
        return header + df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    def _route_report(self, query: Query) -> str:
        """The explain header: the tier :meth:`query` takes for ``query``
        and the gate numbers that decided it."""
        from linkml_store_spark.operators import localexec as lx

        def spark_route(why: str) -> str:
            return f"== Route ==\nDistributed plan: {why}\n\n"

        if not lx.local_tier_enabled():
            return spark_route("SPARK_GRAFT_LOCAL_TIER=0")
        metas = self._store_metas() if self._scans_store() else None
        if not metas:
            return spark_route("no persisted parquet footers")
        kind = _query_class(query)
        rows, nbytes = self._footer_totals()
        gate = (
            f"{rows} footer rows, {kind} cap {lx.LOCAL_TIER_CAPS[kind]}; "
            f"{nbytes} uncompressed bytes, cap {lx.LOCAL_TIER_MAX_BYTES}"
        )
        if not lx.local_tier_admits(kind, rows, nbytes):
            return spark_route(f"store over the gate ({gate})")
        if self._local_tier_plan(query) is None:
            return spark_route("clauses outside the local tier's Arrow subset")
        img = self._version.memos.get(("image",))
        if img is not None and img.columns_loaded:
            image = (
                f"resident, {img.nbytes} bytes, columns "
                f"{', '.join(img.columns_loaded)}"
            )
        else:
            image = "not resident (columns load on the first read)"
        return (
            "== Local Tier ==\nDriver-local Arrow execution: footer rows "
            f"inside the gate ({gate})\nStore image: {image}\n\n"
        )

    def find_iter(
        self, where: WhereClause = None, page_size: int = 100
    ) -> Iterator[OBJECT]:
        """Streaming iteration without pagination re-scans: Spark's
        toLocalIterator fetches partition-at-a-time
        (reference offset-paging collection.py:506-529)."""
        df = apply_where(self.df, where)
        for row in df.toLocalIterator(prefetchPartitions=True):
            yield row.asDict(recursive=True)

    def get(self, ids: Union[Any, List[Any]]) -> QueryResult:
        """pk lookup, multi-id via $in (reference collection.py:425-458)."""
        pk = self._require_pk()
        if not isinstance(ids, list):
            ids = [ids]
        return self.find({pk: {"$in": ids}}, limit=-1)

    def get_one(self, id: Any) -> Optional[OBJECT]:
        res = self.get([id])
        return res.rows[0] if res.rows else None

    def peek(self, limit: int = 10) -> List[OBJECT]:
        return _rows_to_dicts(self.df.limit(limit).collect())

    def rows(self) -> List[OBJECT]:
        return _rows_to_dicts(self.df.collect())

    def rows_iter(self) -> Iterator[OBJECT]:
        for row in self.df.toLocalIterator():
            yield row.asDict(recursive=True)

    def size(self) -> int:
        if not self.exists():
            return 0
        if self._scans_store():
            totals = self._footer_totals()
            if totals is not None:
                return totals[0]
        return fast_count(self.df)

    # ------------------------------------------------------------------ #
    # aggregation (§2.5)
    # ------------------------------------------------------------------ #
    def query_facets(
        self,
        where: WhereClause = None,
        facet_columns: Optional[Sequence] = None,
        facet_limit: int = DEFAULT_FACET_LIMIT,
        facet_min_count: int = 1,
    ):
        local = self._local_tier_facets(
            where, facet_columns, facet_limit, facet_min_count
        )
        if local is not None:
            return local
        info: Dict[str, Any] = {}
        res = query_facets(
            self.df, where, facet_columns, facet_limit, facet_min_count,
            route_info=info,
        )
        # clustering advisor: an unfiltered low-cardinality facet the zone
        # route could NOT answer from footers is exactly the query one
        # compact(sort_cols=[col]) turns into driver metadata
        if where in (None, {}, []):
            decided = info.get("zone_decided", set())
            for col, vals in res.items():
                if (
                    isinstance(col, str)
                    and col not in decided
                    and 2 <= len(vals) <= 50
                ):
                    self._note_unclustered_hit(col)
        return res

    def _session_tz(self) -> Optional[str]:
        """spark.sql.session.timeZone, memoized per Database — the lookup
        is a Py4J round-trip and sits on the local tier's per-query path."""
        tz = getattr(self.database, "_session_tz_memo", False)
        if tz is False:
            try:
                tz = self.spark.conf.get("spark.sql.session.timeZone")
            except Exception:  # noqa: BLE001
                tz = None
            self.database._session_tz_memo = tz
        return tz

    def _local_tier_gate(self, kind: str):
        """(schema, total_rows) when this store's footers admit a ``kind``
        call to the local tier (``localexec.local_tier_admits``), else
        None — the shared gate of every local-tier entry point."""
        from linkml_store_spark.operators import localexec as lx

        if not self._scans_store():
            return None
        metas = self._store_metas()
        if not metas:
            return None
        total_rows, total_bytes = self._footer_totals()
        if not lx.local_tier_admits(kind, total_rows, total_bytes):
            return None
        try:
            import pyarrow.parquet as pq

            schema = self._version.memo(
                ("local_schema",),
                lambda: pq.ParquetFile(metas[0][0]).schema_arrow,
            )
        except Exception:  # noqa: BLE001
            return None
        return schema, total_rows

    def _local_tier_facets(
        self, where, facet_columns, facet_limit, facet_min_count
    ):
        """Facet counts via the driver-local Arrow tier (see
        :meth:`query` routing notes), or None when anything refuses —
        including any facet column outside the mirrored subset (arrays,
        nested, timestamps), a where-clause the compiler rejects, a store
        over the ``facet`` class cap, or a local run that raises."""
        import pyarrow.types as pt

        from linkml_store_spark.operators import localexec as lx
        from linkml_store_spark.where import exclude_column

        gate = self._local_tier_gate("facet")
        if gate is None:
            return None
        schema, _total_rows = gate
        cols = (
            list(facet_columns) if facet_columns is not None
            else [f.name for f in schema]
        )
        try:
            conds = {}
            for col in cols:
                parts = [col] if isinstance(col, str) else list(col)
                for c in parts:
                    t = lx._col_type(schema, c)
                    if pt.is_timestamp(t):
                        # ns/tz round-trip parity not mirrored for facet
                        # VALUES — timestamps facet through the JVM path
                        raise lx.Unsupported("timestamp facet column")
                w = where
                for c in parts:
                    w = exclude_column(w, c)
                conds[id(col)] = lx.compile_where_local(w, schema)
        except lx.Unsupported:
            return None
        except Exception:  # noqa: BLE001
            return None

        try:
            return lx.local_facets(
                self._store_image(schema), schema, lambda col: conds[id(col)],
                cols, facet_limit, facet_min_count,
            )
        except Exception as e:  # noqa: BLE001 — never fail a facet here
            _tier_log.debug(
                "collection %s: local-tier facets failed, running the "
                "Spark path (%s: %s)", self.alias, type(e).__name__, e,
            )
            return None

    def group_by(
        self,
        group_by_fields: Union[str, List[str]],
        inlined_field: str = "objects",
        agg_map: Optional[Dict[str, List[str]]] = None,
        where: WhereClause = None,
    ) -> List[OBJECT]:
        """Group rows into {group_keys, objects:[rows]} shapes
        (reference collection.py:625-664).

        One shuffle via collect_list(struct(...)) — replaces the reference's
        N+1 per-group queries (duckdb_collection.py:228-303) wholesale.
        """
        from linkml_store_spark.operators.groupby import group_by_objects

        gdf = group_by_objects(
            apply_where(self.df, where), group_by_fields, inlined_field, agg_map
        )
        return _rows_to_dicts(gdf.collect())

    def describe(self, columns: Optional[List[str]] = None):
        """Column statistics (reference cli.py:656-671 pandas describe)."""
        from linkml_store_spark.operators.describe import describe

        return describe(self.df if columns is None else self.df.select(*columns))

    # ------------------------------------------------------------------ #
    # search / index (§2.8)
    # ------------------------------------------------------------------ #
    def attach_indexer(self, indexer=None, name: Optional[str] = None, auto_index: bool = True):
        from linkml_store_spark.index.indexer import SimpleIndexer

        if indexer is None or indexer == "simple":
            indexer = SimpleIndexer(name=name or "simple")
        if name:
            indexer.name = name
        self._indexers[indexer.name] = indexer
        if auto_index:
            self.index_objects(indexer.name)
        return indexer

    def index_objects(self, index_name: str = "simple") -> DataFrame:
        """The shadow index DataFrame ``{**obj, __index__: vector}`` of
        indexer ``index_name`` (reference collection.py:810-943; shadow
        collection internal__index__{alias}__{name}, indexer.py:86-87),
        planned once per store version."""
        indexer = self._indexers[index_name]
        df = self.df  # a first scan starts the version the plan belongs to
        return self._version.memo(
            ("index_plan", indexer), lambda: indexer.index_dataframe(df)
        )

    def build_vector_index(
        self,
        vector_col: str = "embedding",
        n_centroids: int = 16,
        nprobe: int = 4,
        durable: Optional[bool] = None,
        index_name: Optional[str] = None,
        seed: int = 42,
    ):
        """Build an IVF index over ``vector_col`` (or over a text index's
        shadow ``__index__`` column when ``index_name`` is given) and
        register it so ``knn``/``search`` auto-route to the probed,
        partition-pruned plan — users get the scale path without calling
        ``operators.similarity`` directly.

        ``durable=True`` (the default when the database has a location)
        persists the hive-partitioned-by-centroid layout next to the
        collection, so probes prune PARTITIONS at the scan; in-memory
        databases keep the assigned DataFrame lazily. Pure APPENDS are
        absorbed incrementally (``ivf_append`` runs inside the insert —
        one assignment pass + a partitioned parquet append, so inserts on
        an indexed collection pay one extra write job; drop the index
        first for bulk-load-then-rebuild workflows), and ``compact`` keeps
        it. Any other modification drops the registration
        (``_new_store_version``) and queries fall back to the exact
        brute plan until rebuilt.

        North-star extension: the reference's search surface
        (src/linkml_store/api/collection.py:531-623) is always a full
        scan; this is the FAISS-IVF layout expressed relationally."""
        import os as _os

        from linkml_store_spark.operators.similarity import (
            build_ivf,
            read_ivf_index,
            write_ivf_index,
        )

        if index_name is not None:
            src = self.index_objects(index_name)
            key = f"__index__@{index_name}"
            from linkml_store_spark.index.indexer import INDEX_COLUMN

            col = INDEX_COLUMN
        else:
            src = self.df
            key, col = vector_col, vector_col
        assigned, centroids = build_ivf(
            src, col, n_centroids=n_centroids, seed=seed, with_norm=True
        )
        if durable is None:
            durable = bool(self.database.location)
        path = None
        if durable and self.database.location:
            path = _os.path.join(
                self.database.location, f"__ivf__{self.alias}__{key}"
            )
            write_ivf_index(assigned, path, centroids, compact=True)
            assigned, centroids = read_ivf_index(self.spark, path)
        self._vector_indexes[key] = (assigned, centroids, nprobe, path)
        return assigned, centroids

    #: unindexed-knn guard: above ``auto_index_threshold`` rows the brute
    #: plan is a silent scale trap (every query re-scores the full corpus);
    #: the first such knn per column warns, naming ``build_vector_index``,
    #: or — with ``auto_index_on_knn = True`` (opt-in, instance- or
    #: class-settable) — builds the durable IVF once and routes.
    auto_index_on_knn: bool = False
    auto_index_threshold: int = 50_000

    def _maybe_auto_index(self, vector_col: str):
        """One-shot per column: size-probe an unindexed knn target and
        either auto-build (opt-in) or warn. Returns a registered index
        tuple when a build happened, else None."""
        if vector_col in self._knn_advised:
            return None
        self._knn_advised.add(vector_col)
        try:
            n = fast_count(self.df)
        except Exception:
            return None
        if n <= self.auto_index_threshold:
            return None
        if self.auto_index_on_knn:
            self.build_vector_index(vector_col)
            return self._vector_indexes.get(vector_col)
        import warnings

        warnings.warn(
            f"knn on {n} rows without a vector index runs the exact "
            f"brute-force scan every query; call "
            f"build_vector_index({vector_col!r}) once to route to the "
            f"partition-pruned IVF plan (or set auto_index_on_knn=True).",
            stacklevel=3,
        )
        return None

    def knn(
        self,
        query_vector: Sequence,
        vector_col: str = "embedding",
        k: int = 10,
        exact: bool = False,
        score_col: str = "score",
        keep_vector: bool = False,
        metric: str = "cosine",
    ) -> DataFrame:
        """Top-k rows by ``metric`` to ``query_vector`` — auto-routed:
        when a vector index built by ``build_vector_index`` is registered
        for ``vector_col`` (and ``exact`` is not forced), the probed
        partition-pruned IVF plan runs — all-JVM scoring, no Python stage;
        otherwise the exact distributed brute-force plan
        (``index.search.knn``). An unindexed knn above
        ``auto_index_threshold`` rows warns once per column (or builds the
        index itself with ``auto_index_on_knn = True``).

        ``metric``: cosine (default — the reference's search metric,
        ``utils/vector_utils.py:12-38``), dot, euclidean, manhattan.
        cosine/dot/euclidean ride the IVF route when indexed (the probe
        step is L2 — euclidean's home structure, dot via the
        max-inner-product reduction); manhattan has no bucketed form and
        always runs the exact brute-force plan."""
        from linkml_store_spark.index.search import knn as _knn
        from linkml_store_spark.operators.similarity import ivf_knn

        use_index = not exact and metric != "manhattan"
        idx = self._vector_indexes.get(vector_col) if use_index else None
        if idx is None and use_index:
            idx = self._maybe_auto_index(vector_col)
        if idx is not None:
            assigned, centroids, nprobe = idx[:3]
            out = ivf_knn(
                assigned,
                centroids,
                query_vector,
                vector_col=vector_col,
                k=k,
                nprobe=nprobe,
                score_col=score_col,
                metric=metric,
            )
            return out.drop(vector_col) if not keep_vector else out
        return _knn(
            self.df,
            query_vector,
            vector_col=vector_col,
            k=k,
            score_col=score_col,
            keep_vector=keep_vector,
            metric=metric,
        )

    def knn_search(
        self,
        query_vector: Sequence,
        vector_col: str = "embedding",
        k: int = 10,
        exact: bool = False,
        score_col: str = "score",
        select_cols: Optional[List[str]] = None,
        metric: str = "cosine",
    ) -> QueryResult:
        """Eager top-k rows by ``metric`` (the vector twin of
        :meth:`search`'s eager contract): ``rows`` carry the payload
        (vector column dropped) plus ``score_col``; ``ranked_rows`` pairs
        (score, row).

        Routing mirrors :meth:`query`: unindexed stores the static footer
        gate admits for the ``knn`` class run the exact metric IN-PROCESS
        (one fused numpy pass — the same float64 math as the distributed
        kernels, zero Spark jobs); indexed or bigger stores, and any local
        run that raises, run :meth:`knn`'s auto-routed IVF/brute plan."""
        from linkml_store_spark.operators import localexec as lx

        def _spark() -> QueryResult:
            df = self.knn(
                query_vector, vector_col=vector_col, k=k, exact=exact,
                score_col=score_col, keep_vector=False, metric=metric,
            )
            if select_cols:
                df = df.select(*select_cols)
            rows = _rows_to_dicts(df.collect())
            return QueryResult(
                num_rows=len(rows), rows=rows,
                ranked_rows=[(r.get(score_col), r) for r in rows],
            )

        gate = None
        if not exact and self._vector_indexes.get(vector_col) is None:
            gate = self._local_tier_gate("knn")
        if gate is None:
            return _spark()
        schema, _total_rows = gate
        try:
            rows = lx.local_knn(
                self._store_image(schema), schema, vector_col, query_vector, k,
                score_col=score_col, select_cols=select_cols,
                session_tz=self._session_tz(), metric=metric,
            )
        except Exception:  # noqa: BLE001 — incl. Unsupported: fall back
            return _spark()
        return QueryResult(
            num_rows=len(rows), rows=rows,
            ranked_rows=[(r.get(score_col), r) for r in rows],
        )

    def search(
        self,
        query: str,
        where: WhereClause = None,
        index_name: Optional[str] = None,
        limit: int = 10,
        select_cols: Optional[List[str]] = None,
        mmr_relevance_factor: Optional[float] = None,
    ) -> QueryResult:
        """Vector search: embed query, cosine against the shadow index,
        top-k desc; optional MMR diversification
        (reference collection.py:531-623, indexer.py:158-211).

        Routing: when the local tier's static footer gate admits the
        store for the ``knn`` class, the embedding matrix fits the tier's
        byte cap and no IVF index is registered for this text index, the
        shadow index is built ONCE per store version into an in-process
        matrix (``localexec.VectorIndex``): one Spark job collects the
        rows and their texts, and the driver embeds them
        (``Indexer.collect_index``). Every later search embeds only its
        query and ranks in process — zero Spark jobs. A write drops the
        matrix and the next search rebuilds it, so the saving needs more
        than one search per store version. Otherwise — and
        on any refusal or error of the local route — the Spark plan
        runs: when ``build_vector_index(index_name=...)`` has registered
        an IVF index and the query has no prefilter, the probed IVF plan
        serves the candidates, else the brute scan of the index plan."""
        from linkml_store_spark.index.search import (
            rank_pool,
            search_pool_size,
            vector_search,
        )

        if not self._indexers:
            self.attach_indexer()  # auto-create default (collection.py:576-592)
        if index_name is None:
            index_name = next(iter(self._indexers))
        indexer = self._indexers[index_name]
        qv = indexer.text_to_vector(query)
        ranked = None
        local = self._local_text_index(index_name)
        if local is not None:
            try:
                pool = local.top_k(
                    qv,
                    search_pool_size(limit, mmr_relevance_factor),
                    where=where,
                    keep_vector=mmr_relevance_factor is not None,
                    session_tz=self._session_tz(),
                )
                ranked = rank_pool(pool, qv, limit, mmr_relevance_factor)
            except Exception:  # noqa: BLE001 — incl. Unsupported: Spark path
                ranked = None
        if ranked is None:
            ivf = None if where else self._vector_indexes.get(f"__index__@{index_name}")
            scored_pool_fn = None
            if ivf is not None:
                from linkml_store_spark.index.indexer import INDEX_COLUMN
                from linkml_store_spark.operators.similarity import ivf_knn

                assigned, centroids, nprobe = ivf[:3]
                # substitute the probed partition-pruned plan for the brute
                # scan; vector_search keeps owning pool sizing/ranking/MMR
                scored_pool_fn = lambda pool: ivf_knn(  # noqa: E731
                    assigned, centroids, qv, INDEX_COLUMN, k=pool, nprobe=nprobe
                )
            ranked = vector_search(
                self.index_objects(index_name),
                qv,
                where=where,
                limit=limit,
                mmr_relevance_factor=mmr_relevance_factor,
                scored_pool_fn=scored_pool_fn,
            )
        rows = []
        for score, obj in ranked:
            obj = {k: v for k, v in obj.items() if k != "__index__"}
            if select_cols:
                obj = {k: obj.get(k) for k in select_cols}
            rows.append((score, obj))
        return QueryResult(
            num_rows=len(rows), rows=[o for _, o in rows], ranked_rows=rows
        )

    def _local_text_index(self, index_name: str):
        """The in-process ``localexec.VectorIndex`` of text index
        ``index_name`` when the local route may serve it, else None.

        Built on first use per store version by
        ``Indexer.collect_index`` — the same texts and vectors as the
        index plan, for every indexer — and kept in the store version,
        which every write replaces. A refusal is kept too, so a store
        the route cannot serve never re-pays the build."""
        from linkml_store_spark.index.indexer import INDEX_COLUMN
        from linkml_store_spark.operators import localexec as lx

        if self._vector_indexes.get(f"__index__@{index_name}") is not None:
            return None
        gate = self._local_tier_gate("knn")
        if gate is None:
            return None
        indexer = self._indexers[index_name]

        def build():
            total_rows, nbytes = self._footer_totals()
            matrix_bytes = total_rows * indexer.vector_default_length * 8
            if nbytes + matrix_bytes > lx.LOCAL_TIER_MAX_BYTES:
                return None
            try:
                table, matrix = indexer.collect_index(self.df)
            except Exception:  # noqa: BLE001 — incl. Unsupported: Spark path
                return None
            return lx.VectorIndex(table, matrix, INDEX_COLUMN)

        return self._version.memo(("text_index", indexer), build)

    # ------------------------------------------------------------------ #
    # set operations (§2.7 extension surface — free in Spark)
    # ------------------------------------------------------------------ #
    def union(self, other: "Collection") -> DataFrame:
        return self.df.unionByName(other.df, allowMissingColumns=True)

    def intersect(self, other: "Collection") -> DataFrame:
        return self.df.intersect(other.df.select(*self.df.columns))

    def except_all(self, other: "Collection") -> DataFrame:
        return self.df.exceptAll(other.df.select(*self.df.columns))

    def distinct(self, cols: Optional[List[str]] = None) -> DataFrame:
        return (self.df.select(*cols) if cols else self.df).distinct()

    # ------------------------------------------------------------------ #
    # layout maintenance (scale extension)
    # ------------------------------------------------------------------ #
    def compact(
        self,
        target_file_bytes: int = 256 * 1024 * 1024,
        sort_cols: Optional[List[str]] = None,
    ) -> dict:
        """Rewrite this collection's warehouse parquet into
        ~``target_file_bytes`` files (optionally sort-clustered). Streams of
        small upserts leave file swarms; this is the maintenance pass a
        100 TB table needs. Requires a persistent database location."""
        from linkml_store_spark.operators.scale import compact as _compact

        if not self.database.location:
            raise ValueError("compact requires a persistent database location")
        path = self.database._collection_path(self.alias)
        report = _compact(
            self.spark, path, target_file_bytes=target_file_bytes, sort_cols=sort_cols
        )
        # every plan of the old version names files the rewrite deleted
        self._new_store_version(rows_kept=True)
        return report

    # ------------------------------------------------------------------ #
    # training-pipeline operators (north-star extensions), surfaced on the
    # Collection so a pipeline is method-chained instead of module-wired
    # ------------------------------------------------------------------ #
    def split(
        self,
        fractions: Optional[dict] = None,
        id_col: Optional[str] = None,
        salt: str = "",
    ) -> DataFrame:
        """Deterministic hash-bucketed split assignment
        (operators/splits.py — append-stable, engine-portable)."""
        from linkml_store_spark.operators.splits import hash_split

        return hash_split(
            self.df, id_col or self._require_pk(), fractions, salt=salt
        )

    def scrub(self, text_col: str = "text", kinds=None) -> DataFrame:
        """PII redaction projection (operators/scrub.py)."""
        from linkml_store_spark.operators.scrub import scrub_documents

        return scrub_documents(self.df, text_col, kinds=kinds)

    def chunk(
        self,
        text_col: str = "text",
        chunk_size: int = 1024,
        stride: Optional[int] = None,
        by_tokens: bool = False,
    ) -> DataFrame:
        """Sliding-window chunking (operators/chunking.py)."""
        from linkml_store_spark.operators.chunking import (
            chunk_by_chars,
            chunk_by_tokens,
        )

        if by_tokens:
            return chunk_by_tokens(
                self.df, text_col, chunk_tokens=chunk_size, stride=stride
            )
        return chunk_by_chars(
            self.df, text_col, chunk_chars=chunk_size, stride=stride
        )

    def rollup(
        self, ts_col: str, aggs: dict, grains=("hour", "day"), keys=(),
        include_total: bool = False,
    ) -> DataFrame:
        """One-scan multi-grain time rollup (operators/rollup.py)."""
        from linkml_store_spark.operators.rollup import time_rollup

        return time_rollup(
            self.df, ts_col, aggs, grains=grains, keys=keys,
            include_total=include_total,
        )

    def approx_distinct(self, col: str, by=()) -> DataFrame:
        """HLL-sketch distinct count (operators/sketches.py)."""
        from linkml_store_spark.operators.sketches import approx_distinct_by

        return approx_distinct_by(self.df, col, by=by)

    def decontaminate_against(
        self,
        test_collection: "Collection",
        text_col: str = "text",
        id_col: Optional[str] = None,
        n: int = 13,
        min_overlap: int = 1,
    ) -> DataFrame:
        """Contamination report: which of ``test_collection``'s docs share
        n-grams with THIS corpus (operators/contamination.py)."""
        from linkml_store_spark.operators.contamination import ngram_contamination

        return ngram_contamination(
            self.df,
            test_collection.df,
            text_col,
            id_col or test_collection._require_pk(),
            n=n,
            min_overlap=min_overlap,
        )

    def lm_quality(
        self, text_col: str = "text", id_col: Optional[str] = None,
        model: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Char-bigram LM quality scores, model fit on this corpus unless
        given (operators/textanalysis.py)."""
        from linkml_store_spark.operators.textanalysis import (
            bigram_lm_fit,
            bigram_lm_scores,
        )

        if model is None:
            model = bigram_lm_fit(self.df, text_col)
        return bigram_lm_scores(
            self.df, model, text_col, id_col or self._require_pk()
        )

    def keyword_screen(
        self, blocklist: List[str], text_col: str = "text", max_hits: int = 0
    ) -> DataFrame:
        """Blocklist screening flags (operators/textanalysis.py)."""
        from linkml_store_spark.operators.textanalysis import keyword_filter

        return keyword_filter(
            self.df, text_col, blocklist, id_col=self._require_pk(),
            max_hits=max_hits,
        )

    def cap(self, key_col: str, n: int) -> DataFrame:
        """Deterministic at-most-n rows per key (operators/splits.py)."""
        from linkml_store_spark.operators.splits import cap_per_key

        return cap_per_key(self.df, key_col, self._require_pk(), n)

    def dedup_near(self, text_col: str = "text", id_col: Optional[str] = None):
        """Cluster-canonical near-dedup (operators/dedup.py):
        (id, canonical_id) labels."""
        from linkml_store_spark.operators.dedup import minhash_dedup_groups

        return minhash_dedup_groups(
            self.df, text_col, id_col or self._require_pk()
        )

    def dedup_spans(
        self, text_col: str = "text", k: int = 13, id_col: Optional[str] = None,
        stats_only: bool = False,
    ) -> DataFrame:
        """ExactSubstr-style duplicated-span removal, or per-doc coverage
        stats with ``stats_only`` (operators/spandedup.py)."""
        from linkml_store_spark.operators.spandedup import (
            dedup_spans_keep_first,
            duplicated_span_stats,
        )

        idc = id_col or self._require_pk()
        if stats_only:
            return duplicated_span_stats(self.df, text_col, idc, k=k)
        return dedup_spans_keep_first(self.df, text_col, idc, k=k)

    def dedup_segments(
        self, text_col: str = "text", id_col: Optional[str] = None,
        sep_regex: Optional[str] = r"\n{2,}",
        tokens_per_segment: Optional[int] = None,
    ) -> DataFrame:
        """CCNet-style paragraph/segment dedup keeping canonical first
        occurrences (operators/spandedup.py)."""
        from linkml_store_spark.operators.spandedup import remove_duplicate_segments

        return remove_duplicate_segments(
            self.df, text_col, id_col or self._require_pk(),
            sep_regex=sep_regex, tokens_per_segment=tokens_per_segment,
        )

    def dedup_semantic(
        self, vector_col: str = "embedding", threshold: float = 0.9,
        n_clusters: int = 16, id_col: Optional[str] = None,
        keep: str = "far_from_centroid",
    ) -> DataFrame:
        """SemDeDup semantic dedup over an embedding column: rows with
        is_kept/dup_of audit columns (operators/semdedup.py)."""
        from linkml_store_spark.operators.semdedup import semantic_dedup

        return semantic_dedup(
            self.df, vector_col, id_col or self._require_pk(),
            threshold=threshold, n_clusters=n_clusters, keep=keep,
        )

    def quality_model(
        self, text_col: str = "text", label_col: Optional[str] = None,
        weak_label_threshold: float = 0.5, **train_kw,
    ):
        """Train the fastText-analog quality classifier on this corpus;
        labels from ``label_col`` or weak-label bootstrap
        (operators/quality_model.py). Returns the fitted PipelineModel —
        score any collection with ``score_quality(model, coll.df)``."""
        from linkml_store_spark.operators.quality_model import (
            train_quality_classifier,
            weak_quality_labels,
        )

        df = self.df
        if label_col is None:
            df = weak_quality_labels(df, text_col, "label", weak_label_threshold)
            label_col = "label"
        return train_quality_classifier(df, text_col, label_col, **train_kw)

    def train_tokenizer(
        self, text_col: str = "text", num_merges: int = 1000, **kw
    ) -> list:
        """Train a BPE tokenizer on this corpus; returns the ranked merge
        list for ``operators/bpe.bpe_encode`` (operators/bpe.py)."""
        from linkml_store_spark.operators.bpe import train_bpe

        return train_bpe(self.df, text_col, num_merges=num_merges, **kw)

    def shuffle(self, salt: str = "shuffle", id_col: Optional[str] = None) -> DataFrame:
        """Deterministic epoch-reproducible global shuffle
        (operators/splits.py)."""
        from linkml_store_spark.operators.splits import deterministic_shuffle

        return deterministic_shuffle(self.df, id_col or self._require_pk(), salt=salt)

    def sample_tokens(
        self, budget: int, text_col: str = "text", by=(),
        id_col: Optional[str] = None, salt: str = "budget",
    ) -> DataFrame:
        """Token-budget subsample — hash-ordered prefix under a running
        token total, optionally per group (operators/splits.py)."""
        from linkml_store_spark.operators.splits import token_budget_sample

        return token_budget_sample(
            self.df, text_col, budget, id_col or self._require_pk(),
            by=by, salt=salt,
        )

    # ------------------------------------------------------------------ #
    # diff / patch (§2.2)
    # ------------------------------------------------------------------ #
    def diff(self, other: "Collection") -> List[dict]:
        from linkml_store_spark.patches import diff_collections

        return diff_collections(self, other)

    def apply_patches(self, patches: List[dict]) -> None:
        from linkml_store_spark.patches import apply_patches

        apply_patches(self, patches)

    # ------------------------------------------------------------------ #
    # reference-API parity: identity, schema induction, validation, I/O
    # ------------------------------------------------------------------ #
    @property
    def identifier_attribute_name(self) -> Optional[str]:
        """The primary-key slot name (reference collection.py:1000-1012)."""
        return self.identifier_attribute

    def object_identifier(self, obj: Dict[str, Any], auto: bool = True):
        """The object's pk value; with ``auto``, a deterministic md5 of the
        object stands in when no pk is present (reference
        collection.py:1046-1063 — same str(obj) md5)."""
        import hashlib

        pk = self.identifier_attribute
        if pk and pk in obj:
            return obj[pk]
        if auto:
            return hashlib.md5(str(obj).encode()).hexdigest()
        return None

    def list_index_names(self) -> List[str]:
        return list(self._indexers)

    @property
    def indexers(self) -> Dict[str, Any]:
        return dict(self._indexers)

    def class_definition(self) -> Dict[str, Any]:
        """Induced class definition as a plain dict (reference returns a
        LinkML ClassDefinition, collection.py:1065-1160; same slot facts —
        range, multivalued, inlined — derived here from the Spark schema,
        which already IS the induced type structure).
        """
        from pyspark.sql import types as T

        def slot(dt) -> Dict[str, Any]:
            if isinstance(dt, T.ArrayType):
                inner = slot(dt.elementType)
                inner["multivalued"] = True
                return inner
            if isinstance(dt, T.StructType):
                return {
                    "range": None,
                    "multivalued": False,
                    "inlined": True,
                    "attributes": {
                        f.name: slot(f.dataType) for f in dt.fields
                    },
                }
            range_map = {
                T.StringType: "string",
                T.LongType: "integer",
                T.IntegerType: "integer",
                T.ShortType: "integer",
                T.DoubleType: "float",
                T.FloatType: "float",
                T.BooleanType: "boolean",
                T.TimestampType: "datetime",
                T.DateType: "date",
                T.BinaryType: "bytes",
            }
            return {
                "range": range_map.get(type(dt), "string"),
                "multivalued": False,
                "inlined": False,
            }

        return {
            "name": self.name,
            "attributes": {
                f.name: slot(f.dataType) for f in self.df.schema.fields
            },
        }

    def induce_class_definition_from_objects(
        self, objs: List[Dict[str, Any]], max_sample_size: Optional[int] = None
    ) -> Dict[str, Any]:
        """Heuristic class induction from raw objects (reference
        collection.py:1065-1160): the sample goes through the same schema
        induction as insert, then reads out slot facts."""
        sample = objs[: max_sample_size or 10]
        df = self.spark.createDataFrame(sample, schema=induce_schema(sample))
        shadow = Collection(self.name, self.database, alias=f"__induce__{self.alias}")
        shadow._df = df
        return shadow.class_definition()

    def iter_validate_collection(
        self,
        objects: Optional[List[Dict[str, Any]]] = None,
        json_schema: Optional[dict] = None,
    ) -> Iterator[dict]:
        """Yield per-object validation results (reference
        collection.py:1220-1254). With ``json_schema``, full jsonschema
        runs distributed (mapInPandas) and results stream back; otherwise
        the collection's constraint compiler supplies the checks."""
        df = (
            self.df
            if objects is None
            else self.spark.createDataFrame(objects, schema=induce_schema(objects))
        )
        if json_schema is not None:
            from linkml_store_spark.validate import jsonschema_violations

            for row in jsonschema_violations(df, json_schema).toLocalIterator():
                yield row.asDict()
            return
        if self.constraints:
            from linkml_store_spark.validate import constraint_violations

            for row in constraint_violations(df, self.constraints).toLocalIterator():
                d = row.asDict()
                for msg in d.pop("__violations", []):
                    yield {"message": msg, "object": d}

    def export_data(self, location: str, format: str = "parquet") -> str:
        """Write the collection to a file (reference collection.py:1177)."""
        from linkml_store_spark.sources.formats import write_collection

        return write_collection(self.df, location, format)

    def import_data(self, location: str, format: Optional[str] = None, **kwargs) -> int:
        """Load a file into the collection (reference collection.py:1167)."""
        return self.load_from_source(location, format=format, **kwargs)

    def commit(self) -> None:
        """No-op: persistence is write-through (reference API parity)."""


def _sort_norm(spec) -> str:
    """Normalize a sort spec to the reference's string form. Strings pass
    through; ('col', 'desc'|'asc') tuples — a natural caller mistake the
    reference API rejects with an obscure AttributeError — are accepted
    as the equivalent string."""
    if isinstance(spec, (tuple, list)):
        if len(spec) == 1:
            return str(spec[0])
        if len(spec) == 2 and str(spec[1]).lower() in ("asc", "desc"):
            return f"{spec[0]} {str(spec[1]).lower()}"
        raise ValueError(f"bad sort spec: {spec!r}")
    return spec


def _query_class(query: Query) -> str:
    """The local tier's shape class of a Query: ``agg`` (group_by),
    ``count`` (limit 0) or ``page``."""
    if query.group_by:
        return "agg"
    return "count" if query.limit == 0 else "page"


def _sort_parse(spec):
    """(base_column, descending) for any accepted sort spec. Suffix is
    parsed BEFORE the '-' prefix so '-col desc' means column 'col'
    descending (both markers agree); contradictory markers ('-col asc')
    raise rather than silently picking one."""
    s = _sort_norm(spec).strip()
    suffix = None
    low = s.lower()
    if low.endswith(" desc"):
        s, suffix = s[: -len(" desc")].strip(), True
    elif low.endswith(" asc"):
        s, suffix = s[: -len(" asc")].strip(), False
    neg = s.startswith("-")
    if neg:
        s = s[1:].strip()
        if suffix is False:
            raise ValueError(
                f"contradictory sort spec: {spec!r} ('-' prefix with 'asc')"
            )
    return s, bool(neg or suffix)


def _sort_base(spec) -> str:
    """The bare column name of a sort spec ('-col', 'col desc', ...)."""
    return _sort_parse(spec)[0]


def _sort_col(spec):
    """'-col' means descending (reference ibis_collection.py:275-286).
    ('col', 'desc') tuples are accepted too (see _sort_norm).

    Null placement follows the reference's canonical backend (DuckDB):
    NULLS LAST for BOTH directions. Spark's defaults differ (asc -> nulls
    first), so the null ordering is pinned explicitly.
    """
    base, descending = _sort_parse(spec)
    col = F.col(base)
    return col.desc_nulls_last() if descending else col.asc_nulls_last()


def _simple_range_clause(where, df):
    """(col, lo, hi, lo_inclusive, hi_inclusive) when ``where`` is a
    single-column numeric range/equality dict whose zone-map count is
    provably identical to the compiled predicate's count, else None.

    Deliberately NARROW: plain column name (no dots/operators), numeric
    column dtype (array equality means containment in the where-language,
    string stats may be truncated, string timestamps compare unsafely
    against datetime footer stats), numeric literal bounds, and only the
    $gt/$gte/$lt/$lte operators (plus bare equality). Everything else
    returns None and the caller takes the normal count plan.
    """
    import numbers

    if not isinstance(where, dict) or len(where) != 1:
        return None
    col, spec = next(iter(where.items()))
    if not isinstance(col, str) or col.startswith("$") or "." in col:
        return None
    try:
        if not isinstance(df.schema[col].dataType, T.NumericType):
            return None
    except Exception:  # noqa: BLE001 — unknown column: let the plan fail
        return None

    def _num(v):
        return isinstance(v, numbers.Number) and not isinstance(v, bool)

    if isinstance(spec, dict):
        lo = hi = None
        lo_inc = hi_inc = True
        for op, v in spec.items():
            if not _num(v):
                return None
            # both ops of one side may appear ({"$gte": 5, "$gt": 3}); the
            # compiled predicate ANDs them, so the clause must INTERSECT —
            # keep the stricter bound (ties: exclusive beats inclusive)
            if op in ("$gte", "$gt"):
                inc = op == "$gte"
                if lo is None or v > lo or (v == lo and not inc):
                    lo, lo_inc = v, inc
            elif op in ("$lte", "$lt"):
                inc = op == "$lte"
                if hi is None or v < hi or (v == hi and not inc):
                    hi, hi_inc = v, inc
            else:
                return None
        if lo is None and hi is None:
            return None
        return col, lo, hi, lo_inc, hi_inc
    if _num(spec):
        return col, spec, spec, True, True
    return None


def _simple_value_clause(where, df):
    """(col, values) when ``where`` is a single-column equality / ``$eq`` /
    ``$in`` dict over a string/integer/boolean column with literals of the
    column's own type — the clauses whose count
    ``Collection._value_predicate_count`` composes from the value zone map
    and a pushed-In count. Everything else (None = IS NULL, dotted
    paths, floats, cross-type literals Spark would cast, other operators)
    returns None and the caller takes the normal plan.
    """
    if not isinstance(where, dict) or len(where) != 1:
        return None
    col, spec = next(iter(where.items()))
    if not isinstance(col, str) or col.startswith("$") or "." in col:
        return None
    try:
        dt = df.schema[col].dataType
    except Exception:  # noqa: BLE001
        return None
    if not isinstance(dt, (T.StringType, T.IntegerType, T.LongType,
                           T.ShortType, T.ByteType, T.BooleanType)):
        return None

    def _lit_ok(v):
        # literal must be the column's own type: a cross-type literal
        # (string on an int column, ...) goes through Spark's cast
        # semantics in the plain plan — the shortcut routes must refuse
        if isinstance(v, bool):
            return isinstance(dt, T.BooleanType)
        if isinstance(v, str):
            return isinstance(dt, T.StringType)
        if isinstance(v, int):
            return isinstance(dt, (T.IntegerType, T.LongType,
                                   T.ShortType, T.ByteType))
        return False

    if isinstance(spec, dict):
        if len(spec) != 1:
            return None
        op, v = next(iter(spec.items()))
        if op == "$eq" and v is not None and _lit_ok(v):
            return col, [v]
        if (op == "$in" and isinstance(v, (list, tuple)) and v
                and all(_lit_ok(x) for x in v)):
            return col, list(v)
        return None
    if spec is None or isinstance(spec, (dict, list)) or not _lit_ok(spec):
        return None
    return col, [spec]
