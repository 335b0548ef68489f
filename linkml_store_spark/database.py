"""Database: a namespace of Collections over a SparkSession.

Mirrors the reference Database (``src/linkml_store/api/database.py:45-862``):
owns named collections, routes queries, does whole-DB import/export and
store(), and offers raw SQL passthrough (``execute_sql``,
``database.py:444-484``) — collections are registered as temp views so
``spark.sql`` sees them by alias.

Persistence: ``location=None`` keeps collections in memory (the reference's
``duckdb:///:memory:`` analog); a directory location stores one parquet
dataset per collection (the filesystem-backend analog,
``filesystem_database.py``), partitionable for scale.
"""

from __future__ import annotations

import os
import shutil
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from linkml_store_spark.collection import Collection
from linkml_store_spark.query import Query, QueryResult


class Database:
    def __init__(
        self,
        spark: SparkSession,
        handle: str = "spark://memory",
        location: Optional[str] = None,
        alias: Optional[str] = None,
    ):
        self.spark = spark
        self.handle = handle
        self.location = location
        self.alias = alias or (os.path.basename(location) if location else "memory")
        self._collections: Dict[str, Collection] = {}
        if location:
            os.makedirs(location, exist_ok=True)
            for entry in sorted(os.listdir(location)):
                if entry.endswith(".parquet"):
                    name = entry[: -len(".parquet")]
                    self._collections[name] = Collection(name, self)

    # ------------------------------------------------------------------ #
    # collection lifecycle
    # ------------------------------------------------------------------ #
    def create_collection(
        self,
        name: str,
        alias: Optional[str] = None,
        identifier_attribute: Optional[str] = None,
        recreate_if_exists: bool = False,
        derived_from: Optional[dict] = None,
        validate_modifications: bool = False,
        constraints: Optional[dict] = None,
    ) -> Collection:
        alias = alias or name
        if recreate_if_exists and alias in self._collections:
            self.drop_collection(alias)
        coll = Collection(
            name,
            self,
            alias=alias,
            identifier_attribute=identifier_attribute,
            derived_from=derived_from,
            validate_modifications=validate_modifications,
            constraints=constraints,
        )
        self._collections[alias] = coll
        return coll

    def get_collection(self, name: str, create_if_not_exists: bool = True) -> Collection:
        if name not in self._collections:
            if not create_if_not_exists:
                raise KeyError(name)
            return self.create_collection(name)
        return self._collections[name]

    def list_collections(self) -> List[Collection]:
        return list(self._collections.values())

    def list_collection_names(self) -> List[str]:
        return list(self._collections)

    def from_config(self, db_conf: dict, base_dir: Optional[str] = None) -> "Database":
        """Apply a database config (reference ``database.py`` from_config +
        ``api/config.py`` CollectionConfig): create each collection, wire
        attributes as insert-time constraints, attach configured indexers,
        and load ``source`` data."""
        from linkml_store_spark.index.indexer import SimpleIndexer

        for cname, cconf in (db_conf.get("collections") or {}).items():
            cconf = dict(cconf or {})
            attrs = cconf.get("attributes") or {}
            coll = self.create_collection(
                cconf.get("type") or cname,
                alias=cconf.get("alias") or cname,
                identifier_attribute=cconf.get("identifier_attribute"),
                validate_modifications=bool(
                    cconf.get("validate_modifications")
                    or db_conf.get("validate_modifications")
                ),
                constraints=attrs or None,
            )
            src = cconf.get("source") or {}
            location = src.get("url") or src.get("local_path")
            if location:
                if base_dir and not str(location).startswith(
                    ("http://", "https://", "file://", "/")
                ):
                    location = os.path.join(base_dir, location)
                coll.load_from_source(
                    str(location),
                    format=src.get("format"),
                    json_path=src.get("json_path") or src.get("select_query"),
                )
            for iname, iconf in (cconf.get("indexers") or {}).items():
                iconf = dict(iconf or {})
                iconf.pop("type", None)
                coll.attach_indexer(
                    SimpleIndexer(name=iname, **iconf),
                    auto_index=coll.exists(),
                )
        return self

    def commit(self) -> None:
        """Persistence is write-through (every mutation re-persists via
        ``_save_collection_df``); commit is a no-op kept for reference API
        parity (``database.py`` commit)."""

    def close(self) -> None:
        """Release collection handles. The SparkSession is shared across
        databases and intentionally left running."""
        self._collections.clear()

    def iter_validate_database(self, **kwargs):
        """Yield validation results from every collection (reference
        ``database.py`` iter_validate_database)."""
        for coll in self.list_collections():
            yield from coll.iter_validate_collection(**kwargs)

    def validate_database(self, **kwargs) -> List[dict]:
        return list(self.iter_validate_database(**kwargs))

    def drop_collection(self, name: str) -> None:
        self._collections.pop(name, None)
        if self.location:
            path = self._collection_path(name)
            if os.path.exists(path):
                shutil.rmtree(path)
        # returns False, and raises nothing, when no such view exists
        self.spark.catalog.dropTempView(name)

    # ------------------------------------------------------------------ #
    # persistence plumbing (used by Collection)
    # ------------------------------------------------------------------ #
    def _collection_path(self, alias: str) -> str:
        return os.path.join(self.location, f"{alias}.parquet")

    def _collection_data_exists(self, alias: str) -> bool:
        coll = self._collections.get(alias)
        if coll is not None and coll._df is not None:
            return True
        return bool(self.location) and os.path.exists(self._collection_path(alias))

    def _save_collection_df(self, alias: str, df: DataFrame) -> None:
        """Persist ``df`` as the collection's parquet store. The caller
        (``Collection._set_df``) then re-scans it as a new store
        version."""
        path = self._collection_path(alias)
        # write-then-swap: parquet rewrites are not atomic in place
        tmp = path + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        # Spark's writer refreshes the caches over the path it wrote, which
        # is ``tmp``; a frame cached over ``path`` (a user's ``df.cache()``,
        # an operator's persist) would otherwise answer every later plan
        # over the store with the old rows
        self.spark.catalog.refreshByPath(path)

    def _register_view(self, alias: str) -> None:
        coll = self._collections.get(alias)
        if coll is not None and coll._df is not None:
            coll._df.createOrReplaceTempView(alias)

    # ------------------------------------------------------------------ #
    # query routing / SQL passthrough
    # ------------------------------------------------------------------ #
    def query(self, query: Query) -> QueryResult:
        if not query.from_table:
            raise ValueError("query requires from_table")
        return self.get_collection(query.from_table).query(query)

    def execute_sql(self, sql: str) -> QueryResult:
        """Raw SQL over registered collection views
        (reference database.py:444-484). The engine's scalar functions
        (cosine_similarity, token_count_bpe, ... — functions/registry.py)
        are available inside the SQL."""
        from linkml_store_spark.functions.registry import register_sql_functions

        register_sql_functions(self.spark)
        for alias in self._collections:
            self._register_view(alias)
        df = self.spark.sql(sql)
        rows = [r.asDict(recursive=True) for r in df.collect()]
        return QueryResult(num_rows=len(rows), rows=rows)

    # ------------------------------------------------------------------ #
    # bulk store / import / export (§2.1)
    # ------------------------------------------------------------------ #
    def store(self, obj: Dict[str, list]) -> None:
        """dict-of-collections -> replace each collection
        (reference database.py:197-239)."""
        for name, objs in obj.items():
            if not isinstance(objs, list):
                continue
            coll = self.get_collection(name)
            coll.replace(objs)

    def export_database(self, path: str, fmt: str = "parquet") -> None:
        from linkml_store_spark.sources.formats import write_collection

        os.makedirs(path, exist_ok=True)
        for coll in self.list_collections():
            write_collection(coll.df, os.path.join(path, coll.alias), fmt)

    def import_database(self, path: str, fmt: str = "parquet") -> None:
        from linkml_store_spark.sources.formats import read_objects_df

        for entry in sorted(os.listdir(path)):
            name = entry.split(".")[0]
            df = read_objects_df(self.spark, os.path.join(path, entry), fmt)
            self.get_collection(name).replace(df)

    # ------------------------------------------------------------------ #
    # validation
    # ------------------------------------------------------------------ #
    def validate_referential_integrity(self, fk_map: Dict[str, List[tuple]]) -> List[dict]:
        """Check FK slots: fk_map maps collection -> [(slot, target_coll,
        target_pk)] (reference database.py:703-747). Violations come back as
        dicts; the check itself is a left-anti join per FK edge — fully
        distributed, no driver loop over values."""
        from linkml_store_spark.validate import referential_integrity_violations

        out = []
        for coll_name, edges in fk_map.items():
            src = self.get_collection(coll_name)
            for slot, target_name, target_pk in edges:
                tgt = self.get_collection(target_name)
                bad = referential_integrity_violations(src.df, slot, tgt.df, target_pk)
                for row in bad.collect():
                    out.append(
                        {
                            "collection": coll_name,
                            "slot": slot,
                            "target": target_name,
                            "value": row[slot],
                        }
                    )
        return out
