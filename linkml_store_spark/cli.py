"""Command-line interface mirroring the reference CLI.

Reference: ``src/linkml_store/cli.py`` (click group with -d/-c context;
commands insert/store/import/export/query/fq/groupby/describe/pivot/
enrichment/infer/index/search/schema/validate/diff/apply/drop/
list-collections). Same shape here, executing against the Spark engine.

Run as ``python -m linkml_store_spark.cli ...``.

  linkml-store-spark -d /tmp/wh -c countries insert countries.jsonl
  linkml-store-spark -d /tmp/wh -c countries query -w '{code: FR}'
  linkml-store-spark -d /tmp/wh -c countries fq -S continent
  linkml-store-spark -d /tmp/wh -c countries search "France"
"""

from __future__ import annotations

import json
import sys
from typing import Optional

import click
import yaml

from linkml_store_spark.client import Client


def _parse_yaml_arg(s: Optional[str]):
    if not s:
        return None
    return yaml.safe_load(s)


def _render(rows, output_type: str, output: Optional[str] = None):
    """Render list-of-dicts (reference render_output,
    format_utils.py:383-505)."""
    import io

    import pandas as pd

    buf = io.StringIO()
    if output_type == "json":
        json.dump(rows, buf, indent=2, default=str)
    elif output_type == "jsonl":
        for r in rows:
            buf.write(json.dumps(r, default=str) + "\n")
    elif output_type == "yaml":
        yaml.safe_dump_all(rows, buf, sort_keys=False, default_flow_style=False)
    elif output_type in ("csv", "tsv"):
        pd.DataFrame(rows).to_csv(buf, sep="," if output_type == "csv" else "\t", index=False)
    elif output_type == "table":
        buf.write(pd.DataFrame(rows).to_string(index=False))
        buf.write("\n")
    else:
        raise click.UsageError(f"unknown output type: {output_type}")
    text = buf.getvalue()
    if output:
        with open(output, "w") as f:
            f.write(text)
    else:
        click.echo(text, nl=False)


OUTPUT_OPT = click.option("-O", "--output-type", default="json", show_default=True)
OUTPUT_FILE_OPT = click.option("-o", "--output", default=None)
WHERE_OPT = click.option("-w", "--where", default=None, help="YAML/JSON where clause")
LIMIT_OPT = click.option("-l", "--limit", default=None, type=int)


class Context:
    def __init__(self):
        self.database_handle = "memory"
        self.collection_name = None
        self._client = None
        self._db = None
        self.input_file = None
        self.config_file = None
        self.base_dir = None

    @property
    def client(self) -> Client:
        if self._client is None:
            self._client = Client()
            if self.config_file:
                self._client.from_config(self.config_file, base_dir=self.base_dir)
        return self._client

    @property
    def db(self):
        if self._db is None:
            # a config may have attached the requested database already
            if self.database_handle in self.client.databases:
                self._db = self.client.get_database(self.database_handle)
                return self._db
            self._db = self.client.attach_database(self.database_handle)
            if self.input_file:
                from linkml_store_spark.sources.formats import read_objects_df

                df = read_objects_df(self.client.spark, self.input_file)
                name = self.collection_name or "input"
                self.collection_name = name
                self._db.get_collection(name).replace(df)
        return self._db

    identifier = None

    @property
    def collection(self):
        db = self.db  # may bind an ephemeral --input collection
        if not self.collection_name:
            raise click.UsageError("no collection specified (-c)")
        coll = db.get_collection(self.collection_name)
        if self.identifier:
            coll.identifier_attribute = self.identifier
        return coll


@click.group()
@click.option("-d", "--database", default="memory", help="database handle (memory | /warehouse/dir | spark:///dir)")
@click.option("-c", "--collection", default=None)
@click.option("-i", "--input", "input_file", default=None, help="wrap a file in an ephemeral collection (reference cli.py:148-159)")
@click.option("-I", "--identifier", default=None, help="identifier attribute (primary key) of the collection")
@click.option("-C", "--config", "config_file", default=None, type=click.Path(exists=True), help="client config YAML (reference cli.py -C): databases/collections/sources to initialize")
@click.option("-B", "--base-dir", "base_dir", default=None, help="base directory for {base_dir} expansion + relative source paths in the config")
@click.pass_context
def cli(ctx, database, collection, input_file, identifier, config_file, base_dir):
    """linkml-store-spark: PySpark-native linkml-store engine."""
    c = Context()
    c.database_handle = database
    c.collection_name = collection
    c.input_file = input_file
    c.identifier = identifier
    c.config_file = config_file
    c.base_dir = base_dir
    ctx.obj = c


@cli.command()
@click.argument("files", nargs=-1)
@click.option("--replace", is_flag=True)
@click.option("-f", "--format", "fmt", default=None)
@click.pass_obj
def insert(obj: Context, files, replace, fmt):
    """Insert objects from files (reference cli.py:208-275)."""
    from linkml_store_spark.sources.formats import read_objects_df

    coll = obj.collection
    total = 0
    for path in files:
        df = read_objects_df(obj.client.spark, path, fmt)
        total += coll.replace(df) if replace else coll.insert(df)
        replace = False
    click.echo(f"Inserted {total} objects into {coll.alias}")


@cli.command()
@click.argument("files", nargs=-1)
@click.pass_obj
def store(obj: Context, files):
    """Store dict-of-collections documents (reference cli.py:277-327)."""
    from linkml_store_spark.sources.formats import read_document

    for path in files:
        doc = read_document(path)
        obj.db.store(doc)
    click.echo(f"Stored {len(files)} document(s)")


@cli.command()
@WHERE_OPT
@click.option("-s", "--select", default=None, help="comma-separated columns")
@click.option("--sql", default=None, help="raw SQL passthrough (reference cli.py:430-489)")
@click.option("--explain", "explain_", is_flag=True, help="print the physical plan instead of rows")
@LIMIT_OPT
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def query(obj: Context, where, select, sql, explain_, limit, output_type, output):
    """Query a collection (reference cli.py:427-510)."""
    if sql:
        res = obj.db.execute_sql(sql)
        _render(res.rows, output_type, output)
        return
    cols = select.split(",") if select else None
    if explain_:
        click.echo(obj.collection.explain(_parse_yaml_arg(where), cols))
        return
    res = obj.collection.find(_parse_yaml_arg(where), select_cols=cols, limit=limit)
    _render(res.rows, output_type, output)


@cli.command()
@WHERE_OPT
@click.option("-S", "--columns", default=None, help="facet columns, comma-separated; '+' for compound")
@LIMIT_OPT
@click.option("-M", "--min-count", default=1, type=int)
@click.option("--wide", is_flag=True, help="unmelted wide format (reference pandas_utils.py:61-103)")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def fq(obj: Context, where, columns, limit, min_count, wide, output_type, output):
    """Facet counts (reference cli.py:522-597)."""
    facet_cols = None
    if columns:
        facet_cols = [
            tuple(c.split("+")) if "+" in c else c for c in columns.split(",")
        ]
    res = obj.collection.query_facets(
        _parse_yaml_arg(where),
        facet_columns=facet_cols,
        facet_limit=limit or 100,
        facet_min_count=min_count,
    )
    if wide:
        from linkml_store_spark.operators.facet_reshape import facets_to_wide_rows

        _render(facets_to_wide_rows(res), output_type, output)
        return
    rows = []
    for col, pairs in res.items():
        key = "+".join(col) if isinstance(col, tuple) else col
        for value, count in pairs:
            rows.append({"column": key, "value": value, "count": count})
    _render(rows, output_type, output)


@cli.command()
@WHERE_OPT
@click.option("-S", "--columns", required=True, help="group-by columns, comma-separated")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def groupby(obj: Context, where, columns, output_type, output):
    """Group rows into {keys, objects:[...]} (reference cli.py:599-647)."""
    rows = obj.collection.group_by(
        columns.split(","), where=_parse_yaml_arg(where)
    )
    _render(rows, output_type, output)


@cli.command()
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def describe(obj: Context, output_type, output):
    """Column statistics (reference cli.py:656-671)."""
    rows = [r.asDict() for r in obj.collection.describe().collect()]
    _render(rows, output_type, output)


@cli.command()
@WHERE_OPT
@click.option("--index", "index_cols", required=True)
@click.option("--columns", required=True)
@click.option("--values", required=True)
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def pivot(obj: Context, where, index_cols, columns, values, output_type, output):
    """index x columns -> values reshape (reference cli.py:674-708)."""
    from linkml_store_spark.operators.pivot import pivot as pivot_op
    from linkml_store_spark.where import apply_where

    df = apply_where(obj.collection.df, _parse_yaml_arg(where))
    out = pivot_op(df, index_cols.split(","), columns, values)
    _render([r.asDict(recursive=True) for r in out.collect()], output_type, output)


@cli.command()
@click.option("--sample-field", required=True)
@click.option("--classification-field", required=True)
@click.option("-p", "--p-value-threshold", default=0.05, type=float)
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def enrichment(obj: Context, sample_field, classification_field, p_value_threshold, output_type, output):
    """Per-sample category enrichment (reference cli.py:711-759)."""
    from linkml_store_spark.operators.enrichment import enriched_categories

    out = enriched_categories(
        obj.collection.df, sample_field, classification_field,
        p_value_threshold=p_value_threshold,
    )
    _render([r.asDict() for r in out.collect()], output_type, output)


@cli.command()
@click.option("-t", "--predictor-type", default="rule_based")
@click.option("-T", "--target", required=True)
@click.option("-F", "--features", default=None)
@click.option("-q", "--query-obj", "query_obj", default=None, help="YAML object to predict for")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def infer(obj: Context, predictor_type, target, features, query_obj, output_type, output):
    """Inference (reference cli.py:762-900)."""
    from linkml_store_spark.inference import get_inference_engine

    feats = features.split(",") if features else None
    eng = get_inference_engine(
        predictor_type, feature_attributes=feats, target_attributes=[target]
    )
    if predictor_type in ("sklearn", "sparkml"):
        eng.load_and_split_data(obj.collection.df)
        eng.initialize_model(target=target)
    elif predictor_type == "rag":
        eng.initialize_model(collection=obj.collection)
    if query_obj:
        inf = eng.derive(yaml.safe_load(query_obj))
        _render([inf.predicted_object] if inf else [], output_type, output)
    else:
        out = eng.predict_df(obj.collection.df)
        _render([r.asDict(recursive=True) for r in out.collect()], output_type, output)


@cli.command()
@click.option("-t", "--index-type", default="simple")
@click.pass_obj
def index(obj: Context, index_type):
    """Attach + build an index (reference cli.py:902-927)."""
    obj.collection.attach_indexer(index_type)
    click.echo(f"Indexed {obj.collection.alias} with {index_type}")


@cli.command()
@click.argument("search_term")
@WHERE_OPT
@LIMIT_OPT
@click.option("--mmr", "mmr_relevance_factor", default=None, type=float)
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def search(obj: Context, search_term, where, limit, mmr_relevance_factor, output_type, output):
    """Vector search (reference cli.py:952-982)."""
    res = obj.collection.search(
        search_term,
        where=_parse_yaml_arg(where),
        limit=limit or 10,
        mmr_relevance_factor=mmr_relevance_factor,
    )
    rows = [{"score": round(s, 6), **r} for s, r in res.ranked_rows]
    _render(rows, output_type, output)


@cli.command()
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def schema(obj: Context, output_type, output):
    """Induced/observed schema (reference cli.py:929-950)."""
    fields = [
        {"name": f.name, "range": f.dataType.simpleString(), "nullable": f.nullable}
        for f in obj.collection.df.schema.fields
    ]
    _render(fields, output_type, output)


@cli.command()
@click.option("--schema-file", default=None, help="JSON-Schema file for object validation")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def validate(obj: Context, schema_file, output_type, output):
    """Validate a collection (reference cli.py:1115-1140)."""
    from linkml_store_spark.validate import iter_validate_collection

    js = json.load(open(schema_file)) if schema_file else None
    errs = list(iter_validate_collection(obj.collection.df, json_schema=js))
    _render(errs, output_type, output)


@cli.command(name="find-matches")
@click.option("--target-collection", required=True)
@click.option("--metric", default="cosine")
@click.option("-n", "--max-matches", default=1, type=int)
@click.option("--threshold", default=None, type=float)
@click.option("--method", type=click.Choice(["auto", "exact", "ivf"]),
              default="auto", show_default=True,
              help="ivf = centroid-bucketed candidate join "
                   "(cosine/euclidean/dot): |L|*nprobe + |R| shuffle rows "
                   "instead of the |L|*|R| cross product — the scale path "
                   "for large collections; auto routes to it past 25M "
                   "candidate pairs")
@click.option("--nprobe", default=None, type=int,
              help="probes per query row for the ivf plan (default 4 for "
                   "--method ivf; auto-sized when auto routes — an "
                   "explicit value is honored on every method)")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def find_matches_cmd(obj: Context, target_collection, metric, max_matches,
                     threshold, method, nprobe, output_type, output):
    """kNN between two collections (reference cli.py:998-1112)."""
    from linkml_store_spark.index.indexer import INDEX_COLUMN
    from linkml_store_spark.index.search import find_matches

    src = obj.collection
    tgt = obj.db.get_collection(target_collection)
    tgt.identifier_attribute = tgt.identifier_attribute or obj.identifier

    def shadow_index(coll):
        # the indexer search() defaults to: the first attached one
        if not coll._indexers:
            coll.attach_indexer("simple", auto_index=False)
        return coll.index_objects(next(iter(coll._indexers)))

    src_idx, tgt_idx = shadow_index(src), shadow_index(tgt)
    pk_s, pk_t = src._require_pk(), tgt._require_pk()
    if method == "ivf":
        if metric not in ("cosine", "euclidean", "dot"):
            raise click.UsageError(
                "--method ivf supports cosine/euclidean/dot only"
            )
        from pyspark.sql import functions as F

        from linkml_store_spark.operators.similarity import ivf_knn_join

        out = ivf_knn_join(
            src_idx, tgt_idx, vector_col=INDEX_COLUMN, left_id=pk_s,
            right_id=pk_t, k=max_matches, metric=metric,
            nprobe=nprobe if nprobe is not None else 4,
        )
        if threshold is not None:
            out = out.filter(
                F.col("score") <= threshold
                if metric == "euclidean"
                else F.col("score") >= threshold
            )
    else:
        # an explicit --nprobe is honored on EVERY method (auto included —
        # it used to be silently dropped there, ADVICE r11); when unset,
        # auto's balanced sizing picks it
        out = find_matches(
            src_idx, tgt_idx, left_id=pk_s, right_id=pk_t,
            metric=metric, top_n=max_matches, threshold=threshold,
            method=method, nprobe=nprobe,
        )
    _render([r.asDict() for r in out.collect()], output_type, output)


@cli.command()
@click.option("--host", default="127.0.0.1", show_default=True)
@click.option("--port", default=8000, show_default=True, type=int)
@click.pass_obj
def serve(obj: Context, host, port):
    """Serve the REST API over the attached databases (reference
    webapi/main.py:843-858; flask dev server — front with any WSGI
    server in production)."""
    from linkml_store_spark.webapi import create_app

    if obj.database_handle:
        obj.db  # attach the CLI-selected database before serving
    # threaded: the dev server otherwise serializes ALL requests on one
    # thread — a single slow query would head-of-line-block the API.
    # Still the dev server; front with waitress/gunicorn in production.
    create_app(obj.client).run(host=host, port=port, threaded=True)


@cli.command()
@click.pass_obj
def indexes(obj: Context):
    """List attached indexers (reference cli.py:984-996)."""
    for name, idx in obj.collection._indexers.items():
        click.echo(f"{name}: {type(idx).__name__}")


@cli.command(name="list-collections")
@click.pass_obj
def list_collections(obj: Context):
    for name in obj.db.list_collection_names():
        click.echo(name)


@cli.command()
@click.pass_obj
def drop(obj: Context):
    obj.db.drop_collection(obj.collection_name)
    click.echo(f"Dropped {obj.collection_name}")


@cli.command()
@click.option(
    "--target-mb", default=256, type=int, help="target output file size in MB"
)
@click.option(
    "--sort-by", default=None, help="comma-separated cluster columns (sorted layout)"
)
@click.pass_obj
def compact(obj: Context, target_mb, sort_by):
    """Rewrite the collection's parquet into ~target-size files (layout
    maintenance for small-file swarms; optional sort-clustering)."""
    cols = sort_by.split(",") if sort_by else None
    report = obj.collection.compact(
        target_file_bytes=target_mb * 1024 * 1024, sort_cols=cols
    )
    click.echo(
        f"{report['before']['num_files']} files -> "
        f"{report['after']['num_files']} files "
        f"({report['after']['total_bytes']} bytes)"
    )


@cli.command()
@click.argument("path")
@click.option("-f", "--format", "fmt", default="parquet")
@click.pass_obj
def export(obj: Context, path, fmt):
    """Export all collections (reference cli.py:347-383)."""
    obj.db.export_database(path, fmt)
    click.echo(f"Exported to {path}")


@cli.command(name="import")
@click.argument("path")
@click.option("-f", "--format", "fmt", default="parquet")
@click.pass_obj
def import_database(obj: Context, path, fmt):
    obj.db.import_database(path, fmt)
    click.echo(f"Imported from {path}")


@cli.command()
@click.option("--other-database", required=True)
@click.option("--other-collection", required=True)
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def diff(obj: Context, other_database, other_collection, output_type, output):
    """JSON-Patch diff vs another collection (reference cli.py:385-406)."""
    other_db = obj.client.attach_database(other_database, alias="__other")
    other = other_db.get_collection(other_collection)
    other.identifier_attribute = obj.collection.identifier_attribute
    patches = obj.collection.diff(other)
    _render(patches, output_type, output)


@cli.command()
@click.argument("patch_files", nargs=-1)
@click.pass_obj
def apply(obj: Context, patch_files):
    """Apply JSON-Patch files (reference cli.py:408-425)."""
    for path in patch_files:
        patches = json.load(open(path))
        obj.collection.apply_patches(patches)
    click.echo(f"Applied {len(patch_files)} patch file(s)")


@cli.command()
@click.option("--id-col", required=True, help="stable identifier column")
@click.option("--fractions", default="train=0.98,val=0.01,test=0.01",
              help="name=frac pairs, comma-separated, in order")
@click.option("--salt", default="")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def split(obj: Context, id_col, fractions, salt, output_type, output):
    """Deterministic hash-bucketed split assignment counts
    (operators/splits.py — append-stable, engine-portable md5 bucketing)."""
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.splits import hash_split

    fr = {}
    for part in fractions.split(","):
        name, _, val = part.partition("=")
        fr[name.strip()] = float(val)
    out = hash_split(obj.collection.df, id_col, fr, salt=salt)
    rows = [
        r.asDict()
        for r in out.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split")
        .collect()
    ]
    _render(rows, output_type, output)


@cli.command()
@click.option("--text-col", default="text")
@click.option("--chunk-size", default=1024, type=int,
              help="window size (chars, or tokens with --by-tokens)")
@click.option("--stride", default=None, type=int,
              help="window start distance (default: no overlap)")
@click.option("--by-tokens", is_flag=True,
              help="BPE-ish token windows instead of characters")
@click.option("--target", default=None,
              help="write chunks to this collection instead of printing stats")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def chunk(obj: Context, text_col, chunk_size, stride, by_tokens, target,
          output_type, output):
    """Split documents into training-sized windows (operators/chunking.py)."""
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.chunking import (
        chunk_by_chars,
        chunk_by_tokens,
    )

    fn = chunk_by_tokens if by_tokens else chunk_by_chars
    kw = {"chunk_tokens" if by_tokens else "chunk_chars": chunk_size}
    out = fn(obj.collection.df, text_col=text_col, stride=stride, **kw)
    if target:
        obj.db.get_collection(target).replace(out)
        click.echo(f"Wrote {out.count()} chunks to {target}")
        return
    rows = [
        r.asDict()
        for r in out.agg(
            F.count(F.lit(1)).alias("chunks"),
            F.round(F.avg(F.length("chunk")), 1).alias("avg_chars"),
        ).collect()
    ]
    _render(rows, output_type, output)


@cli.command()
@click.option("--ts-col", default="ts")
@click.option("--grains", default="hour,day")
@click.option("--keys", default=None, help="extra group columns")
@click.option("--value-col", default=None, help="also SUM this column")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def rollup(obj: Context, ts_col, grains, keys, value_col, output_type, output):
    """Multi-grain time rollup in one scan (operators/rollup.py)."""
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.rollup import time_rollup

    aggs = {"n": F.count(F.lit(1))}
    if value_col:
        aggs["sum_" + value_col] = F.sum(value_col)
    out = time_rollup(
        obj.collection.df,
        ts_col,
        aggs,
        grains=tuple(g.strip() for g in grains.split(",")),
        keys=[k.strip() for k in keys.split(",")] if keys else (),
    )
    rows = [
        r.asDict()
        for r in out.withColumn(
            "bucket", F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
        )
        .orderBy("grain", "bucket")
        .collect()
    ]
    _render(rows, output_type, output)


@cli.command()
@click.option("--text-col", default="text")
@click.option("--target", default=None,
              help="write scrubbed rows to this collection instead of stats")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def scrub(obj: Context, text_col, target, output_type, output):
    """Redact PII (emails, IPs, SSNs, phones) from a text column
    (operators/scrub.py — codegen projection)."""
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.scrub import scrub_documents

    out = scrub_documents(obj.collection.df, text_col)
    if target:
        obj.db.get_collection(target).replace(
            out.drop(*[c for c in out.columns if c.startswith("n_")])
        )
        click.echo(f"Wrote {out.count()} scrubbed rows to {target}")
        return
    count_cols = [c for c in out.columns if c.startswith("n_")]
    rows = [
        r.asDict()
        for r in out.agg(
            F.count(F.lit(1)).alias("rows"),
            *[F.sum(c).alias(c) for c in count_cols],
        ).collect()
    ]
    _render(rows, output_type, output)


@cli.command("approx-distinct")
@click.option("--col", "col_", required=True, help="column to count")
@click.option("--by", default=None, help="group columns, comma-separated")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def approx_distinct(obj: Context, col_, by, output_type, output):
    """HLL-sketch approximate distinct count (operators/sketches.py)."""
    from linkml_store_spark.operators.sketches import approx_distinct_by

    groups = [b.strip() for b in by.split(",")] if by else ()
    out = approx_distinct_by(obj.collection.df, col_, by=groups)
    rows = [r.asDict() for r in (out.orderBy(*groups) if groups else out).collect()]
    _render(rows, output_type, output)


@cli.command(name="dedup-spans")
@click.option("-k", "--window", "k", default=13, show_default=True,
              help="minimum duplicated run length in tokens")
@click.option("--text-col", default="text", show_default=True)
@click.option("--stats", "stats_only", is_flag=True,
              help="report per-doc coverage instead of rewriting text")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def dedup_spans_cmd(obj: Context, k, text_col, stats_only, output_type, output):
    """ExactSubstr span dedup (Lee et al. 2021 k-gram approximation):
    strip >=k-token runs whose canonical occurrence is elsewhere."""
    df = obj.collection.dedup_spans(text_col=text_col, k=k, stats_only=stats_only)
    _render([r.asDict(recursive=True) for r in df.collect()], output_type, output)


@cli.command(name="dedup-segments")
@click.option("--text-col", default="text", show_default=True)
@click.option("--sep-regex", default=r"\n{2,}", show_default=True)
@click.option("--tokens-per-segment", type=int, default=None,
              help="fixed token windows instead of separator splitting")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def dedup_segments_cmd(obj: Context, text_col, sep_regex, tokens_per_segment,
                       output_type, output):
    """CCNet-style paragraph dedup keeping canonical first occurrences."""
    if tokens_per_segment:
        sep_regex = None
    df = obj.collection.dedup_segments(
        text_col=text_col, sep_regex=sep_regex,
        tokens_per_segment=tokens_per_segment,
    )
    _render([r.asDict(recursive=True) for r in df.collect()], output_type, output)


@cli.command(name="dsir-select")
@click.option("--target-where", required=True,
              help="JSON where-clause selecting the TARGET split of this "
                   "collection (e.g. '{\"source\": \"wiki\"}'); the rest "
                   "is the raw pool")
@click.option("-k", "--top-k", "k", default=100, show_default=True)
@click.option("--buckets", "n_buckets", default=10000, show_default=True)
@click.option("--text-col", default="text", show_default=True)
@click.option("--id-col", default="doc_id", show_default=True)
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def dsir_select_cmd(obj: Context, target_where, k, n_buckets, text_col,
                    id_col, output_type, output):
    """DSIR data selection (Xie et al. 2023): keep the raw documents whose
    hashed-n-gram distribution best matches the target split."""
    import json as _json

    from linkml_store_spark.operators.dsir import dsir_select
    from linkml_store_spark.where import apply_where

    where = _json.loads(target_where)
    df = obj.collection.df
    target = apply_where(df, where)
    raw = df.join(target.select(id_col), id_col, "left_anti")
    out = dsir_select(raw, target, k=k, text_col=text_col, id_col=id_col,
                      n_buckets=n_buckets)
    _render([r.asDict(recursive=True) for r in out.collect()],
            output_type, output)


@cli.command(name="lm-score")
@click.option("--target-where", required=True,
              help="JSON where-clause selecting the LM training split")
@click.option("--order", default=3, show_default=True)
@click.option("--alpha", default=0.4, show_default=True)
@click.option("--min-logprob", type=float, default=None,
              help="filter mode: emit only docs clearing this per-token "
                   "log10 score (CCNet-style LM gate)")
@click.option("--text-col", default="text", show_default=True)
@click.option("--id-col", default="doc_id", show_default=True)
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def lm_score_cmd(obj: Context, target_where, order, alpha, min_logprob,
                 text_col, id_col, output_type, output):
    """Stupid-backoff n-gram LM scoring (Brants et al. 2007): per-token
    log10 likelihood of every document under a target-trained LM."""
    import json as _json

    from pyspark.sql import functions as F

    from linkml_store_spark.operators.ngram_lm import (
        score_with_lm,
        train_ngram_lm,
    )
    from linkml_store_spark.where import apply_where

    where = _json.loads(target_where)
    df = obj.collection.df
    target = apply_where(df, where)
    raw = df.join(target.select(id_col), id_col, "left_anti")
    model = train_ngram_lm(target, text_col=text_col, order=order)
    scores = score_with_lm(raw, model, text_col=text_col, id_col=id_col,
                           alpha=alpha)
    if min_logprob is not None:
        scores = scores.filter(F.col("logprob_per_token") >= min_logprob)
    _render([r.asDict() for r in scores.orderBy(id_col).collect()],
            output_type, output)


@cli.command(name="fingerprint-overlap")
@click.option("-k", "--gram", "k", default=5, show_default=True)
@click.option("-w", "--window", "w", default=4, show_default=True)
@click.option("--min-shared", default=1, show_default=True)
@click.option("--max-freq", type=int, default=None,
              help="drop fingerprints appearing in more docs than this")
@click.option("--text-col", default="text", show_default=True)
@click.option("--id-col", default="doc_id", show_default=True)
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def fingerprint_overlap_cmd(obj: Context, k, w, min_shared, max_freq,
                            text_col, id_col, output_type, output):
    """Winnowing/MOSS fingerprint overlap (Schleimer et al. 2003):
    document pairs sharing >= min-shared winnowed fingerprints."""
    from linkml_store_spark.operators.fingerprint import fingerprint_overlap

    out = fingerprint_overlap(
        obj.collection.df, text_col=text_col, id_col=id_col, k=k, w=w,
        min_shared=min_shared, max_freq=max_freq,
    ).orderBy("left_id", "right_id")
    _render([r.asDict() for r in out.collect()], output_type, output)


@cli.command(name="train-tokenizer")
@click.option("--text-col", default="text", show_default=True)
@click.option("--merges", "num_merges", default=1000, show_default=True)
@click.option("-O", "--output", default=None, help="write merges JSON here")
@click.pass_obj
def train_tokenizer_cmd(obj: Context, text_col, num_merges, output):
    """Train a BPE tokenizer on this collection (distributed word count +
    driver merge loop); prints/writes the ranked merge list."""
    import json as _json

    merges = obj.collection.train_tokenizer(text_col=text_col, num_merges=num_merges)
    payload = _json.dumps([list(m) for m in merges])
    if output:
        with open(output, "w") as f:
            f.write(payload)
        click.echo(f"{len(merges)} merges -> {output}")
    else:
        click.echo(payload)


@cli.command(name="sample-tokens")
@click.option("--budget", required=True, type=int, help="token budget")
@click.option("--text-col", default="text", show_default=True)
@click.option("--by", default=None, help="comma-separated group columns")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def sample_tokens_cmd(obj: Context, budget, text_col, by, output_type, output):
    """Deterministic token-budget subsample (hash-ordered prefix)."""
    df = obj.collection.sample_tokens(
        budget, text_col=text_col, by=by.split(",") if by else ()
    )
    _render([r.asDict(recursive=True) for r in df.collect()], output_type, output)


@cli.command(name="build-vector-index")
@click.option("--vector-col", default="embedding", show_default=True)
@click.option("--centroids", default=16, show_default=True)
@click.option("--nprobe", default=4, show_default=True)
@click.pass_obj
def build_vector_index_cmd(obj: Context, vector_col, centroids, nprobe):
    """Build the durable IVF vector index (partition-pruned, all-JVM
    probes); knn/search auto-route to it afterwards."""
    obj.collection.build_vector_index(
        vector_col, n_centroids=centroids, nprobe=nprobe
    )
    click.echo(
        f"Built IVF index on {obj.collection.alias}.{vector_col} "
        f"({centroids} centroids, nprobe={nprobe})"
    )


@cli.command(name="knn")
@click.argument("query_vector")
@click.option("--vector-col", default="embedding", show_default=True)
@click.option("-k", default=10, show_default=True)
@click.option("--exact", is_flag=True, help="force the brute-force plan")
@click.option("--metric", default="cosine", show_default=True,
              type=click.Choice(["cosine", "dot", "euclidean", "manhattan"]),
              help="distances (euclidean/manhattan) rank ascending")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def knn_cmd(obj: Context, query_vector, vector_col, k, exact, metric,
            output_type, output):
    """Top-k rows by METRIC to QUERY_VECTOR (JSON list) — auto-routed to
    the IVF index when one is built (cosine/dot/euclidean), exact brute
    force otherwise."""
    import json as _json

    qv = _json.loads(query_vector)
    df = obj.collection.knn(qv, vector_col=vector_col, k=k, exact=exact,
                            metric=metric)
    _render([r.asDict(recursive=True) for r in df.collect()], output_type, output)


@cli.command(name="project")
@click.option("--method", type=click.Choice(["pca", "tsne", "umap"]),
              default="pca", show_default=True)
@click.option("--vector-col", default="embedding", show_default=True)
@click.option("-k", "--components", default=2, show_default=True)
@click.option("--sample-size", default=2000, show_default=True,
              help="bounded sample for the driver-side methods (tsne/umap)")
@OUTPUT_OPT
@OUTPUT_FILE_OPT
@click.pass_obj
def project_cmd(obj: Context, method, vector_col, components, sample_size,
                output_type, output):
    """Dimensionality-reduction projection of an embedding column
    (reference plotting/dimensionality_reduction.py): PCA is distributed
    (Spark ML); t-SNE/UMAP run on a bounded sample with built-in numpy
    implementations (sklearn/umap-learn used when installed)."""
    from linkml_store_spark.operators.dimreduce import (
        pca_project,
        tsne_project,
        umap_project,
    )

    df = obj.collection.df
    if method == "pca":
        out = pca_project(df, vector_col, k=components)
        rows = [r.asDict(recursive=True) for r in out.collect()]
    else:
        fn = tsne_project if method == "tsne" else umap_project
        coords = fn(
            df, vector_col, sample_size=sample_size, n_components=components
        )
        rows = [
            {"idx": i, **{f"c{j}": float(v) for j, v in enumerate(row)}}
            for i, row in enumerate(coords)
        ]
    _render(rows, output_type, output)


if __name__ == "__main__":
    cli()
