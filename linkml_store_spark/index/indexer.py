"""Indexers: object -> text -> vector, producing shadow index DataFrames.

Reference parity:
  * ``object_to_text`` — attribute subset, null filter, fstring/Jinja2
    template (``src/linkml_store/index/indexer.py:126-156``).
  * ``SimpleIndexer.text_to_vector`` — lowercase, character trigrams,
    sha1(trigram) % N increments into a length-1000 count vector
    (``src/linkml_store/index/implementations/simple_indexer.py:18-43``).
    The sha1%N math is reproduced exactly so scores match the reference.
  * ``LLMIndexer`` — external-embedding indexer with a cache table keyed
    (text, model_id) (``index/implementations/llm_indexer.py:19-186``); the
    embedding call itself is pluggable and stubbed by default (no network in
    this environment) — the Spark-side plumbing (batching, cache anti-join)
    is real.

Vectorization runs as a pandas UDF (Arrow-batched) because sha1-per-trigram
is Python-bound math; the rest of the search pipeline is native Spark. The
in-process search index (``Indexer.collect_index``) instead collects the
texts and embeds them in the driver with the same function.
"""

from __future__ import annotations

import hashlib
from typing import Any, Callable, Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

INDEX_COLUMN = "__index__"  # reference indexer.py:86-87
_TEXT_COLUMN = "__text"  # an object's text, while collect_index embeds it
#: texts per embed_fn call when LLMIndexer embeds in the driver — the
#: Arrow batch size the index UDF hands it
_EMBED_BATCH = 10_000


def object_to_text_expr(
    columns: List[str],
    index_attributes: Optional[List[str]] = None,
) -> F.Column:
    """Native-Spark object->text: str(dict) of the (subset of) columns.

    Reference stringifies the python dict (indexer.py:126-156); we build the
    same "{'k': v, ...}"-ish repr with concat_ws — exact repr parity is not
    required for scoring parity because both sides of a search use the same
    text function.
    """
    attrs = index_attributes or columns
    parts = []
    for c in attrs:
        parts.append(F.concat(F.lit(f"'{c}': "), F.col(c).cast("string")))
    return F.concat(F.lit("{"), F.concat_ws(", ", *parts), F.lit("}"))


def trigram_vector(text: str, vector_length: int = 1000) -> np.ndarray:
    """Exact reference math (simple_indexer.py:18-43)."""
    text = text.lower()
    vector = np.zeros(vector_length, dtype=np.float64)
    for i in range(len(text) - 2):
        trigram = text[i : i + 3]
        h = int(hashlib.sha1(trigram.encode("utf-8")).hexdigest(), 16)
        vector[h % vector_length] += 1.0
    return vector


class Indexer:
    """Pluggable text->vector embedder (reference index/indexer.py:24-211)."""

    def __init__(
        self,
        name: str = "index",
        index_attributes: Optional[List[str]] = None,
        text_template: Optional[str] = None,
        text_template_syntax: Optional[str] = None,
        vector_default_length: int = 1000,
    ):
        self.name = name
        self.index_attributes = index_attributes
        self.text_template = text_template
        self.text_template_syntax = text_template_syntax
        self.vector_default_length = vector_default_length

    def text_to_vector(self, text: str) -> List[float]:
        raise NotImplementedError

    def _template_syntax(self) -> str:
        """fstring vs jinja2, auto-detected like the reference
        (indexer.py:139-148: ``{%``/``{{`` means Jinja2)."""
        if self.text_template_syntax:
            return self.text_template_syntax
        if self.text_template and (
            "{%" in self.text_template or "{{" in self.text_template
        ):
            return "jinja2"
        return "fstring"

    def object_to_text(self, obj: Dict[str, Any]) -> str:
        if self.index_attributes:
            if len(self.index_attributes) == 1 and not self.text_template:
                return str(obj[self.index_attributes[0]])
            obj = {k: v for k, v in obj.items() if k in self.index_attributes}
        obj = {k: v for k, v in obj.items() if v is not None}
        if self.text_template:
            syntax = self._template_syntax()
            if syntax == "jinja2":
                from jinja2 import Template

                return Template(self.text_template).render(**obj)
            if syntax == "fstring":
                return self.text_template.format(**obj)
            raise NotImplementedError(f"Cannot handle template syntax: {syntax}")
        return str(obj)

    def _text_col(self, df: DataFrame) -> F.Column:
        if self.index_attributes and len(self.index_attributes) == 1 and not self.text_template:
            return F.col(self.index_attributes[0]).cast("string")
        if self.text_template:
            # Templates (fstring or Jinja2) render per object; an Arrow
            # batch of struct rows -> object_to_text keeps the exact driver
            # semantics on executors (self pickles by reference; the package
            # zip is shipped via addPyFile).
            to_text = self.object_to_text

            @F.pandas_udf(T.StringType())
            def render(batch: pd.DataFrame) -> pd.Series:
                return pd.Series(
                    [to_text(rec) for rec in batch.to_dict("records")]
                )

            return render(F.struct(*[F.col(c) for c in df.columns]))
        return object_to_text_expr(df.columns, self.index_attributes)

    def index_dataframe(self, df: DataFrame) -> DataFrame:
        """Shadow index: all source columns plus __index__ vector
        (reference index_objects, collection.py:892-943)."""
        vec_len = self.vector_default_length

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def embed(texts: pd.Series) -> pd.Series:
            return texts.map(lambda t: trigram_vector(t or "", vec_len).tolist())

        return df.withColumn(INDEX_COLUMN, embed(self._text_col(df)))

    def embed_texts(self, texts: List[Optional[str]]) -> np.ndarray:
        """``(len(texts), dim)`` float64 vectors of ``texts`` (None embeds
        as ""): per text, the function :meth:`index_dataframe`'s UDF maps,
        so both give the same floats."""
        n = self.vector_default_length
        out = np.zeros((len(texts), n), dtype=np.float64)
        for i, t in enumerate(texts):
            out[i] = trigram_vector(t or "", n)
        return out

    def _embeds_in_process(self) -> bool:
        """True when :meth:`index_dataframe` and :meth:`embed_texts` are
        this class's own, so the latter reproduces the former's vectors."""
        cls = type(self)
        return (
            cls.index_dataframe is Indexer.index_dataframe
            and cls.embed_texts is Indexer.embed_texts
        )

    def collect_index(self, df: DataFrame) -> Tuple[Any, np.ndarray]:
        """The shadow index of ``df`` in the driver: ``(table, matrix)``,
        its rows as an Arrow table and their vectors as a float64
        ``(rows, dim)`` matrix, row for row what
        ``index_dataframe(df)`` holds.

        One Spark job collects the rows with their text (the same text
        expression the index plan runs), and :meth:`embed_texts` embeds
        them here: no Python worker runs the embedding, and no vector
        crosses from the JVM. An indexer whose ``index_dataframe`` is
        overridden (an embedding cache, a subclass) collects that plan
        instead."""
        if not self._embeds_in_process():
            from linkml_store_spark.operators.localexec import vector_matrix

            tbl = self.index_dataframe(df).toArrow()
            return (
                tbl.drop_columns([INDEX_COLUMN]),
                vector_matrix(tbl.column(INDEX_COLUMN)),
            )
        tbl = df.withColumn(_TEXT_COLUMN, self._text_col(df)).toArrow()
        texts = tbl.column(_TEXT_COLUMN).to_pylist()
        return tbl.drop_columns([_TEXT_COLUMN]), self.embed_texts(texts)


class SimpleIndexer(Indexer):
    """Trigram-hash indexer, exact parity with the reference test indexer."""

    def text_to_vector(self, text: str) -> List[float]:
        return trigram_vector(text, self.vector_default_length).tolist()


class LLMIndexer(Indexer):
    """External-embedding indexer with a (text, model_id)-keyed cache.

    ``embed_fn`` takes a list of texts and returns a list of vectors —
    plug in any embedding client. Default is a deterministic fake (trigram
    projection) so the pipeline is testable offline; the batching and cache
    anti-join mirror ``llm_indexer.py:65-182``.
    """

    def __init__(
        self,
        name: str = "llm",
        model_id: str = "fake-embedding",
        embed_fn: Optional[Callable[[List[str]], List[List[float]]]] = None,
        vector_default_length: int = 64,
        cache_path: Optional[str] = None,
        **kwargs,
    ):
        super().__init__(name=name, vector_default_length=vector_default_length, **kwargs)
        self.model_id = model_id
        self.cache_path = cache_path
        self._embed_fn = embed_fn or self._fake_embed

    def _fake_embed(self, texts: List[str]) -> List[List[float]]:
        return [
            trigram_vector(t, self.vector_default_length).tolist() for t in texts
        ]

    def text_to_vector(self, text: str) -> List[float]:
        return self._embed_fn([text])[0]

    def embed_texts(self, texts: List[Optional[str]]) -> np.ndarray:
        if not texts:
            return np.zeros((0, self.vector_default_length), dtype=np.float64)
        out: List[List[float]] = []
        for i in range(0, len(texts), _EMBED_BATCH):
            out.extend(self._embed_fn([t or "" for t in texts[i : i + _EMBED_BATCH]]))
        # ragged vectors raise ValueError: the caller keeps the Spark plan
        return np.array(out, dtype=np.float64).reshape(len(texts), -1)

    def _embeds_in_process(self) -> bool:
        # a cache lookup must run: its hits skip the embedding call
        cls = type(self)
        return (
            not self.cache_path
            and cls.index_dataframe is LLMIndexer.index_dataframe
            and cls.embed_texts is LLMIndexer.embed_texts
        )

    def index_dataframe(self, df: DataFrame) -> DataFrame:
        embed_fn = self._embed_fn

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def embed(texts: pd.Series) -> pd.Series:
            # one embed call per Arrow batch — the batch IS the rate-limit
            # friendly unit (reference batches at llm_indexer.py:65-115)
            vecs = embed_fn(texts.fillna("").tolist())
            return pd.Series(vecs)

        if not self.cache_path:
            return df.withColumn(INDEX_COLUMN, embed(self._text_col(df)))
        return self._index_with_cache(df, embed)

    def _index_with_cache(self, df: DataFrame, embed) -> DataFrame:
        """Embedding cache keyed (md5(text), model_id) — reference keeps a
        DuckDB table probed per text (llm_indexer.py:117-182, a known N-query
        hot spot); here hits come from ONE join and only misses pay the
        embedding call, then the cache is appended for next time."""
        import os

        spark = df.sparkSession
        keyed = df.withColumn("__text", self._text_col(df)).withColumn(
            "__h", F.md5(F.col("__text"))
        )
        cache = None
        if os.path.exists(self.cache_path):
            cache = spark.read.parquet(self.cache_path).filter(
                F.col("model_id") == self.model_id
            )
        if cache is None:
            misses, hits = keyed, None
        else:
            lookup = cache.select("__h", F.col("vector").alias(INDEX_COLUMN))
            hits = keyed.join(F.broadcast(lookup), "__h", "inner")
            misses = keyed.join(lookup.select("__h"), "__h", "left_anti")
        # persist: the embedding UDF must run ONCE per miss, not once per
        # downstream action (cache write + result scan)
        embedded = misses.withColumn(INDEX_COLUMN, embed(F.col("__text"))).persist()
        new_entries = embedded.select(
            "__h",
            F.lit(self.model_id).alias("model_id"),
            F.col(INDEX_COLUMN).alias("vector"),
        ).dropDuplicates(["__h"])
        if new_entries.take(1):
            new_entries.write.mode("append").parquet(self.cache_path)
        out = embedded if hits is None else embedded.unionByName(hits)
        return out.drop("__text", "__h")
