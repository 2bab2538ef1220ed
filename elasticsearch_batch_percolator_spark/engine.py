"""High-level facade: corpus in, BM25 answers out.

Usage::

    eng = Engine.from_documents(spark, sf_dir)       # driver fixture
    eng = Engine(spark, corpus_df)                   # (doc_id, content)
    eng.topk(["spark", "join"], k=10)                # single ad-hoc query
    eng.topk_many(query_terms_df, k=10)              # batch of queries

The per-corpus derived tables (tokens, tf, dl, df) are built once and
cached — the Spark analog of the reference keeping its registry and segment
stats resident per shard (BatchPercolatorQueriesRegistry.java:78).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import documents_corpus
from .functions.tokenizer import tokenize_code, tokenize_ws
from .operators.bm25 import bm25_topk, score_terms
from .operators.stats import corpus_stats, doc_freq, doc_lengths, term_frequencies

TOKENIZERS = {"ws": tokenize_ws, "code": tokenize_code}

_LOG = logging.getLogger(__name__)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        content_col: str = "content",
        id_col: str = "doc_id",
        tokenizer: str = "ws",
        cache: bool = True,
    ) -> None:
        self.spark = spark
        self.tokenizer = tokenizer
        tok = TOKENIZERS[tokenizer]
        self.docs = corpus.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(content_col).alias("content"),
            tok(content_col).alias("tokens"),
        )
        if cache:
            self.docs = self.docs.cache()
        self.tf = term_frequencies(self.docs)
        self.dl = doc_lengths(self.docs)
        self.dfreq = doc_freq(self.tf)
        if cache:
            self.tf = self.tf.cache()
            self.dl = self.dl.cache()
            self.dfreq = self.dfreq.cache()
        self._stats: tuple[int, float] | None = None

    @classmethod
    def from_documents(cls, spark: SparkSession, sf_dir: str, **kw) -> "Engine":
        return cls(spark, documents_corpus(spark, sf_dir), **kw)

    @property
    def stats(self) -> tuple[int, float]:
        if self._stats is None:
            self._stats = corpus_stats(self.docs)
        return self._stats

    def query_terms_df(self, terms: list[str], query_id: str = "q0") -> DataFrame:
        return self.spark.createDataFrame(
            [(query_id, t) for t in terms], "query_id string, term string"
        )

    def score(self, query_terms: DataFrame, require_all: bool = False) -> DataFrame:
        n, avgdl = self.stats
        return score_terms(
            self.tf, self.dl, self.dfreq, query_terms, n, avgdl, require_all=require_all
        )

    def topk(self, terms: list[str], k: int = 10, require_all: bool = False) -> DataFrame:
        return bm25_topk(self.score(self.query_terms_df(terms), require_all), k)

    def topk_many(self, query_terms: DataFrame, k: int = 10) -> DataFrame:
        return bm25_topk(self.score(query_terms), k)

    def unpersist(self) -> None:
        for df in (self.docs, self.tf, self.dl, self.dfreq):
            try:
                df.unpersist()
            except Exception:  # e.g. its SparkContext is stopped
                _LOG.debug("unpersist of a corpus frame failed", exc_info=True)
