"""Positional postings: index-side phrase == Catalyst phrase."""

from pyspark.sql import functions as F

from elasticsearch_batch_percolator_spark.engine import Engine
from elasticsearch_batch_percolator_spark.index.build import build_index
from elasticsearch_batch_percolator_spark.operators.match import match_col
from elasticsearch_batch_percolator_spark.operators.phrase_index import (
    phrase_docs_from_index,
)
from elasticsearch_batch_percolator_spark.plans import compile_query


def test_phrase_from_index_matches_catalyst(spark, sf_dir, tmp_path):
    eng = Engine.from_documents(spark, sf_dir)
    idx = str(tmp_path / "posidx")
    build_index(
        spark, eng.docs.select("doc_id", "tokens"), idx, n_segments=4, positions=True
    )
    for terms in (["the", "fast"], ["merge", "sort"], ["the", "fast", "key"]):
        got = {
            int(r["doc_id"])
            for r in phrase_docs_from_index(spark, idx, terms).collect()
        }
        plan = compile_query({"phrase": {"field": "content", "terms": terms}})
        exp = {
            int(r["doc_id"])
            for r in eng.docs.filter(
                match_col(plan, {"content": F.col("tokens")})
            ).select("doc_id").collect()
        }
        assert got == exp, f"terms={terms}"


def test_positionless_index_unchanged(spark, sf_dir, tmp_path):
    """Default build stores no positions (``positions`` null) — size guard."""
    eng = Engine.from_documents(spark, sf_dir)
    idx = str(tmp_path / "noposidx")
    build_index(spark, eng.docs.select("doc_id", "tokens"), idx, n_segments=2)
    rows = spark.read.parquet(f"{idx}/postings").select("positions").collect()
    assert rows and all(r["positions"] is None for r in rows)
