"""Index-side phrase matching over positional postings.

When the index is built with ``positions=True``, phrases run directly
against the compressed postings — no re-tokenization of documents. A front
end of the index query engine (operators/dsl_index.py): the phrase gates
on its terms (the AND pre-filter, LimitingFilterFactory.phraseFilter:
177-192) and every candidate verifies exactly against its positions — the
exact phase of Lucene's PhraseQuery contract the reference approximates
two-phase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.compiler import DEFAULT_FIELD
from ..plans.query_plan import Phrase, Wildcard, WildcardPhrase
from .dsl_index import _dsl_specs, _manifest, _run, _term_plan


def phrase_docs_from_index(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> DataFrame:
    """doc_ids containing ``terms`` at consecutive positions (slop=0).

    A term may be a Lucene wildcard (``*``/``?``): each pattern position
    expands against the index term dictionary (the reference's
    WildcardPhraseQuery — per-position term-set producers,
    WildcardTermsProducer.getTerms:26-53) and the position slot accepts
    ANY of its expansion terms."""
    n_docs = _manifest(index_dir).n_docs
    slots = tuple(_term_plan(t) for t in terms)
    if any(isinstance(s, Wildcard) for s in slots):
        plan = WildcardPhrase(DEFAULT_FIELD, slots)
    else:
        plan = Phrase(DEFAULT_FIELD, tuple(terms))
    # every verified doc, unscored: no scoring occurrences and no k-cut
    specs, _ = _dsl_specs(spark, index_dir, {"phrase": plan}, scored=False)
    return (
        _run(spark, index_dir, n_docs, specs, {}, None, None)
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )
