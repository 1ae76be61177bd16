"""MoreLikeThis — find documents similar to a given document.

Reference: ``lucene/queries/src/java/org/apache/lucene/queries/mlt/
MoreLikeThis.java`` — interesting-term selection with the classic knobs
(``DEFAULT_MIN_TERM_FREQ = 2``, ``DEFAULT_MIN_DOC_FREQ = 5``,
``DEFAULT_MAX_QUERY_TERMS = 25``, word-length bounds, optional max doc
frequency) ranked by tf x idf, then a disjunctive query of the selected
terms.

Engine deviations, both deliberate and documented: term selection uses
the engine's BM25 idf (ln(1 + (N - df + .5)/(df + .5))) so selection and
scoring share one similarity (the reference mixes DefaultSimilarity idf
into selection regardless of the search-time similarity), and the
resulting disjunction is scored by the engine's BM25 pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .indexer import InvertedIndex

__all__ = ["interesting_terms", "more_like_this"]


def interesting_terms(index: InvertedIndex, key: str,
                      min_term_freq: int = 2, min_doc_freq: int = 5,
                      max_doc_freq: int | None = None,
                      max_query_terms: int = 25,
                      min_word_len: int = 0,
                      max_word_len: int = 0) -> DataFrame:
    """(term, tf, df, mlt_score) — the MoreLikeThis term-selection stage
    (``MoreLikeThis.retrieveTerms/createQueue``): the source doc's terms
    filtered by the frequency/length knobs, ranked tf x idf, capped at
    ``max_query_terms``."""
    max_doc, _ = index.collection_stats()
    src = (index.postings
           .select("seg", "term", F.explode("postings").alias("p"))
           .join(index.docmeta.where(F.col("key") == key)
                 .select("seg", F.col("docid").alias("_d")), "seg")
           .where(F.col("p.docid") == F.col("_d"))
           .select("term", F.col("p.freq").alias("tf")))
    gdf = index.terms_dict().select("term", "df")
    cand = src.join(gdf, "term")
    if min_term_freq > 0:
        cand = cand.where(F.col("tf") >= min_term_freq)
    if min_doc_freq > 0:
        cand = cand.where(F.col("df") >= min_doc_freq)
    if max_doc_freq is not None:
        cand = cand.where(F.col("df") <= max_doc_freq)
    if min_word_len > 0:
        cand = cand.where(F.length("term") >= min_word_len)
    if max_word_len > 0:
        cand = cand.where(F.length("term") <= max_word_len)
    idf = F.log(F.lit(1.0) + (F.lit(float(max_doc)) - F.col("df")
                              + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    return (cand.withColumn("mlt_score", F.col("tf").cast("double") * idf)
            .orderBy(F.desc("mlt_score"), F.asc("term"))
            .limit(max_query_terms)
            .select("term", "tf", "df", F.round("mlt_score", 6)
                    .alias("mlt_score")))


def more_like_this(index: InvertedIndex, key: str, k: int = 10,
                   min_term_freq: int = 2, min_doc_freq: int = 5,
                   max_doc_freq: int | None = None,
                   max_query_terms: int = 25, min_word_len: int = 0,
                   max_word_len: int = 0,
                   precision: str = "float32") -> DataFrame:
    """(key, score) top-k similar docs — the selected interesting terms
    as a BM25 disjunction, the source doc excluded: the top k + 1 less
    the source doc, cut from the collector's local frame."""
    from . import search as S

    terms = [r["term"] for r in
             interesting_terms(index, key, min_term_freq, min_doc_freq,
                               max_doc_freq, max_query_terms,
                               min_word_len, max_word_len)
             .select("term").collect()]
    return (S._topk(S._term_set_docs(index, terms, precision), index, k + 1,
                    precision)
            .where(F.col("key") != key).limit(k))
