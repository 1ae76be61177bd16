"""End-to-end web-crawl -> training-data pipeline: the standard
pre-training recipe (CCNet / C4 / Gopher / RefinedWeb lineage) composed
from this engine's operators into one lazy plan chain:

  WARC ingest -> HTML text extraction -> language ID -> PII scrub ->
  C4 line filter -> Gopher quality -> exact dedup -> MinHash-LSH
  near-dup clustering -> (optional) benchmark decontamination ->
  train/val/test split -> BPE tokenization -> sequence packing.

Everything stays a DataFrame until the caller acts, with two documented
exceptions: near-dup connected components iterates (label propagation
materializes per round), and BPE training collects the bounded word-type
table.  Per-step scale shapes are documented on the underlying operators
(:mod:`.sources.warc`, :mod:`.operators.cleaning`,
:mod:`.operators.dedup`, :mod:`.operators.bpe`,
:mod:`.operators.packing`); this module adds NO new shuffles beyond the
sum of its steps — it only wires outputs to inputs, so the composed
pipeline inherits their 100 TB behavior.

Predicate pushdown stops at the cleaning steps.  ``pii_scrub``,
``c4_line_filter`` and ``gopher_quality_filter`` wrap their expensive
derived columns in :func:`.operators.cleaning.eval_once`, a
non-deterministic value-identity barrier that keeps Catalyst from
re-evaluating them.  Catalyst pushes no filter through a projection that
holds a non-deterministic column, so a filter placed after a cleaning
step, on a cleaned column or on any other (``url``, ``lang``), neither
reaches the scan nor shrinks the rows the cleaning step processes.  For
these full-corpus passes nothing selective could be pushed anyway; a
caller that wants a selective slice of cleaned text filters the input
before the first cleaning step.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import bpe as _bpe
from .operators import cleaning as _cleaning
from .operators import dedup as _dedup
from .operators import packing as _packing
from .operators import textstats as _textstats
from .operators.analysis import make_html_extractor
from .operators.sampling import hash_split
from .sources.warc import read_warc

__all__ = ["web_to_training_data", "WebPipelineResult"]


def _gopher_stops(lang: str | None) -> tuple:
    """Gopher's required-stopword rule is language-specific: the paper's
    English eight for en (and for lang=None, where the corpus is mixed —
    English is kept as the documented default), else the target
    language's function-word markers (the shortest-25 sets langid uses,
    any of the 22 languages the engine ships stop sets for)."""
    if lang in (None, "en"):
        return _cleaning.GOPHER_STOPS
    profiles = _textstats.all_language_profiles()
    if lang not in profiles:
        raise ValueError(
            f"no function-word profile for lang={lang!r} (have "
            f"{sorted(profiles)}): pass docs through "
            f"gopher_quality_filter(stop_words=...) directly")
    return tuple(profiles[lang])


@dataclass
class WebPipelineResult:
    """Stage outputs (lazy DataFrames) + the learned merge table."""
    raw: DataFrame              # (url, html, text) as ingested
    clean: DataFrame            # (url, text, lang, split) survivors
    encoded: DataFrame          # (url, split, tokens_str, n_tokens)
    packed: DataFrame           # train-split packs from pack_sequences
    merges: list = field(default_factory=list)

    def summary(self) -> dict:
        """Counts per stage (runs jobs)."""
        tok = self.encoded.agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("tokens")).first()
        return {
            "raw_docs": self.raw.count(),
            "clean_docs": self.clean.count(),
            "encoded_docs": int(tok["docs"]),
            "total_tokens": int(tok["tokens"] or 0),
            "train_packs": self.packed.count(),
            "bpe_merges": len(self.merges),
        }


def web_to_training_data(spark: SparkSession, warc_path: str, *,
                         lang: str | None = "en",
                         min_words: int = 20,
                         min_lines: int = 2,
                         num_merges: int = 1000,
                         merges: list | None = None,
                         max_tokens: int = 2048,
                         minhash_hashes: int = 8,
                         shingle_n: int = 3,
                         benchmark: DataFrame | None = None,
                         splits: dict[str, float] | None = None,
                         persist: bool = True) -> WebPipelineResult:
    """Run the full crawl->training-data recipe over ``.warc(.gz)`` files.

    ``lang=None`` skips language filtering; ``merges`` short-circuits BPE
    training with a pre-learned table; ``benchmark`` (a (doc_id, text)
    frame of eval sets) enables 13-gram decontamination.  Packing uses
    the BPE token counts (``tokens_str`` is space-joined subwords, so the
    packer's whitespace counting IS the subword count).
    """
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}

    # 1. ingest + deterministic capture selection + text extraction.
    #    Real crawls revisit URLs (recrawls, multi-segment overlaps);
    #    every later stage joins on url, so duplicates would multiply
    #    rows through the chain.  Keep the EARLIEST capture per url —
    #    min(warc_date, record_id, html) is a total order, so the
    #    survivor is a pure function of the crawl content.  One shuffle.
    hits = (read_warc(spark, warc_path)
            .where(F.col("http_status") == 200)
            .select(F.col("target_uri").alias("url"), "warc_date",
                    "record_id", "html"))
    pages = (hits.groupBy("url")
             .agg(F.min(F.struct("warc_date", "record_id", "html"))
                  .alias("_cap"))
             .select("url", F.col("_cap.html").alias("html")))
    raw = pages.mapInPandas(make_html_extractor("html"),
                            schema="url STRING, html STRING, text STRING")

    # 2. language ID over EVERY language the engine ships stop sets for
    #    (the default 4-language profile would silently empty the corpus
    #    for any other target lang); zero shuffle
    docs = raw.select("url", "text")
    lid = _textstats.langid_profile(
        docs, key_col="url", text_col="text",
        profiles=_textstats.all_language_profiles())
    docs = docs.join(lid.select("url", F.col("pred").alias("lang")), "url")
    if lang is not None:
        profiles = _textstats.all_language_profiles()
        if lang not in profiles:
            raise ValueError(
                f"lang={lang!r} has no language-ID profile (have "
                f"{sorted(profiles)}); pass lang=None and filter yourself")
        docs = docs.where(F.col("lang") == lang)

    # 3. scrub + line filter + quality (all per-row Catalyst)
    p = _cleaning.pii_scrub(docs, key_col="url", text_col="text") \
        .select("url", F.col("text_clean").alias("text"))
    c4 = _cleaning.c4_line_filter(p, key_col="url", text_col="text",
                                  min_lines=min_lines)
    kept = c4.where("page_keep") \
        .select("url", F.col("text_clean").alias("text"))
    g = _cleaning.gopher_quality_filter(kept, key_col="url",
                                        text_col="text",
                                        min_words=min_words,
                                        stop_words=_gopher_stops(lang))
    docs = kept.join(g.where("keep").select("url"), "url") \
        .join(docs.select("url", "lang"), "url")

    # 4. exact dedup: keep the canonical survivor per normalized text
    groups = _dedup.exact_dedup_groups(docs, key_col="url",
                                       text_col="text")
    docs = docs.join(
        groups.select(F.col("keeper").alias("url")), "url")

    # 5. near-dup clustering (MinHash -> LSH bands -> components);
    #    keep one representative per cluster.  NOTE: iterative step.
    toks = _dedup.ws_tokens(docs, key_col="url", text_col="text")
    sigs = _dedup.minhash_signatures(toks, n_hashes=minhash_hashes,
                                     shingle_n=shingle_n)
    pairs = _dedup.lsh_candidate_pairs(sigs)
    comps = _dedup.connected_components(
        pairs, docs.select("url"), vertex_col="url")
    keep = _dedup.dup_representatives(comps).where("keep") \
        .select(F.col("id").alias("url"))
    docs = docs.join(keep, "url")

    # 6. optional benchmark decontamination (broadcast n-gram semi-join);
    #    the benchmark's first two columns are taken as (key, text)
    if benchmark is not None:
        bc = benchmark.columns
        bnorm = benchmark.select(F.col(bc[0]).alias("url"),
                                 F.col(bc[1]).alias("text"))
        flags = _dedup.decontaminate(docs, bnorm, key_col="url",
                                     text_col="text")
        docs = docs.join(
            flags.where(~F.col("contaminated")).select("url"), "url")

    # 7. disjoint-exhaustive split; persisted by default — `clean` feeds
    #    THREE consumers (BPE training, encoding, the packer's split
    #    filter) and sits above the whole scrub/dedup chain, so without a
    #    persist every downstream action re-runs the pipeline end-to-end
    #    (persist=False opts out for single-pass writes at cluster scale)
    clean = hash_split(docs, splits, key_col="url")
    if persist:
        clean = clean.persist()

    # 8. BPE: learn on the clean corpus (bounded type-table collect),
    #    encode on the memoized Arrow path
    if merges is None:
        wc = _bpe.word_counts(clean, key_col="url", text_col="text")
        merges = _bpe.bpe_train(wc, num_merges, min_count=2)
    encoded = _bpe.bpe_encode(clean, merges, key_col="url",
                              text_col="text", method="pandas") \
        .join(clean.select("url", "split"), "url")

    # 9. pack the train split to the context budget (subword counts:
    #    tokens_str is space-joined subwords)
    packed = _packing.pack_sequences(
        encoded.where(F.col("split") == "train"), max_tokens,
        key_col="url", text_col="tokens_str")

    return WebPipelineResult(raw=raw, clean=clean, encoded=encoded,
                             packed=packed, merges=list(merges))
