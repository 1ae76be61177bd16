"""Spellcheck + the suggester family over the term dictionary.

  * spellcheck — ``DirectSpellChecker`` semantics (``lucene/suggest/.../
    spell/DirectSpellChecker.java``): candidate terms within max_edits
    Levenshtein distance of the input, ranked by (distance asc, docFreq
    desc, term asc); the FuzzyQuery machinery reused as a suggester.
  * suggest_prefix — raw-prefix completion: top-k dictionary terms by
    weight (ttf) under a prefix.
  * analyzing_suggest — ``suggest/analyzing/AnalyzingSuggester.java``
    (906 LoC): suggestions are matched on the ANALYZED form of the surface
    text but return the original surface, ranked by weight.  The FST over
    analyzed keys becomes a (key, surface, weight) DataFrame with a prefix
    predicate (parquet min/max-pruned at scale).
  * fuzzy_suggest — ``suggest/analyzing/FuzzySuggester.java``: like
    analyzing_suggest but the analyzed prefix tolerates edits
    (maxEdits<=2, first ``nonFuzzyPrefix`` chars exact, fuzz only for
    queries >= minFuzzyLength — :60-75 defaults).
  * free_text_suggest — ``suggest/analyzing/FreeTextSuggester.java``:
    "Google suggest"-style next-word prediction from an n-gram language
    model with STUPID BACKOFF smoothing (ALPHA = 0.4, :129-134).
  * word_break_suggest / word_combine_suggest — ``suggest/spell/
    WordBreakSpellChecker.java:93-160,162-230``: split a non-dictionary
    term into dictionary words / combine adjacent query terms.
  * term_range — ``TermRangeQuery`` (``search/TermRangeQuery.java``):
    lexicographic term-dictionary slice.

All are small scans of the term dictionary (a DataFrame); on a cluster the
dictionary scan is parquet-pruned by the term column's min/max stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .indexer import InvertedIndex

__all__ = ["spellcheck", "suggest_prefix", "term_range",
           "build_suggest_table", "analyzing_suggest", "fuzzy_suggest",
           "build_freetext_table", "free_text_suggest",
           "word_break_suggest", "infix_suggest", "word_combine_suggest",
           "spellcheck_collate", "blended_infix_suggest", "context_suggest"]


def _global_terms(index: InvertedIndex) -> DataFrame:
    # the per-segment dictionaries summed once per index and persisted
    # (InvertedIndex.terms_dict) — never re-aggregate postings per query
    return index.terms_dict()


def edit_candidate_pred(word: str, max_edits: int, term_col: str = "term"):
    """Cheap dictionary-pruning predicate: a term within ``max_edits``
    Levenshtein edits of ``word`` must (a) have length within
    ``max_edits`` of ``len(word)`` and (b) contain at least one of
    ``max_edits + 1`` contiguous chunks of ``word`` verbatim (pigeonhole:
    each edit corrupts at most one chunk, so one chunk survives as an
    exact substring — the FuzzyTermsEnum-style viable-term pruning of
    ``util/automaton/LevenshteinAutomata.java``, without the automaton).

    Never drops a true candidate, so filtering with this BEFORE the exact
    ``levenshtein`` leaves results identical while cutting the per-term
    distance computations by ~10-50x on natural vocabularies (plus the
    thresholded ``levenshtein(_, _, max_edits)`` call bounds the cost of
    the survivors)."""
    L = len(word)
    pred = F.length(F.col(term_col)).between(L - max_edits, L + max_edits)
    k = max_edits + 1
    if max_edits >= 1 and L >= k:
        base, rem = divmod(L, k)
        chunks, off = [], 0
        for i in range(k):
            ln = base + (1 if i < rem else 0)
            chunks.append(word[off:off + ln])
            off += ln
        anchor = F.col(term_col).contains(chunks[0])
        for c in chunks[1:]:
            anchor = anchor | F.col(term_col).contains(c)
        pred = pred & anchor
    return pred


def spellcheck(index: InvertedIndex, word: str, max_edits: int = 2,
               k: int = 5, min_df: int = 1) -> DataFrame:
    """(term, dist, df) — correction candidates for ``word``."""
    terms = _global_terms(index).where(edit_candidate_pred(word, max_edits))
    cand = (terms
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(word),
                                              max_edits))
            .where((F.col("dist") > 0) & (F.col("df") >= min_df)))
    return (cand.select("term", "dist", "df")
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(k))


def suggest_prefix(index: InvertedIndex, prefix: str, k: int = 10) -> DataFrame:
    """(term, weight) — completion suggestions, weight = total term freq."""
    terms = _global_terms(index)
    return (terms.where(F.col("term").startswith(prefix))
            .select("term", F.col("ttf").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("term"))
            .limit(k))


def build_suggest_table(surfaces: DataFrame, surface_col: str = "surface",
                        weight_col: str = "weight",
                        analyzer: str = "english",
                        contexts_col: str | None = None) -> DataFrame:
    """(key, surface, weight[, contexts]): the AnalyzingSuggester build
    step — analyze each surface, join the analyzed terms with ' ' into the
    lookup key (the FST input; ``AnalyzingSuggester.build`` :395-460).
    ``contexts_col`` (an array<string> column) passes through for
    :func:`context_suggest` (the ContextSuggestField analogue)."""
    from ..functions.tokenizer import get_analyzer

    analyze_fn = get_analyzer(analyzer)

    def keyize(batches):
        import pandas as pd
        for pdf in batches:
            keys = [" ".join(t.term for t in analyze_fn(s or ""))
                    for s in pdf[surface_col]]
            out = {"key": keys,
                   "surface": pdf[surface_col],
                   "weight": pdf[weight_col]}
            if contexts_col is not None:
                out["contexts"] = pdf[contexts_col]
            yield pd.DataFrame(out)

    schema = "key STRING, surface STRING, weight LONG"
    if contexts_col is not None:
        schema += ", contexts ARRAY<STRING>"
    return surfaces.mapInPandas(keyize, schema=schema)


def _analyzed_key(query: str, analyzer: str) -> str:
    from ..functions.tokenizer import get_analyzer
    return " ".join(t.term for t in get_analyzer(analyzer)(query))


def analyzing_suggest(table: DataFrame, query: str, k: int = 10,
                      analyzer: str = "english") -> DataFrame:
    """(surface, weight): surfaces whose ANALYZED key extends the analyzed
    query (``AnalyzingSuggester.lookup`` :640-780), by weight desc."""
    qkey = _analyzed_key(query, analyzer)
    return (table.where(F.col("key").startswith(qkey))
            .select("surface", "weight")
            .orderBy(F.desc("weight"), F.asc("surface"))
            .limit(k))


def fuzzy_suggest(table: DataFrame, query: str, k: int = 10,
                  analyzer: str = "english", max_edits: int = 1,
                  non_fuzzy_prefix: int = 1,
                  min_fuzzy_length: int = 3) -> DataFrame:
    """FuzzySuggester (:60-75 defaults): the analyzed-prefix match
    tolerates up to ``max_edits`` Levenshtein edits, with the first
    ``non_fuzzy_prefix`` chars exact; queries shorter than
    ``min_fuzzy_length`` match exactly."""
    qkey = _analyzed_key(query, analyzer)
    if len(qkey) < min_fuzzy_length:
        return analyzing_suggest(table, query, k, analyzer)
    # the Levenshtein automaton consumes a key prefix whose length may
    # differ from the query's by up to max_edits — take the min distance
    # over that window of prefix slices
    dists = [
        F.levenshtein(F.substring(F.col("key"), 1, max(1, len(qkey) + d)),
                      F.lit(qkey))
        for d in range(-max_edits, max_edits + 1)
    ]
    cond = (F.least(*dists) <= max_edits)
    if non_fuzzy_prefix > 0:
        cond = cond & (F.substring(F.col("key"), 1, non_fuzzy_prefix)
                       == qkey[:non_fuzzy_prefix])
    return (table.where(cond)
            .select("surface", "weight")
            .orderBy(F.desc("weight"), F.asc("surface"))
            .limit(k))


def build_freetext_table(tokens: DataFrame) -> DataFrame:
    """The FreeTextSuggester build step (``suggest/analyzing/
    FreeTextSuggester.java:129-189`` — the FST of 1/2/3-gram counts):
    materialize uni/bi/tri-gram counts from a (key, term, pos) token stream
    into ONE frame ``(ord, w1, w2, w3, cnt)`` (w2/w3 null below the gram
    order).

    Built once per corpus — one window pass + three map-side-combinable
    aggregations — then every suggestion is a filter + broadcast-join on
    this table (no per-call corpus jobs).  At scale the table is tiny
    relative to the corpus (vocabulary-sized) and parquet-prunes on
    (ord, w1)."""
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("pos")
    g = (tokens.withColumn("w2", F.lead("term", 1).over(w))
         .withColumn("w3", F.lead("term", 2).over(w)))
    uni = (g.groupBy(F.col("term").alias("w1"))
           .agg(F.count("*").alias("cnt"))
           .select(F.lit(1).alias("ord"), "w1",
                   F.lit(None).cast("string").alias("w2"),
                   F.lit(None).cast("string").alias("w3"), "cnt"))
    bi = (g.where(F.col("w2").isNotNull())
          .groupBy(F.col("term").alias("w1"), "w2")
          .agg(F.count("*").alias("cnt"))
          .select(F.lit(2).alias("ord"), "w1", "w2",
                  F.lit(None).cast("string").alias("w3"), "cnt"))
    tri = (g.where(F.col("w3").isNotNull())
           .groupBy(F.col("term").alias("w1"), "w2", "w3")
           .agg(F.count("*").alias("cnt"))
           .select(F.lit(3).alias("ord"), "w1", "w2", "w3", "cnt"))
    return uni.unionByName(bi).unionByName(tri)


_FREETEXT_COLS = {"ord", "w1", "w2", "w3", "cnt"}


def free_text_suggest(tokens_or_table: DataFrame, context: str, k: int = 10,
                      alpha: float = 0.4) -> DataFrame:
    """(word, score): next-word prediction after ``context`` (one or two
    words), stupid-backoff chain (``FreeTextSuggester`` ALPHA=0.4,
    grams=3 default :129-189):

      trigram:  count(c1 c2 w) / count(c1 c2)        (2-word context)
      bigram:   ALPHA^d * count(c_last w) / count(c_last)
      unigram:  ALPHA^(d+1) * count(w) / totalTokens

    where d = number of backoff steps taken.

    Accepts either a prebuilt :func:`build_freetext_table` frame (the
    production path — persist it and every suggestion is a pure
    filter+join, zero corpus jobs) or a raw (key, term, pos) token stream
    (compat: the table is derived inline).  The whole plan is lazy — no
    count()/collect() on the driver; the scalar denominators ride along as
    broadcast 1-row aggregates."""
    table = (tokens_or_table
             if _FREETEXT_COLS.issubset(set(tokens_or_table.columns))
             else build_freetext_table(tokens_or_table))

    ctx = [c for c in context.split() if c]
    last = ctx[-1]
    uni = table.where(F.col("ord") == 1)
    # 1-row broadcast scalars: total token count and count(last);
    # greatest(..,1) mirrors the reference's guard against a zero count
    total = uni.agg(F.sum("cnt").cast("double").alias("t"))
    c_last = (uni.where(F.col("w1") == last)
              .agg(F.greatest(F.coalesce(F.sum("cnt"), F.lit(0)), F.lit(1))
                   .cast("double").alias("cl")))
    backoff = (uni.select(F.col("w1").alias("word"),
                          F.col("cnt").cast("double").alias("c_uni"))
               .crossJoin(F.broadcast(total))
               .crossJoin(F.broadcast(c_last)))
    bigram = (table.where((F.col("ord") == 2) & (F.col("w1") == last))
              .select(F.col("w2").alias("word"),
                      F.col("cnt").cast("double").alias("c_bi")))
    merged = backoff.join(F.broadcast(bigram), "word", "left")
    u = F.col("c_uni") / F.col("t")
    b = F.col("c_bi") / F.col("cl")
    if len(ctx) >= 2:
        c1, c2 = ctx[-2], ctx[-1]
        n_ctx_bi = (table.where((F.col("ord") == 2) & (F.col("w1") == c1)
                                & (F.col("w2") == c2))
                    .agg(F.greatest(F.coalesce(F.sum("cnt"), F.lit(0)),
                                    F.lit(1))
                         .cast("double").alias("cb")))
        trigram = (table.where((F.col("ord") == 3) & (F.col("w1") == c1)
                               & (F.col("w2") == c2))
                   .select(F.col("w3").alias("word"),
                           F.col("cnt").cast("double").alias("c_tri")))
        merged = (merged.join(F.broadcast(trigram), "word", "left")
                  .crossJoin(F.broadcast(n_ctx_bi)))
        score = F.coalesce(F.col("c_tri") / F.col("cb"),
                           F.lit(alpha) * b,
                           F.lit(alpha * alpha) * u)
    else:
        score = F.coalesce(b, F.lit(alpha) * u)
    out = merged.select("word", F.round(score, 6).alias("score"))
    return out.orderBy(F.desc("score"), F.asc("word")).limit(k)


def word_break_suggest(index: InvertedIndex, word: str,
                       min_freq: int = 1, min_break_length: int = 1,
                       k: int = 10) -> DataFrame:
    """(left, right, freq_left, freq_right): two-way splits of ``word``
    where both halves are dictionary terms with df >= min_freq
    (``WordBreakSpellChecker.generateBreakUpSuggestions`` :258-300, depth
    1).  Ranked like the reference: by summed frequency desc."""
    spark = index.postings.sparkSession
    splits = [(word[:i], word[i:]) for i in
              range(min_break_length, len(word) - min_break_length + 1)]
    if not splits:
        return spark.createDataFrame(
            [], "left STRING, right STRING, freq_left LONG, freq_right LONG")
    cand = spark.createDataFrame(splits, "left STRING, right STRING")
    terms = _global_terms(index).where(F.col("df") >= min_freq)
    tl = terms.select(F.col("term").alias("left"),
                      F.col("df").alias("freq_left"))
    tr = terms.select(F.col("term").alias("right"),
                      F.col("df").alias("freq_right"))
    return (cand.join(tl, "left").join(tr, "right")
            .select("left", "right", "freq_left", "freq_right")
            .orderBy(F.desc(F.col("freq_left") + F.col("freq_right")),
                     F.asc("left"))
            .limit(k))


def word_combine_suggest(index: InvertedIndex, words: list[str],
                         min_freq: int = 1, k: int = 10) -> DataFrame:
    """(combined, i, freq): adjacent-pair combinations of the query words
    that exist in the dictionary (``suggestWordCombinations`` :162-230,
    pair window)."""
    spark = index.postings.sparkSession
    pairs = [(words[i] + words[i + 1], i) for i in range(len(words) - 1)]
    if not pairs:
        return spark.createDataFrame([], "combined STRING, i INT, freq LONG")
    cand = spark.createDataFrame(pairs, "combined STRING, i INT")
    terms = _global_terms(index).where(F.col("df") >= min_freq)
    return (cand.join(terms.select(F.col("term").alias("combined"),
                                   F.col("df").alias("freq")), "combined")
            .select("combined", "i", "freq")
            .orderBy(F.desc("freq"), F.asc("i"))
            .limit(k))


def term_range(index: InvertedIndex, lower: str | None, upper: str | None,
               include_lower: bool = True, include_upper: bool = False,
               limit: int = 1000) -> DataFrame:
    """(term, df, ttf) in lexicographic [lower, upper) — TermRangeQuery's
    dictionary slice (constant-score doc sets come from joining postings)."""
    terms = _global_terms(index)
    if lower is not None:
        terms = terms.where(F.col("term") >= lower if include_lower
                            else F.col("term") > lower)
    if upper is not None:
        terms = terms.where(F.col("term") <= upper if include_upper
                            else F.col("term") < upper)
    return terms.orderBy("term").limit(limit)


def infix_suggest(table: DataFrame, query: str, k: int = 10,
                  analyzer: str = "english",
                  highlight: bool = True) -> DataFrame:
    """AnalyzingInfixSuggester (``suggest/analyzing/
    AnalyzingInfixSuggester.java``): the analyzed query may match ANYWHERE
    in the suggestion's analyzed key at a token boundary (the reference
    indexes edge-grams of every token position); exact-prefix matches of
    the whole key rank before infix matches, then weight desc.

    Returns (surface, weight, prefix_match).  With ``highlight`` the
    surface keeps its original text (the reference wraps the matched
    region in <b>; here the match is on analyzed keys whose offsets don't
    map 1:1 to the surface, so highlighting stays a caller concern —
    documented divergence)."""
    _ = highlight
    qkey = _analyzed_key(query, analyzer)
    cond = ((F.col("key") == qkey)
            | F.col("key").startswith(qkey + " ")
            | F.col("key").contains(" " + qkey))
    is_prefix = (F.col("key") == qkey) | F.col("key").startswith(qkey)
    return (table.where(cond)
            .select("surface", "weight", is_prefix.alias("prefix_match"))
            .orderBy(F.desc("prefix_match"), F.desc("weight"),
                     F.asc("surface"))
            .limit(k))


def spellcheck_collate(index: InvertedIndex, query_text: str,
                       max_edits: int = 2, max_corrections: int = 2,
                       max_collations: int = 5,
                       min_df: int = 1) -> DataFrame:
    """(collation, total_dist, hits) — the Solr SpellCheckComponent
    ``collate`` feature (``solr/.../spelling/SpellCheckCollator.java``):
    rewrite the query with the top correction candidates per misspelled
    term, keep only collations that actually MATCH documents (every term
    present in one doc, the conjunctive re-query the collator issues),
    ranked (total edit distance asc, summed candidate df desc, collation
    asc), top ``max_collations``.

    Shape: per-slot candidates come from one dictionary scan (terms with
    df >= ``min_df`` within ``max_edits``); the candidate lists are tiny
    (<= ``max_corrections`` per slot) so the collation product is
    enumerated driver-side, and ALL collations are hit-verified in ONE
    job (explode collation terms -> join postings docs -> count docs
    matching every term)."""
    import itertools

    from ..functions.tokenizer import get_analyzer

    spark = index.postings.sparkSession
    qterms = [t.term for t in get_analyzer(index.analyzer)(query_text)]
    terms = _global_terms(index).where(F.col("df") >= min_df)

    # one scan: per-slot ranked candidates (dist 0 = the term itself)
    # every slot's candidates share one pruned dictionary scan: terms
    # passing ANY slot's length-band/anchor predicate (edit_candidate_pred
    # is a safe superset per slot), then the per-slot thresholded distance
    qt = spark.createDataFrame(
        [(i, t) for i, t in enumerate(qterms)], "slot INT, qterm STRING")
    any_slot = F.lit(True)
    if qterms:
        any_slot = edit_candidate_pred(qterms[0], max_edits)
        for t in qterms[1:]:
            any_slot = any_slot | edit_candidate_pred(t, max_edits)
    cand = (qt.crossJoin(terms.where(any_slot))
            .withColumn("dist",
                        F.levenshtein(F.col("term"), F.col("qterm"),
                                      max_edits))
            .where(F.col("dist") >= 0))
    from pyspark.sql import Window
    w = Window.partitionBy("slot").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term"))
    ranked = (cand.withColumn("_r", F.row_number().over(w))
              .where(F.col("_r") <= max_corrections)
              .select("slot", "term", "dist", "df").collect())

    by_slot: dict[int, list] = {}
    for r in ranked:
        by_slot.setdefault(r.slot, []).append((r.term, r.dist, r.df))
    if len(by_slot) < len(qterms):        # a slot with no candidate at all
        return spark.createDataFrame(
            [], "collation STRING, total_dist INT, hits LONG")

    collations = []
    for combo in itertools.product(*(by_slot[i]
                                     for i in range(len(qterms)))):
        text = " ".join(c[0] for c in combo)
        collations.append((text, sum(c[1] for c in combo),
                           sum(c[2] for c in combo),
                           sorted({c[0] for c in combo})))
    collations.sort(key=lambda c: (c[1], -c[2], c[0]))

    # verify every collation's conjunctive hits in one job
    rows = [(text, i, t) for i, (text, _d, _f, ts) in
            enumerate(collations) for t in ts]
    ct = spark.createDataFrame(rows, "collation STRING, cid INT, term STRING")
    nterms = (ct.groupBy("cid").agg(F.count("*").alias("n_terms")))
    docs = (index.postings.select(
                "term", F.explode("postings.docid").alias("docid"), "seg")
            .distinct())
    matched = (ct.join(docs, "term")
               .groupBy("cid", "seg", "docid")
               .agg(F.countDistinct("term").alias("m"))
               .join(nterms, "cid")
               .where(F.col("m") == F.col("n_terms"))
               .groupBy("cid").agg(F.count("*").alias("hits")))
    meta = spark.createDataFrame(
        [(i, text, d) for i, (text, d, _f, _t) in enumerate(collations)],
        "cid INT, collation STRING, total_dist INT")
    return (meta.join(matched, "cid")
            .where(F.col("hits") > 0)
            .orderBy(F.asc("cid"))
            .select("collation", "total_dist", "hits")
            .limit(max_collations))


def blended_infix_suggest(table: DataFrame, query: str, k: int = 10,
                          blender: str = "linear",
                          analyzer: str = "english") -> DataFrame:
    """BlendedInfixSuggester (``suggest/analyzing/
    BlendedInfixSuggester.java``): like the infix suggester but the weight
    is BLENDED with a coefficient from the position of the first matched
    token in the analyzed key —

      * ``linear``     (POSITION_LINEAR, :46-52): ``1 - 0.10 * pos``
        floored at the reference's minimum 0.
      * ``reciprocal`` (POSITION_RECIPROCAL):      ``1 / (pos + 1)``.

    Returns (surface, pos, blended_weight) ordered blended desc, surface
    asc.  Catalyst-only: the first-match position comes from an indexed
    ``transform`` over the split key — no UDF, no shuffle beyond top-k."""
    qkey = _analyzed_key(query, analyzer)
    toks = F.split(F.col("key"), " ")
    match_positions = F.filter(
        F.transform(toks, lambda t, i: F.when(
            t.startswith(qkey), i).otherwise(F.lit(None))),
        lambda x: x.isNotNull())
    pos = F.array_min(match_positions)
    if blender == "linear":
        coef = F.greatest(F.lit(0.0), F.lit(1.0) - F.lit(0.10) * pos)
    elif blender == "reciprocal":
        coef = F.lit(1.0) / (pos + F.lit(1.0))
    else:
        raise ValueError(f"unknown blender {blender!r}")
    return (table.withColumn("pos", pos)
            .where(F.col("pos").isNotNull())
            .select("surface", F.col("pos").cast("long").alias("pos"),
                    F.round(F.col("weight") * coef, 6)
                    .alias("blended_weight"))
            .orderBy(F.desc("blended_weight"), F.asc("surface"))
            .limit(k))


def context_suggest(table: DataFrame, query: str,
                    contexts: dict[str, float] | list[str],
                    k: int = 10, analyzer: str = "english") -> DataFrame:
    """ContextQuery over ContextSuggestField (``suggest/document/
    ContextQuery.java``): prefix completion restricted to suggestions
    carrying at least one of the allowed contexts, each context with a
    boost — score = weight * max(boost over the suggestion's matching
    contexts) (:198-210 scores per matched context; the max dedups a
    multi-context suggestion to its best path).

    Returns (surface, weight, score) score desc, surface asc.  Catalyst
    array ops over the suggest table: filter -> transform -> array_max;
    the only shuffle is the final top-k."""
    if not isinstance(contexts, dict):
        contexts = {c: 1.0 for c in contexts}
    allowed = sorted(contexts)
    qkey = _analyzed_key(query, analyzer)
    bmap = F.create_map(*[x for c in allowed
                          for x in (F.lit(c),
                                    F.lit(float(contexts[c])))])
    matched_ctx = F.filter(F.col("contexts"), lambda c: c.isin(allowed))
    score = F.round(F.col("weight")
                    * F.array_max(F.transform(matched_ctx,
                                              lambda c: bmap[c])), 6)
    return (table.where(F.col("key").startswith(qkey))
            .where(F.size(matched_ctx) > 0)
            .select("surface", "weight", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("surface"))
            .limit(k))
