"""Faceting, stats, and grouping over query results.

Solr component analogues (SURVEY.md §2.5):

  * field facets   — ``SimpleFacets.getFacetFieldCounts`` (FC method):
                     value counts over the matching doc set, count-desc with
                     index-order tie-break, limit/mincount knobs
  * range facets   — ``SimpleFacets.getFacetRangeCounts``: fixed-width bins
  * query facets   — counts per named subquery
  * stats          — ``StatsComponent``: min/max/sum/mean/stddev/count
  * grouping       — two-pass grouping (``AbstractFirstPassGroupingCollector``)
                     as a window row_number over (score, key) per group

All pure DataFrame ops.  The "result doc set" is any frame with doc keys —
compose with search.search_terms(...) or a raw predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .indexer import InvertedIndex
from .search import _docs_where, _sql_in, _term_set_docs, _with_keys

__all__ = ["taxonomy_counts", "drill_down", "stats_percentiles",
           "collapse_results", "expand_groups",
           "matching_docs", "facet_field", "facet_range", "facet_queries",
           "facet_pivot", "stats_agg", "group_topk", "facet_interval"]


def matching_docs(index: InvertedIndex, terms: list[str],
                  mode: str = "OR") -> DataFrame:
    """Non-scoring doc set for a term query — the Solr fq/DocSet analogue
    (``solr/.../search/DocSetBase.java``). Returns (key).  AND is the
    term-set clause matching every distinct term."""
    if mode.upper() == "AND":
        docs = _term_set_docs(index, terms,
                              min_should_match=len(set(terms)))
    else:
        docs = _docs_where(index, _sql_in("term", terms))
    return _with_keys(docs, index).select("key")


def facet_field(result_docs: DataFrame, dims: DataFrame, field: str,
                key_col: str = "key", mincount: int = 1,
                limit: int = 100, prefix: str | None = None,
                missing: bool = False) -> DataFrame:
    """(field_value, cnt) count-desc, value-asc — facet.field semantics.

    ``prefix`` = Solr's ``facet.prefix`` (only facet values starting with
    it are counted — a pushed-down predicate, so at scale the groupBy sees
    only the matching slice); ``missing`` = ``facet.missing`` (append a
    NULL-value row counting docs with no value for the field)."""
    joined = result_docs.join(dims, key_col)
    vals = joined if prefix is None else joined.where(
        F.col(field).startswith(prefix))
    out = (vals.where(F.col(field).isNotNull())
           .groupBy(F.col(field).alias("value"))
           .agg(F.count("*").alias("cnt"))
           .where(F.col("cnt") >= mincount)
           .orderBy(F.desc("cnt"), F.asc("value"))
           .limit(limit))
    if missing:
        miss = (joined.where(F.col(field).isNull())
                .agg(F.count("*").alias("cnt"))
                .select(F.lit(None).cast("string").alias("value"), "cnt"))
        out = out.unionByName(miss)
    return out


def facet_range(result_docs: DataFrame, dims: DataFrame, field: str,
                start: float, end: float, gap: float,
                key_col: str = "key") -> DataFrame:
    """(bucket_start, cnt) fixed-width bins over [start, end)."""
    joined = result_docs.join(dims, key_col)
    bucket = (F.floor((F.col(field) - F.lit(start)) / F.lit(gap))
              * F.lit(gap) + F.lit(start))
    return (joined.where((F.col(field) >= start) & (F.col(field) < end))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("cnt"))
            .orderBy("bucket"))


def facet_queries(index: InvertedIndex,
                  named_queries: dict[str, tuple[list[str], str]]) -> DataFrame:
    """facet.query: one count per named (terms, mode) subquery."""
    frames = []
    for name, (terms, mode) in named_queries.items():
        c = matching_docs(index, terms, mode).agg(
            F.count("*").alias("cnt")).withColumn("name", F.lit(name))
        frames.append(c.select("name", "cnt"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def stats_agg(result_docs: DataFrame, dims: DataFrame, field: str,
              key_col: str = "key",
              group_by: str | None = None) -> DataFrame:
    """StatsComponent: count/min/max/sum/mean/stddev (population, like
    Solr's stddev over the full result set)."""
    joined = result_docs.join(dims, key_col)
    aggs = [
        F.count("*").alias("cnt"),
        F.min(field).alias("min"),
        F.max(field).alias("max"),
        F.sum(field).alias("sum"),
        F.avg(field).alias("mean"),
        F.stddev_pop(field).alias("stddev"),
    ]
    if group_by:
        return joined.groupBy(group_by).agg(*aggs).orderBy(group_by)
    return joined.agg(*aggs)


def group_topk(index: InvertedIndex, terms: list[str], dims: DataFrame,
               group_field: str, k_per_group: int = 2,
               key_col: str = "key") -> DataFrame:
    """Two-pass grouping: top-k docs per group by BM25 score
    (``lucene/grouping``'s first/second pass collapsed into one windowed
    plan — Catalyst's window exchange partitions by group, exactly the
    per-group PQ the reference keeps)."""
    per_doc = _term_set_docs(index, terms)
    dims_k = dims.withColumnRenamed(key_col, "key") if key_col != "key" else dims
    hits = (_with_keys(per_doc, index)
            .join(dims_k, "key")
            .select(group_field, "key",
                    F.col("score").cast("float").alias("score")))
    w = Window.partitionBy(group_field).orderBy(
        F.desc("score"), F.asc("key"))
    return (hits.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k_per_group)
            .orderBy(group_field, "rnk"))


def facet_pivot(result_docs: DataFrame, dims: DataFrame,
                fields: list[str], key_col: str = "key",
                mincount: int = 1) -> DataFrame:
    """Pivot (hierarchical) facets — facet.pivot semantics
    (``solr/.../handler/component/PivotFacetHelper``): nested value counts
    across several fields, one row per leaf combination, ordered by the
    field hierarchy.  A single multi-column groupBy in Spark."""
    joined = result_docs.join(dims, key_col)
    return (joined.groupBy(*fields)
            .agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") >= mincount)
            .orderBy(*fields))


def drill_sideways(result_docs: DataFrame, dims: DataFrame,
                   filters: dict[str, object],
                   key_col: str = "key") -> DataFrame:
    """Drill-sideways facet counts (``lucene/facet/.../DrillSideways.java``):
    for each filtered dimension, value counts over the docs matching the
    query AND every OTHER dimension's filter — so the UI can show what the
    counts would be if this dimension's choice were relaxed.

    Returns (dim, value, cnt) for every filter key.  One groupBy per
    dimension over the shared joined frame (Catalyst reuses the join)."""
    joined = result_docs.join(dims, key_col)
    frames = []
    for dim in filters:
        others = joined
        for other_dim, val in filters.items():
            if other_dim != dim:
                others = others.where(F.col(other_dim) == val)
        frames.append(
            others.groupBy(F.col(dim).cast("string").alias("value"))
            .agg(F.count("*").alias("cnt"))
            .select(F.lit(dim).alias("dim"), "value", "cnt"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("dim", "value")


def taxonomy_counts(result_docs: DataFrame, paths: DataFrame,
                    path_col: str = "path", sep: str = "/") -> DataFrame:
    """Hierarchical (taxonomy) facet counts — ``lucene/facet``'s
    ``FastTaxonomyFacetCounts``/``TaxoArrays`` re-expressed: every matching
    doc contributes one count to EACH ancestor of its category path
    ("a/b/c" counts under a, a/b, a/b/c — the rollup the taxonomy ordinal
    arrays encode).  Returns (path, depth, cnt).

    Plan: explode the ancestor prefixes of each hit's path (array ops, no
    UDF) -> one groupBy on the prefix.  At 100 TB the prefix explode
    multiplies rows by average depth (small constant); the aggregation is
    map-side combinable.
    """
    joined = result_docs.join(paths, "key")
    parts = F.split(F.col(path_col), sep)
    prefixes = F.expr(
        f"transform(sequence(1, size(split({path_col}, '{sep}'))), "
        f"i -> array_join(slice(split({path_col}, '{sep}'), 1, i), '{sep}'))")
    exploded = joined.select(F.explode(prefixes).alias("path"))
    return (exploded
            .groupBy("path")
            .agg(F.count("*").alias("cnt"))
            .withColumn("depth",
                        F.size(F.split(F.col("path"), sep)).cast("int"))
            .select("path", "depth", "cnt"))


def drill_down(result_docs: DataFrame, paths: DataFrame, prefix: str,
               path_col: str = "path", sep: str = "/") -> DataFrame:
    """DrillDownQuery + child facet counts (``facet/DrillDownQuery.java``;
    ``TaxonomyReader.getChildren``): restrict the hit set to docs whose
    path is under ``prefix``, then count the IMMEDIATE child categories.
    Returns (child, cnt)."""
    depth = len(prefix.split(sep))
    joined = result_docs.join(paths, "key")
    under = joined.where(
        (F.col(path_col) == prefix)
        | F.col(path_col).startswith(prefix + sep))
    child = F.array_join(
        F.slice(F.split(F.col(path_col), sep), 1, depth + 1), sep)
    return (under.where(F.size(F.split(F.col(path_col), sep)) > depth)
            .select(child.alias("child"))
            .groupBy("child").agg(F.count("*").alias("cnt")))


def stats_percentiles(result_docs: DataFrame, dims: DataFrame, field: str,
                      percentiles: list[float],
                      key_col: str = "key",
                      group_by: str | None = None) -> DataFrame:
    """StatsComponent ``percentiles`` (Solr exposes them through t-digest;
    here EXACT interpolated percentiles — at 100 TB swap F.percentile for
    percentile_approx and accept the documented epsilon)."""
    joined = result_docs.join(dims, key_col)
    aggs = [F.percentile(F.col(field), F.lit(p)).alias(f"p{int(p * 100)}")
            for p in percentiles]
    if group_by:
        return joined.groupBy(group_by).agg(*aggs).orderBy(group_by)
    return joined.agg(*aggs)


def collapse_results(scored_hits: DataFrame, dims: DataFrame,
                     collapse_field: str, k: int = 10,
                     key_col: str = "key") -> DataFrame:
    """Field collapsing — Solr's CollapsingQParserPlugin
    (``solr/core/.../search/CollapsingQParserPlugin.java``): the result
    list keeps only the HIGHEST-SCORING doc per collapse-field group
    (null group values pass through uncollapsed), then ranks those heads
    normally.  Input: (key, score) hits; dims supplies the collapse field.
    Returns top-k (key, score, <collapse_field>).

    Plan: one window partitioned by the collapse value (the per-group PQ
    the plugin keeps in its collector), then the global top-k cut."""
    joined = scored_hits.join(dims.select(key_col, collapse_field), key_col)
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc(key_col))
    heads = (joined.withColumn("_rn", F.row_number().over(w))
             .where(F.col(collapse_field).isNull() | (F.col("_rn") == 1))
             .drop("_rn"))
    return (heads.orderBy(F.desc("score"), F.asc(key_col)).limit(k)
            .select(key_col, "score", collapse_field))


def expand_groups(scored_hits: DataFrame, dims: DataFrame,
                  collapse_field: str, heads: DataFrame,
                  rows_per_group: int = 5,
                  key_col: str = "key") -> DataFrame:
    """The ExpandComponent (``handler/component/ExpandComponent.java``):
    for each collapsed head, the OTHER members of its group ranked by
    score — the "see more like this group" section.  Returns
    (<collapse_field>, key, score, rank)."""
    joined = scored_hits.join(dims.select(key_col, collapse_field), key_col)
    groups = heads.select(collapse_field,
                          F.col(key_col).alias("_head_key")).distinct()
    members = (joined.join(F.broadcast(groups), collapse_field)
               .where(F.col(key_col) != F.col("_head_key")))
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc(key_col))
    return (members.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= rows_per_group)
            .select(collapse_field, key_col, "score", "rank"))


def facet_interval(result_docs: DataFrame, dims: DataFrame, field: str,
                   intervals: list[tuple], key_col: str = "key") -> DataFrame:
    """(interval, cnt) — Solr interval faceting (``facet.interval`` /
    ``IntervalFacets.java``): arbitrary, possibly-overlapping intervals
    with per-end open/closed bounds.  ``intervals`` entries are
    (label, lo, hi, lo_closed, hi_closed); ``None`` bounds are unbounded
    (the ``(*,x]`` syntax).  One pass: a doc contributes to EVERY
    interval it falls in (unlike facet.range's disjoint bins)."""
    joined = result_docs.join(dims, key_col)
    frames = []
    for label, lo, hi, lo_closed, hi_closed in intervals:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(field) >= lo if lo_closed
                           else F.col(field) > lo)
        if hi is not None:
            cond = cond & (F.col(field) <= hi if hi_closed
                           else F.col(field) < hi)
        frames.append(joined.where(cond).agg(
            F.lit(label).alias("interval"),
            F.count("*").alias("cnt")))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("interval")
