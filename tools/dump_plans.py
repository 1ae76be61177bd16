"""Dump .explain("formatted") for the bench's main query paths.

Usage: python tools/dump_plans.py <out_dir> <suffix>
Run from the repo root whose package should be measured (works unchanged
against the round-start tree in a git worktree, producing the *_before
files)."""

import os
import random as _random
import sys

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402

from lucene_solr_old_spark.session import get_spark  # noqa: E402
from lucene_solr_old_spark.sources.pages import (_VOCAB,  # noqa: E402
                                                 pages_dataframe)
from lucene_solr_old_spark.operators.indexer import build_index  # noqa: E402


def main(out_dir: str, suffix: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plans", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    def dump(name, df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted") \
            if hasattr(df._sc._jvm, "PythonSQLUtils") else None
        if plan is None:
            plan = df._jdf.queryExecution().explainString("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print("dumped", name)

    pages = pages_dataframe(spark, 300000, seed=42,
                            num_partitions=64).persist()
    pages.count()
    pidx = build_index(pages, key_col="url", html_col="html",
                       num_segments=16, analyzer="english")
    pidx.postings.count()
    pidx.collection_stats()

    docs = spark.read.parquet(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        + "/documents.parquet").select(
        F.lpad(F.col("doc_id").cast("string"), 10, "0").alias("doc_key"),
        "text").persist()
    docs.count()
    idx = build_index(docs, key_col="doc_key", text_col="text",
                      num_segments=8, analyzer="ws_stop").persist()
    idx.postings.count()
    idx.docmeta.count()
    idx.collection_stats()

    from lucene_solr_old_spark.operators import search as S
    dump("q_term", S.search_or(idx, "spark", k=10))
    dump("q_pages_or", S.search_or(pidx, "running meetings", k=10))

    from lucene_solr_old_spark.operators.batch import batch_search
    rng = _random.Random(7)
    words = ["running", "meetings", "caresses", "relational", "hopeful"]
    bq = []
    for i in range(60):
        n = 1 + i % 3
        qs = [rng.choice(words) if rng.random() < 0.4 else rng.choice(_VOCAB)
              for _ in range(n)]
        bq.append((i, " ".join(qs), "AND" if i % 5 == 4 else "OR"))
    dump("batch_60q", batch_search(pidx, bq, k=10))

    # cleaning stack exactly as the bench composes it
    from lucene_solr_old_spark.operators import cleaning as CL
    from lucene_solr_old_spark.operators.sampling import hash_split
    base = pages.select("url", "text")
    p = CL.pii_scrub(base, key_col="url", text_col="text") \
        .select("url", F.col("text_clean").alias("text"))
    c4 = CL.c4_line_filter(p, key_col="url", text_col="text", min_lines=2)
    kept = c4.where("page_keep").select("url",
                                        F.col("text_clean").alias("text"))
    g = CL.gopher_quality_filter(kept, key_col="url", text_col="text",
                                 min_words=20)
    dump("clean_300k", hash_split(g.where("keep"),
                                  {"train": 0.9, "val": 0.05, "test": 0.05},
                                  key_col="url"))

    from lucene_solr_old_spark.operators import bpe as B
    dump("bpe_word_counts", B.word_counts(pages, key_col="url",
                                          text_col="text"))

    from lucene_solr_old_spark.operators import dedup as D
    toks = D.ws_tokens(docs, key_col="doc_key", text_col="text")
    dump("minhash_lsh", D.lsh_candidate_pairs(
        D.minhash_signatures(toks, shingle_n=3)))

    from lucene_solr_old_spark.operators.spell import spellcheck
    dump("spellcheck_expand", spellcheck(idx, "spakr", max_edits=2, k=5))

    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
