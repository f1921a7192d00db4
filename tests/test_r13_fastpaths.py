"""Round-13 optimization fast paths.

Every entry pins an r13 optimization's bit-identity contract (the store's
derived read-back schema is pinned in ``tests/test_store.py``):

- the spread()/plain-explode reshaping of the tokenizer and dedup
  corpus pipelines (tokenize parallel, one exchange) must keep row
  sets identical on the degenerate inputs the old shapes gated
  (empty/punctuation-only/NULL texts, empty token arrays).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture()
def degenerate_docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat"), (2, ""), (3, "!!! ???"), (4, None),
         (5, "cat cat the")],
        "doc_id bigint, text string")


def test_winnow_gate_matches_normalize_emptiness(spark, degenerate_docs):
    """The rlike empty-doc gate must admit exactly the docs whose
    normalize() is nonempty (the old length(__norm) > 0 gate)."""
    from projectone_spark.functions.dedup import winnow_fingerprints
    from projectone_spark.functions.text import normalize

    fp = winnow_fingerprints(degenerate_docs)
    kept_ids = {r["doc_id"] for r in fp.select("doc_id").distinct().collect()}
    expect = {r["doc_id"] for r in degenerate_docs
              .filter(F.length(normalize("text")) > 0).collect()}
    assert kept_ids == expect == {1, 5}


def test_bpe_doc_word_counts_degenerate_rows(spark, degenerate_docs):
    """The spread-then-plain-explode shape must drop empty/NULL/
    punctuation-only docs exactly as the pre-spread shape did."""
    from projectone_spark.functions.text import bpe_doc_word_counts

    wf = bpe_doc_word_counts(degenerate_docs)
    rows = {(r["doc_id"], r["__w"]): r["__c"] for r in wf.collect()}
    assert rows == {(1, "the"): 1, (1, "cat"): 1, (1, "sat"): 1,
                    (5, "cat"): 2, (5, "the"): 1}


def test_surprisal_folds_degenerate_rows(spark, degenerate_docs):
    """uni/bigram surprisal over degenerate docs: only docs with >= 1
    token (unigram) / >= 2 tokens (bigram) emit rows, and the scores
    fold the same integers as before the spread/explode change."""
    from projectone_spark.functions.text import (
        bigram_surprise,
        unigram_surprise,
    )

    uni = {r["doc_id"]: (r["n_tokens"], r["surprise_micro"])
           for r in unigram_surprise(degenerate_docs).collect()}
    assert set(uni) == {1, 5}
    assert uni[1][0] == 3 and uni[5][0] == 3
    # corpus: the=2, cat=3, sat=1, N=6 -> micro = 1e6*6 div c
    assert uni[1][1] == (6_000_000 // 2) + (6_000_000 // 3) + 6_000_000
    bi = {r["doc_id"]: (r["n_bigrams"], r["surprise_micro"])
          for r in bigram_surprise(degenerate_docs).collect()}
    assert set(bi) == {1, 5}
    assert bi[1][0] == 2 and bi[5][0] == 2


def test_spread_by_key_partitioning_reused(spark):
    """spread(by=id) must plan the downstream (id, w) aggregate with ONE
    exchange — the partitioning-reuse contract the r13 tokenizer shape
    relies on."""
    from projectone_spark.functions.text import spread, tokens

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id bigint, text string")
    agg = (spread(docs.select("doc_id", "text"), by="doc_id")
           .select(F.col("doc_id"),
                   F.explode(tokens("text")).alias("__w"))
           .filter(F.col("__w") != "")
           .groupBy("doc_id", "__w").count())
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # the plain-explode precondition: the inline tokens() chain must not
    # draw an inferred size() filter that pushdown drags below the
    # exchange (it would re-derive the tokenize in the serial map task).
    # Everything printed after the Exchange line is the exchange's INPUT
    # subtree in explain output — no tokenize chain may appear there.
    below_exchange = plan.split("Exchange")[-1]
    assert "regexp_replace" not in below_exchange, plan


@pytest.mark.parametrize("default", [1, 2, 4, 32])
@pytest.mark.parametrize("size_bytes", [1, 1 << 50])
def test_spread_width_within_default_parallelism(default, size_bytes):
    """The derived spread width stays in [min(4, default), default]: a
    tiny input gets the floor, a huge one saturates at
    defaultParallelism, and a session with fewer than 4 cores never
    spreads wider than its cores. A stub frame stands in for the
    session and the plan statistics, so no second JVM is needed."""
    from types import SimpleNamespace as NS

    from projectone_spark.functions.text import _spread_width

    stats = NS(sizeInBytes=lambda: size_bytes)
    plan = NS(optimizedPlan=lambda: NS(stats=lambda: stats))
    df = NS(sparkSession=NS(sparkContext=NS(defaultParallelism=default)),
            _jdf=NS(queryExecution=lambda: plan))
    want = min(4, default) if size_bytes == 1 else default
    assert _spread_width(df) == want
