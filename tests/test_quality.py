"""Expectations: single-pass violation counting via Observation, drop
filtering, fail enforcement, NULL-as-violation semantics."""

import pyspark.sql.functions as F
import pytest

from projectone_spark.functions.quality import (
    Expectation, ExpectationViolation, apply_expectations, check,
    expect_and_write,
)

SF = "/root/testdata/sf0.001"


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_warn_counts_without_removing(spark):
    df = _orders(spark)
    exps = [Expectation("price_positive", "o_totalprice > 0"),
            Expectation("status_f", "o_orderstatus = 'F'")]
    observed, obs = apply_expectations(df, exps)
    n = observed.count()
    metrics = check(obs, exps)
    assert n == df.count() == metrics["__rows__"]
    assert metrics["price_positive"] == 0
    assert metrics["status_f"] == df.filter("o_orderstatus <> 'F'").count()


def test_drop_filters_and_counts(spark):
    df = _orders(spark)
    exps = [Expectation("recent", "o_orderdate >= '1996-01-01'", action="drop")]
    observed, obs = apply_expectations(df, exps)
    kept = observed.count()
    metrics = check(obs, exps)
    old = df.filter("o_orderdate < '1996-01-01'").count()
    assert metrics["recent"] == old
    assert kept == df.count() - old


def test_fail_raises_with_counts(spark):
    df = _orders(spark)
    exps = [Expectation("always_ok", "o_totalprice > 0", action="fail"),
            Expectation("doomed", "o_orderstatus = 'F'", action="fail")]
    observed, obs = apply_expectations(df, exps)
    observed.count()
    with pytest.raises(ExpectationViolation) as ei:
        check(obs, exps)
    # only the rule with actual violations appears
    assert "doomed" in ei.value.failures and "always_ok" not in ei.value.failures


def test_null_predicate_is_violation(spark):
    df = spark.createDataFrame([(1, None), (2, 5.0)], "id int, v double")
    exps = [Expectation("v_pos", "v > 0", action="drop")]
    observed, obs = apply_expectations(df, exps)
    rows = observed.collect()
    metrics = check(obs, exps)
    assert [r["id"] for r in rows] == [2]
    assert metrics["v_pos"] == 1  # NULL > 0 is NULL → counted and dropped


def test_expect_and_write_single_pass(spark, tmp_path):
    df = _orders(spark)
    exps = [Expectation("priority_known", "o_orderpriority IS NOT NULL"),
            Expectation("recent", "o_orderdate >= '1993-06-01'", action="drop")]
    out = str(tmp_path / "out")
    metrics = expect_and_write(
        df, exps, lambda clean: clean.write.mode("overwrite").parquet(out))
    written = spark.read.parquet(out)
    assert written.count() == df.count() - metrics["recent"]
    assert written.filter("o_orderdate < '1993-06-01'").count() == 0


def test_repetition_stats_edges(spark):
    from projectone_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b a b"),          # dup2: 7 grams, 2 distinct
         (2, "one two three four five"),  # no repetition
         (3, "x"),                        # < n tokens -> 0.0
         (4, "")],                        # empty -> 0.0
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].dup_2gram_frac == round(1 - 2 / 7, 4)
    assert not got[1].keep  # dup3 = 1 - 2/6 > 0.3
    assert got[2].dup_2gram_frac == 0.0 and got[2].keep
    assert got[3].dup_2gram_frac == 0.0 and got[3].dup_3gram_frac == 0.0
    assert got[4].dup_3gram_frac == 0.0 and got[4].keep


def test_pii_scrub_counts_and_redaction(spark):
    from projectone_spark.functions.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail a@b.co and c.d+x@e.org, ip 10.1.2.3, call 555-123-4567"),
         (2, "clean text with no pii at all"),
         (3, "ip-ish 999.999.999.999 still matches the permissive v4 shape")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (2, 1, 1)
    assert "<EMAIL>" in got[1].scrubbed and "<IP>" in got[1].scrubbed \
        and "<PHONE>" in got[1].scrubbed
    assert "a@b.co" not in got[1].scrubbed
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 0, 0)
    assert got[2].scrubbed == "clean text with no pii at all"
    assert got[3].n_ipv4 == 1  # permissive octet shape is intentional


def test_ngram_join_shapes(spark):
    import pyspark.sql.functions as F

    from projectone_spark.functions.text import ngram_join

    df = spark.createDataFrame([(["a", "b", "c"],), ([],), (["z"],)],
                               "toks array<string>")
    got = [r[0] for r in df.select(ngram_join(F.col("toks"), 2)).collect()]
    assert got == [["a b", "b c"], [], []]
