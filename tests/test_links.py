"""Inverted-index and related-items predicate-rewriting links
(ItemsInvertedIndexImpl / RelatedItemsCatalogImpl semantics)."""

import datetime as dt

import pytest

from yupana_spark import E, Tsdb, default_schema, query
from yupana_spark.expressions import InvalidQueryError

FROM = dt.datetime(1995, 1, 1)
TO = dt.datetime(2002, 1, 1)
TB = "time >= TIMESTAMP '1995-01-01' AND time < TIMESTAMP '2002-01-01'"


def test_phrase_terms():
    from yupana_spark.operators.links import phrase_terms

    words, prefixes = phrase_terms("red widgets wid% ")
    # reference stemming is Russian-only: latin words pass through
    assert words == ["red", "widgets"]
    assert prefixes == ["wid"]
    ru_words, _ = phrase_terms("пульсара")
    assert ru_words == ["pulsar"]  # stemmed + transliterated


def test_inverted_index_semijoin(tsdb):
    df = tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                  "AND ItemsInvertedIndex_phrase = 'widget'")
    n_widget = df.collect()[0]["c"]
    total = tsdb.sql(
        f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB}").collect()[0]["c"]
    assert 0 < n_widget < total
    # phrase with two words = intersection (more restrictive)
    n_red_widget = tsdb.sql(
        f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
        "AND ItemsInvertedIndex_phrase = 'red widget'").collect()[0]["c"]
    assert 0 < n_red_widget <= n_widget


def test_inverted_index_in_union(tsdb):
    n_a = tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                   "AND ItemsInvertedIndex_phrase = 'bolt'").collect()[0]["c"]
    n_b = tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                   "AND ItemsInvertedIndex_phrase = 'gear'").collect()[0]["c"]
    n_ab = tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                    "AND ItemsInvertedIndex_phrase IN ('bolt', 'gear')"
                    ).collect()[0]["c"]
    assert n_ab == n_a + n_b  # part names have one noun -> disjoint sets


def test_inverted_index_anti(tsdb):
    total = tsdb.sql(
        f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB}").collect()[0]["c"]
    n_in = tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                    "AND ItemsInvertedIndex_phrase = 'bolt'").collect()[0]["c"]
    n_not = tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                     "AND ItemsInvertedIndex_phrase <> 'bolt'").collect()[0]["c"]
    assert n_in + n_not == total


def test_phrase_not_projectable(tsdb):
    with pytest.raises(InvalidQueryError):
        tsdb.sql(f"SELECT ItemsInvertedIndex_phrase FROM lineitem WHERE {TB}")


def test_phrase_under_or_rejected(tsdb):
    with pytest.raises(InvalidQueryError):
        tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                 "AND (ItemsInvertedIndex_phrase = 'bolt' OR l_orderkey = 1)")


def test_related_items_superset(tsdb):
    direct = tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                      "AND ItemsInvertedIndex_phrase = 'red widget'"
                      ).collect()[0]["c"]
    related = tsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
                       "AND RelatedItemsCatalog_phrase = 'red widget'"
                       ).collect()[0]["c"]
    # related = all rows of matching orders >= the matching rows themselves
    assert related >= direct > 0


def test_materialized_index_same_result(spark, tmp_path):
    from yupana_spark.catalog import ITEMS_INVERTED_INDEX
    from yupana_spark.operators.links import build_inverted_index

    tsdb = Tsdb(spark, default_schema(), "/root/testdata/sf0.001",
                warehouse_root=str(tmp_path / "wh"))
    sql = (f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
           "AND ItemsInvertedIndex_phrase = 'red wid%'")
    before = tsdb.sql(sql).collect()[0]["c"]
    name = build_inverted_index(tsdb.warehouse, ITEMS_INVERTED_INDEX)
    assert tsdb.warehouse.exists(name)
    after = tsdb.sql(sql).collect()[0]["c"]  # now uses the posting lists
    assert after == before > 0


def test_in_pushdown_gate(tsdb, monkeypatch):
    """Matched-key sets at or under _IN_PUSHDOWN_GATE lower to a literal
    In PUSHED TO THE PARQUET SCAN (≙ DimIdIn row-key pruning); forcing the
    gate to 0 falls back to the broadcast semi-join — both shapes return
    identical rows."""
    from yupana_spark import compiler as C, memo

    sql = (f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB} "
           "AND ItemsInvertedIndex_phrase = 'widget'")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    memo.invalidate("phrase")
    pushed = tsdb.sql(sql)
    assert "In(l_partkey" in plan_of(pushed)
    assert "LeftSemi" not in plan_of(pushed)

    memo.invalidate("phrase")
    monkeypatch.setattr(C, "_IN_PUSHDOWN_GATE", 0)
    joined = tsdb.sql(sql)
    assert "LeftSemi" in plan_of(joined)
    assert joined.collect() == pushed.collect()
    memo.invalidate("phrase")


def test_in_pushdown_member_pred_null_semantics(spark):
    """The literal lowering's anti form must keep NULL dimensions (a
    left_anti join keeps them — they match nothing), where a plain ~isin
    would drop them through three-valued logic; semi drops NULLs."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1, 10), (2, 20), (3, None)],
                               "id long, dim long")
    col, keys = F.col("dim"), [10]
    semi = (col.isin(keys))
    anti = (col.isNull() | ~col.isin(keys))          # compiler.member_pred
    assert {r["id"] for r in df.filter(semi).collect()} == {1}
    assert {r["id"] for r in df.filter(anti).collect()} == {2, 3}
