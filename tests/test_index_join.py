"""Index build/search/join semantics — reference csvplus.go:529-920,
pinned by csvplus_test.go TestSimpleUniqueJoin/TestMultiIndex/TestExcept."""

import pytest
from pyspark.sql import functions as F

from csvplus_spark import (
    ColumnNotFoundError,
    DuplicateKeyError,
    Index,
    load_table,
    take_rows,
)


def test_unique_index_rejects_duplicates(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", string_mode=True)
    with pytest.raises(DuplicateKeyError, match="duplicate value"):
        li.unique_index_on("l_orderkey")
    # full key is not unique either in this generator; customer key is
    cust = load_table(spark, sf_dir, "customer", string_mode=True)
    idx = cust.unique_index_on("c_custkey")
    assert idx.unique


def test_index_on_missing_column(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer", string_mode=True)
    with pytest.raises(ColumnNotFoundError):
        cust.index_on("nope")
    with pytest.raises(ValueError):
        cust.index_on("c_custkey", "c_custkey")  # duplicate column list


def test_join_renamed_key_keeps_both(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer", string_mode=True) \
        .select_columns("c_custkey", "c_name").unique_index_on("c_custkey")
    orders = load_table(spark, sf_dir, "orders", string_mode=True)
    j = orders.join(cust, "o_custkey")
    assert "o_custkey" in j.columns and "c_custkey" in j.columns
    sample = j.df.limit(20).collect()
    assert sample and all(r["o_custkey"] == r["c_custkey"] for r in sample)


def test_join_probe_wins_collision(spark):
    # same-named non-key column: probe side value survives (mergeRows,
    # csvplus.go:571-583)
    left = take_rows(spark, [{"k": "1", "v": "probe"}])
    right = take_rows(spark, [{"k": "1", "v": "index"}])
    idx = right.index_on("k")
    out = left.join(idx).to_rows()
    assert out == [{"k": "1", "v": "probe"}]


def test_natural_and_prefix_join_counts(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", string_mode=True)
    idx = li.index_on("l_orderkey", "l_linenumber")
    orders = load_table(spark, sf_dir, "orders", string_mode=True)
    # prefix probe joins the whole per-order range
    j = orders.join(idx, "o_orderkey")
    assert j.count() == li.count()  # every lineitem has exactly one order
    with pytest.raises(ValueError, match="too many probe columns"):
        orders.join(idx, "o_orderkey", "o_custkey", "o_orderstatus")


def test_except_anti(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer", string_mode=True)
    neg = cust.filter(F.col("c_acctbal").cast("double") < 0).unique_index_on("c_custkey")
    orders = load_table(spark, sf_dir, "orders", string_mode=True)
    kept = orders.except_(neg, "o_custkey")
    joined = orders.join(neg, "o_custkey")
    assert kept.count() + joined.count() == orders.count()
    assert kept.columns == orders.columns  # rows pass through unchanged


def test_find_and_sub_index(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", string_mode=True)
    idx = li.index_on("l_orderkey", "l_linenumber")
    full = idx.find("7")
    assert full.count() >= 1
    sub = idx.sub_index("7")
    assert sub.columns == ["l_linenumber"]
    assert sub.find("1").count() <= full.count()
    assert idx.has("7")
    with pytest.raises(ValueError):
        idx.sub_index("7", "1")  # strict prefix only


def test_find_none_matches_nothing(spark):
    """NULL keys never match: ``find(None)`` must not hit the literal
    text "None" in string mode, nor the NULL key row in either mode."""
    rows = [{"k": "None", "v": "a"}, {"k": "x", "v": "b"},
            {"k": None, "v": "c"}]
    for string_mode in (True, False):
        idx = take_rows(spark, rows, schema="k string, v string",
                        string_mode=string_mode).index_on("k")
        assert idx.find(None).to_rows() == [], string_mode
        assert not idx.has(None), string_mode
        assert [r["v"] for r in idx.find("None").to_rows()] == ["a"]
    two = take_rows(spark, [{"k": "None", "j": "1"}, {"k": None, "j": "1"}])
    assert two.index_on("k", "j").sub_index(None).find("1").to_rows() == []


def test_index_persistence_roundtrip(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer", string_mode=True)
    idx = cust.unique_index_on("c_custkey")
    path = str(tmp_path / "cust_idx")
    idx.write_to(path)
    loaded = Index.load(spark, path)
    assert loaded.columns == ["c_custkey"] and loaded.unique
    assert loaded.df.count() == cust.count()


def test_resolve_duplicates_callback(spark):
    rows = [{"k": "a", "v": "1"}, {"k": "a", "v": "2"}, {"k": "b", "v": "9"}]
    index = take_rows(spark, rows).index_on("k")

    def resolve(pdf):
        # callback sees only packs of >=2 (csvplus_test.go:695-752)
        assert len(pdf) >= 2
        return pdf.sort_values("v").tail(1)

    out = index.resolve_duplicates(resolve, schema="k string, v string")
    got = {r["k"]: r["v"] for r in out.df.collect()}
    assert got == {"a": "2", "b": "9"}


def test_lazy_unique_check_raises_at_action(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", string_mode=True)
    idx = li.unique_index_on("l_orderkey", lazy_check=True)  # no error yet
    orders = load_table(spark, sf_dir, "orders", string_mode=True)
    with pytest.raises(Exception, match="duplicate value while creating unique index"):
        orders.join(idx, "o_orderkey").count()
    # clean key passes end-to-end
    cust = load_table(spark, sf_dir, "customer", string_mode=True)
    cidx = cust.unique_index_on("c_custkey", lazy_check=True)
    assert orders.join(cidx, "o_custkey").count() > 0
