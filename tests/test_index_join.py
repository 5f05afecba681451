"""Index build/search/join semantics — reference csvplus.go:529-920,
pinned by csvplus_test.go TestSimpleUniqueJoin/TestMultiIndex/TestExcept."""

import datetime
import decimal
import itertools

import pytest
from pyspark.sql import functions as F

from csvplus_spark import (
    ColumnNotFoundError,
    DuplicateKeyError,
    Frame,
    Index,
    load_table,
    take_rows,
)
from csvplus_spark.operators import scanprobe


def _seen(result):
    """A lookup result in comparable form: a Frame as its schema (types
    and nullability) and its rows as sorted reprs — repr keeps NaN equal
    to NaN and -0.0 apart from 0.0; an Index as its key columns and its
    frame; anything else as is."""
    if isinstance(result, Index):
        return result.columns, _seen(result.to_frame())
    if isinstance(result, Frame):
        return result.df.schema, sorted(repr(r) for r in result.to_rows())
    return result


@pytest.fixture
def index_paths(monkeypatch):
    """Run a lookup body on both Index lookup paths: the sorted driver
    copy, then the filter path (``scanprobe.DRIVER_MAX_ROWS = -1``
    refuses even an empty index). The body builds its own indexes and
    returns a list of lookup results; both runs must give the same rows,
    column types and nullability. A spy on the probe checks that each
    run took its path. Returns the driver run's results."""
    probe = scanprobe.driver_table

    def run(body):
        out = {}
        for name, limit in (("driver", scanprobe.DRIVER_MAX_ROWS),
                            ("filter", -1)):
            fetched = []
            monkeypatch.setattr(scanprobe, "DRIVER_MAX_ROWS", limit)
            monkeypatch.setattr(scanprobe, "driver_table",
                                lambda df: fetched.append(probe(df))
                                or fetched[-1])
            out[name] = [_seen(r) for r in body()]
            kept = [t is not None for t in fetched]
            assert kept and all(kept) if name == "driver" else not any(kept)
        assert out["driver"] == out["filter"]
        return out["driver"]
    return run


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


def test_lookup_paths_string_mode_byte_order(spark, index_paths):
    """String keys compare bytewise (UTF-8 order is code-point order):
    "10" sorts before "9", non-ASCII after ASCII, and "1" is not a
    prefix match of "10"."""
    keys = ["10", "9", "é", "e", "Z", "ä", "日本", "", "1"]
    rows = [{"k": k, "j": str(i % 2), "v": str(i)} for i, k in enumerate(keys)]

    def body():
        idx = take_rows(spark, rows).index_on("k", "j")
        return ([idx.find(k) for k in keys]
                + [idx.find("1", "0"), idx.find("日"), idx.has("ä"),
                   idx.has("a"), idx.sub_index("é").find("0"),
                   idx.sub_index("9"), idx.find()])

    got = index_paths(body)
    assert [len(g[1]) for g in got[:len(keys)]] == [1] * len(keys)
    assert got[len(keys) + 1][1] == [] and got[len(keys) + 2] is True
    assert got[len(keys) + 3] is False


def test_lookup_paths_numeric_keys_in_string_mode(spark, index_paths):
    """Int and double keys in string mode match Spark's string cast:
    1.0 is "1.0", 1e20 is "1.0E20", -0.0 is "-0.0", NaN is "NaN"."""
    rows = [(1, 1.0, "a"), (10, 1e20, "b"), (9, -0.0, "c"),
            (-1, float("nan"), "d"), (None, None, "e")]

    def body():
        f = Frame(spark.createDataFrame(rows, "i int, d double, v string"),
                  None, string_mode=True)
        by_i, by_d = f.index_on("i"), f.index_on("d")
        return [by_i.find(1), by_i.find("1"), by_i.find(1.0),
                by_i.find(10), by_i.has(9), by_i.has(-1), by_i.find("-1"),
                by_d.find(1.0), by_d.find(1), by_d.find(1e20),
                by_d.find("1.0E20"), by_d.find(-0.0), by_d.find(0.0),
                by_d.find("NaN"), by_d.find(float("nan"))]

    got = index_paths(body)
    assert [len(g[1]) for g in got if isinstance(g, tuple)] == \
        [1, 1, 0, 1, 1, 1, 0, 0, 1, 1, 0, 1, 0]


def test_lookup_paths_null_keys_never_match(spark, index_paths):
    """NULL keys never match, in either mode; a prefix lookup still
    returns the rows whose later key is NULL."""
    rows = [{"k": "None", "j": "1"}, {"k": None, "j": "1"},
            {"k": "a", "j": None}, {"k": "a", "j": "2"}]

    def body():
        out = []
        for string_mode in (True, False):
            idx = take_rows(spark, rows, schema="k string, j string",
                            string_mode=string_mode).index_on("k", "j")
            out += [idx.find(None), idx.has(None), idx.has(None, "1"),
                    idx.sub_index(None).find("1"), idx.sub_index(None),
                    idx.find("a"), idx.find("a", None), idx.find("None")]
        return out

    got = index_paths(body)
    for part in (got[:8], got[8:]):
        assert part[0][1] == [] and part[1] is False and part[2] is False
        assert part[3][1] == [] and part[4][1][1] == []
        assert len(part[5][1]) == 2 and part[6][1] == []
        assert len(part[7][1]) == 1


def test_lookup_paths_nan_and_signed_zero(spark, index_paths):
    """Double keys follow Spark's ``=``: NaN equals NaN and 0.0 equals
    -0.0; an int value compares as a double."""
    rows = [(float("nan"), "x"), (0.0, "x"), (-0.0, "y"), (1.0, "x"),
            (float("nan"), "y"), (None, "x"), (float("-inf"), "x")]

    def body():
        f = Frame(spark.createDataFrame(rows, "d double, v string"), None)
        idx = f.index_on("d", "v")
        return [idx.find(float("nan")), idx.find(0.0), idx.find(-0.0),
                idx.find(1), idx.find(float("-inf")), idx.find(float("inf")),
                idx.has(float("nan"), "y"), idx.sub_index(0.0).find("y"),
                idx.sub_index(-0.0)]

    got = index_paths(body)
    assert [len(got[i][1]) for i in range(6)] == [2, 2, 2, 1, 1, 0]
    assert got[6] is True and len(got[7][1]) == 1 and len(got[8][1][1]) == 2


def test_lookup_paths_types_and_fallbacks(spark, index_paths):
    """Every column type comes back with the source's type and
    nullability; values the driver cannot compare like Spark (a bool, a
    float against an int key, a str against an int key, an int past
    int64 or past DECIMAL(38)) and a key type it does not search (date)
    take the filter on both runs."""
    schema = ("k long not null, s string, b boolean, dt date, ts timestamp, "
              "dec decimal(10,2), arr array<double>, f float")
    rows = [(7, "x", True, datetime.date(2020, 1, 2),
             datetime.datetime(2020, 1, 2, 3, 4, 5),
             decimal.Decimal("1.50"), [1.0, None], 1.5),
            (8, None, None, None, None, None, None, None)]

    def body():
        f = Frame(spark.createDataFrame(rows, schema), None)
        by_k, by_f = f.index_on("k"), f.index_on("f")
        return [by_k.find(7), by_k.find(8), by_k.find(7.0), by_k.find("7"),
                by_k.find(True), by_k.has(2 ** 40), by_f.find(1.5),
                f.index_on("dt").find(datetime.date(2020, 1, 2)),
                by_k.find(2 ** 70), by_k.has(-(2 ** 70)),
                by_k.find(10 ** 38), by_k.has(-(10 ** 38)),
                by_f.find(2 ** 200), by_k.has(2 ** 200)]

    got = index_paths(body)
    assert [len(g[1]) for g in got if isinstance(g, tuple)] == \
        [1, 1, 1, 1, 0, 1, 1, 0, 0, 0]
    # past int64, and past DECIMAL(38): no match, and no error
    assert got[9] is got[11] is got[13] is False
    assert got[0][0]["k"].nullable is False


def test_lookup_paths_duplicates_empty_and_one_row(spark, index_paths):
    """Duplicate keys on a non-unique index all come back; an empty and
    a one-row index answer like the filter."""
    rows = [{"k": "a", "v": str(i)} for i in range(3)] + [{"k": "b", "v": "9"}]

    def body():
        dup = take_rows(spark, rows).index_on("k")
        empty = take_rows(spark, [], schema="k string, v string").index_on("k")
        one = take_rows(spark, rows[3:]).index_on("k", "v")
        return [dup.find("a"), dup.find("b"), dup.has("c"), empty.find("a"),
                empty.has("a"), empty.find(), one.find("b"), one.has("a"),
                one.sub_index("b").find("9"), one.sub_index("b").has("8")]

    got = index_paths(body)
    assert [len(got[i][1]) for i in (0, 1, 3, 5, 6, 8)] == [3, 1, 0, 0, 1, 1]
    assert (got[2], got[4], got[7], got[9]) == (False, False, False, False)


def test_lookup_paths_sub_index_chain_and_load(spark, index_paths,
                                               tmp_path):
    """A sub_index of a sub_index narrows the same sorted copy; an index
    reloaded by Index.load serves lookups like the one written."""
    rows = [{"a": str(i % 3), "b": str(i % 2), "c": str(i)} for i in range(12)]

    def body():
        idx = take_rows(spark, rows).index_on("a", "b", "c")
        sub = idx.sub_index("1").sub_index("0")
        path = str(tmp_path / "idx")
        idx.write_to(path)
        loaded = Index.load(spark, path)
        return [sub, sub.find("4"), sub.has("5"), sub.find("99"),
                idx.sub_index("2", "1").find("5"), loaded.find("0", "1"),
                loaded.sub_index("2").sub_index("0").find("2"),
                loaded.has("9")]

    got = index_paths(body)
    assert got[0][0] == ["c"] and len(got[0][1][1]) == 2
    assert len(got[1][1]) == 1 and got[2] is False and got[3][1] == []
    assert len(got[4][1]) == 1 and len(got[5][1]) == 2
    assert len(got[6][1]) == 1 and got[7] is False


def test_lazy_unique_check_fires_at_first_lookup(spark):
    """The driver copy's fetch is a lazily checked index's first action,
    so a duplicate key raises DuplicateKeyError there; a lookup made
    before the lazy check must not hide it (the check drops the copy)."""
    rows = [{"k": "a", "v": "1"}, {"k": "a", "v": "2"}, {"k": "b", "v": "3"}]
    idx = take_rows(spark, rows).unique_index_on("k", lazy_check=True)
    with pytest.raises(DuplicateKeyError, match='"k" : "a"'):
        idx.find("b")
    with pytest.raises(DuplicateKeyError, match='"k" : "a"'):
        idx.has("b")  # and again: a failed fetch is not a refusal
    idx = take_rows(spark, rows).index_on("k")
    assert idx.has("a") and len(idx.find("a").to_rows()) == 2
    idx.assert_unique(lazy=True)
    with pytest.raises(DuplicateKeyError, match='"k" : "a"'):
        idx.has("b")
    ok = take_rows(spark, rows[1:]).unique_index_on("k", lazy_check=True)
    assert [r["v"] for r in ok.find("a").to_rows()] == ["2"]


_gates = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` fires, counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"index-job-gate-{next(_gates)}"
    sc.setJobGroup(group, "index lookup job gate")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_job_gate(spark, monkeypatch):
    """Jobs depend on plan shape, not on box speed: on an sf0.01-sized
    index (60k rows), lookups after the first fire no Spark job, while
    the filter path's find fires at least one — so the gate can fail."""
    df = spark.range(60_000).select(
        (F.col("id") % 7500).alias("a"), (F.col("id") / 7500).cast("long")
        .alias("b"), F.concat(F.lit("row "), F.col("id")).alias("v"))

    def index():
        return Frame(df, None, string_mode=True).index_on("a", "b")

    idx = index()
    assert _jobs(spark, lambda: idx.has(1, 0)) >= 1  # the fetch
    assert _jobs(spark, lambda: idx.find(3, 4)) == 0
    assert _jobs(spark, lambda: idx.has(5, 6)) == 0
    rows = []
    assert _jobs(spark, lambda: rows.extend(
        idx.sub_index(7).find(1).to_rows())) == 0
    assert [r["v"] for r in rows] == ["row 7507"]
    monkeypatch.setattr(scanprobe, "DRIVER_MAX_ROWS", -1)
    idx = index()
    assert not idx.has(1, 99)  # the refused probe
    assert _jobs(spark, lambda: idx.find(3, 4).to_rows()) >= 1


def test_driver_table_budget(spark, monkeypatch):
    """The probe keeps a table within the row cap and the byte budget,
    one eighth of ``spark.driver.memory``; over either, or over
    ``spark.driver.maxResultSize``, it refuses."""
    df = spark.range(10).select(F.col("id"), F.lit("x").alias("s"))
    mem = spark.conf.get("spark.driver.memory", "1g")
    mib = spark.sparkContext._jvm.org.apache.spark.util.Utils \
        .memoryStringToMb(mem)
    assert scanprobe.driver_budget_bytes(spark) == mib * 2 ** 20 // 8
    assert scanprobe.driver_table(df).num_rows == 10
    monkeypatch.setattr(scanprobe, "DRIVER_MAX_ROWS", 9)
    assert scanprobe.driver_table(df) is None
    monkeypatch.setattr(scanprobe, "DRIVER_MAX_ROWS", 10)
    monkeypatch.setattr(scanprobe, "driver_budget_bytes", lambda s: 0)
    assert scanprobe.driver_table(df) is None
    monkeypatch.undo()
    # a fetch over spark.driver.maxResultSize aborts its job: a refusal
    wide = spark.range(20_000).select(F.repeat(F.lit("x"), 100).alias("s"))
    conf = spark.sparkContext._jsc.sc().conf()
    limit = conf.get("spark.driver.maxResultSize", "1g")
    conf.set("spark.driver.maxResultSize", "1m")
    try:
        assert scanprobe.driver_table(wide) is None
    finally:
        conf.set("spark.driver.maxResultSize", limit)
    assert scanprobe.driver_table(wide).num_rows == 20_000
