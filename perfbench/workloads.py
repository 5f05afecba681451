"""Workload definitions: inputs, the query set of one pass, the point
lookups, and the untimed output check against DuckDB.

A query is built by a function ``(spark, data_dir) -> Frame | DataFrame``
and forced by its workload's terminal action. Point lookups are timed
one by one; their keys are chosen once, untimed, with the oracle SQL of
each lookup.
"""

from __future__ import annotations

import functools
import glob
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np

from . import gen


@dataclass
class Workload:
    name: str
    make_inputs: Callable[[str, int, float], dict]
    queries: list[tuple[str, Callable]]
    #: (data_dir, rng) -> list of (oracle_sql, params), one per lookup;
    #: chosen once, untimed
    lookup_keys: Callable
    #: (spark, data_dir, keys) -> one function per key; ``build()`` returns
    #: the Frame that one lookup collects
    lookups: Callable
    #: (name, result, data_dir, out_dir, duck) -> error string or None
    check: Callable
    #: (name, result, out_dir, collect) forces the full plan of a query;
    #: with ``collect`` it returns what ``check`` compares
    terminal: Callable
    #: timed passes a run makes at least, however short ``--seconds`` is
    min_passes: int = 1
    #: (duck, data_dir) registers the tables the oracle SQL reads
    oracle_views: Callable | None = None


def _hash(cols, rows):
    from tools.check_correctness import _hash_rows

    return _hash_rows(list(cols), [tuple(r) for r in rows])


def _compare(cols, rows, ocols, orows) -> str | None:
    got, want = _hash(cols, rows), _hash(ocols, orows)
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if got != want:
        return f"{got} != oracle {want}"
    return None


def _rows_of(frame_rows: list[dict]):
    cols = list(frame_rows[0]) if frame_rows else []
    return cols, [tuple(r[c] for c in cols) for r in frame_rows]


# -- csv_etl -----------------------------------------------------------------

#: customers kept by the ``like_`` filter
_KEEP_NAMES = gen.NAMES[::2]
#: products whose orders ``except_`` drops
_GONE_MOD = 10

_HEADERS = {
    "people": {"id": 0, "name": 1, "surname": 2, "born": 3},
    "stock": {"prod_id": 0, "product": 1, "price": 2},
    "orders": {"order_id": 0, "cust_id": 1, "prod_id": 2, "qty": 3, "ts": 4},
}


def _read(spark, d: str, table: str):
    from csvplus_spark import from_file

    spec = _HEADERS[table]
    return (from_file(spark, os.path.join(d, f"{table}.csv"))
            .expect_header(spec).num_fields(len(spec)).to_frame())


def csv_totals(spark, d: str):
    """The paper's path: CSV -> filter -> unique index -> resolve
    re-submitted orders -> anti-join -> renamed-key join -> derived
    amount -> per-customer aggregate. Returns the Frame to write."""
    from pyspark.sql import functions as F

    from csvplus_spark import any_, like_

    people, stock, orders = (_read(spark, d, t)
                             for t in ("people", "stock", "orders"))
    customers = people.filter(any_(*[like_({"name": n}) for n in _KEEP_NAMES]))
    cust_idx = customers.unique_index_on("id")
    stock_idx = stock.index_on("prod_id")
    gone_idx = stock.filter(
        F.col("prod_id").cast("int") % _GONE_MOD == 0).index_on("prod_id")
    latest = orders.index_on("order_id").resolve_duplicates(
        keep="last", order_by=["ts"])
    joined = (latest.to_frame()
              .except_(gone_idx, "prod_id")
              .join(cust_idx, "cust_id")
              .join(stock_idx, "prod_id"))
    priced = joined.with_columns(
        amount=F.col("price").cast("decimal(12,2)") * F.col("qty").cast("int"))
    return priced.agg_by(["cust_id", "name", "surname"],
                         orders=F.count(F.lit(1)),
                         qty=F.sum(F.col("qty").cast("long")),
                         amount=F.sum("amount"))


def _csv_oracle_sql(d: str) -> str:
    src = functools.partial(_csv_src, d)
    names = ", ".join(f"'{n}'" for n in _KEEP_NAMES)
    return f"""
WITH people AS (SELECT * FROM {src('people')}),
stock AS (SELECT * FROM {src('stock')}),
orders AS (SELECT * FROM {src('orders')}),
latest AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY order_id ORDER BY ts DESC) AS rn
    FROM orders) WHERE rn = 1),
live AS (
  SELECT * FROM latest WHERE prod_id NOT IN (
    SELECT prod_id FROM stock WHERE CAST(prod_id AS INTEGER) % {_GONE_MOD} = 0)),
j AS (
  SELECT l.cust_id, l.qty, c.name, c.surname, s.price
  FROM live l JOIN people c ON l.cust_id = c.id
  JOIN stock s ON l.prod_id = s.prod_id
  WHERE c.name IN ({names}))
SELECT cust_id, name, surname,
       CAST(count(*) AS VARCHAR) AS orders,
       CAST(sum(CAST(qty AS BIGINT)) AS VARCHAR) AS qty,
       CAST(sum(CAST(price AS DECIMAL(12,2)) * CAST(qty AS INTEGER)) AS VARCHAR)
         AS amount
FROM j GROUP BY cust_id, name, surname"""


def _csv_terminal(name, result, out_dir, collect=False):
    result.to_csv_file(os.path.join(out_dir, name))


def _csv_src(d: str, table: str) -> str:
    return (f"read_csv('{os.path.join(d, table + '.csv')}', header=true, "
            "all_varchar=true)")


def _csv_lookup_keys(d: str, rng: np.random.Generator, n: int = 2):
    """Seeded (cust_id, prod_id) pairs that occur in orders, each with the
    oracle SQL of its lookup."""
    with open(os.path.join(d, "orders.csv")) as f:
        lines = f.read().splitlines()[1:]
    sql = (f"SELECT * FROM {_csv_src(d, 'orders')} "
           "WHERE cust_id = ? AND prod_id = ?")
    return [(sql, lines[k].split(",")[1:3])
            for k in rng.choice(len(lines), n, replace=False)]


def _csv_lookups(spark, d: str, keys):
    """``sub_index(cust_id).find(prod_id)`` on a two-column orders index;
    one Frame-returning function per key."""
    idx = _read(spark, d, "orders").index_on("cust_id", "prod_id")
    return [lambda p=params: idx.sub_index(p[0]).find(p[1])
            for _, params in keys]


def check_lookups(keys, results, duck) -> str | None:
    """Compare each lookup's rows with its oracle; every lookup must find
    rows."""
    errs = []
    for (sql, params), rows in zip(keys, results):
        res = duck.execute(sql, params)
        err = _compare(*_rows_of(rows), [x[0] for x in res.description],
                       res.fetchall()) if rows else "no rows"
        if err:
            errs.append(f"{params}: {err}")
    return "; ".join(errs) or None


def _csv_check(name, result, d, out_dir, duck) -> str | None:
    parts = glob.glob(os.path.join(out_dir, name, "*.csv"))
    if not parts:
        return "no CSV output written"
    res = duck.execute(
        f"SELECT * FROM read_csv({parts!r}, header=true, all_varchar=true, "
        "union_by_name=true)")
    cols, rows = [x[0] for x in res.description], res.fetchall()
    res = duck.execute(_csv_oracle_sql(d))
    return _compare(cols, rows, [x[0] for x in res.description], res.fetchall())


# -- dedup_graph ---------------------------------------------------------------

def _entry_query(name: str):
    def build(spark, d):
        import __spark_entry__

        return getattr(__spark_entry__, f"q_{name}")(spark, d)

    return build


def _noop_terminal(name, result, out_dir, collect=False):
    if collect:
        return result.columns, result.collect()
    result.write.mode("overwrite").format("noop").save()
    return None


def _doc_lookup_keys(d: str, rng: np.random.Generator, n: int = 30):
    """Seeded document ids, all present. Thirty, so that the one pass of a
    run gives the tail rule enough samples to read the 11th-largest (p67)
    rather than the max of a handful, which one scheduling hiccup moves."""
    import pyarrow.parquet as pq

    n_docs = pq.read_metadata(os.path.join(d, "documents.parquet")).num_rows
    sql = "SELECT * FROM documents WHERE doc_id = ?"
    return [(sql, [int(i)]) for i in rng.choice(n_docs, n, replace=False)]


def _doc_lookups(spark, d: str, keys):
    """``Index.find`` of each key on the documents table."""
    from csvplus_spark import load_table

    idx = load_table(spark, d, "documents").index_on("doc_id")
    return [lambda i=params[0]: idx.find(i) for _, params in keys]


def _dedup_check(name, result, d, out_dir, duck) -> str | None:
    import __spark_entry__

    cols, rows = result
    res = duck.execute(__spark_entry__.oracle_sql()[name])
    return _compare(cols, rows, [x[0] for x in res.description], res.fetchall())


def _duck_views(duck, d: str) -> None:
    for t in ("documents", "embeddings"):
        p = os.path.join(d, f"{t}.parquet")
        duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


WORKLOADS = {
    # the paper's CSV -> Index -> join -> CSV path: exercises sources,
    # frame and index, and bypasses operators
    "csv_etl": Workload(
        name="csv_etl",
        make_inputs=gen.make_csv_etl,
        queries=[("etl", csv_totals)],
        lookup_keys=_csv_lookup_keys,
        lookups=_csv_lookups,
        check=_csv_check,
        terminal=_csv_terminal,
        # a pass is short, so a run takes several for steady medians; a
        # fixed count (three passes outlast any --seconds it is given)
        # keeps the sample counts, and so the tail rule, alike across runs
        min_passes=3,
    ),
    # 4x-duplicated documents and embeddings: the eager build-time jobs
    # of dedup, graph (PageRank inside training_set), pipeline and
    # similarity (inside semantic_dedup) dominate
    "dedup_graph": Workload(
        name="dedup_graph",
        make_inputs=gen.make_dedup_graph,
        queries=[("training_set", _entry_query("training_set")),
                 ("semantic_dedup", _entry_query("semantic_dedup"))],
        lookup_keys=_doc_lookup_keys,
        lookups=_doc_lookups,
        check=_dedup_check,
        terminal=_noop_terminal,
        # one pass already outlasts --seconds; a second would not fit
        # the time budget of a run
        min_passes=1,
        oracle_views=_duck_views,
    ),
}

