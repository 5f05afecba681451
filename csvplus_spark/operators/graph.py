"""Graph centrality over similarity/duplicate graphs (extension
surface; no reference counterpart — csvplus.go is a CSV ETL library).

Integer-arithmetic PageRank: every quantity is an exact int64
(quantized mass, integer-division flow splits, rational damping), so
iteration results are order-independent, partitioning-independent,
and bit-replayable in SQL — the same determinism trick as
kmeans_assign's quantized centroid means. The per-round remainder
lost to integer division is ≤deg units of 2^-40 mass per node —
far below any ranking-relevant difference — and identical across
engines by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csvplus_spark.errors import CsvPlusError
from csvplus_spark.operators.scanprobe import driver_table

#: one unit of PageRank mass = 2^-40 — big enough that integer-div
#: remainders are negligible, small enough that N·Q stays << 2^63
PR_Q = 1 << 40


def _dense_ids(x, y):
    """``(ids, cx, cy)``: the sorted distinct non-NULL values of two
    same-typed Arrow id columns and each row's int64 position in
    ``ids`` (-1 for NULL). Arrow sorts ints numerically and strings
    bytewise, as Spark does, so a minimum over positions is the
    minimum id."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = pc.unique(pa.chunked_array(x.chunks + y.chunks, x.type)) \
        .drop_null()
    ids = ids.take(pc.sort_indices(ids))

    def pos(col):
        return pc.index_in(col, value_set=ids).fill_null(-1) \
            .to_numpy().astype(np.int64)

    return ids, pos(x), pos(y)


class GraphScaleError(CsvPlusError):
    """A graph input violates a documented scale contract.

    Raised by :func:`require_low_duplication` before the pair pipeline
    runs, so callers get routing guidance instead of an executor OOM
    hours later.
    """


def duplication_factor(docs: DataFrame, text_col: str = "text") -> float:
    """Exact duplication factor of a document corpus: row count over
    distinct-normalized-fingerprint count. ONE aggregate over one scan
    (count + approximate-free countDistinct of a 32-char key) — cheap
    at any corpus size relative to the pair pipeline it guards."""
    from csvplus_spark.operators.dedup import fingerprint

    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(fingerprint(text_col)).alias("d")).collect()[0]
    return (row["n"] / row["d"]) if row["d"] else 1.0


def require_low_duplication(docs: DataFrame, text_col: str = "text",
                            max_factor: float = 8.0,
                            operator: str = "graph") -> DataFrame:
    """Pre-flight guard for RAW-graph analytics over near-dup pair
    graphs (the checkpoint-pre-flight pattern applied to graphs).

    The near-dup pair graph of a corpus with duplication factor ``f``
    holds f-member cliques — f² edges per duplicate family and ~f³
    triangles. The sf10 probe (docs/SCALE.md, 100× duplication)
    measured raw pagerank exhausting a 64 GB driver heap and raw
    triangle counting failing outright, while the graph-after-dedup
    ``_reps`` shapes (exact_dedup → pair graph of canonical docs →
    same graph op) ran the same corpus in seconds. This probe measures
    ``f`` with one aggregate and raises :class:`GraphScaleError` with
    that routing guidance instead of letting the pair pipeline OOM.

    Returns ``docs`` unchanged when the corpus passes, so it chains:
    ``minhash_dedup_pairs(require_low_duplication(docs), ...)``.
    """
    f = duplication_factor(docs, text_col)
    if f > max_factor:
        raise GraphScaleError(
            f"{operator}: corpus duplication factor {f:.1f} exceeds "
            f"{max_factor:g}; the raw near-dup pair graph would hold "
            f"~{f:.0f}-member cliques (f² edges, ~f³ triangles) per "
            "duplicate family. Run exact dedup first and use the "
            "graph-after-dedup shape (pagerank_reps / kcore_reps / "
            "triangles_reps, or exact_dedup(...).filter('is_canonical') "
            "before building pairs) — see docs/SCALE.md."
        )
    return docs


def integer_pagerank(edges: DataFrame, src: str = "doc_id_1",
                     dst: str = "doc_id_2", iters: int = 3,
                     damping_num: int = 17, damping_den: int = 20,
                     ndigits: int = 6) -> DataFrame:
    """PageRank over an UNDIRECTED graph given as an edge list (each
    pair once; symmetrized and self-loop-stripped here) — duplicate-
    cluster centrality for canonical-document election, hub detection
    in similarity graphs. ``damping_num/damping_den`` is the rational
    damping factor (default 17/20 = 0.85).

    Each round: node mass ``q`` (int64 units of 2^-40) splits as
    ``q div degree`` to every neighbor; the new mass is
    ``(num·Σ_in) div den + ((den−num)·(Q div N)) div den`` — all
    integer sums and divisions, so the trajectory is exact.
    Returns ``(node, pr)`` with ``pr = q/Q`` rounded; nodes are the
    edge endpoints (restrict-to-graph semantics — dangling corpus
    members carry no edges to rank on).

    Small graphs (those :func:`scanprobe.driver_table` fetches in one
    bounded probe job) run the same recurrence on the driver in exact
    int64 numpy arithmetic and come back as a small frame; the final
    ``round(q/Q)`` stays a Spark expression on either path, so the
    output is identical bit for bit. Larger graphs run the distributed
    shape: per round one groupBy(dst) integer-sum over the edge list +
    one node-table join — the standard distributed PR; the round count
    is the critical path (same argument as the CC pointer-jumping note
    in docs/SCALE.md).
    """
    if iters < 0 or damping_den <= 0 or not (0 <= damping_num
                                             <= damping_den):
        raise ValueError("integer_pagerank: need iters >= 0 and "
                         "0 <= damping_num <= damping_den")
    # pinned before the probe, so on a large graph und's checkpoint
    # below fills from the probe's work instead of rerunning the upstream
    e = (edges.select(F.col(src).alias("__s__"), F.col(dst).alias("__d__"))
         .filter("__s__ != __d__").localCheckpoint(eager=False))
    # the driver recurrence cannot overflow int64 while den·Q does not
    # (every per-node mass and inflow stays ≤ Q); Spark's long math
    # wraps where numpy's floor division would then differ
    small = driver_table(e) if damping_den * PR_Q < 1 << 63 else None
    und = (e.unionByName(e.select(F.col("__d__").alias("__s__"),
                                  F.col("__s__").alias("__d__")))
           .distinct())
    if small is not None:
        return _ranked(_pagerank_on_driver(und, small, iters, damping_num,
                                           damping_den), ndigits)
    # pinned: the edge list is read once per round from BOTH sides of
    # the contribution join — unpinned, every round re-runs the whole
    # upstream pair pipeline (a MinHash LSH edge source re-banded the
    # corpus per round: 132s → 9s measured at sf0.01)
    und = und.localCheckpoint(eager=False)
    deg = und.groupBy("__s__").agg(F.count(F.lit(1)).alias("__deg__"))
    n_nodes = deg.groupBy().agg(
        F.count(F.lit(1)).alias("n")).scalar()
    base = F.expr(f"{PR_Q} div __n__")  # uniform start / teleport mass
    pr = deg.withColumn("__n__", n_nodes) \
        .select("__s__", "__deg__", "__n__", base.alias("__q__"))
    for _ in range(iters):
        contrib = (und.join(pr, "__s__")
                   .select(F.col("__d__").alias("__node__"),
                           F.expr("__q__ div __deg__").alias("__c__")))
        inflow = contrib.groupBy("__node__").agg(
            F.sum("__c__").alias("__in__"))
        pr = (pr.join(inflow, pr["__s__"] == F.col("__node__"), "left")
              .select("__s__", "__deg__", "__n__",
                      (F.expr(f"({damping_num} * coalesce(__in__, 0)) "
                              f"div {damping_den}")
                       + F.expr(f"(({damping_den - damping_num}) * "
                                f"({PR_Q} div __n__)) div {damping_den}")
                       ).alias("__q__")))
        # flat lineage per round (same convention as the CC rounds in
        # dedup.py — the iterative join otherwise re-executes every
        # prior round on each reference)
        pr = pr.localCheckpoint(eager=False)
    return _ranked(pr, ndigits)


def _ranked(pr: DataFrame, ndigits: int) -> DataFrame:
    """``(node, pr = round(q/Q))`` — one Spark expression for both
    paths, so their rounding is identical."""
    return pr.select(F.col("__s__").alias("node"),
                     F.round(F.col("__q__") / F.lit(float(PR_Q)),
                             ndigits).alias("pr"))


def _pagerank_on_driver(und: DataFrame, small, iters: int, num: int,
                        den: int) -> DataFrame:
    """``(__s__, __q__)`` of the integer recurrence over the collected
    Arrow edge list ``small`` — the distributed rounds' arithmetic, in
    int64 numpy (all quantities non-negative, so ``//`` is Spark's
    ``div``)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import LongType, StructField, StructType

    node_field = und.schema["__s__"]
    typ = to_arrow_type(node_field.dataType)
    ids, cs, cd = _dense_ids(small.column(0).cast(typ),
                             small.column(1).cast(typ))
    # `small` went through the __s__ != __d__ filter: no NULL, no self-loop
    n_ids = len(ids)
    pairs = np.unique(np.concatenate([cs * n_ids + cd, cd * n_ids + cs]))
    u, v = pairs // n_ids, pairs % n_ids
    deg = np.bincount(u, minlength=n_ids)
    base = PR_Q // max(n_ids, 1)  # every id is an endpoint: deg ≥ 1
    teleport = ((den - num) * base) // den
    q = np.full(n_ids, base, dtype=np.int64)
    for _ in range(iters):
        inflow = np.zeros(n_ids, dtype=np.int64)
        np.add.at(inflow, v, q[u] // deg[u])
        q = (num * inflow) // den + teleport
    table = pa.table({"__s__": ids, "__q__": pa.array(q, pa.int64())})
    return und.sparkSession.createDataFrame(table, StructType([
        node_field, StructField("__q__", LongType(), True)]))


def triangle_count(edges: DataFrame, src: str = "doc_id_1",
                   dst: str = "doc_id_2") -> DataFrame:
    """Global triangle count + per-node triangle membership of an
    undirected edge list — the graph-cohesion diagnostic for
    near-dup graphs (high triangle density = tight duplicate cliques,
    chains = likely false-positive bridges). Returns one row per
    node participating in ≥1 triangle: ``(node, n_triangles)``.

    Exact and enumeration-free-ish: edges are oriented low→high id, a
    wedge join (a<b)⋈(b<c) finds paths a<b<c, and a semi-ish join
    against the oriented edge set keeps closed wedges — each triangle
    counted exactly once at its ordered form, then exploded to its 3
    members for the per-node counts. All equi-joins on ids; the wedge
    join is the Σdeg² step every distributed triangle counter pays
    (orientation halves it), integer math throughout.
    """
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                      F.greatest(F.col(src), F.col(dst)).alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct().localCheckpoint(eager=False))
    wedge = (e.alias("x").join(e.alias("y"),
                               F.col("x.b") == F.col("y.a"))
             .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"),
                     F.col("y.b").alias("c")))
    tri = wedge.alias("w").join(
        e.alias("z"),
        (F.col("w.a") == F.col("z.a"))
        & (F.col("w.c") == F.col("z.b"))) \
        .select(F.col("w.a").alias("a"), F.col("w.b").alias("b"),
                F.col("w.c").alias("c"))
    members = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return members.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles"))


def kcore_peel(edges: DataFrame, k: int = 2, rounds: int = 8,
               src: str = "doc_id_1", dst: str = "doc_id_2") -> DataFrame:
    """k-core extraction by bounded peeling (Matula-Beck): repeatedly
    drop nodes whose degree in the SURVIVING graph falls below ``k``.
    The k-core is where duplication is structurally dense — boilerplate
    families and template farms form high cores while one-off near-dup
    pairs (degree-1 nodes) peel away immediately; the standard
    triage before manual inspection of a near-dup graph.

    Returns ``(doc_id, core_degree)``: the survivors after ``rounds``
    peels with their degree inside the surviving subgraph. Peeling is
    monotone — once the survivor set is stable one extra round changes
    nothing — so ``rounds`` bounds work without breaking correctness
    on converged graphs (near-dup graphs converge in a handful of
    rounds; the paired test asserts the fixpoint by running one more).

    Shape per round: ONE degree aggregate + two semi-joins, all keyed
    by node id; each round is localCheckpointed (the PageRank lesson —
    an uncached edge source would re-derive the whole pair graph per
    round). Purely integer/set-valued, so the full trajectory is
    SQL-replayable.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")) \
        .filter(F.col("a") != F.col("b"))
    e = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b"))) \
        .distinct()
    for _ in range(rounds):
        e = e.localCheckpoint(eager=False)
        keep = (e.groupBy("a").agg(F.count(F.lit(1)).alias("__d__"))
                .filter(F.col("__d__") >= k).select("a"))
        e = (e.join(keep, "a", "left_semi")
             .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
             .select("a", "b"))
    return (e.groupBy("a").agg(F.count(F.lit(1)).alias("core_degree"))
            .filter(F.col("core_degree") >= k)
            .select(F.col("a").alias("doc_id"), "core_degree"))
