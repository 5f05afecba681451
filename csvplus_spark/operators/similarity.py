"""Similarity search, clustering and quantization over embedding
columns (BASELINE.json north-star; no reference counterpart).

Every operator here is built from a few shared folds, each defined
once so the DuckDB oracle replays one expression, not several copies:
  * ``_dot`` / ``_sq_norm`` / ``_norm`` / ``cosine`` — sequential
    left folds over ``zip_with`` / ``transform``, engine-exact;
  * ``_d2`` — the left-fold squared L2 distance, skipping NULL
    elements as the oracle's ``list_sum`` does;
  * ``_pack`` + ``_dists`` — a centroid table packed into ONE broadcast
    row and folded in-row to ``array<struct<__null__, __d2__, key>>``:
    the assignment stage of seeded IVF, SemDeDup, KMeans, PQ and
    ``ivf_append``. ``array_min`` of it is the argmin and
    ``slice(array_sort(...))`` the top-p probes; both order by d²,
    NULL distances last (the oracle's ``ORDER BY d2, cell``), then by
    the lower key;
  * ``_quantized_mean`` — per-group element-wise means over
    floor(x·2^20) bigint sums (KMeans / PQ updates, mean pooling),
    independent of float addition order;
  * ``_vector_dim`` — the one dimension probe, read from the first
    non-NULL vector.

Search is exact (``brute_force_topk`` for a broadcast query batch,
``grid_topk`` for large batches) or approximate: sign-LSH, IVF and
two-level IVF candidates are exact-reranked with ``cosine``; PQ ranks
by asymmetric ``_d2`` distances to the codebook.

Every BLAS-scored search — ``grid_topk`` and, in dedup.py,
``semantic_dedup`` and ``embedding_near_pairs`` (``grid``, ``lsh``) —
is one candidate-then-exact-verify recipe:
  * ``_cosine_candidates`` scores the non-NULL vectors of two blocks
    with one NumPy matmul per ``_BLAS_ROWS`` left rows and keeps the
    pairs a rule passes. The threshold rule (``_near_candidates``)
    keeps a pair unless its BLAS cosine is ``< threshold −
    COSINE_MARGIN``, so every NaN goes on; ``grid_topk`` keeps each
    row's pairs within 2·``COSINE_MARGIN`` of its k-th finite BLAS
    cosine, plus every non-finite one;
  * ``_rescore`` is the exact verify, ``cosine`` bit for bit at one
    fold per candidate. It alone decides every kept pair, NaN and
    NULL included, as the fold-cosine reference forms and the DuckDB
    oracle do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .scanprobe import VECTOR_FAN_OUT_MIN_BYTES, keyed_fan_out


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _sq_norm(a) -> F.Column:
    """Squared L2 norm: the left fold ``_norm`` takes the root of."""
    return F.aggregate(F.transform(a, lambda x: x * x),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a) -> F.Column:
    return F.sqrt(_sq_norm(a))


def _d2(a, b) -> F.Column:
    """Exact squared L2 distance: the left fold the SQL oracle replays
    with DuckDB's ``list_sum``, which skips a NULL term (a NULL element
    on either side) and is NULL only when no term is left — a NULL
    vector or centroid. The first kept term starts the sum, so values
    without NULLs are the plain ``0.0 + t1 + t2 ...`` fold's."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(None).cast("double"),
                       lambda acc, x: F.coalesce(acc + x, acc, x))


def _pack(table: DataFrame, name: str, *fields: str) -> DataFrame:
    """``table`` as ONE broadcast row: column ``name`` holds
    ``array<struct<fields>>``. Crossjoined to a vector frame it lets
    :func:`_dists` fold every centroid in-row, with no fan-out rows."""
    return F.broadcast(table.groupBy().agg(
        F.collect_list(F.struct(*fields)).alias(name)))


def _dists(packed: str, vec, key: str, centroid: str,
           part: tuple[str, F.Column] | None = None) -> F.Column:
    """``array<struct<__null__, __d2__, key>>``: the :func:`_d2` of
    ``vec`` to every centroid of the :func:`_pack` column ``packed``
    (only those whose field ``part[0]`` equals ``part[1]``, when given).

    The struct order IS the tie-break rule of every seeded and KMeans
    assignment: ``array_min`` takes the argmin and
    ``slice(array_sort(...), 1, p)`` the top-p probes, both ordering
    by d² with NULLs last, then by lower key. A struct field sorts
    NULL first, so ``__null__`` leads: otherwise a NULL vector or
    centroid would win every argmin, where the oracle's
    ``ORDER BY d2, cell`` puts it last (after NaN, which both engines
    order above every number). The second transform keeps the fold
    to one evaluation per centroid."""
    arr = F.col(packed)
    if part is not None:
        field, value = part
        arr = F.filter(arr, lambda s: s[field] == value)
    ds = F.transform(arr, lambda s: F.struct(
        _d2(vec, s[centroid]).alias("__d2__"), s[key].alias(key)))
    return F.transform(ds, lambda t: F.struct(
        t["__d2__"].isNull().alias("__null__"), t["__d2__"].alias("__d2__"),
        t[key].alias(key)))


def _vector_dim(v: DataFrame) -> int | None:
    """Length of the first non-NULL ``__vec__`` (one bounded probe
    job); None when ``v`` holds no non-NULL vector."""
    first = (v.filter(F.col("__vec__").isNotNull())
             .select(F.size("__vec__")).limit(1).collect())
    return first[0][0] if first else None


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """``(query_id, corpus_id, rank, sim)``: the ``k`` best rows of
    every query in ``scored``, by sim descending, then lower corpus id
    — the total order every cosine search here and its oracle rank
    by."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "rank", "sim"))


def cosine(a, b) -> F.Column:
    """Cosine similarity of two float-array columns (double math)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


#: how far below its cut a BLAS cosine may fall and stay a candidate:
#: pairwise BLAS sums and the left fold of ``_dot`` / ``_norm`` differ
#: by ~1e-14 relative at dim 64, so no exact answer is lost
COSINE_MARGIN = 1e-6

#: left rows per matmul in ``_cosine_candidates``: bounds one block's
#: score matrix at _BLAS_ROWS × |right| doubles
_BLAS_ROWS = 4096


def _cosine_candidates(left, right, keep):
    """``(left ids, right ids)`` arrays of the pairs whose BLAS cosine
    passes ``keep(S, lids, rids)``, a boolean mask over one block
    ``S`` of the score matrix. ``left`` and ``right`` are ``(ids,
    vectors)`` pairs of pandas Series; NULL vectors are dropped (their
    cosine is NULL on every path, never a pair, and they cannot be
    stacked). A zero-norm, NaN, Inf or NULL-element vector scores NaN
    or ±Inf here; ``keep`` decides whether the rescore sees it."""
    import numpy as np

    lm, rm = left[1].notna().to_numpy(), right[1].notna().to_numpy()
    lids, rids = left[0].to_numpy()[lm], right[0].to_numpy()[rm]
    if not len(lids) or not len(rids):
        return lids[:0], rids[:0]
    A = np.stack(left[1].to_numpy()[lm])
    B = np.stack(right[1].to_numpy()[rm])
    o1, o2 = [], []
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        na, nb = np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
        for s in range(0, len(A), _BLAS_ROWS):
            S = (A[s:s + _BLAS_ROWS] @ B.T) / np.outer(na[s:s + _BLAS_ROWS],
                                                       nb)
            ii, jj = np.nonzero(keep(S, lids[s:s + _BLAS_ROWS], rids))
            o1.append(lids[s + ii])
            o2.append(rids[jj])
    return np.concatenate(o1), np.concatenate(o2)


def _near_candidates(threshold: float, left, right=None):
    """The threshold family's candidates as a pandas ``(id_1, id_2)``
    frame, ``id_1 < id_2``: every pair of ``left`` × ``right`` (of
    ``left`` with itself when ``right`` is None, ids ordered) whose
    BLAS cosine is not ``< threshold − COSINE_MARGIN``. NaN fails
    every comparison, so it is kept and the rescore decides it: a
    zero-norm pair, say, is NaN here but NULL in Spark and DuckDB."""
    import numpy as np
    import pandas as pd

    cut = threshold - COSINE_MARGIN
    i, j = _cosine_candidates(left, left if right is None else right,
                              lambda S, li, rj: ~(S < cut))
    if right is None:  # each unordered pair once, and no self-pair
        keep = i < j
        i, j = i[keep], j[keep]
    return pd.DataFrame({"id_1": np.minimum(i, j), "id_2": np.maximum(i, j)})


def _rescore(cand: DataFrame, left: DataFrame,
             right: DataFrame | None = None) -> DataFrame:
    """``cand``'s two id columns plus ``sim``, the exact cosine of each
    pair. ``left`` (and ``right``, default ``left``) is an ``(id,
    vector)`` frame joined on cand's first (second) column. Norms are
    per vector, folded once per input row, so a candidate costs ONE
    fold, the dot; ``_dot / (n1 * n2)`` is :func:`cosine`'s expression,
    so the values are its values bit for bit."""
    c1, c2 = cand.columns

    def side(df: DataFrame, c: str, i: int) -> DataFrame:
        idc, vec = df.columns
        return df.select(F.col(idc).alias(c), F.col(vec).alias(f"__v{i}__"),
                         _norm(F.col(vec)).alias(f"__n{i}__"))

    return (cand.join(side(left, c1, 1), c1)
            .join(side(left if right is None else right, c2, 2), c2)
            .select(c1, c2, (_dot(F.col("__v1__"), F.col("__v2__"))
                             / (F.col("__n1__") * F.col("__n2__")))
                    .alias("sim")))


def with_double_vec(df: DataFrame, vec_col: str = "embedding",
                    out: str = "__vec__") -> DataFrame:
    return df.withColumn(out, F.transform(F.col(vec_col), lambda x: x.cast("double")))


#: fan-out of the pre-top-k stage: scored rows are first reduced to k
#: per (query, corpus-hash-chunk) so the final per-query window sees at
#: most PRETOPK_CHUNKS×k rows per query instead of the whole corpus
PRETOPK_CHUNKS = 64


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    Returns (query_id, corpus_id, rank, sim). Ties broken by corpus
    id → fully deterministic output.

    ``exclude_self`` assumes queries and corpus share ONE id namespace
    (the self-search case, the default here because queries usually ARE
    corpus rows). Pass ``exclude_self=False`` when the two id spaces
    are unrelated — otherwise a legitimate neighbor whose corpus id
    happens to equal the query id is silently dropped (and a NULL id
    never matches anything).

    Scale shape (VERDICT r5 item 2): a single
    ``row_number() OVER (PARTITION BY query_id)`` funnels all |q|·n
    scored rows into |q| window tasks — with a 10-query batch that is
    10 tasks sorting the whole corpus. Instead the top-k is taken in
    two exact stages: first per (query_id, hash(corpus_id) % 64 chunk)
    — 64× the parallelism, each chunk's top-k is a provable superset
    filter — then the final per-query window runs over at most 64·k
    rows per query. Output identical to the single-window form.
    """
    q = with_double_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__vec__").alias("__qv__"))
    # r13 (guide §2.5): fan the corpus side out before the |q|·n cosine
    # folds — the embeddings parquet reads as 1-2 row groups at bench
    # scales, so the scoring stage otherwise runs on 1-2 cores (see
    # seed_voronoi_distances; the query side stays tiny and un-fanned)
    c = with_double_vec(corpus, vec_col).select(
        F.col(id_col).alias("corpus_id"), F.col("__vec__").alias("__cv__"))
    c = keyed_fan_out(c, "corpus_id")
    cond = F.col("query_id") != F.col("corpus_id") if exclude_self else F.lit(True)
    scored = (
        c.join(F.broadcast(q), cond)
        .withColumn("sim", cosine(F.col("__qv__"), F.col("__cv__")))
    )
    # stage 1: exact top-k inside each (query, corpus-chunk) — the
    # chunk key is a deterministic hash of corpus_id, so the plan (and
    # the kept superset) is stable across runs and retries
    chunk = F.pmod(F.xxhash64(F.col("corpus_id")), F.lit(PRETOPK_CHUNKS))
    w_pre = (Window.partitionBy("query_id", "__chunk__")
             .orderBy(F.col("sim").desc(), F.col("corpus_id")))
    pre = (
        scored.withColumn("__chunk__", chunk)
        .withColumn("__pr__", F.row_number().over(w_pre))
        .filter(F.col("__pr__") <= k)
    )
    # stage 2: global per-query rank over the ≤ 64·k survivors
    return _top_k(pre, k)


def _plane_signs(plane_id: int, dim: int) -> list[float]:
    """±1 coefficients of deterministic hyperplane ``plane_id``: bit 0
    of hash60(md5('{plane}|{j}')), evaluated in PYTHON at plan-build
    time. Same derivation (and same values) as before, but inlined as
    literals: the previous expression form re-ran the md5 per
    (row × plane × element) inside an interpreted lambda — 4M md5 calls
    for 2k vectors × 32 planes — which dominated the LSH runtime. No
    runtime RNG either way; the DuckDB oracle embeds identical
    literals."""
    import hashlib

    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"{plane_id}|{j}".encode()).hexdigest()[:15], 16)
        out.append(1.0 if (h & 1) == 1 else -1.0)
    return out


#: centroid training never needs the full corpus — 10k vectors pin 16
#: centroids as well as 10¹⁰ vectors do
IVF_FIT_SAMPLE = 10_000


def _fit_centroids(corpus_vecs: DataFrame, n_clusters: int, seed: int,
                   sample_size: int = IVF_FIT_SAMPLE):
    """KMeans fit on a BOUNDED deterministic sample of (corpus_id,
    __vec__) rows. At 100 TB a full-corpus fit would be an ML pass over
    everything just to place a handful of centroids; cell QUALITY only
    needs a representative sample."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError("pyspark.ml not available") from exc

    n = corpus_vecs.count()
    fit_src = corpus_vecs if n <= sample_size else corpus_vecs.sample(
        fraction=min(1.0, sample_size / n), seed=seed)
    featurized = fit_src.withColumn("__feat__", array_to_vector("__vec__"))
    km = KMeans(k=n_clusters, seed=seed, featuresCol="__feat__",
                predictionCol="__cell__")
    return km.fit(featurized)


def _probe_cells(q: DataFrame, cent: DataFrame, n_probe: int) -> DataFrame:
    """(query_id, __qv__, __cell__): each query's ``n_probe`` nearest
    cells by centroid cosine (centroids broadcast, ties → lower cell)."""
    qc = (
        q.join(F.broadcast(cent))
        .withColumn("__csim__", cosine(F.col("__qv__"), F.col("centroid")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__csim__").desc(), F.col("cell"))
    return (
        qc.withColumn("__cr__", F.row_number().over(wq))
        .filter(F.col("__cr__") <= n_probe)
        .select("query_id", "__qv__", F.col("cell").alias("__cell__"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans-partitioned corpus,
    each query probes its ``n_probe`` nearest centroids, exact rerank
    inside the probed cells.

    The 100 TB shape: the corpus is scanned once to assign cells
    (narrow after the centroids broadcast), persisted partitioned by
    cell, and each query touches n_probe/n_clusters of the data. The
    rerank join is an equi-join on cell id. Training samples the
    corpus; fixed seed → reproducible cells.
    """
    c = with_double_vec(corpus, vec_col).select(
        F.col(id_col).alias("corpus_id"), F.col("__vec__"))
    model = _fit_centroids(c, n_clusters, seed)
    from pyspark.ml.functions import array_to_vector

    featurized = c.withColumn("__feat__", array_to_vector("__vec__"))
    assigned = model.transform(featurized).select("corpus_id", "__vec__", "__cell__")

    # centroid table (tiny, broadcast): cell id + centroid array
    centroids = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())]
    spark = corpus.sparkSession
    cent = spark.createDataFrame(centroids, "cell int, centroid array<double>")

    q = with_double_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__vec__").alias("__qv__"))
    probes = _probe_cells(q, cent, n_probe)
    scored = assigned.join(probes, "__cell__")
    if exclude_self:  # single-id-namespace assumption, see brute_force_topk
        scored = scored.filter(F.col("query_id") != F.col("corpus_id"))
    scored = (
        scored.withColumn("sim", cosine(F.col("__qv__"), F.col("__vec__")))
        .dropDuplicates(["query_id", "corpus_id"])
    )
    return _top_k(scored, k)


def auto_n_cells(n_rows: int, per_cell: int = 4096, floor: int = 16,
                 cap: int = 65_536) -> int:
    """Cell count for IVF / SemDeDup blocking sized from the corpus:
    ``ceil(n_rows / per_cell)``, floored at ``floor``, CAPPED at
    ``cap``. Cells must GROW with the corpus — a fixed cell count
    makes the per-cell quadratic stage |n/cells|² ~ n² again (VERDICT
    r6: LAION-scale SemDeDup runs ~11k cells) — but the cell count
    itself is also a cost axis: seed/centroid ASSIGNMENT is one
    distance per (vector, cell), i.e. n·cells work, so an uncapped
    n/4096 rule would turn assignment itself into n²/4096 (review
    r7). The cap bounds assignment at cap·n and the centroid
    broadcast at cap rows; past ~cap·per_cell vectors (~270M at the
    defaults) per-cell sizes start growing again — at that scale use
    a two-level scheme (coarse cells → re-cluster within each) or an
    ANN-assisted assignment rather than a bigger flat codebook.
    ``per_cell=4096`` keeps the within-cell BLAS matmul ~4096² doubles
    (~130 MB transient) per task."""
    if n_rows < 0:
        raise ValueError(f"auto_n_cells: n_rows must be >= 0, got {n_rows}")
    return min(cap, max(floor, -(-n_rows // per_cell)))


def seed_voronoi_distances(v: DataFrame, n_cells: int,
                           id_col: str = "vec_id",
                           seed_src: DataFrame | None = None) -> DataFrame:
    """Per-vector exact squared-L2 distances to every seed cell — the
    shared deterministic assignment stage of :func:`ivf_seeded_topk`
    and ``dedup.semantic_dedup`` (one copy so the two stay
    oracle-parity identical). ``v`` must carry ``__vec__`` (see
    with_double_vec); cells are seeded with the ``n_cells`` lowest-id
    vectors (tiny driver collect) and folded with the same left-fold
    d² the SQL oracle uses. Ids are passed through untouched, so any
    orderable id type works.

    Returns ``(…v columns…, __ds__)`` where ``__ds__`` is an
    ``array<struct<__null__, __d2__, cell>>`` (see :func:`_dists`) with
    one entry per seed, computed IN-ROW against a single packed
    broadcast row. r13 (guide §2.3/2.4):
    the previous form fan-joined the seed table — n·n_cells rows, each
    carrying the full vector payload, built only to be funneled back
    through per-id argmin/top-probe windows (a shuffle of n·n_cells
    vector-carrying rows). The packed form does the identical fold
    arithmetic per row and lets consumers take ``array_min`` (argmin,
    same lexicographic (d2, cell) tie-break as the old
    ``row_number over (order by __d2__, cell) = 1``) or
    ``slice(array_sort(...), 1, p)`` (top-p probes) with ZERO
    exchanges.

    ``seed_src`` (default: ``v`` itself) supplies the seed rows when
    the assigned frame is a REDUCED view of the corpus but the cells
    must stay identical to a full-corpus assignment — semantic_dedup's
    duplicate-collapse path assigns only distinct-vector reps, yet its
    output contract requires the plain path's exact cells."""
    spark = v.sparkSession
    seeds = (seed_src if seed_src is not None else v) \
        .orderBy(F.col(id_col)).limit(n_cells).collect()
    id_dt = v.schema[id_col].dataType.simpleString()
    cent = spark.createDataFrame(
        [(r[id_col], [float(x) for x in r["__vec__"]]) for r in seeds],
        f"cell {id_dt}, centroid array<double>")

    packed = _pack(cent, "__cents__", "cell", "centroid")
    ds = _dists("__cents__", F.col("__vec__"), "cell", "centroid")
    # r13 (guide §2.5): the embeddings parquet compresses to 1-2 row
    # groups at bench scales, so this n·cells fold — the assignment's
    # whole compute — ran on 1-2 cores. One id-keyed repartition of
    # the narrow (id, vec) rows fans it out to full width (measured on
    # kmeans's identical fold: sf10 0.32x); the seeds collect above
    # stays on the un-fanned frame.
    return (keyed_fan_out(v, id_col, min_bytes=VECTOR_FAN_OUT_MIN_BYTES)
            .crossJoin(packed)
            .withColumn("__ds__", ds)
            .drop("__cents__"))


def ivf_seeded_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_id: int = 50,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k with DETERMINISTIC seed centroids — the cross-engine-
    verifiable sibling of :func:`ivf_topk`.

    KMeans centroids are engine-internal state no SQL oracle can
    replay, so this variant seeds the cells with the ``n_cells``
    lowest-id vectors (Lloyd with 0 iterations): Voronoi assignment is
    then argmin of the exact squared-L2 fold against literal centroid
    vectors, which DuckDB recomputes verbatim — every stage (cell
    assignment, probe ranking, exact rerank) is bit-checkable. Same
    physical shape as production IVF: centroids broadcast, assignment
    narrow, the only shuffle is the (cell) rerank equi-join + the
    per-query top-k window.

    Queries are the vectors with id < ``query_max_id`` (self-search,
    ``exclude_self`` semantics as brute_force_topk). Ties: assignment
    and probes break on lower cell id; rank breaks on corpus id.

    ``n_cells=None`` (default) sizes the cells from a one-column
    corpus count via :func:`auto_n_cells` — an EAGER job at call time;
    pass an explicit n_cells to stay lazy and for oracle replays whose
    SQL embeds a fixed cell count (VERDICT r6: a fixed default of 16
    made |cell| = n/16, quadratic again at production scale).
    """
    v = with_double_vec(emb, vec_col).select(F.col(id_col), F.col("__vec__"))
    if n_cells is None:
        n_cells = auto_n_cells(v.count())
    # r13 (guide §2.3/2.4): assignment and probe ranking are IN-ROW
    # folds over the packed seed array — the old per-id windows
    # shuffled n·n_cells vector-carrying rows just to take argmin /
    # top-n_probe. array_min and slice(array_sort) use the same
    # lexicographic (d2, cell) ordering as the old
    # row_number() over (order by __d2__, cell), so the assigned cell
    # and probed cell SETS are bit-identical.
    ad = seed_voronoi_distances(v, n_cells, id_col)
    assign = ad.select(
        F.col(id_col).alias("corpus_id"),
        F.col("__vec__").alias("__cv__"),
        F.array_min(F.col("__ds__"))["cell"].alias("cell"))
    q = ad.filter(F.col(id_col) < query_max_id)
    probes = (
        q.select(F.col(id_col).alias("query_id"),
                 F.col("__vec__").alias("__qv__"),
                 F.explode(F.slice(F.array_sort(F.col("__ds__")),
                                   1, n_probe)).alias("__p__"))
        .select("query_id", "__qv__", F.col("__p__")["cell"].alias("cell"))
    )
    scored = assign.join(probes, "cell")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("corpus_id"))
    # cells are disjoint (argmin assignment) → no duplicate pairs, no
    # distinct needed
    scored = scored.withColumn(
        "sim", cosine(F.col("__qv__"), F.col("__cv__")))
    return _top_k(scored, k)


def ivf_build(corpus: DataFrame, path: str, n_clusters: int | None = None,
              id_col: str = "vec_id", vec_col: str = "embedding",
              seed: int = 42, sample_size: int = IVF_FIT_SAMPLE) -> None:
    """Persist an IVF index: corpus assignments written as parquet
    PARTITIONED BY cell (one directory per cell) plus a centroid
    sidecar. A later search reads only the probed cells — partition
    pruning at the file level, visible as ``PartitionFilters`` in the
    scan (pinned by test_plans-style guard in test_llm_ops).

    ``n_clusters=None`` sizes the cells from the corpus count
    (:func:`auto_n_cells`) — building an index is already an eager
    full-corpus job, so the extra count is marginal here."""
    import json
    import os

    from pyspark.ml.functions import array_to_vector

    c = with_double_vec(corpus, vec_col).select(
        F.col(id_col).alias("corpus_id"), F.col("__vec__"))
    if n_clusters is None:
        n_clusters = auto_n_cells(c.count())
    model = _fit_centroids(c, n_clusters, seed, sample_size)
    assigned = model.transform(
        c.withColumn("__feat__", array_to_vector("__vec__"))
    ).select("corpus_id", F.col("__vec__").alias("vec"), "__cell__")
    assigned.write.mode("overwrite").partitionBy("__cell__").parquet(path)
    cents = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    with open(os.path.join(path, "_ivf_centroids.json"), "w") as f:
        json.dump(cents, f)


def ivf_append(spark, path: str, vectors: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Append vectors to a persisted IVF index (:func:`ivf_build`)
    WITHOUT refitting: new vectors are assigned to the EXISTING
    centroid sidecar by the same squared-L2 argmin KMeans assignment
    uses, then appended into the cell partition directories — the
    layout (and :func:`ivf_search`'s partition pruning) is preserved,
    and the write touches only the cells that receive data.

    This is the streaming-ingest story for the vector index: centroids
    are frozen, so recall degrades only as the appended distribution
    drifts from the fitted one — rebuild with ivf_build when it does
    (same path, new fit). Ties in the argmin go to the lower cell id,
    deterministic like every assignment in this module."""
    import json
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as f:
        cents = json.load(f)
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>")
    v = with_double_vec(vectors, vec_col).select(
        F.col(id_col).alias("corpus_id"), F.col("__vec__"))

    best = F.array_min(_dists("__cents__", F.col("__vec__"), "cell",
                              "centroid"))
    assigned = (
        v.crossJoin(_pack(cent, "__cents__", "cell", "centroid"))
        .select("corpus_id", F.col("__vec__").alias("vec"),
                best["cell"].alias("__cell__"))
    )
    assigned.write.mode("append").partitionBy("__cell__").parquet(path)


def ivf_search(spark, path: str, queries: DataFrame, k: int = 5,
               n_probe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding",
               exclude_self: bool = True) -> DataFrame:
    """Search a persisted IVF index (see :func:`ivf_build`).

    The union of probed cells (a handful of ints, collected from the
    broadcast-sized query side) becomes a static ``isin`` filter on the
    partition column, so the parquet scan touches ~n_probe/n_clusters
    of the data on disk; the per-query cell restriction is the
    (query, cell) equi-join, and candidates are exact-reranked.
    """
    import json
    import os

    with open(os.path.join(path, "_ivf_centroids.json")) as f:
        cents = json.load(f)
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>")
    q = with_double_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__vec__").alias("__qv__"))
    probes = _probe_cells(q, cent, n_probe)
    cells = [r["__cell__"] for r in probes.select("__cell__").distinct().collect()]
    assigned = (
        spark.read.parquet(path)
        .filter(F.col("__cell__").isin(cells))  # partition pruning
    )
    scored = assigned.join(probes, "__cell__")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("corpus_id"))
    scored = (
        scored.withColumn("sim", cosine(F.col("__qv__"), F.col("vec")))
        .dropDuplicates(["query_id", "corpus_id"])
    )
    return _top_k(scored, k)


def hyperplane_bits(vec_col: F.Column, dim: int, n_bits: int = 16,
                    plane_offset: int = 0) -> F.Column:
    """Sign-LSH bucket: bit i = 1 iff dot(v, r_i) > 0 where r_i is a
    deterministic ±1 hyperplane derived from md5(plane_id|j). No
    randomness at runtime → reproducible buckets across runs/engines."""
    # Per-bit folds over literal sign arrays. (Measured alternatives:
    # a single fold with an n_bits-wide array accumulator wins on an
    # isolated projection benchmark but LOSES ~2× inside the real
    # bucket-explode query — per-element struct construction and nested
    # element_at outweigh the saved passes. Keep the simple form.)
    # x * (±1.0) is an exact sign flip; left fold in j order keeps each
    # sum bit-identical to the oracle's list_sum.
    bucket = None
    for i in range(n_bits):
        signs = F.array(*[F.lit(s) for s in _plane_signs(plane_offset + i, dim)])
        signed = F.aggregate(
            F.zip_with(vec_col, signs, lambda x, s: x * s),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        bit = F.when(signed > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: candidates from ``n_tables``
    independent sign-LSH tables of ``n_bits`` bits, exact-reranked.

    Recall rises with n_tables; cost is the bucket equi-join instead
    of the full cross product — the scale path when queries aren't
    small enough to broadcast.
    """
    def bucketed(df: DataFrame, idname: str) -> DataFrame:
        df = with_double_vec(df, vec_col)
        # each table uses its own plane ids (t*n_bits + i) → independent.
        # IDs only through the bucket join — vectors are joined back for
        # the rerank so the shuffle payload stays narrow
        rows = [
            F.struct(
                F.lit(t).alias("table"),
                hyperplane_bits(F.col("__vec__"), dim, n_bits,
                                plane_offset=t * n_bits).alias("bucket"),
            )
            for t in range(n_tables)
        ]
        return df.select(
            F.col(id_col).alias(idname),
            F.explode(F.array(*rows)).alias("tb"),
        ).select(idname, F.col("tb.table").alias("table"),
                 F.col("tb.bucket").alias("bucket"))

    qb = bucketed(queries, "query_id")
    cb = bucketed(corpus, "corpus_id")
    cand = qb.join(cb, ["table", "bucket"])
    if exclude_self:  # single-id-namespace assumption, see brute_force_topk
        cand = cand.filter(F.col("query_id") != F.col("corpus_id"))
    cand = cand.select("query_id", "corpus_id").distinct()
    qv = with_double_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__vec__").alias("__qv__"))
    cv = with_double_vec(corpus, vec_col).select(
        F.col(id_col).alias("corpus_id"), F.col("__vec__").alias("__cv__"))
    scored = (
        cand.join(qv, "query_id").join(cv, "corpus_id")
        .withColumn("sim", cosine(F.col("__qv__"), F.col("__cv__")))
    )
    return _top_k(scored, k)


#: plane ids below this are reserved for the LSH tables (dedup + topk);
#: random_projection draws its sign matrix from a disjoint id range so
#: projections are independent of every bucket function in the engine
RANDPROJ_PLANE_OFFSET = 4096


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    plane_offset: int = RANDPROJ_PLANE_OFFSET,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003): p_k = dot(v, s_k) / sqrt(out_dim), one
    ``p{k}`` double column per output dimension.

    The sign matrix is the same deterministic md5 derivation as the LSH
    hyperplanes (_plane_signs) from a disjoint plane-id range — no
    runtime RNG, so projections are reproducible across runs and
    engines (the DuckDB oracle embeds identical literals). Distances
    are preserved within (1±ε) with ε ≈ sqrt(log n / out_dim) — the
    standard pre-step before ANN/clustering when 100 TB of wide
    embeddings won't fit the index budget.

    Shape: narrow per-row folds, no shuffle at all; the scan's column
    pruning reads only (id, vector).
    """
    import math

    v = with_double_vec(df, vec_col)
    scale = math.sqrt(float(out_dim))
    cols = []
    for k in range(out_dim):
        signs = F.array(*[F.lit(s) for s in _plane_signs(plane_offset + k, dim)])
        d = F.aggregate(F.zip_with(F.col("__vec__"), signs, lambda x, s: x * s),
                        F.lit(0.0), lambda acc, x: acc + x)
        # divide (not multiply by 1/scale): both engines compute the
        # identical IEEE sqrt, so x / sqrt(d) is bit-identical while
        # x * (1/sqrt(d)) would round the reciprocal first
        cols.append((d / F.lit(scale)).alias(f"p{k}"))
    return v.select(F.col(id_col), *cols)


def l2_normalize(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Unit-L2 embedding normalization, exploded to (id, pos, val) with
    1-based positions — after this, cosine becomes a plain dot product
    (the usual pre-step for ANN indexes and centroid math).

    Zero vectors normalize to 0.0 rather than NaN. All per-row codegen
    arithmetic; the norm is the same left fold as cosine(), so values
    are bit-identical to the oracle's list_sum."""
    v = with_double_vec(df, vec_col)
    return (
        v.select(F.col(id_col), _norm(F.col("__vec__")).alias("__n__"),
                 F.posexplode("__vec__").alias("pos", "__x__"))
        .select(F.col(id_col), (F.col("pos") + 1).cast("int").alias("pos"),
                F.when(F.col("__n__") == 0, F.lit(0.0))
                .otherwise(F.col("__x__") / F.col("__n__")).alias("val"))
    )


def knn_label_vote(queries: DataFrame, corpus: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   exclude_self: bool = True) -> DataFrame:
    """kNN label propagation: classify each query vector by majority
    vote over its k exact cosine neighbors' labels — the standard
    label-transfer / auto-labeling primitive a training-data pipeline
    runs over a small gold-labeled corpus.

    Returns (query_id, pred_label, votes) — votes = how many of the k
    neighbors carry pred_label. Deterministic end-to-end: the neighbor
    set inherits brute_force_topk's (sim DESC, corpus_id) total order,
    and vote ties break to the SMALLEST label. Integer votes →
    cross-engine exact (NOTES determinism rules).

    Scale shape: the |q| ≈ |corpus| neighbor search rides grid_topk's
    per-cell BLAS scoring (brute_force_topk's broadcast form would run
    |q|·n interpreted folds — measured 53s vs 3s at sf0.1); the label
    join is an equi-join on corpus id; the vote is two hash-aggregates
    keyed by query id. Nothing here adds a corpus-sized shuffle beyond
    the scoring pass itself.
    """
    nn = grid_topk(queries, corpus, k=k, id_col=id_col,
                   vec_col=vec_col, exclude_self=exclude_self)
    labeled = nn.join(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(label_col)),
        "corpus_id")
    cnts = labeled.groupBy("query_id", label_col).agg(
        F.count(F.lit(1)).alias("votes"))
    # max votes first, then min label among the tied winners — two
    # aggregates + one equi-join, so the tie-break works for ANY
    # orderable label type (string categories included; an arithmetic
    # -label trick would null out or reject non-numeric labels)
    mv = cnts.groupBy("query_id").agg(F.max("votes").alias("votes"))
    return (
        cnts.join(mv, ["query_id", "votes"])
        .groupBy("query_id", "votes")
        .agg(F.min(label_col).alias("pred_label"))
        .select("query_id", "pred_label", "votes")
    )


def grid_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              exclude_self: bool = True,
              n_blocks: int | None = None) -> DataFrame:
    """Exact cosine top-k for LARGE query batches — output identical
    to brute_force_topk (columns, values, tie order) for every non-NULL
    query, different physical plan.

    brute_force_topk broadcasts the queries and scores every
    (query, corpus) pair with the interpreted fold cosine — the right
    plan for a handful of queries, but for |q| ≈ |corpus| (self-kNN,
    label propagation) the |q|·n interpreted folds dominate (measured:
    2k×2k self-kNN 53s at sf0.1). Here the (q-block × c-block) grid is
    scored per cell by the module's BLAS kernel in a cogrouped
    applyInPandas, each cell keeping a provable per-query superset of
    its local top-k (the k-th-value rule in the module docstring), and
    the exact ``_rescore`` ranks the survivors (≤ ~k per query per
    c-block), so ranks, ties and sim VALUES are brute_force_topk's and
    the DuckDB oracle's. Equality is pinned by
    tests/test_llm_ops.py::test_grid_topk_matches_brute_force.

    Scale shape: vectors ship once per grid row/column (×√cells), each
    cell is a dense BLAS call, candidates are output-sized, and the
    final per-query window sees ≤ n_blocks·k rows — no |q|-task funnel,
    no corpus-wide broadcast.

    Edge: a zero-norm, NaN or Inf vector has a non-finite BLAS cosine,
    which the cell always keeps, so the rescore ranks its NULL or NaN
    sim exactly as brute_force_topk does (NaN first, NULL last). A
    NULL vector is dropped by the kernel: a NULL query gets no rows,
    where brute_force_topk returns k rows with NULL sims, and a NULL
    corpus vector is never a neighbor, where brute_force_topk ranks
    its NULL sim last.
    """
    spark = queries.sparkSession
    q = with_double_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__vec__").alias("__qv__"))
    c = with_double_vec(corpus, vec_col).select(
        F.col(id_col).alias("corpus_id"), F.col("__vec__").alias("__cv__"))
    if n_blocks is None:
        # ~1k vectors per block (one efficient BLAS call per cell,
        # bounded per-task memory) — same sizing as the dedup grid.
        # Auto-sizing is EAGER: it runs a narrow one-column count per
        # distinct input before the scoring pass (one count for the
        # self-kNN case below). For large inputs, or when the operator
        # must stay fully lazy, pass n_blocks explicitly (ADVICE r6).
        nc = corpus.count()
        nq = nc if queries is corpus else queries.count()
        n_blocks = max(2, min(1024, -(-nc // 1024)))
        nq_blocks = max(2, min(1024, -(-nq // 1024)))
    else:
        nq_blocks = n_blocks

    from .text import hash60

    ql = q.withColumn(
        "__qb__", (hash60(F.col("query_id").cast("string")) % nq_blocks).cast("int"))
    cl = c.withColumn(
        "__cb__", (hash60(F.col("corpus_id").cast("string")) % n_blocks).cast("int"))
    grid_q = spark.createDataFrame(
        [(i, j) for i in range(nq_blocks) for j in range(n_blocks)],
        "gq int, gc int")
    # same grid, renamed columns, so left/right stay unambiguous to
    # the analyzer in the cogroup below
    grid_c = grid_q.toDF("gq2", "gc2")
    left = ql.join(F.broadcast(grid_q), F.col("__qb__") == F.col("gq")) \
        .select("query_id", "__qv__", "gq", "gc")
    right = cl.join(F.broadcast(grid_c), F.col("__cb__") == F.col("gc2")) \
        .select("corpus_id", "__cv__",
                F.col("gq2").alias("gq"), F.col("gc2").alias("gc"))

    qid_dt = q.schema["query_id"].dataType.simpleString()
    cid_dt = c.schema["corpus_id"].dataType.simpleString()

    def keep(S, qi, cj):
        import numpy as np

        if exclude_self:
            S[qi[:, None] == cj] = -2.0
        # the k-th value counts finite cosines only; every non-finite
        # one is kept for the rescore to rank
        fin = np.isfinite(S)
        kth = (np.partition(np.where(fin, S, -np.inf), -k, axis=1)[:, -k]
               if S.shape[1] >= k else np.full(len(S), -np.inf))
        return ~fin | (S >= (kth - 2 * COSINE_MARGIN)[:, None])

    def _cell(key, lpdf, rpdf):
        import pandas as pd

        qids, cids = _cosine_candidates((lpdf["query_id"], lpdf["__qv__"]),
                                        (rpdf["corpus_id"], rpdf["__cv__"]),
                                        keep)
        return pd.DataFrame({"query_id": qids, "corpus_id": cids})

    cand = (
        left.groupBy("gq", "gc")
        .cogroup(right.groupBy("gq", "gc"))
        .applyInPandas(_cell, f"query_id {qid_dt}, corpus_id {cid_dt}")
    )
    rescored = _rescore(cand, q, c)
    if exclude_self:
        rescored = rescored.filter(F.col("query_id") != F.col("corpus_id"))
    return _top_k(rescored, k)


def ann_recall(exact: DataFrame, approx: DataFrame,
               query_col: str = "query_id",
               item_col: str = "corpus_id") -> DataFrame:
    """Recall@k of an ANN result against the exact result — the
    standard evaluation primitive for the IVF/LSH family: per query,
    how many of the exact top-k did the approximate search return.

    Output: ``(query_id, n_exact, n_hits, recall)``; queries the
    approximate side missed entirely score 0.0 rather than vanishing.

    Scale: both inputs are top-k tables (k rows per query), so every
    join/aggregate here is k-bounded per query — evaluation cost is
    independent of corpus size.
    """
    e = exact.select(F.col(query_col), F.col(item_col))
    a = approx.select(F.col(query_col), F.col(item_col))
    hits = (e.join(a, [query_col, item_col])
            .groupBy(query_col).agg(F.count(F.lit(1)).alias("n_hits")))
    per_q = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        per_q.join(hits, query_col, "left")
        .select(
            F.col(query_col),
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / F.col("n_exact"))
            .alias("recall"),
        )
    )


#: centroid quantization for kmeans_assign: component sums are taken
#: over floor(x · 2^20) bigints so the per-cell mean is exact integer
#: math + two final divisions — order-independent AND cross-engine
#: bit-identical, unlike a float SUM whose addition order differs per
#: engine/partitioning (NOTES determinism rules)
KMEANS_Q = float(1 << 20)


def _quantized_mean(df: DataFrame, keys: list, vec: F.Column,
                    out: str, *extra: F.Column) -> DataFrame:
    """``(keys…, extra…, out)``: per ``keys`` group (column names or
    aliased columns of ``df``), the element-wise mean of the ``vec``
    arrays over floor(x·2^20) bigint sums (see KMEANS_Q), divided per
    dimension in dimension order. ``extra`` are further aggregates over
    the per-dimension ``__s__`` / ``__c__`` rows. NULL vectors
    contribute nothing."""
    ex = df.select(*keys, F.posexplode(vec).alias("dim", "x"))
    keys = ex.columns[:len(keys)]
    sums = (ex.withColumn("__q__",
                          F.floor(F.col("x") * F.lit(KMEANS_Q)).cast("long"))
            .groupBy(*keys, "dim")
            .agg(F.sum("__q__").alias("__s__"),
                 F.count(F.lit(1)).alias("__c__")))
    return (sums.groupBy(*keys)
            .agg(F.array_sort(
                F.collect_list(F.struct("dim", "__s__", "__c__")))
                .alias("__a__"), *extra)
            .withColumn(out, F.transform(
                F.col("__a__"),
                lambda t: t["__s__"].cast("double")
                / t["__c__"] / F.lit(KMEANS_Q)))
            .drop("__a__"))


def kmeans_assign(df: DataFrame, k: int, iters: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Fixed-iteration Lloyd k-means over an embedding column — the
    clustering primitive behind cluster-balanced sampling, SemDeDup
    cell refinement, and topic-stratified curation. Returns
    ``(id_col, cell)``: each vector's cluster after ``iters``
    assignment→update rounds from the deterministic seeding (the k
    lowest-id vectors, same rule as :func:`seed_voronoi_distances`).

    Determinism BY CONSTRUCTION: distances are per-row left folds
    (sequential fp, engine-exact); centroid updates sum QUANTIZED
    components (``floor(x·2^20)`` bigints — see KMEANS_Q) so the mean
    never depends on float addition order; argmin ties break on cell
    id. The whole operator is therefore oracle-replayable with
    unrolled SQL CTEs.

    Scale shape: per iteration, one broadcast of ≤k centroids + one
    per-row fold (assignment — embarrassingly parallel), one
    posexplode to (cell, dim) + a map-combined aggregate of ≤k·d rows
    (update). No driver collect except the k seed rows; no data-sized
    window. Empty cells simply drop out (their id is never
    reassigned), exactly as in the SQL replay. ``iters`` is a FIXED
    small constant by design — each round is a full corpus pass, and
    curation pipelines want a reproducible plan, not convergence
    detection (run more rounds explicitly if needed).
    """
    if k <= 0 or iters < 0:
        raise ValueError(f"kmeans_assign: need k > 0, iters >= 0, "
                         f"got k={k}, iters={iters}")

    def assign_to(vecs: DataFrame, cent: DataFrame) -> DataFrame:
        # r13 (guide §2.3/2.4): the old form broadcast-joined the ≤k
        # centroids (an n·k row fan-out, every row carrying the full
        # vector) and took the per-id minimum through a hash aggregate
        # — one exchange per assignment pass. Packing the centroids
        # into ONE broadcast row and folding the argmin in-row does
        # the identical k d² folds per vector with ZERO exchanges;
        # array_min over struct(__d2__, __cell__) is the same
        # lexicographic minimum as min(struct(...)). The vector rides
        # along so the update pass needs no join back (ids are unique
        # by the operator's contract — seeds are the k lowest ids).
        best = F.array_min(_dists("__cs__", F.col("__vec__"), "__cell__",
                                  "__cent__"))
        return (vecs.crossJoin(_pack(cent, "__cs__", "__cell__", "__cent__"))
                .select(id_col, "__vec__",
                        best["__cell__"].alias("cell")))

    # r13 (guide §2.5): the embeddings parquet compresses to 1-2 row
    # groups at bench scales, so the in-row d² folds — this operator's
    # entire compute — ran on 1-2 cores regardless of machine width.
    # One id-keyed repartition of the narrow (id, vec) rows fans every
    # assignment pass out to full parallelism; all downstream
    # exchanges are the tiny ≤k·d update aggregates either way.
    v = with_double_vec(df.select(id_col, vec_col), vec_col)
    v = keyed_fan_out(v.select(id_col, "__vec__"), id_col,
                      min_bytes=VECTOR_FAN_OUT_MIN_BYTES)
    seeds = v.orderBy(F.col(id_col)).limit(k)
    cent = seeds.select(F.col(id_col).alias("__cell__"),
                        F.col("__vec__").alias("__cent__"))
    assign = assign_to(v, cent)
    for _ in range(iters):
        cent = _quantized_mean(assign, ["cell"], F.col("__vec__"),
                               "__cent__") \
            .select(F.col("cell").alias("__cell__"), "__cent__")
        assign = assign_to(v, cent)
    return assign.select(id_col, "cell")


def _subvectors(vec: F.Column, m: int, dim: int) -> F.Column:
    """Array of ``m`` contiguous subvectors of a ``dim``-dim vector
    (dim must divide evenly; validated by callers)."""
    sub = dim // m
    return F.array(*[F.slice(vec, s * sub + 1, sub) for s in range(m)])


def pq_codebooks(df: DataFrame, m: int = 8, k: int = 16, iters: int = 0,
                 dim: int | None = None, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Product-quantization codebooks: the vector space is split into
    ``m`` contiguous subspaces and each gets its own ``k``-centroid
    codebook — ``(sub, cell, centroid)``, ``m·k`` rows total (a
    broadcast table at any corpus size; that is the point of PQ).

    Seeding/updates follow :func:`kmeans_assign` exactly (lowest-id
    seeds, quantized-integer means — see KMEANS_Q) but run ALL
    subspaces in one plan: assignment joins on ``sub`` against the
    broadcast codebook, updates aggregate on (sub, cell, dim). With
    ``iters=0`` the codebooks are the seed subvectors themselves —
    the fully SQL-replayable form the driver oracle pins; Lloyd
    refinement (``iters>0``) is the production path.
    """
    if m <= 0 or k <= 0 or iters < 0:
        raise ValueError(f"pq_codebooks: need m > 0, k > 0, iters >= 0,"
                         f" got m={m}, k={k}, iters={iters}")
    v = with_double_vec(df.select(id_col, vec_col), vec_col)
    if dim is None:
        dim = _vector_dim(v)
        if dim is None:
            raise ValueError("pq_codebooks: no non-NULL vector to seed from")
    if dim % m:
        raise ValueError(f"pq_codebooks: m={m} must divide dim={dim}")
    # r13 (guide §2.5): fan out before the per-iteration n·m·k folds
    # (see seed_voronoi_distances); the seed collect below stays on
    # the un-fanned frame
    subs = keyed_fan_out(v, id_col,
                         min_bytes=VECTOR_FAN_OUT_MIN_BYTES).select(
        id_col, F.posexplode(_subvectors(F.col("__vec__"), m, dim))
        .alias("sub", "__svec__"))
    # bounded k-row driver collect for the seed→cell numbering (same
    # convention as seed_voronoi_distances; avoids a global window)
    seed_ids = [r[0] for r in
                v.select(id_col).orderBy(F.col(id_col)).limit(k).collect()]
    id_dt = v.schema[id_col].dataType.simpleString()
    ranks = df.sparkSession.createDataFrame(
        [(sid, c) for c, sid in enumerate(seed_ids)],
        f"{id_col} {id_dt}, cell int")
    cb = (subs.join(F.broadcast(ranks), id_col)
          .select("sub", "cell", F.col("__svec__").alias("centroid")))
    for _ in range(iters):
        # r13: in-row argmin (see pq_encode) — no n·m·k fan-out, no
        # per-(id, sub) aggregate exchange; the subvector rides along
        # so the update pass needs no join back ((id, sub) is unique).
        best = F.array_min(_dists("__cb__", F.col("__svec__"), "cell",
                                  "centroid", part=("sub", F.col("sub"))))
        assign = (subs.crossJoin(_pack(cb, "__cb__", "sub", "cell",
                                       "centroid"))
                  .select(id_col, "sub", "__svec__",
                          best["cell"].alias("cell"))
                  .filter(F.col("cell").isNotNull()))
        cb = _quantized_mean(assign, ["sub", "cell"], F.col("__svec__"),
                             "centroid")
    return cb


def pq_encode(df: DataFrame, codebooks: DataFrame, m: int = 8,
              dim: int | None = None, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode vectors against PQ codebooks: ``(id, sub, code)`` — the
    per-subspace argmin-d² cell (ties → lowest cell, as everywhere).
    Long form (one row per subspace) rather than a packed code array:
    it joins straight into the ADC scoring shape and compresses the
    same under parquet RLE. Storage is ``m`` small ints per vector —
    the 32×-or-better compression that makes 100 TB of embeddings
    searchable from a fraction of the footprint."""
    v = with_double_vec(df.select(id_col, vec_col), vec_col)
    if dim is None:
        # no non-NULL vector: a NULL vector's subvectors are NULL at any
        # width, so width 1 serves (empty input gives the empty frame)
        dim = _vector_dim(v)
        if dim is None:
            dim = m
    if dim % m:
        raise ValueError(f"pq_encode: m={m} must divide dim={dim}")
    # r13 (guide §2.5): fan out before the n·m·k encode folds (see
    # seed_voronoi_distances — 1-2 row-group scans serialize them)
    subs = keyed_fan_out(v, id_col,
                         min_bytes=VECTOR_FAN_OUT_MIN_BYTES).select(
        id_col, F.posexplode(_subvectors(F.col("__vec__"), m, dim))
        .alias("sub", "__svec__"))
    # r13 (guide §2.3/2.4): in-row argmin against the packed codebook
    # broadcast (m·k entries, filtered per row to the row's subspace)
    # — the old form built an n·m·k row fan-out and funneled it back
    # through a per-(id, sub) hash aggregate. Same d² folds, same
    # lexicographic (d2, cell) tie-break, zero exchanges. The not-null
    # filter mirrors the old inner join's behavior for a subspace with
    # no codebook rows (degenerate input only).
    best = F.array_min(_dists("__cb__", F.col("__svec__"), "cell",
                              "centroid", part=("sub", F.col("sub"))))
    return (subs.crossJoin(_pack(codebooks, "__cb__", "sub", "cell",
                                 "centroid"))
            .withColumn("__code__", best["cell"])
            .filter(F.col("__code__").isNotNull())
            .select(id_col, "sub", F.col("__code__").alias("code")))


def pq_topk(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
            k: int = 5, m: int = 8, dim: int | None = None,
            id_col: str = "vec_id", vec_col: str = "embedding",
            ndigits: int = 6) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, the
    exact d² from each query SUBVECTOR to every codebook centroid is
    a tiny ``m·k_c``-row table; a candidate's approximate distance is
    the sub-ordered fold of its ``m`` looked-up entries. Returns
    ``(query_id, corpus_id, rank, ad2)``.

    Scale shape: the distance tables are |queries|·m·k_c rows
    (broadcast — queries are a bounded probe set, same contract as
    brute_force_topk); the corpus side is the ``m``-rows-per-vector
    code table — one equi-join on (sub, code) + one groupBy(query,
    corpus) whose fold is m entries. Everything JVM-side; ranks
    break ties on corpus_id over the ROUNDED distance (cross-engine
    ulp rule, same as tfidf)."""
    from pyspark.sql import Window

    v = with_double_vec(queries.select(id_col, vec_col), vec_col)
    if dim is None:
        # as in pq_encode: no non-NULL query fixes no width, and width 1
        # serves NULL queries (empty queries give the empty frame)
        dim = _vector_dim(v)
        if dim is None:
            dim = m
    if dim % m:
        raise ValueError(f"pq_topk: m={m} must divide dim={dim}")
    qsubs = v.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(_subvectors(F.col("__vec__"), m, dim))
        .alias("sub", "__svec__"))
    dtab = (qsubs.join(F.broadcast(codebooks), "sub")
            .select("query_id", "sub", "cell",
                    _d2(F.col("__svec__"), F.col("centroid"))
                    .alias("__d2__")))
    scored = (
        codes.select(F.col(id_col).alias("corpus_id"), "sub", "code")
        .join(F.broadcast(dtab.withColumnRenamed("cell", "code")),
              ["sub", "code"])
        .groupBy("query_id", "corpus_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "__d2__")))
             .alias("__a__"))
        .select("query_id", "corpus_id",
                F.round(F.aggregate(F.col("__a__"), F.lit(0.0),
                                    lambda acc, s: acc + s["__d2__"]),
                        ndigits).alias("ad2"))
    )
    w = Window.partitionBy("query_id").orderBy("ad2", "corpus_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "rank", "ad2"))


def ivf2_seeded_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells1: int = 8,
    n_cells2: int = 4,
    n_probe1: int = 3,
    n_probe2: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_id: int = 50,
    exclude_self: bool = True,
) -> DataFrame:
    """TWO-LEVEL seeded IVF — the codebook shape for corpora where a
    flat cell count stops working (auto_n_cells caps at 65k because
    assignment is n·cells; past ~270M vectors you want coarse cells ×
    per-cell sub-cells instead of a bigger flat codebook). Level 1:
    ``n_cells1`` lowest-id seeds partition the corpus; level 2: each
    coarse cell is re-partitioned by its own ``n_cells2`` lowest-id
    MEMBERS as sub-seeds. Search probes ``n_probe1`` coarse cells,
    then ``n_probe2`` sub-cells within each — candidate volume
    ~n·(np1·np2)/(n1·n2) with assignment cost n·(n1+n2), versus
    n·(n1·n2) for the equivalent flat codebook.

    Fully deterministic (seed = data points, argmin ties on lower
    cell/sub id, rank ties on corpus id) → the whole pipeline is
    SQL-replayable, same contract as :func:`ivf_seeded_topk`. Both
    seed tables are bounded broadcasts (n1 rows; ≤n1·n2 rows); the
    only data-sized shuffles are the two argmin aggregations and the
    (c1, c2) candidate equi-join.
    """
    v = with_double_vec(emb, vec_col).select(F.col(id_col), F.col("__vec__"))
    # r13 (guide §2.3/2.4): every argmin/top-p below is an IN-ROW fold
    # over a packed broadcast array — the old form shuffled
    # vector-carrying fan-out rows (n·cells, then n·n_cells2) through
    # four per-id windows. Orderings are identical: array_min /
    # slice(array_sort) use the same lexicographic (d2, cell) compare
    # as the old row_number orderings, so cells, sub-cells and probe
    # sets are bit-identical. The one remaining window (sub-seed
    # selection, rank-by-id within a coarse cell) runs over NARROW
    # (cell, id) rows; the ≤n1·n2 chosen seeds get their vectors back
    # via a broadcast equi-join (no shuffle of v).
    ad1 = seed_voronoi_distances(v, n_cells1, id_col)
    a1 = ad1.select(id_col, F.col("__vec__").alias("__cv__"),
                    F.array_min(F.col("__ds__"))["cell"].alias("cell"))
    # sub-seeds: the n_cells2 lowest-id members of each coarse cell
    w_sub = Window.partitionBy("cell").orderBy(id_col)
    sub_ids = (a1.select("cell", id_col)
               .withColumn("__sn__", F.row_number().over(w_sub))
               .filter(F.col("__sn__") <= n_cells2)
               .select(F.col("cell").alias("__c1__"),
                       F.col(id_col).alias("__c2__")))
    subseeds = (v.join(F.broadcast(sub_ids),
                       v[id_col] == sub_ids["__c2__"])
                .select("__c1__", "__c2__",
                        F.col("__vec__").alias("__sv__")))
    packed2 = _pack(subseeds, "__ss__", "__c1__", "__c2__", "__sv__")

    def sub_dists(vec):
        # distances of ``vec`` to the subs of ITS coarse cell (the
        # packed array is filtered per row on __c1__ == cell)
        return _dists("__ss__", vec, "__c2__", "__sv__",
                      part=("__c1__", F.col("cell")))

    # fine assignment: argmin over the vector's OWN coarse cell's subs
    assign = (a1.crossJoin(packed2)
              .select(F.col(id_col).alias("corpus_id"),
                      F.col("__cv__").alias("__corpusv__"),
                      F.col("cell").alias("__c1__"),
                      F.array_min(sub_dists(F.col("__cv__")))["__c2__"]
                      .alias("__c2__")))
    # probes level 1: top coarse cells per query
    probes1 = (ad1.filter(F.col(id_col) < query_max_id)
               .select(F.col(id_col).alias("query_id"),
                       F.col("__vec__").alias("__qv__"),
                       F.explode(F.slice(F.array_sort(F.col("__ds__")),
                                         1, n_probe1)).alias("__p__"))
               .select("query_id", "__qv__",
                       F.col("__p__")["cell"].alias("cell")))
    # probes level 2: top sub-cells within each probed coarse cell
    probes2 = (probes1.crossJoin(packed2)
               .select("query_id", "__qv__",
                       F.col("cell").alias("__c1__"),
                       F.explode(F.slice(
                           F.array_sort(sub_dists(F.col("__qv__"))),
                           1, n_probe2)).alias("__p2__"))
               .select("query_id", "__qv__", "__c1__",
                       F.col("__p2__")["__c2__"].alias("__c2__")))
    scored = assign.join(probes2, ["__c1__", "__c2__"])
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("corpus_id"))
    scored = scored.withColumn(
        "sim", cosine(F.col("__qv__"), F.col("__corpusv__")))
    return _top_k(scored, k)


def mean_pool_embeddings(df: DataFrame, group_col: str,
                         vec_col: str = "embedding") -> DataFrame:
    """Group mean-pooling of vectors — chunk→document pooling, label
    centroids, cohort prototypes: one row per group with the
    element-wise mean embedding and the member count.

    Determinism: the same quantized-integer mean as kmeans_assign
    (floor(x·2^20) bigint sums, see KMEANS_Q) — float-order-
    independent, engine-exact, so pooled vectors are stable under any
    partitioning and SQL-replayable. Shape: one posexplode + one
    (group, dim) map-combined aggregate + one collect_list bounded by
    the dimension count. NULL vectors are skipped (groups with only
    NULLs are absent)."""
    return (_quantized_mean(df, [F.col(group_col).alias("__g__")],
                            F.transform(F.col(vec_col),
                                        lambda x: x.cast("double")),
                            "pooled", F.max("__c__").alias("n_members"))
            .select(F.col("__g__").alias(group_col), "pooled", "n_members"))


def kcenter_select(df: DataFrame, k: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal — the classic 2-approximation): start from the lowest-id
    vector, then repeatedly add the point FARTHEST from the selected
    set. The standard diversity-first data-selection primitive
    (DeepCore/active-learning coresets): k rows that cover the corpus
    with the smallest max distance any coreset of size k can
    2-approximate.

    Returns ``(sel_order, vec_id, radius_d2)`` — ``radius_d2`` is the
    corpus coverage radius (max min-squared-distance) at the moment
    the center was chosen, i.e. a monotone non-increasing curve whose
    tail value bounds the final covering radius within 2×.

    Shape: k passes over the corpus, each pass one broadcast of the
    single new center + a running ``least(mind2, d²)`` column — no
    shuffle at all on the corpus (narrow map + one max aggregate per
    round); the argmax resolves as max-filter-min (scalar broadcast),
    never a global sort. State is localCheckpointed per round so round
    i does not replay rounds 0..i-1 (the PageRank lesson). All double
    arithmetic is sequential left folds — engine-exact, so the whole
    trajectory (picks AND radii) is SQL-replayable.

    At 100 TB: k linear scans, each embarrassingly parallel; the only
    driver-sized data is the k single-row centers. For k beyond ~100,
    batch variants (k-center with per-round multi-pick) trade
    approximation for fewer passes — out of scope here.
    """
    # r13 (guide §2.5): fan out before pinning — every round's d² folds
    # read the pinned partitions, which otherwise mirror the 1-2
    # row-group scan (see seed_voronoi_distances)
    v = (with_double_vec(df.select(id_col, vec_col))
         .select(F.col(id_col).alias("vid"), F.col("__vec__").alias("e"))
         .transform(keyed_fan_out, "vid").localCheckpoint(eager=False))
    c = (v.orderBy("vid").limit(1)
         .select(F.col("vid").alias("cid"), F.col("e").alias("ce")))
    outs = [c.select(F.lit(0).cast("int").alias("sel_order"),
                     F.col("cid").alias(id_col),
                     F.lit(0.0).alias("radius_d2"))]
    # picked points are REMOVED from state: a selected center (mind2=0)
    # must never win the argmax again — with heavy exact duplication
    # (max(mind2)=0) a bare max-filter-min re-selects centers forever,
    # yielding duplicate coreset rows (r7 advice). Excluding picks keeps
    # the trajectory identical on non-degenerate data (a removed point
    # has mind2=0 and can't win a positive max) and picks a DISTINCT
    # duplicate-position point under degeneracy; with n < k the later
    # rounds are simply empty.
    state = (v.crossJoin(F.broadcast(c))
             .filter(F.col("vid") != F.col("cid"))
             .select("vid", "e", _d2(F.col("e"), F.col("ce")).alias("mind2")))
    for i in range(1, k):
        state = state.localCheckpoint(eager=False)
        mx = state.agg(F.max("mind2").alias("mx"))
        win = (state.join(F.broadcast(mx))
               .filter(F.col("mind2") == F.col("mx"))
               .agg(F.min("vid").alias("cid")))
        c = (v.join(F.broadcast(win), F.col("vid") == F.col("cid"))
             .select("cid", F.col("e").alias("ce")))
        outs.append(
            c.join(F.broadcast(mx))
            .select(F.lit(i).cast("int").alias("sel_order"),
                    F.col("cid").alias(id_col),
                    F.col("mx").alias("radius_d2")))
        state = (state.crossJoin(F.broadcast(c))
                 .filter(F.col("vid") != F.col("cid"))
                 .select("vid", "e",
                         F.least(F.col("mind2"),
                                 _d2(F.col("e"), F.col("ce"))).alias("mind2")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out
