"""Deduplication operators for LLM-data pipelines (BASELINE.json
north-star): exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the point of each shape):
  * exact        — one hash-aggregate on a 128-bit fingerprint; the
    only shuffle key is the fingerprint, never the text.
  * ngram-jaccard — candidate generation by shared-shingle blocking
    (explode + self-equi-join on the shingle), so cost is
    Σ |bucket|², not n²; exact verify on the candidates only.
  * minhash-lsh  — per-doc signature is one narrow pass (array ops in
    codegen); candidates via equi-join on (band, signature); exact
    Jaccard verify on candidates. At 100 TB the band join is the only
    shuffle and it is keyed by (band, sig) — uniformly distributed by
    construction (hash values), so no skew.
  * simhash      — see text.simhash_table; near-dup = equal hash (or
    small Hamming distance via bit_count(xor)).

All hashes are md5-derived (text.hash60) → every operator is
bit-reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csvplus_spark.errors import CsvPlusError

from .graph import _dense_ids
from .scanprobe import collapse_wanted, driver_table, keyed_fan_out
from .text import fingerprint, hash60, tokens

SHINGLE_K = 3

#: Mersenne prime 2^31-1 — universal-hash modulus; (a*h+b) stays under
#: 2^62 so the arithmetic is exact in int64 in Spark AND DuckDB
MINHASH_P = 2147483647

#: the most rounds the distributed connected-components loop
#: (:func:`_cc_min_label`) runs; a graph whose labels are not a
#: fixpoint by then raises instead of returning partial components
CC_MAX_ROUNDS = 20


def _minhash_coefficients(n: int = 64) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from md5 — no runtime RNG, and
    the DuckDB oracle embeds the same literals."""
    import hashlib

    out = []
    for s in range(n):
        d = hashlib.md5(f"minhash-coef-{s}".encode()).digest()
        a = (int.from_bytes(d[:4], "big") % (MINHASH_P - 1)) + 1
        b = int.from_bytes(d[4:8], "big") % MINHASH_P
        out.append((a, b))
    return out


MINHASH_COEF = _minhash_coefficients()


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: every doc with a
    non-NULL text mapped to the smallest doc id sharing its fingerprint
    (canonical id). A NULL text has a NULL fingerprint, which never
    joins, so NULL-text docs are left out of the output — the same
    contract as the SQL oracle's ``GROUP BY fp`` + join. One groupBy on
    a 32-char key — the 100 TB-safe exact dedup."""
    # r13 batch 5 probe, NOT kept: a lazy localCheckpoint on fp (the
    # bm25/ccnet fan-out pattern) was A/B'd and REVERTED — the two fp
    # consumers shuffle by the same key, so AQE's runtime exchange
    # reuse already computes the fingerprint pass once (direct query:
    # parity), while the collapse=True dedup paths pin their own
    # collapse and the nested checkpoint only added a second
    # materialization + unknown-size SMJ flips (dedup_minhash_fast
    # 1.33x, dedup_keep_best_fast 1.13x local).
    _, members = _exact_groups(df, fingerprint(text_col), id_col)
    return _canonical(members, id_col)


def _canonical(members: DataFrame, id_col: str) -> DataFrame:
    """``(id, canonical_id, is_canonical)`` of an :func:`_exact_groups`
    membership table."""
    return members.select(
        F.col(id_col), F.col("__rep__").alias("canonical_id"),
        (F.col(id_col) == F.col("__rep__")).alias("is_canonical"))


def shingle_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  k: int = SHINGLE_K, fan_out: bool = True) -> DataFrame:
    """Distinct (doc, shingle) pairs via posexplode + window lead.

    NB deliberately NOT the array-lambda form: referencing the token
    array inside a transform() lambda makes Catalyst inline the regexp
    extraction into every element access (and array higher-order fns
    are interpreted anyway). This shape is all codegen: explode, one
    window keyed by doc, concat, distinct.
    """
    from pyspark.sql import Window

    # r13 batch 5 (guide §2.3/§2.5): repartition the DOC rows by id
    # BEFORE tokenizing — the same move as the LM probe passes
    # (text.py::unigram_logprob). Two effects: the window's exchange
    # used to carry exploded (id, pos, token) rows (~4x the text
    # bytes) and now carries raw text once, with the window keeping
    # only its per-partition sort (hash(id) satisfies it, and the
    # (id, shingle) distinct + per-doc size aggregates downstream
    # reuse the same partitioning); and the tokenize+explode first
    # stage runs at full machine width instead of at the scan's
    # row-group count (1 at sf0.1, 5 at sf10 — the compressed corpus
    # parquet reads as a handful of splits however many cores exist).
    # ``fan_out=False`` skips it: the collapse=True paths feed a reps
    # JOIN whose output is already hash(id)-partitioned, and an
    # explicit repartition there is a redundant second exchange
    # (fuzzy_join_fast read 1.25-1.36x with it).
    src = df.select(F.col(id_col).alias("__id__"), F.col(text_col))
    if fan_out:
        src = keyed_fan_out(src, "__id__")
    tok = src.select(
        "__id__", F.posexplode(tokens(text_col)).alias("__pos__", "__tok__"))
    w = Window.partitionBy("__id__").orderBy("__pos__")
    leads = [F.lead("__tok__", j).over(w) for j in range(1, k)]
    return (
        tok.select(
            "__id__",
            F.concat_ws(" ", F.col("__tok__"), *leads).alias("__s__"),
            leads[-1].alias("__last__"),
        )
        .filter(F.col("__last__").isNotNull())
        .select("__id__", "__s__")
        .distinct()
    )


def _shingle_sizes(pairs: DataFrame) -> DataFrame:
    return pairs.groupBy("__id__").agg(F.count(F.lit(1)).alias("__n__"))


def _score_pairs(inter: DataFrame, sizes1: DataFrame, sizes2: DataFrame,
                 threshold: float, metric: str = "jaccard") -> DataFrame:
    """Score (d1, d2, inter) intersection counts against the
    (__id__, __n__) shingle-set sizes of each side and keep the pairs
    at or above ``threshold``: Jaccard inter / (n1 + n2 − inter), or
    containment inter / min(n1, n2). Returns (doc_id_1, doc_id_2,
    ``metric``)."""
    n1, n2, i = F.col("s1.__n__"), F.col("s2.__n__"), F.col("inter")
    score = i / (n1 + n2 - i) if metric == "jaccard" else i / F.least(n1, n2)
    return (
        inter.join(sizes1.alias("s1"), F.col("d1") == F.col("s1.__id__"))
        .join(sizes2.alias("s2"), F.col("d2") == F.col("s2.__id__"))
        .withColumn(metric, score)
        .filter(F.col(metric) >= threshold)
        .select(F.col("d1").alias("doc_id_1"), F.col("d2").alias("doc_id_2"), metric)
    )


def _verify_jaccard(ex: DataFrame, cand: DataFrame, threshold: float,
                    ey: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard for candidate (d1, d2) pairs via a join-based
    intersection count over the (doc, shingle) tables — ``ex`` holds
    the d1 side, ``ey`` (default ``ex``) the d2 side — all codegen, no
    interpreted array ops (shared by the MinHash self-pair and
    cross-table paths)."""
    ey = ex if ey is None else ey
    inter = (
        ex.alias("x")
        .join(cand, F.col("x.__id__") == F.col("d1"))
        .join(ey.alias("y"),
              (F.col("y.__id__") == F.col("d2")) & (F.col("x.__s__") == F.col("y.__s__")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _score_pairs(inter, _shingle_sizes(ex), _shingle_sizes(ey), threshold)


#: shingles in more documents than this are "stop shingles" and are
#: kept OUT of the blocking self-join (a trigram in 10⁶ docs would make
#: one 10¹²-pair bucket). Pairs they alone connect are recovered by the
#: hot-heavy fallback, so the cutoff never loses a pair — see
#: ngram_jaccard_pairs. Tune so Σdf² over retained shingles is sane.
HOT_SHINGLE_DF = 10_000


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    hot_df: int | None = HOT_SHINGLE_DF,
    shingles: DataFrame | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """EXACT near-dup pairs: Jaccard over word-trigram shingle sets.
    Returns (doc_id_1, doc_id_2, jaccard).

    ``shingles``: precomputed (__id__, __s__) table for exactly the
    docs of ``df`` (e.g. a checkpointed table shared with a sibling
    stage — see build_training_set's A/B note); must be the
    shingle_pairs() shape. Semantics identical to recomputing. The
    table is read as given: pinning it is the caller's choice, and it
    is not checkpointed a second time.

    Blocking on shared COLD shingles (document frequency ≤ ``hot_df``):
    the self-equi-join + count computes each candidate pair's cold
    intersection in one shuffle keyed by shingle, with Σ|bucket|²
    bounded by the df cutoff — one stop-trigram cannot create a
    quadratic bucket.

    The cutoff provably loses no pair. A qualifying pair (Jaccard ≥ t)
    missing from the cold join shares only hot shingles, so its whole
    intersection is hot: |A∩B| ≥ t·|A∪B| ≥ t·n_A forces h_A ≥ t·n_A
    (and likewise for B) — both docs are "hot-heavy" (≥ t of their
    shingles are stop shingles). The fallback adds all pairs of the
    hot-heavy doc set (tiny in any real corpus: these are docs made
    almost entirely of boilerplate) as candidates with cold count 0.

    Each candidate's exact intersection is then completed with its hot
    part — a join of the hot shingle rows restricted to candidate pairs
    (output-sized, never df²) — so reported Jaccard values are exact.

    ``hot_df=None`` skips the eager hot-set probe entirely (one small
    map-combined aggregate, ~0.6s at sf0.1) and joins on ALL shingles
    — correct on any corpus, but only safe at scale when the caller
    KNOWS no shingle is hot enough to make a quadratic bucket (e.g.
    boilerplate already stripped upstream).

    A collapse (``collapse``, resolved by
    :func:`scanprobe.collapse_wanted`) runs all of the above over one
    representative per exact-duplicate group and expands the result
    (:func:`_collapsed_text_pairs`): byte-identical output, with the Σdf²
    blocking volume measured over the DEDUPLICATED corpus —
    duplication factor f cuts it ×f². It cannot take ``shingles``
    (that table covers every doc, not the representatives). Pinned by
    test_ngram_collapsed_identity and `dedup_ngram_fast`.
    """
    return _ngram_pairs(df, threshold, text_col, id_col, hot_df, shingles,
                        collapse, "jaccard")


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hot_df: int | None = HOT_SHINGLE_DF,
    shingles: DataFrame | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """EXACT containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|)
    over word-trigram shingle sets — catches SUBSET/SUPERSET
    duplication (a page embedded in a longer page, a doc plus appended
    boilerplate) that symmetric Jaccard structurally misses: for
    B ⊇ A, J = |A|/|B| vanishes as B grows while C stays 1.0.
    Returns (doc_id_1, doc_id_2, containment).

    Same shared-cold-shingle blocking as :func:`ngram_jaccard_pairs`
    (Σ|bucket|² bounded by the df cutoff), with a DIFFERENT fallback
    argument: a qualifying pair missed by the cold join intersects
    only in hot shingles, so inter ≤ h_A and inter ≤ h_B while
    inter ≥ t·min(n_A, n_B) — the SMALLER member is hot-heavy at its
    own size (h ≥ t·n); nothing constrains the larger member's ratio.
    Hence the fallback is the HOT equi-join restricted to pairs with a
    hot-heavy member (they share ≥1 hot shingle by inter ≥ 1 > 0):
    cost Σ_hot |bucket ∩ hh|·|bucket| — linear in the corpus times the
    (tiny, boilerplate-only) hot-heavy set, never df². Exact
    intersections are then completed per candidate exactly as in the
    Jaccard path.

    ``collapse`` is the exact-duplicate collapse of
    :func:`ngram_jaccard_pairs`: containment is a SET function of the
    shingle sets too, so the identity holds verbatim (cross pairs
    inherit the rep pair's containment, intra pairs score exactly 1.0
    ≥ any threshold). Pinned by test_containment_collapsed_identity
    and `dedup_containment_fast`.
    """
    return _ngram_pairs(df, threshold, text_col, id_col, hot_df, shingles,
                        collapse, "containment")


def _ngram_pairs(df: DataFrame, threshold: float, text_col: str,
                 id_col: str, hot_df: int | None,
                 shingles: DataFrame | None, collapse: bool | None,
                 metric: str) -> DataFrame:
    """Shared body of :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs` (``metric`` names which). The two
    differ only in the fallback candidate set and the score."""
    if _text_collapse(df, shingles, collapse):
        return _collapsed_text_pairs(
            df, text_col, id_col,
            lambda reps, sp: _ngram_pairs(reps, threshold, text_col, id_col,
                                          hot_df, sp, False, metric))
    # a caller's shingles= table is the caller's to pin (checkpointing
    # a checkpointed frame persists it twice); only our own is pinned
    ex = (shingles if shingles is not None else shingle_pairs(
        df, text_col, id_col).localCheckpoint(eager=False))
    sizes = _shingle_sizes(ex)

    def _inter_join(src: DataFrame) -> DataFrame:
        return (
            src.alias("a")
            .join(src.alias("b"),
                  (F.col("a.__s__") == F.col("b.__s__"))
                  & (F.col("a.__id__") < F.col("b.__id__")))
            .groupBy(F.col("a.__id__").alias("d1"), F.col("b.__id__").alias("d2"))
            .agg(F.count(F.lit(1)).alias("__ic__"))
        )

    # eager probe for the hot set (same pattern as tfidf's N): one small
    # map-combined aggregate job; empty on any non-boilerplate corpus
    cap = 10_000
    hot_vals = [] if hot_df is None else [r[0] for r in (
        ex.groupBy("__s__").agg(F.count(F.lit(1)).alias("__df__"))
        .filter(F.col("__df__") > hot_df)
        .select("__s__").limit(cap + 1).collect()
    )]
    if not hot_vals:
        inter = _inter_join(ex).withColumnRenamed("__ic__", "inter")
    else:
        if len(hot_vals) > cap:  # hot set too big to inline → join split
            hot_set = (
                ex.groupBy("__s__").agg(F.count(F.lit(1)).alias("__df__"))
                .filter(F.col("__df__") > hot_df).select("__s__")
            )
            exh = ex.join(hot_set, "__s__").select("__id__", "__s__")
            exc = ex.join(hot_set, "__s__", "left_anti")
        else:  # narrow codegen filters, no extra shuffle
            is_hot = F.col("__s__").isin(hot_vals)
            exh = ex.filter(is_hot)
            exc = ex.filter(~is_hot)
        exh = exh.localCheckpoint(eager=False)
        cold = _inter_join(exc)
        # hot-heavy at own size: ≥ t of the doc's shingles are hot
        hh = (
            exh.groupBy("__id__").agg(F.count(F.lit(1)).alias("__h__"))
            .join(sizes, "__id__")
            .filter(F.col("__h__") >= F.lit(threshold) * F.col("__n__"))
            .select("__id__")
        )
        if metric == "jaccard":  # both members hot-heavy: all hh pairs
            missed = (
                hh.alias("a")
                .join(hh.alias("b"), F.col("a.__id__") < F.col("b.__id__"))
                .select(F.col("a.__id__").alias("d1"), F.col("b.__id__").alias("d2"))
            )
        else:  # the smaller member hot-heavy: hot equi-join from hh
            missed = (
                exh.join(hh, "__id__").alias("a")
                .join(exh.alias("y"),
                      (F.col("a.__s__") == F.col("y.__s__"))
                      & (F.col("a.__id__") != F.col("y.__id__")))
                .select(F.least("a.__id__", "y.__id__").alias("d1"),
                        F.greatest("a.__id__", "y.__id__").alias("d2"))
                .distinct()
            )
        fallback = (
            missed.join(cold.select("d1", "d2"), ["d1", "d2"], "left_anti")
            .withColumn("__ic__", F.lit(0).cast("long"))
        )
        cand = cold.unionByName(fallback)
        # hot part of each candidate's intersection: restricted to the
        # candidate pairs, so cost is |cand|·(hot shingles/doc), never df²
        ih = (
            exh.alias("x")
            .join(cand.select("d1", "d2"), F.col("x.__id__") == F.col("d1"))
            .join(exh.alias("y"),
                  (F.col("y.__id__") == F.col("d2"))
                  & (F.col("x.__s__") == F.col("y.__s__")))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("__ih__"))
        )
        inter = (
            cand.join(ih, ["d1", "d2"], "left")
            .withColumn("inter", F.col("__ic__") + F.coalesce("__ih__", F.lit(0)))
            .select("d1", "d2", "inter")
        )
    return _score_pairs(inter, sizes, sizes, threshold, metric)


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signatures, wide format: one ``__sigN__`` column
    per hash. base = hash60(shingle) % P once per shingle (codegen'd
    md5), then ``num_hashes`` universal-hash mins in ONE hash-aggregate
    — a single shuffle keyed by doc id."""
    # row-wise shingles + md5 + the 32 universal-hash mins all run in
    # codegen; the only shuffles are the shingle window and this groupBy
    ex = (pairs if pairs is not None else shingle_pairs(df, text_col, id_col)) \
        .withColumn("__h__", hash60(F.col("__s__")) % MINHASH_P)
    aggs = [
        F.min((F.lit(a) * F.col("__h__") + F.lit(b)) % MINHASH_P).alias(f"__sig{s}__")
        for s, (a, b) in enumerate(MINHASH_COEF[:num_hashes])
    ]
    return ex.groupBy("__id__").agg(*aggs)


def minhash_bands(sigs: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """LSH band table (id, band, sig array) of the
    :func:`minhash_signatures` table ``sigs``, whose signature columns
    give the hash count: docs agreeing on ALL rows of any band are
    candidates. The S-curve P(cand) = 1-(1-J^r)^b — r=2, b=16 keeps
    misses ~1e-7 at J≥0.8 while background-similarity false candidates
    (~J²) stay near zero."""
    n_bands = (len(sigs.columns) - 1) // rows_per_band
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.array(*[F.col(f"__sig{b * rows_per_band + r}__")
                      for r in range(rows_per_band)]).alias("sig"),
        )
        for b in range(n_bands)
    ])
    return (
        sigs.select("__id__", F.explode(bands).alias("b"))
        .select(F.col("__id__").alias("id"),
                F.col("b.band").alias("band"), F.col("b.sig").alias("sig"))
    )


def _band_pairs_triangle(bands: DataFrame, cap: int,
                         splits: int) -> DataFrame:
    """Candidate id pairs from a band table with KEY-level skew
    handling: (band, sig) buckets larger than ``cap`` run their
    self-join as a triangle decomposition — members salted into
    ``splits`` groups, each unordered group pair (i ≤ j) its own join
    key — bounding any task at (m/splits)² instead of m². OUTPUT-
    IDENTICAL to the plain self-join (each unordered member pair
    matches under exactly one (i, j) key; `id <` dedups within-group
    mirrors), at the cost of (splits+1)× replication of hot-bucket
    rows and one extra bucket-size aggregate.

    Why AQE isn't enough here: adaptive skew-join splits PARTITIONS,
    but every row of one hot KEY hashes to the same partition, and
    replicating the matching side still leaves (m/s)·m work per task —
    linear relief for a quadratic problem. The triangle gets the full
    s² division. Cold buckets (the overwhelming majority — band keys
    are hash-uniform unless the corpus repeats near-identical
    boilerplate beyond exact-dup collapse) take the plain join.
    """
    sizes = bands.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("__bn__"))
    hot_keys = sizes.filter(F.col("__bn__") > cap).select("band", "sig")
    tagged = bands.join(hot_keys.withColumn("__hot__", F.lit(True)),
                        ["band", "sig"], "left")
    cold = tagged.filter(F.col("__hot__").isNull()).drop("__hot__")
    hot = tagged.filter(F.col("__hot__")).drop("__hot__") \
        .withColumn("__g__", F.pmod(hash60(F.col("id").cast("string")),
                                    F.lit(splits)))
    cold_pairs = (
        cold.alias("a")
        .join(cold.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.sig") == F.col("b.sig"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
    )
    # cross-group stage: member x at keys (g_x, j) for j > g_x, y at
    # (i, g_y) for i < g_y — each unordered cross-group pair matches
    # at exactly (min_g, max_g); groups are disjoint so no self-pairs,
    # and the id ORDER is restored by least/greatest (an `a.id < b.id`
    # join condition here would LOSE pairs whose smaller id sits in
    # the larger group)
    # sequence(a, b) DESCENDS when a > b — empty-guard the end groups
    up = F.when(F.col("__g__") + 1 <= F.lit(splits - 1),
                F.sequence(F.col("__g__") + 1, F.lit(splits - 1))) \
        .otherwise(F.array().cast("array<long>"))
    down = F.when(F.col("__g__") - 1 >= F.lit(0),
                  F.sequence(F.lit(0).cast("long"), F.col("__g__") - 1)) \
        .otherwise(F.array().cast("array<long>"))
    left = hot.select(
        "band", "sig", "id", F.col("__g__").alias("__i__"),
        F.explode(up).alias("__j__"))
    right = hot.select(
        "band", "sig", "id", F.col("__g__").alias("__j__"),
        F.explode(down).alias("__i__"))
    cross_pairs = (
        left.alias("a")
        .join(right.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.sig") == F.col("b.sig"))
              & (F.col("a.__i__") == F.col("b.__i__"))
              & (F.col("a.__j__") == F.col("b.__j__")))
        .select(F.least(F.col("a.id"), F.col("b.id")).alias("d1"),
                F.greatest(F.col("a.id"), F.col("b.id")).alias("d2"))
    )
    # within-group stage: plain self-join per (band, sig, group)
    within_pairs = (
        hot.alias("a")
        .join(hot.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.sig") == F.col("b.sig"))
              & (F.col("a.__g__") == F.col("b.__g__"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
    )
    return cold_pairs.unionByName(cross_pairs).unionByName(within_pairs)


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 32,
    rows_per_band: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    hot_band_cap: int | None = None,
    hot_band_splits: int = 16,
    collapse: bool | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified.

    Banded LSH (b = num_hashes/rows_per_band bands of r rows): a pair
    is a candidate when all r minhashes of any band collide. Miss
    probability for a true pair at Jaccard J is (1−J^r)^b — ~1e-7 at
    J=0.8 with r=2, b=16 — while background-similar pairs (J~0.005)
    almost never become candidates, so the exact-Jaccard verify stage
    stays tiny. False candidates cost time, never correctness.

    ``hot_band_cap`` (opt-in): buckets beyond this size run the
    output-identical triangle decomposition of
    :func:`_band_pairs_triangle` — set it when a boilerplate-heavy
    corpus leaves near-identical (not byte-identical — a collapse
    handles those) signature groups big enough that one
    (band, sig) key's m² pairs dominate a task.

    ``collapse`` bands and verifies one representative per
    exact-duplicate group and expands the result
    (:func:`_collapsed_text_pairs`): byte-identical output,
    duplication-immune candidate volume (every copy of a doc carries
    the same signature, so at duplication factor f the candidates grow
    ×f²). Identity: bands and exact Jaccard depend only on the text,
    so (a, b) is a candidate iff (rep_a, rep_b) is, at the same
    Jaccard; copies collide in EVERY band, so the plain path emits
    every intra-group pair at J = 1.0 when the doc has ≥1 shingle. It
    cannot take ``shingles``. Pinned by test_minhash_collapsed_identity
    and `dedup_minhash_fast`.
    """
    if _text_collapse(df, shingles, collapse):
        return _collapsed_text_pairs(
            df, text_col, id_col,
            lambda reps, sp: minhash_dedup_pairs(
                reps, threshold, num_hashes, rows_per_band, text_col, id_col,
                sp, hot_band_cap, hot_band_splits))
    # ONE shingle pass shared by the band path and the exact verify
    # (pinned only when built here, as in _ngram_pairs)
    ex = (shingles if shingles is not None else shingle_pairs(
        df, text_col, id_col).localCheckpoint(eager=False))
    bands = minhash_bands(minhash_signatures(df, num_hashes, pairs=ex),
                          rows_per_band).localCheckpoint(eager=False)
    if hot_band_cap is not None:
        cand = _band_pairs_triangle(
            bands, hot_band_cap, hot_band_splits).distinct()
    else:
        cand = (
            bands.alias("a")
            .join(bands.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.sig") == F.col("b.sig"))
                  & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
            .distinct()
        )
    # join-based exact verify (codegen) — array_intersect on long arrays
    # is interpreted and becomes the bottleneck at scale. No broadcast
    # hint on cand: its size is data-dependent (can be huge on a skewed
    # corpus); AQE broadcasts it when it is actually small.
    return _verify_jaccard(ex, cand, threshold)


def _exact_groups(df: DataFrame, fp: F.Column, id_col: str, *payload: str,
                  pin: bool = False) -> tuple[DataFrame, DataFrame]:
    """The exact-duplicate collapse every family shares (normalized
    text, raw text, vectors, SimHash): the rows of ``df`` grouped by
    the fingerprint ``fp``, each group kept as its min-id
    representative.

    ``grp`` is ``(__fp__, __rep__, *payload, __g__)``: one row per
    fingerprint, the representative's ``payload`` columns and the
    group size. ``members`` is ``(id_col, __rep__)`` for every row
    whose fingerprint is not NULL. A NULL fingerprint still forms a
    ``grp`` row but never joins, so each caller's fingerprint
    expression decides what a NULL input means: a bare NULL drops the
    row (:func:`exact_dedup`), a sentinel keeps all such rows in one
    group (the raw-text span collapse) and a per-row key keeps each a
    singleton (:func:`_vector_fp`). The shuffle key stays the
    fingerprint while text or vectors ride as payload. ``pin`` pins
    both with a lazy localCheckpoint, for callers that read them more
    than once (uncached, each read re-runs the fingerprint pass)."""
    vg = df.withColumn("__fp__", fp)
    grp = vg.groupBy("__fp__").agg(
        F.min(id_col).alias("__rep__"),
        *[F.min_by(c, F.col(id_col)).alias(c) for c in payload],
        F.count(F.lit(1)).alias("__g__"),
    )
    if pin:
        grp = grp.localCheckpoint(eager=False)
    members = (vg.select(F.col(id_col), "__fp__")
               .join(grp.select("__fp__", "__rep__"), "__fp__")
               .select(F.col(id_col), "__rep__"))
    if pin:
        members = members.localCheckpoint(eager=False)
    return grp, members


def _expand_pairs(rp: DataFrame, members: DataFrame, id_col: str,
                  groups: DataFrame, self_value: F.Column,
                  keep: F.Column | None = None) -> DataFrame:
    """Expand the rep-level pairs ``rp`` = ``(c1, c2, value)`` of a
    collapsed pair family back to member pairs, in the same schema:
    the output side of every :func:`_exact_groups` pair collapse.

    Precondition: ``rp`` holds each unordered pair of DISTINCT
    representatives at most once, in either orientation — every
    producer does (the shingle, band and grid/LSH paths emit c1 < c2
    through a distinct, the SimHash blocking one row per hash pair). A
    repeated rep pair would duplicate member pairs here unguarded.

    ``groups`` is the slice of ``grp`` whose groups of ≥2 members get
    intra-group pairs, each at ``self_value`` (a Column over ``grp``),
    kept where ``keep`` (a Column over the value) holds. Such a group
    enters as the rep-level SELF-pair (rep, rep, value), so one double
    join expands cross-group and intra-group pairs together; the
    filter keeps each unordered intra pair once, and least/greatest
    restores c1 < c2 for cross pairs whose member ids straddle the rep
    order. Both joins are output-sized.

    Identity — the collapsed output equals the plain path's because
    the pair value is a function of the fingerprinted content alone:
      * text pairs (n-gram Jaccard, containment, MinHash): the metric
        is a SET function of the shingle sets, which exact copies
        share, so cross pairs are the rep pairs expanded over both
        memberships and intra pairs score 1.0 — only for groups whose
        rep has ≥1 shingle, since shingle-free docs never reach any
        blocking or banding table in the plain paths;
      * vectors: cosine depends only on the two arrays, and the
        self-sim is computed ONCE per group with the expression the
        method applies to any pair — equal arrays give the identical
        double, so values match bit for bit (``keep`` applies the
        threshold to it);
      * SimHash: Hamming depends only on the hash, so a same-hash
        group is a Hamming-0 clique and cross pairs carry their hash
        pair's distance."""
    c1, c2, value = rp.columns
    selfs = (groups.filter(F.col("__g__") >= 2)
             .select(F.col("__rep__").alias(c1), F.col("__rep__").alias(c2),
                     self_value.alias(value)))
    if keep is not None:
        selfs = selfs.filter(keep)
    m1 = members.select(F.col("__rep__").alias(c1),
                        F.col(id_col).alias("__i1__"))
    m2 = members.select(F.col("__rep__").alias(c2),
                        F.col(id_col).alias("__i2__"))
    return (rp.unionByName(selfs)
            .join(m1, c1).join(m2, c2)
            .filter((F.col(c1) != F.col(c2))
                    | (F.col("__i1__") < F.col("__i2__")))
            .select(F.least("__i1__", "__i2__").alias(c1),
                    F.greatest("__i1__", "__i2__").alias(c2), value))


def _exact_reps(df: DataFrame, text_col: str, id_col: str,
                pin: bool = False
                ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The normalized-text collapse of ``df`` (:func:`exact_dedup`'s
    fingerprint — NULL texts are dropped): ``(grp, members, reps)``
    of :func:`_exact_groups`, ``reps`` the rows of ``df`` that
    represent their group."""
    grp, members = _exact_groups(df, fingerprint(text_col), id_col, pin=pin)
    reps = df.join(members.filter(F.col(id_col) == F.col("__rep__"))
                   .select(id_col), id_col)
    return grp, members, reps


def _text_collapse(df: DataFrame, shingles: DataFrame | None,
                   collapse: bool | None) -> bool:
    """Whether a self-pair text family collapses: the gate's answer,
    except that a caller's ``shingles=`` table (it covers every
    document, not the representatives) keeps the plain path and
    refuses ``collapse=True``."""
    if shingles is None:
        return collapse_wanted(df, collapse=collapse)
    if collapse:
        raise ValueError(
            "collapse=True shingles the representatives itself; a "
            "caller's shingles= table covers every document")
    return False


def _collapsed_text_pairs(df: DataFrame, text_col: str, id_col: str,
                          rep_pairs_of) -> DataFrame:
    """The collapsed path of the self-pair family (n-gram Jaccard,
    containment, MinHash): ``rep_pairs_of(reps, rep_shingles)`` runs
    the plain operator over one representative per normalized-text
    fingerprint, and :func:`_expand_pairs` expands its verified pairs
    back to doc space, intra-group pairs at 1.0 for the groups whose
    rep has ≥1 shingle."""
    grp, members, reps = _exact_reps(df, text_col, id_col, pin=True)
    # ONE pinned shingle table over reps, shared by the operator and
    # the shingled-group check below (fan_out=False: the reps join
    # already partitioned by id — see shingle_pairs)
    sp = shingle_pairs(reps, text_col, id_col,
                       fan_out=False).localCheckpoint(eager=False)
    shingled = grp.join(sp.withColumnRenamed("__id__", "__rep__"),
                        "__rep__", "left_semi")
    return _expand_pairs(rep_pairs_of(reps, sp), members, id_col,
                         shingled, F.lit(1.0))


def _vector_fp(id_col: str) -> F.Column:
    """The exact-duplicate fingerprint of a ``(id_col, __vec__)`` row:
    the md5 of the exact double-array rendering when the row is
    COLLAPSIBLE, else a unique ``z:id`` that keeps it a singleton, run
    exactly as on the plain path. A row is collapsible only when its
    squared norm is a finite positive number:
      * sq is NULL for a NULL vector AND for a vector containing a
        NULL element (the fold propagates it), and their pairwise
        cosine is NULL (r8 review: the earlier ``isNull | sq==0``
        guard evaluated NULL for partial-NULL vectors and fell through
        to the md5 branch, merging them and breaking byte-identity);
      * zero-norm vectors have a NULL cosine in both engines;
      * NaN / Inf vectors (r13 ADVICE): Spark orders NaN above every
        double, so ``sq > 0`` alone admits them; ``sq < inf`` is false
        for both NaN (ordered greatest) and Inf. Their cosine is NaN
        (NULL against a vector with a NULL), and NaN passes
        ``sim >= threshold`` on every path (the BLAS candidates keep
        NaN for the exact rescore), so a collapse would link them as
        the plain path does — the guard keeps them singletons anyway,
        so the collapse's identity argument covers finite vectors only
        and rests on no NaN ordering."""
    from .similarity import _sq_norm

    sq = _sq_norm(F.col("__vec__"))
    collapsible = F.coalesce(
        (sq > 0.0) & (sq < F.lit(float("inf"))), F.lit(False))
    return F.when(collapsible, F.md5(F.col("__vec__").cast("string"))) \
        .otherwise(F.concat(F.lit("z:"), F.col(id_col).cast("string")))


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.4,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse: bool | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    semantic dedup where CLUSTERING IS THE BLOCKING — assign vectors
    to cells, compare pairwise only within a cell, connect pairs above
    ``threshold``, keep one representative (min id) per component.
    Returns ``(vec_id, canonical_id, is_canonical)`` for EVERY vector
    (singletons are their own canonical) — the same keep/drop contract
    as :func:`exact_dedup`, over meaning instead of bytes.

    Cells use the deterministic seed-Voronoi assignment of
    ``ivf_seeded_topk`` (n_cells lowest-id vectors as centroids, exact
    squared-L2 argmin) so every stage — assignment, pair cosine, CC —
    is replayable by the SQL oracle; a production run swaps in KMeans
    centroids (``ivf_build``) without changing any downstream shape.

    Scale: centroids broadcast (n_cells rows), assignment is narrow,
    and the within-cell comparison is similarity's BLAS candidate
    kernel per cell inside a grouped applyInPandas (Arrow transfer)
    with its exact rescore of the candidates (the recipe and its
    margin rule are in similarity's module docstring) — per-cell cost
    is |cell|², the paper's own design point (cells per corpus grow
    with n so |cell| stays bounded; LAION-scale runs use ~11k cells).
    CC is the shared HashToMin + pointer-jump loop. No all-pairs, no
    driver state beyond the n_cells seed collect.

    ``n_cells=None`` (default) sizes the cells from a one-column
    corpus count (``auto_n_cells``: ceil(n/4096), floor 16) so the
    within-cell quadratic stays bounded at ANY corpus size — an EAGER
    count at call time. Pass an explicit n_cells to stay lazy or to
    replay an oracle whose SQL embeds a fixed cell count (VERDICT r6:
    the old fixed default of 16 handed an unwary production caller
    |cell| = n/16 quadratic cost).

    ``collapse`` (resolved by :func:`scanprobe.collapse_wanted`):
    EXACT-duplicate vectors collapse to their min-id representative
    before cell assignment, and only reps flow through the BLAS /
    rescore / CC stages — the same duplication-immune trick as
    :func:`dup_clusters_collapsed`. The collapsed path is
    output-BYTE-IDENTICAL because duplicates share their rep's cell
    (identical distances + the same (d2, cell) tie-break), cosine
    depends only on vector values, seeds are still drawn from the FULL
    id space (``seed_src``), reps are group minima, and a group is
    itself a sim=1 clique in the plain graph. Vectors without a finite
    positive norm (NULL, NULL element, zero, NaN, Inf) never collapse:
    they keep a unique fingerprint and run exactly as on the plain
    path (see _vector_fp); thresholds within 1e-12 of 1.0 disable the
    collapse (a float self-cosine can fall below such a threshold, so
    group-clique membership is no longer guaranteed).
    """
    from .similarity import (_near_candidates, _rescore, auto_n_cells,
                             seed_voronoi_distances, with_double_vec)

    v = with_double_vec(emb, vec_col).select(F.col(id_col), F.col("__vec__"))
    if n_cells is None:
        n_cells = auto_n_cells(v.count())
    if n_cells < 1:
        raise ValueError(f"semantic_dedup: n_cells must be >= 1, got {n_cells}")
    collapse = threshold <= 1.0 - 1e-12 and \
        collapse_wanted(emb, collapse=collapse)
    # r13 (guide §2.5): fan out before the per-vector fingerprint /
    # norm folds — the embeddings parquet reads as 1-2 row groups at
    # bench scales (see similarity.seed_voronoi_distances); the
    # n_cells count above stays on the un-fanned frame
    v = keyed_fan_out(v, id_col)
    members = None
    if collapse:
        grp, members = _exact_groups(v, _vector_fp(id_col), id_col, "__vec__")
        work = grp.select(F.col("__rep__").alias(id_col), "__vec__")
    else:
        work = v
    # r13 (guide §2.3/2.4): seed_voronoi_distances now returns the
    # packed per-row distance array, so the cell argmin is an in-row
    # array_min — the old form shuffled n·n_cells vector-carrying rows
    # through a per-id window for the same (d2, cell) minimum.
    ad = seed_voronoi_distances(work, n_cells, id_col,
                                seed_src=v if collapse else None)
    assign = ad.select(
        F.col(id_col).alias("__sid__"), F.col("__vec__"),
        F.array_min(F.col("__ds__"))["cell"].alias("cell"))
    # per-cell BLAS candidates + exact rescore (similarity's shared
    # recipe): one numpy matmul per cell replaces |cell|² interpreted
    # fold cosines (measured 69s → seconds at 20k vectors)
    id_dt = emb.schema[id_col].dataType.simpleString()

    def _cell(pdf):
        return _near_candidates(threshold, (pdf["__sid__"], pdf["__vec__"]))

    cand = assign.groupBy("cell").applyInPandas(
        _cell, f"id_1 {id_dt}, id_2 {id_dt}")
    pairs = (
        _rescore(cand, work)
        .filter(F.col("sim") >= threshold)
        .select(F.col("id_1").alias("doc_id_1"),
                F.col("id_2").alias("doc_id_2"))
    )
    labels = dup_clusters(pairs).withColumnRenamed("doc_id", id_col)
    if collapse:
        # expand reps back to members: a member's canonical is its
        # rep's cluster (or the rep itself — a rep-space singleton
        # whose group has f>=2 members IS the plain-path clique, and
        # its min id is exactly the rep)
        rep_lab = labels.withColumnRenamed(id_col, "__rep__")
        return (
            members.join(rep_lab, "__rep__", "left")
            .select(
                F.col(id_col),
                F.coalesce("cluster_id", F.col("__rep__"))
                .alias("canonical_id"),
                (F.col(id_col) == F.coalesce("cluster_id", F.col("__rep__")))
                .alias("is_canonical"),
            )
        )
    return (
        emb.select(F.col(id_col))
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("canonical_id"),
            (F.col(id_col) == F.coalesce("cluster_id", F.col(id_col)))
            .alias("is_canonical"),
        )
    )


def incremental_dedup(new_docs: DataFrame, seen: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      seen_fp_col: str = "fingerprint") -> DataFrame:
    """Cross-snapshot exact dedup: drop new docs whose normalized-text
    fingerprint already exists in a previously-admitted corpus, then
    dedup the survivors among themselves (keep min id per fingerprint).

    The ingest-side sibling of :func:`exact_dedup` — a nightly crawl
    batch checked against yesterday's corpus. ``seen`` is either a
    fingerprint column written by an earlier run or raw docs (any frame
    exposing ``seen_fp_col``; use ``fingerprinted`` or
    ``exact_dedup``'s output to produce one). Uses the SAME md5
    fingerprint as batch exact dedup and streaming ``stream_dedup``,
    so all three admission paths agree on document identity.

    Scale: one anti-join keyed by the 32-char fingerprint (the seen
    side is fingerprints only — narrow), then one groupBy over the
    surviving batch. No driver state, no full-corpus rescan: the seen
    table is whatever fingerprint artifact the previous run persisted.
    """
    from .text import fingerprint

    fp = new_docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    fresh = fp.join(seen.select(F.col(seen_fp_col).alias("fp")),
                    "fp", "left_anti")
    return _canonical(_exact_groups(fresh, F.col("fp"), id_col)[1], id_col)


def contamination_check(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = SHINGLE_K,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    probe_text: str = "text",
    probe_id: str = "probe_id",
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-decontamination primitive: which corpus docs share any
    word ``k``-gram with any probe (eval-set) document, and how many.

    Returns (doc_id, probe_id, n_shared) for every contaminated pair.
    Shape: two shingle passes + ONE equi-join keyed by shingle with the
    probe side the (small) build side — at 100 TB the corpus is never
    shuffled by more than its shingle projection, and the probe set
    (an eval benchmark, thousands of docs) broadcasts.

    ``corpus_shingles``: precomputed (__id__, __s__) table for exactly
    the corpus docs (shared-stage reuse, see ngram_jaccard_pairs).
    """
    c = (corpus_shingles if corpus_shingles is not None
         else shingle_pairs(corpus, corpus_text, corpus_id, k)) \
        .withColumnRenamed("__id__", "__cid__")
    p = shingle_pairs(probes, probe_text, probe_id, k) \
        .withColumnRenamed("__id__", "__pid__")
    return (
        c.join(p, "__s__")
        .groupBy(F.col("__cid__").alias(corpus_id),
                 F.col("__pid__").alias(probe_id))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def semantic_contamination(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """Embedding-space decontamination: the semantic sibling of
    :func:`contamination_check` (which catches verbatim n-gram overlap
    but misses paraphrased benchmark leakage). Flags every training
    vector whose cosine to ANY benchmark vector reaches ``threshold``.

    Returns (id, max_bench_sim, contaminated) for every train row —
    max_bench_sim is the exact nearest-benchmark cosine (NULL when no
    defined similarity exists: zero-norm train vector, or empty/
    all-zero bench), contaminated is the thresholded flag (NULL-safe
    false).

    Shape: the verified grid BLAS machinery (similarity.grid_topk,
    k=1) — (train-block × bench-block) cells scored as one matmul
    each with an exact fold-cosine rescore, so values are
    bit-reproducible by a SQL oracle; nothing quadratic materializes
    and neither side is ever broadcast whole. Zero-norm BENCH vectors
    are dropped up front: their cosine is undefined, so they can
    contaminate nothing.

    Only bench vectors whose squared norm is a positive finite number
    take part. This differs from the SQL oracle
    (``_SEMANTIC_CONTAM_SQL``; pinned by tests/test_llm_ops.py::
    test_semantic_contamination_bench_guard_vs_oracle) for two kinds
    of bench vector, and in both the result here is the one without
    that vector. A NULL element makes the squared norm NULL, while
    DuckDB's ``list_sum`` skips the NULL term and scores the vector over
    its other elements. A NaN or an Inf element makes every cosine NaN:
    the oracle keeps the vector and its MAX returns NaN (flagged) for
    every train vector, while here it is dropped, as a vector with no
    defined similarity to anything, like a zero vector.
    """
    from .similarity import _sq_norm, grid_topk, with_double_vec

    b = with_double_vec(bench, vec_col)
    sq = _sq_norm(F.col("__vec__"))
    b = b.filter((sq > 0) & (sq < float("inf"))).drop("__vec__")
    nn = grid_topk(train, b, k=1, id_col=id_col, vec_col=vec_col,
                   exclude_self=False, n_blocks=n_blocks)
    return (
        train.select(F.col(id_col))
        .join(nn.select(F.col("query_id").alias(id_col),
                        F.col("sim").alias("max_bench_sim")),
              id_col, "left")
        .select(
            F.col(id_col),
            F.col("max_bench_sim"),
            F.coalesce(F.col("max_bench_sim") >= threshold,
                       F.lit(False)).alias("contaminated"),
        )
    )


def canonicalize_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup end-game: pick the SURVIVOR of each near-dup cluster.

    Clusters come from connected components over the exact n-gram
    Jaccard pair graph (or caller-provided ``pairs``); singletons are
    their own cluster. The survivor is the highest-quality doc
    (text.quality heuristic), ties to the smallest id — the standard
    "keep best, drop rest" step after near-dup detection.

    Returns (doc_id, cluster_id, canonical_id, keep). Shapes: the CC
    loop (see dup_clusters) + one quality pass + one per-cluster
    window — nothing quadratic beyond the pair graph itself.
    """
    from pyspark.sql import Window

    from .text import text_stats

    if pairs is not None:
        clusters = dup_clusters(pairs)
    else:
        clusters = dup_clusters(
            ngram_jaccard_pairs(docs, threshold, text_col, id_col))
    q = text_stats(docs, text_col, id_col).select(F.col(id_col), "quality")
    labeled = (
        docs.select(F.col(id_col))
        .join(clusters.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .join(q, id_col)
    )
    w = Window.partitionBy("cluster_id") \
        .orderBy(F.col("quality").desc(), F.col(id_col))
    return (
        labeled.withColumn("canonical_id", F.first(id_col).over(w))
        .select(F.col(id_col), "cluster_id", "canonical_id",
                (F.col(id_col) == F.col("canonical_id")).alias("keep"))
    )


def _cc_min_label(edges: DataFrame, nodes: DataFrame | None = None
                  ) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping: (a, label) where label = the smallest node id in a's
    component.

    ``edges`` must be symmetric (a, b) rows; ``nodes`` (single column
    ``a``, a superset of the edge endpoints) adds isolated vertices —
    defaults to the edge endpoints. A NULL endpoint never links.

    Small graphs (those :func:`scanprobe.driver_table` fetches in one
    bounded probe job) are labelled exactly on the driver
    (:func:`_cc_on_driver`) and always reach the fixpoint; the
    distributed loop below, which larger graphs run, raises a
    :class:`CsvPlusError` when :data:`CC_MAX_ROUNDS` rounds leave it
    short of one.

    Each iteration does (1) a neighbor-min sweep (HashToMin step) and
    (2) a pointer jump — every node re-reads the PREVIOUS round's label
    of the node its new label points at (labels are always node ids and
    only ever decrease, so the jump is well-defined and monotone; at
    the fixpoint label[label[a]] == label[a], so convergence detection
    is unaffected). Each round therefore propagates ~2 hops instead of
    1. At 100 TB each round is a full shuffle of the label table, so
    the round count IS the critical path; a deep chain component must
    not cost one shuffle per hop of diameter. Two measured refinements:
    jumping through the PREVIOUS (checkpointed) table rather than the
    current sweep keeps each round's plan a straight pipe (a self-join
    on the in-flight sweep computes the aggregation twice per round —
    slower than no jumping at all), and the jump starts at round 1 —
    at round 0 the previous table is the identity labeling, so the
    jump is a pure no-op join. Start-round A/B on the 60-bit simhash
    Hamming graph at sf0.1 (deep chains, 11 rounds plain):
    jump-from-2 4.7s, jump-from-1 3.9s, jump-from-0 3.6s; on the
    shallow ngram cluster graph (diameter ≤ 3, CC cost isolated from
    pair generation): 0.85s / 0.81s / 1.0s — jump-from-1 is the only
    setting that wins on deep graphs without taxing shallow ones.
    The edge list, read every round, is lazily checkpointed before the
    probe, so on a large graph the probe's pass over the upstream fills
    it; labels are checkpointed each round to keep lineage flat.
    """
    edges = edges.localCheckpoint(eager=False)
    small = driver_table(edges)
    if small is not None:
        return _cc_on_driver(edges, small, nodes)
    if nodes is None:
        nodes = edges.select("a").distinct()
    labels = nodes.select("a").withColumn("label", F.col("a"))
    for it in range(CC_MAX_ROUNDS):
        neighbor = (
            edges.join(labels.withColumnRenamed("a", "b")
                       .withColumnRenamed("label", "nl"), "b")
            .groupBy("a").agg(F.min("nl").alias("nl"))
        )
        stepped = labels.join(neighbor, "a", "left").select(
            "a", F.least(F.col("label"), F.coalesce("nl", "label")).alias("label")
        )
        if it >= 1:
            jump = labels.select(F.col("a").alias("label"),
                                 F.col("label").alias("__jl__"))
            stepped = (
                stepped.join(jump, "label", "left")
                .select("a",
                        F.coalesce("__jl__", F.col("label")).alias("label"))
            )
        new_labels = stepped.localCheckpoint()
        # the first sweep always changes labels on any non-trivial graph;
        # skip its convergence probe (one fewer job per call)
        if it > 0:
            changed = (
                new_labels.alias("n").join(labels.alias("o"), "a")
                .filter(F.col("n.label") != F.col("o.label")).limit(1).count()
            )
            if not changed:
                return new_labels
        labels = new_labels
    raise CsvPlusError(
        f"connected components did not converge in CC_MAX_ROUNDS="
        f"{CC_MAX_ROUNDS} rounds")


def _cc_on_driver(edges: DataFrame, small, nodes: DataFrame | None
                  ) -> DataFrame:
    """:func:`_cc_min_label` over the collected edge list ``small``:
    min-label propagation with pointer jumping on dense numpy positions
    (sorted, so the minimum position is the minimum id) until nothing
    changes. Returns a small frame with the distributed loop's schema;
    ``nodes`` is attached lazily (left join + coalesce), never
    collected."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    ids, ca, cb = _dense_ids(small.column("a"), small.column("b"))
    ok = (ca >= 0) & (cb >= 0)
    u, v = ca[ok], cb[ok]
    lab = np.arange(len(ids))
    while True:
        nl = lab.copy()
        np.minimum.at(nl, u, lab[v])
        np.minimum.at(nl, v, lab[u])
        nl = nl[nl]  # pointer jump
        if np.array_equal(nl, lab):
            break
        lab = nl
    field = edges.schema["a"]
    schema = StructType([field, StructField("label", field.dataType,
                                            field.nullable)])
    table = pa.table({"a": ids, "label": ids.take(pa.array(lab))})
    spark = edges.sparkSession
    if nodes is not None:
        return nodes.select("a").join(
            spark.createDataFrame(table, schema), "a", "left").select(
            "a", F.coalesce("label", "a").alias("label"))
    if small.column("a").null_count:  # the distributed node set has it
        null = pa.nulls(1, ids.type)
        table = pa.concat_tables([table, pa.table({"a": null,
                                                   "label": null})])
    return spark.createDataFrame(table, schema)


def dup_clusters(pairs: DataFrame, id1: str = "doc_id_1", id2: str = "doc_id_2"
                 ) -> DataFrame:
    """Connected components over the near-dup pair graph → (doc_id,
    cluster_id) with cluster_id = min doc id in the component.

    Small pair graphs are labelled on the driver after one bounded
    collect; larger ones run the standard large-graph CC shape
    (HashToMin + pointer jumping) with no driver collect of the graph
    — see _cc_min_label.
    """
    edges = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    edges = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    labels = _cc_min_label(edges)
    return labels.select(F.col("a").alias("doc_id"), F.col("label").alias("cluster_id"))


def cluster_representatives(docs: DataFrame, clusters: DataFrame,
                            score: F.Column, id_col: str = "doc_id") -> DataFrame:
    """Keep-BEST near-dup collapse: one representative per cluster by
    QUALITY instead of the min-id convention — the curation-grade
    variant (pick the longest / highest-scoring copy of each near-dup
    family, e.g. the un-truncated crawl of a page).

    ``clusters`` is ``dup_clusters`` output (doc_id, cluster_id);
    documents absent from it (no near-dup edge) are their own
    singleton clusters via the left-join coalesce. ``score`` is any
    deterministic Column over ``docs`` (n_chars, a gopher score, a
    trained quality score); ties break to the SMALLEST doc id, so the
    pick is total.

    Shape: one equi-join docs⋈clusters (clusters is output-sized) and
    ONE per-cluster window (row_number + count share the partition
    key → a single shuffle); clusters are near-dup families, i.e.
    small and numerous — the window parallelizes across them, nothing
    is corpus-global. Returns
    ``(cluster_id, rep_id, rep_score, n_members)``.
    """
    from pyspark.sql import Window

    full = (
        docs.select(F.col(id_col), score.alias("__score__"))
        .join(clusters, id_col, "left")
        .withColumn("cluster_id",
                    F.coalesce(F.col("cluster_id"), F.col(id_col)))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__score__").desc(), F.col(id_col))
    wc = Window.partitionBy("cluster_id")
    return (
        full.select(
            "cluster_id", F.col(id_col),
            F.col("__score__"),
            F.row_number().over(w).alias("__rn__"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter(F.col("__rn__") == 1)
        .select("cluster_id", F.col(id_col).alias("rep_id"),
                F.col("__score__").alias("rep_score"), "n_members")
    )


def dup_clusters_collapsed(docs: DataFrame, threshold: float = 0.6,
                           text_col: str = "text", id_col: str = "doc_id"
                           ) -> DataFrame:
    """``dup_clusters(ngram_jaccard_pairs(docs))`` with exact-duplicate
    collapse: byte-identical output, duplication-immune cost.

    On a crawl corpus a large fraction of documents are EXACT copies,
    and every copy of a doc carries the same shingle set — so the pair
    graph blows up by the duplication factor SQUARED (10 copies → ×100
    pairs; measured at the 10× validation scale: 250,600 ngram pairs
    from 25,060) while adding zero information. This is the hash-space
    trick `simhash_near_pairs`/`simhash_reps` use (dedup over DISTINCT
    simhash values), applied to the ngram family: collapse docs to one
    representative per normalized-text fingerprint (min id, the
    `exact_dedup` canonical), build the shingle pair graph and run CC
    over REPRESENTATIVES only, then expand members back with two
    output-sized equi-joins.

    Identity argument (why the output is byte-identical):
      * Jaccard depends only on the shingle SET, so J(a, b) for any
        copies a, b equals J(rep_a, rep_b) — the rep-space pair graph
        is the full graph quotiented by fingerprint, and connectivity
        quotients with it (copies are pairwise J=1 edges whenever the
        doc has ≥1 shingle).
      * cluster_id = min doc id in the full component = min over its
        fingerprints of (min member id) = min rep id in the rep-space
        component — exactly the CC label over reps.
      * membership: a doc appears in ``dup_clusters`` output iff it is
        in ≥1 pair, i.e. its rep is in a rep-space pair (a true
        near-dup) OR its fingerprint has ≥2 members with ≥1 shingle
        (the copies' own J=1 pairs).

    Scale: the collapse itself is `_exact_groups` (one fingerprint
    aggregate); everything quadratic-ish downstream (Σdf² blocking
    join, CC rounds) sees the DEDUPLICATED corpus. With duplication
    factor f the candidate volume drops ×f², the CC node set ×f.
    Equality with the uncollapsed form is pinned by
    tests/test_llm_ops.py::test_dup_clusters_collapsed_identity and
    the driver query `dedup_clusters_fast` (same oracle as
    `dedup_clusters`).
    """
    grp, members, reps = _exact_reps(docs, text_col, id_col)
    # ONE pinned shingle table, shared: ngram_jaccard_pairs and the
    # membership check below both read it instead of re-running
    # tokenize + posexplode + distinct over the reps
    sp = shingle_pairs(reps, text_col, id_col).localCheckpoint(eager=False)
    labels = dup_clusters(
        ngram_jaccard_pairs(reps, threshold, text_col, id_col,
                            shingles=sp))

    shingled = sp.select("__id__").withColumnRenamed("__id__", "__rep__") \
        .distinct()
    rep_lbl = (
        grp.select("__rep__", "__g__")
        .join(labels.withColumnRenamed("doc_id", "__rep__"),
              "__rep__", "left")
        .join(shingled.withColumn("__sh__", F.lit(True)), "__rep__", "left")
        .filter(F.col("cluster_id").isNotNull()
                | ((F.col("__g__") >= 2) & F.col("__sh__").isNotNull()))
        .select("__rep__",
                F.coalesce("cluster_id", F.col("__rep__")).alias("cluster_id"))
    )
    return (
        members.select(F.col(id_col).alias("doc_id"), "__rep__")
        .join(rep_lbl, "__rep__")
        .select("doc_id", "cluster_id")
    )


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    method: str = "grid",
    n_blocks: int | None = None,
    n_bits: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    collapse: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_1, id_2, sim) with
    cosine ≥ threshold.

    Methods (when ``block_col`` is None):
      * ``grid`` (default) — EXACT. Every vector hashes into one of
        ``n_blocks`` blocks; the B(B+1)/2 block pairs are enumerated as
        a tiny broadcast grid, and the comparison space is covered by
        ONE equi-join on (bi, bj). Same O(n²) comparisons as all-pairs
        (unavoidable for exact recall at an arbitrary threshold — the
        qualifying sims can sit at the decision boundary), but the work
        is spread evenly over B(B+1)/2 independent tasks with a shuffle
        hash join instead of one BroadcastNestedLoopJoin that ships the
        whole table to every executor. Replication factor is B+1 per
        side; raise ``n_blocks`` with cluster size (528 tasks at B=32).
      * ``lsh`` — sub-quadratic: candidates share a sign-LSH bucket in
        at least one of ``n_tables`` tables of ``n_bits`` md5-derived
        hyperplanes (similarity.hyperplane_bits), then exact cosine
        rerank. Deterministic (no runtime RNG) but approximate in
        recall: a qualifying pair in no shared bucket is not returned.
        Use for true near-dup thresholds (≥0.8) where per-bit collision
        probability 1−θ/π makes misses vanish; the only shuffle is the
        (table, bucket) equi-join.
      * ``allpairs`` — the naive theta join (opt-in; small inputs only).

    With ``block_col`` set, pairs are restricted to equal user-provided
    blocks (equi-join on the block key).

    ``collapse`` (resolved by :func:`scanprobe.collapse_wanted`)
    applies the exact-duplicate collapse of :func:`semantic_dedup` /
    :func:`simhash_near_pairs` to the ``grid`` and ``lsh`` paths:
    identical vectors share every grid block comparison outcome and
    every LSH bucket (both depend only on the vector values), and
    cosine is a pure function of the two vectors — so the quadratic
    stages (BLAS prefilter, candidate distinct, exact rescore) run
    over one min-id representative per distinct vector, and the result
    is expanded back to id pairs through the membership table
    (cross-group pairs via two rep-keyed joins, intra-group pairs
    rescored ONCE per group with the same sim expression). Output is
    byte-identical to the uncollapsed form at any duplication factor,
    while candidate volume drops from O((n·f)²) to O(n²) +
    output-sized expansion — at duplication factor f the per-pair
    shuffle and fold work shrinks by f². Vectors without a finite
    positive norm (NULL / NULL-element / zero-norm / NaN / Inf) never
    collapse (see _vector_fp). Pinned by
    test_embedding_collapsed_identity.

    ``grid`` and ``lsh`` score their blocks with similarity's BLAS
    candidate kernel and exact rescore (its module docstring), so
    their pairs and sims — NaN ones included — are those of
    ``allpairs``; ``lsh`` may only miss pairs.
    """
    from .similarity import (_near_candidates, _rescore, cosine,
                             hyperplane_bits, with_double_vec)

    # r13 (guide §2.5): fan out before the per-vector hyperplane /
    # grid-cell folds — the embeddings parquet reads as 1-2 row groups
    # at bench scales, so the bit/cell computation otherwise runs on
    # 1-2 cores (see similarity.seed_voronoi_distances). r14: gated by
    # scanprobe — a tiny input keeps the scan's own partitioning.
    v = keyed_fan_out(
        with_double_vec(emb, vec_col).select(
            F.col(id_col), F.col("__vec__"),
            *([F.col(block_col)] if block_col else [])),
        id_col)

    if block_col is not None or method == "allpairs":
        a, b = v.alias("a"), v.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        if block_col:
            cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        return (
            a.join(b, cond)
            .withColumn("sim", cosine(F.col("a.__vec__"), F.col("b.__vec__")))
            .filter(F.col("sim") >= threshold)
            .select(F.col(f"a.{id_col}").alias("id_1"),
                    F.col(f"b.{id_col}").alias("id_2"), "sim")
        )

    if method not in ("grid", "lsh"):
        raise ValueError(f"unknown method: {method!r}")
    # exact-duplicate collapse (see docstring): run the quadratic
    # stages over one rep per distinct vector, expand at the end.
    # Rows without a finite positive norm stay singletons (see
    # _vector_fp).
    collapse = collapse_wanted(emb, collapse=collapse)
    if collapse:
        # grp feeds the method pipeline, the membership join AND the
        # intra-group self-sim; members feeds both expansion joins —
        # both pinned lazily so the fingerprint pass runs once
        grp, members = _exact_groups(v, _vector_fp(id_col), id_col,
                                     "__vec__", pin=True)
        v = grp.select(F.col("__rep__").alias(id_col), "__vec__")

    def expand(rp: DataFrame) -> DataFrame:
        """The rep pairs ``rp`` back in id space, when collapsed."""
        if not collapse:
            return rp
        vec = F.col("__vec__")
        return _expand_pairs(rp, members, id_col, grp, cosine(vec, vec),
                             F.col("sim") >= threshold)

    if method == "lsh":
        planes = F.array(*[
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_bits(F.col("__vec__"), dim, n_bits,
                                plane_offset=t * n_bits).alias("bucket"),
            )
            for t in range(n_tables)
        ])
        # candidates carry IDs only — shipping the vectors through the
        # bucket join + distinct would multiply shuffle payload by the
        # vector width; they are joined back just for the rerank.
        # The narrow (id, tbl, bucket) table is pinned with
        # localCheckpoint so the self-join folds each hyperplane ONCE:
        # re-measured at sf0.1 (r3) the checkpoint wins 5.8-7.5s vs
        # 7.5-12.8s recompute — superseding the r2 note that a cache
        # barrier lost; checkpoint materializes n_tables rows/vec of
        # three longs, negligible at any scale
        bt = (
            v.select(F.col(id_col), F.explode(planes).alias("tb"))
            .select(F.col(id_col),
                    F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
            .localCheckpoint()
        )
        # per-BUCKET BLAS candidates, exact rescore (similarity's
        # shared recipe): each (tbl, bucket) group scores ALL its pairs
        # in one numpy matmul, so vectors ship once per bucket
        # MEMBERSHIP (n_tables rows/vec) instead of once per
        # CANDIDATE. On template corpora where candidates approach a
        # constant fraction of all pairs (measured 41% at sf0.1), the
        # old shape — candidate-id joins pulling both vectors, then one
        # interpreted fold per pair — shuffled |cand|·2·dim doubles and
        # ran |cand| interpreted folds; this shape's shuffle is
        # n·n_tables vector rows and the folds run only on the
        # candidates (output-sized). A pathological hot bucket still
        # costs |bucket|² BLAS compute — inherent to LSH candidate
        # volume, not this layout.
        id_dt = v.schema[id_col].dataType.simpleString()

        def _bucket(pdf):
            return _near_candidates(threshold, (pdf[id_col], pdf["__vec__"]))

        cand = (
            bt.join(v.select(F.col(id_col), "__vec__"), id_col)
            .groupBy("tbl", "bucket")
            .applyInPandas(_bucket, f"id_1 {id_dt}, id_2 {id_dt}")
            .distinct()
        )
        rp = _rescore(cand, v).filter(F.col("sim") >= threshold)
        return expand(rp)

    spark = emb.sparkSession
    if n_blocks is None:
        # size blocks for the Arrow matmul: ~1k vectors per block keeps
        # each cell one efficient BLAS call (1k×1k×8B = 8 MB scores)
        # while bounding per-task memory; the count is one narrow job.
        # Count the WORKING set (reps when collapsed — r13 ADVICE: the
        # raw count sized the grid for n·f rows while only the reps
        # enter the cells, inflating replication on duplicate-heavy
        # corpora; n_blocks affects layout only, never the pair set)
        n = v.count()
        n_blocks = max(4, min(1024, -(-n // 1024)))
    grid = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int")
    vb = v.withColumn(
        "__blk__", (hash60(F.col(id_col).cast("string")) % n_blocks).cast("int"))
    left = vb.join(F.broadcast(grid), F.col("__blk__") == F.col("bi")) \
        .select(F.col(id_col).alias("__id1__"), F.col("__vec__").alias("__v1__"),
                "bi", "bj")
    # separate grid instance + rename, so left/right stay unambiguous
    # to the analyzer in the cogroup below
    grid_r = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi2 int, bj2 int")
    right = vb.join(F.broadcast(grid_r), F.col("__blk__") == F.col("bj2")) \
        .select(F.col(id_col).alias("__id2__"), F.col("__vec__").alias("__v2__"),
                F.col("bi2").alias("bi"), F.col("bj2").alias("bj"))

    # grid (default): each grid cell's |bi|×|bj| block is scored by
    # similarity's BLAS kernel inside a cogrouped applyInPandas (Arrow
    # transfer, ~100× the throughput of per-pair interpreted folds),
    # and the exact rescore makes the output — values included —
    # bit-identical to allpairs and the DuckDB oracle
    id_dt = v.schema[id_col].dataType.simpleString()

    def _cell(key, lpdf, rpdf):
        # a diagonal cell holds the same vectors on both sides
        return _near_candidates(
            threshold, (lpdf["__id1__"], lpdf["__v1__"]),
            None if key[0] == key[1] else (rpdf["__id2__"], rpdf["__v2__"]))

    cand = (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(_cell, f"id_1 {id_dt}, id_2 {id_dt}")
    )
    rp = _rescore(cand, v).filter(F.col("sim") >= threshold)
    return expand(rp)


def _simhash_blocks(grp: DataFrame, max_hamming: int,
                    n_bits: int) -> DataFrame:
    """``(doc_id_1, doc_id_2, hamming)``: the representatives of every
    unordered pair of DISTINCT simhashes within ``max_hamming`` — the
    pair graph of :func:`simhash_near_pairs` and :func:`simhash_reps`
    over ``grp``, an :func:`_exact_groups` collapse keyed by the hash.

    Chunk blocking (pigeonhole): the ``n_bits`` hash is split into
    ``max_hamming + 1`` contiguous chunks; two hashes within Hamming
    distance h ≤ max_hamming differ in at most h chunks, so AT LEAST
    ONE chunk is bitwise equal — candidates are exactly the pairs that
    collide on some (chunk_id, chunk_value), found by ONE equi-join,
    then verified with bit_count(xor). 100% recall by construction, no
    nested-loop join; the only shuffle is keyed by (chunk, value),
    which is near-uniform because simhash bits are hash votes. The
    join and its dedup run over distinct hashes, not docs: Hamming
    depends only on the hash, so duplicate-text docs (Hamming 0) are
    one node and the candidate volume shrinks by the square of the
    duplication factor (271k doc-pairs vs 13.5k hash-pairs on the
    sf0.1 template corpus)."""
    n_chunks = max_hamming + 1
    base, rem = divmod(n_bits, n_chunks)
    pieces, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        pieces.append(
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("__fp__"), off)
                .bitwiseAND(F.lit((1 << w) - 1)).alias("val"),
            ))
        off += w
    t = (
        grp.select("__fp__", "__rep__", F.explode(F.array(*pieces)).alias("c"))
        .select("__fp__", "__rep__",
                F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    )
    return (
        t.alias("a")
        .join(t.alias("b"),
              (F.col("a.chunk") == F.col("b.chunk"))
              & (F.col("a.val") == F.col("b.val"))
              & (F.col("a.__fp__") < F.col("b.__fp__")))
        .select(F.col("a.__rep__").alias("doc_id_1"),
                F.col("b.__rep__").alias("doc_id_2"),
                F.bit_count(F.col("a.__fp__").bitwiseXOR(F.col("b.__fp__")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       text_col: str = "text", id_col: str = "doc_id",
                       n_bits: int = 60,
                       max_pairs_per_group: int | None = None) -> DataFrame:
    """EXACT near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Default is the 60-bit hash: at 32 bits, template-heavy corpora
    collide so densely that the OUTPUT itself is data-quadratic
    (≈n²/6 pairs on the driver's template docs — docs/SCALE.md), which
    no blocking can fix; 60 bits is discriminating and keeps the pair
    set output-sized. Pass ``n_bits=32`` only for legacy comparison.
    For corpus-scale runs prefer :func:`simhash_reps` — linear output
    (one representative per near-dup cluster), the 100 TB entry point.

    ``max_pairs_per_group`` bounds the one remaining quadratic term:
    duplicate-text docs share a simhash, so a duplication-factor-f
    corpus yields C(f,2) Hamming-0 pairs per duplicate family (72× per
    10× measured at sf10 — docs/SCALE.md). With a cap set, any
    same-hash group whose full expansion would exceed it emits the
    STAR instead (min-id rep paired with every other member, g−1
    rows), and any cross-hash group pair whose g1·g2 expansion would
    exceed it emits the single rep–rep bridge row. Connectivity is
    preserved exactly — same-hash groups are Hamming-0 cliques and the
    star spans them, so the connected components (what pair consumers
    build) are identical — while output drops from O(f²) to O(n).
    ``None`` (default) keeps the full pair contract.

    Shape: docs collapse to one node per distinct simhash
    (:func:`_exact_groups`), the chunk-blocked pair graph runs over
    those nodes (:func:`_simhash_blocks`), and the verified hash pairs
    expand back to doc pairs (:func:`_expand_pairs`: same-hash intra
    pairs at Hamming 0 plus cross-hash pairs via two rep-keyed joins)
    — output-sized work, with the expensive pair dedup on the small
    hash-pair set instead of the doc-pair set.
    """
    from .text import simhash_table

    # narrow (id, simhash) table computed ONCE: read by the node set
    # and the membership join — one row per doc, 16 bytes wide, safe
    # to pin at any scale; grp and members are pinned for the blocking
    # self-join and the expansion joins that read them twice
    sh = simhash_table(df, text_col, id_col, n_bits).localCheckpoint()
    grp, members = _exact_groups(sh, F.col("simhash"), id_col, pin=True)
    rp = _simhash_blocks(grp, max_hamming, n_bits)
    zero = F.lit(0)
    if max_pairs_per_group is None:
        return _expand_pairs(rp, members, id_col, grp, zero)
    # capped expansion: every branch below is output-bounded — full
    # pairs only where the group (pair) fits the cap, star/bridge rows
    # elsewhere — so the materialized pair set is O(n + hash_pairs)
    # at ANY duplication factor
    cap = int(max_pairs_per_group)
    big = (F.col("__g__") * (F.col("__g__") - 1)) / 2 > cap
    hp = rp
    for c, g in (("doc_id_1", "__g1__"), ("doc_id_2", "__g2__")):
        hp = hp.join(grp.select(F.col("__rep__").alias(c),
                                F.col("__g__").alias(g)), c)
    wide = F.col("__g1__") * F.col("__g2__") > cap
    full = _expand_pairs(hp.filter(~wide).select(*rp.columns), members,
                         id_col, grp.filter(~big), zero)
    star = (
        members.join(grp.filter(big).select("__rep__"), "__rep__")
        .filter(F.col(id_col) != F.col("__rep__"))
        .select(F.col("__rep__").alias("doc_id_1"),  # rep = min id < id
                F.col(id_col).alias("doc_id_2"), zero.alias("hamming"))
    )
    bridge = hp.filter(wide).select(
        F.least("doc_id_1", "doc_id_2").alias("doc_id_1"),
        F.greatest("doc_id_1", "doc_id_2").alias("doc_id_2"), "hamming")
    return full.unionByName(star).unionByName(bridge)


def simhash_reps(df: DataFrame, max_hamming: int = 3,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_bits: int = 60) -> DataFrame:
    """Scale-honest SimHash dedup output: ONE (doc, representative) row
    per document instead of the near-pair list.

    At Hamming ≤ h a pair list is worst-case quadratic in cluster size
    (a template corpus where 17% of ALL pairs qualify at 32 bits makes
    the answer itself ~n²/6 — no plan survives materializing that at
    100 TB). The linear-size contract: connected components over the
    chunk-blocked pair graph, each doc labelled with its component's
    min id; singletons are their own representative. Downstream dedup
    is then ``filter(doc_id == rep_id)`` — same information, O(n) rows.

    Defaults to the 60-bit hash (all of md5's ``hash60``), which is
    discriminating at Hamming ≤ 3 even on template-heavy corpora —
    ``simhash_near_pairs`` shares the 60-bit default; its 32-bit width
    is opt-in legacy for existing small-corpus fingerprint tables.

    Shape: Hamming depends only on the hash, so the component graph is
    built over DISTINCT simhash values — duplicate-text docs (Hamming
    0) collapse into one node before the self-join, cutting both the
    candidate volume and the CC edge set by the square of the
    duplication factor (measured 271k doc-pairs → 13.5k hash-pairs
    over 3,812 distinct hashes at sf0.1). Each node is its hash's
    min-id representative, so CC labels over the representatives ARE
    doc ids: the min over a component of (min doc per hash) is the min
    doc id in the component. Docs pick up their representative's label
    with one final join.
    """
    from .text import simhash_table

    # computed once, read twice (node aggregation + membership join)
    sh = simhash_table(df, text_col, id_col, n_bits).localCheckpoint()
    # reused by the self-join, the CC loop and the final join
    grp, members = _exact_groups(sh, F.col("simhash"), id_col, pin=True)
    hedges = _simhash_blocks(grp, max_hamming, n_bits).select(
        F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b"))
    labels = _cc_min_label(
        hedges.union(hedges.select(F.col("b").alias("a"),
                                   F.col("a").alias("b"))),
        grp.select(F.col("__rep__").alias("a")))
    return members.join(
        labels.withColumnsRenamed({"a": "__rep__", "label": "rep_id"}),
        "__rep__").select(F.col(id_col), "rep_id")


def snapshot_diff(current: DataFrame, previous: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus snapshot diff: classify every doc id across two crawl
    snapshots as added / removed / changed / unchanged — the audit
    companion to :func:`incremental_dedup` (which ADMITS new content;
    this REPORTS what moved between two already-persisted snapshots).

    Identity is the doc id; content identity is the same normalized-
    text md5 fingerprint every other admission path uses (exact_dedup,
    incremental_dedup, stream_dedup), so "changed" means the text
    differs after whitespace/case normalization — a re-crawled page
    with only cosmetic whitespace drift counts as unchanged.

    Returns (doc_id, status, fp_current, fp_previous); removed docs
    carry a NULL fp_current, added docs a NULL fp_previous.

    Scale: one full-outer equi-join keyed by doc id over two narrow
    (id, fingerprint) projections — both sides reduce to 40-ish bytes
    per doc before the shuffle; no windows, no collects, status is one
    codegen CASE.
    """
    from .text import fingerprint

    # presence is tracked by explicit flags, NOT fingerprint nullness:
    # a NULL-text doc has a NULL fingerprint while being genuinely
    # present, and must not masquerade as added/removed (review r6);
    # fp comparison is null-safe for the same reason (NULL text in
    # both snapshots = unchanged)
    cur = current.select(F.col(id_col), fingerprint(text_col).alias("fp_current"),
                         F.lit(True).alias("__in_cur__"))
    prev = previous.select(F.col(id_col), fingerprint(text_col).alias("fp_previous"),
                           F.lit(True).alias("__in_prev__"))
    j = cur.join(prev, id_col, "full_outer")
    status = (
        F.when(F.col("__in_prev__").isNull(), F.lit("added"))
        .when(F.col("__in_cur__").isNull(), F.lit("removed"))
        .when(F.col("fp_current").eqNullSafe(F.col("fp_previous")),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"),
                    "fp_current", "fp_previous")


def minhash_join(left: DataFrame, right: DataFrame,
                 threshold: float = 0.6, num_hashes: int = 32,
                 rows_per_band: int = 2, text_col: str = "text",
                 id_col: str = "doc_id",
                 collapse: bool | None = None) -> DataFrame:
    """Fuzzy CROSS-TABLE join by MinHash-LSH: near-duplicate pairs
    (left_id, right_id, jaccard ≥ threshold) between two corpora —
    aligning a new crawl snapshot against the previous one without
    shared ids, matching docs to a reference set, linking translated /
    re-hosted variants. The dedup family's machinery applied across
    tables: per-side signatures (text-only, so each side is one
    narrow pass), band equi-join LEFT×RIGHT (never a nested loop),
    exact cross-table Jaccard verify on the candidates.

    Same S-curve guarantees as :func:`minhash_dedup_pairs`; same
    determinism (md5 universal hashes). Output is directional —
    (left, right) — and a pair appears once. Scale: both band tables
    shuffle once on (band, sig); candidate volume is governed by true
    cross-corpus similarity, not |L|·|R|.

    ``collapse`` (resolved over both sides by
    :func:`scanprobe.collapse_wanted`) collapses each side to one
    representative per normalized-text fingerprint, joins the reps,
    and expands the verified rep pairs through both membership tables
    with output-sized joins: byte-identical output, duplication-immune
    cost (at duplication factors f_L, f_R the plain join's candidate
    AND output volumes grow ×(f_L·f_R)). Identity: signatures and exact
    Jaccard depend only on the text, so (a, b) is a plain-path pair
    iff (rep_a, rep_b) is a rep-space pair with the same jaccard —
    including identical-text cross-table pairs, whose reps collide in
    every band (J = 1.0) when the text has ≥1 shingle; shingle-free
    docs never reach banding in EITHER path. Pinned by
    test_minhash_join_collapsed_identity and `fuzzy_join_fast`.
    """
    collapse = collapse_wanted(left, right, collapse=collapse)
    if collapse:
        _, ml, left = _exact_reps(left, text_col, id_col, pin=True)
        _, mr, right = _exact_reps(right, text_col, id_col, pin=True)
    # a collapsed side is the output of its reps join, already
    # partitioned by id — no fan-out (see shingle_pairs)
    exl, exr = (shingle_pairs(side, text_col, id_col, fan_out=not collapse)
                .localCheckpoint(eager=False) for side in (left, right))
    bl, br = (minhash_bands(minhash_signatures(side, num_hashes, pairs=ex),
                            rows_per_band)
              for side, ex in ((left, exl), (right, exr)))
    cand = (
        bl.alias("a")
        .join(br.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.sig") == F.col("b.sig")))
        .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
        .distinct()
    )
    pairs = _verify_jaccard(exl, cand, threshold, exr).select(
        F.col("doc_id_1").alias("left_id"),
        F.col("doc_id_2").alias("right_id"), "jaccard")
    if not collapse:
        return pairs
    ml, mr = (m.select(F.col("__rep__").alias("__r__"),
                       F.col(id_col).alias("__m__")) for m in (ml, mr))
    return (
        pairs
        .join(ml.alias("ma"), F.col("left_id") == F.col("ma.__r__"))
        .join(mr.alias("mb"), F.col("right_id") == F.col("mb.__r__"))
        .select(F.col("ma.__m__").alias("left_id"),
                F.col("mb.__m__").alias("right_id"), "jaccard")
    )


def edit1_value_pairs(df: DataFrame, col: str) -> DataFrame:
    """Edit-distance-≤1 pairs over the DISTINCT values of a short-string
    column (names, titles, codes) via DELETION-NEIGHBORHOOD hashing
    (the SymSpell/FastSS trick): each value emits itself plus every
    single-character-deletion variant as join keys; two strings within
    one edit ALWAYS share a key (equal → the identity key; substitution
    at i → both delete i; insert/delete → the longer's deletion equals
    the shorter), so the candidate join is an EQUI-join on short keys —
    never an all-pairs levenshtein. Candidates are then verified with
    the exact levenshtein (identical integer DP in Spark and DuckDB).

    Runs in VALUE space (one row per distinct string): a column where
    one value repeats a million times contributes one node, not 10¹²
    pairs — join back to rows by value afterwards if row pairs are
    wanted. Keys per value = length+1, so this is for short fields;
    long-text near-dup belongs to the shingle/MinHash family.

    Returns (value_1, value_2, dist) with value_1 < value_2.
    """
    v = df.select(F.col(col).cast("string").alias("s")) \
        .filter(F.col("s").isNotNull()).distinct()
    # Spark sequence(1, 0) DESCENDS (NOTES trap) — guard empty strings
    dels = F.expr(
        "CASE WHEN length(s) < 1 THEN array() "
        "ELSE transform(sequence(1, length(s)), "
        "i -> concat(substring(s, 1, i-1), substring(s, i+1, length(s)))) "
        "END")
    keys = v.select(
        "s", F.explode(F.concat(F.array(F.col("s")), dels)).alias("k"))
    cand = (keys.alias("a")
            .join(keys.alias("b"),
                  (F.col("a.k") == F.col("b.k"))
                  & (F.col("a.s") < F.col("b.s")))
            .select(F.col("a.s").alias("value_1"),
                    F.col("b.s").alias("value_2"))
            .distinct())
    dist = F.levenshtein(F.col("value_1"), F.col("value_2"))
    return (cand.filter(dist <= 1)
            .select("value_1", "value_2", dist.cast("int").alias("dist")))
