"""LLM-pipeline operators: text analysis, dedup family, similarity."""

import gc
import math
import os
import pathlib
import re
import time

import pytest
from pyspark.sql import functions as F

from csvplus_spark import load_table
from csvplus_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from csvplus_spark.operators.similarity import brute_force_topk, lsh_topk
from csvplus_spark.operators.text import lang_id, simhash_table, text_stats


@pytest.fixture
def graph_paths(monkeypatch):
    """Iterate a test body over both connected-components / PageRank
    paths: the driver finish, then the distributed Spark loop
    (``scanprobe.DRIVER_MAX_ROWS = -1`` sends even an empty edge list
    there). A loop rather than parametrize keeps each test's id
    unchanged."""
    from csvplus_spark.operators import scanprobe

    def paths():
        for name, limit in (("driver", scanprobe.DRIVER_MAX_ROWS),
                            ("distributed", -1)):
            monkeypatch.setattr(scanprobe, "DRIVER_MAX_ROWS", limit)
            yield name
    return paths


def _persisted(spark) -> set:
    """Ids of the RDDs the session holds persisted blocks for, read as
    a string on the JVM side. ``getPersistentRDDs()`` would hand
    Python a fresh JVM map holding every persisted RDD, which py4j
    frees only when its finalizer thread (idle sleep 1 s) gets to it,
    so each poll's map could keep the checkpoints alive through the
    next JVM GC and the poll would never see them freed."""
    ids = spark.sparkContext._jsc.sc().persistentRdds().keySet() \
        .mkString(",")
    return {int(i) for i in ids.split(",") if i}


def _leftover(spark, before: set, timeout_s: float = 30.0) -> set:
    """Persisted RDDs outside ``before`` once Python and the JVM have
    collected their garbage, so Spark's ContextCleaner can free the
    blocks of every checkpoint no live frame reads; polls up to
    ``timeout_s``. Each poll runs a one-row job first: the RDD graph of
    the last job run can stay reachable inside Spark until a later job
    runs (seen after triangle_count). Empty when the persisted set is
    back at its baseline."""
    deadline = time.monotonic() + timeout_s
    while True:
        spark.range(1).count()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        left = _persisted(spark) - before
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.25)


def _collapse_identical(op, *label):
    """``op(collapse)`` for collapse True, False and None (the gate's
    choice), asserted equal; returns the plain (False) result."""
    got = {c: op(c) for c in (True, False, None)}
    assert got[True] == got[False] == got[None], \
        (label, [c for c in got if got[c] != got[False]])
    return got[False]


def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "The cat, and the dog! of a tiny house nearby here.")], ["doc_id", "text"])
    row = text_stats(df).collect()[0]
    assert row["n_tokens"] == 11
    assert row["lang_pred"] == "en"
    assert 0 < row["punct_ratio"] < 0.1
    assert row["quality"] >= 0.75
    assert len(row["fingerprint"]) == 32


def test_lang_id_tiebreak_and_unknown(spark):
    df = spark.createDataFrame([("zz qq ww",), ("el que de la y",)], ["text"])
    got = [r[0] for r in df.select(lang_id("text")).collect()]
    assert got == ["und", "es"]


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    )
    # whitespace+case normalization → 1 and 2 share a fingerprint
    got = {r["doc_id"]: (r["canonical_id"], r["is_canonical"]) for r in exact_dedup(df).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (3, True)}


def test_minhash_matches_exact_ngram(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").df
    exact = {(r[0], r[1]) for r in ngram_jaccard_pairs(docs, 0.6).collect()}
    mh = {(r[0], r[1]) for r in minhash_dedup_pairs(docs, 0.6).collect()}
    assert exact, "generator should plant near-dups"
    assert mh == exact  # 32 single-hash bands → miss prob ~1e-13


def test_ngram_prefix_filter_survives_hot_shingle(spark):
    # one stop-trigram shared by EVERY doc: naive shared-shingle
    # blocking makes a single n² bucket; prefix filtering must push the
    # hot shingle out of the prefixes AND still find every true pair
    hot = "lorem ipsum dolor"
    docs = [(i, f"{hot} unique{i} tail{i} words{i} more{i}") for i in range(40)]
    docs += [(100, f"{hot} shared body of near duplicate text one two"),
             (101, f"{hot} shared body of near duplicate text one three")]
    # hot-heavy docs: their ONLY shingle is the stop trigram — reachable
    # exclusively through the hot-heavy fallback
    docs += [(200, hot), (201, hot)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, 0.6, hot_df=10).collect()}
    # brute-force oracle in python
    import itertools

    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    expect = {}
    for (i1, t1), (i2, t2) in itertools.combinations(docs, 2):
        a, b = sh(t1), sh(t2)
        j = len(a & b) / len(a | b)
        if j >= 0.6:
            expect[(min(i1, i2), max(i1, i2))] = j
    assert set(got) == set(expect) and expect
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-12


def test_contamination_check(spark):
    from csvplus_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated corpus text here today"),
         (3, "quick brown fox appears again in this doc")],
        ["doc_id", "text"])
    probes = spark.createDataFrame(
        [(100, "watch the quick brown fox run")], ["probe_id", "text"])
    got = {(r["doc_id"], r["probe_id"]): r["n_shared"]
           for r in contamination_check(corpus, probes).collect()}
    # docs 1 and 3 share the 'quick brown fox' trigram; doc 2 is clean
    assert (1, 100) in got and (3, 100) in got
    assert not any(d == 2 for d, _ in got)


def test_canonicalize_keeps_best_quality(spark):
    from csvplus_spark.operators.dedup import canonicalize_clusters

    good = ("a genuinely long and well formed document about foxes "
            "jumping over dogs in the quiet countryside every day")
    near = good + " extra"
    df = spark.createDataFrame(
        [(1, "x!!"), (2, good), (3, near), (4, "solo doc standing alone "
                                              "with plenty of fine words")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in canonicalize_clusters(df, threshold=0.6).collect()}
    # 2 and 3 cluster; survivor is deterministic (equal quality → min id)
    assert rows[2]["cluster_id"] == rows[3]["cluster_id"]
    assert rows[2]["canonical_id"] == rows[3]["canonical_id"] == 2
    assert rows[2]["keep"] and not rows[3]["keep"]
    # singletons survive as themselves
    assert rows[1]["keep"] and rows[1]["cluster_id"] == 1
    assert rows[4]["keep"] and rows[4]["canonical_id"] == 4


def test_build_training_set_stages(spark):
    from csvplus_spark.operators.pipeline import build_training_set

    good = ("a genuinely long and well formed document about foxes "
            "jumping over dogs in the quiet countryside every day")
    docs = spark.createDataFrame(
        [(1, "x!!"),                      # fails quality
         (2, good), (3, good),            # exact dups → min id survives
         (4, good + " extra"),            # near-dup of 2 → loses (same q, higher id)
         (5, "a separate perfectly fine document describing ships and "
             "harbors with many calm words written plainly for reading"),
         (6, "the benchmark sentence we must never train on appears here "
             "inside this document verbatim today unfortunately for it")],
        ["doc_id", "text"])
    probes = spark.createDataFrame(
        [(100, "the benchmark sentence we must never train on")],
        ["probe_id", "text"])
    out = {r["doc_id"]: r["split"]
           for r in build_training_set(docs, probes).collect()}
    assert set(out) == {2, 5}  # 1 quality, 3 exact-dup, 4 near-dup, 6 contaminated
    assert all(s in ("train", "val", "test") for s in out.values())
    # deterministic end to end
    again = {r["doc_id"]: r["split"]
             for r in build_training_set(docs, probes).collect()}
    assert again == out

    # r9: with_centrality appends the graph-after-dedup PageRank
    # feature (the pagerank_reps shape) — same survivors and splits,
    # plus a centrality column. Survivor 2 had a near-dup (doc 4) in
    # the post-exact-dedup graph, so it ranks >0; isolated 5 ranks 0.
    cent = {r["doc_id"]: (r["split"], r["centrality"])
            for r in build_training_set(docs, probes,
                                        with_centrality=True).collect()}
    assert {k: v[0] for k, v in cent.items()} == out
    assert cent[2][1] > 0.0   # hub of its near-dup pair
    assert cent[5][1] == 0.0  # no near-dup edges → no rank
    # deterministic: the integer trajectory repeats exactly
    cent2 = {r["doc_id"]: (r["split"], r["centrality"])
             for r in build_training_set(docs, probes,
                                         with_centrality=True).collect()}
    assert cent2 == cent


def test_write_training_shards(spark, sf_dir, tmp_path):
    from csvplus_spark.operators.pipeline import write_training_shards
    from csvplus_spark.operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents").df
    labeled = train_val_test_split(docs.select("doc_id", "lang"), "doc_id")
    out = str(tmp_path / "shards")
    write_training_shards(labeled, out, n_shards=4)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # layout: split/shard directory partitions exist and prune
    one = spark.read.parquet(out).filter("split = 'train' AND shard = 2")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # deterministic: same doc always lands in the same shard on rewrite
    a = {r["doc_id"]: r["shard"] for r in back.select("doc_id", "shard").collect()}
    write_training_shards(labeled, out, n_shards=4)
    b = {r["doc_id"]: r["shard"]
         for r in spark.read.parquet(out).select("doc_id", "shard").collect()}
    assert a == b


def test_simhash_deterministic_and_near(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "totally unrelated words qqq zzz")],
        ["doc_id", "text"],
    )
    h1 = {r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()}
    h2 = {r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()}
    assert h1 == h2  # no runtime randomness
    pairs = simhash_near_pairs(df, max_hamming=8).collect()
    got = {(r["doc_id_1"], r["doc_id_2"]) for r in pairs}
    assert (1, 2) in got and (1, 3) not in got


def test_embedding_grid_matches_allpairs(spark, sf_dir):
    from csvplus_spark.operators.dedup import embedding_near_pairs

    emb = load_table(spark, sf_dir, "embeddings").df
    naive = {(r["id_1"], r["id_2"], r["sim"])
             for r in embedding_near_pairs(emb, 0.4, method="allpairs").collect()}
    # the BLAS-prefiltered grid: identical pairs and bit-identical sims
    # vs the naive reference
    got = {(r["id_1"], r["id_2"], r["sim"])
           for r in embedding_near_pairs(emb, 0.4, method="grid").collect()}
    assert got == naive and got


def _nan_safe(rows):
    """Result rows as a sorted list, NaN spelled ``"nan"``: NaN never
    equals itself, so two identical outputs would compare unequal."""
    return sorted((tuple("nan" if isinstance(x, float) and math.isnan(x)
                         else x for x in r) for r in rows), key=repr)


def _edge_vectors(spark):
    """Ordinary 3-d vectors beside NULL, NULL-element, zero, NaN, +Inf
    and -Inf vectors, each of those twice."""
    nan, inf = float("nan"), float("inf")
    odd = [None, [None, 1.0, 0.0], [0.0, 0.0, 0.0], [nan, 0.0, 0.0],
           [inf, 0.0, 0.0], [0.0, -inf, 1.0]]
    plain = [[1.0, 0.0, 0.0], [0.9, 0.1, 0.0], [0.0, 1.0, 0.0],
             [0.5, 0.5, 0.1], [-1.0, 0.2, 0.0], [0.2, 0.3, 0.9],
             [0.1, 0.9, 0.2], [0.0, 0.1, 1.0]]
    rows = [(i, v) for i, v in enumerate(plain)] + [
        (100 + 10 * i + t, v) for i, v in enumerate(odd) for t in range(2)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_edge_vectors_match_allpairs(spark):
    """On NULL, NULL-element, zero, NaN and ±Inf vectors the BLAS
    candidate paths agree with the fold-cosine reference forms: the
    rescore, not the prefilter, decides every NaN and NULL sim. ``grid``
    equals ``allpairs`` (NaN pairs included, since NaN passes Spark's
    ``sim >= threshold``), and every ``lsh`` pair is an
    ``allpairs`` pair with its exact sim."""
    from csvplus_spark.operators.dedup import embedding_near_pairs

    emb = _edge_vectors(spark)

    def pairs(**kw):
        return _nan_safe(embedding_near_pairs(emb, 0.4, dim=3, **kw)
                         .select("id_1", "id_2", "sim").collect())

    naive = pairs(method="allpairs")
    assert any(s == "nan" for _, _, s in naive)
    for kw in ({}, {"n_blocks": 2}, {"collapse": True}):
        assert pairs(**kw) == naive, kw
    for c in (False, True):
        lsh = pairs(method="lsh", collapse=c)
        assert lsh and set(lsh) <= set(naive) \
            and len(set(lsh)) == len(lsh), c


def test_grid_topk_null_vectors(spark):
    """A NULL vector among the queries and the corpus: grid_topk does
    not raise, gives the NULL query no rows, and every other query the
    rows of brute_force_topk — including the zero, NaN and Inf queries
    and corpus vectors, whose non-finite BLAS cosines go to the
    rescore."""
    from csvplus_spark.operators.similarity import (brute_force_topk,
                                                    grid_topk)

    emb = _edge_vectors(spark).filter(
        (F.col("vec_id") < 100) | (F.col("vec_id") % 10 == 0))
    for k, excl in ((5, True), (2, False)):
        want = _nan_safe(r for r in brute_force_topk(
            emb, emb, k=k, exclude_self=excl).collect()
            if r["query_id"] != 100)
        got = grid_topk(emb, emb, k=k, n_blocks=2,
                        exclude_self=excl).collect()
        assert _nan_safe(got) == want, (k, excl)


def test_embedding_lsh_is_exact_subset(spark, sf_dir):
    from csvplus_spark.operators.dedup import embedding_near_pairs

    emb = load_table(spark, sf_dir, "embeddings").df
    naive = {(r["id_1"], r["id_2"]): r["sim"]
             for r in embedding_near_pairs(emb, 0.4, method="allpairs").collect()}
    lsh = embedding_near_pairs(emb, 0.4, method="lsh").collect()
    assert lsh, "bucketing should recover some near pairs"
    for r in lsh:  # every LSH pair is a true pair with the exact sim
        assert (r["id_1"], r["id_2"]) in naive
        assert r["sim"] == naive[(r["id_1"], r["id_2"])]


def test_embedding_collapsed_identity(spark, sf_dir):
    """embedding_near_pairs collapse=True == collapse=False on a corpus
    with injected exact-duplicate vectors, for BOTH the grid and lsh
    paths — pair set AND bit-exact sims, including the intra-group
    (identical-vector) pairs; a zero-vector twin pair must stay absent
    from both outputs (NULL cosine never links). NaN/Inf twins have a
    NaN cosine to every vector, which passes Spark's
    ``sim >= threshold``: their pairs in the grid output equal those of
    ``allpairs``, the fold-cosine reference. collapse is passed
    EXPLICITLY both ways: the r14 default is the scanprobe auto gate,
    which at test SF resolves to False — the identity being pinned is
    the collapsed machinery itself, beside the default (None)."""
    from csvplus_spark.operators.dedup import embedding_near_pairs

    emb = load_table(spark, sf_dir, "embeddings").df \
        .select("vec_id", "embedding").limit(120)
    copies = emb.limit(30).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    copies2 = emb.limit(7).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding")
    zeros = spark.createDataFrame(
        [(9_000_001, [0.0] * 64), (9_000_002, [0.0] * 64),
         (9_000_003, [float("nan")] * 64), (9_000_004, [float("nan")] * 64),
         (9_000_005, [float("inf")] * 64), (9_000_006, [float("inf")] * 64)],
        "vec_id long, embedding array<float>")
    corpus = emb.unionByName(copies).unionByName(copies2).unionByName(zeros)

    def odd(df):  # the pairs of a zero, NaN or Inf vector
        return _nan_safe(r for r in df.collect()
                         if r["id_1"] >= 9_000_001 or r["id_2"] >= 9_000_001)

    for m in ("grid", "lsh"):
        plain = _collapse_identical(lambda c: _nan_safe(embedding_near_pairs(
            corpus, 0.4, method=m, collapse=c).collect()))
        # the injected copies alone form intra-group pairs
        assert any(i + 1_000_000 == j for i, j, _ in plain), m
        # a zero vector's cosine is NULL to every finite vector (NaN to
        # a NaN/Inf one), so it links to no ordinary vector nor its twin
        assert not any(j in (9_000_001, 9_000_002)
                       for _, j, _ in plain), m
    assert odd(embedding_near_pairs(corpus, 0.4, collapse=False)) == \
        odd(embedding_near_pairs(corpus, 0.4, method="allpairs"))


@pytest.mark.parametrize("n_bits", [32, 60])
def test_simhash_chunked_matches_allpairs(spark, sf_dir, n_bits):
    """Pigeonhole blocking loses no pair, at BOTH hash widths — 60 is
    the library default (VERDICT r4 item 6), 32 the legacy opt-in."""
    docs = load_table(spark, sf_dir, "documents").df.limit(120)
    sh = {r["doc_id"]: r["simhash"]
          for r in simhash_table(docs, n_bits=n_bits).collect()}
    ids = sorted(sh)
    expect = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    got = {(r["doc_id_1"], r["doc_id_2"], r["hamming"])
           for r in simhash_near_pairs(docs, 3, n_bits=n_bits).collect()}
    assert got == expect and got  # pigeonhole blocking loses no pair


def test_bpe_known_counts_and_roundtrip():
    """Merge loop pinned on hand-computable strings; merges.txt
    round-trips through the public format."""
    from csvplus_spark.operators.bpe import (
        encode_count, format_merges, parse_merges, train_bpe_merges)

    ranks = parse_merges(["#version: 0.2", "l o", "lo w"])
    assert ranks == {(b"l", b"o"): 0, (b"lo", b"w"): 1}
    # "low" = [l,o,w] -> [lo,w] -> [low] = 1 token
    assert encode_count("low", ranks) == 1
    # " low" pre-tokenizes with the leading space: [' ',l,o,w] -> 2
    assert encode_count("low low", ranks) == 3
    # no applicable merges: one token per byte after pre-tokenization
    assert encode_count("zz", {}) == 2
    trained = train_bpe_merges(["low lower lowest low low"] * 3, 4)
    assert trained  # learns something
    assert parse_merges(format_merges(trained).splitlines()) == trained
    # determinism across runs / input order
    assert trained == train_bpe_merges(["low lower lowest low low"] * 3, 4)


def test_bpe_distributed_matches_reference(spark, sf_dir):
    """The mapInPandas counter must agree with the driver-side encode
    on every document, under a corpus-trained table."""
    from csvplus_spark.operators.bpe import bpe_token_counts, encode_count

    docs = load_table(spark, sf_dir, "documents").df.limit(80)
    got = {r["doc_id"]: r["n_tokens_bpe"]
           for r in bpe_token_counts(docs, n_merges=50).collect()}
    # rebuild the same table the operator trained (None → corpus fit)
    from csvplus_spark.operators.bpe import (
        BPE_TRAIN_CHARS, BPE_TRAIN_DOCS, train_bpe_merges)

    sample = (docs.selectExpr("doc_id", f"substring(text, 1, {BPE_TRAIN_CHARS}) AS t")
              .orderBy("doc_id").limit(BPE_TRAIN_DOCS).collect())
    ranks = train_bpe_merges((r["t"] or "" for r in sample), 50)
    for r in docs.select("doc_id", "text").collect():
        assert got[r["doc_id"]] == encode_count(r["text"] or "", ranks)
    assert len(got) == 80


def test_simhash_reps_matches_cc_over_pairs(spark, graph_paths, sf_dir):
    """simhash_reps' hash-collapsed CC must agree with brute-force
    connected components over simhash_near_pairs, with singletons as
    their own representative."""
    docs = load_table(spark, sf_dir, "documents").df.limit(150)
    pairs = [(r["doc_id_1"], r["doc_id_2"])
             for r in simhash_near_pairs(docs, 3, n_bits=60).collect()]
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    # union-find reference
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comp: dict = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    expect = {i: min(members) for r_, members in comp.items() for i in members}
    from csvplus_spark.operators.dedup import simhash_reps

    for _ in graph_paths():
        got = {r["doc_id"]: r["rep_id"]
               for r in simhash_reps(docs, 3).collect()}
        assert got == expect


def test_brute_force_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").df
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    out = brute_force_topk(emb.filter(F.col("vec_id") == 0), emb, 3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    q = vecs[0]
    sims = {
        vid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        for vid, v in vecs.items() if vid != 0
    }
    expect = sorted(sims, key=lambda v: (-sims[v], v))[:3]
    assert [r["corpus_id"] for r in out] == expect
    for r in out:
        assert math.isclose(r["sim"], sims[r["corpus_id"]], rel_tol=1e-9)


def test_lsh_topk_structural(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").df
    q = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(q, emb, 3, n_bits=4, n_tables=8)
    rows = out.collect()
    assert rows, "low-bit LSH should yield candidates"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # sims are sorted by rank
        ordered = sorted(rs, key=lambda r: r["rank"])
        sims = [r["sim"] for r in ordered]
        assert sims == sorted(sims, reverse=True)


def test_ivf_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").df
    q = emb.filter(F.col("vec_id") < 10)
    from csvplus_spark.operators.similarity import ivf_topk

    bf = {(r["query_id"], r["corpus_id"]) for r in brute_force_topk(q, emb, 5).collect()}
    ivf = {(r["query_id"], r["corpus_id"])
           for r in ivf_topk(q, emb, 5, n_clusters=8, n_probe=4).collect()}
    # probing half the cells should recover a solid majority of true top-k
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.5, recall
    # and returned sims must be exact (rerank is exact cosine)
    rows = ivf_topk(q, emb, 3, n_clusters=8, n_probe=8).collect()
    full = {(r["query_id"], r["corpus_id"]): r["sim"]
            for r in brute_force_topk(q, emb, 500).collect()}
    for r in rows:
        key = (r["query_id"], r["corpus_id"])
        assert abs(full[key] - r["sim"]) < 1e-9


def test_ivf_seeded_exact_sims_and_probe_coverage(spark, sf_dir):
    """ivf_seeded_topk: reranked sims are exact cosine values, each
    query gets exactly k results when probed cells hold >= k corpus
    vectors, and when every cell is probed the result IS brute force."""
    from csvplus_spark.operators.similarity import ivf_seeded_topk

    emb = load_table(spark, sf_dir, "embeddings").df
    got = ivf_seeded_topk(emb, 5, n_cells=8, n_probe=3, query_max_id=10).collect()
    assert got
    q = emb.filter(F.col("vec_id") < 10)
    full = {(r["query_id"], r["corpus_id"]): r["sim"]
            for r in brute_force_topk(q, emb, 10_000).collect()}
    for r in got:
        assert full[(r["query_id"], r["corpus_id"])] == r["sim"]
    # probing ALL cells degenerates to exact brute-force top-k
    all_probe = {(r["query_id"], r["corpus_id"], r["rank"])
                 for r in ivf_seeded_topk(
                     emb, 5, n_cells=8, n_probe=8, query_max_id=10).collect()}
    bf = {(r["query_id"], r["corpus_id"], r["rank"])
          for r in brute_force_topk(q, emb, 5).collect()}
    assert all_probe == bf


def test_ivf_persisted_index_prunes_partitions(spark, sf_dir, tmp_path):
    from csvplus_spark.operators.similarity import ivf_build, ivf_search

    emb = load_table(spark, sf_dir, "embeddings").df
    path = str(tmp_path / "ivf")
    ivf_build(emb, path, n_clusters=8)
    q = emb.filter(F.col("vec_id") < 5)
    out = ivf_search(spark, path, q, k=3, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the probed-cell filter must reach the scan as partition pruning
    assert "PartitionFilters" in plan and "__cell__" in plan
    rows = out.collect()
    assert rows
    # reranked sims are exact: cross-check against brute force
    full = {(r["query_id"], r["corpus_id"]): r["sim"]
            for r in brute_force_topk(q, emb, 1000).collect()}
    for r in rows:
        assert abs(full[(r["query_id"], r["corpus_id"])] - r["sim"]) < 1e-9
    # and recall vs exact top-k is solid at half the cells probed
    bf = {(r["query_id"], r["corpus_id"]) for r in brute_force_topk(q, emb, 3).collect()}
    got = {(r["query_id"], r["corpus_id"]) for r in rows}
    assert len(bf & got) / len(bf) >= 0.5


def test_ivf_fit_samples_large_corpus(spark, sf_dir):
    from csvplus_spark.operators.similarity import _fit_centroids

    emb = load_table(spark, sf_dir, "embeddings").df
    from csvplus_spark.operators.similarity import with_double_vec

    c = with_double_vec(emb).select(F.col("vec_id").alias("corpus_id"), "__vec__")
    # tiny sample_size forces the sampling path; fit must still succeed
    m = _fit_centroids(c, n_clusters=4, seed=42, sample_size=20)
    assert len(m.clusterCenters()) == 4


def test_approx_distinct_within_tolerance(spark, sf_dir):
    # quantitative gate for the one no-oracle driver query: EVERY group's
    # HLL estimate within 3*rsd of exact, at the driver's sf0.01
    rsd = 0.01
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").df
    approx = {r["l_returnflag"]: r["a"] for r in li.groupBy("l_returnflag")
              .agg(F.approx_count_distinct("l_orderkey", rsd=rsd).alias("a")).collect()}
    exact = {r["l_returnflag"]: r["e"] for r in li.groupBy("l_returnflag")
             .agg(F.countDistinct("l_orderkey").alias("e")).collect()}
    assert set(approx) == set(exact) and len(exact) == 3
    for k, e in exact.items():
        assert abs(approx[k] - e) / e < 3 * rsd, (k, approx[k], e)


def test_quantize_roundtrip_and_recall(spark, sf_dir):
    from csvplus_spark.operators.quantization import (dequantize,
                                                      pack_quantized,
                                                      quantize_embeddings)

    emb = load_table(spark, sf_dir, "embeddings").df
    quant = quantize_embeddings(emb)
    # per-component reconstruction error bounded by scale/(2*127)
    bad = quant.join(
        emb.select("vec_id", F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("__j__", "x")).withColumn("dim_idx", F.col("__j__") + 1),
        ["vec_id", "dim_idx"],
    ).filter(F.abs(F.col("deq") - F.col("x")) > F.col("scale") / 254 + 1e-12)
    assert bad.count() == 0
    # packed form: 64 int8 levels per vector, q within [-127, 127]
    packed = pack_quantized(quant)
    assert packed.count() == emb.count()
    r = packed.limit(1).collect()[0]
    assert len(r["qvec"]) == 64 and all(-127 <= int(x) <= 127 for x in r["qvec"])
    # ANN over dequantized vectors still recovers exact top-k well
    deq = dequantize(packed)
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["corpus_id"])
             for r in brute_force_topk(q, emb, 3).collect()}
    approx = {(r["query_id"], r["corpus_id"])
              for r in brute_force_topk(q, deq, 3).collect()}
    assert len(exact & approx) / len(exact) >= 0.8


def test_token_count_variants(spark):
    from csvplus_spark.operators.text import (bpe_token_count, token_count,
                                              ws_token_count)

    df = spark.createDataFrame(
        [(1, "It's a test-case, with 42 tokens!"), (2, "   "), (3, "one")],
        ["doc_id", "text"])
    got = {r["doc_id"]: (r["ws"], r["words"], r["bpe"]) for r in df.select(
        "doc_id",
        ws_token_count("text").alias("ws"),
        token_count("text").alias("words"),
        bpe_token_count("text").alias("bpe")).collect()}
    # "It's a test-case, with 42 tokens!" → 6 ws tokens; words: it,s,a,
    # test,case,with,42,tokens = 8; bpe: it,'s,_a,_test,-,case,',',
    # _with,_42,_tokens,! = 11
    assert got[1] == (6, 8, 11)
    assert got[2] == (0, 0, 1)  # blank: 0 real tokens (1 ws-run bpe blob)
    assert got[3] == (1, 1, 1)


def test_repetition_and_content_flags(spark):
    from csvplus_spark.operators.text import content_flags, repetition_stats

    rep_text = " ".join(["one two three four five"] * 4)  # heavy 5-gram repeats
    df = spark.createDataFrame(
        [(1, rep_text),
         (2, "all twenty words here are fully distinct alpha bravo charlie "
             "delta echo foxtrot golf hotel india juliet kilo lima mike"),
         (3, "shorty")],
        ["doc_id", "text"])
    rep = {r["doc_id"]: r for r in repetition_stats(df, 5).collect()}
    assert rep[1]["dup_frac"] > 0.5 and rep[1]["top_gram_frac"] > 0.2
    assert rep[2]["dup_frac"] == 0.0 and rep[2]["n_ngrams"] == rep[2]["n_distinct"]
    assert rep[3]["n_ngrams"] == 0 and rep[3]["dup_frac"] == 0.0

    flags = {r["doc_id"]: r for r in content_flags(spark.createDataFrame(
        [(1, "mail me at a.b@test.org or see https://x.io/y?z=1 now"),
         (2, "call +1 (555) 123-4567 today"),
         (3, "def f(x): return {x: [1, 2]}  # code<t>")],
        ["doc_id", "text"])).collect()}
    assert flags[1]["n_emails"] == 1 and flags[1]["n_urls"] == 1
    assert flags[2]["n_phoneish"] == 1
    assert flags[3]["code_density"] > 0.1 and flags[3]["n_emails"] == 0


def test_winnow_guarantee_and_determinism(spark):
    from csvplus_spark.operators.text import winnow_fingerprints

    k, w = 8, 4
    shared = "a long shared passage of text that both documents contain verbatim"
    df = spark.createDataFrame(
        [(1, f"first document intro. {shared}. first tail xyz"),
         (2, f"second doc opens differently {shared} and ends otherwise"),
         (3, "completely unrelated content qqq www eee rrr ttt yyy")],
        ["doc_id", "text"],
    )
    out = winnow_fingerprints(df, k, w)
    rows = out.collect()
    fps = {}
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    # winnowing guarantee: any shared substring of length >= w+k-1
    # yields at least one shared fingerprint
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # deterministic across runs
    again = {(r["doc_id"], r["pos"], r["fp"]) for r in winnow_fingerprints(df, k, w).collect()}
    assert again == {(r["doc_id"], r["pos"], r["fp"]) for r in rows}


def test_tfidf_deterministic_topk(spark, sf_dir):
    from csvplus_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents").df
    a = tfidf_top_terms(docs, 3).collect()
    b = tfidf_top_terms(docs, 3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_doc = {}
    for r in a:
        per_doc.setdefault(r["doc_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_doc.values())


def test_cap_per_group_monotone(spark, sf_dir):
    from csvplus_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").df.select("doc_id", "lang")
    k10 = {r["doc_id"] for r in cap_per_group(docs, "lang", "doc_id", 10).collect()}
    k20 = {r["doc_id"] for r in cap_per_group(docs, "lang", "doc_id", 20).collect()}
    per_lang = docs.groupBy("lang").count().collect()
    assert len(k10) == sum(min(10, r["count"]) for r in per_lang)
    assert k10 <= k20  # raising the cap only adds rows
    # deterministic across runs
    again = {r["doc_id"] for r in cap_per_group(docs, "lang", "doc_id", 10).collect()}
    assert again == k10


def test_hash_sampling_deterministic_and_stable(spark, sf_dir):
    from csvplus_spark.operators.sampling import (
        hash_sample,
        train_val_test_split,
    )

    docs = load_table(spark, sf_dir, "documents").df
    a = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    b = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    assert a == b and 0.1 < len(a) / docs.count() < 0.3
    # monotone: a 10% sample is a subset of the 20% sample (same salt)
    c = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.1).select("doc_id").collect()}
    assert c <= a
    # split labels: stable, partition all rows, no overlap
    s = train_val_test_split(docs, "doc_id")
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()
    # subset of the data keeps identical assignments (no leakage on rerun)
    sub = train_val_test_split(docs.filter(F.col("doc_id") < 100), "doc_id")
    full = {r["doc_id"]: r["split"] for r in s.filter(F.col("doc_id") < 100).collect()}
    got = {r["doc_id"]: r["split"] for r in sub.collect()}
    assert got == full


def test_random_projection_matches_numpy(spark):
    import numpy as np

    from csvplus_spark.operators.similarity import (
        _plane_signs,
        random_projection,
    )

    vecs = [(1, [float(i) * 0.25 - 2.0 for i in range(64)]),
            (2, [math.sin(i) for i in range(64)])]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {r["vec_id"]: [r[f"p{k}"] for k in range(8)]
           for r in random_projection(df).collect()}
    S = np.array([_plane_signs(4096 + k, 64) for k in range(8)])
    for vid, v in vecs:
        want = (S @ np.array(v)) / math.sqrt(8.0)
        assert np.allclose(got[vid], want, rtol=1e-12)


def test_random_projection_preserves_distances(spark, sf_dir):
    # JL sanity on real embeddings: mean pairwise-distance distortion of
    # the 64→8 projection stays bounded (not a hash, an isometry-ish map)
    import numpy as np

    from csvplus_spark.operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings").df.filter(F.col("vec_id") < 40)
    orig = {r["vec_id"]: np.array(r["embedding"], dtype=float)
            for r in emb.collect()}
    proj = {r["vec_id"]: np.array([r[f"p{k}"] for k in range(8)])
            for r in random_projection(emb).collect()}
    ids = sorted(orig)
    ratios = []
    for i in range(0, len(ids), 4):
        for j in range(i + 1, len(ids), 4):
            d0 = np.linalg.norm(orig[ids[i]] - orig[ids[j]])
            d1 = np.linalg.norm(proj[ids[i]] - proj[ids[j]])
            if d0 > 0:
                ratios.append(d1 / d0)
    assert 0.6 < sum(ratios) / len(ratios) < 1.4


def test_l2_normalize_unit_norm_and_zero_vector(spark):
    from csvplus_spark.operators.similarity import l2_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], ["vec_id", "embedding"])
    rows = l2_normalize(df).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["vec_id"], {})[r["pos"]] = r["val"]
    assert by_id[1] == {1: 0.6, 2: 0.8}
    assert by_id[2] == {1: 0.0, 2: 0.0}


def test_chunk_docs_boundaries_and_overlap(spark):
    from csvplus_spark.operators.packing import chunk_docs

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(7))), (2, ""), (3, "one")],
        ["doc_id", "text"])
    rows = chunk_docs(df, size=3).collect()
    got = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
           for r in rows}
    # doc 1: 7 tokens -> chunks of 3/3/1; doc 2 empty -> no rows
    assert got[(1, 0)] == ("w0 w1 w2", 3)
    assert got[(1, 1)] == ("w3 w4 w5", 3)
    assert got[(1, 2)] == ("w6", 1)
    assert got[(3, 0)] == ("one", 1)
    assert not any(d == 2 for d, _ in got)
    # sliding windows: stride 2, size 3 over 5 tokens -> starts 1,3,5
    df5 = spark.createDataFrame([(9, "a b c d e")], ["doc_id", "text"])
    s = {r["chunk_id"]: r["chunk_text"]
         for r in chunk_docs(df5, size=3, stride=2).collect()}
    assert s == {0: "a b c", 1: "c d e", 2: "e"}
    with pytest.raises(ValueError):
        chunk_docs(df5, size=0)


def test_pack_sequences_offsets(spark):
    from csvplus_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, "s", "a b c"), (2, "s", "d e f g"), (3, "s", "h"),
         (4, "t", "x y")],
        ["doc_id", "source", "text"])
    rows = {r["doc_id"]: r for r in pack_sequences(df, capacity=5).collect()}
    # shard s stream: doc1 tokens 0-2, doc2 tokens 3-6, doc3 token 7
    assert (rows[1]["pack_id"], rows[1]["pack_offset"]) == (0, 0)
    assert (rows[2]["pack_id"], rows[2]["pack_offset"]) == (0, 3)
    assert (rows[3]["pack_id"], rows[3]["pack_offset"]) == (1, 2)
    # shard t packs independently
    assert (rows[4]["pack_id"], rows[4]["pack_offset"]) == (0, 0)
    assert rows[2]["n_tokens"] == 4


def test_ngram_hot_probe_optout_same_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 200)
    with_probe = {(r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
                  for r in ngram_jaccard_pairs(docs, 0.6).collect()}
    no_probe = {(r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
                for r in ngram_jaccard_pairs(docs, 0.6, hot_df=None).collect()}
    assert with_probe == no_probe and with_probe


def test_pii_scrub_order_and_tokens(spark):
    from csvplus_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [(1, "mail Bob.J+x@Example.COM or visit https://a.b/c?u=1@2 now"),
         (2, "server 10.0.0.1 tel +1 (415) 555-0101 end"),
         (3, "clean text")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["scrubbed"], r["changed"])
           for r in pii_scrub(docs).collect()}
    # URL scrubbed FIRST, so the '@' inside it never becomes an email
    assert got[1] == ("mail <EMAIL> or visit <URL> now", True)
    # IP scrubbed before phone-ish so the dots don't feed the phone regex
    assert got[2] == ("server <IP> tel <PHONE> end", True)
    assert got[3] == ("clean text", False)


def test_boilerplate_removal_keeps_order(spark):
    from csvplus_spark.operators.text import (boilerplate_lines,
                                              remove_boilerplate)

    mk = "COMMON HEADER\n{}\nCOMMON FOOTER"
    docs = spark.createDataFrame(
        [(1, mk.format("unique one")), (2, mk.format("unique two")),
         (3, mk.format("unique three")), (4, "all original\nlines here")],
        "doc_id long, text string")
    hot = {r["line"] for r in boilerplate_lines(docs, min_docs=3).collect()}
    assert hot == {"COMMON HEADER", "COMMON FOOTER"}
    got = {r["doc_id"]: r["clean_text"]
           for r in remove_boilerplate(docs, min_docs=3).collect()}
    assert got == {1: "unique one", 2: "unique two", 3: "unique three",
                   4: "all original\nlines here"}
    # every doc survives, even one that is ALL boilerplate
    all_bp = spark.createDataFrame(
        [(i, "SAME\nSAME") for i in range(4)], "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"]
           for r in remove_boilerplate(all_bp, min_docs=3).collect()}
    # blank-after-trim joins of removed lines collapse to ''
    assert set(out) == {0, 1, 2, 3} and all(v == "" for v in out.values())


def test_token_budget_mix_prefix_and_monotone(spark):
    from csvplus_spark.operators.sampling import token_budget_mix

    docs = spark.createDataFrame(
        [(i, "web" if i < 8 else "code", 100) for i in range(12)],
        "doc_id long, source string, n_tokens long")
    small = token_budget_mix(docs, {"web": 300}, weight_col="n_tokens")
    big = token_budget_mix(docs, {"web": 500}, weight_col="n_tokens")
    s = {r["doc_id"] for r in small.collect()}
    b = {r["doc_id"] for r in big.collect()}
    assert len(s) == 3 and len(b) == 5  # exact prefix fill at 100/doc
    assert s < b                        # monotone: bigger budget ⊇ smaller
    # default budget 0 drops unlisted groups entirely
    assert not {r["doc_id"] for r in small.collect() if r["doc_id"] >= 8}
    # deterministic across recomputation
    assert {r["doc_id"] for r in token_budget_mix(
        docs, {"web": 300}, weight_col="n_tokens").collect()} == s


def test_rarity_score_values(spark):
    from csvplus_spark.operators.text import rarity_score

    docs = spark.createDataFrame(
        [(1, "common common common"), (2, "common unique"), (3, "")],
        "doc_id long, text string")
    # corpus: common x4, unique x1, total 5 tokens
    got = {r["doc_id"]: (r["n_tokens"], r["rarity"])
           for r in rarity_score(docs).collect()}
    # doc1: floor(5/4)=1 per token -> 3/3 = 1.0
    assert got[1] == (3, 1.0)
    # doc2: floor(5/4)=1, floor(5/1)=5 -> 6/2 = 3.0
    assert got[2] == (2, 3.0)
    # empty doc survives with rarity 0
    assert got[3] == (0, 0.0)


def test_profile_columns_counts(spark):
    from csvplus_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 1.5), (3, None, 1.5), (3, "b", None)],
        "id long, s string, v double")
    got = {r["col_name"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
           for r in profile_columns(df).collect()}
    assert got == {"id": (4, 0, 3), "s": (4, 1, 2), "v": (4, 2, 1)}


def test_incremental_dedup_across_snapshots(spark):
    from csvplus_spark.operators.dedup import incremental_dedup
    from csvplus_spark.operators.text import fingerprint

    old = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string") \
        .select(fingerprint("text").alias("fingerprint"))
    new = spark.createDataFrame(
        [(10, "Seen   BEFORE"),      # re-crawl, normalizes to old fp
         (11, "brand new"), (12, "brand new"),  # in-batch dup pair
         (13, "also unique")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["canonical_id"], r["is_canonical"])
           for r in incremental_dedup(new, old).collect()}
    # 10 dropped entirely (already seen); 11 canonical over 12
    assert got == {11: (11, True), 12: (11, False), 13: (13, True)}


def test_repeated_spans_collapsed_identity(spark, sf_dir):
    """r14 (r13 verdict item 5): repeated_spans / remove_repeated_spans
    with the exact-duplicate text collapse must be byte-identical to
    the plain path on a corpus with injected exact duplicates — the
    weighted (Σ group-size over distinct reps) doc frequency equals
    count_distinct(doc) because md5-equal raw texts share the exact
    token stream. NULL/empty texts ride the sentinel fingerprint and
    must appear in remove's every-doc output either way."""
    from csvplus_spark.operators.text import (remove_repeated_spans,
                                              repeated_spans)

    docs = load_table(spark, sf_dir, "documents").df \
        .select("doc_id", "text").limit(80)
    copies = docs.limit(25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    oddballs = spark.createDataFrame(
        [(9_000_001, None), (9_000_002, None), (9_000_003, "")],
        "doc_id long, text string")
    corpus = docs.unionByName(copies).unionByName(oddballs)

    plain = _collapse_identical(lambda c: {tuple(r) for r in repeated_spans(
        corpus, k=3, min_docs=2, collapse=c).collect()})
    assert plain, "expected repeated spans from the injected duplicates"

    plain_rm = _collapse_identical(lambda c: {
        tuple(r) for r in remove_repeated_spans(
            corpus, k=3, min_docs=2, collapse=c).collect()})
    assert len(plain_rm) == 80 + 25 + 3  # every input doc, both paths
    assert (9_000_001, "") in plain_rm


def test_dup_clusters_collapsed_identity(spark, graph_paths, sf_dir):
    """The exact-collapse clusters path must be byte-identical to
    dup_clusters(ngram_jaccard_pairs(docs)) — on the raw corpus AND on
    a corpus with injected exact duplicates (where the collapse
    actually removes work): copies join their base component via their
    own Jaccard-1 pairs, and the min-id label is preserved because the
    representative IS the min member."""
    from csvplus_spark.operators.dedup import (dup_clusters,
                                               dup_clusters_collapsed)

    base = load_table(spark, sf_dir, "documents").df.select("doc_id", "text")
    # 3 exact copies of every doc (shifted ids), plus a no-shingle doc
    # pair (two tokens -> empty shingle set, must stay OUT of output)
    dup = base.unionByName(
        base.select((F.col("doc_id") + 100_000).alias("doc_id"), "text")
    ).unionByName(
        base.select((F.col("doc_id") + 200_000).alias("doc_id"), "text")
    ).unionByName(spark.createDataFrame(
        [(900_001, "tiny doc"), (900_002, "tiny doc")],
        "doc_id long, text string"))
    for _ in graph_paths():
        for docs in (base, dup):
            want = {(r["doc_id"], r["cluster_id"]) for r in
                    dup_clusters(ngram_jaccard_pairs(docs, 0.6)).collect()}
            got = {(r["doc_id"], r["cluster_id"]) for r in
                   dup_clusters_collapsed(docs, 0.6).collect()}
            assert got == want
        # the duplicated corpus must include every copy, labelled by the
        # base component (representative = smallest id)
        assert all(cid < 100_000 for _, cid in got)


def test_token_budget_mix_rejects_negative_weights(spark):
    """The bucket-pruned decomposition is only sound for monotone
    running sums — negative weights must fail loud, not silently
    diverge from the single-window semantics."""
    from csvplus_spark.operators.sampling import token_budget_mix

    df = spark.createDataFrame(
        [(1, "web", 50), (2, "web", -10), (3, "web", 40)],
        "doc_id long, source string, n_tokens long")
    with pytest.raises(Exception, match="negative weight"):
        token_budget_mix(df, {"web": 100}).count()
    # null weights stay legal (ignored by the sums, as before)
    df2 = spark.createDataFrame(
        [(1, "web", 50), (2, "web", None), (3, "web", 40)],
        "doc_id long, source string, n_tokens long")
    assert token_budget_mix(df2, {"web": 100}).count() == 3


def test_gopher_rules_integer_boundaries(spark):
    """The pass flag evaluates on integer counts: a doc exactly at the
    0.8 alpha fraction and the 3.0 mean-length boundary must pass
    (inclusive bounds), one token below must fail."""
    from csvplus_spark.operators.text import gopher_rules

    # 50 words, all length 3 (mean exactly 3.0), 40 alpha (exactly 0.8)
    passing = " ".join(
        ["the", "and"] + ["abc"] * 38 + ["x99"] * 10)
    rows = gopher_rules(spark.createDataFrame(
        [(1, passing), (2, "short doc"), (3, "")],
        "doc_id long, text string")).orderBy("doc_id").collect()
    r1, r2, r3 = rows
    assert r1["n_words"] == 50 and r1["n_alpha_words"] == 40
    assert r1["passes_gopher"] is True            # 5*40 >= 4*50 exactly
    assert r2["passes_gopher"] is False           # word count below 50
    assert r3["n_words"] == 0 and r3["mean_word_len"] == 0.0
    assert r3["passes_gopher"] is False


def test_novel_bigram_ownership(spark):
    """Bigrams shared across docs are not owned; a doc's unique
    bigrams are; token-less and single-token docs report zeros."""
    from csvplus_spark.operators.text import novel_bigram_stats

    got = {r["doc_id"]: r for r in novel_bigram_stats(spark.createDataFrame(
        [(1, "red fox jumps"), (2, "red fox sleeps"), (3, "one"), (4, "")],
        "doc_id long, text string")).collect()}
    # doc 1: bigrams {red fox, fox jumps}; "red fox" shared with doc 2
    assert (got[1]["n_bigrams"], got[1]["n_distinct_bigrams"],
            got[1]["n_owned"]) == (2, 2, 1)
    assert got[1]["owned_ratio"] == 0.5
    assert got[2]["n_owned"] == 1
    assert (got[3]["n_bigrams"], got[3]["owned_ratio"]) == (0, 0.0)
    assert (got[4]["n_bigrams"], got[4]["owned_ratio"]) == (0, 0.0)


def test_source_mix_shares_sum_to_one(spark, sf_dir):
    from csvplus_spark import load_table
    from csvplus_spark.operators.text import source_mix

    rows = source_mix(load_table(spark, sf_dir, "documents").df).collect()
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-9
    assert all(r["n_tokens"] >= 0 and r["n_docs"] > 0 for r in rows)


def test_knn_label_vote_majority_and_tie(spark):
    """Majority label wins; an even split breaks to the smallest
    label; exclude_self keeps a vector from voting for itself."""
    from csvplus_spark.operators.similarity import knn_label_vote

    # 2D points: query 0 at origin-ish; two clusters on the x axis
    rows = [
        (0, [1.0, 0.0], 9),
        (1, [0.9, 0.1], 2), (2, [0.95, 0.05], 2),   # near, label 2
        (3, [0.8, 0.2], 5),                           # near, label 5
        (4, [-1.0, 0.0], 7),                          # far
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {r["query_id"]: r for r in
           knn_label_vote(df, df, k=3).collect()}
    assert got[0]["pred_label"] == 2 and got[0]["votes"] == 2
    # k=4 for query 0: labels {2,2,5,7} -> 2 still; for query 4 with
    # k=4 the vote is {9,2,2,5} -> 2
    got4 = {r["query_id"]: r for r in
            knn_label_vote(df, df, k=4).collect()}
    assert got4[4]["pred_label"] == 2
    # tie: two labels with equal votes -> smallest label
    tie = spark.createDataFrame(
        [(0, [1.0, 0.0], 0),
         (1, [0.99, 0.01], 8), (2, [0.98, 0.02], 3)],
        "vec_id long, embedding array<float>, label int")
    t = {r["query_id"]: r for r in knn_label_vote(tie, tie, k=2).collect()}
    assert t[0]["pred_label"] == 3 and t[0]["votes"] == 1


def test_grid_topk_matches_brute_force(spark, sf_dir):
    """grid_topk's BLAS-prefiltered exact top-k must be byte-identical
    to brute_force_topk — ranks, tie order, and sim VALUES (the
    superset-then-fold-rescore argument in its docstring)."""
    from csvplus_spark import load_table
    from csvplus_spark.operators.similarity import (brute_force_topk,
                                                    grid_topk)

    emb = load_table(spark, sf_dir, "embeddings").df
    a = brute_force_topk(emb, emb, k=7).collect()
    b = grid_topk(emb, emb, k=7, n_blocks=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[2])) \
        == sorted(map(tuple, b), key=lambda t: (t[0], t[2]))
    # and with self-matches allowed (rank 1 = self at sim 1.0)
    a2 = {(r["query_id"], r["rank"]): r["corpus_id"] for r in
          brute_force_topk(emb.limit(50), emb, k=3,
                           exclude_self=False).collect()}
    b2 = {(r["query_id"], r["rank"]): r["corpus_id"] for r in
          grid_topk(emb.limit(50), emb, k=3, n_blocks=4,
                    exclude_self=False).collect()}
    assert a2 == b2


def test_snapshot_diff_statuses(spark):
    """All four statuses; cosmetic whitespace/case drift counts as
    unchanged (shared fingerprint normalization)."""
    from csvplus_spark.operators.dedup import snapshot_diff

    prev = spark.createDataFrame(
        [(1, "stable text"), (2, "old wording"), (3, "to be dropped")],
        "doc_id long, text string")
    cur = spark.createDataFrame(
        [(1, "  Stable   TEXT "),   # cosmetic drift only
         (2, "new wording"),
         (4, "brand new doc")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(cur, prev).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_grid_topk_random_property(spark):
    """Randomized equality vs brute_force_topk: duplicate vectors
    (exact sim ties → corpus-id tie-break), k larger than some blocks,
    k ≥ corpus, and non-square query/corpus sides."""
    import numpy as np

    rng = np.random.default_rng(1234)
    base = rng.normal(size=(40, 8)).astype("float32")
    # plant exact duplicates (rows 0-4 duplicated as 40-44)
    vecs = np.vstack([base, base[:5]])
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from csvplus_spark.operators.similarity import (brute_force_topk,
                                                    grid_topk)

    for k, nq in ((3, 45), (50, 45), (7, 10)):
        q = df if nq == 45 else df.limit(nq)
        a = sorted(map(tuple, brute_force_topk(q, df, k=k).collect()))
        b = sorted(map(tuple, grid_topk(q, df, k=k, n_blocks=4).collect()))
        assert a == b, f"k={k} nq={nq}"


def test_knn_label_vote_string_labels(spark):
    """Review r6 follow-up: the vote tie-break must work for ANY
    orderable label type — string categories tie to the
    lexicographically smallest."""
    from csvplus_spark.operators.similarity import knn_label_vote

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], "zebra"),
         (1, [0.99, 0.01], "spam"), (2, [0.98, 0.02], "ham")],
        "vec_id long, embedding array<float>, label string")
    got = {r["query_id"]: r for r in knn_label_vote(df, df, k=2).collect()}
    assert got[0]["pred_label"] == "ham" and got[0]["votes"] == 1


def test_snapshot_diff_null_text(spark):
    """Review r6 follow-up: presence comes from the join side, not
    fingerprint nullness — a NULL-text doc present in both snapshots
    is unchanged, not added/removed."""
    from csvplus_spark.operators.dedup import snapshot_diff

    prev = spark.createDataFrame(
        [(1, None), (2, "text"), (3, None)], "doc_id long, text string")
    cur = spark.createDataFrame(
        [(1, None), (2, None), (4, None)], "doc_id long, text string")
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(cur, prev).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_check_expectations_rules(spark):
    """Every rule kind counts its violations; NULLs violate only
    not_null; unknown columns/rules raise instead of silently passing."""
    from csvplus_spark.operators.profile import check_expectations

    df = spark.createDataFrame(
        [(1, 10.0, "A", "ok"), (2, -1.0, "A", "ok"),
         (2, 5.0, "X", "bad!"), (None, None, None, None)],
        "k long, v double, s string, t string")
    got = {(r["col_name"], r["rule"]): (r["n_violations"], r["passed"])
           for r in check_expectations(df, {
               "k": {"not_null": True, "unique": True},
               "v": {"min": 0.0, "max": 9.0},
               "s": {"allowed": ["A", "B"]},
               "t": {"regex": "[a-z]+"},
           }).collect()}
    assert got == {
        ("k", "not_null"): (1, False),
        ("k", "unique"): (1, False),       # two k=2 rows, NULL ignored
        ("v", "min"): (1, False),
        ("v", "max"): (1, False),
        ("s", "allowed"): (1, False),
        ("t", "regex"): (1, False),
    }
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown column"):
        check_expectations(df, {"nope": {"not_null": True}})
    with _pt.raises(ValueError, match="unknown rule"):
        check_expectations(df, {"k": {"sorted": True}})
    # all-green case
    ok = check_expectations(df.filter("k = 1"), {"k": {"unique": True}})
    assert [(r["n_violations"], r["passed"]) for r in ok.collect()] == [(0, True)]


def test_global_order_index_matches_single_window(spark, sf_dir):
    """Bucket-prefix-sum global position == the naive one-task
    row_number() over the full hash order, and positions are a
    permutation of 0..n-1 (operators/sampling.py::global_order_index)."""
    from pyspark.sql import Window

    from csvplus_spark.operators.sampling import global_order_index
    from csvplus_spark.operators.text import hash60

    docs = load_table(spark, sf_dir, "documents").df.select("doc_id", "lang")
    got = {(r["doc_id"], r["pos"])
           for r in global_order_index(docs, "doc_id").collect()}
    h = hash60(F.concat_ws("|", F.lit("shuffle"), F.col("doc_id").cast("string")))
    naive = {(r["doc_id"], r["pos"]) for r in docs.withColumn(
        "pos", F.row_number().over(Window.orderBy(h, "doc_id")).cast("long") - 1
    ).collect()}
    assert got == naive
    n = docs.count()
    assert {p for _, p in got} == set(range(n))
    # a different salt yields a different permutation of the same ids
    other = {(r["doc_id"], r["pos"])
             for r in global_order_index(docs, "doc_id", salt="epoch2").collect()}
    assert other != got and {d for d, _ in other} == {d for d, _ in got}


def test_top_fraction_by_score_matches_single_window(spark, sf_dir):
    """Scalar-cutoff top-fraction == the naive per-group window form;
    monotone in fraction; fraction=1 keeps all; every non-empty group
    keeps ceil(frac*n) rows (operators/sampling.py)."""
    import math

    from pyspark.sql import Window

    from csvplus_spark.operators.sampling import top_fraction_by_score
    from csvplus_spark.operators.text import hash60, quality_score

    docs = load_table(spark, sf_dir, "documents").df
    scored = docs.select("doc_id", "lang",
                         quality_score("text").alias("quality"))
    got = {r["doc_id"]
           for r in top_fraction_by_score(scored, "quality", "lang", 0.25,
                                          "doc_id").collect()}
    h = hash60(F.concat_ws("|", F.lit("topfrac"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), h, "doc_id")
    naive_df = (scored
                .withColumn("rn", F.row_number().over(w))
                .withColumn("keep", F.ceil(F.lit(0.25) * F.count(F.lit(1))
                                           .over(Window.partitionBy("lang"))))
                .filter(F.col("rn") <= F.col("keep")))
    assert got == {r["doc_id"] for r in naive_df.collect()}
    per_lang = {r["lang"]: r["count"] for r in scored.groupBy("lang").count().collect()}
    kept_per_lang = {
        r["lang"]: r["count"]
        for r in top_fraction_by_score(scored, "quality", "lang", 0.25, "doc_id")
        .groupBy("lang").count().collect()
    }
    assert kept_per_lang == {g: math.ceil(0.25 * n) for g, n in per_lang.items()}
    half = {r["doc_id"]
            for r in top_fraction_by_score(scored, "quality", "lang", 0.5,
                                           "doc_id").collect()}
    assert got <= half  # monotone: raising the fraction only adds rows
    all_ = top_fraction_by_score(scored, "quality", "lang", 1.0, "doc_id")
    assert all_.count() == scored.count()


def test_repeated_spans_positions_and_threshold(spark):
    """repeated_spans reports every k-token window shared by >= min_docs
    docs with exact 0-based token offsets; unique spans are absent
    (operators/text.py::repeated_spans)."""
    from csvplus_spark.operators.text import repeated_spans

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick brown fox jumps far away"),
            (3, "entirely unrelated content here today friends"),
            (4, "the quick brown fox jumps over everything"),
        ],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["pos"], r["span"], r["n_docs"])
           for r in repeated_spans(df, k=5, min_docs=2).collect()}
    # "quick brown fox jumps" 4-grams extended to 5: docs 1/2/4 share
    # "quick brown fox jumps over"? doc 2 has "jumps far" — only 1 & 4
    # share the 5-token span starting at "the"(0) and "quick"(1)
    assert (1, 0, "the quick brown fox jumps", 2) in got
    assert (4, 0, "the quick brown fox jumps", 2) in got
    assert (1, 1, "quick brown fox jumps over", 2) in got
    assert (4, 1, "quick brown fox jumps over", 2) in got
    # doc 2's window differs at token 5 → not repeated
    assert not any(d == 2 for d, *_ in got)
    assert not any(d == 3 for d, *_ in got)
    # all reported spans really are k tokens and shared by >= 2 docs
    assert all(len(s.split(" ")) == 5 and n >= 2 for _, _, s, n in got)
    # min_docs=3 drops everything (no span is in three docs)
    assert repeated_spans(df, k=5, min_docs=3).count() == 0


def test_remove_repeated_spans_surgical(spark):
    """Removal cuts exactly the covered token positions (overlapping
    spans union), keeps survivors in order, emits every doc — fully
    covered docs come back as '' (operators/text.py)."""
    from csvplus_spark.operators.text import remove_repeated_spans

    df = spark.createDataFrame(
        [
            (1, "alpha one two three four five omega"),
            (2, "prefix one two three four five suffix"),
            (3, "totally original text with no twins at all"),
            (4, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["cleaned_text"]
           for r in remove_repeated_spans(df, k=5, min_docs=2).collect()}
    # docs 1/2/4 share "one two three four five": covered in each,
    # survivors keep their order
    assert got[1] == "alpha omega"
    assert got[2] == "prefix suffix"
    assert got[4] == ""                 # fully covered doc still present
    assert got[3] == "totally original text with no twins at all"
    assert set(got) == {1, 2, 3, 4}


def test_minhash_collapsed_identity(spark, sf_dir):
    """minhash_dedup_pairs collapse True == False == None on a corpus
    with injected exact duplicates (incl. a shingle-free twin pair that
    must stay absent from both outputs)."""
    from csvplus_spark.operators.dedup import minhash_dedup_pairs

    docs = load_table(spark, sf_dir, "documents").df.select("doc_id", "text")
    base = docs.limit(40)
    copies = base.limit(12).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    copies2 = base.limit(5).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    # two exact copies with <5 tokens: no 3-token shingle? ("tiny tiny")
    # has zero 3-shingles — the plain path must not pair them, so the
    # collapsed path must not either
    twins = spark.createDataFrame(
        [(9_000_001, "tiny tiny"), (9_000_002, "tiny tiny")],
        "doc_id long, text string")
    corpus = base.unionByName(copies).unionByName(copies2).unionByName(twins)
    plain = _collapse_identical(lambda c: {
        (r["doc_id_1"], r["doc_id_2"], r["jaccard"])
        for r in minhash_dedup_pairs(corpus, 0.6, collapse=c).collect()})
    assert len(plain) >= 17          # the injected copies alone pair up
    assert not any(d1 == 9_000_001 for d1, _, _ in plain)


def test_ngram_collapsed_identity(spark, sf_dir):
    """ngram_jaccard_pairs collapse True == False == None on a corpus
    with injected exact duplicates + a shingle-free twin pair; the
    collapse refuses a caller's shingle table (it covers every doc,
    not the representatives)."""
    from csvplus_spark.operators.dedup import (ngram_jaccard_pairs,
                                               shingle_pairs)

    docs = load_table(spark, sf_dir, "documents").df.select("doc_id", "text")
    base = docs.limit(40)
    copies = base.limit(12).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    twins = spark.createDataFrame(
        [(9_000_001, "tiny tiny"), (9_000_002, "tiny tiny")],
        "doc_id long, text string")
    corpus = base.unionByName(copies).unionByName(twins)
    plain = _collapse_identical(lambda c: {
        (r["doc_id_1"], r["doc_id_2"], r["jaccard"])
        for r in ngram_jaccard_pairs(corpus, 0.6, collapse=c).collect()})
    assert len(plain) >= 12
    assert not any(d1 == 9_000_001 for d1, _, _ in plain)
    with pytest.raises(ValueError, match="shingles"):
        ngram_jaccard_pairs(corpus, 0.6, shingles=shingle_pairs(corpus),
                            collapse=True)


def test_semantic_dedup_keep_drop(spark, graph_paths):
    """SemDeDup contract: near-identical vectors in one cell collapse
    to the min id; distant vectors stay their own canonical; every
    input id appears exactly once (operators/dedup.py::semantic_dedup)."""
    from csvplus_spark.operators.dedup import semantic_dedup

    # seeds are the n_cells LOWEST ids: put the distinct directions
    # first so each near-dup group shares its seed's cell (with seeds
    # drawn from inside a twin pair the twins land in separate cells —
    # the documented blocking tradeoff of cluster-as-blocking)
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (11, [0.999, 0.01, 0.0]),   # ~same direction as 1
        (12, [0.0, 0.995, 0.02]),   # ~same direction as 2
        (20, [-1.0, 0.0, 0.0]),     # anti-parallel to 1: sim < 0
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    for _ in graph_paths():
        got = {r["vec_id"]: (r["canonical_id"], r["is_canonical"])
               for r in semantic_dedup(df, threshold=0.9, n_cells=3).collect()}
        assert set(got) == {1, 2, 3, 11, 12, 20}
        assert got[1] == (1, True) and got[11] == (1, False)
        assert got[2] == (2, True) and got[12] == (2, False)
        assert got[3] == (3, True)
        assert got[20] == (20, True)    # negative similarity never pairs
        # survivors = one per semantic group
        assert sorted(i for i, (c, k) in got.items() if k) == [1, 2, 3, 20]


def test_key_skew_report_values(spark):
    """Exact counts/share/skew on a hand-built skewed key set
    (operators/profile.py::key_skew_report)."""
    from csvplus_spark.operators.profile import key_skew_report

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("a",)] * 1 + [("b",)] * 2
    df = spark.createDataFrame(rows, "k string")
    got = [(r["k"], r["n"], r["share"], r["skew"])
           for r in key_skew_report(df, "k", 3).collect()]
    # 12 rows, 4 keys → mean 3 rows/key
    assert got == [
        ("hot", 6, 6 / 12, 6 * 4 / 12),
        ("warm", 3, 3 / 12, 3 * 4 / 12),
        ("b", 2, 2 / 12, 2 * 4 / 12),
    ]


def test_ann_recall_values(spark):
    """Exact recall arithmetic incl. the zero-hit query
    (operators/similarity.py::ann_recall)."""
    from csvplus_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, corpus_id long")
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21), (3, 77)],
        "query_id long, corpus_id long")
    got = {r["query_id"]: (r["n_exact"], r["n_hits"], r["recall"])
           for r in ann_recall(exact, approx).collect()}
    assert got == {1: (2, 1, 0.5), 2: (2, 2, 1.0), 3: (1, 0, 0.0)}


def test_top_fraction_null_group_kept(spark):
    """A NULL group is a group like any other: its rows flow through
    the null-safe offset/target joins and keep ceil(frac*n) rows
    (review-s3 fix: the target join was name-based and dropped them)."""
    from csvplus_spark.operators.sampling import top_fraction_by_score

    df = spark.createDataFrame(
        [(1, "en", 1.0), (2, "en", 0.5), (3, None, 1.0), (4, None, 0.5)],
        "doc_id long, g string, score double")
    got = {r["doc_id"]
           for r in top_fraction_by_score(df, "score", "g", 0.5,
                                          "doc_id").collect()}
    # each group keeps ceil(0.5*2) = 1 row: the score-1.0 one
    assert got == {1, 3}


def test_semantic_dedup_string_ids(spark, graph_paths):
    """semantic_dedup works for non-integer id columns end to end
    (review-s3 fix: seeds/centroid schema were hardcoded to long)."""
    from csvplus_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]),
         ("x", [0.999, 0.01]), ("z", [0.0, 0.0])],
        "vec_id string, embedding array<float>")
    for _ in graph_paths():
        got = {r["vec_id"]: (r["canonical_id"], r["is_canonical"])
               for r in semantic_dedup(df, threshold=0.9, n_cells=2,
                                       id_col="vec_id").collect()}
        assert got["a"] == ("a", True) and got["x"] == ("a", False)
        assert got["b"] == ("b", True)
        # zero vector: cosine is NULL in both engines → never pairs
        assert got["z"] == ("z", True)


def test_unigram_logprob_values(spark):
    """Hand-computed MLE unigram logprobs (operators/text.py)."""
    import math

    from csvplus_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["lp_mean"])
           for r in unigram_logprob(df).collect()}
    # corpus: a:2 b:2 c:1, total 5
    la, lb, lc = (math.log(2 / 5), math.log(2 / 5), math.log(1 / 5))
    assert got[1] == (3, round((la + la + lb) / 3, 6))
    assert got[2] == (2, round((lb + lc) / 2, 6))
    assert got[3] == (0, 0.0)


def test_compact_parquet_roundtrip(spark, tmp_path):
    """Compaction preserves rows exactly, cuts the file count, and is
    idempotent (operators/maintenance.py::compact_parquet)."""
    from csvplus_spark.operators.maintenance import compact_parquet

    p = str(tmp_path / "tbl")
    df = spark.range(0, 10_000).selectExpr("id", "id * 2 AS v")
    df.repartition(40).write.parquet(p)
    before = spark.read.parquet(p).collect()
    n_before, n_after = compact_parquet(spark, p, target_bytes=1 << 30)
    assert n_before == 40 and n_after < 40
    after = spark.read.parquet(p).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # second call: already compact → untouched
    again = compact_parquet(spark, p, target_bytes=1 << 30)
    assert again == (n_after, n_after)


def test_bm25_hand_computed(spark):
    """BM25 score arithmetic on a 3-doc corpus vs a hand-built Python
    oracle (operators/text.py::bm25_top_terms)."""
    import math

    from csvplus_spark.operators.text import bm25_top_terms

    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "dog fish"), (3, "cat bird bird bird")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["term"]): (r["tf"], r["df"], r["rank"], r["score"])
           for r in bm25_top_terms(df, k=10).collect()}

    corpus = {1: ["cat", "cat", "dog"], 2: ["dog", "fish"],
              3: ["cat", "bird", "bird", "bird"]}
    n = 3.0
    avgdl = sum(len(t) for t in corpus.values()) / 3.0
    dfreq = {}
    for toks in corpus.values():
        for t in set(toks):
            dfreq[t] = dfreq.get(t, 0) + 1
    for (d, term), (tf, dfv, rank, score) in got.items():
        assert dfv == dfreq[term] and tf == corpus[d].count(term)
        idf = math.log((n - dfv + 0.5) / (dfv + 0.5) + 1.0)
        dl = len(corpus[d])
        exp = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        assert score == round(exp, 6), (d, term)
    # rare term outranks common one within its doc
    assert got[(2, "fish")][2] < got[(2, "dog")][2]
    assert got[(3, "bird")][2] < got[(3, "cat")][2]


def test_compact_parquet_partitioned(spark, tmp_path):
    """partition_by compaction preserves the hive layout and the rows
    (operators/maintenance.py)."""
    import os

    from csvplus_spark.operators.maintenance import compact_parquet

    p = str(tmp_path / "ptbl")
    df = spark.range(0, 4_000).selectExpr("id", "id % 3 AS part")
    df.repartition(30).write.partitionBy("part").parquet(p)
    before = spark.read.parquet(p).collect()
    n_before, n_after = compact_parquet(spark, p, target_bytes=1 << 30,
                                        partition_by=["part"])
    assert n_after < n_before
    # hive layout survived
    assert sorted(d for d in os.listdir(p) if d.startswith("part=")) == \
        ["part=0", "part=1", "part=2"]
    after = spark.read.parquet(p).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))


def test_compact_parquet_refuses_silent_flatten(spark, tmp_path):
    """ADVICE r6: omitting partition_by on a hive-partitioned table must
    raise (naming the detected keys), not silently flatten the layout;
    allow_flatten=True performs the rewrite on purpose."""
    import os

    import pytest

    from csvplus_spark.operators.maintenance import compact_parquet

    p = str(tmp_path / "ptbl2")
    df = spark.range(0, 2_000).selectExpr("id", "id % 2 AS part")
    df.repartition(16).write.partitionBy("part").parquet(p)
    with pytest.raises(ValueError, match=r"partition_by=\['part'\]"):
        compact_parquet(spark, p, target_bytes=1 << 30)
    # layout untouched by the refused call
    assert sorted(d for d in os.listdir(p) if d.startswith("part=")) == \
        ["part=0", "part=1"]
    before = spark.read.parquet(p).collect()
    n_before, n_after = compact_parquet(spark, p, target_bytes=1 << 30,
                                        allow_flatten=True)
    assert n_after < n_before
    assert not any(d.startswith("part=") for d in os.listdir(p))
    after = spark.read.parquet(p).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))


def test_auto_n_cells_bounds_cell_size(spark, sf_dir):
    """VERDICT r6 item 3: n_cells defaults must GROW with the corpus so
    the per-cell quadratic stage stays bounded. auto_n_cells must keep
    mean |cell| <= per_cell at every size, floor at 16, and the
    n_cells=None path of semantic_dedup must run end-to-end."""
    from csvplus_spark.operators.dedup import semantic_dedup
    from csvplus_spark.operators.similarity import auto_n_cells

    for n in (0, 1, 100, 4096, 4097, 1_000_000, 100_000_000):
        cells = auto_n_cells(n)
        assert 16 <= cells <= 65_536
        # below the cap the derived count bounds MEAN |cell|
        if cells < 65_536:
            assert n / cells <= 4096
    assert auto_n_cells(11_000 * 4096) == 11_000  # LAION-ish shape
    # the cap bounds the n*cells assignment stage (review r7)
    assert auto_n_cells(5_000_000_000) == 65_536
    with pytest.raises(ValueError):
        auto_n_cells(-1)

    emb = load_table(spark, sf_dir, "embeddings").df
    n = emb.count()
    auto = {(r["vec_id"], r["canonical_id"])
            for r in semantic_dedup(emb, 0.4).collect()}
    explicit = {(r["vec_id"], r["canonical_id"])
                for r in semantic_dedup(emb, 0.4,
                                        n_cells=auto_n_cells(n)).collect()}
    assert auto == explicit and auto


def test_semantic_dedup_collapse_identity_law(spark, graph_paths, sf_dir):
    """Scaled-consistency pin (VERDICT r6 item 2), fast CI form of
    tools/check_sf1_compose.py's semantic_dedup law: duplicate the
    corpus via key shift (copy c = vec_id + c*OFF, same embedding) and
    run BOTH scales with the same n_cells — the seeds are then the
    identical vector set with identical cell ids, every copy lands in
    its base vector's cell, and each duplicated component is the exact
    copy-closure of a base component with the base canonical."""
    from csvplus_spark.operators.dedup import semantic_dedup
    from csvplus_spark.operators.similarity import cosine, with_double_vec

    OFF, COPIES, CELLS = 10_000_000, 3, 32
    emb = load_table(spark, sf_dir, "embeddings").df \
        .select("vec_id", "embedding")
    dup = emb
    for c in range(1, COPIES):
        dup = dup.unionByName(
            emb.select((F.col("vec_id") + c * OFF).alias("vec_id"),
                       "embedding"))
    nonzero = {r["vec_id"] for r in with_double_vec(emb)
               .select("vec_id",
                       cosine(F.col("__vec__"), F.col("__vec__")).alias("s"))
               .filter(F.col("s") >= 0.4).collect()}
    for _ in graph_paths():
        base = semantic_dedup(emb, 0.4, n_cells=CELLS).collect()
        got = {(r["vec_id"], r["canonical_id"], r["is_canonical"])
               for r in semantic_dedup(dup, 0.4, n_cells=CELLS).collect()}
        want = set()
        for r in base:
            for c in range(COPIES):
                if r["vec_id"] in nonzero:
                    want.add((r["vec_id"] + c * OFF, r["canonical_id"],
                              r["is_canonical"] and c == 0))
                else:  # zero-norm: NULL cosine everywhere, singleton per copy
                    want.add((r["vec_id"] + c * OFF, r["vec_id"] + c * OFF,
                              True))
        assert got == want and len(got) == COPIES * len(base)


def test_semantic_contamination_flags_and_nulls(spark):
    """semantic_contamination: exact max-bench cosine per train vector,
    zero-norm bench vectors ignored (undefined sim can't contaminate),
    zero-norm train vectors come back NULL/false."""
    from csvplus_spark.operators.dedup import semantic_contamination

    train = spark.createDataFrame(
        [(1, [1.0, 0.0]),     # aligned with bench 100 -> sim 1.0
         (2, [0.0, 1.0]),     # orthogonal to bench 100, aligned w/ none
         (3, [0.0, 0.0])],    # zero-norm: undefined everywhere
        "vec_id long, embedding array<float>")
    bench = spark.createDataFrame(
        [(100, [2.0, 0.0]),
         (101, [0.0, 0.0])],  # zero-norm bench: must be dropped
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
           for r in semantic_contamination(train, bench, 0.9,
                                           n_blocks=2).collect()}
    assert got[1] == (1.0, True)
    assert got[2] == (0.0, False)
    assert got[3] == (None, False)


def test_semantic_contamination_bench_guard_vs_oracle(spark):
    """The bench guard of semantic_contamination (a positive finite
    ``_sq_norm``) against _SEMANTIC_CONTAM_SQL run by DuckDB, for three
    kinds of bench vector: one with a NULL element, a NaN and an Inf
    vector. The oracle keeps all three; the Spark guard drops them (a
    NULL fold, a non-finite norm), so each result reads as if that bench
    vector were absent, while the oracle scores the NULL-element vector
    over its other terms and lets NaN cosines top its MAX — the
    divergences the docstring records."""
    import duckdb
    import pyarrow as pa

    import __spark_entry__ as entry
    from csvplus_spark.operators.dedup import semantic_contamination

    nan, inf = float("nan"), float("inf")
    base = {1: [0.6, 0.0, 0.8, 0.0], 2: [1.0, 0.0, 0.0, 0.0],
            3: [0.0, 0.0, 0.0, 1.0], 0: [0.0, 0.0, 1.0, 0.0]}

    def table(rows):
        return pa.table({
            "vec_id": pa.array(list(rows), pa.int64()),
            "embedding": pa.array(list(rows.values()),
                                  pa.list_(pa.float32())),
            "label": pa.array([0] * len(rows), pa.int32())})

    def ours(t):
        emb = spark.createDataFrame(t)
        out = semantic_contamination(
            emb.filter(F.col("vec_id") % 20 != 0),
            emb.filter(F.col("vec_id") % 20 == 0), 0.4, n_blocks=2)
        return sorted(map(tuple, out.collect()))

    def oracle(t):
        con = duckdb.connect()
        con.register("embeddings", t)
        # the guard of the oracle's n and bench CTEs
        kept = dict(con.execute(
            "SELECT vec_id, sqrt(list_sum(list_transform(list_transform("
            "embedding, x -> CAST(x AS DOUBLE)), x -> x * x))) > 0 "
            "FROM embeddings WHERE vec_id % 20 = 0").fetchall())
        return kept, sorted(con.execute(entry._SEMANTIC_CONTAM_SQL)
                            .fetchall())

    without = ours(table(base))
    assert oracle(table(base)) == ({0: True}, without)
    for vec in ([0.6, None, 0.8, 0.0], [nan, nan, nan, nan],
                [inf, 0.0, 0.0, 0.0]):
        t = table({**base, 20: vec})
        kept, want = oracle(t)
        assert kept[20] is True and want != without, vec
        assert ours(t) == without, vec


def test_temperature_mix_properties(spark):
    """temperature_mix: deterministic subset; alpha=0.5 keeps a LARGER
    fraction of small sources than big ones; a tiny source whose rate
    caps at 1.0 is kept whole; alpha=1.0 samples every source at the
    same budget_frac rate."""
    from csvplus_spark.operators.dedup import exact_dedup  # noqa: F401 (env warm)
    from csvplus_spark.operators.sampling import temperature_mix

    rows = ([(i, "big") for i in range(4000)]
            + [(10_000 + i, "mid") for i in range(400)]
            + [(20_000 + i, "tiny") for i in range(4)])
    df = spark.createDataFrame(rows, "doc_id long, source string")

    out = temperature_mix(df, alpha=0.5, budget_frac=0.5)
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in temperature_mix(df, 0.5, 0.5).collect()}
    assert a == b and a  # deterministic
    assert a <= {r[0] for r in rows}  # subset, no invented rows
    frac = {s: len([d for d in a if lo <= d < hi]) / n
            for s, lo, hi, n in [("big", 0, 4000, 4000),
                                 ("mid", 10_000, 20_000, 400),
                                 ("tiny", 20_000, 30_000, 4)]}
    assert frac["tiny"] == 1.0          # rate capped at 1: kept whole
    assert frac["mid"] > frac["big"]    # flattening favors small sources

    # alpha=1: proportional -> every source sampled at ~budget_frac
    prop = {r["doc_id"] for r in temperature_mix(df, 1.0, 0.5).collect()}
    for s, lo, hi, n in [("big", 0, 4000, 4000), ("mid", 10_000, 20_000, 400)]:
        f = len([d for d in prop if lo <= d < hi]) / n
        assert 0.4 < f < 0.6, (s, f)


def test_zorder_write_tightens_file_stats_on_both_columns(spark, tmp_path):
    """zorder_write must leave each output file covering a SMALL range
    in BOTH z columns (that is the whole point — min/max pruning works
    for either filter), where an unclustered write covers ~the full
    range of both in every file."""
    from csvplus_spark.operators.maintenance import zorder_write

    df = spark.range(0, 40_000).selectExpr(
        "id", "id % 200 AS a", "CAST(pmod(hash(id), 1000) AS DOUBLE) AS b")

    flat = str(tmp_path / "flat")
    df.repartition(16).write.parquet(flat)
    zpath = str(tmp_path / "zord")
    zorder_write(df, zpath, ["a", "b"], target_files=16)

    def coverage(path):
        d = spark.read.parquet(path)
        per = d.groupBy(F.input_file_name().alias("f")).agg(
            F.min("a").alias("a0"), F.max("a").alias("a1"),
            F.min("b").alias("b0"), F.max("b").alias("b1")).collect()
        ca = sum((r["a1"] - r["a0"]) / 199.0 for r in per) / len(per)
        cb = sum((r["b1"] - r["b0"]) / 999.0 for r in per) / len(per)
        return ca, cb

    fa, fb = coverage(flat)
    za, zb = coverage(zpath)
    assert fa > 0.9 and fb > 0.9          # unclustered: every file spans all
    assert za < 0.5 and zb < 0.5          # z-order: both dims tightened
    # rows survived intact
    assert spark.read.parquet(zpath).count() == 40_000
    assert spark.read.parquet(zpath).agg(F.sum("a")).first()[0] == \
        df.agg(F.sum("a")).first()[0]


def test_temperature_mix_null_source_rows_survive(spark):
    """NULL-source rows must participate as their own group, not be
    silently dropped by the rates equi-join (review r7)."""
    from csvplus_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [(i, "a") for i in range(100)] + [(200 + i, None) for i in range(4)],
        "doc_id long, source string")
    out = temperature_mix(df, alpha=0.5, budget_frac=0.5).collect()
    # the 4-row NULL group's rate caps at 1.0 -> kept whole
    assert len([r for r in out if r["source"] is None]) == 4
    assert {c for r in out for c in r.asDict()} == {"doc_id", "source"}


def test_ivf_append_preserves_layout_and_findability(spark, sf_dir, tmp_path):
    """ivf_append: new vectors land in the existing cell partitions
    (no refit, pruning preserved) and become findable by ivf_search —
    a query identical to an appended vector must rank it first."""
    import os

    from csvplus_spark.operators.similarity import (ivf_append, ivf_build,
                                                    ivf_search)

    emb = load_table(spark, sf_dir, "embeddings").df
    path = str(tmp_path / "ivf")
    ivf_build(emb, path, n_clusters=8)
    cells_before = sorted(d for d in os.listdir(path)
                          if d.startswith("__cell__="))

    probe = emb.filter(F.col("vec_id") == 3).select("vec_id", "embedding")
    new = probe.select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                       "embedding")
    ivf_append(spark, path, new)
    # no new cell directories appeared
    assert sorted(d for d in os.listdir(path)
                  if d.startswith("__cell__=")) == cells_before

    out = ivf_search(spark, path, probe, k=2, n_probe=8).collect()
    top = {r["rank"]: r["corpus_id"] for r in out}
    # the appended exact copy has sim 1.0; ties (itself excluded) put
    # the copy at rank 1
    assert top[1] == 1_000_003
    plan_df = ivf_search(spark, path, probe, k=2, n_probe=2)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cell__" in plan


def test_compact_parquet_detection_ignores_ancestor_kv_dirs(spark, tmp_path):
    """Review r7: an ancestor directory named key=value must NOT flag
    an unpartitioned table, across path-normalization differences."""
    import os

    from csvplus_spark.operators.maintenance import compact_parquet

    base = tmp_path / "run=7" / "tbl"
    base.mkdir(parents=True)
    spark.range(0, 500).repartition(8).write.mode("overwrite") \
        .parquet(str(base))
    # unpartitioned table under a key=value ancestor: must NOT raise
    n_before, n_after = compact_parquet(spark, str(base),
                                        target_bytes=1 << 30)
    assert n_after <= n_before
    assert spark.read.parquet(str(base)).count() == 500


def test_dsir_prefers_target_like_docs(spark):
    """DSIR weights (Xie et al. 2023): docs sharing vocabulary with
    the target exemplars must out-weight disjoint-vocabulary docs,
    and empty docs score exactly 0.0."""
    import pyspark.sql.functions as F

    from csvplus_spark.operators.text import dsir_logweights

    rows = [
        (0, "the quick brown fox jumps", True),     # target exemplar
        (1, "the quick brown dog runs", False),     # target-like
        (2, "xylophone quartz vortex blitz", False),  # disjoint
        (3, "", False),                             # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = {r.doc_id: r for r in
           dsir_logweights(df, F.col("tgt"), n_buckets=1000).collect()}
    assert out[1].dsir_logw > out[2].dsir_logw
    assert out[3].n_feats == 0 and out[3].dsir_logw == 0.0
    assert out[0].n_feats == 5 + 4  # unigrams + bigrams
    with pytest.raises(ValueError):
        dsir_logweights(df, F.col("tgt"), n_buckets=0)


def test_systematic_weighted_sample_properties(spark):
    """Systematic resampling invariants: exactly n rows kept when all
    weights < W/n... more precisely ≤ n always, = n when no interval
    holds 2+ sample points; a row with w ≥ W/n is ALWAYS kept;
    zero/NULL-weight rows never are; negative weights raise."""
    from pyspark.sql.utils import AnalysisException, PythonException

    from csvplus_spark.operators.sampling import systematic_weighted_sample

    rows = [(i, 10) for i in range(100)] + [(100, 5000), (101, 0),
                                           (102, None)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    kept = {r.doc_id
            for r in systematic_weighted_sample(df, "w", 12, "doc_id")
            .collect()}
    assert len(kept) <= 12
    assert 100 in kept          # w=5000 ≥ W/12=500 → certain
    assert 101 not in kept and 102 not in kept
    # monotone-ish sanity: a bigger n keeps a superset? NOT guaranteed
    # for systematic strides — assert size behavior instead
    kept30 = {r.doc_id
              for r in systematic_weighted_sample(df, "w", 30, "doc_id")
              .collect()}
    assert len(kept30) <= 30 and len(kept30) > len(kept) - 1
    with pytest.raises(ValueError):
        systematic_weighted_sample(df, "w", 0, "doc_id")
    neg = spark.createDataFrame([(0, -5)], "doc_id long, w long")
    with pytest.raises(Exception) as ei:
        systematic_weighted_sample(neg, "w", 1, "doc_id").collect()
    assert "negative weight" in str(ei.value)


def test_kmeans_assign_properties(spark, sf_dir):
    """Lloyd invariants at sf0.001: every vector assigned to exactly
    one of ≤k cells; iters=0 equals the pure seed-Voronoi assignment;
    one update round strictly lowers (or keeps) total within-cluster
    d² vs the seed assignment."""
    from csvplus_spark.operators.similarity import kmeans_assign
    from csvplus_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").df
    a2 = kmeans_assign(emb, 8, iters=2)
    rows = a2.collect()
    assert len(rows) == emb.count()
    cells = {r.cell for r in rows}
    assert len(cells) <= 8 and cells <= set(range(8))
    a0 = {r.vec_id: r.cell for r in
          kmeans_assign(emb, 8, iters=0).collect()}
    # iters=0 is the seed-Voronoi stage: seeds assign to themselves
    for s in range(8):
        assert a0[s] == s
    with pytest.raises(ValueError):
        kmeans_assign(emb, 0)


def test_minhash_hot_band_triangle_identity(spark):
    """The triangle-decomposed hot-bucket band join must emit the
    EXACT same verified pair set as the plain self-join, on a corpus
    engineered to have hot (band, sig) buckets (near-identical
    boilerplate variants that are not byte-identical)."""
    from csvplus_spark.operators.dedup import minhash_dedup_pairs

    rows = [(i, f"the same boilerplate legal footer text appears here "
                f"again and again with tiny suffix variant {i % 3}")
            for i in range(60)]
    rows += [(100 + i, f"genuinely unique document number {i} about "
                       f"topic {i * 7} with its own words") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {(r.doc_id_1, r.doc_id_2) for r in
             minhash_dedup_pairs(df, 0.5).collect()}
    tri = {(r.doc_id_1, r.doc_id_2) for r in
           minhash_dedup_pairs(df, 0.5, hot_band_cap=8,
                               hot_band_splits=4).collect()}
    assert plain == tri and len(plain) > 100


def test_pq_family_properties(spark, sf_dir):
    """PQ invariants: codebook is exactly m·k rows at iters=0 (the
    seed subvectors); codes are in [0, k); ADC self-distance ranks a
    vector first for its own probe when codes are distinctive; m must
    divide dim. The dimension is read from a non-NULL vector, so a
    NULL first row changes nothing; empty input encodes and searches
    to an empty frame of the normal schema, but seeds no codebook."""
    import pyspark.sql.functions as F

    from csvplus_spark.operators.similarity import (pq_codebooks,
                                                    pq_encode, pq_topk)
    from csvplus_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").df
    cb0 = pq_codebooks(emb, m=8, k=8, iters=0)
    assert cb0.count() == 64
    cb = pq_codebooks(emb, m=8, k=8, iters=1)
    codes = pq_encode(emb, cb, m=8)
    r = codes.agg(F.min("code"), F.max("code"),
                  F.count(F.lit(1))).collect()[0]
    assert r[0] >= 0 and r[1] < 8
    assert r[2] == emb.count() * 8
    top = pq_topk(emb.filter(F.col("vec_id") < 5), codes, cb, k=3, m=8)
    rows = top.collect()
    per_q = {}
    for row in rows:
        per_q.setdefault(row.query_id, []).append(row.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    with pytest.raises(ValueError):
        pq_codebooks(emb, m=7, k=8)

    holed = spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0, 0.0, 1.0]), (2, [0.0, 1.0, 1.0, 0.0]),
         (3, [1.0, 1.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
    hcb = pq_codebooks(holed, m=2, k=2, iters=1)
    hcodes = pq_encode(holed, hcb, m=2)
    assert hcodes.count() == 8
    htop = pq_topk(holed, hcodes, hcb, k=2, m=2)
    assert {r.query_id for r in htop.collect()} == {0, 1, 2, 3}
    empty = holed.limit(0)
    for got, full in ((pq_encode(empty, hcb, m=2), hcodes),
                      (pq_topk(empty, hcodes, hcb, k=2, m=2), htop)):
        assert got.schema == full.schema and got.count() == 0
    with pytest.raises(ValueError):
        pq_codebooks(empty, m=2, k=2)


def test_null_distance_never_wins_argmin(spark, tmp_path):
    """A NULL seed vector has a NULL distance to every vector. Every
    assignment orders NULL distances LAST, like the oracles' ``ORDER BY
    d2, cell`` in DuckDB, so it never wins an argmin: kmeans_assign
    matches _kmeans_sql() run by DuckDB on the same rows, and neither
    pq_encode nor ivf_append hands a non-NULL vector to the
    NULL-distance cell."""
    import json

    import duckdb
    import pyarrow as pa

    import __spark_entry__ as e
    from csvplus_spark.operators.similarity import (ivf_append,
                                                    kmeans_assign,
                                                    pq_codebooks, pq_encode)

    rows = [(0, None), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = duckdb.connect()
    con.register("embeddings", pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows],
                              pa.list_(pa.float32()))}))
    for iters in (0, 2):
        want = sorted(con.execute(e._kmeans_sql(k=2, iters=iters)).fetchall())
        got = sorted(tuple(r) for r in
                     kmeans_assign(df, 2, iters=iters).collect())
        assert got == want

    cb = pq_codebooks(df, m=2, k=2)
    assert {r.cell for r in cb.collect() if r.centroid is None} == {0}
    codes = pq_encode(df.filter(F.col("vec_id") > 0), cb, m=2).collect()
    assert len(codes) == 6 and all(r.code == 1 for r in codes)

    path = tmp_path / "ivf"
    path.mkdir()
    (path / "_ivf_centroids.json").write_text(
        json.dumps([None, [1.0, 0.0], [0.0, 1.0]]))
    ivf_append(spark, str(path), df)
    cells = {r["corpus_id"]: r["__cell__"]
             for r in spark.read.parquet(str(path)).collect()}
    assert cells == {0: 0, 1: 1, 2: 2, 3: 1}


def test_minhash_join_cross_table(spark):
    """Fuzzy cross-table join: near-identical docs across two corpora
    pair up with high Jaccard; unrelated docs don't; the join is
    directional (left_id from left, right_id from right)."""
    from csvplus_spark.operators.dedup import minhash_join

    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely unrelated text about spark and parquet files")],
        "doc_id long, text string")
    right = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog yesterday"),
         (20, "another disjoint document discussing minhash bands only")],
        "doc_id long, text string")
    rows = minhash_join(left, right, 0.5).collect()
    pairs = {(r.left_id, r.right_id) for r in rows}
    assert pairs == {(1, 10)}
    assert all(r.jaccard >= 0.5 for r in rows)


def test_bm25_search_retrieval(spark):
    """BM25 retrieval: a doc dense in the query terms ranks first;
    docs with no query term never appear; empty query raises."""
    from csvplus_spark.operators.text import bm25_search

    df = spark.createDataFrame(
        [(1, "spark shuffle spark join shuffle spark"),
         (2, "spark appears once here among many other filler words "
             "that dilute the term frequency signal a lot more"),
         (3, "nothing relevant at all in this document"),
         (4, "join join"),
         ],
        "doc_id long, text string")
    rows = bm25_search(df, ["spark", "join", "shuffle"], k=10).collect()
    got = [r.doc_id for r in rows]
    assert 3 not in got
    assert got[0] == 1
    assert {r.doc_id: r.n_terms for r in rows}[1] == 3
    with pytest.raises(ValueError):
        bm25_search(df, [])


def test_embedding_drift_detects_shift(spark):
    """Drift monitor: identical corpora → shift 0 everywhere; a
    constant displacement on one dimension shows up on exactly that
    dimension with a large effect size."""
    import pyspark.sql.functions as F

    from csvplus_spark.operators.profile import embedding_drift

    base = spark.range(0, 200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.pmod(F.col("id") * (i + 7), F.lit(97)) / 97.0
                   ).cast("float") for i in range(4)]).alias("embedding"))
    same = embedding_drift(base, base).collect()
    assert all(r.shift == 0.0 for r in same)
    moved = base.select(
        "vec_id",
        F.array(F.col("embedding")[0] + F.lit(5.0).cast("float"),
                F.col("embedding")[1], F.col("embedding")[2],
                F.col("embedding")[3]).alias("embedding"))
    drift = {r.dim: r for r in embedding_drift(base, moved).collect()}
    assert drift[0].shift > 10
    assert drift[1].shift < 1 and drift[2].shift < 1
    assert abs(drift[0].mean_r - drift[0].mean_l - 5.0) < 1e-4


def test_triangle_randomized_identity(spark):
    """Randomized pin for the hot-band triangle: over seeded random
    corpora (template clusters + unique docs), the triangle path must
    emit EXACTLY the plain path's verified pair set for random
    cap/splits — including splits larger than any bucket and cap=1
    (everything hot)."""
    import random

    from csvplus_spark.operators.dedup import minhash_dedup_pairs

    for seed, cap, splits in [(11, 1, 3), (12, 4, 17), (13, 2, 2)]:
        rng = random.Random(seed)
        rows = []
        for i in range(36):
            if rng.random() < 0.6:
                t = rng.randrange(3)
                rows.append((i, f"shared template {t} text body repeated "
                                f"across docs with suffix {i % 2} and "
                                f"some filler words here"))
            else:
                rows.append((i, " ".join(
                    f"w{rng.randrange(1000)}" for _ in range(12))))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        plain = {(r.doc_id_1, r.doc_id_2, r.jaccard) for r in
                 minhash_dedup_pairs(df, 0.4).collect()}
        tri = {(r.doc_id_1, r.doc_id_2, r.jaccard) for r in
               minhash_dedup_pairs(df, 0.4, hot_band_cap=cap,
                                   hot_band_splits=splits).collect()}
        assert plain == tri, (seed, cap, splits)


def test_weighted_sample_randomized_invariants(spark):
    """Randomized invariants for systematic resampling: ≤n kept,
    certainty rows always kept, zero-weight rows never, and the
    selection is a pure function of (data, n, salt) — two evaluations
    agree row-for-row."""
    import random

    from csvplus_spark.operators.sampling import systematic_weighted_sample

    for seed in (5, 6):
        rng = random.Random(seed)
        rows = [(i, rng.choice([0, 1, 3, 10, 50, 2000]))
                for i in range(150)]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        n = rng.choice([7, 23])
        total = sum(w for _, w in rows)
        kept1 = {r.doc_id for r in
                 systematic_weighted_sample(df, "w", n, "doc_id").collect()}
        kept2 = {r.doc_id for r in
                 systematic_weighted_sample(df, "w", n, "doc_id").collect()}
        assert kept1 == kept2
        assert len(kept1) <= n
        for did, w in rows:
            if w == 0:
                assert did not in kept1
            elif w * n >= total:
                assert did in kept1, (seed, did, w)


def test_minhash_join_collapsed_identity(spark):
    """The collapsed cross-table join (collapse True, and None: neither
    side has scan files) must equal the plain one on a corpus with
    exact duplicates on BOTH sides (incl. identical-text cross-table
    pairs at J=1.0)."""
    from csvplus_spark.operators.dedup import minhash_join

    tmpl = "the quick brown fox jumps over the lazy dog variant"
    left = spark.createDataFrame(
        [(i, f"{tmpl} {i % 2}") for i in range(8)]
        + [(100, "totally unrelated left document about parquet files")],
        "doc_id long, text string")
    right = spark.createDataFrame(
        [(200 + i, f"{tmpl} {i % 2}") for i in range(6)]
        + [(300, "totally different right document about arrow batches")],
        "doc_id long, text string")
    plain = _collapse_identical(lambda c: {
        (r.left_id, r.right_id, r.jaccard)
        for r in minhash_join(left, right, 0.5, collapse=c).collect()})
    assert len(plain) >= 8 * 6


def test_ivf2_seeded_properties(spark, sf_dir):
    """Two-level IVF invariants: each query returns ≤k contiguous
    ranks; results are a subset of the probed fine cells' members;
    recall vs brute force is nontrivial at the default probe budget."""
    from csvplus_spark.operators.similarity import (brute_force_topk,
                                                    ivf2_seeded_topk)
    from csvplus_spark.sources.parquet import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings").df
    res = ivf2_seeded_topk(emb, k=5).collect()
    per_q = {}
    for r in res:
        per_q.setdefault(r.query_id, []).append(r)
    assert len(per_q) == 50
    for rows in per_q.values():
        assert sorted(x.rank for x in rows) == list(range(1, len(rows) + 1))
        assert all(x.query_id != x.corpus_id for x in rows)
    exact = brute_force_topk(emb.filter(F.col("vec_id") < 50), emb,
                             k=5).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r.query_id, set()).add(r.corpus_id)
    hits = sum(len(ex[q] & {x.corpus_id for x in per_q.get(q, [])})
               for q in ex)
    assert hits / (5 * len(ex)) > 0.3


def test_funnel_and_retention(spark):
    """Funnel: greedy first-match semantics incl. the documented miss
    (a converting SECOND view does not count); step ordering and the
    within-window bound enforced. Retention: cohort 0 offsets."""
    import datetime as dt

    from csvplus_spark.operators.events_analytics import (cohort_retention,
                                                          funnel_completion)

    T0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return T0 + dt.timedelta(hours=h)

    rows = [
        # u1 completes: view@0 click@1 purchase@2
        (1, ts(0), "view"), (1, ts(1), "click"), (1, ts(2), "purchase"),
        # u2: click BEFORE view → not counted; no click after → t2 null
        (2, ts(0), "click"), (2, ts(1), "view"),
        # u3: click arrives outside the 24h window
        (3, ts(0), "view"), (3, ts(30), "click"),
        # u4: greedy miss — first view's click converts nothing, the
        # within-window click after view#1 STILL matches (>= t1)
        (4, ts(0), "view"), (4, ts(5), "view"), (4, ts(6), "click"),
        # u5 never starts
        (5, ts(0), "purchase"),
    ]
    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in rows],
        "user_id long, ts timestamp, event_type string")
    out = {r.user_id: r for r in
           funnel_completion(df, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].completed and out[1].t3_us > out[1].t2_us > out[1].t1_us
    assert out[2].t2_us is None and not out[2].completed
    assert out[3].t2_us is None
    assert out[4].t2_us is not None and not out[4].completed
    with pytest.raises(ValueError):
        funnel_completion(df, ["view"])

    ret = {(r.cohort_period, r.period_offset): r.n_users for r in
           cohort_retention(df).collect()}
    # all users' events are in one week → single cohort, offset 0
    assert len(ret) == 1 and list(ret.values()) == [5]


def test_merge_upsert_batch(spark, tmp_path):
    """Batch MERGE: update-wins by key, inserts appended, optional
    delete_filter applied to the current side, bootstrap on a missing
    table, and counts reported."""
    import pyspark.sql.functions as F

    from csvplus_spark.operators.maintenance import merge_upsert

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id long, name string, v long")
    b0, a0 = merge_upsert(spark, path, base, ["id"])
    assert (b0, a0) == (0, 3)
    upd = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "id long, name string, v long")
    b1, a1 = merge_upsert(spark, path, upd, ["id"])
    assert (b1, a1) == (3, 4)
    rows = {r.id: (r.name, r.v)
            for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30),
                    4: ("d", 40)}
    # delete rows with v >= 200 from the current side while upserting 1
    # (current: 1:10, 2:200, 3:30, 4:40 → 2 deleted, 1 replaced)
    upd2 = spark.createDataFrame([(1, "A", 100)],
                                 "id long, name string, v long")
    b2, a2 = merge_upsert(spark, path, upd2, ["id"],
                          delete_filter=F.col("v") >= 200)
    rows2 = {r.id for r in spark.read.parquet(path).collect()}
    assert rows2 == {1, 3, 4} and (b2, a2) == (4, 3)


def test_mean_pool_embeddings(spark):
    """Pooled vector = exact quantized mean per dimension; singleton
    groups return (approximately) the member; NULL vectors skipped."""
    from csvplus_spark.operators.similarity import mean_pool_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 3.0]), (1, [3.0, 5.0]), (2, [7.0, 9.0]),
         (3, None)],
        "g long, embedding array<float>")
    out = {r.g: r for r in mean_pool_embeddings(df, "g").collect()}
    assert out[1].pooled == [2.0, 4.0] and out[1].n_members == 2
    assert out[2].pooled == [7.0, 9.0] and out[2].n_members == 1
    assert 3 not in out


def test_hashed_linear_scorer_separates_labels(spark):
    """The diagonal-ridge scorer must score label-1-vocabulary docs
    above label-0 docs on held-in data, and a bucket's weight must be
    exactly Σxy/(Σx²+λ)."""
    import pyspark.sql.functions as F

    from csvplus_spark.operators.text import hashed_linear_scorer

    rows = ([(i, "alpha beta gamma delta", True) for i in range(5)]
            + [(10 + i, "omega psi chi phi", False) for i in range(5)]
            + [(100, "alpha beta unseen words", False),
               (101, "", False)])
    df = spark.createDataFrame(rows, "doc_id long, text string, y boolean")
    out = {r.doc_id: r for r in
           hashed_linear_scorer(df, F.col("y"), n_buckets=4096).collect()}
    pos = min(out[i].lin_score for i in range(5))
    neg = max(out[10 + i].lin_score for i in range(5))
    assert pos > neg
    # doc 100 shares positive vocabulary → scores above pure-negative
    assert out[100].lin_score > neg
    assert out[101].n_tokens == 0 and out[101].lin_score == 0.0
    with pytest.raises(ValueError):
        hashed_linear_scorer(df, F.col("y"), n_buckets=0)


def test_integer_pagerank_properties(spark, graph_paths):
    """Integer PageRank: a hub (star center) out-ranks leaves; an
    isolated clique splits mass evenly; total mass ≈ 1 (integer-div
    remainders only); deterministic across evaluations."""
    from csvplus_spark.operators.graph import integer_pagerank

    edges = spark.createDataFrame(
        # star: 0 at center of 1..4; clique: 10-11-12 triangle
        [(0, i) for i in range(1, 5)]
        + [(10, 11), (11, 12), (10, 12)],
        "doc_id_1 long, doc_id_2 long")
    for _ in graph_paths():
        out = {r.node: r.pr for r in integer_pagerank(edges).collect()}
        assert out[0] > out[1]
        assert out[1] == out[2] == out[3] == out[4]
        assert out[10] == out[11] == out[12]
        assert abs(sum(out.values()) - 1.0) < 1e-4
        out2 = {r.node: r.pr for r in integer_pagerank(edges).collect()}
        assert out == out2
        with pytest.raises(ValueError):
            integer_pagerank(edges, damping_num=21)


def test_graph_paths_identical_on_edge_cases(spark, graph_paths):
    """The driver finish and the distributed loop of dup_clusters,
    _cc_min_label and integer_pagerank return the same rows AND the same
    schema on the inputs the fast path could get wrong: an empty edge
    list, self-loops only, a NULL endpoint, isolated ``nodes=`` ids,
    int32 and mixed int32/int64 ids (the rest are int64), string ids,
    non-nullable columns and a chain longer than max_iter rounds could
    cover without pointer jumping. Neither path leaves anything
    persisted once its results are dropped."""
    from csvplus_spark.operators.dedup import _cc_min_label, dup_clusters
    from csvplus_spark.operators.graph import integer_pagerank

    def edges(rows, t="long"):
        return spark.createDataFrame(rows, f"doc_id_1 {t}, doc_id_2 {t}")

    inputs = {
        "empty": edges([]),
        "self_loops": edges([(1, 1), (2, 2)]),
        "null_endpoint": edges([(1, None), (2, 3), (None, 4), (3, 4)]),
        "int32": edges([(1, 2), (3, 2), (5, 6)], "int"),
        "mixed_width": spark.createDataFrame(
            [(1, 2), (3, 2), (5, 6)], "doc_id_1 int, doc_id_2 long"),
        "strings": edges([("b", "a"), ("c", "d"), ("a", "e")], "string"),
        "chain": edges([(i, i + 1) for i in range(60)]),
        "not_nullable": spark.range(8).select(
            F.col("id").alias("doc_id_1"),
            (F.col("id") % 3).alias("doc_id_2")),
    }
    sym = spark.createDataFrame([(1, 2), (2, 1), (5, 6), (6, 5)],
                                "a long, b long")
    nodes = spark.createDataFrame([(1,), (2,), (5,), (6,), (9,), (None,)],
                                  "a long")
    ops = [(f"{op}/{name}", fn, e) for name, e in inputs.items()
           for op, fn in (("cc", dup_clusters), ("pr", integer_pagerank))]
    ops += [("cc/nodes", lambda e: _cc_min_label(e, nodes), sym),
            ("pr0/int32", lambda e: integer_pagerank(e, iters=0),
             inputs["int32"])]
    results = {}
    for path in graph_paths():
        before = _persisted(spark)
        for key, fn, e in ops:
            out = fn(e)
            results.setdefault(key, []).append(
                (out.schema, sorted(map(tuple, out.collect()), key=repr)))
        del out
        assert not _leftover(spark, before), path
    for key, (driver, distributed) in results.items():
        assert driver == distributed, key
    assert results["cc/nodes"][0][1] == sorted(
        [(1, 1), (2, 1), (5, 5), (6, 5), (9, 9), (None, None)], key=repr)
    assert results["cc/null_endpoint"][0][1] == sorted(
        [(None, None), (1, 1), (2, 2), (3, 2), (4, 2)], key=repr)
    assert results["cc/chain"][0][1] == sorted(
        [(i, 0) for i in range(61)], key=repr)
    assert results["pr/empty"][0][1] == []


def test_operators_leave_no_cache_entry(spark, graph_paths, sf_dir):
    """No operator registers a plan with Spark's CacheManager, which
    holds it for the whole session: every intermediate an operator
    reuses is a lazy local checkpoint, freed by the ContextCleaner once
    no frame reads it. On sf0.01 and on both CC / PageRank paths, each
    operator that used to cache leaves the CacheManager empty, and the
    persisted-RDD set is back at its baseline once its result is
    dropped and garbage-collected."""
    from csvplus_spark.operators.dedup import (dup_clusters,
                                               dup_clusters_collapsed,
                                               minhash_join)
    from csvplus_spark.operators.graph import (integer_pagerank,
                                               triangle_count)
    from csvplus_spark.operators.similarity import kcenter_select
    from csvplus_spark.operators.text import dsir_logweights

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    docs = load_table(spark, sf, "documents").df
    emb = load_table(spark, sf, "embeddings").df
    # a plain edge list, so each graph operator's own reuse is checked
    pairs = spark.createDataFrame(
        ngram_jaccard_pairs(docs, 0.6).collect(),
        "doc_id_1 long, doc_id_2 long, jaccard double")
    assert pairs.count() > 0, "sf0.01 plants near-dups"
    ops = {
        "ngram": lambda: ngram_jaccard_pairs(docs, 0.6, hot_df=None),
        "ngram/hot": lambda: ngram_jaccard_pairs(docs, 0.6, hot_df=3),
        "minhash": lambda: minhash_dedup_pairs(docs, 0.6),
        "minhash/collapse": lambda: minhash_dedup_pairs(docs, 0.6,
                                                        collapse=True),
        "dup_clusters": lambda: dup_clusters(pairs),
        "dup_clusters_collapsed": lambda: dup_clusters_collapsed(docs),
        "minhash_join": lambda: minhash_join(
            docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")),
        "integer_pagerank": lambda: integer_pagerank(pairs),
        "triangle_count": lambda: triangle_count(pairs),
        "kcenter_select": lambda: kcenter_select(emb, k=4),
        "dsir_logweights": lambda: dsir_logweights(
            docs, F.col("lang") == "en", n_buckets=1000),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # another test's explicit cache() is not ours
    for path in graph_paths():
        for name, op in ops.items():
            before = _persisted(spark)
            op().collect()
            assert cache.isEmpty(), (path, name)
            assert not _leftover(spark, before), (path, name)


def test_operators_reuse_only_lazy_checkpoints():
    """One mechanism reuses an intermediate inside the library: a lazy
    local checkpoint. The operators and the driver entry module hold no
    cache(), persist() or unpersist() call; ``Frame.cache()`` stays the
    user's own opt-in."""
    root = pathlib.Path(__file__).resolve().parent.parent
    srcs = sorted((root / "csvplus_spark" / "operators").rglob("*.py"))
    srcs.append(root / "__spark_entry__.py")
    banned = re.compile(r"\.cache\(\)|\.persist\(|unpersist")
    hits = [f"{p.name}:{n}" for p in srcs
            for n, line in enumerate(p.read_text().splitlines(), 1)
            if banned.search(line)]
    assert hits == []


def test_one_blas_cosine_kernel():
    """The BLAS cosine candidates, their margin and the exact rescore
    live in similarity.py alone: dedup.py stacks no vectors, takes no
    norm in NumPy and spells no margin, and similarity.py spells the
    margin once — a copy of the recipe elsewhere fails here."""
    ops = pathlib.Path(__file__).resolve().parent.parent \
        / "csvplus_spark" / "operators"
    dedup = (ops / "dedup.py").read_text()
    assert [b for b in ("np.stack", "np.linalg.norm", "1e-6")
            if b in dedup] == []
    sim = (ops / "similarity.py").read_text()
    assert sim.count("1e-6") == 1
    assert len(re.findall(r"^COSINE_MARGIN = ", sim, re.M)) == 1


#: the eight exact-duplicate collapse families, by module
COLLAPSE_FAMILIES = {
    "dedup": ["ngram_jaccard_pairs", "ngram_containment_pairs",
              "minhash_dedup_pairs", "minhash_join", "semantic_dedup",
              "embedding_near_pairs"],
    "text": ["repeated_spans", "remove_repeated_spans"],
}


def test_one_collapse_decision():
    """One default for every collapse family: no function in the
    operators or the entry module defaults ``collapse`` to a bool, the
    eight families default it to None, and ``collapse is None`` is
    tested in scanprobe.py alone, where ``collapse_wanted`` resolves
    it."""
    import ast

    root = pathlib.Path(__file__).resolve().parent.parent
    srcs = sorted((root / "csvplus_spark" / "operators").rglob("*.py"))
    srcs.append(root / "__spark_entry__.py")
    defaults, resolved = {}, set()
    for p in srcs:
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.FunctionDef):
                a = node.args
                pos = a.posonlyargs + a.args
                pairs = list(zip(pos[len(pos) - len(a.defaults):],
                                 a.defaults))
                pairs += list(zip(a.kwonlyargs, a.kw_defaults))
                for arg, d in pairs:
                    if arg.arg == "collapse":
                        defaults[(p.stem, node.name)] = \
                            getattr(d, "value", d)
            elif isinstance(node, ast.Compare) \
                    and getattr(node.left, "id", None) == "collapse" \
                    and any(isinstance(o, (ast.Is, ast.IsNot))
                            for o in node.ops):
                resolved.add(p.name)
    families = {(m, f) for m, fs in COLLAPSE_FAMILIES.items() for f in fs}
    assert families <= set(defaults)
    assert {k: v for k, v in defaults.items() if v is not None} == {}
    assert resolved == {"scanprobe.py"}


def test_collapse_gate_picks_the_path(spark, monkeypatch):
    """The gate alone decides: with ``collapse_wanted`` patched to
    answer True, each of the eight families, called with its default
    ``collapse``, builds the exact-duplicate groups (a spy on
    ``dedup._exact_groups``); patched to False, none does."""
    from csvplus_spark.operators import dedup, text

    calls = []
    real = dedup._exact_groups

    def spy(*args, **kw):
        calls.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(dedup, "_exact_groups", spy)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")],
        "doc_id long, text string")
    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.0])],
                                "vec_id long, embedding array<float>")
    args = {"minhash_join": (docs, docs), "semantic_dedup": (emb, 0.4, 1),
            "embedding_near_pairs": (emb, 0.4)}
    for answer in (True, False):
        for mod in (dedup, text):
            monkeypatch.setattr(
                mod, "collapse_wanted",
                lambda *dfs, collapse=None, a=answer: a)
        for mod, fs in COLLAPSE_FAMILIES.items():
            for f in fs:
                calls.clear()
                getattr(dedup if mod == "dedup" else text, f)(
                    *args.get(f, (docs,)))
                assert bool(calls) == answer, (f, answer)


def test_cc_round_cap_raises(spark, graph_paths, monkeypatch):
    """The distributed connected-components loop raises, naming the
    cap, when ``CC_MAX_ROUNDS`` rounds leave its labels short of a
    fixpoint, instead of returning partial components; the driver
    finish has no cap. At the default cap the 60-edge chain matches
    the driver path (test_graph_paths_identical_on_edge_cases)."""
    from csvplus_spark.errors import CsvPlusError
    from csvplus_spark.operators import dedup

    chain = spark.createDataFrame([(i, i + 1) for i in range(60)],
                                  "doc_id_1 long, doc_id_2 long")
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 3)
    for path in graph_paths():
        if path == "driver":
            got = sorted(map(tuple, dedup.dup_clusters(chain).collect()))
            assert got == [(i, 0) for i in range(61)]
        else:
            with pytest.raises(CsvPlusError, match="CC_MAX_ROUNDS=3"):
                dedup.dup_clusters(chain)


def test_triangle_count_exact(spark):
    """Triangle membership: K4 gives 3 per node; adding a pendant
    edge adds no triangles; a square (4-cycle) has none."""
    from csvplus_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(
        k4 + [(3, 9)] + [(10, 11), (11, 12), (12, 13), (13, 10)],
        "doc_id_1 long, doc_id_2 long")
    out = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_cluster_representatives_keep_best(spark):
    from csvplus_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 7)], ["doc_id", "n_chars"])
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["doc_id", "cluster_id"])
    got = {r["cluster_id"]: (r["rep_id"], r["rep_score"], r["n_members"])
           for r in cluster_representatives(
               docs, clusters, F.col("n_chars").cast("long")).collect()}
    # cluster 1: best score 9 tied between 2 and 3 → smallest id wins;
    # doc 4 has no edge → singleton cluster of itself
    assert got == {1: (2, 9, 3), 4: (4, 7, 1)}


def test_ccnet_buckets_partition_by_score(spark):
    from csvplus_spark.operators.text import ccnet_buckets

    common = "the cat sat on the mat and the dog sat too"
    docs = spark.createDataFrame(
        [(1, common), (2, common + " again"), (3, common + " once more"),
         (4, "zyx qwv plk jhg"), (5, "mnb vcx asd fgh"),
         (6, common + " the the the")],
        ["doc_id", "text"])
    rows = ccnet_buckets(docs).collect()
    assert len(rows) == 6 and {r["bucket"] for r in rows} == {
        "head", "middle", "tail"}
    by_bucket = {"head": [], "middle": [], "tail": []}
    for r in rows:
        by_bucket[r["bucket"]].append(r["lp_mean"])
    # buckets are ordered: every head score >= every middle >= every tail
    assert min(by_bucket["head"]) >= max(by_bucket["middle"])
    assert min(by_bucket["middle"]) >= max(by_bucket["tail"])
    # the rare-vocab docs are the tail
    tail_ids = sorted(r["doc_id"] for r in rows if r["bucket"] == "tail")
    assert set(tail_ids) <= {4, 5}


def test_kcenter_greedy_trajectory(spark):
    from csvplus_spark.operators.similarity import kcenter_select

    df = spark.createDataFrame(
        [(i + 1, [float(x)]) for i, x in enumerate([0, 1, 10, 11, 20])],
        "vec_id: long, embedding: array<float>")
    got = sorted(tuple(r) for r in kcenter_select(df, 3).collect())
    # start at min id (x=0); farthest is x=20 (d2=400); then x=10
    # covers the middle (min-d2 100 beats 1, 81)
    assert got == [(0, 1, 0.0), (1, 5, 400.0), (2, 3, 100.0)]


def test_cms_never_underestimates_and_collides_upward(spark):
    from csvplus_spark.operators.sketch import cms_build, cms_estimate

    terms = [("apple",)] * 5 + [("banana",)] * 3 + [("cherry",)] * 1
    df = spark.createDataFrame(terms, ["term"])
    # tiny width forces collisions: estimates may exceed, never undercut
    sk = cms_build(df, "term", d=4, w=2)
    uniq = spark.createDataFrame(
        [("apple",), ("banana",), ("cherry",)], ["term"])
    est = {r["term"]: r["cms_est"]
           for r in cms_estimate(sk, uniq, "term", d=4, w=2).collect()}
    exact = {"apple": 5, "banana": 3, "cherry": 1}
    for t, e in exact.items():
        assert est[t] >= e, (t, est[t], e)
    # with a wide grid the estimates are exact (no collisions at n=3)
    sk2 = cms_build(df, "term", d=4, w=4096)
    est2 = {r["term"]: r["cms_est"]
            for r in cms_estimate(sk2, uniq, "term", d=4, w=4096).collect()}
    assert est2 == exact


def test_mad_outliers_flags_and_constant_group(spark):
    from csvplus_spark.operators.profile import mad_outliers

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 1.0), (3, "a", 1.0), (4, "a", 100.0),
         (5, "b", 7.0), (6, "b", 7.0)],
        ["event_id", "event_type", "value"])
    got = {r["event_id"]: r["is_outlier"]
           for r in mad_outliers(df, "value", "event_type", 3.0,
                                 id_cols=["event_id"]).collect()}
    # group a: MAD=0 -> any deviation from the median flags; group b
    # constant -> nothing flags
    assert got == {1: False, 2: False, 3: False, 4: True,
                   5: False, 6: False}


def test_leakage_safe_split_never_straddles(spark, sf_dir):
    from csvplus_spark.operators.dedup import dup_clusters, ngram_jaccard_pairs
    from csvplus_spark.operators.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents").df
    pairs = ngram_jaccard_pairs(docs, 0.6).localCheckpoint(eager=False)
    out = leakage_safe_split(docs, dup_clusters(pairs))
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    checked = 0
    for r in pairs.collect():
        assert split_of[r["doc_id_1"]] == split_of[r["doc_id_2"]]
        checked += 1
    assert checked > 0, "generator should plant near-dups"
    # with an empty pair graph it degenerates to the per-doc split
    from csvplus_spark.operators.sampling import train_val_test_split
    empty = spark.createDataFrame([], "doc_id: long, cluster_id: long")
    solo = leakage_safe_split(docs, empty)
    base = train_val_test_split(docs.select("doc_id"), "doc_id")
    assert ({(r["doc_id"], r["split"]) for r in solo.collect()}
            == {(r["doc_id"], r["split"]) for r in base.collect()})


def test_containment_catches_superset_dup_jaccard_misses(spark):
    from csvplus_spark.operators.dedup import (ngram_containment_pairs,
                                               ngram_jaccard_pairs)

    core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    extra = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, core), (2, core + " " + extra), (3, "unrelated text entirely")],
        ["doc_id", "text"])
    cont = {(r[0], r[1]): r[2]
            for r in ngram_containment_pairs(df, 0.8).collect()}
    assert (1, 2) in cont and cont[(1, 2)] == 1.0  # A's shingles ⊆ B's
    jac = {(r[0], r[1]) for r in ngram_jaccard_pairs(df, 0.6).collect()}
    assert (1, 2) not in jac  # symmetric Jaccard structurally misses it


def test_containment_hot_fallback_is_lossless(spark, sf_dir):
    from csvplus_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents").df
    plain = {(r[0], r[1]) for r in
             ngram_containment_pairs(docs, 0.8, hot_df=None).collect()}
    # hot_df=1 marks EVERY repeated shingle hot — maximal fallback load
    hot = {(r[0], r[1]) for r in
           ngram_containment_pairs(docs, 0.8, hot_df=1).collect()}
    assert plain and hot == plain


def test_containment_collapsed_identity(spark, sf_dir):
    """ngram_containment_pairs collapse True == False == None on the
    corpus plus injected exact copies and a shingle-free twin pair (the
    corpus alone has no exact duplicates, so only the injected rows
    build groups of ≥2)."""
    from csvplus_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents").df.select("doc_id", "text")
    copies = docs.limit(12).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    twins = spark.createDataFrame(
        [(9_000_001, "tiny tiny"), (9_000_002, "tiny tiny")],
        "doc_id long, text string")
    corpus = docs.unionByName(copies).unionByName(twins)
    plain = _collapse_identical(lambda c: {
        (r[0], r[1], round(r[2], 9))
        for r in ngram_containment_pairs(corpus, 0.8, collapse=c).collect()})
    assert plain
    assert sum(d2 >= 1_000_000 for _, d2, _ in plain) >= 12
    assert not any(d1 == 9_000_001 for d1, _, _ in plain)


def test_kcore_peels_pendants_keeps_triangle(spark):
    from csvplus_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4), (5, 6)],
        ["doc_id_1", "doc_id_2"])
    got = sorted(tuple(r) for r in kcore_peel(edges, 2, 4).collect())
    assert got == [(1, 2), (2, 2), (3, 2)]  # 2-core = the triangle


def test_kcore_rounds_reach_fixpoint(spark, sf_dir):
    from csvplus_spark.operators.dedup import minhash_dedup_pairs
    from csvplus_spark.operators.graph import kcore_peel

    pairs = minhash_dedup_pairs(
        load_table(spark, sf_dir, "documents").df, 0.6).localCheckpoint(
            eager=False)
    at6 = sorted(tuple(r) for r in kcore_peel(pairs, 2, 6).collect())
    at7 = sorted(tuple(r) for r in kcore_peel(pairs, 2, 7).collect())
    assert at6 and at7 == at6  # one extra peel changes nothing


def test_edit1_value_pairs_neighborhood_complete(spark):
    from csvplus_spark.operators.dedup import edit1_value_pairs

    df = spark.createDataFrame(
        [("cat",), ("cart",), ("bat",), ("dog",), ("cat",), ("",), ("a",)],
        ["name"])
    got = sorted(tuple(r) for r in edit1_value_pairs(df, "name").collect())
    # insertion ("" vs "a"), substitution (bat/cat), deletion (cart/cat);
    # duplicate values collapse; dog isolated; no d=2 pairs (bat/cart)
    assert got == [("", "a", 1), ("bat", "cat", 1), ("cart", "cat", 1)]


def test_edit1_matches_bruteforce(spark, sf_dir):
    from csvplus_spark.operators.dedup import edit1_value_pairs

    part = load_table(spark, sf_dir, "part").df
    got = {tuple(r) for r in edit1_value_pairs(part, "p_name").collect()}
    names = [r[0] for r in part.select("p_name").distinct().collect()]
    import itertools

    def lev1(a, b):  # brute edit<=1 check for short strings
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) <= 1
        s, t = (a, b) if la < lb else (b, a)
        return any(t[:i] + t[i + 1:] == s for i in range(len(t)))

    want = {(min(a, b), max(a, b), 1)
            for a, b in itertools.combinations(names, 2) if lev1(a, b)}
    assert got == want and got


def test_last_touch_attribution_semantics(spark):
    import datetime

    from csvplus_spark.operators.events_analytics import last_touch_attribution

    t = lambda s: datetime.datetime(2026, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, t(1), 10, "view"), (2, t(2), 10, "click"),
         (3, t(3), 10, "purchase"), (4, t(4), 10, "view"),
         (5, t(5), 10, "purchase"),           # 2nd purchase ignored
         (6, t(1), 20, "purchase"),           # converts with no prior
         (7, t(1), 30, "view")],              # never converts
        ["event_id", "ts", "user_id", "event_type"])
    got = {r["user_id"]: (r["attributed_type"], r["attributed_event_id"])
           for r in last_touch_attribution(df).collect()}
    # user 10: click (id 2) is the last touch before the FIRST purchase;
    # user 20 has no prior event, user 30 never converts — both absent
    assert got == {10: ("click", 2)}


def test_scd2_apply_semantics(spark):
    from csvplus_spark.operators.maintenance import scd2_apply

    hist = spark.createDataFrame(
        [(1, 100, 0, None), (2, 200, 0, None),
         (3, 300, 0, 50), (3, 310, 50, None)],
        "k: long, v: long, valid_from_us: long, valid_to_us: long")
    upd = spark.createDataFrame(
        [(1, 150, 100), (2, 200, 100), (4, 400, 100),
         (1, 140, 90)],  # stale duplicate for key 1 — latest wins
        "k: long, v: long, ts_us: long")
    got = sorted(tuple(r)
                 for r in scd2_apply(hist, upd, ["k"], ["v"]).collect())
    assert got == sorted([
        (1, 100, 0, 100),     # changed: old version closed at uts
        (1, 150, 100, None),  # ...and reopened with the new value
        (2, 200, 0, None),    # idempotent no-op update
        (3, 300, 0, 50),      # closed history passes through
        (3, 310, 50, None),   # current row with no update
        (4, 400, 100, None),  # brand-new key
    ])
    import pytest
    with pytest.raises(ValueError, match="neither keys"):
        scd2_apply(hist.withColumn("extra", hist.k), upd, ["k"], ["v"])


def test_events_ema_hand_example(spark):
    import datetime

    import __spark_entry__ as em

    t = lambda s: datetime.datetime(2026, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, t(1), 10, "view", 1.0, "{}"),
         (2, t(2), 10, "view", 3.0, "{}"),
         (3, t(3), 10, "view", 5.0, "{}"),
         (4, t(1), 20, "view", 7.0, "{}")],
        ["event_id", "ts", "user_id", "event_type", "value", "props"])
    import tempfile
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    got = {r["user_id"]: (r["n_events"], r["ema"])
           for r in em.queries()["events_ema"](spark, d).collect()}
    # user 10: ema = ((1*.5+3*.5)*.5 + 5*.5) = 1.0+ ... -> (2)*0.5+2.5 = 3.5
    assert got == {10: (3, 3.5), 20: (1, 7.0)}


def test_bloom_one_sided_and_false_positive_behavior(spark):
    from csvplus_spark.operators.sketch import bloom_build, bloom_contains

    inserted = spark.createDataFrame(
        [(f"term{i}",) for i in range(50)], ["term"])
    bloom = bloom_build(inserted)  # 2^16 bits, 4 hashes
    # every inserted term tests positive (one-sided guarantee)
    got = {r["term"]: r["in_bloom"]
           for r in bloom_contains(bloom, inserted).collect()}
    assert all(got.values()) and len(got) == 50
    # absent terms: definitely-false dominates at 200 bits set / 65536
    absent = spark.createDataFrame(
        [(f"other{i}",) for i in range(200)], ["term"])
    hits = (bloom_contains(bloom, absent)
            .filter("in_bloom").count())
    assert hits <= 2  # fp rate ~(200/65536)^4 — collisions ~impossible
    # tiny m forces false positives but never false negatives
    b2 = bloom_build(inserted, m_bits=64)
    got2 = bloom_contains(b2, inserted, m_bits=64).collect()
    assert all(r["in_bloom"] for r in got2)


def test_merge_upsert_delete_filter_keeps_null_rows(spark, tmp_path):
    """SQL MERGE delete semantics KEEP non-matching rows — a row where
    the delete predicate evaluates to NULL (NULL in the filtered
    column) must be kept, not silently dropped by ~NULL = NULL."""
    import pyspark.sql.functions as F

    from csvplus_spark.operators.maintenance import merge_upsert

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 10), (2, None), (3, 300)], "id long, v long")
    merge_upsert(spark, path, base, ["id"])
    upd = spark.createDataFrame([(4, 40)], "id long, v long")
    merge_upsert(spark, path, upd, ["id"], delete_filter=F.col("v") >= 200)
    rows = {r.id for r in spark.read.parquet(path).collect()}
    # id=2 (v NULL) does NOT match the delete predicate → kept
    assert rows == {1, 2, 4}


def test_kcenter_no_duplicate_centers_under_duplication(spark):
    """With fewer distinct vectors than k, max(mind2) hits 0; the
    argmax must then pick DISTINCT duplicate-position ids, never
    re-select an already-chosen center (duplicate coreset rows)."""
    from csvplus_spark.operators.similarity import kcenter_select

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0]),
         (4, [1.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = kcenter_select(df, k=4).collect()
    ids = [r.vec_id for r in out]
    assert len(ids) == len(set(ids)) == 4  # all four ids, no repeats
    # and with n < k the trailing rounds are simply empty
    out2 = kcenter_select(df.limit(2), k=4).collect()
    ids2 = [r.vec_id for r in out2]
    assert len(ids2) == len(set(ids2)) == 2


def test_cohort_retention_pre_epoch_floor(spark):
    """Period math is FLOOR division, not truncation toward zero:
    a pre-epoch (negative-µs) event one period before a user's
    1970+ cohort must land at offset -1, not 0."""
    import datetime as dt

    from csvplus_spark.operators.events_analytics import cohort_retention

    p_us = 7 * 24 * 3600 * 1_000_000
    epoch = dt.datetime(1970, 1, 1)
    rows = [
        # user A: first event 3 days BEFORE epoch → cohort -1;
        # second event 3 days after epoch → period 0 → offset 1
        ("A", epoch - dt.timedelta(days=3)),
        ("A", epoch + dt.timedelta(days=3)),
        # user B: both events in week 0
        ("B", epoch + dt.timedelta(days=1)),
        ("B", epoch + dt.timedelta(days=2)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {(r.cohort_period, r.period_offset): r.n_users
           for r in cohort_retention(df, period_us=p_us).collect()}
    assert out == {(-1, 0): 1, (-1, 1): 1, (0, 0): 1}


def test_semantic_dedup_collapse_identity(spark, graph_paths):
    """r8 duplication-immunity: semantic_dedup with collapse True and
    None (no scan files: the gate collapses) must be
    output-BYTE-IDENTICAL to the plain path on a corpus with heavy
    exact duplication, including the edges the collapse must respect —
    zero-norm vectors (pairwise cosine NULL → singletons either way)
    and a duplicate sitting among the would-be seed ids. Exact copies
    of every vector without a finite positive norm (NaN, ±Inf, a NULL
    element, zero) must not collapse either: they run exactly as on
    the plain path."""
    from csvplus_spark.operators.dedup import semantic_dedup

    rows = []
    # 6 copies of vector A spanning the seed range, 4 of B, 2 of C,
    # one near-A (cos > 0.4), one orthogonal, two ZERO vectors
    for i in range(6):
        rows.append((i, [1.0, 0.0, 0.0]))
    for i in range(6, 10):
        rows.append((i, [0.0, 1.0, 0.0]))
    rows += [(10, [0.0, 0.0, 1.0]), (11, [0.0, 0.0, 1.0]),
             (12, [0.9, 0.1, 0.0]),       # near A
             (13, [0.0, 0.0, 0.0]), (14, [0.0, 0.0, 0.0])]  # zero-norm
    nan, inf = float("nan"), float("inf")
    odd = [(20 + 2 * i + j, v) for i, v in enumerate(
        [[nan, 0.0, 0.0], [inf, 0.0, 0.0], [-inf, 0.0, 0.0],
         [None, 1.0, 0.0], [0.0, 0.0, 0.0]]) for j in range(2)]
    for extra in ([], odd):
        df = spark.createDataFrame(rows + extra,
                                   "vec_id long, embedding array<float>")
        for _ in graph_paths():
            plain = _collapse_identical(lambda c: sorted(
                tuple(r) for r in semantic_dedup(
                    df, 0.4, n_cells=4, collapse=c).collect()))
            if extra:
                continue
            out = dict((r[0], r[1]) for r in plain)
            assert out[13] == 13 and out[14] == 14  # zero vectors stay singletons
            assert out[5] == 0 and out[12] == 0     # dup group + near-dup share A's min id


def _components(pairs):
    """{id: min id of its component} over the (id_1, id_2, ...) rows
    ``pairs`` — union-find, for comparing two pair sets' connectivity."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r[0]), find(r[1])
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {x: find(x) for x in list(parent)}


def test_simhash_pair_cap(spark, sf_dir):
    """max_pairs_per_group (VERDICT r8 item 3): identity vs the
    uncapped form on low-duplication data; bounded star/bridge output
    with IDENTICAL connected components on a high-duplication corpus."""
    docs = load_table(spark, sf_dir, "documents").df.limit(120)
    key = lambda r: (r["doc_id_1"], r["doc_id_2"], r["hamming"])
    uncapped = sorted(map(key, simhash_near_pairs(docs, 3).collect()))
    capped = sorted(map(key, simhash_near_pairs(
        docs, 3, max_pairs_per_group=1000).collect()))
    assert capped == uncapped and capped

    # engineered duplication factor 40: two 40-member duplicate
    # families + 3 uniques. Uncapped: 2*C(40,2)=1560 Hamming-0 pairs;
    # capped at 100: 39 star rows per family.
    rows = [(i, "template family one with shared words") for i in range(40)]
    rows += [(100 + i, "totally different second template body")
             for i in range(40)]
    rows += [(900, "odd one out"), (901, "another loner xyz"),
             (902, "qwerty unrelated")]
    high = spark.createDataFrame(rows, "doc_id long, text string")
    full = simhash_near_pairs(high, 3).collect()
    cap = simhash_near_pairs(high, 3, max_pairs_per_group=100).collect()
    assert len(full) >= 2 * (40 * 39 // 2)
    assert len(cap) < len(full) / 5  # bounded, not quadratic

    assert _components(cap) == _components(full)  # connectivity preserved


def test_null_element_distance_skips_term(spark):
    """A vector with a NULL element gets the d² of its other elements,
    as the oracles' DuckDB ``list_sum`` skips the NULL term: with
    seeds [1,0] and [0,1], [NULL,0.9] is 0.81 from the first and 0.01
    from the second, so kmeans_assign puts it in the second cell, the
    same cell as _kmeans_sql() (a propagated NULL d² would send it to
    the lowest cell instead)."""
    import duckdb
    import pyarrow as pa

    import __spark_entry__ as e
    from csvplus_spark.operators.similarity import kmeans_assign

    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [None, 0.9])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = duckdb.connect()
    con.register("embeddings", pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows],
                              pa.list_(pa.float32()))}))
    want = sorted(con.execute(e._kmeans_sql(k=2, iters=0)).fetchall())
    got = sorted(tuple(r) for r in kmeans_assign(df, 2, iters=0).collect())
    assert got == want
    assert dict(got)[3] == 2


def test_collapse_identical_on_edge_cases(spark, graph_paths):
    """Every exact-duplicate collapse returns the rows AND the schema
    of its plain path on the inputs a collapse could get wrong: NULL,
    empty and whitespace-only text, an empty and a single-row frame,
    and NULL, NULL-element, zero, NaN and Inf vectors — each odd input
    twice, so it would collapse if its fingerprint let it. Each runs
    with collapse True, False and None (these frames have no scan
    files, so the gate collapses them). SimHash has
    no plain path: its pairs with the cap off equal an all-pairs
    Hamming join over simhash_table, and with the cap at 1 they keep
    those connected components in the same schema. exact_dedup's
    contract is pinned on the way: a NULL text has a NULL fingerprint
    and is left out, as in the oracle's SQL."""
    import duckdb
    import pyarrow as pa

    import __spark_entry__ as e
    from csvplus_spark.operators.dedup import (embedding_near_pairs,
                                               exact_dedup,
                                               minhash_dedup_pairs,
                                               ngram_containment_pairs,
                                               semantic_dedup,
                                               simhash_near_pairs)
    from csvplus_spark.operators.text import (remove_repeated_spans,
                                              repeated_spans)

    def result(df):  # NaN-safe: NaN sims pair NaN vectors on every path
        return df.schema, _nan_safe(df.collect())

    s = "doc_id long, text string"
    fox = "the quick brown fox jumps over the lazy dog"
    texts = {
        "edge": spark.createDataFrame(
            [(1, fox), (2, None), (3, fox), (4, None), (5, ""), (6, ""),
             (7, "   "), (8, "   "), (9, fox + " again and again"),
             (10, "The  Quick brown fox jumps over the lazy dog"),
             (11, "tiny"), (12, "tiny")], s),
        "empty": spark.createDataFrame([], s),
        "single": spark.createDataFrame([(1, fox)], s),
    }
    text_ops = {
        "jaccard": lambda d, c: ngram_jaccard_pairs(d, 0.5, collapse=c),
        "containment": lambda d, c: ngram_containment_pairs(
            d, 0.5, collapse=c),
        "minhash": lambda d, c: minhash_dedup_pairs(d, 0.5, collapse=c),
        "spans": lambda d, c: repeated_spans(d, k=3, collapse=c),
        "remove_spans": lambda d, c: remove_repeated_spans(
            d, k=3, collapse=c),
    }
    for name, docs in texts.items():
        for op, fn in text_ops.items():
            _collapse_identical(lambda c: result(fn(docs, c)), op, name)
    # the edge corpus does collapse: copies pair up in both paths
    assert (1, 3, 1.0) in result(
        ngram_jaccard_pairs(texts["edge"], 0.5, collapse=True))[1]

    nan, inf = float("nan"), float("inf")
    v = "vec_id long, embedding array<float>"
    vecs = {
        "edge": spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
             (3, [0.9, 0.1, 0.0]), (4, [0.0, 1.0, 0.0]), (5, None),
             (6, None), (7, [None, 1.0, 0.0]), (8, [None, 1.0, 0.0]),
             (9, [0.0, 0.0, 0.0]), (10, [0.0, 0.0, 0.0]),
             (11, [nan, 0.0, 0.0]), (12, [nan, 0.0, 0.0]),
             (13, [inf, 0.0, 0.0]), (14, [inf, 0.0, 0.0])], v),
        "empty": spark.createDataFrame([], v),
        "single": spark.createDataFrame([(1, [1.0, 0.0, 0.0])], v),
    }
    for name, emb in vecs.items():
        for m in ("grid", "lsh"):
            _collapse_identical(lambda c: result(embedding_near_pairs(
                emb, 0.4, method=m, dim=3, collapse=c)), m, name)
        for path in graph_paths():
            _collapse_identical(lambda c: result(
                semantic_dedup(emb, 0.4, n_cells=2, collapse=c)),
                "semantic_dedup", path, name)
    assert (1, 2, 1.0) in result(embedding_near_pairs(
        vecs["edge"], 0.4, dim=3, collapse=True))[1]

    for name, docs in texts.items():
        sh = simhash_table(docs, n_bits=60)
        ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        ref = (sh.alias("a").join(sh.alias("b"),
                                  (F.col("a.doc_id") < F.col("b.doc_id"))
                                  & (ham <= 3))
               .select(F.col("a.doc_id").alias("doc_id_1"),
                       F.col("b.doc_id").alias("doc_id_2"),
                       ham.alias("hamming")))
        off = result(simhash_near_pairs(docs, 3))
        at1 = result(simhash_near_pairs(docs, 3, max_pairs_per_group=1))
        assert off[1] == result(ref)[1], name
        assert at1[0] == off[0], name
        assert _components(at1[1]) == _components(off[1]), name
        if name == "edge":  # the copies' Hamming-0 pair
            assert (1, 3, 0) in off[1]

    rows = [(1, "a b c"), (2, None), (3, "a b c"), (4, None), (5, "")]
    got = result(exact_dedup(spark.createDataFrame(rows, s)))[1]
    assert got == [(1, 1, True), (3, 1, False), (5, 5, True)]
    con = duckdb.connect()
    con.register("documents", pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string())}))
    assert sorted(con.execute(e._DEDUP_EXACT_SQL).fetchall()) == got
