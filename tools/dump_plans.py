"""Dump the formatted physical plan of selected headline queries to
docs/PLANS.md — reviewable evidence that the optimizations SCALE.md
claims are in the actual plans.

Usage: python tools/dump_plans.py [sf_dir]
       python tools/dump_plans.py --json OUT sf_dir [query ...]

``--json`` writes ``{query: normalized optimized logical plan}`` for
every query of ``queries()`` (or only the named ones) instead. The
normalization drops what differs between two runs of the same code —
expression ids, lambda-variable suffixes, RDD ids and ``plan_id`` tags
— and no plan string is truncated, so running it on two checkouts and
``diff``-ing the files shows exactly the queries whose plan changed.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOW = [
    ("select_project", "filter pushdown + column pruning at the parquet scan"),
    ("join_unique", "dimension index join → broadcast-hash"),
    ("except_anti", "Except → BroadcastHashJoin LeftAnti"),
    ("top_k", "IndexOn+Top → TakeOrderedAndProject (no global sort)"),
    ("agg_pricing_summary", "partial (map-side) + final hash aggregation"),
    ("tpch_q5_volume", "5-way star join: broadcast dims, single fact shuffle"),
    ("dedup_minhash", "minhash signatures + banded LSH candidate join"),
    ("dedup_embedding", "exact near-pairs via block-grid equi-join (no BNLJ)"),
    ("dedup_embedding_lsh", "sign-LSH buckets + exact rerank (equi-join only)"),
    ("simhash_pairs", "pigeonhole chunk blocking over DISTINCT hashes → "
                      "(chunk,value) equi-join + output-sized expansion"),
    ("rand_proj", "JL projection: zero-shuffle scan with pruned columns"),
    ("chunk_docs", "token chunking: zero-shuffle per-row explode+slice"),
    ("pack_sequences", "per-shard packing window: one shard-keyed shuffle"),
    ("flagship", "full compat chain — all JVM, no Python eval nodes"),
    ("take_while", "scalar-cutoff: TakeOrderedAndProject top-1 subquery + "
                   "parallel filter (no global-window latch)"),
    ("drop_offset", "Drop(n): top-n cutoff subquery + parallel filter + "
                    "tie-group resolution (no global sort+offset)"),
    ("pii_scrub", "typed PII redaction: zero-shuffle chained regexp_replace"),
    ("boilerplate", "boilerplate-line removal: broadcast anti-join + "
                    "per-doc array reassembly (no window)"),
    ("token_budget_mix", "mixture curation: per-group bigint running-sum "
                         "window, one shuffle keyed by source"),
    ("rarity", "mean inverse token frequency: explode + vocab agg + "
               "equi-join, N as scalar subquery"),
    ("top_ties", "FETCH FIRST WITH TIES: scalar-cutoff filter, no rank "
                 "window"),
    ("gopher_quality", "Gopher rules: one explode + one doc-keyed hash "
                       "aggregate, integer-count rule evaluation"),
    ("source_mix", "composition report: map-combined low-card aggregate, "
                   "total tokens as scalar subquery"),
    ("knn_label", "kNN label vote: cogrouped BLAS cells → candidate "
                  "equi-joins → fold-cosine rescore (no |q|-task funnel)"),
    ("tpch_q10_returns", "Q10: fact⋈fact on the shuffle key, 25-row nation "
                         "broadcast, NO hint on customer (scales with SF)"),
    ("snapshot_diff", "snapshot audit: full-outer equi-join over narrow "
                      "(id, fingerprint) projections"),
    ("global_shuffle", "global ROW_NUMBER without a one-task window: "
                       "1024-bucket counts + prefix offsets + per-bucket "
                       "row_number"),
    ("quality_topfrac", "top-fraction-per-group: (score, hash-bucket) "
                        "composite-bucket scalar cutoff, offsets broadcast"),
    ("repeated_spans", "ExactSubstr detection: span-keyed doc-frequency "
                       "aggregate + equi-join back (occurrence-linear)"),
    ("remove_spans", "ExactSubstr removal: sequence-explode coverage + "
                     "left-anti (doc,pos) join + per-doc reassembly"),
    ("dedup_minhash_fast", "duplication-immune MinHash: collapse → "
                           "rep-space LSH + verify → output-sized expansion"),
    ("tpch_q18_bigorders", "Q18: HAVING semi-join grouped on the already-"
                           "shuffled l_orderkey, no extra exchange"),
    ("pagerank_reps", "graph-after-dedup PageRank: exact-collapse "
                      "anti-dup pre-filter, then LSH pair graph + "
                      "integer rounds (the f²-edge-immune scale shape)"),
    ("multimodal_jpeg", "mixed PNG+JPEG decode: ONE Arrow mapInPandas "
                        "stage dispatching per-format pure-Python codecs"),
    ("bpe_counts", "merges-table BPE: Arrow mapInPandas count + in-plan "
                   "raise_error bounds + pinned-literal union"),
    ("approx_distinct", "HLL + exact in one pass over the pre-distinct "
                        "projection — Expand-free (r8: 4.5x)"),
    ("semantic_dedup", "SemDeDup: broadcast centroids, per-cell BLAS "
                       "prefilter (ArrowEvalPython group map), fold rescore, "
                       "CC joins"),
    ("multimodal_grid", "blob features → vectors → exact grid ANN: one "
                        "Arrow mapInPandas extraction, checkpointed tiny "
                        "vector table, cogrouped BLAS cells (no crossJoin)"),
    ("skew_report", "key-skew diagnostics: map-combined count agg + "
                    "broadcast single-row totals + TakeOrdered"),
    ("ann_recall", "recall@k eval: k-bounded equi-joins over two top-k "
                   "tables"),
    ("unigram_lm", "corpus-unigram LM score: vocab agg + term join + "
                   "per-doc ordered fold, N as scalar subquery"),
    ("bm25", "BM25: tf/df/dl aggregates + term join + per-doc top-k "
             "window, N and avgdl as scalar subqueries"),
    ("tpch_q7_volume", "Q7: nation dims pre-filtered + broadcast, "
                       "disjunctive direction predicate, two fact joins"),
    ("tpch_q20_promosupp", "Q20: aggregate→threshold→distinct → broadcast "
                           "LeftSemi into the supplier dim"),
    ("winsorize", "winsorization: two-quantile group agg broadcast back, "
                  "no per-row window"),
    ("cms_topk", "count-min sketch: one (row,bucket) map-combined agg → "
                 "32 KB cell table, broadcast estimate joins"),
    ("leakage_split", "cluster-keyed split: collapsed CC + output-sized "
                      "join + stateless hash label"),
]


#: (pattern, replacement) pairs that erase run-to-run ids from a plan
_NORMALIZE = [
    (r"#\d+L?", "#"),
    # PySpark names lambda variables x_N / y_N / z_N from ONE
    # process-global counter, so a query built after one that creates
    # more or fewer lambdas is renumbered throughout
    (r"\b([xyz])_\d+", r"\1_"),
    (r"(ExistingRDD|LogicalRDD)\[\d+\]", r"\1[]"),
    (r"plan_id=\d+", "plan_id="),
]


def _split_top(s: str) -> list[str]:
    """``s`` split at the ``", "`` separators outside any bracket."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and s.startswith(", ", i):
            out.append(s[start:i])
            start = i + 2
    out.append(s[start:])
    return out


def _depth(line: str) -> int:
    m = re.search(r"[+:]- ", line)
    return m.start() if m else 0


def _canonical_expands(plan: str) -> str:
    """Put every distinct-aggregate ``Expand`` of a normalized plan into
    one canonical order.

    Spark's RewriteDistinctAggregates numbers the distinct groups (the
    ``gid`` literal of each Expand row) and orders the grouped columns
    in hash-set order of their expressions, so the same query reads
    differently with the expression ids of whatever was planned before
    it. Here the grouped columns (the Expand outputs before ``gid#``)
    are sorted by name, the rows other than gid 0 by their content, and
    the gids renumbered in that order — in the Expand line and in its
    ancestor lines that still read ``gid#`` (the aggregates above it).
    """
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        m = re.match(r"(.*Expand )(\[\[.*\])$", line)
        if not m:
            continue
        parts = _split_top(m.group(2))
        if len(parts) != 2:
            continue
        rows = [_split_top(r[1:-1]) for r in _split_top(parts[0][1:-1])]
        out = _split_top(parts[1][1:-1])
        if "gid#" not in out:
            continue
        g = out.index("gid#")
        perm = sorted(range(g), key=lambda j: out[j]) + list(range(g, len(out)))
        rows = [[r[j] for j in perm] for r in rows]
        keep = [r for r in rows if r[g] == "0"]
        rest = sorted((r for r in rows if r[g] != "0"),
                      key=lambda r: r[:g] + r[g + 1:])
        gid = {r[g]: str(n) for n, r in enumerate(rest, 1)}
        new_rows = keep + [r[:g] + [gid[r[g]]] + r[g + 1:] for r in rest]
        old_cols = ", ".join(out[:g + 1])
        new_cols = ", ".join(out[j] for j in perm[:g + 1])
        lines[i] = (m.group(1) + "[[" + "], [".join(
            ", ".join(r) for r in new_rows) + "]], ["
            + ", ".join(out[j] for j in perm) + "]")
        d = _depth(line)
        for k in range(i - 1, -1, -1):
            if _depth(lines[k]) >= d:
                continue
            if "gid#" not in lines[k]:
                break
            d = _depth(lines[k])
            lines[k] = re.sub(
                r"gid# = (\d+)",
                lambda x: "gid# = " + gid.get(x.group(1), x.group(1)),
                lines[k].replace(old_cols, new_cols))
    return "\n".join(lines)


def normalize(plan: str) -> str:
    """``plan`` with every run-to-run difference erased."""
    for pat, rep in _NORMALIZE:
        plan = re.sub(pat, rep, plan)
    return _canonical_expands(plan)


def dump_json(out_path: str, sf_dir: str, names: list[str]) -> None:
    import __spark_entry__ as e
    from csvplus_spark import get_spark

    spark = get_spark("plan-json")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000000")
    qs = e.queries()
    plans = {}
    for name in names or sorted(qs):
        plans[name] = normalize(qs[name](spark, sf_dir)._jdf
                                .queryExecution().optimizedPlan().toString())
        spark.catalog.clearCache()
    with open(out_path, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    print(f"wrote {out_path} ({len(plans)} plans)")
    spark.stop()


def main() -> None:
    if sys.argv[1:2] == ["--json"]:
        dump_json(sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as e
    from csvplus_spark import get_spark

    spark = get_spark("plan-dump")
    qs = e.queries()
    out = ["# PLANS — formatted physical plans of headline queries",
           "", f"Generated by tools/dump_plans.py at {sf_dir}. See docs/SCALE.md",
           "for the design arguments these plans substantiate.", ""]
    for name, why in SHOW:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"*{why}*", "", "```", buf.getvalue().strip(), "```", ""]
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(SHOW)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
