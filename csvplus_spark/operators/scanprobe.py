"""Scan-width probe: decide at PLAN-BUILD time whether an explicit
keyed repartition ("fan-out") ahead of a compute-heavy first stage is
worth its exchange (r14, guide §2.5 "input skew" + r13 verdict item 1).

Round 13 added unconditional ``repartition(F.col(id))`` calls before
every per-doc/per-vector compute stage because the bench corpora
compress to 1-5 parquet row groups — the unit of scan parallelism —
so tokenize/md5/d²-fold stages ran on 1-5 cores of a 32-core machine
(measured 0.14-0.76x at 100x data). But the same exchange is PURE
OVERHEAD when the input is tiny (the whole query runs in ~1s and the
extra shuffle costs more than the serialized scan saves — the r13
driver bench regressed ~1.4x at sf0.1) or when the scan already
yields machine-width splits (real clusters reading many files).

This module makes the fan-out CONDITIONAL on what the scan can
actually deliver, probed from parquet FOOTER METADATA — a local
~1-3 ms read per file, cached by (path, size, mtime), never a Spark
job. The decision:

  * input files unknown (checkpointed/derived frame) → SKIP: the
    frame's partitioning was set by an upstream exchange, and a second
    keyed exchange on top measured 1.25-1.36x WORSE (r13 §J,
    fuzzy_join_fast);
  * ≥ machine-width files, or ≥ machine-width row groups → SKIP: the
    scan itself feeds every core;
  * total UNCOMPRESSED bytes below ``KEYED_FAN_OUT_MIN_BYTES`` → SKIP:
    the exchange costs more than the single-threaded head start
    (driver-bench scale; measured r13: ~60 queries 0.4-0.9x);
  * remote scheme or unreadable footer with few files → FAN OUT: a
    handful of unsplittable remote objects is exactly the 100 TB
    input-skew case the repartition exists for;
  * otherwise (big, few-row-group local input — the sf10 shape)
    → FAN OUT.

Uncompressed bytes (parquet ``total_byte_size``) rather than file
size because the duplication-heavy corpora these operators exist for
compress 30-100x: the sf10 documents table is 6 MB on disk and 181 MB
decoded, and the compute (tokenize, md5, d² folds) scales with the
DECODED bytes.

``CSVPLUS_KEYED_FANOUT`` overrides the probe: ``always`` / ``never``
pin the r13 / r12 plan shapes (used by the plan-pin tests so the
at-scale shape stays pinned at test SFs), ``auto`` (default) probes.
``CSVPLUS_KEYED_FANOUT_MIN_BYTES`` tunes the floor for clusters whose
exchange-vs-scan breakeven differs from this box.
"""

from __future__ import annotations

import functools
import os
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame

#: uncompressed-bytes floor below which a keyed fan-out never pays:
#: below this the whole first stage is sub-second on one core and the
#: added exchange dominates (r13 driver bench). 32 MB splits the
#: observed corpora cleanly: sf0.1 documents decode to 1.6 MB (skip),
#: sf10 to 181 MB (fan out), sf10 embeddings to 58 MB (fan out).
KEYED_FAN_OUT_MIN_BYTES = 32 * 1024 * 1024

#: lower floor for the interpreted vector-fold assignment stages
#: (seed_voronoi_distances / kmeans_assign / pq encode+codebooks):
#: their per-byte compute is ~2 orders of magnitude above tokenize
#: (n·k·d interpreted d² folds per scan byte), so the fan-out already
#: pays at sub-MB inputs — the r14 adjacent-pair A/B read ivf 1.18× /
#: ivf2 1.16× / pq_topk 1.16× / kmeans 1.27× SLOWER with the fan-out
#: gated off at sf0.1's 0.8 MB embeddings, mirroring r13 §H's local
#: 0.84-0.90× wins. 512 KB keeps the sf0.01/sf0.001 oracle corpora
#: (0.2 MB) on the plain scan.
VECTOR_FAN_OUT_MIN_BYTES = 512 * 1024

_MODE_ENV = "CSVPLUS_KEYED_FANOUT"
_MIN_BYTES_ENV = "CSVPLUS_KEYED_FANOUT_MIN_BYTES"
_VEC_MIN_BYTES_ENV = "CSVPLUS_VECTOR_FANOUT_MIN_BYTES"

@functools.lru_cache(maxsize=4096)
def _footer_stats(path: str, size: int, mtime_ns: int) -> tuple[int, int]:
    """(row_groups, uncompressed_bytes) from one parquet footer.

    Memoized on (path, size, mtime_ns) — METADATA only (never query
    results), invalidated by any rewrite, and bounded so a long-lived
    session scanning ever-new files does not grow it without limit."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return (
        md.num_row_groups,
        sum(md.row_group(i).total_byte_size
            for i in range(md.num_row_groups)),
    )


def probe_uncompressed_bytes(df: DataFrame) -> int | None:
    """Total DECODED bytes across the frame's scan files, or None when
    unknowable without a job (non-file source, remote scheme,
    checkpointed frame, unreadable footer)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("file", ""):
            return None
        try:
            st = os.stat(p.path)
            _, unc = _footer_stats(p.path, st.st_size, st.st_mtime_ns)
        except Exception:
            return None
        total += unc
    return total


def collapse_wanted(df: DataFrame) -> bool:
    """The auto (``collapse=None``) exact-duplicate collapse gate of
    ``embedding_near_pairs`` and the span operators: the fingerprint
    and membership machinery only pays when the quadratic stages are
    expensive, so collapse when the input's decoded size reaches
    ``KEYED_FAN_OUT_MIN_BYTES`` — or is unknowable (checkpoint,
    remote), the scale-safe default."""
    nbytes = probe_uncompressed_bytes(df)
    return nbytes is None or nbytes >= KEYED_FAN_OUT_MIN_BYTES


def scan_fan_out_wanted(df: DataFrame,
                        min_bytes: int | None = None) -> bool:
    """True when an explicit keyed repartition ahead of this frame's
    first compute stage would buy parallelism the scan cannot deliver
    (see module docstring for the decision table). ``min_bytes``
    overrides the decoded-size floor — vector-fold call sites pass
    ``vector_min_bytes()``."""
    mode = os.environ.get(_MODE_ENV, "auto")
    if mode == "always":
        return True
    if mode == "never":
        return False
    width = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return False
    if not files:
        return False  # derived/checkpointed: partitioned upstream
    if len(files) >= width:
        return False  # the scan already feeds every core
    if min_bytes is None:
        min_bytes = int(os.environ.get(_MIN_BYTES_ENV,
                                       KEYED_FAN_OUT_MIN_BYTES))
    row_groups = 0
    uncompressed = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("file", ""):
            return True  # few remote objects: assume cluster-scale
        try:
            st = os.stat(p.path)
            rgs, unc = _footer_stats(p.path, st.st_size, st.st_mtime_ns)
        except Exception:
            return True  # local but unprobeable: scale-safe default
        row_groups += rgs
        uncompressed += unc
    if row_groups >= width:
        return False  # row groups alone already split machine-wide
    return uncompressed >= min_bytes


def vector_min_bytes() -> int:
    """The vector-fold floor (env-tunable)."""
    return int(os.environ.get(_VEC_MIN_BYTES_ENV,
                              VECTOR_FAN_OUT_MIN_BYTES))


def keyed_fan_out(df: DataFrame, *cols: Column | str,
                  min_bytes: int | None = None) -> DataFrame:
    """``df.repartition(*cols)`` when the probe says the scan is both
    big and narrower than the machine; ``df`` unchanged otherwise."""
    return df.repartition(*cols) \
        if scan_fan_out_wanted(df, min_bytes) else df


def doc_fan_out(*cols: Column | str):
    """``.transform()``-shaped :func:`keyed_fan_out` for method
    chains: ``df.select(...).transform(doc_fan_out(id_col)).select(...)``."""
    def _apply(df: DataFrame) -> DataFrame:
        return keyed_fan_out(df, *cols)
    return _apply
