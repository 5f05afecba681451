"""Scan probe: the one place that looks at a frame's scan files to make
a PLAN-BUILD-time decision (r14, guide §2.5 "input skew" + r13 verdict
item 1).

Round 13 added unconditional ``repartition(F.col(id))`` calls before
every per-doc/per-vector compute stage because the bench corpora
compress to 1-5 parquet row groups — the unit of scan parallelism —
so tokenize/md5/d²-fold stages ran on 1-5 cores of a 32-core machine
(measured 0.14-0.76x at 100x data). But the same exchange is PURE
OVERHEAD when the input is tiny (the whole query runs in ~1s and the
extra shuffle costs more than the serialized scan saves — the r13
driver bench regressed ~1.4x at sf0.1) or when the scan already
yields machine-width splits (real clusters reading many files).

Every decision here reads the same walk: ``inputFiles()``, then a
local-scheme check and ``os.stat`` per file, then — only where the
policy needs it — the parquet FOOTER METADATA (a local ~1-3 ms read
per file, cached by (path, size, mtime), never a Spark job). Each
policy stops walking as soon as no later file can change its answer.
The three policies ("width" = ``defaultParallelism``):

  ==============================  =============  ===========  ========
  scan                            keyed fan-out  round-robin  collapse
  ==============================  =============  ===========  ========
  no input files (derived or      skip           skip         collapse
  checkpointed frame)
  ≥ width files                   skip           skip         by size
  a remote file, or one that      FAN OUT        skip         collapse
  cannot be stat'ed
  a local file with no parquet    FAN OUT        by size      collapse
  footer
  ≥ width row groups              skip           by size      by size
  otherwise, "by size"            FAN OUT if     FAN OUT if   collapse
                                  decoded ≥      on disk ≤    if decoded
                                  floor          256 MB       ≥ floor
  ==============================  =============  ===========  ========

Keyed fan-out (:func:`keyed_fan_out`, ahead of per-doc/per-vector
compute): a derived frame was partitioned by an upstream exchange, and
a second keyed exchange on top measured 1.25-1.36x WORSE (r13 §J,
fuzzy_join_fast); a few unsplittable remote objects are exactly the
100 TB input-skew case it exists for; below the floor the exchange
costs more than the single-threaded head start (r13: ~60 queries
0.4-0.9x). Round-robin (:func:`fan_out`, ahead of Python-heavy
stages) fires only on small, local, narrow input. Collapse
(:func:`collapse_wanted`) resolves ``collapse=None`` for all eight
exact-duplicate collapse families (the n-gram Jaccard, containment and
MinHash pairs, ``minhash_join``, ``semantic_dedup``,
``embedding_near_pairs`` and the two span operators): unknowable size
means collapse, the scale-safe default. :func:`scan_disk_bytes` lends
the same walk to the blob partition estimate of
``multimodal.repartition_for_blobs``.

Uncompressed bytes (parquet ``total_byte_size``) rather than file
size for the keyed gates because the duplication-heavy corpora these
operators exist for compress 30-100x: the sf10 documents table is
6 MB on disk and 181 MB decoded, and the compute (tokenize, md5, d²
folds) scales with the DECODED bytes.

One more build-time probe lives here because it answers the same kind
of question for every caller: :func:`driver_table` decides whether a
frame fits on the driver, with one row cap and one byte budget shared
by connected components, PageRank and ``Index`` lookups.
"""

from __future__ import annotations

import functools
import os
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
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

#: fan_out only repartitions inputs below this size — large inputs get
#: their parallelism from native file splitting, and shuffling them
#: would cost more than the single-threaded head start
FAN_OUT_MAX_BYTES = 256 * 1024 * 1024

#: the most rows :func:`driver_table` fetches. It caps the driver
#: collect; it is not a measured crossover: on one machine the driver
#: finish of connected components and PageRank won at every graph size
#: measured (docs/SCALE.md "Small graphs finish on the driver"), and no
#: benchmark workload runs above it
DRIVER_MAX_ROWS = 200_000


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


def _scan_files(df: DataFrame) -> list[str]:
    """The frame's scan files; empty for a derived/checkpointed frame
    or a non-file source. Deliberately NOT ``df.rdd``: that compiles
    the physical plan a second time (~1s of cold latency per query,
    measured), while the listing is already cached by the scan."""
    try:
        return df.inputFiles()
    except Exception:
        return []


def _sizes(files: list[str], decoded: bool,
           stop: float = float("inf")) -> tuple[int, int] | None:
    """The one walk over scan files: summed ``(row_groups, bytes)``,
    the bytes DECODED (footers read lazily, file by file) or on disk
    (stat only, row groups 0). None when a file cannot be probed here
    — remote scheme, stat fails, or (decoded) no parquet footer. Stops
    once the bytes reach ``stop``."""
    row_groups = total = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("file", ""):
            return None
        try:
            st = os.stat(p.path)
            rgs, size = (_footer_stats(p.path, st.st_size, st.st_mtime_ns)
                         if decoded else (0, st.st_size))
        except Exception:
            return None
        row_groups += rgs
        total += size
        if total >= stop:
            break
    return row_groups, total


def collapse_wanted(*dfs: DataFrame, collapse: bool | None = None) -> bool:
    """The one exact-duplicate collapse decision, for every family
    that has a ``collapse`` argument: an explicit True or False is the
    caller's and passes through; None collapses when the decoded size
    of any input in ``dfs`` reaches ``KEYED_FAN_OUT_MIN_BYTES`` or
    cannot be known (checkpoint, remote), the scale-safe default. The
    fingerprint pass only pays when the quadratic stages are expensive.
    Stops reading footers once the floor is reached: no later file can
    turn the answer."""
    if collapse is not None:
        return collapse
    floor = KEYED_FAN_OUT_MIN_BYTES
    for df in dfs:
        files = _scan_files(df)
        sizes = _sizes(files, decoded=True, stop=floor) if files else None
        if sizes is None or sizes[1] >= floor:
            return True
    return False


def scan_fan_out_wanted(df: DataFrame,
                        min_bytes: int | None = None) -> bool:
    """True when an explicit keyed repartition ahead of this frame's
    first compute stage would buy parallelism the scan cannot deliver
    (see the module docstring's table). ``min_bytes`` overrides the
    decoded-size floor (default ``KEYED_FAN_OUT_MIN_BYTES``, read at
    call time) — vector-fold call sites pass
    ``VECTOR_FAN_OUT_MIN_BYTES``. Walks every file even past width
    row groups: a later unprobeable file still means fan out."""
    width = df.sparkSession.sparkContext.defaultParallelism
    files = _scan_files(df)
    if not files or len(files) >= width:
        return False  # partitioned upstream / the scan feeds every core
    sizes = _sizes(files, decoded=True)
    if sizes is None:
        return True  # remote or unprobeable: scale-safe default
    if min_bytes is None:
        min_bytes = KEYED_FAN_OUT_MIN_BYTES
    # row groups alone may already split machine-wide
    return sizes[0] < width and sizes[1] >= min_bytes


def keyed_fan_out(df: DataFrame, *cols: Column | str,
                  min_bytes: int | None = None) -> DataFrame:
    """``df.repartition(*cols)`` when the probe says the scan is both
    big and narrower than the machine; ``df`` unchanged otherwise.
    In method chains: ``df.transform(keyed_fan_out, id_col)``."""
    return df.repartition(*cols) \
        if scan_fan_out_wanted(df, min_bytes) else df


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a SMALL narrow input across the cluster before a
    compute-heavy first stage (per-row md5/tokenize/explode work).

    A small parquet file with one row group reads as ONE partition, so
    everything before the first shuffle runs single-threaded no matter
    how many cores exist. When the input is a handful of small local
    files, a round-robin repartition (a few MB of shuffle) buys
    full-width execution. At real scale this is a no-op by
    construction: many files, remote storage, or > FAN_OUT_MAX_BYTES
    on disk all skip the shuffle — nothing is added to a 100 TB plan.

    Use it ONLY ahead of Python-heavy stages (mapInPandas /
    applyInPandas, e.g. winnow's rolling scan) where one-partition
    execution serializes real work. For pure-JVM codegen first stages
    (tokenize/explode/hash) the A/B at sf0.1 showed the extra shuffle
    LOSES ~0.5-1s per query vs just letting the single-threaded scan
    feed the first aggregate's map side — don't sprinkle it there.
    """
    width = df.sparkSession.sparkContext.defaultParallelism
    files = _scan_files(df)
    if not files or len(files) >= width:
        return df
    sizes = _sizes(files, decoded=False, stop=FAN_OUT_MAX_BYTES + 1)
    if sizes is None or sizes[1] > FAN_OUT_MAX_BYTES:
        return df  # remote storage / big input: assume cluster scale
    return df.repartition(width)


def scan_disk_bytes(df: DataFrame) -> int:
    """On-disk bytes of the frame's scan files; 0 when unknowable
    without a job (no input files, remote scheme, stat fails)."""
    sizes = _sizes(_scan_files(df), decoded=False)
    return sizes[1] if sizes else 0


def driver_budget_bytes(spark) -> int:
    """The Arrow bytes :func:`driver_table` keeps: one eighth of
    ``spark.driver.memory`` (default 1g; a unitless value is MiB, as
    Spark reads it).

    Why one eighth: the fetched batches are first collected into the
    driver JVM heap, and in local mode that heap also runs the
    executors, whose execution and storage pool takes
    ``spark.memory.fraction`` (0.6) of it. The Python side then holds
    the table and one working copy of it (the Index's sorted copy, the
    graph finishes' numpy columns), about 3x its size. An eighth keeps
    the JVM copy within a third of the heap's non-pool share and the
    Python peak under half the heap size: 256 MB with a 2 GB driver,
    2 GB with the 16 GB local default. 200k edges x 16 B is 3.2 MB."""
    mem = spark.conf.get("spark.driver.memory", "1g")
    mib = spark.sparkContext._jvm.org.apache.spark.util.Utils \
        .memoryStringToMb(mem)
    return mib * 1024 * 1024 // 8


def driver_table(df: DataFrame):
    """``df`` as an Arrow table when it fits on the driver, else None.

    One bounded job, ``df.limit(DRIVER_MAX_ROWS + 1).toArrow()``; the
    table is kept when it holds at most :data:`DRIVER_MAX_ROWS` rows
    and at most :func:`driver_budget_bytes`. Rows too wide for
    ``spark.driver.maxResultSize`` (default 1g) abort the fetch; that
    is a refusal too. A refused frame costs that one probe and its
    caller keeps its Spark path. The graph loops, which read their
    edges again after a refusal, checkpoint them lazily first: the
    probe job then fills every partition of the checkpoint."""
    try:
        t = df.limit(DRIVER_MAX_ROWS + 1).toArrow()
    except (PySparkException, Py4JJavaError) as ex:
        if "spark.driver.maxResultSize" not in str(ex):
            raise
        return None
    if t.num_rows > DRIVER_MAX_ROWS or \
            t.nbytes > driver_budget_bytes(df.sparkSession):
        return None
    return t
