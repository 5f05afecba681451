"""``Index`` — the reference's sorted row collection, Spark-first.

Reference: an Index is an eagerly materialized, in-memory sorted
``[]Row`` with binary-search lookups (csvplus.go:610-920,
README.md:102-106). Here an index plays four roles (SURVEY.md §1.3):
  * lookups (``find`` / ``has`` / ``sub_index``) → the reference's own
    structure: the first lookup fetches the index to the driver through
    the shared fits-on-the-driver probe (``scanprobe.driver_table``)
    and stably sorts it by its keys once; every lookup is then a binary
    search over that Arrow table. An index the probe refuses (too many
    rows or bytes) keeps a prefix-key filter over its source;
  * a join input → plain DataFrame (Catalyst picks broadcast-hash /
    sort-merge — the distributed replacement for binary search);
  * an iteration order → ``orderBy(key columns)``;
  * a persisted artifact → sorted parquet + key-column metadata.

Building an index materializes nothing, and joins, iteration, dedup
and persistence stay lazy, which removes the reference's all-in-memory
constraint (README.md:103-106) at 100 TB. Snapshot contract: like the
reference's eager Index, a driver-served index sees its source as of
its first lookup. Joins and iteration read the source when they run,
and so does every lookup of an index the probe refused.
"""

from __future__ import annotations

import json
import os
import re
from decimal import Decimal
from typing import Callable, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import ColumnNotFoundError, DuplicateKeyError
from .frame import Frame
from .operators import scanprobe

_META_FILE = "_csvplus_index.json"

#: the lazy unique check's message, as Spark reports it from an action
_DUP_KEY = re.compile(r"duplicate value while creating unique index: (\{.*\})")

#: key types the driver search compares as Spark's ``=`` does (outside
#: string mode, where every key is compared as Spark's string cast)
_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType)

#: ``Index._sorted`` before the first lookup
_UNBUILT = object()


def _search_column(col):
    """``(values, nulls)``: numpy copies of one sorted key column — str
    objects, int64 or float64 values (a NULL slot holds a placeholder)
    and the NULL flags."""
    import pyarrow as pa
    import pyarrow.compute as pc

    nulls = col.is_null().to_numpy(zero_copy_only=False)
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return col.to_numpy(zero_copy_only=False), nulls
    kind = "float64" if pa.types.is_floating(col.type) else "int64"
    return pc.fill_null(col, 0).to_numpy().astype(kind), nulls


def _comparable(vals, v) -> bool:
    """True when numpy compares ``v`` with key values ``vals`` as
    Spark's ``=`` would: a str with strings, an int in the int64 range
    with integers or floats, a float with floats. Other values (bools,
    numpy scalars, a float against an integer key) take the filter."""
    if isinstance(v, bool):
        return False
    if vals.dtype == object:
        return isinstance(v, str)
    if isinstance(v, int):
        return -(1 << 63) <= v < 1 << 63
    return vals.dtype.kind == "f" and isinstance(v, float)


class _Sorted:
    """An index's rows on the driver, stably sorted by its keys with
    NULLs last: the Arrow ``table`` (the index's columns, then one
    hidden column per key holding the key as compared), the index's
    Spark ``schema``, and ``keys``, one :func:`_search_column` pair per
    key column still to search."""

    def __init__(self, spark: SparkSession, table, schema, keys):
        self.spark, self.table, self.schema, self.keys = \
            spark, table, schema, keys

    def span(self, values) -> tuple[int, int] | None:
        """Rows ``[lo, hi)`` whose leading keys equal ``values``: one
        ``searchsorted`` pair per key, each within the rows the earlier
        keys fixed. None when a value is not :func:`_comparable`."""
        import numpy as np

        lo, hi = 0, self.table.num_rows
        for (vals, nulls), v in zip(self.keys, values):
            if v is None:
                return 0, 0  # NULL keys never match
            if not _comparable(vals, v):
                return None
            # within the fixed rows this key is sorted, its NULLs last
            end = lo + int(np.searchsorted(nulls[lo:hi], True))
            seg = vals[lo:end]
            lo, hi = (lo + int(np.searchsorted(seg, v, "left")),
                      lo + int(np.searchsorted(seg, v, "right")))
        return lo, hi

    def df(self, lo: int, hi: int) -> DataFrame:
        """Rows ``[lo, hi)`` as a local DataFrame with the index's
        schema, so column types and nullability are the source's."""
        rows = self.table.slice(lo, hi - lo) \
            .select(range(len(self.schema.fields)))
        return self.spark.createDataFrame(rows, schema=self.schema)

    def sub(self, lo: int, hi: int, fixed: int) -> "_Sorted":
        """Rows ``[lo, hi)``, searched by the keys after the first
        ``fixed``: zero-copy slices, already in their key order."""
        return _Sorted(self.spark, self.table.slice(lo, hi - lo),
                       self.schema,
                       [(v[lo:hi], n[lo:hi]) for v, n in self.keys[fixed:]])


class Index:
    def __init__(self, frame: Frame, columns: Sequence[str], unique: bool = False,
                 small: bool = False):
        missing = [c for c in columns if c not in frame.columns]
        if missing:
            raise ColumnNotFoundError(missing, "creating an index")  # csvplus.go:722-733
        self.frame = Frame(frame.df, [(c, True) for c in columns], frame.string_mode)
        self.columns = list(columns)
        self.unique = unique
        #: hint: small enough to broadcast in joins (set for dimension tables)
        self.small = small
        #: the lookups' driver copy (:class:`_Sorted`), built by the first
        #: lookup; None once the index keeps the filter path
        self._sorted = _UNBUILT

    # ------------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self.frame.df

    def _key(self, name: str):
        c = F.col(name)
        return c.cast("string") if self.frame.string_mode else c

    def to_frame(self) -> Frame:
        """Iterate in index order (Index.Iterate, csvplus.go:618-620):
        a Frame whose declared order is the key columns."""
        return self.frame

    def hint_broadcast(self, small: bool = True) -> "Index":
        self.small = small
        return self

    # ------------------------------------------------------------------
    # lookups — csvplus.go:625-641, 870-920

    def find(self, *values) -> Frame:
        """Point/prefix lookup (Index.Find, csvplus.go:625-627).

        The reference's O(log n) binary search, over the driver copy
        the first lookup builds (see :meth:`_fetch_sorted`): the rows come
        back as a local frame with the index's schema. An index the
        probe refused, or a value the driver cannot compare like Spark,
        takes a prefix-key filter over the source instead. A ``None``
        value matches nothing: NULL keys never match, in either mode.
        """
        if len(values) > len(self.columns):
            raise ValueError("too many values for index columns")
        s, span = self._span(values)
        df = self._filtered(values) if span is None else s.df(*span)
        return Frame(df, [(c, True) for c in self.columns], self.frame.string_mode)

    def sub_index(self, *values) -> "Index":
        """Fix a strict prefix of key values; result is an Index on the
        remaining columns (SubIndex, csvplus.go:632-641). A driver-served
        index hands the sub-index a zero-copy slice of its sorted copy."""
        if len(values) >= len(self.columns):
            raise ValueError("too many values for sub-index")  # panics, csvplus.go:633-635
        sub = Index(self.find(*values), self.columns[len(values):],
                    unique=self.unique, small=self.small)
        s, span = self._span(values)
        if span is not None:
            sub._sorted = s.sub(*span, len(values))
        return sub

    def has(self, *values) -> bool:
        """Membership test (has, csvplus.go:899-905)."""
        s, span = self._span(values)
        if span is None:
            return self.find(*values).df.limit(1).count() > 0
        return span[1] > span[0]

    def _as_keys(self, values) -> list:
        """Lookup values as compared: in string mode, ``str`` of each."""
        if not self.frame.string_mode:
            return list(values)
        return [None if v is None else str(v) for v in values]

    def _span(self, values):
        """``(driver copy, rows [lo, hi) matching values)``; the span is
        None when the lookup takes the filter path. The first lookup
        builds the copy (:meth:`_fetch_sorted`); it is kept on this
        instance only, and a refusal is kept too, so a refused index
        pays its probe once."""
        if self._sorted is _UNBUILT:
            self._sorted = self._fetch_sorted()
        s = self._sorted
        return s, (None if s is None else s.span(self._as_keys(values)))

    def _filtered(self, values) -> DataFrame:
        """The source rows whose leading keys equal ``values``: a
        prefix-key filter, which over sorted/bucketed parquet prunes
        partitions and row groups."""
        cond = None
        for col, val in zip(self.columns, self._as_keys(values)):
            if isinstance(val, int) and not -(1 << 63) <= val < 1 << 63:
                # past int64: Spark's coercion decides; past DECIMAL(38),
                # Spark's widest, the value equals no integral or
                # decimal key (a float key is looked up by a float)
                c = (self._key(col) == F.lit(Decimal(val))
                     if abs(val) < 10 ** 38 else F.lit(False))
            else:
                c = self._key(col) == F.lit(val)
            cond = c if cond is None else (cond & c)
        return self.frame.df if cond is None else self.frame.df.filter(cond)

    def _fetch_sorted(self) -> "_Sorted | None":
        """One ``scanprobe.driver_table`` probe fetches the index with
        one hidden column per key: the key itself, or in string mode the
        key cast to string by Spark, so Spark's cast decides what
        matches (``1.0`` → ``"1.0"``). The table is stably sorted by
        those columns, NULLs last. None when the probe refuses, or when
        a key (outside string mode) is neither a binary-collated string
        nor a number. The fetch is the index's first action, so a lazy
        unique check fires here, as DuplicateKeyError."""
        import pyarrow.compute as pc

        df = self.df
        schema = df.schema
        if not self.frame.string_mode and not all(
                schema[c].dataType == T.StringType()
                or isinstance(schema[c].dataType, _NUMERIC)
                for c in self.columns):
            return None
        hidden = [f"__cp_k{i}__" for i in range(len(self.columns))]
        try:
            t = scanprobe.driver_table(df.select(
                "*", *[self._key(c).alias(h)
                       for c, h in zip(self.columns, hidden)]))
        except (PySparkException, Py4JJavaError) as ex:
            m = _DUP_KEY.search(str(ex))
            if m is None:
                raise
            raise DuplicateKeyError(m.group(1)) from None
        if t is None:
            return None
        t = t.take(pc.sort_indices(t, [(h, "ascending") for h in hidden],
                                   null_placement="at_end"))
        return _Sorted(df.sparkSession, t, schema,
                       [_search_column(t[h]) for h in hidden])

    # ------------------------------------------------------------------
    # uniqueness — csvplus.go:740-756

    def assert_unique(self, lazy: bool = False) -> "Index":
        """Duplicate-key check; raises DuplicateKeyError (eager) or a
        runtime error at action time (lazy; a lookup's driver fetch
        re-raises it as DuplicateKeyError) with the offending key
        rendered (csvplus.go:747-756).

        Eager (default, reference-faithful error timing): one
        distributed groupBy probe job now. Lazy: the check is fused
        into the consuming plan with ZERO shuffle on the row path —
        the duplicate-key set (normally empty) is computed by a
        key-only long-count HashAggregate over a second narrow scan,
        broadcast, and left-joined back with a conditional
        raise_error on match. This replaces the round-2 window form,
        whose Exchange+Sort+Window on the full dimension accounted
        for the flagship bench regression; error timing stays at the
        first action (SURVEY §7 H5 allows this divergence). An
        aggregate-with-first() formulation was rejected: string agg
        buffers force SortAggregate (two extra sorts).
        """
        if lazy:
            cols = self.df.columns
            cnt = "__cp_cnt__"
            dupkeys = [f"__cp_d{i}__" for i in range(len(self.columns))]
            dup = (
                self.df.select(*[self._key(c).alias(d)
                                 for c, d in zip(self.columns, dupkeys)])
                .groupBy(*dupkeys)
                .agg(F.count(F.lit(1)).alias(cnt))
                .filter(F.col(cnt) > 1)
            )
            render = F.concat(
                F.lit("duplicate value while creating unique index: { "),
                F.concat_ws(", ", *[
                    F.concat(F.lit(f'"{c}" : "'), F.col(c).cast("string"), F.lit('"'))
                    for c in self.columns
                ]),
                F.lit(" }"),
            )
            cond = None
            for c, d in zip(self.columns, dupkeys):
                eq = self._key(c).eqNullSafe(F.col(d))
                cond = eq if cond is None else (cond & eq)
            # the conditional error rides EVERY column: a single-column
            # carrier gets pruned when a consumer drops that column —
            # e.g. a natural join whose probe-wins policy excludes the
            # index's key column (review r5: duplicate-keyed lazy index
            # joined silently instead of raising DuplicateKeyError)
            df = self.df.join(F.broadcast(dup), cond, "left").select(*[
                F.when(F.col(cnt).isNotNull(),
                       F.raise_error(render).cast(self.df.schema[c].dataType))
                .otherwise(F.col(c)).alias(c)
                for c in cols
            ])
            self.frame = Frame(df, [(c, True) for c in self.columns],
                               self.frame.string_mode)
            self._sorted = _UNBUILT  # a copy of the unchecked frame must go
            self.unique = True
            return self
        keys = [self._key(c).alias(c) for c in self.columns]
        dup = (
            self.df.select(*keys)
            .groupBy(*self.columns)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            row = dup[0].asDict()
            render = ", ".join(f'"{c}" : "{row[c]}"' for c in self.columns)
            raise DuplicateKeyError("{ " + render + " }")
        self.unique = True
        return self

    # ------------------------------------------------------------------
    # dedup — ResolveDuplicates, csvplus.go:651-653 + 810-867

    def resolve_duplicates(
        self,
        resolve: Callable | None = None,
        schema=None,
        keep: str = "first",
        order_by: Sequence[str] | None = None,
    ) -> "Index":
        """Collapse groups of key-duplicates to one row (or zero).

        Reference semantics (dedup, csvplus.go:810-867): the callback
        sees each pack of ≥2 equal-key rows and returns the surviving
        row, or an empty row to drop the pack; groups of 1 pass through
        untouched.

        Fast path (no callback): declarative keep-first/keep-last by
        ``order_by`` within the key — a window ``row_number()==1``
        filter, fully JVM-side, no Python.

        General path: ``groupBy(keys).applyInPandas`` with the user
        callback applied only to packs of size ≥2 (vectorized per
        group, Arrow transfer) — the scalable form of the reference's
        per-pack callback.
        """
        if resolve is None:
            # keep='first'/'last' needs a tie-break that varies WITHIN a
            # duplicate group; the key columns are constant there, so an
            # undefined order would pick an arbitrary survivor
            if order_by is not None:
                base = [(F.col(c), True) for c in order_by]
            elif self.frame.order:
                base = [(self.frame._sort_key(c), asc) for c, asc in self.frame.order]
            else:
                raise ValueError(
                    "resolve_duplicates(keep=...) requires a deterministic "
                    "tie-break: pass order_by=[...] or declare an order on "
                    "the Frame (.ordered_by(...) / .with_ingest_order())"
                )
            flip = keep == "last"
            order_cols = [c.asc() if asc != flip else c.desc() for c, asc in base]
            w = Window.partitionBy(*[self._key(c) for c in self.columns]).orderBy(*order_cols)
            rn = "__cp_rn__"
            df = (
                self.df.withColumn(rn, F.row_number().over(w))
                .filter(F.col(rn) == 1)
                .drop(rn)
            )
            return Index(Frame(df, None, self.frame.string_mode), self.columns,
                         unique=True, small=self.small)

        out_schema = schema or self.df.schema
        user_fn = resolve

        def _apply(pdf):
            import pandas as pd

            if len(pdf) < 2:  # groups of 1 pass through (csvplus.go:850-863)
                return pdf
            result = user_fn(pdf)
            if result is None or len(result) == 0:  # empty row drops the pack
                return pdf.iloc[0:0]
            if isinstance(result, pd.Series):
                result = result.to_frame().T
            return result.iloc[0:1]

        df = self.df.groupBy(*self.columns).applyInPandas(_apply, out_schema)
        return Index(Frame(df, None, self.frame.string_mode), self.columns,
                     unique=True, small=self.small)

    # ------------------------------------------------------------------
    # persistence — WriteTo/LoadIndex, csvplus.go:656-705

    def write_to(self, path: str) -> None:
        """Persist as key-sorted parquet + metadata sidecar (the gob
        file's Spark analogue, SURVEY §1.3). ``sortWithinPartitions``
        keeps row groups key-clustered so reload + lookup benefits from
        min/max pruning."""
        (
            self.df.repartition(*[F.col(c) for c in self.columns])
            .sortWithinPartitions(*self.columns)
            .write.mode("overwrite")
            .parquet(path)
        )
        meta = {"columns": self.columns, "unique": self.unique,
                "string_mode": self.frame.string_mode}
        with open(os.path.join(path, _META_FILE), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Index":
        with open(os.path.join(path, _META_FILE)) as f:
            meta = json.load(f)
        df = spark.read.parquet(path)
        idx = cls(Frame(df, None, meta.get("string_mode", False)), meta["columns"])
        idx.unique = meta.get("unique", False)
        return idx
