"""``Index`` — the reference's sorted row collection, Spark-first.

Reference: an Index is an eagerly materialized, in-memory sorted
``[]Row`` with binary-search lookups (/root/reference/csvplus.go:
610-920, README.md:102-106). On Spark an index is NOT a runtime object
(SURVEY.md §1.3): it decomposes into
  * a join input   → plain DataFrame (Catalyst picks broadcast-hash /
    sort-merge — the distributed replacement for binary search);
  * an iteration order → ``orderBy(key columns)``;
  * a persisted artifact → sorted parquet + key-column metadata.

This class is a façade holding (Frame, key columns, unique flag) that
compiles to the above. Nothing is materialized at build time — the
sort is declared, executed lazily by whatever action consumes it —
which removes the reference's all-in-memory constraint
(README.md:103-106) at 100 TB.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .errors import ColumnNotFoundError, DuplicateKeyError
from .frame import Frame

_META_FILE = "_csvplus_index.json"


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

        The reference's O(log n) binary search maps to a prefix-key
        filter; over sorted/bucketed parquet this prunes partitions and
        row groups, the distributed analogue of O(log n). A ``None``
        value matches nothing: NULL keys never match, in either mode.
        """
        if len(values) > len(self.columns):
            raise ValueError("too many values for index columns")
        cond = None
        for col, val in zip(self.columns, values):
            if self.frame.string_mode and val is not None:
                val = str(val)
            c = self._key(col) == F.lit(val)
            cond = c if cond is None else (cond & c)
        df = self.frame.df if cond is None else self.frame.df.filter(cond)
        return Frame(df, [(c, True) for c in self.columns], self.frame.string_mode)

    def sub_index(self, *values) -> "Index":
        """Fix a strict prefix of key values; result is an Index on the
        remaining columns (SubIndex, csvplus.go:632-641)."""
        if len(values) >= len(self.columns):
            raise ValueError("too many values for sub-index")  # panics, csvplus.go:633-635
        rest = self.columns[len(values):]
        return Index(self.find(*values), rest, unique=self.unique, small=self.small)

    def has(self, *values) -> bool:
        """Membership test (has, csvplus.go:899-905)."""
        return self.find(*values).df.limit(1).count() > 0

    # ------------------------------------------------------------------
    # uniqueness — csvplus.go:740-756

    def assert_unique(self, lazy: bool = False) -> "Index":
        """Duplicate-key check; raises DuplicateKeyError (eager) or a
        runtime error at action time (lazy) with the offending key
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
