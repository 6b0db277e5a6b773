"""Dynamic-schema ("computing") tables — the reference's `relkind='g'`
tables whose schema grows on insert (new columns appended as catalog
`pg_computed_column` rows with versioning/tombstones — reference
`components/catalog/system_table_schemas.cpp:17-18,234`, WAL
`PHYSICAL_ADD_COLUMN` `services/wal/record.hpp:16-21`).

Spark-first design: each ingested batch lands as-is (schema-on-write);
reads resolve the union schema with missing-columns-as-NULL
(`unionByName(allowMissingColumns=True)`), which is exactly the semantics the
reference's versioned catalog produces. Same-name/different-type columns —
the reference's `::?` variant-select case — are resolved by a widening policy
(see `_merge_type`): conflicting batches are cast with `try_cast`, so a
value surfaces where its type matches and NULLs elsewhere, matching the
reference's "pick the branch whose type matches, no conversion" contract.

Scale notes: batches are parquet appends (no rewrite); the union-schema read
is a per-batch projection, no shuffle; on a lake deployment the same policy
is Delta `mergeSchema=true`.

Schema memo: a ``batch-NNNNNN`` directory is written once and never
changed, so its inferred schema is remembered under ``(dir, st_ino,
st_mtime_ns)`` and each batch pays one footer-inference job in its
lifetime instead of two per read; reads pass the memo to
``spark.read.schema(...)``. A batch removed by DROP TABLE and written
again under the same name is a new directory (new inode, or a reused
inode with a later mtime), so it misses the memo and is inferred afresh.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T


def _merge_type(a: T.DataType, b: T.DataType) -> T.DataType:
    """Widening policy for same-name/different-type columns."""
    if a == b:
        return a
    numeric_order = [
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(),
    ]
    if a in numeric_order and b in numeric_order:
        wide = numeric_order[
            max(numeric_order.index(a), numeric_order.index(b))
        ]
        # FLOAT cannot hold a 64-bit integer exactly (24-bit mantissa):
        # LONG + FLOAT widens to DOUBLE, not the index-max FLOAT
        # (self-review r13 pass 3)
        if wide == T.FloatType() and T.LongType() in (a, b):
            return T.DoubleType()
        return wide
    # incompatible branches (e.g. BIGINT vs STRING): widen to string; the
    # typed view is recovered per-branch with variant_select()
    return T.StringType()


class DynamicTable:
    """Schema-on-write table: append arbitrary-schema batches, read the
    union schema with NULLs for absent columns."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        # (batch dir, st_ino, st_mtime_ns) -> schema; see the module docstring
        self._schemas: dict[tuple, T.StructType] = {}

    def _batch_dirs(self) -> list[str]:
        return sorted(
            os.path.join(self.path, d)
            for d in os.listdir(self.path)
            if d.startswith("batch-")
        )

    def insert(self, batch: DataFrame) -> int:
        """Append one batch; new columns extend the table schema (the
        reference's PHYSICAL_ADD_COLUMN), missing columns read as NULL.
        Returns the batch's row count, observed on the write itself.

        The list-then-write is serialized under the same flock the
        managed-table swap uses: two concurrent inserters would
        otherwise both target batch-NNNNNN and interleave part-files of
        different schemas in one directory (self-review r13 pass 3)."""
        from otterbrix_spark.operators.dml import table_write_lock

        observed = Observation()
        with table_write_lock(self.path):
            n = len(self._batch_dirs())
            batch.observe(observed, F.count(F.lit(1)).alias("rows")).write.parquet(
                os.path.join(self.path, f"batch-{n:06d}")
            )
        return observed.get["rows"]

    def _batch_schemas(self) -> list[tuple[str, T.StructType]]:
        """(directory, schema) of every written batch, inferring only the
        batches the memo has not seen (and forgetting vanished ones)."""
        memo = {}
        for d in self._batch_dirs():
            st = os.stat(d)
            key = (d, st.st_ino, st.st_mtime_ns)
            if key not in self._schemas:
                self._schemas[key] = self.spark.read.parquet(d).schema
            memo[key] = self._schemas[key]
        self._schemas = memo
        return [(d, schema) for (d, _, _), schema in memo.items()]

    def _sources(
        self, extra: "tuple | list" = ()
    ) -> list[tuple[DataFrame, T.StructType]]:
        """(frame, schema) of the written batches plus any STAGED
        (uncommitted) batches — the transactional read-your-writes seam: a
        txn's pending inserts participate in the union-schema read without
        touching disk."""
        return [
            (self.spark.read.schema(schema).parquet(d), schema)
            for d, schema in self._batch_schemas()
        ] + [(b, b.schema) for b in extra]

    @staticmethod
    def _merge(schemas: "list[T.StructType]") -> T.StructType:
        """Union schema in first-seen column order with widening."""
        fields: dict[str, T.DataType] = {}
        for schema in schemas:
            for f in schema:
                if f.name in fields:
                    fields[f.name] = _merge_type(fields[f.name], f.dataType)
                else:
                    fields[f.name] = f.dataType
        return T.StructType([T.StructField(n, t, True) for n, t in fields.items()])

    def schema(self, extra: "tuple | list" = ()) -> T.StructType:
        """Union schema in first-seen column order with widening."""
        return self._merge(
            [schema for _, schema in self._batch_schemas()]
            + [b.schema for b in extra]
        )

    def df(self, extra: "tuple | list" = ()) -> DataFrame:
        """Read the union of all batches under the merged schema."""
        sources = self._sources(extra)
        target = self._merge([schema for _, schema in sources])
        out: DataFrame | None = None
        for b, schema in sources:
            have = {f.name: f.dataType for f in schema}
            cols = []
            for f in target:
                if f.name not in have:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                elif have[f.name] == f.dataType:
                    cols.append(F.col(f.name))
                else:
                    cols.append(F.col(f.name).try_cast(f.dataType).alias(f.name))
            proj = b.select(*cols)
            out = proj if out is None else out.unionByName(proj)
        if out is None:
            return self.spark.createDataFrame([], T.StructType([]))
        return out

    def variant_select(self, col_name: str, dtype: str) -> DataFrame:
        """The reference's ``col ::? type`` — among batches whose ``col``
        had different types, surface only values genuinely representable
        as ``dtype`` (`components/expressions/key.hpp:102-111`).

        Operates on the RAW per-batch value, not the widened merged
        column (a widened DOUBLE try_cast back to BIGINT would TRUNCATE
        2.5 to 2 instead of excluding it — self-review r13 pass 3).
        Numeric-to-numeric selection additionally requires an exact
        cast round-trip, so non-integral doubles never leak into a
        ``::? bigint`` view while string '42' still surfaces as 42."""
        from pyspark.sql.types import _parse_datatype_string

        target_t = _parse_datatype_string(dtype)
        numeric = {
            T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
            T.FloatType(), T.DoubleType(),
        }
        sources = self._sources()
        merged = self._merge([schema for _, schema in sources])
        out: DataFrame | None = None
        for b, schema in sources:
            have = {f.name: f.dataType for f in schema}
            if col_name not in have:
                continue
            casted = F.col(col_name).try_cast(dtype)
            keep = casted.isNotNull()
            if have[col_name] in numeric and target_t in numeric:
                keep = keep & (
                    casted.cast(have[col_name]) == F.col(col_name)
                )
            cols = []
            for f in merged:
                if f.name == col_name:
                    cols.append(casted.alias(col_name))
                elif f.name not in have:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                elif have[f.name] == f.dataType:
                    cols.append(F.col(f.name))
                else:
                    cols.append(
                        F.col(f.name).try_cast(f.dataType).alias(f.name)
                    )
            # filter BEFORE the projection: `keep` references the RAW
            # column, which the select replaces under the same name
            proj = b.filter(keep).select(*cols)
            out = proj if out is None else out.unionByName(proj)
        if out is None:
            empty_schema = T.StructType([
                T.StructField(
                    f.name,
                    target_t if f.name == col_name else f.dataType,
                    True,
                )
                for f in merged
            ])
            return self.spark.createDataFrame([], empty_schema)
        return out
