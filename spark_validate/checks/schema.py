"""Schema-contract validation — the "schema" half of the north rule's
"schema + constraint validation engine".

Two tiers:

* ``verdicts`` — METADATA-level: compare the DataFrame's actual schema to an
  expected contract (column name → Spark type simpleString). Costs zero
  executor work at any scale — the schema comes from the catalog / parquet
  footer, so a 10^12-row table is checked in the driver before a single task
  launches. Verdicts: ``ok`` / ``missing_column`` / ``type_mismatch`` /
  ``unexpected_column`` (the last only when ``allow_extra=False``).
* ``calculate`` / ``violations`` — DATA-level: contract columns marked
  ``required`` must be non-null in every row; one chunked aggregation pass
  emits the per-chunk ``required_null_rate`` per column
  (``ConstantThreshold(upper=0)`` — any missing required value alerts, same
  contract as the range/domain checks) plus one ``schema_violations`` row per
  chunk carrying the metadata verdict count, so a broken contract surfaces in
  the standard long-form alert stream too.

Reference analog: NannyML validates only column PRESENCE
(`nannyml/base.py:596-601` ``_list_missing``) and infers continuous vs
categorical treatment from dtypes (`nannyml/base.py:545-567`); the full
name/type/nullability contract is a north-rule web-scale extension — at
ingest scale a silently widened column (int→string) corrupts every
downstream check, so it must fail loudly at plan time.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks, join_headers
from spark_validate.checks.constraints import _attach_const_threshold
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.functions.local import local_frame

# Engine-agnostic spellings of the same type, normalized before comparison so
# a contract written as {"n": "long"} matches a scan that reports "bigint".
_TYPE_ALIASES = {
    "integer": "int",
    "long": "bigint",
    "short": "smallint",
    "byte": "tinyint",
    "real": "float",
    "str": "string",
    "varchar": "string",
    "bool": "boolean",
}


def _norm_type(t: Optional[str]) -> Optional[str]:
    if t is None:
        return None
    t = t.strip().lower()
    return _TYPE_ALIASES.get(t, t)


VERDICT_SCHEMA = (
    "column_name string, expected_type string, actual_type string, status string"
)


@dataclass
class SchemaCheck:
    """Contract: ``expected`` maps column → type simpleString (``bigint``,
    ``double``, ``string``, ``timestamp``, ``array<float>``, ``binary``…);
    ``required`` lists columns that must additionally be non-null per row."""

    expected: Mapping[str, str]
    required: Sequence[str] = ()
    allow_extra: bool = True
    chunker: Chunker = field(default_factory=DefaultChunker)

    def _verdict_rows(self, dtypes: Mapping[str, str]) -> list:
        rows = []
        for c, exp in self.expected.items():
            if c not in dtypes:
                rows.append((c, exp, None, "missing_column"))
            elif _norm_type(dtypes[c]) != _norm_type(exp):
                rows.append((c, exp, dtypes[c], "type_mismatch"))
            else:
                rows.append((c, exp, dtypes[c], "ok"))
        for c, t in dtypes.items():
            if c not in self.expected:
                rows.append((c, None, t, "ok_extra" if self.allow_extra else "unexpected_column"))
        return rows

    def verdicts(self, df: DataFrame) -> DataFrame:
        """Metadata verdicts as a (small) DataFrame: one row per contract
        column plus one per actual-but-uncontracted column. No executor
        work — df.dtypes reads the analyzed plan's schema only."""
        spark = df.sparkSession
        return local_frame(spark, self._verdict_rows(dict(df.dtypes)), VERDICT_SCHEMA)

    def n_schema_violations(self, df: DataFrame) -> int:
        return sum(
            1 for r in self._verdict_rows(dict(df.dtypes)) if r[3] not in ("ok", "ok_extra")
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        """Per-chunk ``required_null_rate`` per required column (one shuffle,
        map-side combined) + a constant ``schema_violations`` row per chunk
        surfacing the metadata verdict count in the alert stream."""
        n_meta_bad = self.n_schema_violations(df)
        present = [c for c in self.required if c in df.columns]
        assigned, headers = assign_chunks(df, self.chunker)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in present:
            aggs.append(F.sum(F.col(c).isNull().cast("int")).cast("double").alias(f"{c}__nulls"))
        wide = assigned.groupBy(CHUNK_KEY).agg(*aggs)
        pairs = [
            F.struct(
                F.lit("_schema").alias("column_name"),
                F.lit("schema_violations").alias("method"),
                F.lit(float(n_meta_bad)).alias("value"),
            )
        ]
        for c in present:
            pairs.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit("required_null_rate").alias("method"),
                    (F.col(f"{c}__nulls") / F.col("__rows")).cast("double").alias("value"),
                )
            )
        # a required column MISSING from the frame entirely: every row
        # violates — emit rate 1.0 so the alert fires even though no
        # per-row aggregation is possible
        for c in self.required:
            if c not in df.columns:
                pairs.append(
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.lit("required_null_rate").alias("method"),
                        F.lit(1.0).alias("value"),
                    )
                )
        long_df = wide.select(CHUNK_KEY, F.explode(F.array(*pairs)).alias("kv")).select(
            CHUNK_KEY, "kv.column_name", "kv.method", "kv.value"
        )
        return _attach_const_threshold(join_headers(long_df, headers), period, None, 0.0)

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        """Exploded rows where a required column is NULL (north-rule
        violation table). Metadata-tier breaks are table-level, not row-level
        — read them from ``verdicts``."""
        assigned = self.chunker.assign(df)
        parts = []
        for c in self.required:
            if c not in df.columns:
                continue
            parts.append(
                assigned.filter(F.col(c).isNull()).select(
                    F.lit("schema").alias("check"),
                    F.lit(c).alias("column_name"),
                    F.col(CHUNK_KEY),
                    (
                        F.col(row_id).cast("string") if row_id else F.lit(None).cast("string")
                    ).alias("row_id"),
                    F.lit("required_null").alias("violation_kind"),
                    F.lit(None).cast("string").alias("observed_value"),
                )
            )
        if not parts:
            spark = df.sparkSession
            return local_frame(
                spark,
                [],
                "check string, column_name string, chunk_key string, row_id string, "
                "violation_kind string, observed_value string",
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
