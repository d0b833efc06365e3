"""Chunkers — assign every row a chunk key via pure column expressions.

Semantics follow the reference chunkers (NannyML `nannyml/chunk.py:27-520`):
ordered, contiguous, non-overlapping row windows with keys like ``[0:4999]``
(index chunkers, `chunk.py:381`) or period strings (`chunk.py:299`), plus the
``incomplete ∈ {keep, append, drop}`` leftover handling (`chunk.py:383-408`).

Spark-first design: a chunker contributes a ``chunk_key`` column expression;
downstream checks do ONE ``groupBy(chunk_key)`` pass. Nothing here materializes
per-chunk row subsets — at 10^12 rows the chunk is a group, not a DataFrame.

Index-based chunkers need a global row index. Two strategies:

* ``sort`` — ``row_number()`` over a global window. Exact, but the final sort
  collapses to a single task: only for ≲10M-row inputs (tests, small tiers).
* ``scalable`` — value-deterministic buckets (broadcast boundary keys from a
  seeded sample) + per-bucket ``row_number`` + broadcast cumulative offsets.
  All-parallel, nothing materialized, and recompute-safe: the bucket is a
  pure function of the order-key value, not of any physical partitioning.
  This is the 10^12-row path; for real deployments, prefer
  :class:`PeriodBasedChunker` / :class:`PartitionChunker`, which need no
  global index at all.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.functions.local import local_frame
from spark_validate.session import shuffle_partitions

CHUNK_KEY = "chunk_key"
CHUNK_INDEX = "chunk_index"
ROW_INDEX = "_sv_row_index"

# Chunk-header columns every result carries (reference:
# nannyml/drift/univariate/calculator.py:458).
CHUNK_HEADER_COLS = [
    "chunk_key",
    "chunk_index",
    "start_index",
    "end_index",
    "start_ts",
    "end_ts",
    "n_rows",
]


# 'auto' row-index strategy: below this row count a single-task window sort
# is cheap and bounded (~40 bytes/key tuple → ≲200 MB); above it the
# value-bucketed two-pass path takes over
SORT_INDEX_THRESHOLD = 5_000_000


def with_row_index(
    df: DataFrame,
    order_by: Sequence[str],
    strategy: str = "auto",
    num_partitions: Optional[int] = None,
    total_rows: Optional[int] = None,
) -> DataFrame:
    """Add a 0-based contiguous global row index ``_sv_row_index``.

    ``order_by`` must be a deterministic total order (include a tiebreaker
    key). ``strategy``: 'sort' (global window), 'scalable' (value-bucketed +
    offsets), or 'auto' — count once and pick 'sort' below
    ``SORT_INDEX_THRESHOLD`` (a single-task sort of ≤5M key tuples is
    bounded work and skips the sample/offset jobs — the same
    small-data/estimated switch the reference applies to KS/Wasserstein,
    methods.py:405-424), 'scalable' above it.
    """
    if not order_by:
        raise ValueError("order_by must list at least one column (deterministic total order)")
    n = total_rows  # caller-supplied count avoids a redundant scan
    if strategy == "auto":
        if n is None:
            n = df.count()
        strategy = "sort" if n <= SORT_INDEX_THRESHOLD else "scalable"
    if strategy == "sort":
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return df.withColumn(ROW_INDEX, F.row_number().over(w) - F.lit(1))
    if strategy != "scalable":
        raise ValueError(f"unknown row-index strategy {strategy!r}")

    # VALUE-deterministic bucketing — the 10^12-row design. Early versions
    # used repartitionByRange + spark_partition_id, but partition ids are a
    # property of one physical execution: recomputation moved range bounds
    # between the counting job and the indexing job (observed mis-assigning
    # whole chunks), and pinning them required materializing the ENTIRE input
    # (persist/localCheckpoint — catastrophic at scale). Instead the bucket is
    # a pure function of the ORDER-KEY VALUE against a broadcast boundary
    # list: every recompute agrees by construction, nothing is materialized,
    # and the whole index costs two passes (a count-only aggregate + the
    # windowed pass the caller was paying anyway).
    n_parts = int(num_partitions or shuffle_partitions(df.sparkSession))
    key = F.struct(*[F.col(c) for c in order_by])
    # 1. boundary keys from a seeded sample (driver-side, tiny)
    if n is None:
        n = df.count()
    sample_target = max(n_parts * 200, 10_000)
    frac = min(1.0, sample_target / max(n, 1))
    sample = [
        tuple(r)
        for r in df.select(*order_by).sample(fraction=frac, seed=42).collect()
        if all(v is not None for v in r)  # null keys sort into bucket 0 below
    ]
    sample.sort()
    bnds = []
    if sample and n_parts > 1:
        step = len(sample) / n_parts
        bnds = [sample[int(i * step)] for i in range(1, n_parts)]
        bnds = sorted(set(bnds))
    # bucket id = number of boundaries strictly below the key (monotone in
    # key). NULL order keys would make the comparison NULL and the offsets
    # join would silently drop those rows — coalesce them into bucket 0,
    # where the window's default nulls-first ordering ranks them lowest
    # (matching the range partitioner's nulls-first behavior they replace).
    # ONE array-literal + filter/size (bounded expression tree): the earlier
    # per-boundary chained comparisons built an O(n_parts)-deep tree —
    # thousands of codegen nodes at cluster-scale partition counts.
    if bnds:
        bnds_arr = F.array(
            *[F.struct(*[F.lit(v).alias(c) for v, c in zip(b, order_by)]) for b in bnds]
        )
        bucket = F.coalesce(
            F.size(F.filter(bnds_arr, lambda b: key > b)), F.lit(0)
        ).cast("int")
    else:
        bucket = F.lit(0)
    bucketed = df.withColumn("_sv_bkt", bucket)
    # 2. per-bucket counts → driver cumulative offsets (≤ n_parts rows)
    rows = sorted(
        (r["_sv_bkt"], r["count"]) for r in bucketed.groupBy("_sv_bkt").count().collect()
    )
    offs, acc = [], 0
    for bid, cnt in rows:
        offs.append((int(bid), acc))
        acc += cnt
    # an empty input has no bucket counts; (0, 0) is still a true offset —
    # bucket 0, where NULL keys also land, starts at row 0 — not a
    # placeholder a later filter must remove
    offsets = local_frame(df.sparkSession, offs or [(0, 0)], "_sv_bkt int, _sv_offset long")
    # 3. per-bucket ranks + broadcast offsets
    w_local = Window.partitionBy("_sv_bkt").orderBy(*[F.col(c) for c in order_by])
    out = (
        bucketed.join(F.broadcast(offsets), "_sv_bkt")
        .withColumn(ROW_INDEX, F.row_number().over(w_local) - F.lit(1) + F.col("_sv_offset"))
        .drop("_sv_bkt", "_sv_offset")
    )
    return out


@dataclass
class Chunker:
    """Base chunker: subclasses implement :meth:`assign`.

    ``assign`` returns the input with ``chunk_key`` (string) added, plus
    ``_sv_row_index`` for index-based chunkers. ``timestamp_column`` feeds the
    chunk-header start/end timestamps.
    """

    timestamp_column: Optional[str] = None

    def assign(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def headers(self, assigned: DataFrame) -> DataFrame:
        """Per-chunk header table: key, index, start/end row index, start/end ts, n_rows."""
        return chunk_aggregate(assigned, self, []).select(*CHUNK_HEADER_COLS)


def chunk_aggregate(assigned: DataFrame, chunker: Chunker, aggs: Sequence[F.Column]) -> DataFrame:
    """The per-chunk aggregation every chunked check builds on: one
    ``groupBy(chunk_key)`` computing ``aggs`` plus the chunk-header fields (n_rows, start/end row index,
    start/end ts), then ``chunk_index``.

    Header fields ride along in the same aggregation, so a check's values
    and its headers cost one scan and one shuffle. ``chunk_index`` is a
    row_number over the ≤ #chunks aggregate, matching the reference's
    enumerate order (`chunk.py:170-174`): by start_index (index chunkers),
    else start_ts, else the key; ``chunk_key`` breaks ties, because a
    SegmentedChunker's composite chunks share their base chunk's
    start_index/start_ts. The unpartitioned window is a single task by
    design (Spark logs a WindowExec warning; harmless here, and constant
    partition keys get constant-folded back to an empty partition spec).
    """
    has_idx = ROW_INDEX in assigned.columns
    ts = chunker.timestamp_column
    hdr_aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        (F.min(ROW_INDEX) if has_idx else F.lit(None).cast("long")).alias("start_index"),
        (F.max(ROW_INDEX) if has_idx else F.lit(None).cast("long")).alias("end_index"),
        (F.min(ts) if ts else F.lit(None).cast("timestamp")).alias("start_ts"),
        (F.max(ts) if ts else F.lit(None).cast("timestamp")).alias("end_ts"),
    ]
    wide = assigned.groupBy(CHUNK_KEY).agg(*hdr_aggs, *aggs)
    order_col = "start_index" if has_idx else ("start_ts" if ts else CHUNK_KEY)
    w = Window.orderBy(order_col, CHUNK_KEY)
    return wide.withColumn(CHUNK_INDEX, F.row_number().over(w) - F.lit(1))


@dataclass
class SizeBasedChunker(Chunker):
    """Fixed row count per chunk (reference `nannyml/chunk.py:314-416`).

    Keys are ``[start:end]`` over the global row index; ``incomplete`` handles
    the final partial chunk: keep it, append it to the previous full chunk, or
    drop its rows.
    """

    chunk_size: int = 5000
    incomplete: str = "keep"
    order_by: Sequence[str] = field(default_factory=list)
    index_strategy: str = "auto"

    def __post_init__(self):
        if self.chunk_size <= 0:
            raise ValueError(f"chunk_size must be > 0, got {self.chunk_size}")
        if self.incomplete not in ("keep", "append", "drop"):
            raise ValueError(f"incomplete must be keep|append|drop, got {self.incomplete!r}")

    def _order(self) -> Sequence[str]:
        if self.order_by:
            return list(self.order_by)
        if self.timestamp_column:
            return [self.timestamp_column]
        raise ValueError("SizeBasedChunker needs order_by and/or timestamp_column for a deterministic order")

    def assign(self, df: DataFrame) -> DataFrame:
        size = int(self.chunk_size)
        n_hint = getattr(self, "_n_hint", None)
        # Total count: one cheap job (parquet metadata count when unfiltered);
        # needed for append/drop, the last chunk's key end, AND the 'auto'
        # index-strategy switch — counted ONCE here, before the window is
        # attached, and threaded into with_row_index (previously 'auto'
        # counted a second time inside with_row_index). A parent
        # CountBasedChunker already counted — reuse via _n_hint.
        n = n_hint if n_hint is not None else df.count()
        # stashed for calculators that need to know whether the ≤5M-row
        # single-task sort path (ONE output partition) was taken — e.g.
        # ShapeStatsCalculator re-parallelizes its decimal partial sums
        self._last_assign_n = n
        idxed = (
            df
            if ROW_INDEX in df.columns
            else with_row_index(df, self._order(), self.index_strategy, total_rows=n)
        )
        n_full = n // size
        rem = n % size
        cid = F.floor(F.col(ROW_INDEX) / F.lit(size))
        if rem != 0 and self.incomplete == "drop":
            idxed = idxed.filter(F.col(ROW_INDEX) < n_full * size)
        if rem != 0 and self.incomplete == "append" and n_full > 0:
            cid = F.least(cid, F.lit(n_full - 1))
        # key end: the last surviving chunk ends at the true last index
        # (keep: partial tail n-1; append: merged tail n-1; drop: full-chunk end).
        if rem == 0 or self.incomplete in ("append", "drop"):
            max_cid = max(n_full - 1, 0)
        else:
            max_cid = n_full
        last_end = (n_full * size - 1) if (rem != 0 and self.incomplete == "drop") else (n - 1)
        start = (cid * size).cast("long")
        plain_end = start + F.lit(size - 1)
        end = F.when(cid == F.lit(max_cid), F.lit(last_end)).otherwise(plain_end)
        key = F.concat(F.lit("["), start.cast("string"), F.lit(":"), end.cast("string"), F.lit("]"))
        return idxed.withColumn(CHUNK_KEY, key)


@dataclass
class CountBasedChunker(Chunker):
    """Split into ~``chunk_number`` chunks: size = n // chunk_number, then
    size-based semantics (reference `nannyml/chunk.py:419-492`)."""

    chunk_number: int = 10
    incomplete: str = "keep"
    order_by: Sequence[str] = field(default_factory=list)
    index_strategy: str = "auto"

    def __post_init__(self):
        if self.chunk_number <= 0:
            raise ValueError(f"chunk_number must be > 0, got {self.chunk_number}")

    def assign(self, df: DataFrame) -> DataFrame:
        order = list(self.order_by) if self.order_by else ([self.timestamp_column] if self.timestamp_column else [])
        if not order:
            raise ValueError("CountBasedChunker needs order_by and/or timestamp_column")
        # count ONCE on the raw input (cheap metadata count on parquet), or
        # reuse the caller's count (chunker_n_hint), and thread it through
        # the index + size chunker instead of recounting the windowed frame
        n = getattr(self, "_n_hint", None)
        if n is None:
            n = df.count()
        # the inner SizeBasedChunker is throwaway: stash n here too, for
        # calculators that check the ≤5M-row single-task sort path
        self._last_assign_n = n
        idxed = (
            df
            if ROW_INDEX in df.columns
            else with_row_index(df, order, self.index_strategy, total_rows=n)
        )
        size = max(n // int(self.chunk_number), 1)
        inner = SizeBasedChunker(
            chunk_size=size,
            incomplete=self.incomplete,
            order_by=order,
            timestamp_column=self.timestamp_column,
            index_strategy=self.index_strategy,
        )
        inner._n_hint = n
        return inner.assign(idxed)


@dataclass
class DefaultChunker(CountBasedChunker):
    """~10 equal chunks (reference `nannyml/chunk.py:495-520`)."""

    chunk_number: int = 10


# pandas period-alias → spark date_trunc unit
_PERIOD_UNITS = {
    "W": "week",
    "M": "month",
    "D": "day",
    "Y": "year",
    "A": "year",
    "Q": "quarter",
    "H": "hour",
    "h": "hour",
    "T": "minute",
    "min": "minute",
    "S": "second",
    "s": "second",
}


_WEEK_ANCHORS = {"MON": "Mon", "TUE": "Tue", "WED": "Wed", "THU": "Thu", "FRI": "Fri", "SAT": "Sat", "SUN": "Sun"}


def period_key_expr(ts_col: str, offset: str):
    """Chunk-key expression matching pandas ``Period`` string forms
    (reference keys, `nannyml/chunk.py:296-301`): 'W' → '2020-01-06/2020-01-12',
    'M' → '2020-01', 'D' → '2020-01-06', 'Q' → '2020Q1', 'Y' → '2020',
    'H' → '2020-01-06 00:00'. Anchored weeks ('W-WED' — pandas aliases the
    reference accepts, `nannyml/chunk.py:294-301`) end on the anchor weekday:
    the key is 'start/end' with end = first anchor-day ≥ ts."""
    if offset.upper().startswith("W-"):
        anchor = offset.upper()[2:]
        if anchor not in _WEEK_ANCHORS:
            raise ValueError(f"unsupported week anchor {offset!r}; use W-MON..W-SUN")
        d = F.to_date(F.col(ts_col))
        end = F.next_day(F.date_sub(d, 1), _WEEK_ANCHORS[anchor])  # ≥ d, == d on anchor day
        start = F.date_sub(end, 6)
        return F.concat(
            F.date_format(start, "yyyy-MM-dd"), F.lit("/"), F.date_format(end, "yyyy-MM-dd")
        )
    if offset not in _PERIOD_UNITS:
        raise ValueError(f"unsupported period offset {offset!r}; supported: {sorted(_PERIOD_UNITS)} and W-MON..W-SUN")
    ts = F.col(ts_col)
    unit = _PERIOD_UNITS[offset]
    start = F.date_trunc(unit, ts)
    if offset == "W":
        return F.concat(
            F.date_format(start, "yyyy-MM-dd"), F.lit("/"), F.date_format(F.date_add(start, 6), "yyyy-MM-dd")
        )
    if offset == "M":
        return F.date_format(start, "yyyy-MM")
    if offset == "D":
        return F.date_format(start, "yyyy-MM-dd")
    if offset in ("Y", "A"):
        return F.date_format(start, "yyyy")
    if offset == "Q":
        return F.concat(F.date_format(start, "yyyy"), F.lit("Q"), F.quarter(ts).cast("string"))
    if offset in ("S", "s"):
        return F.date_format(start, "yyyy-MM-dd HH:mm:ss")
    return F.date_format(start, "yyyy-MM-dd HH:mm")  # hour / minute


@dataclass
class PeriodBasedChunker(Chunker):
    """Calendar-period chunks (reference `nannyml/chunk.py:247-311`).

    Pure column expression — no global index, no count job, no sort: the
    natural chunker at 10^12 rows when a timestamp exists.
    """

    offset: str = "W"

    def assign(self, df: DataFrame) -> DataFrame:
        if not self.timestamp_column:
            raise ValueError("PeriodBasedChunker requires timestamp_column")
        return df.withColumn(CHUNK_KEY, period_key_expr(self.timestamp_column, self.offset))


@dataclass
class PartitionChunker(Chunker):
    """Physical/logical partition chunks — the web-scale extension (no
    reference analog; north-rule 'per-partition pass/fail').

    With ``columns``, the chunk is the (Iceberg/Hive) partition value tuple —
    deterministic and aligned with storage pruning. Without, it falls back to
    ``spark_partition_id()`` (fast, but ids depend on the physical plan).
    """

    columns: Sequence[str] = field(default_factory=list)

    def assign(self, df: DataFrame) -> DataFrame:
        if self.columns:
            parts = [F.concat(F.lit(c + "="), F.col(c).cast("string")) for c in self.columns]
            return df.withColumn(CHUNK_KEY, F.concat_ws("/", *parts))
        return df.withColumn(CHUNK_KEY, F.concat(F.lit("part_"), F.spark_partition_id().cast("string")))


@dataclass
class PreassignedChunker(Chunker):
    """Chunk keys already live in the input — ``assign`` is identity.

    For derived frames that CARRIED their chunk assignment through a
    transform (the Arrow payload decode, a curation stage): the upstream
    chunker ran on the raw table, the derivation preserved ``chunk_key``,
    and a downstream calculator just needs headers over the existing keys.
    The ``columns`` attribute makes ``chunker_columns`` keep the key through
    fit projections (the PartitionChunker duck-type)."""

    def assign(self, df: DataFrame) -> DataFrame:
        if CHUNK_KEY not in df.columns:
            raise ValueError("PreassignedChunker expects a chunk_key column in the input")
        return df

    @property
    def columns(self):
        # ROW_INDEX too: when the upstream chunker was index-based and the
        # derivation carried the index along, headers keep chronological
        # chunk_index ordering (absent it, ordering falls back to the key
        # string — wrong for size keys of mixed digit width); fit
        # projections drop names that don't exist, so listing it is safe
        return [CHUNK_KEY, ROW_INDEX]


@dataclass
class SegmentedChunker(Chunker):
    """Composite chunker: base chunk × segment value — the monitoring analog
    of GROUPING SETS. Wrapping ANY base chunker makes EVERY calculator
    per-segment without touching its aggregation logic: segment-sliced
    performance metrics, per-cohort stats, per-source drift — each
    (base chunk, segment) pair becomes its own chunk, so per-chunk windows,
    aggregates, thresholds and alerts all partition correctly by
    construction. The reference has no segmentation axis
    (`nannyml/chunk.py` chunks on time/size only); Evidently/Arize-style
    model-segment monitoring is this wrapper plus the existing calculators.

    Keys are ``<base_key>|<segment>``; NULL segments get the ``__null__``
    label (a NULL cohort is a reportable cohort). Headers come from the
    generic per-chunk aggregate; composite chunks inherit their base
    chunk's start_index/start_ts, ordered deterministically by the
    (order_col, chunk_key) tie-break. Thresholds fitted from reference
    chunk values pool across segments (one band over all composite
    chunks) — per-segment bands come from running one calculator per
    segment value instead.

    Scale: assign is a narrow projection on top of the base assign; the
    chunk-count multiplier (× distinct segments) only grows the tiny
    header/result frames, never the data-side shuffle count.
    """

    base: Chunker = field(default_factory=lambda: DefaultChunker())
    segment_col: str = "segment"

    def __post_init__(self):
        # an explicitly passed timestamp_column wins; otherwise inherit the
        # base chunker's so period headers keep their start/end timestamps
        self.timestamp_column = self.timestamp_column or self.base.timestamp_column

    def assign(self, df: DataFrame) -> DataFrame:
        a = self.base.assign(df)
        seg = F.coalesce(F.col(self.segment_col).cast("string"), F.lit("__null__"))
        return a.withColumn(CHUNK_KEY, F.concat(F.col(CHUNK_KEY), F.lit("|"), seg))


def chunker_for(
    chunk_size: Optional[int] = None,
    chunk_number: Optional[int] = None,
    chunk_period: Optional[str] = None,
    partition_columns: Optional[Sequence[str]] = None,
    timestamp_column: Optional[str] = None,
    order_by: Sequence[str] = (),
    incomplete: str = "keep",
    segment_by: Optional[str] = None,
) -> Chunker:
    """Factory with the reference's dispatch order (`nannyml/chunk.py:221-244`):
    size → count → period → (partition, ours) → default; ``segment_by``
    wraps the result in a :class:`SegmentedChunker`."""
    if chunk_size:
        base = SizeBasedChunker(
            chunk_size=chunk_size, incomplete=incomplete, order_by=list(order_by), timestamp_column=timestamp_column
        )
    elif chunk_number:
        base = CountBasedChunker(
            chunk_number=chunk_number, incomplete=incomplete, order_by=list(order_by), timestamp_column=timestamp_column
        )
    elif chunk_period:
        base = PeriodBasedChunker(offset=chunk_period, timestamp_column=timestamp_column)
    elif partition_columns:
        base = PartitionChunker(columns=list(partition_columns), timestamp_column=timestamp_column)
    else:
        base = DefaultChunker(order_by=list(order_by), timestamp_column=timestamp_column)
    if segment_by:
        return SegmentedChunker(base=base, segment_col=segment_by)
    return base
