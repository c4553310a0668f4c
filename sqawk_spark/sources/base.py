"""Table builder: records DataFrame → reference-shaped temp view.

Reproduces the reference's table layout (lib/classes/table.tcl:59-78):
``anr`` (1-based record number, insertion order), ``anf`` (field count
of the record), ``a0`` (whole raw record, droppable with F0=0), and
``a1..aNF`` field columns with affinity-canonicalized values — names
taken from the prefix, a header record, or ``columns=``.

Load cost: one Spark aggregation per text table. Grouped by partition
(and by "first row of the partition or not"), it yields every fact the
load needs: the per-partition counts behind ``anr`` (partition-offset
numbering, JVM-side, the bases carried in the plan as a literal — no
``rdd.zipWithIndex`` Python round-trip), the header row, the max
record width for MNF ``expand`` (SQLite's ALTER TABLE mid-load) and
``error``, and the integer-promotion flags. Only a record wider than
NF costs a second aggregation, to probe the grown columns.
Appending several files to one table numbers continuously across files
(tests.tcl:213-223) by unioning record streams *before* numbering.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqawk_spark.affinity import (
    INT_RE,
    apply_affinity,
    column_class_for,
    normalize_affinity,
    record_column_class,
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("a0", T.StringType()),
        T.StructField("fields", T.ArrayType(T.StringType())),
    ]
)


@dataclass
class FileSpec:
    """One input file + its per-file options (reference README.md
    'Per-file options', sqawk-dev.tcl:120-136)."""

    filename: str  # "-" = stdin
    format: str = "awk"
    table: str | None = None
    prefix: str | None = None
    header: bool = False
    columns: list[str] | None = None
    f0: bool = True
    nf: int = 10
    mnf: str = "expand"  # crop | expand | error
    datatypes: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)  # parser-specific


def _tag(df: DataFrame) -> DataFrame:
    """Add each row's partition (``__pid``) and
    ``monotonically_increasing_id`` (``__mid``). The id of partition
    p's k-th row (k from 0) is ``(p << 33) + k``: consecutive within a
    partition, and the partition's first row is ``p << 33``."""
    return df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )


def _partition_stats(
    tagged: DataFrame, *aggs: Column
) -> dict[int, dict[bool, Row]]:
    """The one load-time Spark aggregation: per partition, the row
    count ``__n`` plus ``aggs``, computed separately over the
    partition's first row and over its other rows, so a header row
    (the first row of the first non-empty partition) can be left out
    of any statistic without a second pass. Returns
    ``{pid: {is_first_row: Row}}`` in partition order; empty
    partitions are absent."""
    first = F.col("__mid") == F.shiftleft(F.col("__pid").cast("long"), 33)
    rows = (
        tagged.groupBy("__pid", first.alias("__first"))
        .agg(F.count("*").alias("__n"), *aggs)
        .collect()
    )
    stats: dict[int, dict[bool, Row]] = {}
    for r in rows:
        stats.setdefault(r["__pid"], {})[r["__first"]] = r
    return dict(sorted(stats.items()))


def _attach_numbers(
    tagged: DataFrame,
    columns: list[str],
    stats: dict[int, dict[bool, Row]],
    offset: int = 0,
    skip_mid: int | None = None,
) -> DataFrame:
    """Number ``tagged``'s rows 1-based in (partition, row) order from
    the per-partition counts in ``stats``, leaving out the row whose
    id is ``skip_mid``, and select ``anr`` plus ``columns``."""
    bases = {}
    acc = offset
    for pid, parts in stats.items():
        first_mid = pid << 33
        n = sum(r["__n"] for r in parts.values())
        if skip_mid == first_mid:
            first_mid += 1
            n -= 1
        # anr = base + __mid: the partition's first numbered row gets
        # acc + 1
        bases[pid] = acc + 1 - first_mid
        acc += n
    if skip_mid is not None:
        tagged = tagged.filter(F.col("__mid") != skip_mid)
    # the bases ride in the plan as an array literal indexed by
    # partition id: no join, and no job to ship a base table at query
    # time (empty partitions hold a 0 no row reads)
    literal = ", ".join(
        f"{bases.get(pid, 0)}L" for pid in range(max(bases, default=0) + 1)
    )
    return tagged.select(
        F.expr(f"array({literal})[__pid] + __mid").alias("anr"), *columns
    )


def with_record_numbers(df: DataFrame, offset: int = 0) -> DataFrame:
    """Attach a 1-based, insertion-ordered ``anr`` column (plus
    ``offset``), JVM-side.

    Partition-offset numbering, the distributed equivalent of
    ``rdd.zipWithIndex`` without its per-row Python round-trip:

    1. tag rows with ``spark_partition_id()`` and
       ``monotonically_increasing_id()`` (consecutive within a
       partition, starting at ``pid << 33``);
    2. one aggregation job collects per-partition row counts — a row
       or two per partition, regardless of data size;
    3. cumulative counts in partition order give each partition a base
       offset; ``base[pid] + __mid`` numbers rows exactly as
       zipWithIndex would (partition order, then within-partition
       order). The bases are an array literal in the plan, so the
       corpus itself never shuffles and never leaves the JVM.

    :func:`build_table` runs the same aggregation with its load probes
    added, so a text table costs this one job in all.

    Determinism: both passes re-scan the same source plan; file-split
    partitioning and within-partition row order are stable, so the
    (pid, mid) pairs seen by the output job match the counting job.

    CONSTRAINT: the input plan must partition DETERMINISTICALLY across
    jobs. File scans and hash-partitioned exchanges qualify;
    ``repartitionByRange`` does NOT (RangePartitioner samples its
    boundaries with an RDD-id-seeded RNG, so boundary rows can swap
    partitions between the stats job and the output job, producing
    duplicate/skipped numbers). Callers with a range-shuffled input
    must ``localCheckpoint(eager=True)`` it first, or use a numbering
    keyed on a pure function of the row (see
    ``operators.sampling.deterministic_shuffle``).
    """
    tagged = _tag(df)
    return _attach_numbers(tagged, df.columns, _partition_stats(tagged), offset)


class TableLoader:
    """Accumulates per-file record streams into named tables, then
    shapes + registers them (the analog of the reference's table
    objects plus read-file, lib/classes/sqawk.tcl:137-203)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._streams: dict[str, list[tuple[DataFrame, FileSpec]]] = {}
        self._order: list[str] = []
        self.tables: dict[str, DataFrame] = {}
        self.specs: dict[str, FileSpec] = {}

    def add(self, records: DataFrame, spec: FileSpec, table: str) -> None:
        self._streams.setdefault(table, [])
        if table not in self._order:
            self._order.append(table)
        self._streams[table].append((records, spec))

    def finalize(self) -> dict[str, DataFrame]:
        for table in self._order:
            parts = self._streams[table]
            # first file's spec decides naming/shape options
            # (CREATE TABLE IF NOT EXISTS semantics: later appends
            # reuse the existing schema, lib/classes/table.tcl:69)
            spec = parts[0][1]
            records = parts[0][0]
            for df, _ in parts[1:]:
                records = records.unionAll(df)
            if spec.format in ("parquet", "orc"):
                from sqawk_spark.sources.parquet import shape_typed_table

                shaped = shape_typed_table(records, spec, table)
            else:
                shaped = build_table(self.spark, records, spec, table)
            shaped.createOrReplaceTempView(table)
            self.tables[table] = shaped
            self.specs[table] = spec
        return self.tables


def _resolve_names(
    header_fields: list[str] | None,
    spec: FileSpec,
    prefix: str,
    nf: int,
) -> list[str]:
    """Resolve field column names.

    Header semantics: first record's fields become names (field 0 /
    the raw record is dropped), reference lib/classes/sqawk.tcl:176-181;
    ``columns=`` entries override positionally, empty entries fall
    through (lib/classes/sqawk.tcl:183-190); unnamed tail keeps
    auto names (prefix + index). Grave accents are forbidden in names
    (lib/classes/table.tcl:22-28).
    """
    names: list[str | None] = [None] * nf
    if header_fields:
        for i, h in enumerate(header_fields[:nf]):
            names[i] = h
    if spec.columns:
        for i, c in enumerate(spec.columns[:nf]):
            if c:
                names[i] = c
    resolved = []
    seen = set()
    for i in range(nf):
        name = names[i] if names[i] else f"{prefix}{i + 1}"
        if "`" in name:
            raise ValueError(
                f"column name {name!r} may not contain grave accents"
            )
        # SQLite errors on duplicate column names at CREATE TABLE
        if name.lower() in seen:
            raise ValueError(f"duplicate column name: {name}")
        seen.add(name.lower())
        resolved.append(name)
    return resolved


def _int_flag(i: int) -> Column:
    """``__int{i}``: 1 when field ``i + 1`` of every aggregated record
    is NULL or integer-looking, else 0; NULL over no records."""
    e = f"try_element_at(fields, {i + 1})"
    return F.expr(
        f"min(CASE WHEN {e} IS NULL OR {e} RLIKE r'{INT_RE}' "
        "THEN 1 ELSE 0 END)"
    ).alias(f"__int{i}")


def build_table(
    spark: SparkSession, records: DataFrame, spec: FileSpec, table: str
) -> DataFrame:
    """Shape a records stream into the reference table layout.

    Every load-time fact comes from one :func:`_partition_stats`
    aggregation: the ``anr`` bases, the header row, the MNF width and
    the integer-promotion flags. Only under MNF=expand with a record
    wider than NF does a second aggregation probe the grown columns.
    """
    if spec.mnf not in ("crop", "expand", "error"):
        raise ValueError(f"invalid MNF value: {spec.mnf}")
    prefix = spec.prefix or table
    datatypes = list(spec.datatypes)

    def decl(i: int) -> str:
        return datatypes[i] if i < len(datatypes) else "integer"

    # Column type promotion: SQLite stores each VALUE typed, so an
    # INTEGER-affinity column whose values are all integers sorts and
    # compares numerically. Spark columns are homogeneous — promote a
    # column to LongType only when every value is integer-looking (or
    # NULL); mixed columns stay canonicalized strings (numeric
    # comparisons still work via legacy coercion; ordering of text
    # values in mixed columns is the one documented divergence).
    def promotable(lo: int, hi: int) -> list[int]:
        return [
            i
            for i in range(lo, hi)
            if normalize_affinity(decl(i)) in ("integer", "numeric")
        ]

    tagged = _tag(records)
    probed = promotable(0, spec.nf)
    stats = _partition_stats(
        tagged,
        F.max(F.size("fields")).alias("__width"),
        F.first("fields").alias("__fields"),
        *[_int_flag(i) for i in probed],
    )

    # header is consumed before any width/NF accounting, like the
    # reference's pre-insert `$parser next` (lib/classes/sqawk.tcl:176):
    # the first row of the first non-empty partition, left out of
    # every statistic and of the numbering
    header_fields: list[str] | None = None
    skip_mid: int | None = None
    if spec.header:
        header_fields = []
        if stats:
            pid, parts = next(iter(stats.items()))
            header_fields = list(parts[True]["__fields"])
            skip_mid = pid << 33

    def combined(stats: dict[int, dict[bool, Row]], name: str, fn):
        """``fn`` over the records' per-partition values of ``name``,
        like the SQL aggregate over all records; None over none."""
        vals = [
            r[name]
            for pid, parts in stats.items()
            for first, r in parts.items()
            if not (first and pid << 33 == skip_mid) and r[name] is not None
        ]
        return fn(vals) if vals else None

    nf = spec.nf
    width = combined(stats, "__width", max) or 0
    if spec.mnf == "expand":
        # SQLite grows the table with ALTER TABLE mid-load
        # (lib/classes/table.tcl:125-131); immutable Spark schemas →
        # take the max width up front instead. Same result.
        nf = max(nf, width)
    elif spec.mnf == "error" and width > nf:
        # message parity with lib/classes/table.tcl MNF=error
        # (reference test nf-4.1)
        raise ValueError(f"table {table} has no column named {prefix}{nf + 1}")

    int_flags = {i: combined(stats, f"__int{i}", min) == 1 for i in probed}
    grown = promotable(spec.nf, nf)
    if grown:
        grown_stats = _partition_stats(tagged, *[_int_flag(i) for i in grown])
        for i in grown:
            int_flags[i] = combined(grown_stats, f"__int{i}", min) == 1

    names = _resolve_names(header_fields, spec, prefix, nf)

    numbered = _attach_numbers(tagged, records.columns, stats, skip_mid=skip_mid)
    # crop truncates the record's field list (lib/classes/table.tcl:102-105);
    # fields beyond NF are never read, so only the count needs it
    fields_col = F.col("fields")
    if spec.mnf == "crop":
        fields_col = F.slice(fields_col, 1, nf)
    cols = [
        F.col("anr"),
        F.size(fields_col).alias(f"{prefix}nf"),
    ]
    # record storage treatments so the dialect can reproduce SQLite's
    # cross-class comparison order (affinity.py COLUMN_CLASSES)
    record_column_class(f"{prefix}nr", "long")
    record_column_class(f"{prefix}nf", "long")
    if spec.f0:
        cols.append(F.col("a0").alias(f"{prefix}0"))
        # the reference declares the raw-record column TEXT
        # (lib/classes/table.tcl: `a0 TEXT`)
        record_column_class(f"{prefix}0", "text")
    for i in range(nf):
        promoted = int_flags.get(i, False)
        # NULL beyond anf; try_ variant stays NULL under ANSI mode too
        raw = f"try_element_at(fields, {i + 1})"
        if promoted:
            cols.append(F.expr(f"TRY_CAST({raw} AS BIGINT)").alias(names[i]))
        else:
            cols.append(apply_affinity(raw, decl(i)).alias(names[i]))
        record_column_class(names[i], column_class_for(decl(i), promoted))

    return numbered.select(*cols).withColumnRenamed("anr", f"{prefix}nr")


def load_file(
    spark: SparkSession, spec: FileSpec, records: DataFrame, table: str
) -> DataFrame:
    shaped = build_table(spark, records, spec, table)
    shaped.createOrReplaceTempView(table)
    return shaped
