"""File sinks (SURVEY I3, I4, I8).

The fixed-width writer takes the spec's own ``ColumnSpec``s: each
column's ``txt_length``, ``txt_align``, ``txt_fill_char`` and
``forced_value`` become one ``functions.fw_render_sql``, and the line is
the SQL text of one ``concat`` of them (H1/H11; reference semantics at
cubicerpetl/cubicerpetl.py:548-586 including forced values and the
rjust-keeps-tail truncation). An ordered write is one file in key order,
matching the reference's sequential writer; plain writes stay fully
parallel. The reference's header and footer lines, built from the first
and last row (:421-425,433-437), are not written.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cubicerp_client_etl_spark.compilers.sqltext import ident, literal
from cubicerp_client_etl_spark.functions import fw_render_sql

if TYPE_CHECKING:  # plans imports this module: no runtime import back
    from cubicerp_client_etl_spark.plans.spec import ColumnSpec


def _fixed_width_line(columns: list[ColumnSpec]) -> str:
    """SQL text of one ``concat`` of every column's ``fw_render_sql``:
    the rendered line."""
    pieces = [
        fw_render_sql(
            literal(c.forced_value) if c.forced_value is not None else ident(c.name),
            c.txt_length,
            c.txt_align,
            c.txt_fill_char,
        )
        for c in columns
    ]
    return f"concat({', '.join(pieces)})"


def render_fixed_width_lines(df: DataFrame, columns: list[ColumnSpec]) -> DataFrame:
    """Project df → single-column ('value') DataFrame of rendered lines."""
    return df.selectExpr(f"{_fixed_width_line(columns)} AS value")


def write_fixed_width(
    df: DataFrame,
    path: str,
    columns: list[ColumnSpec],
    order_by: list[str] | None = None,
) -> None:
    """Render + write. With ``order_by`` the output is a single file in
    key order, matching the reference's sequential writer; otherwise
    each partition writes independently. The output is UTF-8: Spark's
    text writer writes no other encoding. Every projection reaches the
    JVM as SQL text (``selectExpr``)."""
    if not order_by:
        render_fixed_width_lines(df, columns).write.mode("overwrite").text(path)
        return
    # The file is one task either way; repartition(1) + a partition-local
    # sort skips the range-partition sampling job a global orderBy adds.
    # The keys are aliased so none can collide with 'value'.
    keys = [f"__k{i}" for i in range(len(order_by))]
    out = df.selectExpr(
        f"{_fixed_width_line(columns)} AS value",
        *[f"{ident(k)} AS {alias}" for k, alias in zip(order_by, keys)],
    )
    (
        out.repartition(1)
        .sortWithinPartitions(*keys)
        .select("value")
        .write.mode("overwrite")
        .text(path)
    )


def write_csv_resource(
    df: DataFrame,
    path: str,
    sep: str = ",",
    quote: str = '"',
    header: bool = False,
    single_file: bool = False,
    encoding: str = "UTF-8",
) -> None:
    """CSV sink (I4): native writer — quoting via uniVocity, parallel by
    default; ``single_file`` for the reference's sequential layout;
    ``encoding`` is the file's byte encoding."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").csv(
        path, sep=sep, quote=quote, header=header, encoding=encoding
    )


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Parquet sink (I8). ``partition_by`` gives partition pruning on
    read — the default layout choice for large outputs."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_rows_per_file: int,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite a Parquet directory into ~target-sized files (L-scale).

    The small-files problem is the dominant operational failure of
    long-running ingestion at scale: thousands of tiny files per
    partition turn every scan into a metadata storm. Compaction =
    read → repartition to ceil(rows/target) → optionally
    sortWithinPartitions (clusters data for min/max row-group skipping
    — a poor man's Z-order on one key prefix) → rewrite.

    Driver-light: one count() to size the layout (metadata-only on
    Parquet), no row materialization. Returns the file count written.
    """
    df = spark.read.parquet(src)
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(dst)
    import glob as _glob
    import os as _os

    return len(_glob.glob(_os.path.join(dst, "part-*.parquet")))


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int | None = None,
) -> None:
    """Range-clustered Parquet layout for min/max data skipping (L-scale).

    ``repartitionByRange`` gives every output file a DISJOINT range of
    the cluster key (hash repartition + sortWithinPartitions — the
    ``compact_parquet`` shape — only sorts *inside* files, so every
    file still spans the full key domain and footer-stats pruning skips
    nothing). With disjoint ranges, a selective predicate on the
    cluster key prunes whole files and row groups from the scan via
    Parquet min/max statistics — the single cheapest I/O lever for a
    100 TB table queried by time/tenant/key range.

    The range boundaries come from Spark's reservoir sampling of the
    key distribution, so skewed keys still yield balanced files. One
    shuffle; no driver materialization.
    """
    out = (
        df.repartitionByRange(n_files, *cluster_by)
        if n_files
        else df.repartitionByRange(*cluster_by)
    )
    out.sortWithinPartitions(*cluster_by).write.mode("overwrite").parquet(path)


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative integer)
    column into one Morton / Z-order key — locality-preserving across
    ALL the columns at once, where range clustering preserves only the
    leading column.

    Pure Catalyst: one flat shift/mask expression (unrolled over the
    literal bit count); for each bit ``i`` of column ``j`` the output
    bit lands at ``i * n_cols + j``. Callers normalize columns to a bounded
    non-negative integer domain first (ids, day numbers, bucketed
    hashes); values >= 2^bits fold onto their low bits, which degrades
    locality but never correctness.
    """
    n = len(cols)
    if n < 1:
        raise ValueError("zorder_key needs at least one column")
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    if bits * n > 63:
        # the top interleaved bit position is bits*n - 1; at >= 63 it
        # reaches the int64 sign bit (and Java shifts are mod-64), which
        # silently scrambles the Morton ordering — fail loudly instead.
        # Per-column budget: bits <= 63 // n (e.g. 4 cols -> 15 bits).
        raise ValueError(
            f"bits * len(cols) must be <= 63 (got {bits}*{n}={bits * n}); "
            f"lower bits to <= {63 // n} for {n} columns"
        )
    casted = [c.cast("bigint") for c in cols]

    # bits is a compile-time int, so the fold unrolls in Python into one
    # flat codegen expression (shift amounts must be literals in the API)
    acc: Column = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, c in enumerate(casted):
            bit = F.shiftrightunsigned(c, i).bitwiseAND(F.lit(1).cast("bigint"))
            acc = acc + F.shiftleft(bit, i * n + j).cast("bigint")
    return acc


def write_zorder(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int | None = None,
    bits: int = 16,
) -> None:
    """Z-order-clustered Parquet layout: multi-column data skipping
    (the Delta OPTIMIZE ZORDER BY / Databricks liquid-clustering idea,
    rebuilt from public Morton-coding first principles).

    ``write_clustered`` makes files disjoint in ONE key; a predicate on
    any other column still scans everything. Interleaving the key bits
    gives every file a small hyper-rectangle of the combined key space,
    so footer min/max stats prune files for selective predicates on
    ANY of the z-ordered columns — the right layout for a 100 TB table
    queried sometimes by time, sometimes by tenant, sometimes by both.

    Same execution shape as ``write_clustered``: one range shuffle on
    the computed key (reservoir-sampled boundaries absorb skew), sort
    within files, no driver materialization.

    ``bits`` is a layout-quality knob, not semantics, so an over-budget
    value (bits × n_cols > 63 would hit the int64 sign bit) is clamped
    to the per-column budget ``63 // n_cols`` with a warning rather
    than raised — ``zorder_key`` itself raises for direct callers.
    """
    max_bits = 63 // len(zorder_by)
    if bits > max_bits:
        import warnings

        warnings.warn(
            f"write_zorder: clamping bits {bits} -> {max_bits} "
            f"({len(zorder_by)} columns, 63-bit interleave budget)",
            stacklevel=2,
        )
        bits = max_bits
    z = zorder_key([F.col(c) for c in zorder_by], bits=bits)
    tmp = df.withColumn("_z", z)
    out = (
        tmp.repartitionByRange(n_files, "_z")
        if n_files
        else tmp.repartitionByRange("_z")
    )
    out.sortWithinPartitions("_z").drop("_z").write.mode("overwrite").parquet(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str,
    order_col: str | None = None,
    token_col: str | None = None,
    seed: str = "",
) -> None:
    """Export a curated corpus as deterministic training shards — the
    hand-off format a trainer's data loader consumes.

    * shard assignment: ``int(md5(id|seed)[:8], 16) % n_shards`` — the
      repo's portable keyed hash, so the same document lands in the
      same shard on any cluster, any retry, any engine that wants to
      verify the layout;
    * layout: ``path/_shard=<k>/`` with ONE file per shard (each shard
      is repartition-pinned to a single task, then split out by
      ``partitionBy``), rows ordered by ``order_col`` (default
      ``id_col``) inside the file — parquet preserves row order, so
      the loader streams in curriculum order without sorting;
    * manifest: SIBLING parquet dataset ``path + ".manifest"`` of
      (shard, n_rows[, n_tokens]) — what an epoch scheduler needs to
      size and weight shards without opening them. A sibling, not a
      nested ``_manifest`` directory: the stated consumer is a trainer
      loader that may glob ``path/**/*.parquet`` without honoring
      Spark's leading-underscore convention, and nesting would feed it
      manifest rows as documents (ADVICE r5). Every shard 0..n-1 gets
      a manifest row — an empty shard writes no parquet directory but
      still reports n_rows = 0, so the scheduler sees the full layout.

    One shuffle (the shard repartition). Shard count bounds file count;
    pick it near total_bytes / target_file_size.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from cubicerp_client_etl_spark.functions import md5_hash32

    h = md5_hash32(
        F.concat(F.col(id_col).cast("string"), F.lit("|shard" + seed))
    )
    sharded = df.withColumn("_shard", (h % n_shards).cast("int"))
    order = order_col if order_col is not None else id_col
    (
        sharded.repartition(n_shards, F.col("_shard"))
        .sortWithinPartitions("_shard", order)
        .write.mode("overwrite")
        .partitionBy("_shard")
        .parquet(path)
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("bigint").alias("n_tokens"))
    # build the manifest from the FILES JUST WRITTEN, not from
    # `sharded`: re-aggregating the unmaterialized plan would rerun the
    # entire upstream lineage (scan + curation + shuffle) a second
    # time — at corpus scale that doubles the export job
    written = df.sparkSession.read.parquet(path)
    spine = df.sparkSession.range(n_shards).select(
        F.col("id").cast("int").alias("shard")
    )
    counts = written.groupBy("_shard").agg(*aggs).withColumnRenamed("_shard", "shard")
    zeros = {c: F.coalesce(F.col(c), F.lit(0).cast("bigint")) for c in counts.columns
             if c != "shard"}
    (
        spine.join(counts, "shard", "left")
        .withColumns(zeros)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}.manifest")
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a hash-BUCKETED (and optionally per-bucket sorted)
    managed table — the co-located-join layout: two tables bucketed on
    the same key with the same bucket count join WITHOUT a shuffle on
    either side (Catalyst reads the bucketing as a satisfied
    HashPartitioning requirement), and per-bucket sorting additionally
    removes the sort under a SortMergeJoin. At 100 TB this is how the
    recurring fact⋈fact join (orders⋈lineitem every night) stops
    paying its dominant exchange: pay the layout once at write time,
    reuse it every read.

    Plain parquet paths cannot carry bucketing metadata — Spark only
    honors it through the catalog, hence ``saveAsTable``. The
    Exchange elimination is pinned by
    ``tests/test_plan_posture.py::test_bucketed_join_eliminates_exchanges``.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
