"""End-to-end incremental extraction pipeline (Spark-first redesign).

Reference lifecycle (cli.py:275-339; SURVEY §3): config gate → watermark
read → hierarchical partition plan → per-partition Postgres scan → column
mapping/typing → one Parquet file per partition in hive-style dirs →
consolidated ``_metadata`` manifest → watermark commit.  The reference
executes this as a sequential single-threaded loop, one SQL query + one
pandas materialization + one file per partition (cli.py:296-326).

Spark-first redesign — same observable layout and commit semantics, but the
data path is ONE distributed job per table instead of a driver loop, and the
tables commit concurrently:

1.  Each row is assigned its (partition_size, start_partition,
    end_partition) with pure Catalyst arithmetic: the delta cover is
    summarized into a handful of contiguous same-size segments, so the
    assignment is an O(#segments) CASE over ``floor(block / size) * size``
    — whole-stage codegen, no UDF, no per-partition query.
2.  Rows outside the delta (already-exported or incomplete-tail blocks)
    are filtered out first, by an OR of the segments' ``[lo, hi)`` ranges
    on the raw block column.  On a Parquet source that filter reaches the
    scan as ``PushedFilters``; whether whole row groups are then skipped
    depends on the source's row-group min/max statistics, which this
    module does not control.
3.  One shuffle groups rows by the partition tuple; ``applyInArrow``
    hands each group to a Python worker as one ``pa.Table``, which sorts
    it by block (files are block-sorted like the reference's ORDER BY,
    cli.py:44) and writes it as ``part-00000.parquet`` with the
    reference's schema (uint32 block column, unsigned mapped columns).  A
    re-run rewrites the same file name, so crash recovery is idempotent;
    one partition must fit in a worker's memory, as it fits in one pandas
    frame in the reference.
4.  Planned partitions that received zero rows still get an (empty, typed)
    ``part-empty.parquet`` — the reference writes them too and the
    manifest needs the complete cover (SURVEY §4.2).  The manifest names
    exactly the file this run wrote for each delta partition, without
    listing its directory.  A cover partition committed by an earlier run
    is listed, and only the writer's two file names (``part-00000``,
    ``part-empty``) enter the manifest, so a stray file left in such a
    directory never joins a later snapshot.
5.  Strict-typed mappings are range-guarded inside the written columns
    (``functions.mappings.range_guard``): the check runs in the write job,
    on the rows this run exports, and costs no job of its own.  A failed
    write commits nothing, but may leave files that no manifest
    references; the next run overwrites them when it rewrites the same
    delta partitions.
6.  Each table's body (compile, plan, write, manifest) runs in its own
    driver thread, and Spark runs the tables' jobs side by side.  Commit
    ordering is preserved per table — data files → ``_metadata``
    manifest — and the dataset watermark is written last, once every
    table has committed; a failure in any table leaves it unmoved
    (cli.py:312-339; crash-recovery contract tested in the reference at
    tests/test_get_column_info.py:181-225).

At 100 TB this means: full scan parallelism, one shuffle keyed by the
partition tuple (naturally balanced — partitions are fixed block ranges),
and no driver-side data movement at all.
"""

from __future__ import annotations

import functools
import operator
import posixpath
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from subgraph_extractor_spark import fsio
from subgraph_extractor_spark.functions.mappings import (
    compile_column_mappings,
    enforce_assertions,
    overflow_error,
)
from subgraph_extractor_spark.plans.config_gate import ensure_config_unchanged
from subgraph_extractor_spark.plans.manifest import write_consolidated_metadata
from subgraph_extractor_spark.plans.partitions import (
    Partition,
    get_partitions,
    plan_delta,
)
from subgraph_extractor_spark.plans.watermark import read_watermark, write_watermark

PARTITION_COLS = ["partition_size", "start_partition", "end_partition"]
BLOCK_COLUMN = "_block_number"
DATA_FILE = "part-00000.parquet"
EMPTY_FILE = "part-empty.parquet"


@dataclass(frozen=True)
class Segment:
    """A maximal run of contiguous, same-size partitions in a cover."""

    size: int
    lo: int
    hi: int


def segments_of(cover: list[Partition]) -> list[Segment]:
    """Merge a partition set into contiguous same-size segments; this is
    what keeps the row→partition assignment O(#segments), independent of
    the number of partitions."""
    out: list[Segment] = []
    for p in sorted(cover):
        if out and out[-1].size == p.size and out[-1].hi == p.start:
            out[-1] = Segment(p.size, out[-1].lo, p.end)
        else:
            out.append(Segment(p.size, p.start, p.end))
    return out


def assign_partitions(
    df: DataFrame, block_col: str, delta: list[Partition]
) -> DataFrame:
    """Tag each row with its delta partition tuple and drop rows outside
    the delta.  Pure Catalyst: CASE over contiguous segments +
    floor-alignment arithmetic."""
    segs = segments_of(delta)
    if not segs:
        return df.limit(0).withColumns(
            {c: F.lit(None).cast("long") for c in PARTITION_COLS}
        )
    b = F.col(block_col)
    in_seg = [(b >= F.lit(s.lo)) & (b < F.lit(s.hi)) for s in segs]
    # The raw-column range filter reaches a Parquet scan as PushedFilters;
    # the CASE-built size below would not.
    df = df.filter(functools.reduce(operator.or_, in_seg))
    size_expr = F.lit(None).cast("long")
    # Build reversed so the first segment ends up as the outermost WHEN.
    for s, cond in reversed(list(zip(segs, in_seg))):
        size_expr = F.when(cond, F.lit(s.size)).otherwise(size_expr)
    df = df.withColumn("partition_size", size_expr)
    start = (F.floor(b / F.col("partition_size")) * F.col("partition_size")).cast(
        "long"
    )
    return df.withColumn("start_partition", start).withColumn(
        "end_partition", (start + F.col("partition_size")).cast("long")
    )


def partition_dir(table_dir: str, p: Partition) -> str:
    return fsio.join(
        table_dir,
        f"partition_size={p.size}",
        f"start_partition={p.start}",
        f"end_partition={p.end}",
    )


def _list_partition_files(table_dir: str, p: Partition) -> list[str]:
    """The writer's files in one partition dir (``DATA_FILE`` and/or
    ``EMPTY_FILE``), as paths in table_dir's scheme.  Any other file there
    is not the writer's and stays out of the manifest."""
    d = partition_dir(table_dir, p)
    fs, local = fsio.resolve(d)
    return [
        fsio.join(d, f)
        for f in fsio.listdir(fs, local)
        if f in (DATA_FILE, EMPTY_FILE)
    ]


def _write_empty_partition(empty_table, d: str) -> str:
    import pyarrow.parquet as pq

    fs, local = fsio.resolve(d)
    fsio.makedirs(fs, local)
    pq.write_table(empty_table, posixpath.join(local, EMPTY_FILE), filesystem=fs)
    return fsio.join(d, EMPTY_FILE)


# --------------------------------------------------------------------------
# the writer — reference-exact export schema, any fsio destination
# --------------------------------------------------------------------------

def target_arrow_schema(
    df: DataFrame,
    block_column: str = BLOCK_COLUMN,
    uint_columns: dict[str, str] | None = None,
):
    """The export schema the reference writes (cli.py:20-21, 147-155):
    Spark has no unsigned types, so mapped uintN columns widen in-flight
    and narrow back to pyarrow uintN in the writer; the block column is
    always uint32 (cli.py:111)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    base = to_arrow_schema(df.schema)
    uint_map = {
        "uint8": pa.uint8(),
        "uint16": pa.uint16(),
        "uint32": pa.uint32(),
        "uint64": pa.uint64(),
    }
    overrides = dict(uint_columns or {})
    overrides.setdefault(block_column, "uint32")
    fields = []
    for f in base:
        if f.name in overrides:
            fields.append(pa.field(f.name, uint_map[overrides[f.name]]))
        else:
            fields.append(f)
    return pa.schema(fields)


def write_partition_files_arrow(
    tagged: DataFrame,
    table_dir: str,
    target_schema,
    block_column: str = BLOCK_COLUMN,
) -> set[Partition]:
    """Distributed reference-fidelity writer: one pyarrow Parquet file per
    planned partition, written ON EXECUTORS via applyInArrow, block-sorted
    within the file (reference ORDER BY, cli.py:44), with the exact target
    schema (uint32 block column — Spark's own writer cannot emit unsigned
    Parquet types).  Destination is anything fsio resolves (local, s3://,
    s3a://, gs://, mock://) — executors open the filesystem themselves, so
    nothing funnels through the driver.

    Each group arrives as a ``pa.Table`` and never passes through pandas,
    so a nullable bigint keeps every bit (pandas would carry it as
    float64).  One shuffle keyed by the partition tuple; the action
    returns one row per written partition, and so does this function: the
    partitions that received rows, each now holding ``DATA_FILE``.
    """
    schema_bytes = target_schema.serialize().to_pybytes()
    data_cols = [f.name for f in target_schema]
    # The mock:// test scheme resolves via this env var; long-lived Python
    # workers may predate the test's env, so it rides in the closure.
    import os as _os

    mock_root = _os.environ.get("SPARK_GRAFT_MOCK_FS_ROOT")

    def write_group(key, tbl):
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if mock_root:
            os.environ["SPARK_GRAFT_MOCK_FS_ROOT"] = mock_root

        tgt = pa.ipc.read_schema(pa.BufferReader(schema_bytes))
        size, start, end = (k.as_py() for k in key)
        # sort_indices is stable: equal blocks keep their arrival order.
        order = pc.sort_indices(tbl.column(block_column))
        out = tbl.take(order).select(data_cols).cast(tgt)
        fs, base = fsio.resolve(table_dir)
        d = posixpath.join(
            base,
            f"partition_size={size}",
            f"start_partition={start}",
            f"end_partition={end}",
        )
        fsio.makedirs(fs, d)
        # Plain like parquet-mr: parquet-cpp keeps dictionaries on uint256s.
        pq.write_table(
            out, posixpath.join(d, DATA_FILE), filesystem=fs, use_dictionary=False
        )
        return pa.table(
            {
                "partition_size": [size],
                "start_partition": [start],
                "end_partition": [end],
            }
        )

    written = tagged.groupBy(*PARTITION_COLS).applyInArrow(
        write_group,
        schema="partition_size long, start_partition long, end_partition long",
    )
    # 1 row per partition: plan metadata
    return {Partition(*r) for r in written.collect()}


def extract_table(
    df: DataFrame,
    table_dir: str,
    delta: list[Partition],
    cover: list[Partition],
    arrow_schema,
    block_column: str = BLOCK_COLUMN,
) -> list[str]:
    """Write all delta partitions of one table in one distributed job,
    top up empty partitions, and commit the manifest over the full cover.
    Returns the manifest's file list.

    Each delta partition contributes exactly the file this run wrote for
    it — ``DATA_FILE``, or the typed ``EMPTY_FILE`` placeholder when no row
    fell into it — so leftovers in its directory stay out of the manifest.
    """
    written = (
        write_partition_files_arrow(
            assign_partitions(df, block_column, delta),
            table_dir,
            arrow_schema,
            block_column,
        )
        if delta
        else set()
    )
    fresh = set(delta)
    files: list[str] = []
    for p in cover:
        d = partition_dir(table_dir, p)
        if p in written:
            files.append(fsio.join(d, DATA_FILE))
        elif p in fresh:
            files.append(_write_empty_partition(arrow_schema.empty_table(), d))
        else:
            # Committed by an earlier run.  A hole means lost/deleted data:
            # omitting it from the manifest would silently shrink the
            # committed snapshot, so fail loudly instead.
            pf = _list_partition_files(table_dir, p)
            if not pf:
                raise RuntimeError(
                    f"cover partition {p.as_tuple()} of {table_dir} has no "
                    f"{DATA_FILE} or {EMPTY_FILE} on disk; refusing to "
                    "commit a manifest with holes (was the dataset directory "
                    "modified outside the pipeline?  An export written "
                    "before the reference-exact writer names its files "
                    "differently: re-export it into a fresh output directory)"
                )
            files.extend(pf)
    if files:
        write_consolidated_metadata(table_dir, files)
    return files


def run_extraction(
    spark: SparkSession,
    config: dict,
    tables: dict[str, DataFrame],
    output_dir: str,
    earliest_block: int,
    latest_block: int,
) -> dict[str, list[str]]:
    """The library entry point, mirroring the reference's ``extract()``
    (cli.py:275-339): pure function of (config, sources, output), with
    re-entrant incremental semantics.

    ``config`` shape (reference tests/test_get_column_info.py:16-25 +
    README.md:46-97)::

        name: str, version: str, subgraph: str
        tables:
          <name>:
            partition_sizes: [524288, 32768, 1024]
            block_column: _block_number        # optional, ours
            numeric_columns: [...]             # uint256-carrier columns
            column_mappings: {src: {dest: {type, downscale?, max_value?,
                                           default?, validity_column?}}}
            drop_columns: [vid, block_range]   # optional
    """
    dataset_dir = fsio.join(output_dir, config["name"], config["version"])
    ensure_config_unchanged(dataset_dir, config)

    previous = read_watermark(dataset_dir)
    prev_latest = previous.get("latest_block")
    # Plan the already-extracted cover from the STORED watermark's earliest
    # (reference cli.py:302-304) — if earliest shifted between runs, planning
    # from the current earliest would mark never-written partitions as done.
    prev_earliest = previous.get("earliest_block")

    def commit_table(table_name: str, tconf: dict) -> list[str]:
        sizes = tconf["partition_sizes"]
        block_col = tconf.get("block_column", BLOCK_COLUMN)
        compiled = compile_column_mappings(
            tconf.get("column_mappings"), tconf.get("numeric_columns", ())
        )
        out_df = enforce_assertions(tables[table_name], compiled).drop(
            *tconf.get("drop_columns", ())
        )

        cover = get_partitions(earliest_block, latest_block, sizes)
        prev_cover = (
            get_partitions(
                prev_earliest if prev_earliest is not None else earliest_block,
                prev_latest,
                sizes,
            )
            if prev_latest is not None
            else None
        )
        delta = plan_delta(prev_cover, cover)

        table_dir = fsio.join(
            dataset_dir,
            "data",
            f"subgraph={config['subgraph']}",
            f"table={table_name}",
        )
        return extract_table(
            out_df,
            table_dir,
            delta,
            cover,
            target_arrow_schema(out_df, block_col, compiled.arrow_types),
            block_column=block_col,
        )

    # One driver thread per table: Spark runs their jobs concurrently, so a
    # run pays each job's fixed cost once, not once per table.  Each target
    # is wrapped separately so every thread gets its own copy of the
    # caller's job group, local properties and tags.
    with ThreadPoolExecutor(max_workers=max(1, len(config["tables"]))) as pool:
        futures = {
            name: pool.submit(
                inheritable_thread_target(spark)(commit_table), name, tconf
            )
            for name, tconf in config["tables"].items()
        }
    # Every table has finished here; the first failure in config order wins.
    written: dict[str, list[str]] = {}
    for name, future in futures.items():
        exc = future.exception()
        if exc is not None:
            overflow = overflow_error(exc)
            if overflow is not None:
                raise overflow from exc
            raise exc
        written[name] = future.result()

    # Watermark LAST — the run-level commit point (cli.py:329-339).
    write_watermark(dataset_dir, earliest_block, latest_block)
    return written
