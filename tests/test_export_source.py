"""Custom Python DataSource over the export format: manifest-faithful
file listing, unsigned widening, and block-range file pruning from
manifest statistics."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from subgraph_extractor_spark.extract import run_extraction
from subgraph_extractor_spark.sources.export_source import (
    SubgraphExportReader,
    register,
)
from tests.test_extract import CONFIG, _entity_df, _table_dir


@pytest.fixture()
def export_dir(spark, tmp_path):
    run_extraction(
        spark,
        CONFIG,
        {"entity_versions": _entity_df(spark)},
        str(tmp_path),
        18_000_000,
        19_000_000,
    )
    return _table_dir(str(tmp_path))


def _register(spark):
    register(spark)


def test_reads_committed_snapshot_and_widens(spark, export_dir):
    _register(spark)
    df = (
        spark.read.format("subgraph_export")
        .option("path", export_dir)
        .load()
    )
    # uint32 block column widens to bigint; uint64 numeric to decimal(20,0)
    assert dict(df.dtypes)["_block_number"] == "bigint"
    rows = df.select("id", "_block_number").orderBy("_block_number").collect()
    assert [r["id"] for r in rows] == ["0xaa01", "0xaa02", "0xaa02", "0xaa03", "0xaa04", "0xaa05"]


def test_stale_files_excluded_by_manifest(spark, export_dir):
    """A file on disk but not in the manifest (crash leftovers,
    superseded re-coarsening outputs) must NOT appear — unlike a
    directory-listing parquet read."""
    _register(spark)
    # plant an uncommitted file inside a partition dir with valid schema
    part_dirs = [
        os.path.join(export_dir, d)
        for d in os.listdir(export_dir)
        if d.startswith("partition_size=")
    ]
    some_file = None
    for pd_ in part_dirs:
        for root, _, files in os.walk(pd_):
            for f in files:
                if f.endswith(".parquet"):
                    some_file = os.path.join(root, f)
                    break
    assert some_file is not None
    stale = os.path.join(os.path.dirname(some_file), "stale-uncommitted.parquet")
    pq.write_table(pq.read_table(some_file), stale)

    df = (
        spark.read.format("subgraph_export").option("path", export_dir).load()
    )
    assert df.count() == 6  # manifest cover only
    # a naive recursive directory read would double-count the planted file
    naive = spark.read.option("recursiveFileLookup", "true").parquet(export_dir)
    assert naive.count() > 6


def test_block_filter_prunes_files_from_manifest_stats(spark, export_dir):
    reader = SubgraphExportReader(export_dir, "_block_number")
    all_files = [p for p in reader.partitions() if p.rel_path]
    assert len(all_files) > 1

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    remaining = reader.pushFilters(
        [
            GreaterThanOrEqual(("_block_number",), 18_950_000),
            LessThan(("_block_number",), 19_000_000),
        ]
    )
    assert len(list(remaining)) == 2  # all filters handed back to Spark
    pruned = [p for p in reader.partitions() if p.rel_path]
    assert 0 < len(pruned) < len(all_files)
    assert all(p.block_max >= 18_950_000 for p in pruned)

    # end to end: the filtered read returns exactly the tail rows
    _register(spark)
    df = (
        spark.read.format("subgraph_export")
        .option("path", export_dir)
        .load()
        .filter(
            (F.col("_block_number") >= 18_950_000)
            & (F.col("_block_number") < 19_000_000)
        )
    )
    assert sorted(r["id"] for r in df.collect()) == ["0xaa04", "0xaa05"]


def test_stream_follows_watermark_incrementally(spark, tmp_path):
    """readStream over the export: first run delivers the committed
    snapshot; after a second extraction commit, restarting from the same
    checkpoint delivers ONLY the newly committed block range."""
    out = str(tmp_path / "ds")
    ckpt = str(tmp_path / "ckpt")
    from tests.test_extract import ROWS as rows1
    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark, rows1)},
        out, 18_000_000, 19_000_000,
    )
    _register(spark)
    table_dir = _table_dir(out)

    def drain():
        got = []

        def sink(df, _epoch):
            got.extend(
                (r["id"], r["_block_number"]) for r in df.collect()
            )

        q = (
            spark.readStream.format("subgraph_export")
            .option("path", table_dir)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return sorted(got)

    first = drain()
    assert len(first) == 6
    assert ("0xaa05", 18_999_295) in first

    # second commit: watermark advances, one new entity version lands
    import decimal

    rows2 = list(rows1) + [
        (7, 19_100_123, None, "0xaa06", decimal.Decimal(5), "0xt4"),
    ]
    run_extraction(
        spark, CONFIG,
        {"entity_versions": _entity_df(spark, rows2)},
        out, 18_000_000, 19_200_000,
    )

    second = drain()  # same checkpoint: only the (19.0M, 19.2M] delta
    assert sorted(set(second) - set(first)) == [("0xaa06", 19_100_123)]
