"""End-to-end extraction pipeline tests, modeling the reference's
integration suite (tests/test_get_column_info.py): golden counts,
manifest/planner consistency, incremental watermark advance, crash
recovery, re-coarsening, and the config immutability gate."""

import decimal
import os
import pathlib

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from subgraph_extractor_spark.extract import run_extraction
from subgraph_extractor_spark.plans.config_gate import ConfigMismatchError
from subgraph_extractor_spark.plans.manifest import read_manifest_files
from subgraph_extractor_spark.plans.partitions import get_partitions, plan_delta
from subgraph_extractor_spark.plans.watermark import read_watermark

# FIXTURES.md §A1: entity_versions modeling sgd1.prepaid_card_ask_sample
ROWS = [
    # vid, block_range_start, block_range_end, id, ask_price, issuing_token
    (1, 18_460_372, None, "0xaa01", decimal.Decimal(10**19), "0xt1"),
    (2, 18_500_000, 18_600_000, "0xaa02", decimal.Decimal(25 * 10**19), "0xt1"),
    (3, 18_600_000, None, "0xaa02", decimal.Decimal(3 * 10**19), "0xt2"),
    (4, 18_887_999, None, "0xaa03", decimal.Decimal(1), "0xt2"),
    (5, 18_950_001, None, "0xaa04", decimal.Decimal(2**64), "0xt3"),
    (6, 18_999_295, None, "0xaa05", decimal.Decimal(0), "0xt3"),
]

SCHEMA = T.StructType(
    [
        T.StructField("vid", T.LongType()),
        T.StructField("block_range_start", T.IntegerType()),
        T.StructField("block_range_end", T.IntegerType()),
        T.StructField("id", T.StringType()),
        T.StructField("ask_price", T.DecimalType(38, 0)),
        T.StructField("issuing_token", T.StringType()),
    ]
)

CONFIG = {
    "name": "my_extract_name",
    "version": "0.0.1",
    "subgraph": "SUBGRAPHIPFS",
    "tables": {
        "entity_versions": {
            "partition_sizes": [524288, 32768, 1024],
            "block_column": "_block_number",
            "numeric_columns": ["ask_price"],
            "drop_columns": ["vid", "block_range_start", "block_range_end"],
        }
    },
}


def _entity_df(spark, rows=ROWS):
    df = spark.createDataFrame(rows, SCHEMA)
    # P1: derive _block_number = lower(block_range) (cli.py:39, 20-21)
    return df.withColumn("_block_number", F.col("block_range_start").cast("long"))


def _table_dir(out):
    return os.path.join(
        out, "my_extract_name", "0.0.1", "data",
        "subgraph=SUBGRAPHIPFS", "table=entity_versions",
    )


def _read_via_manifest(table_dir):
    """The reference's reader contract: open the consolidated _metadata as
    a dataset (tests/test_get_column_info.py:117-122)."""
    import pyarrow.dataset as pads

    return pads.parquet_dataset(os.path.join(table_dir, "_metadata")).to_table()


def test_full_extraction_golden(spark, tmp_path):
    out = str(tmp_path)
    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark)}, out,
        earliest_block=18_000_000, latest_block=19_000_000,
    )
    td = _table_dir(out)
    # 31-partition cover, one file each (incl. empty ones)
    cover = get_partitions(18_000_000, 19_000_000, [524288, 32768, 1024])
    files = read_manifest_files(td)
    assert len(files) == 31
    data = _read_via_manifest(td)
    assert data.num_rows == 6  # golden count (reference :130)
    cols = set(data.column_names)
    # bookkeeping dropped, derived block number kept, uint256 as bytes
    assert "vid" not in cols and "block_range_start" not in cols
    assert "_block_number" in cols
    prices = [
        None if v is None else int.from_bytes(v, "big")
        for v in data.column("ask_price").to_pylist()
    ]
    assert sorted(prices) == sorted(int(r[4]) for r in ROWS)
    # rows below the fixture midpoint (4 of our 6 fixture rows — the
    # analogue of the reference's filtered golden count at :177)
    small = [
        b for b in data.column("_block_number").to_pylist() if b < 18_888_000
    ]
    assert len(small) == 4
    # watermark committed last
    wm = read_watermark(os.path.join(out, "my_extract_name", "0.0.1"))
    assert wm["latest_block"] == 19_000_000


def test_incremental_advance_adds_rows(spark, tmp_path):
    out = str(tmp_path)
    early_rows = [r for r in ROWS if r[1] < 18_700_000]
    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark, early_rows)}, out,
        earliest_block=18_000_000, latest_block=18_700_000,
    )
    n1 = _read_via_manifest(_table_dir(out)).num_rows
    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark)}, out,
        earliest_block=18_000_000, latest_block=19_000_000,
    )
    n2 = _read_via_manifest(_table_dir(out)).num_rows
    assert n1 == 3 and n2 == 6  # watermark advance adds rows (ref :164-178)


def test_earliest_shift_replans_from_stored_watermark(spark, tmp_path):
    """ADVICE r01: prev_cover must be planned from the STORED watermark's
    earliest_block (reference cli.py:302-304).  If earliest shifts down
    between runs, partitions below the old earliest were never written —
    planning prev_cover from the new earliest would treat them as done and
    silently drop them from the manifest."""
    out = str(tmp_path)
    tables = {"entity_versions": _entity_df(spark)}
    # first run indexes only a high block range
    run_extraction(spark, CONFIG, tables, out, 18_500_000, 18_700_000)
    # earliest shifts DOWN on the second run (subgraph re-synced deeper)
    run_extraction(spark, CONFIG, tables, out, 18_000_000, 19_000_000)
    td = _table_dir(out)
    data = _read_via_manifest(td)
    assert data.num_rows == 6  # includes vid1 @18,460,372 < old earliest
    # manifest covers the full new cover — no holes
    cover = get_partitions(18_000_000, 19_000_000, [524288, 32768, 1024])
    dirs = {
        f"partition_size={p.size}/start_partition={p.start}/end_partition={p.end}"
        for p in cover
    }
    assert {os.path.dirname(f) for f in read_manifest_files(td)} == dirs


def test_crash_recovery_backfills_deleted_partition(spark, tmp_path):
    """Reference regression (tests/test_get_column_info.py:181-225): work
    is planned from the watermark, not from listing files — delete data
    and roll back the watermark; a re-run must restore everything."""
    out = str(tmp_path)
    tables = {"entity_versions": _entity_df(spark)}
    run_extraction(spark, CONFIG, tables, out, 18_000_000, 19_000_000)
    td = _table_dir(out)
    before = _read_via_manifest(td).num_rows

    # simulate a crash that lost the last run: remove some partition files
    # and roll the watermark back
    import shutil

    for sub in os.listdir(td):
        if sub.startswith("partition_size=1024"):
            shutil.rmtree(os.path.join(td, sub))
    from subgraph_extractor_spark.plans.watermark import write_watermark

    ds_dir = os.path.join(out, "my_extract_name", "0.0.1")
    write_watermark(ds_dir, 18_000_000, 18_700_000)

    run_extraction(spark, CONFIG, tables, out, 18_000_000, 19_000_000)
    after = _read_via_manifest(td)
    assert after.num_rows == before
    assert len(read_manifest_files(td)) == 31


def test_recoarsening_manifest_supersedes_small_files(spark, tmp_path):
    """As latest grows, small partitions are superseded by one large
    aligned partition; the manifest must reference only the new cover
    (SURVEY §2.11 re-coarsening)."""
    sizes = [32768, 1024]
    cfg = {
        **CONFIG,
        "tables": {
            "entity_versions": {**CONFIG["tables"]["entity_versions"], "partition_sizes": sizes}
        },
    }
    out = str(tmp_path)
    tables = {"entity_versions": _entity_df(spark)}
    run_extraction(spark, cfg, tables, out, 18_448_000, 18_470_000)
    td = _table_dir(out)
    files1 = read_manifest_files(td)
    assert any("partition_size=1024" in f for f in files1)

    run_extraction(spark, cfg, tables, out, 18_448_000, 18_600_000)
    files2 = read_manifest_files(td)
    cover2 = get_partitions(18_448_000, 18_600_000, sizes)
    assert len(files2) == len(cover2)
    # superseded 1k files under ranges now covered by 32k partitions are
    # NOT referenced, even if still on disk
    large_ranges = [
        (p.start, p.end) for p in cover2 if p.size == 32768
    ]
    for f in files2:
        if "partition_size=1024" in f:
            start = int(f.split("start_partition=")[1].split("/")[0])
            assert not any(lo <= start < hi for lo, hi in large_ranges)
    # no duplicate data when reading via manifest
    assert _read_via_manifest(td).num_rows == sum(
        1 for r in ROWS if 18_448_000 <= r[1] < (18_600_000 // 1024) * 1024
    )


def test_vacuum_removes_only_superseded_files(spark, tmp_path):
    """VACUUM after re-coarsening: dry-run lists exactly the files the
    manifest dropped, real run deletes them, the committed snapshot is
    byte-identical before and after, and a second vacuum is a no-op."""
    from subgraph_extractor_spark.plans.manifest import vacuum_table

    sizes = [32768, 1024]
    cfg = {
        **CONFIG,
        "tables": {
            "entity_versions": {
                **CONFIG["tables"]["entity_versions"],
                "partition_sizes": sizes,
            }
        },
    }
    out = str(tmp_path)
    tables = {"entity_versions": _entity_df(spark)}
    run_extraction(spark, cfg, tables, out, 18_448_000, 18_470_000)
    td = _table_dir(out)
    run_extraction(spark, cfg, tables, out, 18_448_000, 18_600_000)

    referenced = set(read_manifest_files(td))
    on_disk_before = {
        os.path.relpath(os.path.join(dp, f), td)
        for dp, _, fns in os.walk(td)
        for f in fns
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    expected_stale = on_disk_before - referenced
    assert expected_stale, "re-coarsening should have superseded files"

    snapshot = _read_via_manifest(td)
    stale = vacuum_table(td)  # dry run
    assert {os.path.relpath(p, td) for p in stale} == expected_stale
    assert all(os.path.exists(p) for p in stale)  # dry run deletes nothing

    deleted = vacuum_table(td, dry_run=False)
    assert deleted == stale
    assert not any(os.path.exists(p) for p in deleted)
    # the committed snapshot is untouched
    assert _read_via_manifest(td).equals(snapshot)
    assert vacuum_table(td, dry_run=False) == []


def test_manifest_diff_between_snapshots(spark, tmp_path):
    """Snapshot audit: diff two committed manifests (before/after an
    incremental watermark advance) — added/removed files and the row
    delta, all from the footers with no data I/O."""
    import shutil

    from subgraph_extractor_spark.plans.manifest import (
        manifest_diff,
        manifest_file_rows,
    )

    out = str(tmp_path / "out")
    early_rows = [r for r in ROWS if r[1] < 18_700_000]
    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark, early_rows)}, out,
        earliest_block=18_000_000, latest_block=18_700_000,
    )
    td = _table_dir(out)
    snap = tmp_path / "snap"
    snap.mkdir()
    shutil.copy(os.path.join(td, "_metadata"), snap / "_metadata")

    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark)}, out,
        earliest_block=18_000_000, latest_block=19_000_000,
    )
    d = manifest_diff(str(snap), td)
    assert d["row_delta"] == 3  # 3 late rows entered the snapshot
    new_files = set(read_manifest_files(td))
    old_files = set(manifest_file_rows(str(snap)))
    assert set(d["added"]) == new_files - old_files and d["added"]
    assert set(d["removed"]) == old_files - new_files
    assert set(d["unchanged"]) == old_files & new_files
    # per-file counts are consistent with the totals
    assert sum(manifest_file_rows(td).values()) == 6
    # identity diff is empty
    same = manifest_diff(td, td)
    assert not same["added"] and not same["removed"] and same["row_delta"] == 0


def test_vacuum_refuses_uncommitted_dir(tmp_path):
    from subgraph_extractor_spark.plans.manifest import vacuum_table

    d = tmp_path / "nomanifest"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"junk")
    with pytest.raises(FileNotFoundError):
        vacuum_table(str(d))


def test_extraction_with_timestamp_column(spark, sf_dir, tmp_path):
    """Regression: Spark's legacy INT96 timestamps vs pyarrow's INT64
    empty-partition placeholders must not split the manifest schema
    (session forces TIMESTAMP_MICROS)."""
    from subgraph_extractor_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "_block_number", F.col("event_id")
    )
    cfg = {
        "name": "ts_ext", "version": "1", "subgraph": "QmTs",
        "tables": {"events": {"partition_sizes": [512], "drop_columns": ["props"]}},
    }
    run_extraction(spark, cfg, {"events": ev}, str(tmp_path), 0, 1000)
    td = os.path.join(
        str(tmp_path), "ts_ext", "1", "data", "subgraph=QmTs", "table=events"
    )
    data = _read_via_manifest(td)
    assert data.num_rows == ev.filter(F.col("event_id") < (1000 // 512) * 512).count()
    assert "ts" in data.column_names


def test_config_gate_rejects_drift(spark, tmp_path):
    out = str(tmp_path)
    tables = {"entity_versions": _entity_df(spark)}
    run_extraction(spark, CONFIG, tables, out, 18_000_000, 18_500_000)
    changed = {
        **CONFIG,
        "tables": {
            "entity_versions": {
                **CONFIG["tables"]["entity_versions"],
                "partition_sizes": [1024],
            }
        },
    }
    with pytest.raises(ConfigMismatchError):
        run_extraction(spark, changed, tables, out, 18_000_000, 19_000_000)


def test_hive_partition_pruning_on_readback(spark, tmp_path):
    """The hive-style layout must let Spark prune partitions: a filter on
    start_partition should reach the scan as a PartitionFilter and read a
    subset of files (SURVEY §1.3: the layout is partition-discovery-
    friendly on purpose)."""
    out = str(tmp_path)
    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark)}, out,
        earliest_block=18_000_000, latest_block=19_000_000,
    )
    td = _table_dir(out)
    df = spark.read.parquet(td)
    pruned = df.filter(F.col("start_partition") == 18_448_384)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "start_partition" in plan.split("PartitionFilters")[1][:200]
    # partition columns are discovered as columns
    assert {"partition_size", "start_partition", "end_partition"} <= set(
        df.columns
    )


def test_delta_block_range_pushed_to_parquet_scan(spark, tmp_path):
    """The delta's block ranges reach the source scan as PushedFilters on
    the raw block column, not only as a filter above a CASE expression."""
    from subgraph_extractor_spark.extract import assign_partitions

    src = str(tmp_path / "src")
    spark.range(0, 8192).withColumnRenamed("id", "_block_number").write.parquet(src)
    # Cover [0,4096) [4096,5120) [5120,6144) [6144,7168); the delta skips
    # two of them, so it is two segments.
    cover = get_partitions(0, 7168, [4096, 1024])
    delta = [p for p in cover if p.start not in (0, 5120)]
    tagged = assign_partitions(spark.read.parquet(src), "_block_number", delta)
    key = "spark.sql.maxMetadataStringLength"  # plan text cuts at 100 chars
    old = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try:
        plan = tagged._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for lo, hi in ((4096, 5120), (6144, 7168)):
        assert f"GreaterThanOrEqual(_block_number,{lo})" in pushed
        assert f"LessThan(_block_number,{hi})" in pushed
    assert tagged.count() == 2048


def test_empty_partitions_written_and_typed(spark, tmp_path):
    out = str(tmp_path)
    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark)}, out,
        earliest_block=18_000_000, latest_block=19_000_000,
    )
    td = _table_dir(out)
    empties = [
        f for f in read_manifest_files(td)
        if pq.read_metadata(os.path.join(td, f)).num_rows == 0
    ]
    assert empties, "expected empty partition placeholder files"
    schema = pq.read_schema(os.path.join(td, empties[0]))
    assert "ask_price" in schema.names and "_block_number" in schema.names


def _partition_dir(td, p):
    return os.path.join(
        td, f"partition_size={p.size}", f"start_partition={p.start}",
        f"end_partition={p.end}",
    )


def test_stray_file_in_delta_partition_stays_out_of_manifest(spark, tmp_path):
    """The manifest names the one file the writer wrote for each delta
    partition; another valid Parquet file in that directory (a leftover of
    a failed run, or a file put there by hand) is not picked up, neither
    by the run that writes the partition nor by a later run that lists it
    as an already-committed cover partition."""
    import shutil

    sizes = CONFIG["tables"]["entity_versions"]["partition_sizes"]
    tables = {"entity_versions": _entity_df(spark)}
    out, ref = str(tmp_path / "out"), str(tmp_path / "ref")
    for d in (out, ref):
        run_extraction(spark, CONFIG, tables, d, 18_000_000, 18_700_000)
    td = _table_dir(out)
    committed = next(
        f for f in read_manifest_files(td)
        if pq.read_metadata(os.path.join(td, f)).num_rows
    )
    delta = plan_delta(
        get_partitions(18_000_000, 18_700_000, sizes),
        get_partitions(18_000_000, 19_000_000, sizes),
    )
    (target,) = [p for p in delta if p.start <= 18_950_001 < p.end]
    stray_dir = _partition_dir(td, target)
    os.makedirs(stray_dir, exist_ok=True)
    shutil.copy(
        os.path.join(td, committed), os.path.join(stray_dir, "part-stray.parquet")
    )

    # 19 000 000: the stray's partition is a delta partition; at
    # 19 100 000 it is a committed cover partition, listed from disk.
    for end in (19_000_000, 19_100_000):
        assert target in get_partitions(18_000_000, end, sizes)
        for d in (out, ref):
            run_extraction(spark, CONFIG, tables, d, 18_000_000, end)
        files = read_manifest_files(td)
        assert not any(f.endswith("part-stray.parquet") for f in files)
        assert files == read_manifest_files(_table_dir(ref))
        assert _read_via_manifest(td).sort_by("_block_number").equals(
            _read_via_manifest(_table_dir(ref)).sort_by("_block_number")
        )


def test_old_signed_export_fails_before_commit(spark, tmp_path):
    """A committed cover file with an int64 block column (what Spark's own
    Parquet writer used to write) cannot join a manifest of uint32 files:
    the next run raises a ValueError naming it, and commits nothing."""
    out = str(tmp_path)
    tables = {"entity_versions": _entity_df(spark)}
    run_extraction(spark, CONFIG, tables, out, 18_000_000, 18_700_000)
    td = _table_dir(out)
    sizes = CONFIG["tables"]["entity_versions"]["partition_sizes"]
    kept = set(get_partitions(18_000_000, 18_700_000, sizes)) & set(
        get_partitions(18_000_000, 19_000_000, sizes)
    )
    (old,) = [
        f for f in read_manifest_files(td)
        if os.path.dirname(f) == os.path.relpath(_partition_dir(td, min(kept)), td)
    ]
    path = os.path.join(td, old)
    t = pq.ParquetFile(path).read()
    i = t.schema.get_field_index("_block_number")
    pq.write_table(t.set_column(i, "_block_number", t.column(i).cast("int64")), path)
    committed = [
        os.path.join(td, "_metadata"),
        os.path.join(out, "my_extract_name", "0.0.1", "latest.yaml"),
    ]
    before = {p: pathlib.Path(p).read_bytes() for p in committed}

    with pytest.raises(ValueError, match="fresh output directory") as err:
        run_extraction(spark, CONFIG, tables, out, 18_000_000, 19_000_000)
    assert old in str(err.value)
    assert {p: pathlib.Path(p).read_bytes() for p in committed} == before


# ---------------------------------------------------------------------------
# cloud-scheme commit path (VERDICT r01 item 4) + export-schema fidelity
# (item 7): the full pipeline against a non-file:// scheme through fsio,
# with the writer producing the reference's exact Parquet types.
# ---------------------------------------------------------------------------


@pytest.fixture()
def mock_fs(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MOCK_FS_ROOT", str(tmp_path))
    return tmp_path


def _read_mock_manifest(table_dir):
    import pyarrow.dataset as pads

    from subgraph_extractor_spark import fsio

    fs, base = fsio.resolve(table_dir)
    return pads.parquet_dataset(base + "/_metadata", filesystem=fs).to_table()


MOCK_TD = (
    "mock://exports/my_extract_name/0.0.1/data"
    "/subgraph=SUBGRAPHIPFS/table=entity_versions"
)


def test_e2e_extraction_on_mock_scheme(spark, mock_fs):
    """Full lifecycle (config gate -> data -> empty partitions -> manifest
    -> watermark) against a non-file:// destination."""
    out = "mock://exports"
    run_extraction(
        spark, CONFIG, {"entity_versions": _entity_df(spark)}, out,
        earliest_block=18_000_000, latest_block=19_000_000,
    )
    assert len(read_manifest_files(MOCK_TD)) == 31
    data = _read_mock_manifest(MOCK_TD)
    assert data.num_rows == 6
    prices = [
        None if v is None else int.from_bytes(v, "big")
        for v in data.column("ask_price").to_pylist()
    ]
    assert sorted(prices) == sorted(int(r[4]) for r in ROWS)
    # watermark + config committed on the mock scheme too
    wm = read_watermark("mock://exports/my_extract_name/0.0.1")
    assert wm["latest_block"] == 19_000_000
    assert (mock_fs / "exports/my_extract_name/0.0.1/config.yaml").exists()


def test_e2e_incremental_advance_on_mock_scheme(spark, mock_fs):
    out = "mock://exports"
    tables = {"entity_versions": _entity_df(spark)}
    run_extraction(spark, CONFIG, tables, out, 18_000_000, 18_700_000)
    n1 = _read_mock_manifest(MOCK_TD).num_rows
    run_extraction(spark, CONFIG, tables, out, 18_000_000, 19_000_000)
    n2 = _read_mock_manifest(MOCK_TD).num_rows
    assert (n1, n2) == (3, 6)


def test_arrow_sink_reference_export_schema(spark, mock_fs):
    """Reference types the block column pyarrow.uint32 (cli.py:20-21,111,
    147) and mapped uintN columns as unsigned Parquet types (cli.py:
    147-155); Spark's native writer cannot, so the export's writer must."""
    import pyarrow as pa

    config = {
        **CONFIG,
        "tables": {
            "entity_versions": {
                **CONFIG["tables"]["entity_versions"],
                "column_mappings": {
                    "ask_price": {
                        "ask_price_u64": {
                            "type": "uint64",
                            "max_value": 2**64 - 1,
                            "default": 0,
                        }
                    }
                },
            }
        },
    }
    run_extraction(
        spark, config, {"entity_versions": _entity_df(spark)}, "mock://exports",
        earliest_block=18_000_000, latest_block=19_000_000,
    )
    tbl = _read_mock_manifest(MOCK_TD)
    assert tbl.schema.field("_block_number").type == pa.uint32()
    assert tbl.schema.field("ask_price_u64").type == pa.uint64()
    assert tbl.schema.field("ask_price").type == pa.binary()


def test_arrow_sink_keeps_nullable_bigint_exact(spark, tmp_path):
    """A nullable bigint above 2**53 leaves the writer bit-exact and
    block-sorted (through pandas it became float64 and was rounded)."""
    b = F.col("_block_number")
    df = (
        spark.range(0, 3000, numPartitions=4)
        .withColumnRenamed("id", "_block_number")
        .withColumn(
            "val", F.when(b % 3 == 0, F.lit(None)).otherwise(F.lit(2**60 + 1) + b)
        )
    )
    config = {
        "name": "big", "version": "1", "subgraph": "QmBig",
        "tables": {"t": {"partition_sizes": [1024]}},
    }
    run_extraction(spark, config, {"t": df}, str(tmp_path), 0, 3072)
    td = os.path.join(tmp_path, "big", "1", "data", "subgraph=QmBig", "table=t")
    for f in read_manifest_files(td):
        blocks = pq.read_table(os.path.join(td, f))["_block_number"].to_pylist()
        assert blocks == sorted(blocks)
    got = _read_via_manifest(td)
    vals = dict(zip(got["_block_number"].to_pylist(), got["val"].to_pylist()))
    assert got.num_rows == 3000
    assert vals == {i: None if i % 3 == 0 else 2**60 + 1 + i for i in range(3000)}


# ---------------------------------------------------------------------------
# strict-typed range check folded into the write, and tables committed
# concurrently: the check sees only this run's delta, a failing table never
# moves the watermark, and the caller's job group reaches every table's jobs.
# ---------------------------------------------------------------------------

STRICT_CONFIG = {
    "name": "strict",
    "version": "1",
    "subgraph": "QmStrict",
    "tables": {
        "checked": {
            "partition_sizes": [1024],
            "column_mappings": {"qty": {"qty_i32": {"type": "int32"}}},
            "drop_columns": ["qty"],
        },
        "plain": {"partition_sizes": [1024]},
    },
}
STRICT_DS = "strict/1"


def _blocks_df(spark, parts=4, bad_block=-1):
    """One row per 100 blocks over [0, 8192); ``qty`` is the block number,
    except at ``bad_block``, where it is out of int32 range."""
    b = F.col("_block_number")
    return (
        spark.range(0, 8192, 100, numPartitions=parts)
        .withColumnRenamed("id", "_block_number")
        .withColumn("qty", F.when(b == bad_block, F.lit(2**40)).otherwise(b))
    )


def _strict_td(out, table):
    return os.path.join(
        out, STRICT_DS, "data", "subgraph=QmStrict", f"table={table}"
    )


def _commit_bytes(out, tables):
    """The committed state: each table's manifest and the watermark."""
    paths = [os.path.join(_strict_td(out, t), "_metadata") for t in tables]
    paths.append(os.path.join(out, STRICT_DS, "latest.yaml"))
    return {p: pathlib.Path(p).read_bytes() for p in paths}


def _only(table):
    return {**STRICT_CONFIG, "tables": {table: STRICT_CONFIG["tables"][table]}}


def test_strict_overflow_inside_delta_fails_without_commit(spark, tmp_path):
    out = str(tmp_path)
    cfg = _only("checked")
    run_extraction(spark, cfg, {"checked": _blocks_df(spark)}, out, 0, 4096)
    before = _commit_bytes(out, ["checked"])

    bad = {"checked": _blocks_df(spark, bad_block=5000)}
    with pytest.raises(OverflowError, match="qty_i32"):
        run_extraction(spark, cfg, bad, out, 0, 6144)
    assert _commit_bytes(out, ["checked"]) == before


def test_strict_overflow_outside_delta_passes(spark, tmp_path):
    """The check runs on the rows a run exports, not on the whole source:
    block 5000 lies beyond this run's cover."""
    out = str(tmp_path)
    cfg = _only("checked")
    bad = {"checked": _blocks_df(spark, bad_block=5000)}
    run_extraction(spark, cfg, bad, out, 0, 4096)
    data = _read_via_manifest(_strict_td(out, "checked"))
    assert data.num_rows == 41  # blocks 0, 100, ..., 4000
    assert sorted(data.column("qty_i32").to_pylist()) == list(range(0, 4096, 100))
    assert read_watermark(os.path.join(out, STRICT_DS))["latest_block"] == 4096


def test_tables_jobs_inherit_callers_job_group(spark, tmp_path, in_job_group):
    """Each table commits in its own driver thread; the caller's job group
    must still label every table's write job.  The tables' sources have 11
    and 13 partitions, so each write job's map stage names its table."""
    tracker = spark.sparkContext.statusTracker()
    tables = {
        "checked": _blocks_df(spark, parts=11),
        "plain": _blocks_df(spark, parts=13),
    }
    _, jobs = in_job_group(
        "extract-attribution",
        lambda: run_extraction(spark, STRICT_CONFIG, tables, str(tmp_path), 0, 4096),
    )

    def stage_tasks(job):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds]
        return [s.numTasks for s in stages if s is not None]

    # a write job consumes the table's shuffle: a map stage plus its own
    write_jobs = [tasks for tasks in map(stage_tasks, jobs) if len(tasks) >= 2]
    for parts in (11, 13):
        assert any(parts in tasks for tasks in write_jobs), (parts, write_jobs)


def test_failing_table_isolated_from_concurrent_sibling(spark, tmp_path):
    """One table fails while its sibling commits concurrently: the sibling
    finishes, no job outlives the call, the watermark stays, and a re-run
    on fixed input converges to an uninterrupted run."""
    sc = spark.sparkContext
    good = {"checked": _blocks_df(spark), "plain": _blocks_df(spark)}
    out = str(tmp_path / "interrupted")
    run_extraction(spark, STRICT_CONFIG, good, out, 0, 4096)
    before = _commit_bytes(out, ["checked", "plain"])

    bad = {**good, "checked": _blocks_df(spark, bad_block=5000)}
    with pytest.raises(OverflowError, match="qty_i32"):
        run_extraction(spark, STRICT_CONFIG, bad, out, 0, 6144)
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    after = _commit_bytes(out, ["checked", "plain"])
    checked_md, plain_md, watermark = (
        os.path.join(_strict_td(out, "checked"), "_metadata"),
        os.path.join(_strict_td(out, "plain"), "_metadata"),
        os.path.join(out, STRICT_DS, "latest.yaml"),
    )
    assert after[checked_md] == before[checked_md]
    assert after[watermark] == before[watermark]
    # the sibling committed its manifest over the new cover
    assert after[plain_md] != before[plain_md]
    assert _read_via_manifest(_strict_td(out, "plain")).num_rows == 62

    run_extraction(spark, STRICT_CONFIG, good, out, 0, 6144)
    ref = str(tmp_path / "uninterrupted")
    run_extraction(spark, STRICT_CONFIG, good, ref, 0, 4096)
    run_extraction(spark, STRICT_CONFIG, good, ref, 0, 6144)
    for table in ("checked", "plain"):
        got, want = _strict_td(out, table), _strict_td(ref, table)
        assert {os.path.dirname(f) for f in read_manifest_files(got)} == {
            os.path.dirname(f) for f in read_manifest_files(want)
        }
        assert _read_via_manifest(got).sort_by("_block_number").equals(
            _read_via_manifest(want).sort_by("_block_number")
        )
    assert read_watermark(os.path.join(out, STRICT_DS))["latest_block"] == 6144
