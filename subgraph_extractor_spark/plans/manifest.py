"""Consolidated ``_metadata`` manifest — the snapshot commit point.

The reference writes, per table directory, a Parquet metadata-only file
whose row-group list (with relative file paths) enumerates exactly the
files of the current partition cover (reference cli.py:245-273; readers
open it as a dataset, tests/test_get_column_info.py:117-122).  Stale
superseded files (re-coarsening, SURVEY §2.11) may linger on disk but are
not referenced — the manifest IS the consistency mechanism.

Spark has no native equivalent (Delta/Iceberg subsume it; out of scope for
a pure-PySpark build), so this stays a small driver-side pyarrow helper:
Spark executors write the data files in parallel, the driver then collects
their footers (metadata only — no data I/O) and commits the manifest.

All I/O goes through ``fsio``/pyarrow.fs so the same commit works on
local disk, ``s3://`` (incl. Hadoop's ``s3a://`` spelling), ``gs://`` or
``hdfs://`` — the reference's cloudpathlib upload path (cli.py:226-243).
"""

from __future__ import annotations

import io
import posixpath

import pyarrow.parquet as pq

from subgraph_extractor_spark import fsio


def write_consolidated_metadata(table_dir: str, data_files: list[str]) -> str:
    """Write ``<table_dir>/_metadata`` referencing exactly ``data_files``
    (paths relative to ``table_dir``, or absolute/URI beneath it).

    Readers then do ``pq.ParquetDataset(table_dir + '/_metadata')`` (or
    ``pyarrow.dataset.parquet_dataset`` with the right filesystem) and see
    only the committed cover, regardless of what other files exist under
    the directory.

    Every file must have the first file's Parquet schema.  The files are
    input from outside this call (earlier runs, other writers), so a
    mismatch raises ``ValueError`` naming the file before anything is
    written.
    """
    fs, base = fsio.resolve(table_dir)
    collector = []
    schema = first = None
    for f in sorted(data_files):
        _, fp = fsio.resolve(f) if "://" in f else (fs, f)
        if not fp.startswith(base):
            fp = posixpath.join(base, fp)
        rel = posixpath.relpath(fp, base)
        md = pq.read_metadata(fp, filesystem=fs)
        md.set_file_path(rel)
        if schema is None:
            schema, first = pq.read_schema(fp, filesystem=fs), rel
        elif not md.schema.equals(collector[0].schema):
            raise ValueError(
                f"{table_dir}: {rel} has a different Parquet schema from "
                f"{first}.  Exports written before the reference-exact "
                "writer (int64 block column, decimal uint64 columns) cannot "
                "be continued; re-export into a fresh output directory."
            )
        collector.append(md)
    if schema is None:
        raise ValueError("cannot write a manifest over zero files")
    buf = io.BytesIO()
    pq.write_metadata(schema, buf, metadata_collector=collector)
    out = posixpath.join(base, "_metadata")
    fsio.write_bytes_atomic(fs, out, buf.getvalue())
    return out


def read_manifest_files(table_dir: str) -> list[str]:
    """List the file paths the current manifest references (relative)."""
    fs, base = fsio.resolve(table_dir)
    md = pq.read_metadata(posixpath.join(base, "_metadata"), filesystem=fs)
    return sorted(
        {md.row_group(i).column(0).file_path for i in range(md.num_row_groups)}
    )


def manifest_file_rows(table_dir: str) -> dict[str, int]:
    """Per referenced file: total committed row count, read from the
    manifest footers only (O(#row-groups) metadata, no data I/O)."""
    fs, base = fsio.resolve(table_dir)
    md = pq.read_metadata(posixpath.join(base, "_metadata"), filesystem=fs)
    rows: dict[str, int] = {}
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        fp = rg.column(0).file_path
        rows[fp] = rows.get(fp, 0) + rg.num_rows
    return rows


def manifest_diff(table_dir_old: str, table_dir_new: str) -> dict:
    """What changed between two committed snapshots of the same table
    (e.g. before/after an incremental extraction or a re-coarsening
    pass): which files were added, which were superseded, and the row
    delta — all from the two ``_metadata`` footers, no data I/O.

    The reference's snapshot story (consolidated ``_metadata`` as the
    atomic commit, cli.py:245-273,328) implies exactly this audit:
    "which partitions did the last run add / replace, and how many rows
    moved."  Returns ``{"added": {...}, "removed": {...}, "unchanged":
    [...], "row_delta": int}`` where added/removed map file path ->
    row count.  A file whose path persists is "unchanged" — partition
    files are immutable by construction (re-coarsening writes NEW
    paths), so path identity is content identity.
    """
    old = manifest_file_rows(table_dir_old)
    new = manifest_file_rows(table_dir_new)
    added = {f: n for f, n in new.items() if f not in old}
    removed = {f: n for f, n in old.items() if f not in new}
    return {
        "added": added,
        "removed": removed,
        "unchanged": sorted(set(old) & set(new)),
        "row_delta": sum(new.values()) - sum(old.values()),
    }


def vacuum_table(table_dir: str, dry_run: bool = True) -> list[str]:
    """Garbage-collect data files the manifest no longer references.

    Re-coarsening (SURVEY §2.11) supersedes fine partitions with coarse
    ones; the manifest stops referencing the old files but they stay on
    disk.  That is deliberate — the manifest is the consistency point,
    and readers in flight may still hold the old snapshot — so cleanup
    is a SEPARATE, explicitly-invoked step, exactly like Delta's VACUUM.

    Only ``*.parquet`` files under ``table_dir`` are candidates; the
    manifest itself, dotfiles, and ``_``-prefixed markers are never
    touched.  With ``dry_run=True`` (the default) nothing is deleted —
    the stale list is returned for inspection.  A missing manifest
    raises (refusing to treat an uncommitted directory as all-stale).

    Driver-side metadata operation by design: it lists file *names*
    (O(#files), no data I/O) — the same scale class as the manifest
    commit itself.
    """
    import pyarrow.fs as pafs

    fs, base = fsio.resolve(table_dir)
    referenced = {
        posixpath.join(base, f) for f in read_manifest_files(table_dir)
    }
    stale = []
    for fi in fs.get_file_info(pafs.FileSelector(base, recursive=True)):
        if fi.type != pafs.FileType.File:
            continue
        name = posixpath.basename(fi.path)
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            continue
        if fi.path not in referenced:
            stale.append(fi.path)
    stale.sort()
    if not dry_run:
        for p in stale:
            fs.delete_file(p)
    return stale
