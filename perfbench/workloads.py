"""The benchmark's workloads.  Each drives the package only through its
public entry points and checks every op's output.

A workload object is built once per run and used in this order:
``setup(dir)`` (generate inputs and build standing state; called several
times, each into a fresh directory, and the last one is kept), then
``op(i)`` / ``check(i)`` for every op, ``final_failures()`` once, and
``bytes_per_row()`` once.  ``trace_op(tracer)`` installs the traced
run's wrappers; ``layer_metrics(tracer, ops)`` reduces them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import yaml

import gen


@dataclass
class OpResult:
    rows: int  # input rows the op completed
    op_s: float  # wall time of the whole op
    read_s: float  # wall time of the read-back inside the op


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _scan_tasks(spark, group: str) -> int:
    """Tasks of the first stage of a job group: for a file scan, one task
    per input partition (one per file opened)."""
    tracker = spark.sparkContext.statusTracker()
    stages = []
    for j in _job_ids(spark, group):
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    if not stages:
        return 0
    info = tracker.getStageInfo(min(stages))
    return info.numTasks if info is not None else 0


# --------------------------------------------------------------------------
# incremental_tail
# --------------------------------------------------------------------------


class IncrementalTail:
    """Standing multi-table export; each op advances ``latest_block`` by
    one smallest partition, commits every table and reads the newest
    window of the widest table back through ``subgraph_export``."""

    name = "incremental_tail"
    SIZES = [16384, 4096, 1024]
    STEP = SIZES[-1]
    EARLIEST = 1_000_000  # deliberately not aligned to any size
    INITIAL_BLOCKS = 32 * 1024  # standing state before the first op
    HEADROOM_OPS = 48  # source blocks beyond the standing state, in ops
    READ_WINDOW = 8192  # newest blocks read back after each commit
    TABLES = 2

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        span = self.INITIAL_BLOCKS + self.HEADROOM_OPS * self.STEP
        self.specs = [
            gen.EntitySpec(
                name=f"entity{k}",
                rows=span * (1 + k % 2),  # 1 or 2 versions per block
                first_block=self.EARLIEST,
                block_span=span,
                numeric=1 + k % 4,
                strings=k % 3,
            )
            for k in range(self.TABLES)
        ]
        self.config = {
            "name": "tail",
            "version": "1",
            "subgraph": f"Qmbench{seed}",
            "tables": {
                s.name: gen.table_config(s, self.SIZES, strict=k == 0)
                for k, s in enumerate(self.specs)
            },
        }

    def params(self) -> dict:
        return gen.params(entity=self.specs) | {
            "partition_sizes": self.SIZES,
            "initial_blocks": self.INITIAL_BLOCKS,
            "step_blocks": self.STEP,
            "read_window_blocks": self.READ_WINDOW,
        }

    # ------------------------------------------------------------ setup
    def setup(self, root: str) -> None:
        from subgraph_extractor_spark import extract

        os.makedirs(root)
        self.root = root
        self.blocks = {}
        self.tables = {}
        for spec in self.specs:
            table = gen.entity_table(spec, self.seed)
            path = os.path.join(root, f"{spec.name}.parquet")
            gen.write_parquet(table, path)
            self.blocks[spec.name] = table.column("_block_number").to_numpy()
            self.tables[spec.name] = self.spark.read.parquet(path)
        self.out = os.path.join(root, "export")
        self.latest = self.EARLIEST + self.INITIAL_BLOCKS
        extract.run_extraction(
            self.spark, self.config, self.tables, self.out,
            self.EARLIEST, self.latest,
        )

    @property
    def dataset_dir(self) -> str:
        return os.path.join(self.out, self.config["name"], self.config["version"])

    def table_dir(self, name: str) -> str:
        return os.path.join(
            self.dataset_dir, "data", f"subgraph={self.config['subgraph']}",
            f"table={name}",
        )

    def _cover_end(self, latest: int) -> int:
        return latest // self.STEP * self.STEP

    def _source_rows_below(self, name: str, end: int) -> int:
        return int(np.searchsorted(self.blocks[name], end, side="left"))

    # --------------------------------------------------------------- op
    def op(self, i: int, tracer=None) -> OpResult:
        from pyspark.sql import functions as F

        from subgraph_extractor_spark import extract

        latest = self.latest + self.STEP
        if latest > self.EARLIEST + self.INITIAL_BLOCKS + self.HEADROOM_OPS * self.STEP:
            raise RuntimeError("source tables exhausted: raise HEADROOM_OPS")
        prev_end, end = self._cover_end(self.latest), self._cover_end(latest)
        name = self.specs[-1].name
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        if tracer:
            sc.setJobGroup(f"commit{i}", "perfbench commit")
        extract.run_extraction(
            self.spark, self.config, self.tables, self.out, self.EARLIEST, latest
        )
        t1 = time.perf_counter()
        if tracer:
            sc.setJobGroup(f"read{i}", "perfbench read")
        reader = self.spark.read.format("subgraph_export").option(
            "path", self.table_dir(name)
        )
        with tracer.span("sources.subgraph_export_read") if tracer else nullcontext():
            n = reader.load().filter(
                F.col("_block_number") >= end - self.READ_WINDOW
            ).count()
        t2 = time.perf_counter()
        if tracer:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.count("extract.spark_jobs", len(_job_ids(self.spark, f"commit{i}")))
            opened = _scan_tasks(self.spark, f"read{i}")
            tracer.count("sources.files_opened", opened)
            tracer.count("sources.manifest_files", len(_manifest_files(self.table_dir(name))))
        self.latest = latest
        self._last = (i, name, latest, end, n)
        added = sum(
            self._source_rows_below(s.name, end) - self._source_rows_below(s.name, prev_end)
            for s in self.specs
        )
        return OpResult(rows=added, op_s=t2 - t0, read_s=t2 - t1)

    def check(self, i: int) -> list[str]:
        _, name, latest, end, n = self._last
        bad = []
        with open(os.path.join(self.dataset_dir, "latest.yaml")) as f:
            wm = yaml.safe_load(f)
        if wm.get("latest_block") != latest:
            bad.append(f"watermark {wm.get('latest_block')} != {latest}")
        for spec in self.specs:
            md = pq.read_metadata(os.path.join(self.table_dir(spec.name), "_metadata"))
            want = self._source_rows_below(spec.name, end)
            if md.num_rows != want:
                bad.append(f"{spec.name}: manifest rows {md.num_rows} != source {want}")
        src = self.blocks[name]
        want = int(
            pc.sum(
                pc.and_(
                    pc.greater_equal(src, end - self.READ_WINDOW), pc.less(src, end)
                )
            ).as_py()
        )
        if n != want:
            bad.append(f"{name}: read {n} rows != pyarrow source window {want}")
        return bad

    def final_failures(self) -> list[str]:
        return []

    def bytes_per_row(self) -> float:
        size = rows = 0
        for spec in self.specs:
            td = self.table_dir(spec.name)
            md = pq.read_metadata(os.path.join(td, "_metadata"))
            rows += md.num_rows
            size += sum(os.path.getsize(os.path.join(td, f)) for f in _manifest_files(td))
        return size / rows

    # ------------------------------------------------------------ trace
    def trace_op(self, tracer) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from subgraph_extractor_spark import extract, fsio

        w = tracer.wrap
        w(extract, "compile_column_mappings", "functions.compile_column_mappings")
        w(extract, "enforce_assertions", "functions.enforce_assertions")
        w(extract, "extract_table", "extract.extract_table")
        w(extract, "assign_partitions", "extract.assign_partitions")
        w(DataFrameWriter, "parquet", "extract.write_job")
        w(extract, "_write_empty_partition", "extract.write_empty_partition",
          after=lambda r, a, k: tracer.count("extract.empty_partitions"))
        w(extract, "ensure_config_unchanged", "plans.ensure_config_unchanged")
        w(extract, "read_watermark", "plans.read_watermark")
        w(extract, "write_watermark", "plans.write_watermark")
        w(extract, "get_partitions", "plans.get_partitions")
        w(extract, "plan_delta", "plans.plan_delta",
          after=lambda r, a, k: tracer.count("plans.delta_partitions", len(r)))
        w(extract, "write_consolidated_metadata", "plans.write_consolidated_metadata",
          after=lambda r, a, k: tracer.count("plans.manifest_files", len(a[1])))
        w(fsio, "listdir", "fsio.listdir",
          after=lambda r, a, k: tracer.count("fsio.listdir_calls"))
        w(extract, "run_extraction", "extract.run_extraction")

    def layer_metrics(self, tracer, ops: list[int]) -> dict:
        t = len(self.specs)
        plan = ["plans.ensure_config_unchanged", "plans.read_watermark",
                "plans.write_watermark", "plans.get_partitions", "plans.plan_delta"]

        def med(f):
            return _median([f(i) for i in ops])

        files = med(lambda i: tracer.op_count(i, "sources.files_opened"))
        listed = med(lambda i: tracer.op_count(i, "sources.manifest_files"))
        return {
            "functions.codec_rows_per_s": self.codec_rows_per_s(),
            "functions.assert_ms": med(lambda i: tracer.span_ms(i, "functions.enforce_assertions") / t),
            "extract.write_job_ms": med(lambda i: tracer.span_ms(i, "extract.write_job") / t),
            "extract.spark_jobs_per_op": med(lambda i: tracer.op_count(i, "extract.spark_jobs")),
            "extract.assign_ms": med(lambda i: tracer.span_ms(i, "extract.assign_partitions")),
            "extract.empty_partitions": med(lambda i: tracer.op_count(i, "extract.empty_partitions")),
            "plans.plan_ms": med(lambda i: sum(tracer.span_ms(i, n) for n in plan)),
            "plans.manifest_ms": med(lambda i: tracer.span_ms(i, "plans.write_consolidated_metadata")),
            "plans.manifest_files": med(lambda i: tracer.op_count(i, "plans.manifest_files")),
            "plans.delta_partitions": med(lambda i: tracer.op_count(i, "plans.delta_partitions")),
            "fsio.listdir_calls": med(lambda i: tracer.op_count(i, "fsio.listdir_calls")),
            "fsio.listdir_ms": med(lambda i: tracer.span_ms(i, "fsio.listdir")),
            "sources.read_ms": med(lambda i: tracer.span_ms(i, "sources.subgraph_export_read")),
            "sources.files_opened": files,
            "sources.files_opened_ratio": files / listed if listed else 0.0,
        }

    def codec_rows_per_s(self) -> float:
        """``uint256_to_be_bytes`` over every numeric column of the whole
        input into Spark's ``noop`` sink; median of three passes."""
        from pyspark.sql import functions as F

        from subgraph_extractor_spark.functions.uint256 import uint256_to_be_bytes

        rows = sum(s.rows for s in self.specs)
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            for spec in self.specs:
                cols = [uint256_to_be_bytes(F.col(f"amount{k}")) for k in range(spec.numeric)]
                self.tables[spec.name].select(*cols).write.format("noop").mode(
                    "overwrite"
                ).save()
            rates.append(rows / (time.perf_counter() - t0))
        return statistics.median(rates)


def _manifest_files(table_dir: str) -> set[str]:
    md = pq.read_metadata(os.path.join(table_dir, "_metadata"))
    return {md.row_group(g).column(0).file_path for g in range(md.num_row_groups)}


# --------------------------------------------------------------------------
# corpus_pipeline
# --------------------------------------------------------------------------


class CorpusPipelineRun:
    """``CorpusPipeline`` over seeded documents: dedup_exact ->
    quality_gate -> dedup_minhash -> split -> write_shards, each op into a
    fresh directory."""

    name = "corpus_pipeline"
    SPEC = gen.CorpusSpec(
        docs=3000, vocab=8000, dup_share=0.1, near_share=0.1, low_share=0.1,
        min_tokens=40,
    )
    SHARDS = 16
    THRESHOLD = 0.7
    # the shard read-back takes ~0.15 s, mostly fixed cost; three per op
    # keep its median steady
    READS = 3
    STAGES = ["dedup_exact", "quality_gate", "dedup_minhash", "split"]

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.assignment = None
        self._cached = []  # stage outputs a traced op persisted

    def params(self) -> dict:
        return gen.params(corpus=self.SPEC) | {
            "num_shards": self.SHARDS,
            "minhash_threshold": self.THRESHOLD,
        }

    def setup(self, root: str) -> None:
        os.makedirs(root)
        self.root = root
        table = gen.documents(self.SPEC, self.seed)
        path = os.path.join(root, "documents.parquet")
        gen.write_parquet(table, path)
        self.docs = self.spark.read.parquet(path)
        # pure-Python exact-dedup reference: lowest id per sha256 digest
        survivors: dict[bytes, int] = {}
        for doc_id, text in zip(table.column("doc_id").to_pylist(),
                                table.column("text").to_pylist()):
            d = hashlib.sha256(text.encode("utf-8")).digest()
            if d not in survivors or doc_id < survivors[d]:
                survivors[d] = doc_id
        self.survivors = set(survivors.values())

    def _out(self, i: int) -> str:
        return os.path.join(self.root, f"shards{i}")

    def op(self, i: int, tracer=None) -> OpResult:
        from subgraph_extractor_spark.pipeline import CorpusPipeline

        if i > 0:  # keep one previous output for the determinism check
            shutil.rmtree(self._out(i - 2), ignore_errors=True)
        out = self._out(i)
        t0 = time.perf_counter()
        (
            CorpusPipeline(self.docs, id_col="doc_id", text_col="text")
            .dedup_exact()
            .quality_gate(min_tokens=self.SPEC.min_tokens, max_punct_ratio=0.1)
            .dedup_minhash(threshold=self.THRESHOLD)
            .split("train")
            .write_shards(out, num_shards=self.SHARDS, seed="epoch0")
        )
        t1 = time.perf_counter()
        counts = {self.spark.read.parquet(out).count() for _ in range(self.READS)}
        t2 = time.perf_counter()
        n = counts.pop() if len(counts) == 1 else -1
        if tracer:
            for df in self._cached:
                df.unpersist()
            self._cached.clear()
        self._last = (i, n)
        return OpResult(rows=self.SPEC.docs, op_s=t2 - t0, read_s=(t2 - t1) / self.READS)

    def check(self, i: int) -> list[str]:
        _, n = self._last
        t = pads.dataset(self._out(i), format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "text", "shard"]
        )
        ids = t.column("doc_id").to_pylist()
        shards = t.column("shard").to_pylist()
        bad = []
        if len(ids) != n:
            bad.append(f"spark read {n} rows != pyarrow {len(ids)}")
        if len(set(ids)) != len(ids):
            bad.append("a document appears in more than one shard row")
        if not set(ids) <= self.survivors:
            bad.append("output holds a document that is not an exact-dedup survivor")
        digests = {hashlib.sha256(x.encode("utf-8")).digest() for x in t.column("text").to_pylist()}
        if len(digests) != len(ids):
            bad.append("two output documents have identical text")
        if not all(0 <= s < self.SHARDS for s in shards):
            bad.append("shard id out of range")
        assignment = dict(zip(ids, shards))
        if self.assignment is not None and assignment != self.assignment:
            bad.append("equal seeds gave different shard assignments")
        self.assignment = assignment
        return bad

    def final_failures(self) -> list[str]:
        """The exact-dedup stage alone must keep exactly the lowest id of
        every distinct text (checked once: the stage is deterministic)."""
        from subgraph_extractor_spark.pipeline import CorpusPipeline

        got = {
            r[0]
            for r in CorpusPipeline(self.docs).dedup_exact().df.select("doc_id").collect()
        }
        if got != self.survivors:
            return [f"exact-dedup survivors differ from the sha256 reference "
                    f"({len(got)} vs {len(self.survivors)})"]
        return []

    def bytes_per_row(self) -> float:
        out = self._out(self._last[0])
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        )
        return size / self.SPEC.docs

    def trace_op(self, tracer) -> None:
        from subgraph_extractor_spark import pipeline
        from subgraph_extractor_spark.operators import dedup, shuffling

        def materialize(name=None):
            def after(result, args, kwargs):
                df = result.df if hasattr(result, "df") else result
                df = df.persist()
                self._cached.append(df)
                n = df.count()
                if name:
                    tracer.count(name, n)
                if hasattr(result, "df"):
                    result.df = df
                    return result
                return df
            return after

        w = tracer.wrap
        P = pipeline.CorpusPipeline
        for stage in self.STAGES:
            w(P, stage, f"pipeline.{stage}", after=materialize(f"pipeline.stage_rows.{stage}"))
        w(P, "write_shards", "pipeline.write_shards")
        w(dedup, "exact_dedup", "operators.exact_dedup", after=materialize())
        w(dedup, "minhash_dedup_pairs", "operators.minhash_dedup_pairs",
          after=lambda r, a, k: tracer.count("operators.minhash_pairs", r.count()))
        w(dedup, "dedup_keep_representatives", "operators.dedup_keep_representatives")
        w(shuffling, "deterministic_shuffle", "operators.deterministic_shuffle",
          after=materialize())

    def layer_metrics(self, tracer, ops: list[int]) -> dict:
        def med(f):
            return _median([f(i) for i in ops])

        out = {
            "operators.dedup_exact_ms": med(lambda i: tracer.span_ms(i, "operators.exact_dedup")),
            "operators.minhash_ms": med(lambda i: tracer.span_ms(i, "operators.minhash_dedup_pairs")),
            "operators.minhash_pairs": med(lambda i: tracer.op_count(i, "operators.minhash_pairs")),
            "operators.shuffle_ms": med(lambda i: tracer.span_ms(i, "operators.deterministic_shuffle")),
            "pipeline.write_shards_ms": med(lambda i: tracer.span_ms(i, "pipeline.write_shards")),
        }
        for stage in self.STAGES:
            out[f"pipeline.stage_rows.{stage}"] = med(
                lambda i: tracer.op_count(i, f"pipeline.stage_rows.{stage}")
            )
        return out


WORKLOADS = {w.name: w for w in (IncrementalTail, CorpusPipelineRun)}
