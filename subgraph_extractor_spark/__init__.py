"""subgraph_extractor_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of ``cardstack/subgraph-extractor``.

The reference (read-only at /root/reference) is a single-module batch ETL
pipeline (subgraph_extractor/cli.py) that exports versioned entity tables
from Postgres to partition-aligned Parquet.  This package re-expresses that
capability Spark-first:

- ``plans``      — hierarchical partition planner, watermark + config gate,
                   consolidated ``_metadata`` manifest (driver-side state).
- ``sources``    — DataFrame readers (parquet/csv/json/jdbc) with schema
                   normalization and pushdown-friendly scan helpers.
- ``functions``  — column-level expression library: uint256 <-> 32-byte
                   big-endian binary codec, config-driven column mapping
                   compiler (downscale / clamp / validity / type casts),
                   text analysis, vector math.
- ``operators``  — relational + LLM-data-pipeline operators: dedup (exact,
                   MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine),
                   similarity search, as-of / range joins, multimodal
                   column plumbing.
- ``extract``    — the end-to-end incremental extraction pipeline
                   (reference: cli.py:275-339) on Spark.

Everything data-sized runs as Spark DataFrame plans (Catalyst-optimized,
whole-stage codegen); only plan *metadata* (partition covers, watermarks,
manifests) lives driver-side, exactly mirroring the reference's split.
"""

__version__ = "0.1.0"

from subgraph_extractor_spark.session import get_spark  # noqa: F401
