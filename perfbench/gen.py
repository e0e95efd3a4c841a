"""Seeded input generator for the benchmark.

Every input the benchmark hands to the package is a Parquet file written
here from a ``numpy`` generator seeded by ``--seed``: the same seed gives
byte-identical inputs.  Two families:

- versioned entity tables (``entity_table``): block-sorted rows of a
  graph-node entity store, with uint256-carrier ``numeric`` columns
  (decimal(38,0), values up to 2**100) and a ``qty`` column that fits
  int32 (the strict-typed mapping target);
- synthetic documents (``documents``): Zipf-distributed tokens over a
  generated vocabulary, with exact shares of exact duplicates,
  near-duplicates and low-quality documents.

The benchmark prints the parameters it generated with, beside its results.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DECIMAL = pa.decimal128(38, 0)


@dataclass(frozen=True)
class EntitySpec:
    """One versioned entity table: ``rows`` versions spread over blocks
    ``[first_block, first_block + block_span)``."""

    name: str
    rows: int
    first_block: int
    block_span: int
    numeric: int  # uint256-carrier columns amount0..amount{numeric-1}
    strings: int  # extra string attribute columns attr0..


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    vocab: int
    dup_share: float  # exact copies of a base document
    near_share: float  # base documents with a few tokens replaced
    low_share: float  # documents that fail the quality gate
    min_tokens: int  # quality-gate threshold the pipeline uses


def _decimal_column(lo: np.ndarray, hi: np.ndarray) -> pa.Array:
    """decimal(38,0) values ``hi * 2**64 + lo`` built from raw 16-byte
    little-endian limbs (no per-row Python objects)."""
    limbs = np.empty((lo.size, 2), dtype=np.uint64)
    limbs[:, 0] = lo
    limbs[:, 1] = hi
    return pa.Array.from_buffers(
        DECIMAL, lo.size, [None, pa.py_buffer(limbs.tobytes())]
    )


def _pool(fmt: str, rng: np.random.Generator, size: int, hi: int) -> pa.Array:
    """``size`` formatted random values to draw string columns from."""
    return pa.array([fmt % v for v in rng.integers(0, hi, size).tolist()])


def entity_table(spec: EntitySpec, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, spec.rows, spec.first_block, spec.numeric])
    n = spec.rows
    blocks = np.sort(
        rng.integers(spec.first_block, spec.first_block + spec.block_span, n)
    ).astype(np.int64)
    cols = {
        "vid": pa.array(np.arange(n, dtype=np.int64)),
        "id": _pool("0x%010x", rng, 1 << 16, 1 << 40).take(
            rng.integers(0, 1 << 16, n)
        ),
        "_block_number": pa.array(blocks),
    }
    for k in range(spec.numeric):
        lo = rng.integers(0, 2**63, n, dtype=np.uint64) * np.uint64(2)
        hi = rng.integers(0, 2**36, n, dtype=np.uint64)
        cols[f"amount{k}"] = _decimal_column(lo, hi)
    cols["qty"] = _decimal_column(
        rng.integers(0, 2**31, n, dtype=np.uint64), np.zeros(n, np.uint64)
    )
    for k in range(spec.strings):
        cols[f"attr{k}"] = _pool("v%06d", rng, 4096, 10**6).take(
            rng.integers(0, 4096, n)
        )
    return pa.table(cols)


def table_config(spec: EntitySpec, partition_sizes: list[int],
                 strict: bool) -> dict:
    """Extraction config for one generated table: every numeric column
    through the uint256 codec, ``amount0`` downscaled and clamped to
    uint64 with a validity column and, if ``strict``, ``qty`` strictly
    typed int32 (a range assertion over the whole source table)."""
    mappings = {
        "amount0": {
            "amount0_scaled": {
                "type": "uint64",
                "downscale": 10**12,
                "max_value": 2**64 - 1,
                "default": 0,
                "validity_column": "amount0_valid",
            }
        },
    }
    if strict:
        mappings["qty"] = {"qty_i32": {"type": "int32"}}
    return {
        "partition_sizes": list(partition_sizes),
        "block_column": "_block_number",
        "numeric_columns": [f"amount{k}" for k in range(spec.numeric)],
        "column_mappings": mappings,
        "drop_columns": ["vid", "qty"],
    }


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=64 * 1024)


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = set()
    out = []
    while len(out) < size:
        w = "".join(rng.choice(letters, lens[len(out)]))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def documents(spec: CorpusSpec, seed: int) -> pa.Table:
    """Documents ``(doc_id, text)``.

    Shares are exact: ``round(share * docs)`` documents of each kind.
    Base documents have 60..160 Zipf(1.2) tokens; a near-duplicate
    replaces 2 tokens of a base doc (word 3-gram Jaccard stays well above
    0.7); a low-quality document has 5 to ``min_tokens - 1`` tokens.  Doc ids are a seeded permutation, so copies
    land at random ids relative to their originals."""
    rng = np.random.default_rng([seed, spec.docs, spec.vocab])
    vocab = _vocabulary(rng, spec.vocab)
    n_dup = round(spec.dup_share * spec.docs)
    n_near = round(spec.near_share * spec.docs)
    n_low = round(spec.low_share * spec.docs)
    n_base = spec.docs - n_dup - n_near - n_low

    def draw(k: int) -> np.ndarray:
        ranks = rng.zipf(1.2, k)
        return vocab[(ranks - 1) % spec.vocab]

    texts: list[str] = []
    base_tokens = []
    for _ in range(n_base):
        toks = draw(int(rng.integers(60, 161)))
        base_tokens.append(toks)
        texts.append(" ".join(toks))
    for _ in range(n_dup):
        texts.append(texts[int(rng.integers(0, n_base))])
    for _ in range(n_near):
        toks = base_tokens[int(rng.integers(0, n_base))].copy()
        pos = rng.choice(toks.size, 2, replace=False)
        toks[pos] = draw(2)
        texts.append(" ".join(toks))
    for _ in range(n_low):
        texts.append(" ".join(draw(int(rng.integers(5, spec.min_tokens)))))
    order = rng.permutation(spec.docs)
    ids = np.empty(spec.docs, dtype=np.int64)
    ids[order] = np.arange(spec.docs, dtype=np.int64)
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)})
    return table


def params(entity: list[EntitySpec] | None = None,
           corpus: CorpusSpec | None = None) -> dict:
    """The generator parameters, as printed with the results."""
    out: dict = {}
    if entity:
        out["tables"] = len(entity)
        out["rows"] = sum(s.rows for s in entity)
        out["block_span"] = [
            min(s.first_block for s in entity),
            max(s.first_block + s.block_span for s in entity),
        ]
        out["table_specs"] = [asdict(s) for s in entity]
    if corpus:
        out.update(
            docs=corpus.docs,
            vocab=corpus.vocab,
            dup_share=corpus.dup_share,
            near_share=corpus.near_share,
            low_share=corpus.low_share,
        )
    return out
