"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (driver mandate, BASELINE.json north star):
exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document
corpus.  Every operator here is pure Catalyst (built-in higher-order array
functions + hash functions + shuffle joins) — no Python in the hot path —
so the same plans scale to a 1000-executor cluster:

- exact:      one hash-partitioned groupBy on a 256-bit content hash.
- MinHash:    per-row signature is embarrassingly parallel; the LSH
              band-bucket join shuffles only (band_id, band_hash) keys, so
              candidate generation is O(pairs-in-buckets), never O(n^2).
- SimHash:    per-row 64-bit signature; banding on 16-bit chunks for
              candidate generation (hamming-distance pigeonhole).
- n-gram Jaccard: exact verification on candidate pairs only.

Determinism: all hash families are fixed (xxhash64 seeds + an explicit
affine family mod a Mersenne prime), so results are stable run-to-run —
required by the correctness harness and by incremental re-runs at scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MERSENNE_31 = (1 << 31) - 1  # prime modulus for the affine MinHash family


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    keep: str = "min",
    carry: list[str] | None = None,
) -> DataFrame:
    """Exact content dedup: keep one representative id per distinct
    content value.  Implemented as a single hash groupBy on the content —
    Catalyst plans partial (map-side) + final hash aggregation, so the
    shuffle carries one row per distinct value per map task.

    ``carry`` (r11): additional columns returned FROM THE SURVIVOR ROW,
    via min/max of a ``struct(id, *carry)`` — ids are the struct's
    leading field, so the selected struct IS the min/max-id row and the
    carried values are that row's values.  PRECONDITION (r12, ADVICE):
    this identity holds only when ``id_col`` is unique per content
    group — struct ordering breaks id TIES on the carried values in
    declaration order, so if the winning id appears on multiple rows
    with different carry values, one of those rows is selected by
    carry-column order (where the old reattach join returned every
    matching row).  Per-row-unique ids (the crawl-e2e call site, and
    any primary-key id) satisfy this trivially.  This lets a caller keep
    survivor attributes without re-joining the output back onto the
    input (which re-evaluates the input's whole subtree in a lazy
    plan); the shuffled partial-aggregate rows widen by the carried
    columns — cheap insurance vs a second pass when the input lineage
    contains real work (guide §2.4/§8).

    For very wide content at 100 TB scale, group on ``sha2(content, 256)``
    instead so the shuffle key is 32 bytes (see ``exact_dedup_by_hash``).
    """
    if not carry:
        agg = F.min(id_col) if keep == "min" else F.max(id_col)
        return df.groupBy(content_col).agg(agg.alias(id_col))
    s = F.struct(id_col, *carry)
    best = (F.min(s) if keep == "min" else F.max(s)).alias("_best")
    return (
        df.groupBy(content_col)
        .agg(best)
        .select(
            content_col,
            *[F.col(f"_best.{c}").alias(c) for c in [id_col, *carry]],
        )
    )


def exact_dedup_by_hash(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup keyed on the 256-bit content digest — the shuffle
    carries (64-hex digest, id) instead of full documents."""
    return (
        df.withColumn("content_sha256", F.sha2(F.col(content_col), 256))
        .groupBy("content_sha256")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    content_col: str,
    id_col: str,
    corpus_digests: DataFrame,
) -> DataFrame:
    """Exact-dedup a new ingest batch against a standing corpus digest
    table: rows of ``new_df`` whose content digest appears in
    ``corpus_digests`` (column ``content_sha256``) or earlier in the
    batch itself are dropped; survivors keep their columns plus
    ``content_sha256`` (append them to the digest table for the next
    ingest — the continual-ingestion loop).

    Scale shape: within-batch dedup is one groupBy keyed by the 32-byte
    digest over the BATCH only; the corpus probe is a left-anti join
    against the digest table (sort-merge on the digest; at 100 TB the
    digest table is ~1/1000th the corpus and can be bucketed by digest
    so recurring ingests skip its shuffle entirely).  The standing
    corpus is never re-grouped."""
    hashed = new_df.withColumn(
        "content_sha256", F.sha2(F.col(content_col), 256)
    )
    w = Window.partitionBy("content_sha256").orderBy(F.col(id_col).asc())
    in_batch_first = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return in_batch_first.join(
        corpus_digests.select("content_sha256"),
        "content_sha256",
        "left_anti",
    )


# --------------------------------------------------------------------------
# shingling + MinHash + LSH
# --------------------------------------------------------------------------

def tokens(col: Column) -> Column:
    """Lowercased whitespace tokens; empty string -> empty array.
    NULL propagates (callers that must count tokens use
    ``tokens_or_empty``)."""
    trimmed = F.trim(F.lower(col))
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def tokens_or_empty(col: Column) -> Column:
    """``tokens`` with NULL text behaving like empty text — the
    null-safe variant for operators whose counters would otherwise be
    poisoned by ``size(NULL) = -1`` (passage removal, BM25 lengths)."""
    return F.coalesce(tokens(col), F.array().cast("array<string>"))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a text column, as an array<string>.
    Stays in codegen, no UDF.

    Built as ``arrays_zip`` of n shifted slices + one transform whose
    lambda is a single n-field concat — NOT a
    ``transform(sequence(...), i -> concat_ws(slice(toks, i+1, n)))``
    lambda: Spark interprets HOF lambdas per element, and a per-element
    ``slice`` allocates an array per gram, which made this primitive
    ~4.5 s at sf0.1 (vs ~1.0 s for the zip form — measured, identical
    output including first-occurrence distinct order).  This feeds
    every MinHash/Jaccard/containment query, so the constant matters.
    ``greatest(..., 0)`` keeps slice lengths legal on short docs
    regardless of branch evaluation; arrays_zip names positional
    fields "0".."n-1"."""
    toks = tokens(col)
    ln = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, ln) for i in range(n)])
    return F.array_distinct(
        F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
            F.transform(
                z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
            )
        )
    )


def _affine_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Fixed affine hash family h_i(x) = (a_i*x + b_i) mod M31, generated
    by a deterministic LCG so signatures are reproducible everywhere."""
    params, state = [], seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MERSENNE_31 - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_31
        params.append((a, b))
    return params


def _minhash_udf(num_hashes: int, bands: int | None = None):
    """Arrow-batched MinHash kernel: per document, the (a*h+b) mod M31
    minima over all hash functions, computed as one numpy broadcast.
    Integer math — bit-identical across runs/machines.  (Both pure-HOF
    and 128-way min-aggregate formulations were measured 10-50x slower:
    interpreted expression trees / codegen blowup.)

    With ``bands`` set, the kernel folds each band's minima into one
    64-bit bucket value and returns array<long> of length ``bands`` —
    keeping the whole signature+banding map-side in one pass instead of a
    wide Catalyst projection (measured ~10s of compile/interpret overhead
    at 32 bands)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    params = _affine_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.uint64)[:, None]
    B = np.array([b for _, b in params], dtype=np.uint64)[:, None]
    sentinel = np.full(num_hashes, MERSENNE_31, dtype=np.uint64)

    def band_fold(sig: np.ndarray) -> list[int]:
        # FNV-style fold of each band's r minima into one bucket value
        r = num_hashes // bands
        v = np.full(bands, 1469598103934665603, dtype=np.uint64)
        chunks = sig.reshape(bands, r)
        for j in range(r):
            v = (v ^ chunks[:, j]) * np.uint64(1099511628211)
        return v.astype(np.int64).tolist()

    @pandas_udf(ArrayType(LongType()))
    def mh(hashes: pd.Series) -> pd.Series:
        out = []
        for arr in hashes:
            if arr is None or len(arr) == 0:
                sig = sentinel
            else:
                h = (
                    np.asarray(arr, dtype=np.int64).astype(np.uint64)
                ) % MERSENNE_31
                # a < M31, h < M31 -> a*h < 2^62: no uint64 overflow
                sig = (A * h[None, :] + B) % MERSENNE_31
                sig = sig.min(axis=1)
            out.append(
                band_fold(sig) if bands else sig.astype(np.int64).tolist()
            )
        return pd.Series(out)

    return mh


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature as ``_sig array<long>``.

    Plan shape: shingling + base xxhash64 stay JVM-side (codegen); the
    n-way minima run in one Arrow-batched numpy kernel per task — fully
    map-side, no shuffle until the bucket grouping.  Documents with zero
    shingles get the sentinel signature (MERSENNE_31 everywhere).
    """
    sh = shingle_hashes(df, text_col, id_col, shingle_n)
    return sh.select(
        "_id", _minhash_udf(num_hashes)(F.col("_h")).alias("_sig")
    )


def _shingle_hash_udf(shingle_n: int):
    """Arrow-batched shingle hashing: lowercase whitespace tokens, word
    n-grams, crc32 of each distinct gram.  Python-side on purpose: the
    equivalent Catalyst HOF tree costs ~6-10 s of expression compile per
    distinct plan shape (measured), while this kernel is a flat string
    pass that ships one array<long> per doc.  crc32 is deterministic
    everywhere; 32-bit collisions shift a 300-element Jaccard by <1e-4.

    Tokenizer contract (exact SQL mirror, byte-for-byte — same contract
    as the winnowing kernel): lower → trim SPACES only (SQL trim) →
    split on the RE2 ASCII \\s class [\\t\\n\\f\\r ], keeping empty edge
    tokens.  NOT Python str.split(): its Unicode whitespace set, \\x0b
    handling, and edge-token dropping silently diverge from the DuckDB
    oracle's string_split_regex on adversarial texts, which would
    poison every contract built on this ground truth."""
    import re
    import zlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    _split = re.compile(r"[\t\n\f\r ]+").split

    @pandas_udf(ArrayType(LongType()))
    def sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = _split(t.lower().strip(" ")) if t else []
            if toks == [""]:
                toks = []
            if len(toks) < shingle_n:
                out.append([])
                continue
            grams = {
                " ".join(toks[i : i + shingle_n])
                for i in range(len(toks) - shingle_n + 1)
            }
            out.append([zlib.crc32(g.encode("utf-8")) for g in grams])
        return pd.Series(out)

    return sh


def _spread(df: DataFrame) -> DataFrame:
    """Ensure kernel-heavy stages use the whole cluster: small fixture
    tables arrive as one file = one partition, which would serialize the
    Arrow kernels onto a single core.  No-op cost relative to the kernels
    it parallelizes; real corpora arrive multi-file anyway."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par)


def shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3
) -> DataFrame:
    """(_id, _h array<long>): hash of each distinct word shingle.

    This is THE intermediate to persist in a dedup run: every downstream
    stage (MinHash signatures, LSH banding, exact Jaccard verification)
    derives from it."""
    return _spread(df).select(
        F.col(id_col).alias("_id"),
        _shingle_hash_udf(shingle_n)(F.col(text_col)).alias("_h"),
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    hashes_df: DataFrame | None = None,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """LSH candidate pairs: documents sharing at least one (band_id,
    band_hash) bucket.  Output columns: id_a, id_b  (id_a < id_b).

    Scale shape: signatures are computed map-side; the only shuffle keys
    are the band buckets; the self-join within buckets is an equi-join on
    (band, band_hash), so runtime is bucket-quadratic only where there
    are actual collisions — the standard MinHash-LSH cost model.
    ``max_bucket_size`` drops degenerate mega-buckets before expansion
    (see ``_minhash_pairs_lazy``).
    """
    sh = (
        hashes_df
        if hashes_df is not None
        else shingle_hashes(df, text_col, id_col, shingle_n)
    )
    return _minhash_pairs_lazy(
        sh, num_hashes, bands, max_bucket_size
    ).localCheckpoint(eager=True)


def _minhash_banded(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, band, bucket) rows from shingle hashes — lazy, single-use.

    Sub-shingle-length documents all share the sentinel signature:
    banding them would put EVERY short doc in one bucket (quadratic
    blowup) and declare them near-duplicates of each other.  They have
    no shingle evidence either way — exclude them from candidate
    generation."""
    return sh.filter(F.size("_h") > 0).select(
        "_id",
        F.posexplode(
            _minhash_udf(num_hashes, bands)(F.col("_h"))
        ).alias("band", "bucket"),
    )


def _cap_buckets(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop over-cap (band, bucket) groups BEFORE any per-bucket set is
    collected — the mega-bucket guard shared by the full and incremental
    MinHash paths (one definition so their cap semantics cannot drift
    and break the incremental==full-restricted equivalence).  The window
    count needs the same hash partitioning as the downstream groupBy, so
    Catalyst plans one shuffle for both, and the sort-based window
    spills where a collect would not."""
    if max_bucket_size is None:
        return banded
    w = Window.partitionBy("band", "bucket")
    return (
        banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )


def _combo_expr(ids: Column) -> Column:
    """C(n,2) unordered (least, greatest) struct pairs of an id array —
    the in-bucket combination expansion expression shared by
    ``bucket_pairs`` and the incremental variant."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(
                    F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                ),
            ),
        )
    )


def bucket_pairs(
    grouped: DataFrame, ids_col: str = "_ids"
) -> DataFrame:
    """Distinct unordered candidate pairs (id_a < id_b) from bucket
    membership lists — pure codegen in-bucket combination expansion.

    This REPLACES the classic banded self-join: a self-join over a
    Python-kernel subtree forces a persist+count barrier, because Spark
    re-creates the PythonUDF with fresh expr ids per self-join side (the
    sides never canonicalize equal, so exchange reuse can't fire and the
    kernel would run once per side — measured, not assumed).  Grouping
    ids per (band, bucket) and expanding C(n,2) combinations with array
    HOFs keeps the kernel in ONE plan branch: no cache, no barrier, one
    shuffle keyed by the bucket, and runtime stays bucket-quadratic only
    where there are actual collisions — the same LSH cost model as the
    join formulation, minus the materialization."""
    return (
        grouped.select(F.explode(_combo_expr(F.col(ids_col))).alias("_p"))
        .select(F.col("_p.a").alias("id_a"), F.col("_p.b").alias("id_b"))
        # duplicate ids in a bucket list would emit degenerate self-pairs
        # (the replaced self-join's l._id < r._id excluded them silently)
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def _minhash_pairs_lazy(
    sh: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Lazy candidate pairs from shingle hashes: band the signatures,
    group ids per (band, bucket), expand in-bucket combinations.  One
    kernel pass, one bucket shuffle, one distinct — no barrier.

    ``max_bucket_size`` guards the quadratic mega-bucket blowup (the
    same guard as ``similarity.lsh_bucketed_pairs``): a bucket with b
    members expands to b(b-1)/2 pairs inside ONE task, and the
    collect_set of a boilerplate bucket in a web corpus is itself an
    OOM.  The cap is applied with a window count over (band, bucket)
    BEFORE the ids are collected — the window needs the same hash
    partitioning as the groupBy, so Catalyst plans one shuffle for
    both, and the sort-based window spills where a collect would not.
    Over-cap buckets carry no discriminative signal (near-constant
    boilerplate); their members still pair via their other bands."""
    banded = _cap_buckets(_minhash_banded(sh, num_hashes, bands), max_bucket_size)
    buckets = (
        banded.groupBy("band", "bucket")
        # collect_set, not collect_list: non-unique input ids would
        # otherwise inflate combination expansion with duplicate pairs
        .agg(F.collect_set("_id").alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    return bucket_pairs(buckets)


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment:
    ``|A ∩ B| / min(|A|, |B|)`` >= threshold — the relation symmetric
    Jaccard misses when one document embeds another (quote farms,
    aggregator pages, prompt+completion wrappers): a 100-gram doc fully
    contained in a 10000-gram doc has Jaccard ~0.01 but containment 1.0.

    Same inverted-index join shape as the exact-Jaccard truth path
    (explode per-doc distinct shingle hashes, equi-join on the hash,
    count shared grams per id pair) — work is output-bound: pairs
    sharing zero grams never materialize.  Output (id_a, id_b,
    containment) with id_a < id_b; containment is shared/min(sizes).

    100 TB note: the gram join is the cost; at web scale feed it the
    MinHash-banded candidate pairs and verify containment on those
    (this exact formulation is the fixture-scale truth/verification
    kernel, like the Jaccard twin).
    """
    sh = (
        shingle_hashes(df, text_col, id_col, shingle_n)
        .filter(F.size("_h") > 0)
        .persist()
    )
    sh.count()
    g = sh.select(
        "_id", F.size("_h").alias("_n"), F.explode("_h").alias("_g")
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a._g") == F.col("b._g"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("_i"),
            F.max("a._n").alias("_na"),
            F.max("b._n").alias("_nb"),
        )
        .withColumn(
            "containment",
            F.col("_i").cast("double") / F.least("_na", "_nb"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return pairs


def edit_distance_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    rel_threshold: float = 0.3,
) -> DataFrame:
    """Verify candidate near-duplicate pairs by Levenshtein edit
    distance: keep (id_a, id_b, edit_dist) where the distance is at most
    ``rel_threshold`` of the longer text.  The distance is JVM-side
    codegen (``F.levenshtein`` — no UDF); texts are joined onto the
    candidate pairs by id (two keyed shuffles), never all-pairs.

    Scale notes: Levenshtein is O(len_a * len_b) per pair — feed LSH or
    Jaccard CANDIDATES, never a cross join; for long documents verify a
    bounded prefix or chunk fingerprints instead.  Cross-engine caveat:
    Spark counts characters, DuckDB bytes — identical on ASCII corpora
    (the oracle-checked fixture is ASCII; non-ASCII corpora should
    treat the oracle as approximate at multi-byte positions).
    """
    t = df.select(F.col(id_col).alias("_eid"), F.col(text_col).alias("_et"))
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"))
    bound = F.greatest(F.length("_ta"), F.length("_tb")) * F.lit(
        rel_threshold
    )
    return (
        candidates.select("id_a", "id_b")
        .join(
            t.select(
                F.col("_eid").alias("id_a"), F.col("_et").alias("_ta")
            ),
            "id_a",
        )
        .join(
            t.select(
                F.col("_eid").alias("id_b"), F.col("_et").alias("_tb")
            ),
            "id_b",
        )
        .withColumn("edit_dist", dist.cast("bigint"))
        .filter(F.col("edit_dist") <= bound)
        .select("id_a", "id_b", "edit_dist")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (set semantics).
    Empty-vs-empty is 0.0, not 1.0: two documents with no shingles share
    no evidence of similarity, and 1.0 would mark all sub-shingle-length
    documents as duplicates of each other."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def jaccard_union_free(
    a: Column, b: Column, sa: Column, sb: Column
) -> Column:
    """``jaccard`` with the per-pair array_union pass replaced by set
    algebra: |A ∪ B| = |Aset| + |Bset| - |A ∩ B|, where ``sa``/``sb``
    are per-document DISTINCT set sizes (size(array_distinct(arr))) —
    computed once per document BEFORE the pair join instead of one
    hash-set pass + union-array materialization per candidate pair.

    BIT-identical to ``jaccard`` for ANY input arrays (no distinctness
    assumption): array_intersect/array_union already apply set
    semantics, so the identity holds over the distinct views; the
    union size is an exact small-integer value in double (≤ 2^31 ≪
    2^53), and the final division sees the same two doubles.  The
    zero-union branch fires exactly when sa + sb == inter == 0, i.e.
    the same empty-vs-empty case.  (The minhash shingle kernel hashes
    DISTINCT grams, but 32-bit crc32 can collide within one document —
    the distinct-size form stays exact even there, where raw size()
    would not.)"""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (sa + sb).cast("double") - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def _with_distinct_size(sh: DataFrame, out_col: str = "_s") -> DataFrame:
    """Hoist the per-doc distinct shingle-set size for
    :func:`jaccard_union_free` — one array_distinct pass per DOCUMENT,
    amortized over every candidate pair the doc appears in."""
    return sh.withColumn(out_col, F.size(F.array_distinct("_h")))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs with exact n-gram-Jaccard verification of LSH
    candidates: (id_a, id_b, jaccard).  Only candidate pairs are verified
    — the expensive exact comparison never runs on the full n^2 space.

    Verification compares shingle-HASH sets (64-bit xxhash) rather than
    shingle strings: identical Jaccard up to negligible 64-bit collision
    probability, much lighter to shuffle, and it reuses the one persisted
    shingle_hashes intermediate."""
    # Two jobs total for the whole operator (the r2 version ran four —
    # banding count, candidate checkpoint, verification checkpoint,
    # caller action — and the extra barriers dominated at bench scale):
    # job 1 materializes ONLY the shingle cache (the one subtree
    # referenced by three plan branches: banding + both verification
    # joins; a lazy persist would let those branches race the cache
    # fill and run the kernel up to 3x); job 2 pipelines banding ->
    # bucket grouping -> combination expansion -> distinct -> both
    # verification joins -> filter into the terminal checkpoint.  The
    # minhash kernel appears in exactly one branch (bucket_pairs
    # replaced the self-join), so it needs no cache at all.
    # r12: the distinct set size rides the cache (8 bytes/doc) so the
    # verify stage can run union-free — one array_distinct pass per
    # DOC at fill instead of one array_union pass per candidate PAIR.
    sh = _with_distinct_size(
        shingle_hashes(df, text_col, id_col, shingle_n)
    ).persist()
    sh.count()
    cands = _minhash_pairs_lazy(sh, num_hashes, bands, max_bucket_size)
    verified = (
        cands.join(sh.withColumnRenamed("_id", "id_a"), "id_a")
        .withColumnsRenamed({"_h": "_h_a", "_s": "_s_a"})
        .join(sh.withColumnRenamed("_id", "id_b"), "id_b")
        .withColumn(
            "jaccard",
            jaccard_union_free(
                F.col("_h_a"), F.col("_h"), F.col("_s_a"), F.col("_s")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        # verified pairs are the small end product; checkpointing them
        # lets the shingle cache be released inside this call instead of
        # leaking into the session (cache scope == operator scope)
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return verified


def minhash_dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    max_bucket_size: int | None = 10_000,
    corpus_hashes_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup for continual ingestion: verified
    near-duplicate pairs TOUCHING the new batch — new x corpus and
    new x new, never corpus x corpus.  Output (id_a, id_b, jaccard),
    id_a < id_b; equals ``minhash_dedup_pairs`` over (corpus ∪ new)
    restricted to pairs with at least one new member (property-tested).

    Scale shape — the point of the operator: a 100 TB corpus ingesting
    a 100 GB batch must not re-pair the old corpus against itself.
    Both sides are banded with the SAME fixed hash family (signatures
    are reproducible run-to-run, so the corpus side can be precomputed
    once and passed via ``corpus_hashes_df`` — the stored
    signature-table pattern); one combined shuffle groups each
    (band, bucket) into a new-ids set and an old-ids set, and a single
    codegen expression expands C(new, 2) combinations plus the
    new x old cross pairs in-bucket — buckets containing no new member
    produce NOTHING, so per-ingest work scales with the batch, not the
    corpus.  The same windowed ``max_bucket_size`` guard as
    ``_minhash_pairs_lazy`` drops degenerate mega-buckets before any
    set is collected.  Verification joins only candidate ids against
    the union shingle table.

    If an id appears on both sides (re-ingestion), its self-pair is
    dropped (least == greatest), matching the full-run semantics."""
    sh_new = shingle_hashes(new_df, text_col, id_col, shingle_n).persist()
    # a caller-provided signature table manages its own storage (it may
    # already be persisted, or be a plain parquet-backed table); only a
    # locally-computed corpus side gets operator-scoped caching
    own_old_cache = corpus_hashes_df is None
    sh_old = (
        shingle_hashes(corpus_df, text_col, id_col, shingle_n).persist()
        if own_old_cache
        else corpus_hashes_df
    )
    # one materialization per side: each shingle cache feeds banding AND
    # both verification joins (see minhash_dedup_pairs for the race a
    # lazy persist would open)
    sh_new.count()
    if own_old_cache:
        sh_old.count()
    banded = _minhash_banded(sh_new, num_hashes, bands).withColumn(
        "_new", F.lit(True)
    ).unionByName(
        _minhash_banded(sh_old, num_hashes, bands).withColumn(
            "_new", F.lit(False)
        )
    )
    banded = _cap_buckets(banded, max_bucket_size)
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(
            F.collect_set(
                F.when(F.col("_new"), F.col("_id"))
            ).alias("_new_ids"),
            F.collect_set(
                F.when(~F.col("_new"), F.col("_id"))
            ).alias("_old_ids"),
        )
        .filter(F.size("_new_ids") > 0)
        .filter(F.size("_new_ids") + F.size("_old_ids") > 1)
    )
    new_ids, old_ids = F.col("_new_ids"), F.col("_old_ids")
    cross = F.flatten(
        F.transform(
            new_ids,
            lambda x: F.transform(
                old_ids,
                lambda y: F.struct(
                    F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                ),
            ),
        )
    )
    cands = (
        grouped.select(
            F.explode(F.concat(_combo_expr(new_ids), cross)).alias("_p")
        )
        .select(F.col("_p.a").alias("id_a"), F.col("_p.b").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    # _s computed here, not on the persisted sides: corpus_hashes_df is
    # caller-schema (_id, _h).  One array_distinct pass per cached doc
    # row per join branch — still per-DOC, not per-pair.
    sh_all = _with_distinct_size(sh_new.unionByName(sh_old))
    verified = (
        cands.join(sh_all.withColumnRenamed("_id", "id_a"), "id_a")
        .withColumnsRenamed({"_h": "_h_a", "_s": "_s_a"})
        .join(sh_all.withColumnRenamed("_id", "id_b"), "id_b")
        .withColumn(
            "jaccard",
            jaccard_union_free(
                F.col("_h_a"), F.col("_h"), F.col("_s_a"), F.col("_s")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sh_new.unpersist()
    if own_old_cache:
        sh_old.unpersist()
    return verified


def corpus_overlap_estimate(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    rsd: float = 0.01,
) -> DataFrame:
    """Estimate |A ∩ B| of two corpora's distinct key sets WITHOUT a
    join: HLL sketches of A, B and A ∪ B combine by inclusion-exclusion
    (|A∩B| ≈ |A| + |B| - |A∪B|).  One aggregation pass per side plus one
    over the union — each is a partial+final codegen agg shuffling a few
    KB of sketch per task, so two 100 TB corpora can be compared for
    contamination without ever shuffling their keys.

    Output (single row): n_a_est, n_b_est, n_union_est, n_intersect_est
    (all bigint).  Error model: each HLL estimate carries relative
    standard deviation ``rsd``, so the intersection's ABSOLUTE error is
    ~rsd x (|A| + |B| + |A∪B|) — inclusion-exclusion amplifies error
    when the intersection is small relative to the union (the known
    limitation; for surgical set ops at scale use theta sketches, which
    intersect natively).  Callers should bound acceptance with that
    formula, not a flat percentage."""
    a = df_a.select(F.col(key_a).alias("_k"))
    b = df_b.select(F.col(key_b).alias("_k"))
    na = a.agg(F.approx_count_distinct("_k", rsd).alias("n_a_est"))
    nb = b.agg(F.approx_count_distinct("_k", rsd).alias("n_b_est"))
    nu = a.unionByName(b).agg(
        F.approx_count_distinct("_k", rsd).alias("n_union_est")
    )
    return (
        na.crossJoin(nb)
        .crossJoin(nu)
        .select(
            "n_a_est",
            "n_b_est",
            "n_union_est",
            (
                F.col("n_a_est") + F.col("n_b_est") - F.col("n_union_est")
            ).alias("n_intersect_est"),
        )
    )


def duplicate_clusters(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Connected components over duplicate pairs: (member_id, cluster_id)
    where cluster_id is the minimum id reachable through any chain of
    pairs — so transitive near-dup chains (a~b, b~c) collapse into one
    cluster even when (a,c) was never a candidate pair.

    Iterative min-label propagation on DataFrames: each round joins every
    member's current label against the edge list and keeps the smaller;
    converges in O(diameter) rounds (dup clusters are shallow — star-ish
    — so usually 2-3).  Each round is one shuffle join on id; the loop
    driver-side condition is a cheap count.  For web-scale graphs swap in
    large-star/small-star; for dedup clusters this is the right cost.
    """
    edges = pairs.select("id_a", "id_b").distinct().persist()
    # symmetric adjacency
    adj = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).persist()
    labels = (
        adj.select(F.col("id_a").alias("member_id"))
        .distinct()
        .withColumn("cluster_id", F.col("member_id"))
        # localCheckpoint: truncate the per-round lineage so Catalyst does
        # not re-analyze a plan that grows one join deeper per iteration
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        # neighbor's current label, per member
        neighbor_min = (
            adj.join(
                labels.withColumnRenamed("member_id", "id_b").withColumnRenamed(
                    "cluster_id", "nbr_label"
                ),
                "id_b",
            )
            .groupBy("id_a")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        updated = (
            labels.join(
                neighbor_min.withColumnRenamed("id_a", "member_id"),
                "member_id",
                "left",
            )
            .select(
                "member_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
            )
            # lazy: the changed-count below materializes the checkpoint
            # RDD inside its own job (r11 — one job per round, not two)
            .localCheckpoint(eager=False)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "member_id")
            .filter(F.col("u.cluster_id") != F.col("l.cluster_id"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"duplicate_clusters: iteration budget ({max_iterations}) "
            f"exhausted with {changed} labels still changing — clusters with "
            "graph diameter beyond the budget are returned split; raise "
            "max_iterations or switch to large-star/small-star",
            RuntimeWarning,
            stacklevel=2,
        )
    edges.unpersist()
    adj.unpersist()
    return labels


def _sym(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node links its strictly-larger neighbors to the
    minimum of its neighborhood (incl. itself)."""
    adj = _sym(edges)
    nbr_min = adj.groupBy("id_a").agg(F.min("id_b").alias("_mn"))
    return (
        adj.join(nbr_min, "id_a")
        .filter(F.col("id_b") > F.col("id_a"))
        .select(
            F.col("id_b").alias("id_a"),
            F.least("_mn", F.col("id_a")).alias("id_b"),
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient edges high→low; every node links its smaller
    neighbors (and itself) to the minimum of that neighborhood."""
    directed = edges.filter(F.col("id_a") != F.col("id_b")).select(
        F.greatest("id_a", "id_b").alias("_u"),
        F.least("id_a", "id_b").alias("_v"),
    )
    nbr_min = directed.groupBy("_u").agg(F.min("_v").alias("_mn"))
    return (
        directed.join(nbr_min, "_u")
        .filter(F.col("_v") != F.col("_mn"))
        .select(F.col("_v").alias("id_a"), F.col("_mn").alias("id_b"))
        .union(nbr_min.select(F.col("_u").alias("id_a"), F.col("_mn").alias("id_b")))
        .distinct()
    )


def duplicate_clusters_star(
    pairs: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same (member_id, cluster_id) contract as
    ``duplicate_clusters`` but converging in O(log n) rounds instead of
    O(diameter), the right choice for web-scale duplicate graphs where
    chains can be arbitrarily long.

    Each round is two shuffle-join passes over the (shrinking) edge list;
    convergence when the edge set reaches a fixed point (all stars).
    """
    # localCheckpoint (not persist): iterative plans otherwise grow one
    # star-expansion deeper per round and Catalyst re-analyzes the whole
    # lineage every iteration — O(rounds^2) planning time.  Checkpointing
    # truncates the plan to the materialized partitions each round.
    # LAZY + count (r11): every round already needs a count for the
    # convergence test, and counting a lazy local checkpoint
    # materializes its RDD as a side effect (the RDD closure is fixed
    # when the checkpoint is taken, so the count's column pruning
    # cannot reach below it) — one job per round instead of two
    # (barrier + count); measured 3.45 -> ~1.8 s for the CC stage of
    # pipeline_semdedup at sf0.1 (920 edges — the rounds are barrier-
    # latency-bound at fixture scale).
    edges = (
        pairs.select("id_a", "id_b")
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_count = edges.count()
    # members materializes lazily with the final label join — it reads
    # the (by then cached) initial edge RDD, never the live loop state.
    # NOTE (r12, ADVICE): correctness rests on prev_count's count()
    # having materialized the round-0 edge checkpoint blocks, and the
    # final join therefore READS ROUND-0 BLOCKS long after the loop has
    # moved on — localCheckpoint blocks are not fault-tolerant (no
    # lineage to recompute), so an executor loss mid-run fails the
    # final join with a truncated-lineage error rather than
    # recomputing.  Same failure envelope as every localCheckpoint in
    # the loop itself (losing any round's blocks kills the run);
    # cluster deployments that need mid-run executor-loss tolerance
    # should use reliable checkpoint() instead.
    members = _sym(edges).select(
        F.col("id_a").alias("member_id")
    ).distinct().localCheckpoint(eager=False)
    converged = False
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # cheap check first (the count doubles as the materialization
        # action); only when counts agree pay for the definitive
        # set-equality anti-join
        nxt_count = nxt.count()
        if nxt_count == prev_count:
            converged = (
                nxt.join(edges, ["id_a", "id_b"], "left_anti").limit(1).count()
                == 0
            )
        edges, prev_count = nxt, nxt_count
        if converged:
            break
    else:
        import warnings

        warnings.warn(
            f"duplicate_clusters_star: round budget ({max_rounds}) exhausted "
            "before the star fixed point — labels may be non-minimal",
            RuntimeWarning,
            stacklevel=2,
        )
    # fixed point is a forest of stars child→root; roots label themselves
    return members.join(
        edges.select(
            F.col("id_a").alias("member_id"), F.col("id_b").alias("_root")
        ),
        "member_id",
        "left",
    ).select(
        "member_id",
        F.coalesce("_root", F.col("member_id")).alias("cluster_id"),
    )


def token_chunks(col: Column, n: int = 4) -> Column:
    """Non-overlapping ``n``-token chunks of a text column ("paragraphs"
    for sources without structural markup), as array<string> in document
    order.  Codegen HOF — no UDF."""
    toks = tokens(col)
    return F.when(
        F.size(toks) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 1, F.lit(n)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def chunk_dedup(
    df: DataFrame, id_col: str, text_col: str, n: int = 4
) -> DataFrame:
    """Sub-document (chunk-level) exact dedup: split every document into
    non-overlapping ``n``-token chunks and keep only each chunk's first
    occurrence corpus-wide (first = smallest (doc id, position)).  The
    boilerplate/template-removal pass of a crawl pipeline — repeated
    headers, footers, license blocks collapse to one copy while unique
    prose survives.

    Returns (id, chunk_pos, chunk_sha) of the retained chunks.  One
    shuffle, keyed by chunk hash; the window per hash is bounded by the
    duplication factor, never by corpus size.

    Chunking runs as an Arrow-batched kernel (same semantics as the
    codegen ``token_chunks`` HOF, which Catalyst runs interpreted —
    the kernel is 3-5x faster and stays map-side).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def chunk_kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.strip().lower().split() if t else []
            out.append(
                [" ".join(toks[i : i + n]) for i in range(0, len(toks), n)]
            )
        return pd.Series(out)

    exploded = df.select(
        F.col(id_col),
        F.posexplode(chunk_kernel(F.col(text_col))).alias(
            "chunk_pos", "_chunk"
        ),
    ).withColumn("chunk_sha", F.sha2(F.col("_chunk"), 256))
    w = Window.partitionBy("chunk_sha").orderBy(F.col(id_col), F.col("chunk_pos"))
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "chunk_pos", "chunk_sha")
    )


def cdc_token_chunks(col: Column, divisor: int = 8) -> Column:
    """CONTENT-DEFINED chunks of a text column (the rsync/LBFS
    rolling-boundary technique, Muthitacharoen et al. SOSP'01, at
    token granularity): a token CLOSES its chunk iff its 48-bit md5
    bucket ≡ 0 (mod ``divisor``), so expected chunk length is
    ``divisor`` tokens and — unlike :func:`token_chunks`' fixed grid —
    an insertion or deletion only perturbs the chunk it lands in:
    every later boundary depends on token VALUES, not positions
    (property-tested in tests/test_dedup.py).  This is the
    shift-robust face of sub-document dedup: crawl re-scrapes that
    prepend a date line still collapse to the same template chunks.

    Pure JVM fold (F.aggregate with a (done, cur) struct accumulator)
    — map-only, no explode, no shuffle; same md5-slice construct as
    dsir.gram_bucket, so DuckDB replays it exactly via
    ``CAST(('0x' || substr(md5(tok),1,12)) AS BIGINT) % divisor``."""
    toks = tokens(col)

    def _closes(t: Column) -> Column:
        return (
            F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("bigint")
            % F.lit(divisor)
            == 0
        )

    acc0 = F.struct(
        F.array().cast("array<string>").alias("done"),
        F.lit("").alias("cur"),
    )

    def _step(acc, t):
        cur2 = F.when(acc["cur"] == "", t).otherwise(
            F.concat_ws(" ", acc["cur"], t)
        )
        b = _closes(t)
        return F.struct(
            F.when(b, F.array_append(acc["done"], cur2))
            .otherwise(acc["done"])
            .alias("done"),
            F.when(b, F.lit("")).otherwise(cur2).alias("cur"),
        )

    def _fin(acc):
        return F.when(acc["cur"] == "", acc["done"]).otherwise(
            F.array_append(acc["done"], acc["cur"])
        )

    return F.aggregate(toks, acc0, _step, _fin)


def cdc_chunk_dedup(
    df: DataFrame, id_col: str, text_col: str, divisor: int = 8
) -> DataFrame:
    """Sub-document exact dedup over CONTENT-DEFINED chunks: split via
    :func:`cdc_token_chunks` and keep each chunk's first occurrence
    corpus-wide (first = smallest (doc id, position)) — the
    :func:`chunk_dedup` contract on shift-robust boundaries.

    Returns (id, chunk_pos, chunk_sha).  One shuffle keyed by chunk
    hash; per-hash window bounded by the duplication factor."""
    exploded = df.select(
        F.col(id_col),
        F.posexplode(cdc_token_chunks(F.col(text_col), divisor)).alias(
            "chunk_pos", "_chunk"
        ),
    ).withColumn("chunk_sha", F.sha2(F.col("_chunk"), 256))
    w = Window.partitionBy("chunk_sha").orderBy(
        F.col(id_col), F.col("chunk_pos")
    )
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "chunk_pos", "chunk_sha")
    )


def cdc_chunk_dedup_incremental(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    corpus_chunks: DataFrame,
    divisor: int = 8,
) -> DataFrame:
    """Continual-ingestion face of :func:`cdc_chunk_dedup`: chunk a new
    batch content-defined and keep only chunks seen neither in the
    standing corpus chunk table (column ``chunk_sha``) nor earlier in
    the batch itself.  Survivor rows (id, chunk_pos, chunk_sha) append
    to the chunk table for the next ingest — the
    :func:`exact_dedup_incremental` loop at sub-document granularity,
    on boundaries that survive the edits between re-crawls.

    Scale shape: chunking + hashing are map-only over the BATCH; the
    within-batch window is keyed by chunk hash (group size = batch
    duplication factor); the corpus probe is a left-anti join against
    the chunk table (bucketable by chunk_sha so recurring ingests skip
    its shuffle).  The standing corpus is never re-chunked."""
    batch = new_df.select(
        F.col(id_col),
        F.posexplode(cdc_token_chunks(F.col(text_col), divisor)).alias(
            "chunk_pos", "_chunk"
        ),
    ).withColumn("chunk_sha", F.sha2(F.col("_chunk"), 256))
    w = Window.partitionBy("chunk_sha").orderBy(
        F.col(id_col), F.col("chunk_pos")
    )
    in_batch_first = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return in_batch_first.join(
        corpus_chunks.select("chunk_sha"), "chunk_sha", "left_anti"
    ).select(id_col, "chunk_pos", "chunk_sha")


def cdc_doc_novelty(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    corpus_chunks: DataFrame,
    divisor: int = 8,
) -> DataFrame:
    """Per-document NOVELTY at content-defined chunk granularity: for
    each ingest document, how many of its chunks exist nowhere in the
    standing corpus chunk table (column ``chunk_sha``) — the
    crawl-refresh quality signal built on the same rolling boundaries
    as :func:`cdc_chunk_dedup_incremental`.  An unchanged re-crawl
    scores 0 novel chunks; a template page with a fresh date line
    scores ~1 (the shift-robustness payoff: the edit perturbs only the
    chunk it lands in); genuinely new content scores ~n_chunks.
    Downstream selection thresholds n_novel/n_chunks to drop
    low-novelty re-crawls before they cost tokenization or storage.

    Each document is judged against the CORPUS only (batch-internal
    duplication does not couple documents, so the scores are
    embarrassingly parallel); repeated chunks within one document
    count per occurrence.  Documents with no chunks (empty text) emit
    no row.  Exact integer counts, so the full output oracles
    cross-engine.

    Scale shape: chunking + hashing are map-only over the BATCH; the
    membership probe is one left join against the chunk table
    (bucketable by chunk_sha, same as the incremental face); one
    groupBy on the doc id.  The standing corpus is never re-chunked.

    Output: (id, n_chunks, n_novel)."""
    batch = new_df.select(
        F.col(id_col),
        F.explode(cdc_token_chunks(F.col(text_col), divisor)).alias(
            "_chunk"
        ),
    ).withColumn("chunk_sha", F.sha2(F.col("_chunk"), 256))
    seen = corpus_chunks.select("chunk_sha").distinct().withColumn(
        "_seen", F.lit(1)
    )
    return (
        batch.join(seen, "chunk_sha", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(F.col("_seen").isNull(), 1)).alias("n_novel"),
        )
    )


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Drop the higher-id member of every duplicate pair (a cheap,
    deterministic stand-in for connected components: transitive chains
    collapse to the smallest id reachable via repeated pruning of pair
    losers — exact for clusters discovered as pairs against their min)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _simhash_udf():
    """Arrow-batched 64-bit SimHash from raw text: blake2b-8 token
    hashes, unpackbits -> per-bit +/-1 votes -> sign -> packed int64.
    (The Catalyst-HOF formulation — 64 shift/test branches folded per
    token — costs ~10s of compile and runs interpreted; this kernel is a
    couple of numpy passes per document.)  Deterministic everywhere."""
    import hashlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def sim(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.lower().split() if t else []
            if not toks:
                out.append(0)
                continue
            hb = np.frombuffer(
                b"".join(
                    hashlib.blake2b(w.encode("utf-8"), digest_size=8).digest()
                    for w in toks
                ),
                dtype=np.uint8,
            ).reshape(len(toks), 8)
            bits = np.unpackbits(hb, axis=1)  # (n_tokens, 64) of 0/1
            votes = (2 * bits.astype(np.int32) - 1).sum(axis=0)
            sig_bits = (votes > 0).astype(np.uint8)
            sig = int.from_bytes(np.packbits(sig_bits).tobytes(), "big")
            out.append(sig - (1 << 64) if sig >= 1 << 63 else sig)
        return pd.Series(out, dtype="int64")

    return sim


def simhash64(token_col: Column) -> Column:
    """64-bit SimHash of a pre-tokenized array column — Catalyst-HOF
    variant kept for expression-level composition; prefer the Arrow
    kernel path (simhash_dedup_pairs) in data-sized jobs."""
    hashes = F.transform(token_col, lambda t: F.xxhash64(t))
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("int"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                    for i in range(64)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.element_at(bit_votes, i + 1) > 0,
                F.lit(1 << i if i < 63 else -(1 << 63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    return sig


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit longs: popcount via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_md5_udf():
    """Arrow-batched PORTABLE 63-bit SimHash — every ingredient has an
    exact ANSI-SQL/DuckDB mirror, so the whole near-dup pair set is
    cross-engine hash-checkable (the winnowing ``md5_64`` idiom, applied
    to SimHash):

    - tokens: lower → trim spaces → split on the RE2 ASCII ``\\s`` class
      ``[\\t\\n\\f\\r ]+`` (``string_split_regex(trim(lower(text)),
      '\\s+')`` in DuckDB, empty edge tokens kept) — NOT Python
      ``str.split()``;
    - token hash: lower 64 bits of MD5 (last 8 digest bytes,
      little-endian — DuckDB's ``md5_number_lower``) reduced mod 2^63;
    - signature: 63 bit-majority votes over the token multiset (ties →
      0, bit 63 always 0, so the value is a non-negative BIGINT on both
      engines).

    Multiplicity counts (a repeated token votes repeatedly), exactly as
    a SQL ``unnest`` + ``GROUP BY doc, bit`` recomputation does."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    _split = re.compile(r"[\t\n\f\r ]+").split

    @pandas_udf(LongType())
    def sim(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = _split(t.lower().strip(" ")) if t else []
            if toks == [""]:
                toks = []
            if not toks:
                out.append(0)
                continue
            hs = np.array(
                [
                    int.from_bytes(
                        hashlib.md5(w.encode("utf-8")).digest()[8:], "little"
                    )
                    % (1 << 63)
                    for w in toks
                ],
                dtype=np.uint64,
            )
            bits = (
                (hs[:, None] >> np.arange(63, dtype=np.uint64)) & 1
            ).astype(np.int32)  # (n_tokens, 63); bit i == (h >> i) & 1
            votes = (2 * bits - 1).sum(axis=0)
            out.append(sum(1 << i for i in range(63) if votes[i] > 0))
        return pd.Series(out, dtype="int64")

    return sim


def _simhash_band_geometry(max_distance: int, bands: int) -> tuple[int, int]:
    """Validate the band geometry shared by every 64-bit banded-hamming
    operator; returns (width, mask)."""
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    if max_distance > bands - 1:
        raise ValueError(
            f"pigeonhole banding with {bands} bands only guarantees "
            f"candidates up to hamming {bands - 1}; got max_distance="
            f"{max_distance}"
        )
    width = 64 // bands
    # bands=1 -> width=64 -> the full mask (2^64 - 1) does not fit a
    # Spark LONG literal; its two's-complement value -1 is the same bit
    # pattern, and bitwiseAND semantics only care about bits
    mask = -1 if width == 64 else (1 << width) - 1
    return width, mask


def _simhash_chunked(
    sigs: DataFrame, bands: int, width: int, mask: int
) -> DataFrame:
    """Explode a ``(_id, _sim)`` signature table into band chunks
    ``(_id, _sim, chunk, val)`` — the candidate-generation key space."""
    return sigs.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("_sim"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select("_id", "_sim", "c.chunk", "c.val")


def simhash_pairs_from_sigs(
    sigs: DataFrame, max_distance: int = 3, bands: int = 4
) -> DataFrame:
    """Banded near-dup pair generation + exact verification over a
    precomputed signature table ``(_id, _sim)`` — the shared back half of
    ``simhash_dedup_pairs`` / ``simhash_dedup_pairs_portable``, and the
    entry point when signatures are persisted corpus state (continual
    ingestion re-banding without re-hashing).  See
    ``simhash_dedup_pairs`` for the pigeonhole guarantee and the scale
    envelope of the band geometry."""
    width, mask = _simhash_band_geometry(max_distance, bands)
    chunked = _simhash_chunked(sigs, bands, width, mask)
    # Persist before the self-join: exchange reuse does not fire across
    # self-join sides of Python-kernel subtrees (fresh expr ids from
    # self-join dedup break canonical equality), so without the cache
    # the SimHash kernel would run 2-4x.  Scoped release below.
    chunked = chunked.persist()
    chunked.count()
    l, r = chunked.alias("l"), chunked.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.val") == F.col("r.val"),
                F.col("l._id") < F.col("r._id"),
            ],
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming64(F.col("l._sim"), F.col("r._sim")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_distance)
        # small end product: checkpoint eagerly so the signature cache is
        # released inside this call (cache scope == operator scope)
        .localCheckpoint(eager=True)
    )
    chunked.unpersist()
    return pairs


def simhash_pairs_incremental(
    batch_sigs: DataFrame,
    corpus_sigs: DataFrame,
    max_distance: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Incremental banded-hamming near-dup pairs for continual
    ingestion: pairs TOUCHING the new batch — batch × corpus and
    batch × batch, never corpus × corpus.  The signature-level analogue
    of ``minhash_dedup_incremental`` and the standing-state face of
    every 64-bit perceptual hash here (text SimHash, image dHash, audio
    spectral, video frame-majority): corpus signatures are 8 bytes per
    item of persisted state, re-banded per ingest without re-hashing
    any payload.

    Contract: equals ``simhash_pairs_from_sigs`` over
    (corpus ∪ batch) restricted to pairs with at least one batch member
    (property-tested), including the pigeonhole completeness guarantee
    (hamming ≤ bands-1 candidates are never missed).  A signature
    re-ingested under the same id drops its self-pair (id equality),
    matching the full-run semantics.

    Scale shape: only the BATCH side drives the band join — the left
    side is batch chunks, the right side is (corpus ∪ batch) chunks, so
    corpus buckets containing no batch member produce nothing and
    per-ingest work scales with the batch, not the standing corpus.
    Output (id_a, id_b, hamming), id_a < id_b."""
    width, mask = _simhash_band_geometry(max_distance, bands)
    cb = _simhash_chunked(batch_sigs, bands, width, mask).persist()
    cc = _simhash_chunked(corpus_sigs, bands, width, mask).persist()
    # one materialization per side: batch chunks feed the join's left
    # side AND the union's right side (the self-join double-execution
    # hazard for Python-kernel signature sources — see PLANS.md)
    cb.count()
    cc.count()
    right = cb.unionByName(cc)
    pairs = (
        cb.alias("l")
        .join(
            right.alias("r"),
            on=[
                F.col("l.chunk") == F.col("r.chunk"),
                F.col("l.val") == F.col("r.val"),
                F.col("l._id") != F.col("r._id"),
            ],
        )
        .select(
            F.least(F.col("l._id"), F.col("r._id")).alias("id_a"),
            F.greatest(F.col("l._id"), F.col("r._id")).alias("id_b"),
            hamming64(F.col("l._sim"), F.col("r._sim")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_distance)
        .localCheckpoint(eager=True)
    )
    cb.unpersist()
    cc.unpersist()
    return pairs


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into
    ``bands`` equal chunks (pigeonhole: any pair within hamming distance
    ``bands - 1`` shares at least one chunk — candidate generation is
    therefore COMPLETE, not probabilistic, for ``max_distance <= bands -
    1``), equi-join on chunks, verify exact hamming distance.
    Output: (id_a, id_b, hamming).

    Scale envelope: bucket space is ``bands x 2^(64/bands)``.  The
    default 4x16-bit banding has ~262k buckets — fine to ~10^7 docs, but
    bucket occupancy (and the quadratic in-bucket join) grows linearly
    beyond that.  At web scale pick FEWER, WIDER bands (e.g. ``bands=2``
    → 2x2^32 buckets) and accept the tighter ``max_distance <= 1``
    guarantee, or move to a 128-bit signature for both reach and
    pruning."""
    sigs = _spread(df).select(
        F.col(id_col).alias("_id"),
        _simhash_udf()(F.col(text_col)).alias("_sim"),
    )
    return simhash_pairs_from_sigs(sigs, max_distance, bands)


def simhash_dedup_pairs_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 3,
    bands: int = 4,
) -> DataFrame:
    """``simhash_dedup_pairs`` on the PORTABLE md5 63-bit signature
    (``_simhash_md5_udf``): identical banding pipeline, but every pair
    row — ids, exact hamming distance — is reproducible in pure SQL, so
    a DuckDB oracle can recompute the signature table and the brute-force
    ``hamming <= d`` pair set and certify the banded pipeline's output
    BIT-EXACTLY (candidate completeness is the pigeonhole guarantee, so
    banded == brute-force, not approximately but equal).  Docs that
    tokenize empty all share signature 0 — callers mirroring the SQL
    oracle should pre-filter blank docs identically on both sides."""
    return simhash_pairs_from_sigs(
        simhash_signatures_portable(df, text_col, id_col),
        max_distance,
        bands,
    )


def simhash_signatures_portable(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Portable md5 63-bit SimHash signature table ``(_id, _sim)`` —
    the persistable standing state behind the portable pair pipeline
    and its incremental face (``simhash_pairs_incremental``); every
    value recomputable in pure SQL."""
    return _spread(df).select(
        F.col(id_col).alias("_id"),
        _simhash_md5_udf()(F.col(text_col)).alias("_sim"),
    )


# --------------------------------------------------------------------------
# portable MinHash (full-value cross-engine oracle twin)
# --------------------------------------------------------------------------

MINHASH_PORTABLE_HASHES = 16
MINHASH_PORTABLE_BANDS = 8  # 8 bands x 2 rows


def _minhash_md5_udf(num_hashes: int, bands: int):
    """Arrow-batched PORTABLE MinHash — every ingredient has an exact
    ANSI-SQL/DuckDB mirror (the ``_simhash_md5_udf`` discipline applied
    to MinHash), so the ENTIRE near-dup pipeline — signatures, banding,
    candidate set, exact Jaccard — is cross-engine hash-checkable:

    - tokens: the shared tokenizer contract (lower → trim spaces →
      split on the RE2 ASCII ``\\s`` class, empty edge tokens kept);
    - grams: DISTINCT word 3-grams joined by one space;
    - gram hash: lower 64 bits of MD5 (DuckDB ``md5_number_lower``)
      reduced mod M31 = 2^31-1, hash set DEDUPLICATED (mod-M31
      collisions collapse identically on both engines);
    - minima: h_i(x) = (a_i*x + b_i) mod M31 over the seeded
      ``_affine_params`` family — a,x < 2^31 so a*x+b < 2^62 is exact
      int64 on both engines;
    - band buckets: ``bands`` buckets of r = num_hashes/bands = 2
      minima folded as m_even * M31_PRIME + m_odd < 2^62 — exact int64,
      collision-free (base-M31 positional encoding), no FNV fold (its
      uint64 wrap has no portable SQL face).

    Returns struct(h: array<long> sorted distinct gram hashes,
    bands: array<long> bucket values); docs with < 3 tokens get h = []
    and bands = NULL (excluded from banding AND verification — no
    shingle evidence, the ``_minhash_banded`` sentinel rationale).

    Input contract: text may be NULL/empty (maps to no grams); the
    kernel never np.stacks raw input."""
    import hashlib
    import re

    from pyspark.sql.functions import pandas_udf

    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    if r != 2:
        raise ValueError(
            "the portable band fold encodes exactly 2 minima per bucket "
            f"(m_even * M31 + m_odd < 2^62); got rows-per-band {r}"
        )
    params = _affine_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    _split = re.compile(r"[\t\n\f\r ]+").split

    @pandas_udf("h array<long>, bands array<long>")
    def mh(texts: pd.Series) -> pd.DataFrame:
        hs_out, bd_out = [], []
        for t in texts:
            toks = _split(t.lower().strip(" ")) if t else []
            if toks == [""]:
                toks = []
            if len(toks) < 3:
                hs_out.append([])
                bd_out.append(None)
                continue
            grams = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
            hs = sorted(
                {
                    int.from_bytes(
                        hashlib.md5(g.encode("utf-8")).digest()[8:],
                        "little",
                    )
                    % MERSENNE_31
                    for g in grams
                }
            )
            H = np.array(hs, dtype=np.int64)[None, :]
            sig = ((A * H + B) % MERSENNE_31).min(axis=1)  # (num_hashes,)
            buckets = sig[0::2] * MERSENNE_31 + sig[1::2]
            hs_out.append(hs)
            bd_out.append(buckets.tolist())
        return pd.DataFrame({"h": hs_out, "bands": bd_out})

    return mh


def minhash_dedup_pairs_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """``minhash_dedup_pairs`` under a FULL-VALUE cross-engine check
    (the ``ann_lsh_portable`` / ``simhash_dedup_pairs_portable``
    discipline applied to MinHash-LSH): the portable md5/affine
    signature family (see :func:`_minhash_md5_udf`) is recomputable in
    pure SQL, so a DuckDB oracle replays signatures, banding, the
    candidate set AND the exact hash-set Jaccard — every (id_a, id_b,
    jaccard) row must match bit-exactly.  That is a stronger statement
    than the recall contract (``dedup_minhash_recall``): it certifies
    signature parity and the banded plan's candidate set in one driver
    hash.

    Geometry: 16 hashes in 8 bands of 2 (P[candidate] = 1-(1-s²)⁸ ≈
    0.90 at s = 0.5) — ample for the oracle contract since BOTH
    engines band identically; the production face with tuned recall
    and the mega-bucket cap is ``minhash_dedup_pairs`` (the cap is
    deliberately absent here: its window-rank tie-breaks are
    plan-order-dependent, which would poison a bit-exact contract).

    Plan shape: one Arrow kernel map-side (signatures + buckets in the
    same pass as the gram-hash sets), one bucket-keyed shuffle into
    the in-bucket combination expansion (``bucket_pairs`` — no
    self-join, no second kernel run), two id-keyed joins for the exact
    Jaccard verification.  Output: (id_a, id_b, jaccard >= threshold).
    """
    st = _spread(df).select(
        F.col(id_col).alias("_id"),
        _minhash_md5_udf(
            MINHASH_PORTABLE_HASHES, MINHASH_PORTABLE_BANDS
        )(F.col(text_col)).alias("_s"),
    ).select(
        "_id",
        F.col("_s.h").alias("_h"),
        F.col("_s.bands").alias("_b"),
    )
    # persist: the kernel output feeds banding AND both verification
    # joins (three plan branches — the minhash_dedup_pairs discipline)
    sh = st.filter(F.size("_h") > 0).persist()
    sh.count()
    banded = sh.select(
        "_id", F.posexplode("_b").alias("band", "bucket")
    )
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_set("_id").alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    cands = bucket_pairs(buckets)
    shs = _with_distinct_size(sh)  # per-doc pass over the cached rows
    verified = (
        cands.join(
            shs.select(
                F.col("_id").alias("id_a"),
                F.col("_h").alias("_ha"),
                F.col("_s").alias("_sa"),
            ),
            "id_a",
        )
        .join(
            shs.select(
                F.col("_id").alias("id_b"),
                F.col("_h").alias("_hb"),
                F.col("_s").alias("_sb"),
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            jaccard_union_free(
                F.col("_ha"), F.col("_hb"), F.col("_sa"), F.col("_sb")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return verified


def minhash_dedup_incremental_portable(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental face of :func:`minhash_dedup_pairs_portable` —
    verified near-dup pairs TOUCHING the new batch under the portable
    md5/affine signature family, so the ENTIRE incremental run is
    full-value oracle-checkable: the DuckDB replay is the full-run
    portable SQL restricted to batch-touching pairs, and equality
    certifies in one hash that (a) the signatures/banding/Jaccard
    match and (b) the batch-driven plan misses NO pair the full run
    would find (the incremental == full-restricted law, here as a
    cross-engine differential instead of a property test).

    Scale shape (the ``simhash_pairs_incremental`` pattern): only the
    BATCH side drives the band join — left side is batch buckets,
    right side is (corpus ∪ batch) buckets — so corpus buckets with no
    batch member produce nothing and per-ingest work scales with the
    batch.

    Re-ingest semantics (LATEST WINS): an id present on BOTH sides is
    scored with its BATCH signature only — verification dedupes the
    signature table to one row per id, batch side preferred, so a
    changed document never emits two conflicting jaccard rows for the
    same pair.  Its similarity to its own previous version is out of
    scope by construction (the old version is superseded, and the
    id-inequality join drops the self-pair); stale-version band
    buckets may still PROPOSE candidates, which then verify against
    the new signature — a recall bonus, never a correctness leak.
    Output (id_a, id_b, jaccard), id_a < id_b."""
    mh = _minhash_md5_udf(MINHASH_PORTABLE_HASHES, MINHASH_PORTABLE_BANDS)

    def side(df: DataFrame) -> DataFrame:
        st = _spread(df).select(
            F.col(id_col).alias("_id"), mh(F.col(text_col)).alias("_s")
        ).select(
            "_id",
            F.col("_s.h").alias("_h"),
            F.col("_s.bands").alias("_b"),
        )
        return st.filter(F.size("_h") > 0)

    sn = side(new_df).persist()
    sc = side(corpus_df).persist()
    sn.count()
    sc.count()
    bn = sn.select("_id", F.posexplode("_b").alias("band", "bucket"))
    bc = sc.select("_id", F.posexplode("_b").alias("band", "bucket"))
    right = bn.unionByName(bc)
    cands = (
        bn.alias("l")
        .join(
            right.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l._id") != F.col("r._id"),
            ],
        )
        .select(
            F.least(F.col("l._id"), F.col("r._id")).alias("id_a"),
            F.greatest(F.col("l._id"), F.col("r._id")).alias("id_b"),
        )
        .distinct()
    )
    # one signature per id, batch side preferred (latest wins): a
    # re-ingested id whose text changed would otherwise carry two
    # (_id, _h) rows and emit every touching pair twice with
    # conflicting jaccard values.  The reduction is a groupBy-max
    # (arrays order lexicographically), not distinct(): distinct()
    # keeps BOTH rows when the same id appears twice WITHIN one side
    # with different text (duplicate ids inside one batch, or a
    # corpus built without this guarantee) — max picks one
    # deterministically there too.
    one_per_id = lambda s: s.groupBy("_id").agg(F.max("_h").alias("_h"))
    union_h = one_per_id(sn).unionByName(
        one_per_id(sc).join(
            sn.select("_id").distinct(), "_id", "left_anti"
        )
    )
    union_hs = _with_distinct_size(union_h)
    verified = (
        cands.join(
            union_hs.select(
                F.col("_id").alias("id_a"),
                F.col("_h").alias("_ha"),
                F.col("_s").alias("_sa"),
            ),
            "id_a",
        )
        .join(
            union_hs.select(
                F.col("_id").alias("id_b"),
                F.col("_h").alias("_hb"),
                F.col("_s").alias("_sb"),
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            jaccard_union_free(
                F.col("_ha"), F.col("_hb"), F.col("_sa"), F.col("_sb")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    sn.unpersist()
    sc.unpersist()
    return verified


# --------------------------------------------------------------------------
# embedding near-dup
# --------------------------------------------------------------------------

def embedding_neardup_pairs_portable(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold_num: int = 2,
    threshold_den: int = 5,
    bits: int = 32,
    bands: int = 4,
    seed: int = 29,
    scale_bits: int = 10,
) -> DataFrame:
    """Embedding-cosine near-dup pairs in EXACT INTEGER arithmetic end
    to end — the full-value-oracle twin of
    :func:`embedding_neardup_pairs` (whose Gaussian float LSH + float
    cosine ride the emb_neardup recall contract).  The last dedup
    family without a bit-exact cross-engine face gets one:

    - components quantize via ``similarity.quantize_int_vec``
      (floor(v * 2^scale_bits));
    - candidates share >= 1 sign-LSH band over the seeded INTEGER
      hyperplanes of ``similarity.int_lsh_planes`` (the
      lsh_portable_topk signature — same sub-quadratic equi-join);
    - verification is the cosine threshold as a PURE INTEGER
      predicate: for t = num/den >= 0,
      ``cos(a,b) >= t  <=>  dot >= 0  AND  den^2*dot^2 >=
      num^2*|a|^2*|b|^2`` — no division, no sqrt (sqrt is
      libm-dependent and would break the cross-engine replay), every
      term an exact int64 under the documented envelope (dim * 2^2s *
      max|v|^2 per norm; den^2*dot^2 needs |dot| < 2^31/den * ...,
      generous at the defaults for unit-scale embeddings).

    Semantics note: the threshold applies to the cosine of the
    QUANTIZED vectors — a fixed, documented transform of the input
    (floor at 2^-10 resolution), self-consistently replayed by the
    oracle; boundary pairs within quantization noise of t may differ
    from the float face, which keeps its own recall contract.

    Output: (id_a, id_b, qdot) with id_a < id_b — integer columns
    only, so the driver hash is engine-exact."""
    from subgraph_extractor_spark.operators.similarity import (
        int_lsh_planes,
        quantize_int_vec,
    )

    if threshold_num < 0 or threshold_den <= 0:
        raise ValueError("threshold must be a non-negative rational")
    planes = int_lsh_planes(64, bits, seed)
    rows = bits // bands
    if rows * bands != bits:
        raise ValueError("bits must divide evenly into bands")
    planes_t = np.array(planes, dtype=np.int64).T  # (dim, bits)
    pack = (1 << np.arange(rows)).astype(np.int64)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def band_sig(qvs: pd.Series) -> pd.Series:
        if len(qvs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(
            qvs.map(lambda v: np.asarray(v, dtype=np.int64)).to_numpy()
        )
        signs = (M @ planes_t >= 0).astype(np.int64)
        return pd.Series(list(signs.reshape(len(M), bands, rows) @ pack))

    par = df.sparkSession.sparkContext.defaultParallelism
    q = (
        df.filter(F.col(vec_col).isNotNull())
        .repartition(par)
        .select(
            F.col(id_col).alias("_id"),
            quantize_int_vec(F.col(vec_col), scale_bits).alias("_qv"),
        )
        .withColumn(
            "_n2",
            F.aggregate(
                F.zip_with("_qv", "_qv", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        # zero-quantized vectors have undefined cosine AND an all-ones
        # sign-band signature (every plane dot is 0 >= 0), so without
        # this filter they'd all bucket together and the verification
        # predicate degenerates to 0 >= 0 — drop them before banding
        .filter(F.col("_n2") > 0)
        .withColumn("_sig", band_sig(F.col("_qv")))
        .persist()
    )
    q.count()  # one materialization: banding + both verification joins
    sig = q.select("_id", F.posexplode("_sig").alias("band", "val"))
    l, r = sig.alias("l"), sig.alias("r")
    cands = (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.val") == F.col("r.val"),
                F.col("l._id") < F.col("r._id"),
            ],
        )
        .select(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
        )
        .distinct()
    )
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    verified = (
        cands.join(
            q.select(
                F.col("_id").alias("id_a"),
                F.col("_qv").alias("_qa"),
                F.col("_n2").alias("_na2"),
            ),
            "id_a",
        )
        .join(
            q.select(
                F.col("_id").alias("id_b"),
                F.col("_qv").alias("_qb"),
                F.col("_n2").alias("_nb2"),
            ),
            "id_b",
        )
        .withColumn(
            "qdot",
            F.aggregate(
                F.zip_with("_qa", "_qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .filter(
            (F.col("qdot") >= 0)
            & (
                F.lit(den2) * F.col("qdot") * F.col("qdot")
                >= F.lit(num2) * F.col("_na2") * F.col("_nb2")
            )
        )
        .select("id_a", "id_b", "qdot")
        .localCheckpoint(eager=True)
    )
    q.unpersist()
    return verified

def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_shards: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column.  Candidate
    generation delegates to operators.similarity (sign-LSH buckets);
    verification groups candidate ids per (query, candidate-shard) and
    scores them against the shard's corpus slice in a cogrouped
    applyInPandas — vectors are never joined onto the candidate-pair
    table (1 GB shuffled per million pairs) and never collected to the
    driver.  Output: (id_a, id_b, cosine) with id_a < id_b."""
    from subgraph_extractor_spark.operators.similarity import (
        _flat_candidate_sims,
        _n_shards,
        _shard_of,
        lsh_bucketed_pairs,
    )

    # Shard-count trade-off: each probed shard costs one query-vector
    # copy, so fewer shards = less duplication, more = smaller corpus
    # slices per task.  cores/4 bounds duplication while keeping
    # verification parallel; at 100 TB size shards to ~256 MB of vectors.
    S = n_shards or max(
        4, df.sparkSession.sparkContext.defaultParallelism // 4
    )
    cands = lsh_bucketed_pairs(df, vec_col, id_col)
    grouped = (
        cands.select(
            "id_a", "id_b", _shard_of(F.col("id_b"), S).alias("_shard")
        )
        .groupBy("id_a", "_shard")
        .agg(F.collect_list("id_b").alias("_cands"))
        .join(
            df.select(
                F.col(id_col).alias("id_a"), F.col(vec_col).alias("_qv")
            ),
            "id_a",
        )
    )
    corpus = df.select(
        _shard_of(F.col(id_col), S).alias("_shard"),
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
    )
    id_type = dict(df.dtypes)[id_col]

    def shard_cosines(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        qpdf = qpdf.rename(columns={"id_a": "_qid"})
        qids, c_flat, sims, row_idx = _flat_candidate_sims(qpdf, cpdf)
        keep = sims >= threshold
        return pd.DataFrame(
            {
                "id_a": qids[row_idx[keep]],
                "id_b": c_flat[keep],
                "cosine": sims[keep],
            }
        )

    return (
        grouped.groupby("_shard")
        .cogroup(corpus.groupby("_shard"))
        .applyInPandas(
            shard_cosines,
            schema=f"id_a {id_type}, id_b {id_type}, cosine double",
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (the
    AllPairs/PPJoin candidate generation, Bayardo et al. WWW'07; Xiao
    et al.) — every pair of documents with shingle-set Jaccard >=
    ``threshold``, with NO probabilistic misses.  The deterministic
    complement to MinHash-LSH: LSH trades recall for speed and needs a
    verification pass anyway; prefix filtering is *complete by
    pigeonhole* — under one global token order, two sets with
    J >= t MUST share a token inside both their first
    ``|X| - ceil(t*|X|) + 1`` tokens (if the smallest common token sat
    outside A's prefix, all >= ceil(t*|A|) shared tokens would have to
    fit in A's last ceil(t*|A|) - 1 positions).

    Candidate generation is an ordinary EQUI-join on the prefix
    tokens — never an all-pairs product (the all-pairs theta-join
    measured 1041 s vs ~2 s for gram-equi-join shapes at sf0.1, see
    ``q_dedup_ngram_jaccard``).  The global order is (document
    frequency ASC, gram ASC) — prefixes hold each document's RAREST
    grams, so join buckets are the corpus's small ones by
    construction (the frequency-ordering insight that makes AllPairs
    work; residual skew is plain equi-join skew, AQE-splittable).
    Candidates additionally pass the length filter
    ``t * |B| <= |A|`` (J >= t bounds the size ratio) before
    verification.

    Verification is exact Jaccard over the FULL shingle sets (an id
    equi-join back to the set table — sets never ride the exploded
    prefix rows), so the output is exact: (id_a, id_b, jaccard) with
    id_a < id_b, jaccard one IEEE division of exact integers
    (bit-portable; full-value oracle-checkable against a brute-force
    replay).

    Scale shape: one groupBy for gram frequencies, one shuffle keyed
    gram for candidates (prefix rows only — each doc ships
    ~(1 - t) * |set| rows), one distinct over candidate pairs, two id
    equi-joins + a map-only verify.  At 100 TB this is the exact-
    answer path when the threshold is high (short prefixes); at low
    thresholds prefixes approach full sets and MinHash-LSH's
    candidates-only economics win — the two compose (LSH first,
    prefix-filter the survivors' clusters for certified completeness).
    """
    from pyspark.sql import Window

    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    sets = df.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    sets = sets.withColumn("_s", F.size("_sh")).persist()
    ex = sets.select("_id", "_s", F.explode("_sh").alias("_g"))
    freq = ex.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    # prefix length L = s - ceil(t*s) + 1 under the (df asc, gram asc)
    # total order; positions ride along for the positional filter
    w = Window.partitionBy("_id").orderBy(
        F.col("_df").asc(), F.col("_g").asc()
    )
    prefix = (
        ex.join(freq, "_g")
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            F.col("_rn")
            <= F.col("_s") - F.ceil(F.col("_s") * F.lit(threshold)) + 1
        )
        .select("_id", "_s", "_g", "_rn")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # candidate dedup is a groupBy that ALSO recovers each pair's
    # first-common-gram positions for the PPJoin positional filter
    # (r12, guide §3: prune the big side before the expensive step).
    # For any pair with J >= t the SMALLEST shared gram under the
    # global order lies inside BOTH prefixes (the pigeonhole argument
    # that makes prefix filtering complete), and it simultaneously has
    # the min position on each side — so min(_rn) per side IS the
    # first common gram, and Xiao et al.'s positional bound
    #   overlap <= 1 + min(|A| - pA, |B| - pB)
    # is valid for every pair the filter may keep; pairs it prunes
    # cannot reach J >= t (bound monotone, tested in the SAME double
    # arithmetic as the final jaccard filter, so the comparison can
    # never prune a pair the verify would keep).  Measured at sf0.1
    # (scripts/prefix_jaccard_probe_r12.py, kept in git history):
    # 181 937 -> 111 409 candidate pairs ahead of the verify joins.
    cands = (
        a.join(
            b,
            on=[
                F.col("a._g") == F.col("b._g"),
                F.col("a._id") < F.col("b._id"),
                # length filter: J >= t forces t*|B| <= |A| <= |B|/t
                F.col("b._s") * F.lit(threshold) <= F.col("a._s"),
                F.col("a._s") * F.lit(threshold) <= F.col("b._s"),
            ],
        )
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            F.col("a._s").alias("_sa"), F.col("b._s").alias("_sb"),
            F.col("a._rn").alias("_pa"), F.col("b._rn").alias("_pb"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("_pa").alias("_pa"),
            F.min("_pb").alias("_pb"),
            F.max("_sa").alias("_sa"),
            F.max("_sb").alias("_sb"),
        )
        .filter(
            (
                1
                + F.least(
                    F.col("_sa") - F.col("_pa"), F.col("_sb") - F.col("_pb")
                )
            ).cast("double")
            / (
                F.col("_sa")
                + F.col("_sb")
                - 1
                - F.least(
                    F.col("_sa") - F.col("_pa"), F.col("_sb") - F.col("_pb")
                )
            )
            >= F.lit(threshold)
        )
        .select("id_a", "id_b", "_sa", "_sb")
    )
    sa = sets.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    # union-free verification (r12): the shingle arrays are distinct
    # by construction, so |A ∪ B| = |A| + |B| - |A ∩ B| and the
    # per-pair array_union hash-set pass (the same cost as the
    # intersect, measured ~half the verify phase) is pure arithmetic.
    # Same integers, same double division -> bit-identical jaccard.
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.col("_sa") + F.col("_sb") - inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def _hash_order_prefix(grams: Column, threshold: float) -> Column:
    """The first ``s - ceil(t*s) + 1`` grams under the FROZEN md5 total
    order ((md5(gram), gram) struct sort — corpus-independent, so a
    standing corpus's prefixes never drift as ingestion changes gram
    frequencies).  Map-only: one struct sort per row, no corpus
    statistics."""
    s = F.size(grams)
    L = s - F.ceil(s * F.lit(threshold)) + 1
    ordered = F.array_sort(
        F.transform(
            grams, lambda g: F.struct(F.md5(g).alias("h"), g.alias("g"))
        )
    )
    return F.transform(F.slice(ordered, 1, L), lambda x: x["g"])


def prefix_filter_pairs_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental EXACT Jaccard-threshold pairs for continual
    ingestion: every pair with J >= ``threshold`` TOUCHING the new
    batch — batch × corpus and batch × batch, never corpus × corpus —
    with :func:`prefix_filter_pairs`'s no-miss guarantee intact.

    The one thing the incremental face must change: the full-run
    operator orders grams by CORPUS document frequency (optimal bucket
    sizes), but that order drifts as ingestion updates frequencies —
    and the prefix pigeonhole lemma requires both sides' prefixes
    under the SAME total order.  So this face freezes the order to
    (md5(gram), gram): corpus-independent, valid forever, computable
    map-only per row (prefix filtering is complete under ANY fixed
    total order; frequency-ordering only optimizes bucket sizes).
    The OUTPUT is order-independent either way — both operators emit
    the exact verified pair set, so incremental == full-run-
    restricted-to-batch-touching-pairs (property-tested).

    Scale shape: only the BATCH side drives the prefix equi-join (the
    right side is corpus ∪ batch, so corpus buckets without a batch
    member produce nothing — the ``simhash_pairs_incremental``
    asymmetry); per-ingest work scales with the batch.  Corpus state
    is the (id, text) table itself; its prefixes recompute map-only
    (no shuffle touches the standing side before the join).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")

    def prep(df: DataFrame, is_batch: bool) -> DataFrame:
        sets = df.select(
            F.col(id_col).alias("_id"),
            word_shingles(F.col(text_col), shingle_n).alias("_sh"),
        ).filter(F.size("_sh") > 0)
        return sets.select(
            "_id",
            "_sh",
            F.size("_sh").alias("_s"),
            F.lit(is_batch).alias("_is_batch"),
        )

    bsets = prep(batch, True)
    csets = prep(corpus, False)
    union = bsets.unionByName(csets)
    explode_prefix = lambda sets: sets.select(
        "_id",
        "_s",
        "_is_batch",
        F.explode(_hash_order_prefix(F.col("_sh"), threshold)).alias("_g"),
    )
    l = explode_prefix(bsets).alias("l")
    r = explode_prefix(union).alias("r")
    cands = (
        l.join(
            r,
            on=[
                F.col("l._g") == F.col("r._g"),
                F.col("l._id") != F.col("r._id"),
                F.col("r._s") * F.lit(threshold) <= F.col("l._s"),
                F.col("l._s") * F.lit(threshold) <= F.col("r._s"),
            ],
        )
        .select(
            F.least(F.col("l._id"), F.col("r._id")).alias("id_a"),
            F.greatest(F.col("l._id"), F.col("r._id")).alias("id_b"),
        )
        .distinct()
    )
    # union-free verify (r12, same as the full-run face): word_shingles
    # arrays are distinct by construction, so the carried raw _s IS the
    # distinct set size jaccard_union_free needs.
    sa = union.select(
        F.col("_id").alias("id_a"),
        F.col("_sh").alias("_sha"),
        F.col("_s").alias("_sa"),
    )
    sb = union.select(
        F.col("_id").alias("id_b"),
        F.col("_sh").alias("_shb"),
        F.col("_s").alias("_sb"),
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_union_free(
                F.col("_sha"), F.col("_shb"), F.col("_sa"), F.col("_sb")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
