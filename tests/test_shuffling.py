"""Deterministic shuffle-shard: permutation properties, seed/epoch
independence, partitioning invariance, and the write path."""

import os

import pytest
from pyspark.sql import functions as F

from subgraph_extractor_spark.operators.shuffling import (
    deterministic_shuffle,
    write_training_shards,
)
from subgraph_extractor_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")


def _key(rows):
    return sorted((r["shard"], r["pos"], r["doc_id"]) for r in rows)


def test_is_permutation(spark, docs):
    out = deterministic_shuffle(docs, "doc_id", 8, "ep0")
    rows = out.collect()
    assert len(rows) == docs.count()
    # every (shard, pos) unique; pos dense 1..n per shard
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert 0 <= shard < 8
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # original columns intact
    assert set(out.columns) == {"doc_id", "n_chars", "shard", "pos"}


def test_reproducible_and_partitioning_invariant(spark, docs):
    a = _key(deterministic_shuffle(docs, "doc_id", 8, "ep0").collect())
    b = _key(
        deterministic_shuffle(docs.repartition(13), "doc_id", 8, "ep0").collect()
    )
    assert a == b


def test_epochs_differ(spark, docs):
    a = _key(deterministic_shuffle(docs, "doc_id", 8, "ep0").collect())
    b = _key(deterministic_shuffle(docs, "doc_id", 8, "ep1").collect())
    assert a != b
    # but both are permutations of the same ids
    assert sorted(x[2] for x in a) == sorted(x[2] for x in b)


def test_shards_roughly_balanced(spark, docs):
    n = docs.count()
    out = deterministic_shuffle(docs, "doc_id", 4, "ep0")
    sizes = [
        r["c"] for r in out.groupBy("shard").agg(F.count("*").alias("c")).collect()
    ]
    assert len(sizes) == 4
    assert max(sizes) < 2 * n / 4  # md5 uniformity at fixture scale


def test_num_shards_validation(spark, docs):
    with pytest.raises(ValueError):
        deterministic_shuffle(docs, "doc_id", 0)


def test_write_training_shards_roundtrip(spark, docs, tmp_path):
    path = os.path.join(str(tmp_path), "shards")
    write_training_shards(docs, path, "doc_id", 4, "ep0")
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert {r["shard"] for r in back.select("shard").distinct().collect()} == {
        0, 1, 2, 3,
    }
    # read-back content matches the in-memory shuffle assignment
    mem = _key(deterministic_shuffle(docs, "doc_id", 4, "ep0").collect())
    assert _key(back.collect()) == mem


def test_append_to_shards_continues_positions(spark, docs):
    from subgraph_extractor_spark.operators.shuffling import (
        append_to_shards,
        shard_counts,
    )

    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    standing = deterministic_shuffle(old, "doc_id", 4, "ep0")
    counts = shard_counts(standing)
    appended = append_to_shards(new, counts, "doc_id", 4, "ep0")

    base = {r["shard"]: r["n_rows"] for r in counts.collect()}
    by_shard_old = {}
    for r in standing.collect():
        by_shard_old.setdefault(r["shard"], []).append(r["pos"])
    by_shard_new = {}
    for r in appended.collect():
        by_shard_new.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard_new.items():
        start = base.get(shard, 0)
        # appended positions are dense and start right after standing
        assert sorted(poss) == list(range(start + 1, start + 1 + len(poss)))
        # no collision with standing positions
        assert not set(poss) & set(by_shard_old.get(shard, []))
        # standing + appended is dense 1..n across the whole corpus
        union = sorted(poss + by_shard_old.get(shard, []))
        assert union == list(range(1, len(union) + 1)), shard
    # same hash rule: a doc lands in the same shard either way
    full = deterministic_shuffle(docs, "doc_id", 4, "ep0")
    shard_of = {r["doc_id"]: r["shard"] for r in full.collect()}
    for r in appended.collect():
        assert shard_of[r["doc_id"]] == r["shard"]
    # idempotent re-run
    again = append_to_shards(new, counts, "doc_id", 4, "ep0")
    assert sorted((r["shard"], r["pos"], r["doc_id"]) for r in again.collect()) \
        == sorted((r["shard"], r["pos"], r["doc_id"]) for r in appended.collect())


def test_negative_samples_deterministic_and_well_formed(spark, docs):
    """Each anchor gets <= k negatives (slots drop only on the ~1/N
    self-collision), never itself, byte-deterministic across runs and
    partitionings, and a different seed redraws."""
    from subgraph_extractor_spark.operators import shuffling as sh

    d = docs.select("doc_id")
    sharded = sh.deterministic_shuffle(d, "doc_id", 8, seed="ep0")
    out = sh.negative_samples(sharded, "doc_id", k=4, num_shards=8)
    rows = [(r["anchor_id"], r["j"], r["neg_id"]) for r in out.collect()]
    n_anchors = d.count()
    assert len(rows) >= 4 * n_anchors - 5  # at most a few self-drops
    assert all(a != n for a, _, n in rows)
    by_anchor = {}
    for a, j, n in rows:
        by_anchor.setdefault(a, set()).add(j)
    assert all(js <= {1, 2, 3, 4} for js in by_anchor.values())
    # determinism across a different input partitioning
    again = {
        (r["anchor_id"], r["j"], r["neg_id"])
        for r in sh.negative_samples(
            sh.deterministic_shuffle(d.repartition(13), "doc_id", 8, seed="ep0"),
            "doc_id", k=4, num_shards=8,
        ).collect()
    }
    assert again == set(rows)
    # a new seed is a genuinely different draw
    reseeded = {
        (r["anchor_id"], r["j"], r["neg_id"])
        for r in sh.negative_samples(
            sharded, "doc_id", k=4, num_shards=8, seed="neg1"
        ).collect()
    }
    assert reseeded != set(rows)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sh.negative_samples(sharded, "doc_id", k=0, num_shards=8)
