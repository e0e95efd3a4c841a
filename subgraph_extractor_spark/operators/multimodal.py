"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata struct;
decode / feature-extraction runs as Arrow-batched pandas over
``mapInPandas``, which is exactly how a 100 TB media pipeline should be
shaped on Spark: bytes never pass through the driver, each task decodes
its own Arrow batches, and the output schema is declared up front so
Catalyst can prune/push around the opaque stage.

Library-backed decoders (PIL/ffmpeg/librosa) are NOT in this container;
the default kernel behind ``set_decoder`` computes deterministic digest
features so arbitrary media batches always flow.  For images there IS a
real in-repo kernel: ``operators.imagecodec`` decodes/encodes PPM (P6)
and 24-bit BMP with numpy alone — register ``imagecodec.
image_feature_decoder`` / ``imagecodec.image_resizer`` and the decode /
resize path runs end-to-end on real pixel data (tested).  The Spark-side
plumbing — schema, batching, partitioning, UDF signature — is identical
either way.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode(payload: bytes, kind: str) -> list[float]:
    """STUB decoder: deterministic 8-dim 'feature' from the sha256 digest.
    Replace via set_decoder() with a real image/audio/video kernel —
    the surrounding Spark plumbing is unchanged."""
    digest = hashlib.sha256(payload or b"").digest()
    return [b / 255.0 for b in digest[:8]]


_DECODER: Callable[[bytes, str], list[float]] = _fake_decode


def set_decoder(fn: Callable[[bytes, str], list[float]]) -> None:
    global _DECODER
    _DECODER = fn


def extract_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Media DataFrame (MEDIA_SCHEMA) -> per-item feature rows
    (FEATURE_SCHEMA) via mapInPandas.  Arrow streams batches into Python;
    each batch is decoded row-wise inside the worker (the real decoder
    would typically be vectorized C under the hood)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    "feature": [
                        _DECODER(None if p is None else bytes(p), k)
                        for p, k in zip(pdf["payload"], pdf["kind"])
                    ],
                }
            )

    return media.mapInPandas(decode_batches, schema=FEATURE_SCHEMA)


# payload-level resize kernel: (payload, mime, width, height) -> payload.
# None by default — no imaging libs (PIL/opencv) ship in this container, so
# the stage refuses to plan rather than failing mid-job (honest stub).
_RESIZER: Callable[[bytes, str, int, int], bytes] | None = None


def set_resizer(fn: Callable[[bytes, str, int, int], bytes] | None) -> None:
    """Install the real image-resize kernel (e.g. a PIL thumbnail fn).
    Mirrors set_decoder: the Spark plumbing below is real and tested; only
    the pixel math is pluggable."""
    global _RESIZER
    _RESIZER = fn


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Schema-preserving image resize stage: image rows get resized
    payloads + updated meta dims, non-image rows pass through unchanged.
    Requires a resizer kernel via ``set_resizer`` — e.g. the in-repo
    ``imagecodec.image_resizer`` (PPM/BMP, numpy-only) or any PIL-backed
    fn — and raises at PLAN time, not mid-job, when absent."""
    if _RESIZER is None:
        raise NotImplementedError(
            "image resize requires an imaging kernel (e.g. PIL); install "
            "one and register it with set_resizer()"
        )
    resizer = _RESIZER

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            is_img = out["kind"] == "image"
            out.loc[is_img, "payload"] = [
                resizer(
                    None if p is None else bytes(p),
                    (m or {}).get("mime"),
                    width,
                    height,
                )
                for p, m in zip(
                    out.loc[is_img, "payload"], out.loc[is_img, "meta"]
                )
            ]
            out.loc[is_img, "meta"] = [
                {**(m or {}), "width": width, "height": height}
                for m in out.loc[is_img, "meta"]
            ]
            yield out

    return media.mapInPandas(resize_batches, schema=media.schema)


def sample_video_frames(media: DataFrame, every_ms: int) -> DataFrame:
    """Frame-sampling stage returning one row per sampled frame.  The
    frame timestamps are computed Spark-side from meta.duration_ms
    (real); frame decode is the stubbed kernel."""
    frames = media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ms"),
        "payload",
    )
    return frames


def synthetic_media(spark, n: int = 64, seed: int = 5) -> DataFrame:
    """Deterministic fake media table exercising the full schema."""
    import random

    rng = random.Random(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(16, 256)))
        rows.append(
            (
                i,
                kind,
                payload,
                (
                    f"{kind}/x-test",
                    rng.randint(8, 64) if kind == "image" else None,
                    rng.randint(8, 64) if kind == "image" else None,
                    rng.randint(1000, 60000) if kind != "image" else None,
                ),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def extract_video_frames(media: DataFrame, every_ms: int) -> DataFrame:
    """REAL frame extraction for concatenated-P6 'videos' (see
    imagecodec.encode_ppm_video): sample timestamps are computed
    Spark-side from meta.duration_ms, the frame INDEX is
    floor(frame_ms * n_frames / duration_ms), and the kernel slices the
    exact frame's PPM bytes out of the payload — each output row is a
    decodable image (kind='image') ready for resize_images /
    extract_features.

    Mixed batches never fail: payloads that are not clean P6 streams
    yield frame_idx = -1 with a NULL frame payload (the documented
    digest-fallback contract of the image kernels).  Bytes stay
    executor-side; one payload is split once per sampled row's batch
    (frames of one video land in one task via the preceding explode).
    """
    sampled = media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ms"),
        F.col("meta.duration_ms").alias("_dur"),
        "payload",
    )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_ms", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from subgraph_extractor_spark.operators.imagecodec import (
            split_ppm_video,
        )

        for pdf in batches:
            cache: dict[int, list | None] = {}
            idxs, frames = [], []
            for mid, ms, dur, payload in zip(
                pdf["media_id"], pdf["frame_ms"], pdf["_dur"], pdf["payload"]
            ):
                if mid not in cache:
                    try:
                        cache[mid] = split_ppm_video(bytes(payload))
                    except (ValueError, IndexError):
                        cache[mid] = None
                fl = cache[mid]
                if fl is None or not dur or dur <= 0:
                    idxs.append(-1)
                    frames.append(None)
                    continue
                k = min(int(ms) * len(fl) // int(dur), len(fl) - 1)
                idxs.append(k)
                frames.append(fl[k])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_ms": pdf["frame_ms"],
                    "frame_idx": idxs,
                    "payload": frames,
                }
            )

    return sampled.mapInPandas(extract_batches, schema=out_schema)


def synthetic_ppm_videos(spark, n: int = 8, seed: int = 11) -> DataFrame:
    """Deterministic REAL videos: n concatenated-P6 clips with varying
    frame counts/sizes and duration metadata."""
    import random

    import numpy as np

    from subgraph_extractor_spark.operators.imagecodec import (
        encode_ppm_video,
    )

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        nf = rng.randint(2, 6)
        w, h = rng.randint(4, 8), rng.randint(4, 8)
        frames = [
            (np.full((h, w, 3), (i * 37 + f * 11) % 256, dtype=np.uint8))
            for f in range(nf)
        ]
        rows.append(
            (
                i,
                "video",
                encode_ppm_video(frames),
                ("video/x-ppm-stream", w, h, nf * 1000),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _perceptual_signatures(
    media: DataFrame, kind: str, hash_fn
) -> DataFrame:
    """Shared signature plumbing for every perceptual-media hash:
    ``(_id, _sim)`` for the rows of one ``kind`` via one Arrow-batched
    mapInPandas pass; payload bytes never leave the executor.  Rows of
    other kinds and undecodable payloads drop out (NULL signature)
    rather than failing the task — the media family's mixed-batch
    contract.  ``hash_fn(payload_bytes) -> int | None`` runs
    executor-side per row."""
    sig_schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("_sim", T.LongType()),
        ]
    )

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sel = pdf[pdf["kind"] == kind]
            yield pd.DataFrame(
                {
                    "_id": sel["media_id"],
                    # dtype=object, NOT list inference: a batch mixing a
                    # valid signature with one undecodable row (None)
                    # would otherwise infer float64 and silently ROUND
                    # every 64-bit signature in the batch to 53-bit
                    # mantissa precision (caught by the since-removed
                    # streaming-sink test; the fixture queries dodged it
                    # only because one-row-per-partition batches never
                    # mixed junk with valid rows)
                    "_sim": pd.Series(
                        [
                            hash_fn(None if p is None else bytes(p))
                            for p in sel["payload"]
                        ],
                        dtype=object,
                        index=sel.index,
                    ),
                }
            )

    return (
        media.mapInPandas(hash_batches, schema=sig_schema)
        .filter(F.col("_sim").isNotNull())
    )


def image_dhash_signatures(media: DataFrame) -> DataFrame:
    """Perceptual signature table ``(_id, _sim)`` for the image rows of a
    media DataFrame: 64-bit dHash (imagecodec.dhash64 — integer luma,
    9×8 resample, gradient signs).  See :func:`_perceptual_signatures`
    for the shared batch/NULL contract."""
    from subgraph_extractor_spark.operators.imagecodec import image_dhash

    return _perceptual_signatures(media, "image", image_dhash)


def audio_spectral_signatures(media: DataFrame) -> DataFrame:
    """Perceptual signature table for the audio rows: 64-bit spectral
    difference hash (audiocodec.spectral_hash64 — 9 time segments × 8
    Nyquist-fraction bands, time-gradient sign bits; gain- and
    channel-layout-invariant).  Same contract as the image face."""
    from subgraph_extractor_spark.operators.audiocodec import (
        audio_spectral_hash,
    )

    return _perceptual_signatures(media, "audio", audio_spectral_hash)


def video_dhash_signatures(media: DataFrame) -> DataFrame:
    """Perceptual signature table for the video rows: per-frame dHash
    aggregated by bitwise majority vote
    (imagecodec.video_majority_dhash) — frame-rate- and frame-order-
    invariant, robust to dropped/inserted frames.  Same contract as
    the image face."""
    from subgraph_extractor_spark.operators.imagecodec import (
        video_majority_dhash,
    )

    return _perceptual_signatures(media, "video", video_majority_dhash)


def image_near_dup_pairs(
    media: DataFrame, max_distance: int = 3, bands: int = 4
) -> DataFrame:
    """Perceptual image near-dup pairs — the image face of SimHash
    dedup, composed from the existing machinery: dHash signatures feed
    ``dedup.simhash_pairs_from_sigs`` (pigeonhole banding on the
    64-bit signature + exact hamming verification), so the pair
    generation inherits that operator's completeness guarantee
    (hamming ≤ bands-1) and scale shape (band equi-join, never
    all-pairs).  Transitive clusters / survivor selection compose
    downstream exactly as for text (``dedup.duplicate_clusters``,
    ``semdedup``)."""
    from subgraph_extractor_spark.operators import dedup as _dedup

    return _dedup.simhash_pairs_from_sigs(
        image_dhash_signatures(media),
        max_distance=max_distance,
        bands=bands,
    )


def audio_near_dup_pairs(
    media: DataFrame, max_distance: int = 3, bands: int = 4
) -> DataFrame:
    """Perceptual audio near-dup pairs — gain rips, channel-layout
    changes, and dither-level re-encodes of the same recording.  The
    audio face of the same composition as :func:`image_near_dup_pairs`:
    spectral signatures feed ``dedup.simhash_pairs_from_sigs`` and
    inherit its pigeonhole completeness (hamming ≤ bands-1) and band
    equi-join scale shape; clusters/survivors compose downstream
    unchanged."""
    from subgraph_extractor_spark.operators import dedup as _dedup

    return _dedup.simhash_pairs_from_sigs(
        audio_spectral_signatures(media),
        max_distance=max_distance,
        bands=bands,
    )


def video_near_dup_pairs(
    media: DataFrame, max_distance: int = 3, bands: int = 4
) -> DataFrame:
    """Perceptual video near-dup pairs — frame-rate doubles, re-encodes,
    and dropped-frame variants of the same content.  The video face of
    the same composition; see :func:`image_near_dup_pairs`."""
    from subgraph_extractor_spark.operators import dedup as _dedup

    return _dedup.simhash_pairs_from_sigs(
        video_dhash_signatures(media),
        max_distance=max_distance,
        bands=bands,
    )


def audio_window_signatures(
    media: DataFrame, win_s: float = 1.0, hop_s: float = 0.5
) -> DataFrame:
    """Sliding-window sub-hash table ``(_id, _widx, _h)`` for the audio
    rows — the excerpt-detection signature state (see
    audiocodec.audio_window_hashes for the alignment contract and
    silence suppression).  One Arrow-batched mapInPandas pass; payload
    bytes never leave the executor; junk rows contribute nothing."""
    from subgraph_extractor_spark.operators.audiocodec import (
        audio_window_hashes,
    )

    sig_schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("_widx", T.IntegerType()),
            T.StructField("_h", T.LongType()),
        ]
    )

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sel = pdf[pdf["kind"] == "audio"]
            ids, widxs, hs = [], [], []
            for mid, p in zip(sel["media_id"], sel["payload"]):
                wh = audio_window_hashes(
                    None if p is None else bytes(p), win_s, hop_s
                )
                for widx, h in wh or []:
                    ids.append(mid)
                    widxs.append(widx)
                    hs.append(h)
            yield pd.DataFrame({"_id": ids, "_widx": widxs, "_h": hs})

    return media.mapInPandas(hash_batches, schema=sig_schema)


def audio_excerpt_matches(
    media: DataFrame,
    win_s: float = 1.0,
    hop_s: float = 0.5,
    min_containment: float = 0.8,
) -> DataFrame:
    """Clip-inside-recording detection: pairs (id_a, id_b) where the
    smaller side's distinct window hashes are ≥ ``min_containment``
    contained in the other's — the audio analogue of the text
    containment operator, same inverted-index shape: distinct (id,
    hash) sets equi-join on the hash (work bounded by genuinely shared
    windows; silence suppression killed the degenerate bucket), one
    pair aggregation, denominators broadcast back by id.

    Output: (id_a, id_b, matched, n_a, n_b, containment) with id_a <
    id_b and containment = matched / least(n_a, n_b) — an excerpt cut
    at a hop-aligned offset from its source scores 1.0 even after a
    gain rip."""
    return _hash_set_containment(
        audio_window_signatures(media, win_s, hop_s), min_containment
    )


def _hash_set_containment(
    sigs: DataFrame, min_containment: float
) -> DataFrame:
    """Shared back half of every sub-hash containment operator: given a
    signature table with ``_id`` and ``_h`` columns, pair ids whose
    smaller distinct-hash set is ≥ ``min_containment`` contained in the
    other's.  Inverted-index equi-join on the hash (work bounded by
    genuinely shared content), one pair aggregation, denominators
    joined back by id."""
    # distinct hash sets per item: POSITION does not matter for
    # containment, and repeated content inside one item must not
    # inflate the match count
    dsig = sigs.select("_id", "_h").distinct()
    # persist: both the self-join sides and the count aggregate below
    # re-read this Python-kernel subtree (same double-execution hazard
    # as every signature self-join here — see PLANS.md)
    dsig = dsig.persist()
    dsig.count()
    counts = dsig.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a, b = dsig.alias("a"), dsig.alias("b")
    matched = (
        a.join(
            b,
            on=[
                F.col("a._h") == F.col("b._h"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("matched"))
    )
    out = (
        matched.join(
            counts.select(
                F.col("_id").alias("id_a"), F.col("_n").alias("n_a")
            ),
            "id_a",
        )
        .join(
            counts.select(
                F.col("_id").alias("id_b"), F.col("_n").alias("n_b")
            ),
            "id_b",
        )
        .withColumn(
            "containment",
            F.col("matched").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .filter(F.col("containment") >= min_containment)
        .select("id_a", "id_b", "matched", "n_a", "n_b", "containment")
        .localCheckpoint(eager=True)
    )
    dsig.unpersist()
    return out


def video_frame_signatures(media: DataFrame) -> DataFrame:
    """Per-FRAME signature table ``(_id, _widx, _h)`` for the video
    rows: dHash of every frame of the PPM stream (one Arrow-batched
    mapInPandas pass; payload bytes never leave the executor).  The
    frame-level state behind :func:`video_frame_containment` — and
    reusable as persisted corpus state for continual re-probing, like
    the text passage gram tables."""
    from subgraph_extractor_spark.operators.imagecodec import (
        decode_ppm,
        dhash64,
        split_ppm_video,
    )

    sig_schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("_widx", T.IntegerType()),
            T.StructField("_h", T.LongType()),
        ]
    )

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sel = pdf[pdf["kind"] == "video"]
            ids, widxs, hs = [], [], []
            for mid, p in zip(sel["media_id"], sel["payload"]):
                if p is None:
                    continue
                try:
                    frames = split_ppm_video(bytes(p))
                except ValueError:
                    continue
                for widx, fr in enumerate(frames):
                    try:
                        h = dhash64(decode_ppm(fr))
                    except ValueError:
                        continue
                    ids.append(mid)
                    widxs.append(widx)
                    hs.append(h)
            yield pd.DataFrame({"_id": ids, "_widx": widxs, "_h": hs})

    return media.mapInPandas(hash_batches, schema=sig_schema)


def video_frame_containment(
    media: DataFrame, min_containment: float = 0.8
) -> DataFrame:
    """Clip-inside-video detection by FRAME-SET containment: pairs
    where the smaller side's distinct frame dHashes are ≥
    ``min_containment`` contained in the other's — catches trims,
    frame-rate downsamples (a 2x-decimated video's frame set is a
    subset of its source's), and re-encoded excerpts, none of which the
    whole-video majority signature (:func:`video_dhash_signatures`)
    treats as near-identical.  Same inverted-index containment shape as
    :func:`audio_excerpt_matches` (shared ``_hash_set_containment``).
    Output: (id_a, id_b, matched, n_a, n_b, containment)."""
    return _hash_set_containment(
        video_frame_signatures(media), min_containment
    )
