"""Continuous multimodal near-dup detection over a media stream.

The streaming face of the Hamming fingerprint engine
(:func:`..operators.dedup.incremental_hamming_pairs`): each micro-batch
of media decodes and fingerprints ONLY itself, equi-joins the persisted
band index of everything ingested before it, and emits the near-dup
pairs its arrival created — bytes are decoded exactly once, the corpus
is never re-hashed, and verification is INDEX-LOCAL (the index carries
the 64-bit fingerprint, so no byte store is needed at all — lighter
than text dedup, whose verification joins documents back in).

State is two parquet tables, both partitioned by ``batch_id`` and
maintained with dynamic partition overwrites (the rollup recipe →
streaming checkpoint + idempotent rewrites = exactly-once):

* ``index_path`` — (doc_id, fp, band, chunk, scheme): the pigeonhole
  band index (:func:`..operators.dedup.hamming_band_rows`), one
  partition appended per epoch; max_hamming+1 rows per media item.
  ``scheme`` stamps the band shape: an epoch at another
  ``max_hamming`` — or an index written before the stamp existed —
  fails loudly before any of the epoch's partitions are written;
* ``pairs_path`` — (id_a, id_b, hamming) per batch: the incremental
  output; the union of all batch partitions equals a full-corpus
  :func:`..operators.dedup.hamming_pairs` run (operator-level equality
  pinned in tests — the banding is exact AND deterministic, so
  candidate generation splits cleanly into new-new + new-old).

Every epoch is the shared banded-index epoch of streaming/dedupe.py
(:func:`.dedupe._band_epoch`), and every stream its wiring.

Replay safety: a replayed epoch recomputes against the same prior index
(its own stale index rows are excluded — new fingerprints win) and
overwrites its own partitions with identical content; cross-epoch
re-ingestion takes the latest epoch's fingerprint per id
(:func:`.dedupe._latest_rows`).

At 100 TB of media this is the only sane shape: decode cost is paid
once per byte at ingest, the hot state is 8-byte fingerprints (the
bytes themselves never enter a join), and per-refresh work is
O(batch + matched buckets), never O(corpus).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _hamming_pairs_from_bands, hamming_band_rows
from ..operators.multimodal import image_ahash
from .dedupe import _band_epoch, _start_epoch_stream


def process_image_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    pairs_path: str,
    id_col: str = "media_id",
    binary_col: str = "data",
    pixels_fn: Callable[[bytes, str], Any] | None = None,
    max_hamming: int = 5,
) -> None:
    """One epoch: decode + aHash this batch, emit the pairs its arrival
    creates (vs itself and vs the persisted index), extend the index.
    Exposed separately from the stream wiring so tests can drive and
    replay epochs deterministically. The pinned batch is the
    fingerprints: in-batch pairing, the index join, the id set and the
    index write all read it, so the Arrow decode runs once per byte."""
    _band_epoch(
        spark,
        image_ahash(batch, id_col, binary_col, pixels_fn=pixels_fn).filter(
            F.col("ahash").isNotNull()
        ),
        epoch_id,
        "doc_id",
        index_path,
        pairs_path,
        band=lambda fp: hamming_band_rows(
            fp, "media_id", "ahash", max_hamming
        ),
        pairs=lambda fp, rows, index: _hamming_pairs_from_bands(
            rows, index, max_hamming
        ),
    )


def start_image_dedup_stream(
    media_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
    id_col: str = "media_id",
    binary_col: str = "data",
    pixels_fn: Callable[[bytes, str], Any] | None = None,
    max_hamming: int = 5,
    query_name: str = "continuous_image_dedup",
):
    """Start continuous image near-dup; returns the StreamingQuery."""
    spark = media_stream.sparkSession
    return _start_epoch_stream(
        media_stream,
        lambda batch, epoch_id: process_image_batch(
            spark, batch, epoch_id, index_path, pairs_path, id_col,
            binary_col, pixels_fn, max_hamming,
        ),
        checkpoint_path,
        query_name,
    )


def read_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All pairs emitted so far (union of batch partitions)."""
    return spark.read.parquet(pairs_path).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# Continuous VIDEO dedup: frame sampling -> per-frame aHash -> frame-vote
# pairs vs the persisted frame band index
# ---------------------------------------------------------------------------


def process_video_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    counts_path: str,
    pairs_path: str,
    id_col: str = "media_id",
    binary_col: str = "data",
    every_ms: int = 1000,
    frame_pixels_fn: Callable[[bytes, int], Any] | None = None,
    max_hamming: int = 5,
    min_match_frac: float = 0.5,
) -> None:
    """One epoch of continuous video near-dup: sample + hash THIS
    batch's frames (real mvhd duration parse drives the grid), vote
    against the persisted frame band index, emit the pairs this batch's
    arrival created, extend the index and the per-video frame-count
    table. Verification is index-local (hash + timestamp ride the
    index); the video bytes never enter any state table."""
    from ..operators.multimodal import (
        _frame_counts,
        _video_pairs_from_bands,
        video_frame_band_rows,
        video_frame_hashes,
    )

    _band_epoch(
        spark,
        video_frame_hashes(
            batch, id_col, binary_col, every_ms, frame_pixels_fn
        ).filter(F.col("ahash").isNotNull()),
        epoch_id,
        "media_id",
        index_path,
        pairs_path,
        band=lambda frames: video_frame_band_rows(frames, max_hamming),
        pairs=lambda frames, rows, index, counts: _video_pairs_from_bands(
            rows, index, _frame_counts(frames), counts, max_hamming,
            min_match_frac,
        ),
        stores=[(counts_path, _frame_counts)],
    )


def start_video_dedup_stream(
    media_stream: DataFrame,
    index_path: str,
    counts_path: str,
    pairs_path: str,
    checkpoint_path: str,
    id_col: str = "media_id",
    binary_col: str = "data",
    every_ms: int = 1000,
    frame_pixels_fn: Callable[[bytes, int], Any] | None = None,
    max_hamming: int = 5,
    min_match_frac: float = 0.5,
    query_name: str = "continuous_video_dedup",
):
    """Start continuous video near-dup; returns the StreamingQuery."""
    spark = media_stream.sparkSession
    return _start_epoch_stream(
        media_stream,
        lambda batch, epoch_id: process_video_batch(
            spark, batch, epoch_id, index_path, counts_path, pairs_path,
            id_col, binary_col, every_ms, frame_pixels_fn, max_hamming,
            min_match_frac,
        ),
        checkpoint_path,
        query_name,
    )


# ---------------------------------------------------------------------------
# Continuous AUDIO dedup: decode -> acoustic fingerprint -> the semantic
# (embedding) streaming recipe under frozen centroids
# ---------------------------------------------------------------------------


def process_audio_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    vecs_path: str,
    pairs_path: str,
    centroids: list[list[float]],
    id_col: str = "media_id",
    binary_col: str = "data",
    samples_fn: Callable[[bytes], Any] | None = None,
    n_frames: int = 16,
    threshold: float = 0.99,
) -> None:
    """One epoch of continuous audio near-dup: REAL WAV decode +
    acoustic fingerprint for THIS batch only, then the continuous
    semantic-dedup recipe (:func:`.dedupe.process_semantic_batch`) over
    the fingerprint vectors — frozen centroids keep the persisted band
    index meaningful across every epoch, and the bytes never enter any
    state table (only the 33-dim fingerprints do)."""
    from ..operators.multimodal import audio_fingerprints
    from .dedupe import process_semantic_batch

    fp = (
        audio_fingerprints(batch, id_col, binary_col, samples_fn, n_frames)
        .filter(F.col("fingerprint").isNotNull())
        .select(
            F.col("media_id").alias("vec_id"),
            F.col("fingerprint").alias("embedding"),
        )
    )
    process_semantic_batch(
        spark,
        fp,
        epoch_id,
        index_path,
        vecs_path,
        pairs_path,
        centroids,
        threshold=threshold,
    )


def start_audio_dedup_stream(
    media_stream: DataFrame,
    index_path: str,
    vecs_path: str,
    pairs_path: str,
    checkpoint_path: str,
    centroids: list[list[float]],
    id_col: str = "media_id",
    binary_col: str = "data",
    samples_fn: Callable[[bytes], Any] | None = None,
    n_frames: int = 16,
    threshold: float = 0.99,
    query_name: str = "continuous_audio_dedup",
):
    """Start continuous audio near-dup; returns the StreamingQuery."""
    spark = media_stream.sparkSession
    return _start_epoch_stream(
        media_stream,
        lambda batch, epoch_id: process_audio_batch(
            spark, batch, epoch_id, index_path, vecs_path, pairs_path,
            centroids, id_col, binary_col, samples_fn, n_frames, threshold,
        ),
        checkpoint_path,
        query_name,
    )
