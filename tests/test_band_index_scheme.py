"""Persisted band indexes refuse a foreign banding scheme: every public
``*_band_rows`` builder stamps a ``scheme`` column, and the shared
incremental core (operators/dedup._incremental_band_pairs) fails loudly
on an index built with another shape, or before the stamp existed,
instead of silently losing the new-vs-old pairs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators import dedup as DD
from knetminer_etl_spark.operators import multimodal as MM
from knetminer_etl_spark.streaming import dedupe as SD

FOREIGN = "another banding scheme"

_TEXTS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta iota"),
    (3, "one two three four five six seven eight"),
    (4, "alpha beta gamma delta epsilon zeta eta kappa"),
]


def _docs(spark, ids):
    return spark.createDataFrame(
        [r for r in _TEXTS if r[0] in ids], "doc_id long, text string"
    )


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.98, 0.02, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_CENTS = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]


def _fps(spark, ids):
    rows = [
        (1, 0x1111_2222_3333_4444),
        (2, 0x1111_2222_3333_4445),
        (3, 0x0F0F_0F0F_0F0F_0F0F),
        (4, 0x1111_2222_3333_4447),
    ]
    return spark.createDataFrame(
        [r for r in rows if r[0] in ids], "doc_id long, fp long"
    )


def _frames(spark, ids):
    rows = [
        (m, ts, 0x1234_5678_9ABC_DEF0 + ts)
        for m in (1, 2, 3)
        for ts in (0, 1000, 2000)
    ]
    return spark.createDataFrame(
        [r for r in rows if r[0] in ids],
        "media_id long, frame_ts_ms long, ahash long",
    )


def _minhash_index(spark, shape):
    return DD.minhash_band_rows(_docs(spark, {1, 2}), **shape)


def _minhash(spark, old):
    return DD.incremental_minhash_pairs(
        _docs(spark, {3, 4}), old, _docs(spark, {1, 2, 3, 4}),
        num_perm=64, bands=32, threshold=0.5,
    )


def _semantic_index(spark, shape):
    return DD.semantic_band_rows(
        _vecs(spark).filter("vec_id < 3"), _CENTS, **shape
    )


def _semantic(spark, old):
    vecs = _vecs(spark)
    return DD.incremental_semantic_pairs(
        vecs.filter("vec_id >= 3"), old, vecs, _CENTS, threshold=0.9,
        n_planes=10, n_bands=32,
    )


def _hamming_index(spark, shape):
    return DD.hamming_band_rows(_fps(spark, {1, 2}), **shape)


def _hamming(spark, old):
    return DD.incremental_hamming_pairs(
        _fps(spark, {3, 4}), old, max_hamming=5
    )


def _video_index(spark, shape):
    return MM.video_frame_band_rows(_frames(spark, {1, 2}), **shape)


def _video(spark, old):
    counts = _frames(spark, {1, 2}).groupBy("media_id").agg(
        F.count("*").alias("n_frames")
    )
    return MM.incremental_video_pairs(
        _frames(spark, {3}), old, counts, max_hamming=5
    )


# (index builder, incremental run, the batch's index shape, another
# shape, the public builder a rebuild must name)
ENGINES = [
    (_minhash_index, _minhash, {"num_perm": 64, "bands": 32},
     {"num_perm": 64, "bands": 16}, "minhash_band_rows"),
    (_semantic_index, _semantic, {"n_planes": 10, "n_bands": 32},
     {"n_planes": 10, "n_bands": 16}, "semantic_band_rows"),
    (_hamming_index, _hamming, {"max_hamming": 5}, {"max_hamming": 3},
     "hamming_band_rows"),
    (_video_index, _video, {"max_hamming": 5}, {"max_hamming": 3},
     "video_frame_band_rows"),
]
IDS = ["minhash", "semantic", "hamming", "video"]
ARGS = "index,run,same,other,builder"


@pytest.mark.parametrize(ARGS, ENGINES, ids=IDS)
def test_index_of_another_shape_raises(
    spark, index, run, same, other, builder
):
    # control: the batch's own shape is accepted and pairs new-vs-old,
    # so the failure below is down to the scheme alone
    assert run(spark, index(spark, same)).count() > 0
    with pytest.raises(Exception, match=FOREIGN) as err:
        run(spark, index(spark, other)).collect()
    assert builder in str(err.value)


@pytest.mark.parametrize(ARGS, ENGINES, ids=IDS)
def test_index_without_scheme_is_refused(
    spark, index, run, same, other, builder
):
    """The pre-stamp index format (no ``scheme`` column) is refused on
    the driver, naming the rebuild."""
    legacy = index(spark, same).drop("scheme")
    with pytest.raises(ValueError, match=f"no 'scheme' column.*{builder}"):
        run(spark, legacy)


def test_foreign_epoch_writes_no_partition(spark, tmp_path):
    """A streaming epoch banded with another shape than its index fails
    before writing any partition of that epoch."""
    paths = [str(tmp_path / p) for p in ("index", "docs", "pairs")]
    SD.process_dedup_batch(
        spark, _docs(spark, {1, 2}), 0, *paths, threshold=0.5
    )
    with pytest.raises(Exception, match=FOREIGN):
        SD.process_dedup_batch(
            spark, _docs(spark, {3, 4}), 1, *paths, bands=16, threshold=0.5
        )
    for path in (paths[0], paths[2]):
        parts = sorted(
            p for p in os.listdir(path) if p.startswith("batch_id=")
        )
        assert parts == ["batch_id=0"], (path, parts)
    # the refused epoch still runs at the index's own shape
    SD.process_dedup_batch(
        spark, _docs(spark, {3, 4}), 1, *paths, threshold=0.5
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in SD.read_pairs(spark, paths[2]).collect()
    }
    assert (1, 4) in got and (2, 4) in got
