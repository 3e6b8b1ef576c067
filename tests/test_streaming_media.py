"""Continuous image near-dup (streaming/media.py) and the incremental
Hamming engine (operators/dedup.incremental_hamming_pairs): the
incremental invariant — prior ∪ incremental == full corpus — plus
exactly-once epoch replay and cross-epoch re-ingestion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark.operators import dedup as DD
from knetminer_etl_spark.operators import multimodal as MM


def _fp_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, fp long")


class TestIncrementalHamming:
    # fingerprints engineered around max_hamming=3 (4 bands of 16 bits):
    # 1/2 identical, 3 within 2 bits of 1, 4 far away, 5 within 3 of 4
    ROWS = [
        (1, 0x1111_2222_3333_4444),
        (2, 0x1111_2222_3333_4444),
        (3, 0x1111_2222_3333_4447),
        (4, -0x1234_5678_0000_0001),
        (5, -0x1234_5678_0000_0001 ^ 0b111),
        (6, 0x0F0F_0F0F_0F0F_0F0F),
    ]

    def _pairs(self, df):
        return {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in df.collect()
        }

    def test_prior_union_incremental_equals_full(self, spark):
        full = self._pairs(DD.hamming_pairs(_fp_df(spark, self.ROWS)))
        old_rows = [r for r in self.ROWS if r[0] <= 3]
        new_rows = [r for r in self.ROWS if r[0] > 3]
        prior = self._pairs(DD.hamming_pairs(_fp_df(spark, old_rows)))
        index = DD.hamming_band_rows(_fp_df(spark, old_rows))
        inc = self._pairs(
            DD.incremental_hamming_pairs(_fp_df(spark, new_rows), index)
        )
        assert {**prior, **inc} == full
        # incremental pairs all involve the new batch; old-old never re-emitted
        assert all(b > 3 for _, b in inc)

    def test_no_index_is_pure_batch(self, spark):
        inc = self._pairs(
            DD.incremental_hamming_pairs(_fp_df(spark, self.ROWS), None)
        )
        assert inc == self._pairs(DD.hamming_pairs(_fp_df(spark, self.ROWS)))

    def test_reingested_ids_use_new_fingerprint(self, spark):
        # id 3 re-arrives with a DIFFERENT fingerprint; its stale index
        # rows must be ignored (no pair against its own old self, and
        # matches computed from the new fp)
        index = DD.hamming_band_rows(
            _fp_df(spark, [r for r in self.ROWS if r[0] <= 3])
        )
        new = _fp_df(spark, [(3, 0x0F0F_0F0F_0F0F_0F0F)])
        inc = self._pairs(DD.incremental_hamming_pairs(new, index))
        assert inc == {}  # new fp of 3 is far from 1/2; no self-pair


@pytest.fixture()
def img_rows(spark):
    import numpy as np

    def px(seed, tweak=0):
        rng = np.random.default_rng(seed)
        a = rng.integers(0, 256, size=(16, 16)).astype(np.uint8)
        if tweak:
            a = a.copy()
            a[:2, :2] = (a[:2, :2].astype(int) + tweak) % 256
        return a

    # 1/2 identical images, 3 a slightly tweaked copy of 1, 4 distinct
    return [
        (1, MM.png_encode(px(7))),
        (2, MM.png_encode(px(7))),
        (3, MM.png_encode(px(7, tweak=140))),
        (4, MM.png_encode(px(99))),
    ]


class TestContinuousImageDedup:
    def _run_epochs(self, spark, tmp_path, batches, replay=None):
        from knetminer_etl_spark.streaming import media as SM

        index = str(tmp_path / "index")
        pairs = str(tmp_path / "pairs")
        pix = lambda data, fmt: MM.png_pixels(data)
        for e, rows in enumerate(batches):
            df = spark.createDataFrame(rows, "media_id long, data binary")
            SM.process_image_batch(
                spark, df, e, index, pairs, pixels_fn=pix, max_hamming=6
            )
        if replay is not None:
            e, rows = replay
            df = spark.createDataFrame(rows, "media_id long, data binary")
            SM.process_image_batch(
                spark, df, e, index, pairs, pixels_fn=pix, max_hamming=6
            )
        return {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in SM.read_pairs(spark, pairs).collect()
        }

    def test_epochs_union_equals_batch_run(self, spark, tmp_path, img_rows):
        got = self._run_epochs(
            spark, tmp_path, [img_rows[:2], img_rows[2:3], img_rows[3:]]
        )
        df = spark.createDataFrame(img_rows, "media_id long, data binary")
        want = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in MM.image_dup_pairs(
                df,
                pixels_fn=lambda data, fmt: MM.png_pixels(data),
                max_hamming=6,
            ).collect()
        }
        assert got == want
        assert (1, 2) in got and got[(1, 2)] == 0

    def test_epoch_replay_is_idempotent(self, spark, tmp_path, img_rows):
        once = self._run_epochs(
            spark, tmp_path, [img_rows[:2], img_rows[2:]]
        )
        replayed = self._run_epochs(
            spark,
            tmp_path / "b",
            [img_rows[:2], img_rows[2:]],
            replay=(1, img_rows[2:]),  # crash-replay of epoch 1
        )
        assert replayed == once

    def test_incremental_video_equals_full(self, spark, tmp_path):
        """prior ∪ incremental == full video_dup_pairs: the trim twin
        arriving in a later epoch votes against the persisted frame
        index with the OLD video's full frame count."""
        from knetminer_etl_spark.operators.multimodal import (
            incremental_video_pairs,
            video_frame_band_rows,
            video_frame_hashes,
        )

        mp4 = __import__(
            "tests.test_multimodal", fromlist=["TestMp4Decode"]
        ).TestMp4Decode._mp4_bytes
        # decoder keyed on ts only, shared across videos: v3 (3 frames)
        # is a trim of v1 (10 frames); v2 distinct via its own offset
        fn = lambda data, ts: MM._fake_pixels(
            (int(ts) + (len(data) % 7) * 1_000_000).to_bytes(8, "little"), "bin"
        )
        shared = lambda data, ts: MM._fake_pixels(
            int(ts).to_bytes(8, "little"), "bin"
        )
        old_rows = [(1, mp4(duration=9500)), (2, mp4(duration=4500))]
        new_rows = [(3, mp4(duration=2500))]
        kw = dict(max_hamming=0, min_match_frac=0.5)
        full = {
            (r["id_a"], r["id_b"]): (r["matched_frames"], r["frac_a"], r["frac_b"])
            for r in MM.video_dup_pairs(
                spark.createDataFrame(
                    old_rows + new_rows, "media_id long, data binary"
                ),
                frame_pixels_fn=shared,
                **kw,
            ).collect()
        }
        old_frames = video_frame_hashes(
            spark.createDataFrame(old_rows, "media_id long, data binary"),
            frame_pixels_fn=shared,
        ).filter("ahash is not null")
        prior = {
            (r["id_a"], r["id_b"]): (r["matched_frames"], r["frac_a"], r["frac_b"])
            for r in MM.video_dup_pairs(
                spark.createDataFrame(old_rows, "media_id long, data binary"),
                frame_pixels_fn=shared,
                **kw,
            ).collect()
        }
        new_frames = video_frame_hashes(
            spark.createDataFrame(new_rows, "media_id long, data binary"),
            frame_pixels_fn=shared,
        )
        inc = {
            (r["id_a"], r["id_b"]): (r["matched_frames"], r["frac_a"], r["frac_b"])
            for r in incremental_video_pairs(
                new_frames,
                video_frame_band_rows(old_frames, 0),
                old_frames.groupBy("media_id").count().withColumnRenamed(
                    "count", "n_frames"
                ),
                **kw,
            ).collect()
        }
        assert {**prior, **inc} == full
        assert all(3 in p for p in inc)  # only new-batch pairs re-emitted

    def test_continuous_video_epochs_equal_batch(self, spark, tmp_path):
        from knetminer_etl_spark.streaming import media as SM

        mp4 = __import__(
            "tests.test_multimodal", fromlist=["TestMp4Decode"]
        ).TestMp4Decode._mp4_bytes
        shared = lambda data, ts: MM._fake_pixels(
            int(ts).to_bytes(8, "little"), "bin"
        )
        rows = [(1, mp4(duration=9500)), (2, mp4(duration=4500)),
                (3, mp4(duration=2500))]
        paths = [str(tmp_path / p) for p in ("fidx", "fcnt", "fpairs")]
        for e, batch in enumerate([rows[:1], rows[1:2], rows[2:]]):
            SM.process_video_batch(
                spark,
                spark.createDataFrame(batch, "media_id long, data binary"),
                e,
                *paths,
                frame_pixels_fn=shared,
                max_hamming=0,
                min_match_frac=0.5,
            )
        got = {
            (r["id_a"], r["id_b"]): (r["matched_frames"], r["frac_a"], r["frac_b"])
            for r in spark.read.parquet(paths[2])
            .select("id_a", "id_b", "matched_frames", "frac_a", "frac_b")
            .collect()
        }
        want = {
            (r["id_a"], r["id_b"]): (r["matched_frames"], r["frac_a"], r["frac_b"])
            for r in MM.video_dup_pairs(
                spark.createDataFrame(rows, "media_id long, data binary"),
                frame_pixels_fn=shared,
                max_hamming=0,
                min_match_frac=0.5,
            ).collect()
        }
        assert got == want

    def test_continuous_audio_dedup(self, spark, tmp_path):
        """Volume-scaled audio twins arriving in a LATER epoch pair
        against the persisted fingerprint index at cosine 1.0; replaying
        the epoch is idempotent; pairs match the single-epoch run."""
        from knetminer_etl_spark.queries.media import _audio_wave
        from knetminer_etl_spark.streaming import dedupe as SD
        from knetminer_etl_spark.streaming import media as SM

        base_ids = [0, 20, 40, 60]
        originals = [(i, MM.wav_encode(_audio_wave(i))) for i in base_ids]
        twins = [
            (i + 10_000_000, MM.wav_encode(_audio_wave(i + 10_000_000)))
            for i in base_ids[:2]
        ]
        centroids = [
            MM._audio_fp_one(_audio_wave(0)),
            MM._audio_fp_one(_audio_wave(60)),
        ]
        paths = [str(tmp_path / p) for p in ("idx", "vecs", "pairs")]

        def run(prefix, epochs, replay=None):
            ps = [f"{p}_{prefix}" for p in paths]
            for e, rows in enumerate(epochs):
                df = spark.createDataFrame(rows, "media_id long, data binary")
                SM.process_audio_batch(spark, df, e, *ps, centroids)
            if replay is not None:
                e, rows = replay
                df = spark.createDataFrame(rows, "media_id long, data binary")
                SM.process_audio_batch(spark, df, e, *ps, centroids)
            return {
                (r["id_a"], r["id_b"]): r["cosine"]
                for r in SD.read_semantic_pairs(spark, ps[2]).collect()
            }

        got = run("a", [originals, twins])
        for i in base_ids[:2]:
            assert got[(i, i + 10_000_000)] == 1.0
        # equals the one-epoch run over everything
        assert got == run("b", [originals + twins])
        # crash-replay of the twin epoch changes nothing
        assert got == run("c", [originals, twins], replay=(1, twins))

    def test_streaming_end_to_end(self, spark, tmp_path, img_rows):
        """A real file-source stream through foreachBatch equals the
        batch run (availableNow drains every file)."""
        from pyspark.sql import types as T

        from knetminer_etl_spark.streaming import media as SM

        src = str(tmp_path / "src")
        for i, row in enumerate(img_rows):
            spark.createDataFrame(
                [row], "media_id long, data binary"
            ).write.mode("overwrite").parquet(f"{src}/f{i}.parquet")
        schema = T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("data", T.BinaryType()),
            ]
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = SM.start_image_dedup_stream(
            stream,
            str(tmp_path / "index"),
            str(tmp_path / "pairs"),
            str(tmp_path / "ckpt"),
            pixels_fn=lambda data, fmt: MM.png_pixels(data),
            max_hamming=6,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in SM.read_pairs(spark, str(tmp_path / "pairs")).collect()
        }
        df = spark.createDataFrame(img_rows, "media_id long, data binary")
        want = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in MM.image_dup_pairs(
                df,
                pixels_fn=lambda data, fmt: MM.png_pixels(data),
                max_hamming=6,
            ).collect()
        }
        assert got == want

    @staticmethod
    def _media_stream(spark, src, rows):
        """A file-source media stream, one parquet file per row."""
        from pyspark.sql import types as T

        for i, row in enumerate(rows):
            spark.createDataFrame(
                [row], "media_id long, data binary"
            ).write.mode("overwrite").parquet(f"{src}/f{i}.parquet")
        schema = T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("data", T.BinaryType()),
            ]
        )
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )

    @staticmethod
    def _drain(q):
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def test_video_stream_equals_one_epoch(self, spark, tmp_path):
        """start_video_dedup_stream over a file source (one video per
        micro-batch) emits the pairs of one process_video_batch epoch
        over the same rows."""
        from knetminer_etl_spark.streaming import media as SM

        mp4 = __import__(
            "tests.test_multimodal", fromlist=["TestMp4Decode"]
        ).TestMp4Decode._mp4_bytes
        shared = lambda data, ts: MM._fake_pixels(
            int(ts).to_bytes(8, "little"), "bin"
        )
        rows = [(1, mp4(duration=9500)), (2, mp4(duration=4500)),
                (3, mp4(duration=2500))]
        kw = dict(frame_pixels_fn=shared, max_hamming=0, min_match_frac=0.5)
        stream = [str(tmp_path / p) for p in ("sidx", "scnt", "spairs")]
        self._drain(
            SM.start_video_dedup_stream(
                self._media_stream(spark, str(tmp_path / "src"), rows),
                *stream,
                str(tmp_path / "ckpt"),
                **kw,
            )
        )
        once = [str(tmp_path / p) for p in ("idx", "cnt", "pairs")]
        SM.process_video_batch(
            spark,
            spark.createDataFrame(rows, "media_id long, data binary"),
            0,
            *once,
            **kw,
        )

        def pairs(path):
            return {
                (r["id_a"], r["id_b"]): (
                    r["matched_frames"], r["frac_a"], r["frac_b"]
                )
                for r in spark.read.parquet(path).collect()
            }

        got = pairs(stream[2])
        assert got == pairs(once[2])
        assert (1, 3) in got  # the trim twin, found across micro-batches

    def test_audio_stream_equals_one_epoch(self, spark, tmp_path):
        """start_audio_dedup_stream over a file source (one clip per
        micro-batch) emits the pairs of one process_audio_batch epoch
        over the same rows."""
        from knetminer_etl_spark.queries.media import _audio_wave
        from knetminer_etl_spark.streaming import dedupe as SD
        from knetminer_etl_spark.streaming import media as SM

        base_ids = [0, 20, 60]
        rows = [(i, MM.wav_encode(_audio_wave(i))) for i in base_ids] + [
            (i + 10_000_000, MM.wav_encode(_audio_wave(i + 10_000_000)))
            for i in base_ids[:2]
        ]
        centroids = [
            MM._audio_fp_one(_audio_wave(0)),
            MM._audio_fp_one(_audio_wave(60)),
        ]
        stream = [str(tmp_path / p) for p in ("sidx", "svecs", "spairs")]
        self._drain(
            SM.start_audio_dedup_stream(
                self._media_stream(spark, str(tmp_path / "src"), rows),
                *stream,
                str(tmp_path / "ckpt"),
                centroids,
            )
        )
        once = [str(tmp_path / p) for p in ("idx", "vecs", "pairs")]
        SM.process_audio_batch(
            spark,
            spark.createDataFrame(rows, "media_id long, data binary"),
            0,
            *once,
            centroids,
        )

        def pairs(path):
            return {
                (r["id_a"], r["id_b"]): r["cosine"]
                for r in SD.read_semantic_pairs(spark, path).collect()
            }

        got = pairs(stream[2])
        assert got == pairs(once[2])
        assert got[(0, 10_000_000)] == 1.0 and got[(20, 10_000_020)] == 1.0
