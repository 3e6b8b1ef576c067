"""Continuous near-dup detection over a document stream.

The streaming face of :func:`..operators.dedup.incremental_minhash_pairs`:
each micro-batch of documents hashes ONLY itself, joins the persisted
band index of everything ingested before it, and emits the near-dup
pairs its arrival created — the corpus is never re-deduped. State is
three parquet tables, all partitioned by ``batch_id`` and maintained
with dynamic partition overwrites, so the streaming checkpoint +
idempotent rewrites give exactly-once (the rollup recipe,
streaming/rollup.py):

* ``index_path`` — (doc_id, band, bucket, scheme): the LSH index
  (:func:`..operators.dedup.minhash_band_rows`), appended one
  batch-partition per epoch; bounded rows per doc (bands), the ONLY
  thing old batches contribute to new-batch work. ``scheme`` stamps
  the banding parameters: an epoch banded any other way — or an index
  written before the stamp existed — fails loudly, before any of the
  epoch's partitions are written, instead of silently losing recall;
* ``docs_path``  — (doc_id, text): the document store verification
  draws candidate texts from (semi-joined down to candidates first);
* ``pairs_path`` — (id_a, id_b, jaccard) per batch: the incremental
  output; the union of all batch partitions equals a full-corpus dedup
  (operator-level equality pinned in tests/test_dedup.py).

Every banded stream here and in streaming/media.py runs the same epoch
(:func:`_band_epoch`) and the same wiring (:func:`_start_epoch_stream`).

Replay safety: a replayed epoch recomputes against the same prior
index (its own stale index/doc rows are excluded — the index join
drops the batch's ids, the doc store merge is keyed) and overwrites
its own partitions with identical content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..operators.dedup import (
    _minhash_pairs_from_bands,
    _semantic_pairs_from_bands,
    minhash_band_rows,
    semantic_band_rows,
)
from ..runtime.session import release_pin

DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source document stream (dir or glob of documents parquet).
    In production swap for the Kafka/queue source — the processing below
    is source-agnostic."""
    return (
        spark.readStream.schema(DOCS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _state_exists(spark: SparkSession, path: str) -> bool:
    """PROBED existence of a state dir — never inferred from a read
    failure, which would silently treat a transient FS error as 'first
    batch' and emit an epoch's pairs without the prior index (the
    streaming/kg.py lesson). ALL paths go through the Hadoop
    FileSystem: Spark resolves scheme-less paths against
    ``fs.defaultFS``, so a driver-local ``os.path`` probe would answer
    "missing" for HDFS/S3-resident state on a real cluster — the exact
    silent first-batch failure this helper exists to prevent."""
    from ..runtime.fs import fs_exists

    return fs_exists(spark, path)


def _latest_rows(df: DataFrame, key: str) -> DataFrame:
    """Cross-epoch re-ingestion guard: a key re-ingested in a LATER
    epoch leaves rows in several ``batch_id`` partitions (each epoch
    overwrites only its own partition), and the earlier epoch's
    text/embedding may differ — so only the latest epoch's rows per key
    are current state. Left-semi against the per-key max ``batch_id``
    keeps exactly the latest epoch's row group per key; with no
    re-ingestion every row survives, and the semi join's build side is
    one bounded row per key."""
    latest = df.groupBy(key).agg(F.max("batch_id").alias("batch_id"))
    return df.join(latest, on=[key, "batch_id"], how="left_semi")


def _read_or_none(
    spark: SparkSession, path: str, latest_key: str | None = None
) -> DataFrame | None:
    if not _state_exists(spark, path):
        return None  # first batch: state not created yet
    df = spark.read.parquet(path)
    if latest_key is not None:
        df = _latest_rows(df, latest_key)
    return df


def _write_batch_partition(df: DataFrame, epoch_id: int, path: str) -> None:
    (
        df.withColumn("batch_id", F.lit(int(epoch_id)))
        .repartition(1, "batch_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _with_prior(
    batch: DataFrame, store: DataFrame | None, key: str
) -> DataFrame:
    """The verification corpus: this batch plus the stored rows of every
    other id (the batch wins on re-ingestion and replay, so duplicate
    ids can't inflate pair rows)."""
    if store is None:
        return batch
    return batch.unionByName(
        store.select(*batch.columns).join(
            batch.select(key), on=key, how="left_anti"
        )
    )


def _band_epoch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    id_col: str,
    index_path: str,
    pairs_path: str,
    band,
    pairs,
    stores=(),
) -> None:
    """One epoch of a banded-index stream — text, semantic, image, video
    and audio dedup all run this:

    1. pin ``batch`` (decode and fingerprinting run once); an empty
       epoch writes nothing — file streams can fire one before the
       first file lands, and an empty partition leaves a schema-less
       parquet dir that poisons every later read;
    2. probe and read the latest index and store rows (keyed by
       ``id_col``);
    3. band the batch once, ``band(batch)``, and pin the band rows;
    4. ``pairs(batch, bands, index, *stores)``: the engine's shared
       incremental core and its verifier;
    5. write the pairs partition;
    6. write the same pinned band rows as the index partition;
    7. write each store partition (``stores``: ``(path, rows_fn)``);
    8. release both pins.

    Each write overwrites this epoch's own ``batch_id`` partition, so a
    replayed epoch rewrites identical content. A foreign-scheme index
    fails step 5's job, before any partition of the epoch is written."""
    seen = Observation()  # the emptiness probe rides the pin's own job
    batch = batch.observe(seen, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    bands = None
    try:
        if not seen.get["n"]:
            return
        index = _read_or_none(spark, index_path, id_col)
        state = [_read_or_none(spark, p, id_col) for p, _ in stores]
        bands = band(batch).localCheckpoint(eager=True)
        _write_batch_partition(
            pairs(batch, bands, index, *state), epoch_id, pairs_path
        )
        _write_batch_partition(bands, epoch_id, index_path)
        for path, rows in stores:
            _write_batch_partition(rows(batch), epoch_id, path)
    finally:
        # a long-lived stream would otherwise accumulate pinned blocks
        # per epoch until executor storage pressure degrades later
        # batches
        if bands is not None:
            release_pin(bands)
        release_pin(batch)


def _start_epoch_stream(
    stream: DataFrame, on_batch, checkpoint_path: str, query_name: str
):
    """Run ``on_batch(batch, epoch_id)`` on every micro-batch of
    ``stream`` under a streaming checkpoint; returns the
    StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def process_dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    docs_path: str,
    pairs_path: str,
    num_perm: int = 64,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.6,
) -> None:
    """One epoch: emit pairs involving this batch, then extend the
    index and doc store (its own partition each — idempotent replay).
    Exposed separately from the stream wiring so tests can drive and
    replay epochs deterministically (rollup's `_merge_batch` pattern)."""
    _band_epoch(
        spark,
        batch.select("doc_id", "text"),
        epoch_id,
        "doc_id",
        index_path,
        pairs_path,
        band=lambda docs: minhash_band_rows(
            docs, "doc_id", "text", num_perm, bands, k
        ),
        pairs=lambda docs, rows, index, store: _minhash_pairs_from_bands(
            rows, index, _with_prior(docs, store, "doc_id"), k=k,
            threshold=threshold,
        ),
        stores=[(docs_path, lambda docs: docs)],
    )


def start_dedup_stream(
    doc_stream: DataFrame,
    index_path: str,
    docs_path: str,
    pairs_path: str,
    checkpoint_path: str,
    num_perm: int = 64,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.6,
    query_name: str = "continuous_dedup",
):
    """Start continuous dedup; returns the StreamingQuery."""
    spark = doc_stream.sparkSession
    return _start_epoch_stream(
        doc_stream,
        lambda batch, epoch_id: process_dedup_batch(
            spark, batch, epoch_id, index_path, docs_path, pairs_path,
            num_perm, bands, k, threshold,
        ),
        checkpoint_path,
        query_name,
    )


def read_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All pairs emitted so far (union of batch partitions)."""
    return spark.read.parquet(pairs_path).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# Continuous SEMANTIC (embedding) dedup — the same three-table recipe
# under frozen centroids (operators/dedup.semantic_band_rows /
# incremental_semantic_pairs)
# ---------------------------------------------------------------------------

VECS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def read_vector_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source embedding stream (dir or glob of vectors parquet)."""
    return (
        spark.readStream.schema(VECS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def process_semantic_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    vecs_path: str,
    pairs_path: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    n_planes: int = 10,
    n_bands: int = 32,
    seed: int = 0x5EED,
) -> None:
    """One epoch of continuous semantic dedup: emit the verified pairs
    this batch's arrival created, then extend the band index and vector
    store (one partition per epoch — idempotent replay). Centroids are
    FROZEN model state shared by every epoch (fit offline or on the
    first batch): that is what keeps the persisted index meaningful —
    every batch assigns and bands identically, so a bucket collision
    means the same thing at epoch 1 and epoch 10⁶ (the index's
    ``scheme`` refuses a batch under other centroids or band shape)."""
    _band_epoch(
        spark,
        batch.select("vec_id", "embedding"),
        epoch_id,
        "vec_id",
        index_path,
        pairs_path,
        band=lambda vecs: semantic_band_rows(
            vecs, centroids, n_planes=n_planes, n_bands=n_bands, seed=seed
        ),
        pairs=lambda vecs, rows, index, store: _semantic_pairs_from_bands(
            rows, index, _with_prior(vecs, store, "vec_id"),
            threshold=threshold,
        ),
        stores=[(vecs_path, lambda vecs: vecs)],
    )


def start_semantic_dedup_stream(
    vec_stream: DataFrame,
    index_path: str,
    vecs_path: str,
    pairs_path: str,
    checkpoint_path: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    n_planes: int = 10,
    n_bands: int = 32,
    seed: int = 0x5EED,
    query_name: str = "continuous_semantic_dedup",
):
    """Start continuous semantic dedup; returns the StreamingQuery."""
    spark = vec_stream.sparkSession
    return _start_epoch_stream(
        vec_stream,
        lambda batch, epoch_id: process_semantic_batch(
            spark, batch, epoch_id, index_path, vecs_path, pairs_path,
            centroids, threshold, n_planes, n_bands, seed,
        ),
        checkpoint_path,
        query_name,
    )


def read_semantic_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All semantic pairs emitted so far (union of batch partitions)."""
    return spark.read.parquet(pairs_path).select("id_a", "id_b", "cosine")


# ---------------------------------------------------------------------------
# Continuous semantic decontamination (ingest-time benchmark filtering)
# ---------------------------------------------------------------------------


def process_decon_batch(
    batch: DataFrame,
    epoch_id: int,
    test_vecs: DataFrame,
    clean_path: str,
    threshold: float = 0.95,
    n_planes: int | str = "auto",
    n_bands: int | None = None,
    seed: int = 0x5EED,
) -> None:
    """One epoch: keep only the batch vectors whose banded-verified max
    cosine to the FIXED evaluation set stays below ``threshold``
    (operators/contamination.semantic_decontaminate_banded) and write
    them as this epoch's partition. Stateless across epochs — the eval
    set is loop-invariant — so idempotent partition overwrite alone
    gives exactly-once; a replayed epoch rewrites identical content.

    ``n_planes`` defaults to ``"auto"`` — the SAME contract as the batch
    entry point (contamination.semantic_decontaminate): the band shape
    is sized from the evaluation-suite count via ``_auto_decon_shape``
    (streaming suites are typically small, so this resolves to the
    12×48 floor). Callers looping over epochs should resolve the shape
    ONCE at stream start (``start_semantic_decon_stream`` does) — a
    pinned in-memory suite has no input files, so per-epoch "auto"
    re-counts it every batch."""
    from ..operators.contamination import semantic_decontaminate_banded

    batch = batch.select("vec_id", "embedding").localCheckpoint(eager=True)
    kept = semantic_decontaminate_banded(
        batch,
        test_vecs,
        threshold=threshold,
        n_planes=n_planes,
        n_bands=n_bands,
        seed=seed,
    )
    _write_batch_partition(kept, epoch_id, clean_path)
    release_pin(batch)  # per-epoch pin — see _band_epoch


def start_semantic_decon_stream(
    vec_stream: DataFrame,
    test_vecs: DataFrame,
    clean_path: str,
    checkpoint_path: str,
    threshold: float = 0.95,
    n_planes: int | str = "auto",
    n_bands: int | None = None,
    seed: int = 0x5EED,
    query_name: str = "continuous_semantic_decon",
):
    """Continuous ingest-time decontamination: every arriving micro-batch
    of embeddings is filtered against the evaluation set BEFORE it lands
    in the training store — the streaming face of
    ``semantic_decontaminate_banded`` (benchmark leaks never enter the
    corpus, instead of being scrubbed after the fact). The eval relation
    is pinned once per stream; each epoch broadcasts its banded form.

    ``n_planes="auto"`` (default — the batch entry's contract): the
    suite is fixed at stream start, so the band shape is sized ONCE
    here from its count and every epoch reuses the resolved ints — no
    per-epoch probe jobs. Returns the StreamingQuery."""
    test_pinned = test_vecs.select("vec_id", "embedding").localCheckpoint(
        eager=True
    )
    if n_planes == "auto":
        from ..operators.contamination import _auto_decon_shape

        n_planes, n_bands = _auto_decon_shape(test_pinned.count(), threshold)
    elif n_bands is None:
        n_bands = 48

    return _start_epoch_stream(
        vec_stream,
        lambda batch, epoch_id: process_decon_batch(
            batch, epoch_id, test_pinned, clean_path, threshold, n_planes,
            n_bands, seed,
        ),
        checkpoint_path,
        query_name,
    )


def process_lexical_decon_batch(
    batch: DataFrame,
    epoch_id: int,
    eval_grams: DataFrame,
    spec,
    clean_path: str,
    n: int = 8,
    max_hits: int = 0,
) -> None:
    """One epoch of lexical (word n-gram) decontamination: keep only the
    batch documents sharing no n-gram with the FIXED evaluation suite
    and write them as this epoch's partition. The bloom word table and
    the eval gram relation are loop-invariant (built once per stream);
    the batch gram stream is pruned map-side against the literal table
    before the exact verification join — the streaming face of
    ``operators.contamination.decontaminate_bloom``. Stateless across
    epochs, so idempotent partition overwrite alone is exactly-once."""
    from ..operators.contamination import bloom_decontaminate_against

    batch = batch.select("doc_id", "text").localCheckpoint(eager=True)
    kept = bloom_decontaminate_against(
        batch, eval_grams, spec, "doc_id", "text", n, max_hits
    )
    _write_batch_partition(kept, epoch_id, clean_path)
    release_pin(batch)  # per-epoch pin — see _band_epoch


def start_lexical_decon_stream(
    doc_stream: DataFrame,
    test_docs: DataFrame,
    clean_path: str,
    checkpoint_path: str,
    n: int = 8,
    max_hits: int = 0,
    n_bits: int | None = None,
    k: int = 4,
    query_name: str = "continuous_lexical_decon",
):
    """Continuous ingest-time lexical decontamination: every arriving
    micro-batch of documents is n-gram-filtered against the evaluation
    suite BEFORE it lands in the training store (benchmark leaks never
    enter the corpus). The suite's distinct grams are pinned and its
    bloom bit table built ONCE per stream — each epoch pays only the
    batch-side gram scan, the map-side bloom prune, and the exact
    verification join over the pruned sliver.

    ``n_bits`` defaults to sizing from the MEASURED suite gram count
    (~10 bits/gram ≈ 1% fpp, the ``decontaminate_auto`` formula) — a
    fixed table saturates against a large suite and the map-side prune
    degrades to a no-op that still pays its probes. The count rides the
    pin the stream already builds. Returns the StreamingQuery."""
    from ..operators.bloomjoin import build_spec
    from ..operators.contamination import distinct_grams, sized_bloom_bits

    eval_grams = distinct_grams(test_docs, "text", n).localCheckpoint(eager=True)
    if n_bits is None:
        n_bits = sized_bloom_bits(eval_grams.count())
    spec = build_spec(eval_grams, "gram", n_bits, k, seed="decon", hash="xx")

    return _start_epoch_stream(
        doc_stream,
        lambda batch, epoch_id: process_lexical_decon_batch(
            batch, epoch_id, eval_grams, spec, clean_path, n, max_hits
        ),
        checkpoint_path,
        query_name,
    )


def read_clean_docs(spark: SparkSession, clean_path: str) -> DataFrame:
    """All decontaminated documents ingested so far (union of batch
    partitions); equals batch-mode ``decontaminate_bloom`` over the
    same corpus (pinned in tests/test_streaming_semantic.py)."""
    return spark.read.parquet(clean_path).select("doc_id", "text")


def read_clean_vectors(spark: SparkSession, clean_path: str) -> DataFrame:
    """All decontaminated vectors ingested so far (union of batch
    partitions); equals batch-mode ``semantic_decontaminate_banded``
    over the same corpus (pinned in tests/test_streaming_semantic.py)."""
    return spark.read.parquet(clean_path).select("vec_id", "embedding")
