"""The three perfbench workloads.

Each workload drives the library only through its public functions and
wraps every call into a layer in a span named after that layer. A
workload exposes ``prepare(rep)`` (input generation, repeated),
``warm()`` (warm-up or preload, once),
``job(i)`` (one unit of timed work; returns a :class:`JobResult` whose
output has been checked) and ``finish()`` (checks that need the whole
run). The batch workloads run as ``runtime.workflow.Pipeline`` stages,
one ``Pipeline.run`` per layer, so every layer boundary is a Parquet
checkpoint.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from spans import FileLedger, dir_stats, median

from knetminer_etl_spark import (
    AUTO_EDGE_ID,
    DataFrameMapper,
    TabFileMapper,
    column_triple_mapper,
    constant_triple_mapper,
    dangling_edges,
    edge_source_triple_mapper,
    edge_target_triple_mapper,
    read_pg_jsonl,
    triples_to_pg,
    type_triple_mapper,
    write_pg_jsonl,
)
from knetminer_etl_spark.io import neo4j as N4
from knetminer_etl_spark.operators import contamination as CT
from knetminer_etl_spark.operators import dedup as DD
from knetminer_etl_spark.operators import sampling as SP
from knetminer_etl_spark.operators.text import token_count
from knetminer_etl_spark.queries.corpus import doc_pipeline_stages
from knetminer_etl_spark.runtime import checkpoint as CK
from knetminer_etl_spark.runtime.workflow import Pipeline
from knetminer_etl_spark.streaming import dedupe as SD
from knetminer_etl_spark.streaming import kg as SKG


@dataclass
class JobResult:
    seconds: float
    rows: int
    failed: list[str] = field(default_factory=list)  # names of failed checks
    ops: int = 1  # checked operations (job + loader transactions)
    read_s: float | None = None
    written: int = 0  # bytes written, rewrites included
    stored: int = 0  # bytes on disk when the job ended
    input_bytes: int = 1


class Context:
    """What every workload shares: session, seed, scratch, tracer, the
    per-job layer counters and the traced-call wrappers."""

    def __init__(self, spark, seed: int, scratch: str, cores: int, tracer):
        self.spark = spark
        self.seed = seed
        self.scratch = scratch
        self.cores = cores
        self.tracer = tracer
        self.counters: dict[str, dict[str, float]] = {}
        self._wrap_checkpoint()

    def count(self, metric: str, value: float) -> None:
        per_job = self.counters.setdefault(self.tracer.job, {})
        per_job[metric] = per_job.get(metric, 0) + value

    def span(self, name: str):
        return self.tracer.span(name)

    def _wrap_checkpoint(self) -> None:
        """Route ``runtime.checkpoint.save``/``load`` through spans. The
        Pipeline and TabFileMapper call them as module attributes, so
        their calls are traced too. Bytes and files are counted only in
        the traced run."""
        save, load = CK.save, CK.load
        ctx = self

        def traced_save(df, path, *a, **kw):
            with ctx.span("runtime.checkpoint"):
                save(df, path, *a, **kw)
            if ctx.tracer.enabled:
                nbytes, nfiles = dir_stats(CK.df_path(path))
                ctx.count("runtime.checkpoint.bytes", nbytes)
                ctx.count("runtime.checkpoint.files", nfiles)

        def traced_load(source, spark, *a, **kw):
            with ctx.span("runtime.checkpoint"):
                return load(source, spark, *a, **kw)

        CK.save, CK.load = traced_save, traced_load


def pg_digest():
    """(rows, digest) aggregate columns over a PG relation: an
    order-independent sum of row hashes with labels and property value
    sets canonically sorted."""
    props = F.to_json(
        F.array_sort(
            F.transform(
                F.map_entries("properties"),
                lambda e: F.struct(e["key"].alias("k"), F.array_sort(e["value"]).alias("v")),
            )
        )
    )
    h = F.xxhash64(
        "id", "type", F.array_join(F.array_sort("labels"), "|"), "from", "to", props
    )
    return F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")


def timed_reads(spark, read_back, n: int):
    """(median seconds, first result) of ``n`` read-backs, started from a
    collected heap so that garbage the job left does not land in them."""
    gc.collect()
    spark._jvm.System.gc()
    times, first = [], None
    for k in range(n):
        t = time.perf_counter()
        got = read_back()
        times.append(time.perf_counter() - t)
        if k == 0:
            first = got
    return median(times), first


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------------------
# kg_batch
# ---------------------------------------------------------------------------

SOURCE = constant_triple_mapper("source", "perfbench")
GENES = TabFileMapper(
    "accession",
    [
        column_triple_mapper("name", "hasGeneName"),
        column_triple_mapper("accession", "hasAccession"),
        column_triple_mapper("chromosome", "hasChromosomeId"),
        column_triple_mapper("begin", "hasChromosomeBegin"),
        column_triple_mapper("end", "hasChromosomeEnd"),
    ],
    [type_triple_mapper("Gene"), SOURCE],
    column_types={"begin": "int", "end": "int"},
)
PROTEINS = TabFileMapper(
    "accession",
    [
        column_triple_mapper("name", "hasProteinName"),
        column_triple_mapper("accession", "hasAccession"),
        column_triple_mapper("length", "hasLength"),
    ],
    [type_triple_mapper("Protein"), SOURCE],
    column_types={"length": "int"},
)
ANNOTATIONS = TabFileMapper(
    "gene",
    [column_triple_mapper("term", "hasGOTerm"), column_triple_mapper("evidence", "hasEvidence")],
    [type_triple_mapper("Gene")],
    column_types={"term": "string"},
)
ENCODES = TabFileMapper(
    AUTO_EDGE_ID,
    [
        edge_source_triple_mapper("protein"),
        edge_target_triple_mapper("gene"),
        column_triple_mapper("score", "hasScore"),
    ],
    [type_triple_mapper("encodes"), SOURCE],
    column_types={"score": "double"},
)
KG_MAPPERS = {"genes": GENES, "proteins": PROTEINS, "annotations": ANNOTATIONS, "encodes": ENCODES}


class BatchWorkload:
    """A batch job writes into a fresh directory and rewrites nothing, so
    its written and stored bytes are both the directory's final size.

    Subclasses set SIZE (the measured input), WARM_SIZE and WARM_JOBS,
    and implement ``make_inputs(dir, size)`` and ``job(i)``."""

    MIN_JOBS = 1
    # read-backs per job; the first is checked, the median timed (the
    # first read of a fresh output runs about 10% slower than the rest)
    READS = 5

    def prepare(self, rep: int) -> None:
        # a fresh input directory per rep: the catalog caches scans by path
        self.manifest = self.make_inputs(
            os.path.join(self.ctx.scratch, "inputs", f"rep{rep}"), self.SIZE
        )

    def warm(self) -> None:
        """Warm up on a small input. The jobs are dominated by driver
        planning, which a small input exercises as much as a large one,
        and the cold first run (class loading, code generation, JIT)
        costs about the same at any size."""
        full = self.manifest
        self.manifest = self.make_inputs(
            os.path.join(self.ctx.scratch, "inputs", "warm"), self.WARM_SIZE
        )
        for k in range(self.WARM_JOBS):
            res = self.job(f"warm{k}")
            if res.failed:
                raise RuntimeError(f"warm-up job failed checks: {res.failed}")
        self.manifest = full

    def finish(self, results: list[JobResult]) -> list[str]:
        return []

    def describe(self) -> str:
        return ""

    def written_ratio(self, results: list[JobResult]) -> float:
        return sum(r.written for r in results) / sum(r.input_bytes for r in results)

    def stored_ratio(self, results: list[JobResult]) -> float:
        return median([r.stored / r.input_bytes for r in results])

    def _close_job(self, i, job_dir: str, res: JobResult) -> JobResult:
        ledger = FileLedger(job_dir)
        ledger.tick()
        res.written, res.stored = ledger.written, ledger.stored()
        res.input_bytes = self.manifest["input_bytes"]
        if isinstance(i, int) and i > 0:
            prev = os.path.join(os.path.dirname(job_dir), f"{self.name}_{i - 1}")
            shutil.rmtree(prev, ignore_errors=True)
        return res


class KgBatch(BatchWorkload):
    """TSVs -> triples checkpoint -> PG checkpoint -> PG-JSONL -> Neo4j
    stub, from a fresh directory per job."""

    name = "kg_batch"
    SIZE = 6_000  # genes (and as many proteins)
    WARM_SIZE = 200
    WARM_JOBS = 1
    # The export is one ~4 MB file, which Spark's default split sizing
    # (a file costs 4 MB to open) reads in one task on one core. On a
    # shared 4-vCPU machine the speed of that one core varied 20% from run
    # to run, so the read-back splits it into one task per core instead
    READ_OPEN_COST = 1 << 20

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.manifest: dict = {}

    def make_inputs(self, out_dir: str, size: int) -> dict:
        return gen.make_kg_sources(self.ctx.seed, out_dir, size)

    def _pipeline(self, job_dir: str) -> Pipeline:
        pipe = Pipeline(job_dir, name="kg_batch")
        paths = self.manifest["paths"]

        @pipe.stage("triples")
        def _triples(spark, _):
            return CK.union_all(
                *(m.map(spark, paths[name]) for name, m in KG_MAPPERS.items())
            )

        @pipe.stage("pg", deps=["triples"])
        def _pg(spark, inputs):
            return triples_to_pg(inputs["triples"])

        return pipe

    def job(self, i) -> JobResult:
        ctx, spark, m = self.ctx, self.ctx.spark, self.manifest
        job_dir = _fresh(os.path.join(ctx.scratch, "jobs", f"{self.name}_{i}"))
        stub_dir = _fresh(os.path.join(job_dir, "neo4j"))
        jsonl = os.path.join(job_dir, "pg.jsonl")
        pipe = self._pipeline(job_dir)
        cfg = N4.Neo4jConfig(uri=f"stub://{stub_dir}")
        t0 = time.perf_counter()
        with ctx.span("tabmap"):
            (tri,) = pipe.run(spark, targets=["triples"])
        with ctx.span("pg.build"):
            pg_res = [r for r in pipe.run(spark, targets=["pg"]) if r.name == "pg"][0]
        with ctx.span("pg.jsonl"):
            write_pg_jsonl(pipe.load(spark, "pg"), jsonl)
        with ctx.span("io.neo4j"):
            N4.load_pg_to_neo4j(pipe.load(spark, "pg"), cfg, write_partitions=ctx.cores)
        seconds = time.perf_counter() - t0

        failed = []
        stub = _stub_totals(stub_dir)
        expect = {
            "pg_rows": (pg_res.n_rows, m["nodes"] + m["edges"]),
            "stub_nodes": (stub["nodes"], m["nodes"]),
            "stub_edges": (stub["edges"], m["edges"]),
            "stub_node_ids": (stub["node_digest"], m["node_digest"]),
            "stub_edge_ids": (stub["edge_digest"], m["edge_digest"]),
        }
        failed += [k for k, (got, want) in expect.items() if got != want]
        pg = pipe.load(spark, "pg")
        row = pg.agg(*pg_digest()).first()
        pg_dig = (row["n"], row["h"])

        def read_back():
            row = read_pg_jsonl(spark, jsonl).agg(*pg_digest()).first()
            return (row["n"], row["h"])

        spark.conf.set("spark.sql.files.openCostInBytes", self.READ_OPEN_COST)
        try:
            read_s, jsonl_dig = timed_reads(spark, read_back, self.READS)
        finally:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        if jsonl_dig != pg_dig:
            failed.append("jsonl_roundtrip")
        if dangling_edges(pg).count():
            failed.append("dangling_edges")

        ctx.count("tabmap.rows_in", m["source_rows"])
        ctx.count("tabmap.triples_out", tri.n_rows or 0)
        ctx.count("pg.build.elements_out", pg_res.n_rows or 0)
        if ctx.tracer.enabled:
            ctx.count("pg.jsonl.bytes_out", dir_stats(jsonl)[0])
        ctx.count("io.neo4j.tx", stub["tx"])
        ctx.count("io.neo4j.rows_per_tx", stub["rows"] / max(stub["tx"], 1))
        ctx.count("io.neo4j.db_wait_s", stub["wait_s"])
        res = JobResult(seconds, m["source_rows"], failed, ops=1 + stub["tx"], read_s=read_s)
        return self._close_job(i, job_dir, res)


def _stub_totals(stub_dir: str) -> dict:
    import neo4j  # the stub, on sys.path since the session started

    return neo4j.read_totals(stub_dir)


# ---------------------------------------------------------------------------
# corpus_prep
# ---------------------------------------------------------------------------

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SEED = "s42"  # doc_pipeline_stages' split seed, so the checks agree
DECON_N = 4


def quality_gate():
    """doc_pipeline_stages' gate: >= 20 tokens, <= 20% digits."""
    digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    return (token_count(F.col("text")) >= 20) & (
        digits / F.greatest(F.length("text"), F.lit(1)) <= 0.2
    )


class CorpusPrep(BatchWorkload):
    """quality gate -> exact dedup -> near-dup dedup -> 80/10/10 split ->
    4-gram decontamination, one checkpointed Pipeline stage each; then
    ``doc_pipeline_stages``, the library's one-shot form of the same
    chain, on the same input. Its stage counts are the checks'
    reference, and it is timed with the job: its decontamination step
    picks its join by the survivor count (``_DECON_MERGE_MAX``), a
    dispatch the operator chain does not have."""

    name = "corpus_prep"
    SIZE = 3_000  # documents
    WARM_SIZE = 200
    WARM_JOBS = 1
    STAGES = ("raw", "quality", "exact_dedup", "near_dedup", "train_split", "decontaminated")

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.manifest: dict = {}

    def make_inputs(self, out_dir: str, size: int) -> dict:
        return gen.make_corpus(self.ctx.seed, out_dir, size)

    def job(self, i) -> JobResult:
        ctx, spark, m = self.ctx, self.ctx.spark, self.manifest
        job_dir = _fresh(os.path.join(ctx.scratch, "jobs", f"{self.name}_{i}"))
        # doc_pipeline_stages stages its survivors here; what it leaves
        # is what this job wrote
        staging = _fresh(spark.conf.get("spark.knetminer.stagingDir"))
        pipe = Pipeline(job_dir, name="corpus_prep")
        state: dict = {}
        split_obs = Observation()

        @pipe.stage("quality")
        def _quality(spark, _):
            return spark.read.parquet(m["path"]).filter(quality_gate())

        @pipe.stage("exact", deps=["quality"])
        def _exact(spark, inputs):
            return DD.drop_exact_dups(inputs["quality"])

        @pipe.stage("near", deps=["exact"])
        def _near(spark, inputs):
            return DD.drop_near_dups(
                inputs["exact"], k=3, threshold=0.5, n_docs=state["exact"]
            )

        @pipe.stage("split", deps=["near"])
        def _split(spark, inputs):
            out = SP.hash_split(inputs["near"], "doc_id", SPLIT_WEIGHTS, seed=SPLIT_SEED)
            return out.observe(split_obs, F.count_if(F.col("split") == "train").alias("train"))

        @pipe.stage("decon", deps=["split"])
        def _decon(spark, inputs):
            s = inputs["split"]
            train = s.filter(F.col("split") == "train").drop("split")
            test = s.filter(F.col("split") == "test").drop("split")
            return CT.decontaminate(train, test, n=DECON_N, max_hits=0)

        def run(stage: str) -> int:
            res = [r for r in pipe.run(spark, targets=[stage]) if r.name == stage][0]
            state[stage] = res.n_rows
            return res.n_rows

        t0 = time.perf_counter()
        with ctx.span("operators.text"):
            n_quality = run("quality")
        with ctx.span("operators.dedup.exact"):
            n_exact = run("exact")
        DD.CANDIDATE_METRICS.clear()  # so the bill read below is this job's
        with ctx.span("operators.dedup.near"):
            n_near = run("near")
        cand = _candidate_bill()
        with ctx.span("operators.sampling"):
            run("split")
        with ctx.span("operators.contamination"):
            n_clean = run("decon")
        with ctx.span("queries.corpus"):
            rows = doc_pipeline_stages(spark, m["dir"]).collect()
        seconds = time.perf_counter() - t0

        reference = {r["stage"]: r["n_docs"] for r in rows}
        n_train = int(split_obs.get["train"])
        got = dict(zip(self.STAGES, (m["docs"], n_quality, n_exact, n_near, n_train, n_clean)))
        failed = [s for s in self.STAGES if got[s] != reference.get(s)]
        if n_quality != m["quality_survivors"]:
            failed.append("planted_quality")
        if n_quality - n_exact != m["exact_copies"]:
            failed.append("planted_exact_copies")
        if n_exact - n_near != m["near_copies_above"]:
            failed.append("planted_near_copies")

        def read_back():
            row = pipe.load(spark, "decon").agg(
                F.count(F.lit(1)).alias("n"), F.count_distinct("doc_id").alias("ids")
            ).first()
            return (row["n"], row["ids"])

        read_s, (n_read, n_ids) = timed_reads(spark, read_back, self.READS)
        if not n_read == n_ids == reference.get("decontaminated"):
            failed.append("decon_readback")

        ctx.count("operators.text.docs_in", m["docs"])
        ctx.count("operators.text.docs_out", n_quality)
        ctx.count("operators.dedup.candidates", cand.get("candidates", 0))
        ctx.count("operators.dedup.verified_pairs", cand.get("out_rows", 0))
        ctx.count("operators.contamination.flagged", n_train - n_clean)
        res = JobResult(seconds, m["docs"], failed, read_s=read_s)
        res = self._close_job(i, job_dir, res)
        res.written += dir_stats(staging)[0]
        return res


def _candidate_bill() -> dict:
    """The candidate bill the library observed in the near-dup stage:
    exact shingle-bucket pairs up to 5000 documents, MinHash-LSH above
    (``drop_near_dups`` dispatches on the corpus size)."""
    for label in ("ngram_jaccard", "minhash_lsh"):
        if label in DD.CANDIDATE_METRICS:
            return DD.read_candidate_metrics(label)
    return {}


# ---------------------------------------------------------------------------
# incremental_ingest
# ---------------------------------------------------------------------------

GENE_ROWS = "accession string, name string, chromosome string, begin int, end int"
ANNOT_ROWS = "gene string, term string, evidence string"
DOC_ROWS = "doc_id long, text string, lang string, source string, n_chars long"
DELTA_GENE_MAPPER = DataFrameMapper(
    "accession",
    [
        column_triple_mapper("name", "hasGeneName"),
        column_triple_mapper("chromosome", "hasChromosomeId"),
        column_triple_mapper("begin", "hasChromosomeBegin"),
        column_triple_mapper("end", "hasChromosomeEnd"),
    ],
    [type_triple_mapper("Gene")],
)
DELTA_ANNOT_MAPPER = ANNOTATIONS.df_mapper
DEDUP_THRESHOLD = 0.6
DEDUP_SHAPE = {"num_perm": 64, "bands": 32}  # process_dedup_batch's defaults


class IncrementalIngest:
    """Closed loop, one caller: each job is one epoch folding a small KG
    delta (``streaming.kg.merge_triples_batch``) and a document batch
    (``streaming.dedupe.process_dedup_batch``) into stores preloaded at
    set-up; every epoch then reads both stores back.

    The preload sizes the KG base so that, under the library's default
    compaction policy (fold the delta log once it reaches a quarter of
    the base's bytes), every second epoch compacts: the first epoch of a
    run appends to the delta log and its read-back merges the pending
    log, the second compacts. A run therefore holds at least MIN_JOBS
    epochs."""

    name = "incremental_ingest"
    PRELOAD_GENES = 2_600
    PRELOAD_DOCS = 300
    DELTA_GENES = 20
    BATCH_DOCS = 40
    MIN_JOBS = 2
    READS = 1  # read-backs per epoch

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.epochs = 0
        self.compactions = 0
        self._wrap_compaction()

    def _wrap_compaction(self) -> None:
        """Count compactions and charge the delta log before it is folded
        away (``merge_triples_batch`` calls ``compact_kg`` as a module
        global)."""
        compact = SKG.compact_kg
        ctx, wl = self.ctx, self

        def traced_compact(spark, pg_path, *a, **kw):
            wl.ledger.tick()
            wl.compacted = True
            with ctx.span("streaming.kg.compact"):
                compact(spark, pg_path, *a, **kw)

        SKG.compact_kg = traced_compact

    def _paths(self, root: str) -> None:
        self.root = root
        self.kg = os.path.join(root, "kg")
        self.index = os.path.join(root, "index")
        self.docs = os.path.join(root, "docs")
        self.pairs = os.path.join(root, "pairs")

    def _triples(self, genes, annots):
        spark = self.ctx.spark
        with self.ctx.span("tabmap"):
            return DELTA_GENE_MAPPER.to_triples(spark.createDataFrame(genes, GENE_ROWS)).unionByName(
                DELTA_ANNOT_MAPPER.to_triples(spark.createDataFrame(annots, ANNOT_ROWS))
            )

    def prepare(self, rep: int) -> None:
        self.stream = gen.IngestStream(
            self.ctx.seed, self.PRELOAD_GENES, self.PRELOAD_DOCS, self.DELTA_GENES, self.BATCH_DOCS
        )
        self.preload = (*self.stream.preload_kg(), self.stream.preload_docs_rows())

    def warm(self) -> None:
        """Preload the stores; this runs the merge and dedup code every
        epoch runs, so it is also the warm-up."""
        ctx, spark = self.ctx, self.ctx.spark
        self._paths(_fresh(os.path.join(ctx.scratch, "store")))
        self.ledger = FileLedger(self.root)
        genes, annots, docs = self.preload
        self.kg_rows = ([genes], [annots])
        self.doc_rows = [docs]
        self.all_input = _rows_bytes(genes) + _rows_bytes(annots) + _rows_bytes(docs)
        SKG.merge_triples_batch(spark, self._triples(genes, annots), self.kg, ctx.cores, epoch_id=0)
        SD.process_dedup_batch(
            spark, spark.createDataFrame(docs, DOC_ROWS), 0, self.index, self.docs, self.pairs,
            threshold=DEDUP_THRESHOLD, **DEDUP_SHAPE,
        )
        self.epochs = self.compactions = 0

    def describe(self) -> str:
        return f"compactions={self.compactions}/{self.epochs} epochs"

    def job(self, i) -> JobResult:
        ctx, spark, e = self.ctx, self.ctx.spark, self.epochs
        genes, annots = self.stream.kg_delta(e)
        docs = self.stream.doc_batch(e)
        self.kg_rows[0].append(genes)
        self.kg_rows[1].append(annots)
        self.doc_rows.append(docs)
        self.epochs += 1
        self.compacted = False
        written0 = self.ledger.written
        t0 = time.perf_counter()
        with ctx.span("streaming.kg"):
            SKG.merge_triples_batch(
                spark, self._triples(genes, annots), self.kg, ctx.cores, epoch_id=e + 1
            )
        t1 = time.perf_counter()
        with ctx.span("streaming.dedupe"):
            SD.process_dedup_batch(
                spark, spark.createDataFrame(docs, DOC_ROWS), e + 1,
                self.index, self.docs, self.pairs,
                threshold=DEDUP_THRESHOLD, **DEDUP_SHAPE,
            )
        t2 = time.perf_counter()
        self.ledger.tick()
        in_bytes = _rows_bytes(genes) + _rows_bytes(annots) + _rows_bytes(docs)
        self.all_input += in_bytes
        ctx.count("streaming.kg.merge_s", t1 - t0)
        ctx.count("streaming.kg.compactions", int(self.compacted))
        self.compactions += self.compacted
        if self.compacted:
            ctx.count("streaming.kg.compact_epoch_s", t1 - t0)
        ctx.count("streaming.kg.delta_batches", 1)
        ctx.count("streaming.dedupe.batch_s", t2 - t1)
        ctx.count("tabmap.rows_in", len(genes) + len(annots))

        def read_back():
            with ctx.span("streaming.kg.read"):
                kg = SKG.read_kg(spark, self.kg).agg(*pg_digest()).first()
                return kg["n"], SD.read_pairs(spark, self.pairs).count()

        read_s, _ = timed_reads(spark, read_back, self.READS)
        ctx.count("streaming.kg.read_s", read_s)
        rows = len(genes) + len(annots) + len(docs)
        return JobResult(
            t2 - t0, rows, read_s=read_s,
            written=self.ledger.written - written0, input_bytes=in_bytes,
        )

    def written_ratio(self, results: list[JobResult]) -> float:
        return sum(r.written for r in results) / sum(r.input_bytes for r in results)

    def stored_ratio(self, results: list[JobResult]) -> float:
        """Final store size over everything ingested, preload included."""
        return self.stored / self.all_input

    def finish(self, results: list[JobResult]) -> list[str]:
        """read_kg == triples_to_pg(every triple ingested); the union of
        per-epoch pairs == MinHash-LSH pairs over the whole corpus."""
        spark, failed = self.ctx.spark, []
        genes = [r for part in self.kg_rows[0] for r in part]
        annots = [r for part in self.kg_rows[1] for r in part]
        want = triples_to_pg(self._triples(genes, annots)).agg(*pg_digest()).first()
        got = SKG.read_kg(spark, self.kg).agg(*pg_digest()).first()
        if (got["n"], got["h"]) != (want["n"], want["h"]):
            failed.append("read_kg_equals_rebuild")
        corpus = spark.createDataFrame([r for b in self.doc_rows for r in b], DOC_ROWS)
        full = DD.minhash_lsh_pairs(
            corpus, threshold=DEDUP_THRESHOLD, max_bucket_size=None, **DEDUP_SHAPE
        ).select("id_a", "id_b")
        inc = SD.read_pairs(spark, self.pairs).select("id_a", "id_b")
        if inc.exceptAll(full).count() or full.exceptAll(inc).count():
            failed.append("pairs_equal_full_corpus")
        self.stored = self.ledger.stored()
        self.ctx.count("streaming.kg.store_bytes", dir_stats(self.kg)[0])
        self.ctx.count("streaming.dedupe.index_rows", spark.read.parquet(self.index).count())
        self.ctx.count("streaming.dedupe.pairs_out", inc.count())
        return failed


def _rows_bytes(rows) -> int:
    """Bytes of the rows as tab-separated text (the delta's input size)."""
    return sum(len("\t".join(str(v) for v in r)) + 1 for r in rows)


WORKLOADS = {w.name: w for w in (KgBatch, CorpusPrep, IncrementalIngest)}
