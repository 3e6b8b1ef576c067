"""Seeded input generator for the perfbench workloads.

Everything here is a pure function of ``seed`` (numpy PCG64 streams), so
the same seed always yields byte-identical inputs. It produces:

* KnetMiner-style TSV sources for ``kg_batch`` (genes, proteins, gene
  annotations with several rows per gene, protein->gene ``encodes``
  edges); ids are shared across files so the PG build really merges;
* a document corpus for ``corpus_prep`` shaped like the reference
  corpus (see the notes above ZIPF_EXPONENT: which figures are fitted and
  which are unverified), with a long tail, low-quality documents,
  planted exact duplicates and near-duplicate copies on both sides of
  the 0.5 shingle-Jaccard line;
* the preload and per-epoch delta stream for ``incremental_ingest``
  (:class:`IngestStream`).

Every planted count is returned in a manifest so the benchmark can check
the pipeline's outputs against it. Run standalone to inspect inputs::

    python3 perfbench/gen.py --seed 1 --out some/dir [--workload kg_batch]
"""

from __future__ import annotations

import argparse
import json
import os
import zlib

import numpy as np

VOCAB_SIZE = 6000
MIN_QUALITY_TOKENS = 20  # the quality gate's token floor (doc_pipeline_stages)

# The KG sources' shape is unverified: no KnetMiner source counts are
# available offline, so these are chosen values, not fitted ones.
GO_TERMS = 3000
ANNOTATIONS_PER_GENE_MAX = 6  # 1..6 annotation rows per gene, uniform
TWO_GENE_PROTEIN_FRAC = 0.2  # proteins that encode a second gene

GENE_COLS = ["accession", "name", "chromosome", "begin", "end"]
PROTEIN_COLS = ["accession", "name", "length"]
ANNOT_COLS = ["gene", "term", "evidence"]
ENCODES_COLS = ["protein", "gene", "score"]
EVIDENCE = ["IEA", "IDA", "IMP", "ISS", "TAS"]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def _vocab(seed: int) -> np.ndarray:
    rng = _rng(seed, 0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, VOCAB_SIZE)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return np.array(sorted(words))


# ---------------------------------------------------------------------------
# kg_batch: TSV sources
# ---------------------------------------------------------------------------


def gene_id(i: int) -> str:
    return f"GX{i:07d}"


def protein_id(i: int) -> str:
    return f"PR{i:07d}"


def gene_rows(rng: np.random.Generator, ids: range, vocab: np.ndarray) -> list[tuple]:
    begin = rng.integers(1, 50_000_000, len(ids))
    span = rng.integers(500, 20_000, len(ids))
    chrom = rng.integers(1, 8, len(ids))
    names = rng.choice(vocab, len(ids))
    return [
        (gene_id(i), f"{n.upper()}{i % 97}", f"{c}{'ABD'[i % 3]}", int(b), int(b + s))
        for i, n, c, b, s in zip(ids, names, chrom, begin, span)
    ]


def annotation_rows(
    rng: np.random.Generator, genes: np.ndarray, per_gene_max: int
) -> list[tuple]:
    """Several (gene, GO term, evidence) rows per gene; ids repeat, so
    the PG build merges them into the gene node's property sets."""
    counts = rng.integers(1, per_gene_max + 1, len(genes))
    g = np.repeat(genes, counts)
    terms = rng.integers(0, GO_TERMS, len(g))
    ev = rng.integers(0, len(EVIDENCE), len(g))
    return [
        (gene_id(int(a)), f"GO:{t:07d}", EVIDENCE[e]) for a, t, e in zip(g, terms, ev)
    ]


def id_digest(ids) -> int:
    """Order-independent digest of an id set: the sum of CRC32s (the
    neo4j stub computes the same sum over the ids it is sent)."""
    return sum(zlib.crc32(i.encode()) for i in ids)


def _write_tsv(path: str, header: list[str], rows: list[tuple]) -> int:
    with open(path, "w") as fh:
        fh.write("# perfbench generated source\n")
        fh.write("\t".join(header) + "\n")
        for r in rows:
            fh.write("\t".join(str(v) for v in r) + "\n")
    return os.path.getsize(path)


def make_kg_sources(seed: int, out_dir: str, n_genes: int) -> dict:
    """Write genes/proteins/annotations/encodes TSVs; returns the manifest
    (element counts the PG, the JSONL and the loader must all reproduce)."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(seed)
    rng = _rng(seed, 1)
    n_proteins = n_genes
    genes = gene_rows(rng, range(n_genes), vocab)
    pnames = rng.choice(vocab, n_proteins)
    plen = rng.integers(50, 3000, n_proteins)
    proteins = [
        (protein_id(i), f"{n}-prot", int(ln)) for i, (n, ln) in enumerate(zip(pnames, plen))
    ]
    annots = annotation_rows(rng, np.arange(n_genes), per_gene_max=ANNOTATIONS_PER_GENE_MAX)
    # every protein encodes one gene; some also encode a second one
    first = rng.integers(0, n_genes, n_proteins)
    second = (first + rng.integers(1, n_genes, n_proteins)) % n_genes
    two = rng.random(n_proteins) < TWO_GENE_PROTEIN_FRAC
    encodes = [
        (protein_id(p), gene_id(int(g)), round(float(s), 3))
        for p, g, s in zip(range(n_proteins), first, rng.random(n_proteins))
    ] + [
        (protein_id(int(p)), gene_id(int(g)), round(float(s), 3))
        for p, g, s in zip(np.flatnonzero(two), second[two], rng.random(int(two.sum())))
    ]
    files = {
        "genes": (GENE_COLS, genes),
        "proteins": (PROTEIN_COLS, proteins),
        "annotations": (ANNOT_COLS, annots),
        "encodes": (ENCODES_COLS, encodes),
    }
    in_bytes = 0
    paths = {}
    for name, (cols, rows) in files.items():
        paths[name] = os.path.join(out_dir, f"{name}.tsv")
        in_bytes += _write_tsv(paths[name], cols, rows)
    return {
        "paths": paths,
        "input_bytes": in_bytes,
        "source_rows": sum(len(rows) for _, rows in files.values()),
        "nodes": n_genes + n_proteins,
        "edges": len(encodes),
        "node_digest": id_digest(r[0] for r in genes) + id_digest(r[0] for r in proteins),
        "edge_digest": id_digest(f"encodes:{p}-{g}" for p, g, _ in encodes),
        "genes": n_genes,
        "proteins": n_proteins,
        "annotation_rows": len(annots),
    }


# ---------------------------------------------------------------------------
# corpus_prep: document corpus
# ---------------------------------------------------------------------------


# The corpus shape is fitted to the repository's reference corpus, the
# sf0.1 ``documents.parquet`` of the query test data (5000 documents):
# token counts are uniform on [10, 100] (median 54, none longer); 8
# documents (0.16%) are exact copies of another; 232 documents (4.6%)
# have near-duplicate copies, made by appending the word "dup" to the
# document (a copy of a copy appends it again): 250 copies, 3-shingle
# Jaccard 0.80-0.99;
# clusters hold 1 copy (222), 2 copies (9) or 3 (1); no pair lies in
# [0.3, 0.5); languages en 41%, zh/es/fr/de 14-15% each; 20 sources.
#
# Not taken from the reference: its text draws uniformly from 30 words,
# so documents share 4-grams by chance and decontamination flagged
# over 90% of the train split (a 10000-document corpus of that shape).
# Words here follow Zipf's law instead (exponent 1, the textbook value
# for natural-language word frequencies, not fitted to any corpus) over
# VOCAB_SIZE random words; the vocabulary size is unverified.
#
# Unverified, no source: the long tail (the reference corpus has none;
# the benchmark plants one so that long documents reach the gram-count
# paths of decontamination), the digit-heavy documents (0 in the
# reference; planted so the quality gate's digit rule runs) and the
# copies below the 0.5 line (0 in the reference; planted so the
# threshold is tested from both sides).
ZIPF_EXPONENT = 1.0
DUP_WORD = "dup"
MIN_TOKENS, MAX_TOKENS = 10, 100
EXACT_FRAC = 8 / 5000
NEAR_CLUSTER_FRAC = 232 / 5000
NEAR_COPIES_P = {1: 222 / 232, 2: 9 / 232, 3: 1 / 232}  # copies per cluster
NEAR_COPY_FRAC = 250 / 5000
LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
SOURCES = 20
LONG_FRAC, LONG_FACTOR = 0.02, 8  # unverified
DIGIT_FRAC = 0.01  # unverified
BELOW_LINE_FRAC, BELOW_LINE_REPLACE = 0.01, 0.25  # unverified; Jaccard ~0.3


class _TextSource:
    """Zipf-distributed word draws over a fixed random vocabulary."""

    def __init__(self, seed: int):
        self.vocab = _vocab(seed)
        p = 1.0 / np.arange(1, len(self.vocab) + 1) ** ZIPF_EXPONENT
        self.cdf = np.cumsum(p / p.sum())

    def words(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return np.minimum(idx, len(self.vocab) - 1)

    def text(self, idx: np.ndarray) -> str:
        return " ".join(self.vocab[idx])

    def mutate(self, rng: np.random.Generator, idx: np.ndarray, frac: float) -> np.ndarray:
        """Replace ``ceil(frac * n)`` positions with a different word."""
        out = idx.copy()
        n = max(1, int(np.ceil(frac * len(idx))))
        pos = rng.choice(len(idx), n, replace=False)
        shift = rng.integers(1, len(self.vocab), n)
        out[pos] = (out[pos] + shift) % len(self.vocab)
        return out


def _lengths(rng: np.random.Generator, n: int, long_frac: float = LONG_FRAC) -> np.ndarray:
    """Token counts uniform on [MIN_TOKENS, MAX_TOKENS], with
    ``long_frac`` of the documents LONG_FACTOR times longer.

    The quantiles are stratified (one draw per 1/n slice, shuffled), so
    every seed gets nearly the same length distribution and total work;
    only which document gets which length changes."""
    u = (np.arange(n) + rng.random(n)) / n
    base = MIN_TOKENS + np.floor(u * (MAX_TOKENS - MIN_TOKENS + 1))
    base[rng.permutation(n)[: round(long_frac * n)]] *= LONG_FACTOR
    return rng.permutation(base).astype(int)


def _doc(doc_id: int, text: str) -> tuple:
    langs = list(LANGS)
    cum = np.cumsum(list(LANGS.values()))
    lang = langs[int(np.searchsorted(cum, zlib.crc32(b"%d" % doc_id) % cum[-1], side="right"))]
    return (doc_id, text, lang, f"src{doc_id % SOURCES}", len(text))


def _near_copies(rng: np.random.Generator, n_clusters: int) -> np.ndarray:
    """Copies per near-duplicate cluster, drawn from NEAR_COPIES_P."""
    sizes = np.array(list(NEAR_COPIES_P))
    return rng.choice(sizes, n_clusters, p=list(NEAR_COPIES_P.values()))


def corpus_rows(seed: int, n_docs: int) -> tuple[list[tuple], dict]:
    """About ``n_docs`` documents plus the planted counts.

    Composition: unique base documents (some shorter than the quality
    gate's 20-token floor), digit-heavy documents that fail the gate,
    exact copies of quality-passing documents, near-duplicate clusters
    (each copy appends DUP_WORD to the one before it; Jaccard >= 0.8)
    and copies with a quarter of their words replaced (Jaccard ~0.3)."""
    src = _TextSource(seed)
    rng = _rng(seed, 2)
    n_exact = max(1, round(EXACT_FRAC * n_docs))
    copies = _near_copies(rng, max(1, round(NEAR_CLUSTER_FRAC * n_docs)))
    n_below = max(1, round(BELOW_LINE_FRAC * n_docs))
    n_digit = max(1, round(DIGIT_FRAC * n_docs))
    n_base = n_docs - n_exact - int(copies.sum()) - n_below - n_digit
    lens = _lengths(rng, n_base)
    base = [src.words(rng, n) for n in lens]
    rows = [_doc(i, src.text(w)) for i, w in enumerate(base)]
    good = np.flatnonzero(lens >= MIN_QUALITY_TOKENS)
    next_id = n_base
    for _ in range(n_digit):
        n = int(rng.integers(MIN_QUALITY_TOKENS, MAX_TOKENS))
        digits = rng.integers(0, 10 ** 6, n)
        rows.append(_doc(next_id, " ".join(str(d) for d in digits)))
        next_id += 1
    for i in rng.choice(good, n_exact, replace=False):
        rows.append(_doc(next_id, rows[int(i)][1]))
        next_id += 1
    for i, k in zip(rng.choice(good, len(copies), replace=False), copies):
        text = rows[int(i)][1]
        for _ in range(k):
            text += " " + DUP_WORD
            rows.append(_doc(next_id, text))
            next_id += 1
    for i in rng.choice(good, n_below, replace=False):
        rows.append(_doc(next_id, src.text(src.mutate(rng, base[int(i)], BELOW_LINE_REPLACE))))
        next_id += 1
    planted = {
        "docs": len(rows),
        "low_quality": int(n_base - len(good)) + n_digit,
        "exact_copies": n_exact,
        "near_clusters": len(copies),
        "near_copies_above": int(copies.sum()),
        "near_copies_below": n_below,
    }
    planted["quality_survivors"] = planted["docs"] - planted["low_quality"]
    planted["exact_survivors"] = planted["quality_survivors"] - n_exact
    return rows, planted


def write_docs_parquet(rows: list[tuple], path: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    pq.write_table(table, path)
    return os.path.getsize(path)


def make_corpus(seed: int, out_dir: str, n_docs: int) -> dict:
    """Write ``documents.parquet`` (the layout ``doc_pipeline_stages``
    reads) and return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    rows, planted = corpus_rows(seed, n_docs)
    path = os.path.join(out_dir, "documents.parquet")
    return {
        "dir": out_dir,
        "path": path,
        "input_bytes": write_docs_parquet(rows, path),
        **planted,
    }


# ---------------------------------------------------------------------------
# incremental_ingest: preload + delta stream
# ---------------------------------------------------------------------------


class IngestStream:
    """The closed-loop caller's input: a preload, then one small KG delta
    and one document batch per epoch. Epoch ``e`` depends only on
    ``(seed, e)`` and the epochs before it, so any prefix of the stream
    is reproducible.

    KG deltas insert new genes and add annotation rows to genes that
    already exist (updates; the share of updates is unverified). Document
    batches hold fresh documents plus near-duplicate copies of documents
    of the previous batch, at the reference corpus' copy rate and copy
    form (DUP_WORD appended). Epoch sizes are fixed (one annotation per
    gene, no extra-long documents) so every epoch carries about the same
    work."""

    def __init__(
        self,
        seed: int,
        preload_genes: int,
        preload_docs: int,
        delta_genes: int,
        batch_docs: int,
    ):
        self.seed = seed
        self.src = _TextSource(seed)
        self.vocab = self.src.vocab
        self.preload_genes = preload_genes
        self.preload_docs = preload_docs
        self.delta_genes = delta_genes
        self.batch_docs = batch_docs
        self._recent: list[str] = []

    # -- KG side --

    def preload_kg(self) -> tuple[list[tuple], list[tuple]]:
        rng = _rng(self.seed, 3)
        genes = gene_rows(rng, range(self.preload_genes), self.vocab)
        annots = annotation_rows(
            rng, np.arange(self.preload_genes), per_gene_max=ANNOTATIONS_PER_GENE_MAX
        )
        return genes, annots

    def kg_delta(self, epoch: int) -> tuple[list[tuple], list[tuple]]:
        """(new gene rows, annotation rows); ~40% of the annotations hit
        genes that existed before this epoch."""
        rng = _rng(self.seed, 4, epoch)
        first = self.preload_genes + epoch * self.delta_genes
        genes = gene_rows(rng, range(first, first + self.delta_genes), self.vocab)
        new = np.arange(first, first + self.delta_genes)
        old = rng.integers(0, first, max(1, (2 * self.delta_genes) // 3))
        annots = annotation_rows(rng, np.concatenate([new, old]), per_gene_max=1)
        return genes, annots

    # -- document side --

    def _batch(self, rng: np.random.Generator, first_id: int, n: int, n_near: int) -> list[tuple]:
        lens = np.maximum(_lengths(rng, n - n_near, long_frac=0.0), MIN_QUALITY_TOKENS)
        texts = [self.src.text(self.src.words(rng, k)) for k in lens]
        if n_near:
            picks = rng.choice(len(self._recent), n_near, replace=False)
            texts += [self._recent[int(i)] + " " + DUP_WORD for i in picks]
        self._recent = texts
        return [_doc(first_id + i, t) for i, t in enumerate(texts)]

    def preload_docs_rows(self) -> list[tuple]:
        self._recent = []
        return self._batch(_rng(self.seed, 5), 0, self.preload_docs, 0)

    def doc_batch(self, epoch: int) -> list[tuple]:
        """Call in epoch order after :meth:`preload_docs_rows`."""
        rng = _rng(self.seed, 6, epoch)
        first = self.preload_docs + epoch * self.batch_docs
        n_near = max(1, round(NEAR_COPY_FRAC * self.batch_docs))
        return self._batch(rng, first, self.batch_docs, n_near)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=["kg_batch", "corpus_prep"], default="kg_batch")
    ap.add_argument("--size", type=int, default=2000, help="genes or documents")
    args = ap.parse_args()
    if args.workload == "kg_batch":
        manifest = make_kg_sources(args.seed, args.out, args.size)
    else:
        manifest = make_corpus(args.seed, args.out, args.size)
    print(json.dumps(manifest, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
