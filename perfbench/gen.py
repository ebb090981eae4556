"""Seeded inputs and their ground truth.

Everything here is a pure function of the seed: the same seed gives
byte-identical arrays. Spark is touched only by the ``write_*``
functions, which materialize the arrays as the files the program
reads. Ground truth (expected product counts and MQ means, the planted
near-duplicate map, the exact cosine top-k) is computed from the arrays
alone and never inside a timed interval.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_HUBS = 8
#: The input snapshot date and the later re-delivery date (folder names).
SNAPSHOT = "20260901"
REDELIVERY = "20260915"
#: Files per generated parquet input, so scans split across cores.
INPUT_FILES = 4


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


def _texts(rng: np.random.Generator, n: int, vocab: int, lo: int, hi: int) -> list[list[int]]:
    lengths = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, vocab, int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    return [w.tolist() for w in np.split(words, cuts)]


def _join(tokens: list[int]) -> str:
    return " ".join(f"t{t}" for t in tokens)


def write_parquet_files(table: pa.Table, out_dir: str, files: int = INPUT_FILES) -> None:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


# --- monthly batch ------------------------------------------------------

def mq_flags(m: np.ndarray) -> dict[str, np.ndarray]:
    """The MQ score columns (quality/mq.py SCORE_COLS) as closed-form
    functions of the item id m, by the modulo rules of
    ``model/fixtures.py``."""
    r7 = m % 7
    open_rights = (r7 >= 1) & (r7 <= 4)
    iiif = m % 3 != 0
    media_master = m % 4 == 0
    access = iiif | media_master
    return {
        "title": m % 5 != 0,
        "description": m % 4 != 0,
        "creator": m % 3 != 0,
        "type": m % 2 != 0,
        "language": m % 7 != 0,
        "spatial": m % 6 != 0,
        "subject": m % 8 != 0,
        "collection": m % 9 != 0,
        "date": m % 10 != 0,
        "standardizedRights": r7 != 0,
        # flatten rebuilds ``object`` as a struct, which is never NULL,
        # so MQ's preview flag is always set (oracles.py, MQ preview note)
        "preview": np.ones(len(m), dtype=bool),
        "iiifManifest": iiif,
        "mediaMaster": media_master,
        "mediaAccess": access,
        "openRights": open_rights,
        "wikimediaReady": access & open_rights,
    }


@dataclass
class MonthlyInput:
    ids: np.ndarray  # item ids (doc_id), 1-based
    hub: np.ndarray  # hub index per item
    texts: list[str]
    langs: np.ndarray
    redelivery_hub: int
    new_ids: np.ndarray  # items added by the re-delivered snapshot

    @property
    def hubs(self) -> list[str]:
        return [f"hub{i}" for i in range(N_HUBS)]

    def docs_table(self) -> pa.Table:
        """Every item, the re-delivered ones included, in the
        ``documents`` shape that ``synthesize_enriched`` reads."""
        hubs = np.concatenate([self.hub, np.full(len(self.new_ids), self.redelivery_hub)])
        return pa.table({
            "doc_id": np.concatenate([self.ids, self.new_ids]),
            "text": self.texts,
            "lang": self.langs,
            "source": np.array(self.hubs)[hubs],
        })

    def expected(self, redelivered: bool) -> dict:
        """Closed-form product contents: item ids per hub, MQ means per
        provider and per (dataProvider, provider)."""
        ids, hub = self.ids, self.hub
        if redelivered:
            ids = np.concatenate([ids, self.new_ids])
            hub = np.concatenate([hub, np.full(len(self.new_ids), self.redelivery_hub)])
        flags = mq_flags(ids)
        per_hub = {}
        provider, contributor = {}, {}
        for h, name in enumerate(self.hubs):
            sel = hub == h
            per_hub[name] = int(sel.sum())
            provider[name] = _means(flags, sel)
            for d in range(3):
                csel = sel & (ids % 3 == d)
                if csel.any():
                    contributor[(f"{name}-dp{d}", name)] = _means(flags, csel)
        return {
            "items": int(len(ids)),
            "per_hub": per_hub,
            "provider": provider,
            "contributor": contributor,
        }


def _means(flags: dict[str, np.ndarray], sel: np.ndarray) -> dict[str, float]:
    out = {k: float(v[sel].mean()) for k, v in flags.items()}
    out["count"] = float(sel.sum())
    return out


def monthly_input(seed: int, items: int) -> MonthlyInput:
    rng = _rng(seed, 1)
    share = rng.dirichlet(np.full(N_HUBS, 2.0))
    hub = rng.choice(N_HUBS, size=items, p=share)
    new = max(1, items // 50)
    red = int(rng.integers(0, N_HUBS))
    tokens = _texts(rng, items + new, 5000, 8, 40)
    langs = np.array(["en", "es", "fr", "de", "it"])[rng.integers(0, 5, items + new)]
    return MonthlyInput(
        ids=np.arange(1, items + 1, dtype="int64"),
        hub=hub,
        texts=[_join(t) for t in tokens],
        langs=langs,
        redelivery_hub=red,
        new_ids=np.arange(items + 1, items + new + 1, dtype="int64"),
    )


def write_monthly(spark, inp: MonthlyInput, work: str) -> tuple[str, str]:
    """Materialize the master dataset (``<root>/<hub>/enrichment|jsonl/
    <date>/``, the S3FileHelper layout) plus the re-delivered snapshot
    of one hub, staged outside the master root. Returns (root, staged)."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.model.fixtures import (
        synthesize_enriched,
        synthesize_raw,
    )

    root = os.path.join(work, "master")
    staged = os.path.join(work, "redelivery")
    docs_dir = os.path.join(work, "docs")
    tmp = os.path.join(work, "tmp")
    write_parquet_files(inp.docs_table(), docs_dir)
    docs = spark.read.parquet(docs_dir)
    # both snapshots in one write per format: the base month, and the
    # re-delivered hub's newer snapshot (its old items plus the new ones)
    base = docs.where(F.col("doc_id") <= int(inp.ids[-1]))
    red = docs.where(F.col("source") == inp.hubs[inp.redelivery_hub])
    for kind, synth, fmt in (
        ("enrichment", synthesize_enriched, "parquet"),
        ("jsonl", synthesize_raw, "json"),
    ):
        both = synth(base).withColumn("__snap", F.lit(SNAPSHOT)).unionByName(
            synth(red).withColumn("__snap", F.lit(REDELIVERY))
        )
        # one file per hub snapshot: few files keep set-up and clean-up short
        both.withColumn("__hub", F.col("provider.name")).repartition(
            "__snap", "__hub"
        ).write.partitionBy("__snap", "__hub").format(fmt).save(os.path.join(tmp, kind))
        for date, out in ((SNAPSHOT, root), (REDELIVERY, staged)):
            src = os.path.join(tmp, kind, f"__snap={date}")
            for part in os.listdir(src):
                dest = os.path.join(out, part[len("__hub="):], kind)
                os.makedirs(dest, exist_ok=True)
                os.rename(os.path.join(src, part), os.path.join(dest, date))
    return root, staged


# --- index lifecycles ---------------------------------------------------

@dataclass
class DedupBatch:
    ids: np.ndarray
    texts: list[str]
    planted: dict[int, int]  # new id -> corpus id it was copied from


@dataclass
class DedupInput:
    corpus_texts: list[str]
    takedown: np.ndarray  # corpus ids deleted mid-run, in len(after_delete) chunks
    batches: list[DedupBatch]  # served before the takedown
    after_delete: list[DedupBatch]  # each served after deleting its chunk


@dataclass
class AnnInput:
    vectors: np.ndarray  # (n, dim) corpus, ids 0..n-1
    queries: list[np.ndarray]  # (q, dim) per query batch
    appended: list[np.ndarray]  # append batches, ids from APPEND_ID0 on


QUERY_ID0 = 1_000_000_000
APPEND_ID0 = 2_000_000_000
NEW_DOC_ID0 = 1_000_000
BATCH_DOCS = 200
QUERY_BATCH = 50
VOCAB = 30000


def _mutate(rng: np.random.Generator, tokens: list[int], edits: int) -> list[int]:
    out = list(tokens)
    for pos in rng.choice(len(out), size=edits, replace=False):
        out[int(pos)] = int(rng.integers(0, VOCAB))
    return out


def dedup_input(
    seed: int, docs: int, serve_batches: int, delete_batches: int, takedown: int = 50,
) -> DedupInput:
    """A corpus, then 200-doc batches of which half are near-copies
    (two tokens changed) of distinct corpus docs."""
    rng = _rng(seed, 2)
    corpus = _texts(rng, docs, VOCAB, 30, 60)
    order = rng.permutation(docs)
    td = np.sort(order[:takedown])
    pool = iter(order[takedown:].tolist())  # sources, each planted once
    next_id = NEW_DOC_ID0

    def batch(takedown_sources: list[int]) -> DedupBatch:
        nonlocal next_id
        half = BATCH_DOCS // 2
        sources = takedown_sources + [next(pool) for _ in range(half - len(takedown_sources))]
        planted_tokens = [_mutate(rng, corpus[s], 2) for s in sources]
        fresh = _texts(rng, BATCH_DOCS - half, VOCAB, 30, 60)
        ids = np.arange(next_id, next_id + BATCH_DOCS, dtype="int64")
        next_id += BATCH_DOCS
        perm = rng.permutation(BATCH_DOCS)
        toks = planted_tokens + fresh
        texts = [_join(toks[i]) for i in perm]
        planted = {int(ids[j]): sources[int(perm[j])] for j in range(BATCH_DOCS) if perm[j] < half}
        return DedupBatch(ids, texts, planted)

    # the takedown is deleted in one chunk per after-delete batch, and
    # each such batch plants copies of the chunk just deleted
    chunks = [c.tolist() for c in np.array_split(td, delete_batches)]
    before = [batch([]) for _ in range(serve_batches)]
    after = [batch(c) for c in chunks]
    return DedupInput(
        corpus_texts=[_join(t) for t in corpus],
        takedown=td.astype("int64"),
        batches=before,
        after_delete=after,
    )


def ann_input(
    seed: int, vectors: int, query_batches: int, append_batches: int, dim: int = 64,
) -> AnnInput:
    """Vectors around 32 random centres; the queries and the appended
    vectors are drawn around the same centres."""
    vrng = _rng(seed, 3)
    centers = vrng.normal(size=(32, dim))

    def around(n: int) -> np.ndarray:
        return centers[vrng.integers(0, len(centers), n)] + 0.6 * vrng.normal(size=(n, dim))

    return AnnInput(
        vectors=around(vectors),
        queries=[around(QUERY_BATCH) for _ in range(query_batches)],
        appended=[around(max(1, vectors // 100)) for _ in range(append_batches)],
    )


def docs_table(ids: np.ndarray, texts: list[str]) -> pa.Table:
    return pa.table({"id": ids.astype("int64"), "text": texts})


def vectors_table(first_id: int, vecs: np.ndarray) -> pa.Table:
    ids = np.arange(first_id, first_id + len(vecs), dtype="int64")
    return pa.table({"id": ids, "vec": pa.array(list(vecs), type=pa.list_(pa.float64()))})


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Ids (row numbers) of the k corpus vectors of highest cosine
    similarity per query, best first."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ c.T
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(sims, top, axis=1), axis=1, kind="stable")
    return np.take_along_axis(top, order, axis=1)
