"""The three workloads: the monthly batch, dedup ingest and ANN serve.

Each is a closed loop with one client: the next call starts when the
previous one returns. Every call into the program is made inside a
span named after its layer; output checks run between calls, outside
every span. The call counts are fixed by ``--seconds``, so both sides
of a comparison do the same work.
"""

from __future__ import annotations

import csv
import functools
import glob
import os
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Ops, du, rmtree
from perfbench.spans import Recorder
from perfbench.stats import median

#: Fixed product date, so output paths do not depend on the wall clock.
NOW = datetime(2026, 10, 1, tzinfo=timezone.utc)
STEPS = ["parquet", "jsonl", "mq", "sitemap"]

#: Layer name -> (module path, function) for every layer the benchmark
#: times; the monthly four are called by ``monthly_batch.execute``.
MONTHLY_LAYERS = {
    "parquet_dump": ("batch_process_dpla_index_spark.products.parquet_dump", "execute"),
    "jsonl_dump": ("batch_process_dpla_index_spark.products.jsonl_dump", "execute"),
    "mq": ("batch_process_dpla_index_spark.products.monthly_batch", "mq_reports_step"),
    "sitemap": ("batch_process_dpla_index_spark.products.sitemap", "execute"),
}
INDEX_LAYERS = [
    "dedup_index.build", "dedup_index.serve", "dedup_index.append",
    "index_tombstones.delete", "index_tombstones.compact",
    "ann_index.build", "ann_index.serve", "ann_index.append",
]
LAYERS = list(MONTHLY_LAYERS) + INDEX_LAYERS
#: Layers whose per-call wall time is reported in ms (serve calls).
MS_LAYERS = {"dedup_index.serve", "ann_index.serve"}
#: Per-layer metrics, in report order; "wall" is wall_s or wall_ms.
LAYER_METRICS = (
    "wall", "self_s", "jobs", "stages", "tasks", "task_cpu_s",
    "busy_share", "gc_s", "shuffle_write_mb", "spill_mb", "out_mb",
)
TRACE_METRICS = ("trace.overhead_share", "trace.batch_span_coverage", "trace.batch_self_s")


#: Layer spans have no child spans, so a layer's self_s equals its wall
#: time; it stays in the saved report but is not printed as a metric.
UNPRINTED_LAYER_METRICS = ("self_s",)


def layer_metric_names() -> list[str]:
    """Every printed per-layer metric name, in report order."""
    names = []
    for layer in LAYERS:
        for m in LAYER_METRICS:
            if m in UNPRINTED_LAYER_METRICS:
                continue
            if m == "wall":
                m = "wall_ms" if layer in MS_LAYERS else "wall_s"
            names.append(f"{layer}.{m}")
    return names + list(TRACE_METRICS)


#: The span that encloses one bulk pass, per workload.
BULK_SPAN = {
    "monthly_batch": "monthly_batch.execute",
    "dedup_ingest": "dedup_ingest.build",
    "ann_serve": "ann_serve.build",
}
#: Warm rebuilds per index workload; batch_s is their median. A dedup
#: build is short (about 1.2 s on 4 cores), so one alone is noisy.
WARM_BUILDS = {"dedup_ingest": 3, "ann_serve": 1}


@dataclass
class Ctx:
    spark: object
    rec: Recorder
    ops: Ops
    work: str
    seconds: int

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


@contextmanager
def layer_spans(rec: Recorder):
    """Time the four steps inside ``monthly_batch.execute`` by wrapping
    their module functions for the duration of the block."""
    import importlib

    saved = []
    for name, (mod_name, attr) in MONTHLY_LAYERS.items():
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*a, _orig=orig, _name=name, **k):
            with rec.span(_name):
                return _orig(*a, **k)

        setattr(mod, attr, wrapper)
        saved.append((mod, attr, orig))
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


def _manifest(path: str) -> dict[str, str]:
    with open(os.path.join(path, "_MANIFEST"), encoding="utf-8") as f:
        return dict(line.split(": ", 1) for line in f.read().splitlines() if ": " in line)


def _csv_rows(path: str) -> list[dict[str, str]]:
    rows = []
    for p in sorted(glob.glob(os.path.join(glob.escape(path), "part-*.csv"))):
        with open(p, newline="", encoding="utf-8") as f:
            rows.extend(csv.DictReader(f))
    return rows


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


# --- monthly batch ------------------------------------------------------

def monthly_generate(seed: int, seconds: int):
    return gen.monthly_input(seed, items=24000)


def monthly_materialize(spark, data, work: str) -> dict:
    root, staged = gen.write_monthly(spark, data, work)
    master = du(root)
    # "month" names the truth the master dataset matches: "base" until
    # the re-delivered snapshot lands, then "redelivered"
    return {"root": root, "staged": staged, "root_bytes": master, "month": "base",
            "rows": {"items": len(data.ids), "redelivered_new": len(data.new_ids)},
            "bytes": {"master": master, "redelivery": du(staged)}}


def monthly_truth(data) -> dict:
    return {"base": data.expected(False), "redelivered": data.expected(True)}


def _check_mq(ops: Ops, mq_dir: str, exp: dict) -> None:
    for fname, key_cols, want in (
        ("provider.csv", ["provider"], exp["provider"]),
        ("contributor.csv", ["dataProvider", "provider"], exp["contributor"]),
    ):
        rows = _csv_rows(os.path.join(mq_dir, fname))
        got = {}
        for r in rows:
            key = r[key_cols[0]] if len(key_cols) == 1 else tuple(r[c] for c in key_cols)
            got[key] = r
        if not ops.check(set(got) == set(want), f"{fname}: keys differ"):
            continue
        for key, means in want.items():
            for col, v in means.items():
                if abs(float(got[key][col]) - v) > 1e-9:
                    ops.fail(f"{fname}: {key} {col} = {got[key][col]}, want {v}")
                    break


def _check_monthly(ops: Ops, result, out: str, exp: dict) -> float:
    """Check one monthly pass; returns the share of expected items found
    in the least complete of the parquet, jsonl and sitemap products."""
    if not ops.check(
        result.failed_step is None and result.steps_run == STEPS,
        f"batch failed at {result.failed_step}: {result.error}",
    ):
        return 0.0
    month = os.path.join("2026", "10")
    n = exp["items"]
    rows = _parquet_rows(os.path.join(out, "parquet", month, "all.parquet"))
    ops.check(rows == n, f"parquet rows {rows} != {n}")
    jsonl = os.path.join(out, "jsonl", month)
    for hub, count in exp["per_hub"].items():
        got = int(_manifest(os.path.join(jsonl, f"{hub}.jsonl"))["Record count"])
        ops.check(got == count, f"{hub}.jsonl count {got} != {count}")
    total = int(_manifest(os.path.join(jsonl, "all.jsonl"))["Total record count"])
    ops.check(total == n, f"all.jsonl count {total} != {n}")
    _check_mq(ops, os.path.join(out, "mq", month), exp)
    site = os.path.join(out, "sitemap")
    declared = int(_manifest(site)["Total URL count"])
    urls = 0
    for p in glob.glob(os.path.join(site, "*", "all_item_urls_*.xml")):
        with open(p, encoding="utf-8") as f:
            urls += f.read().count("<url>")
    ops.check(declared == n and urls == n, f"sitemap urls {declared}/{urls} != {n}")
    return min(rows, total, urls) / n


def _monthly_pass(ctx: Ctx, inputs: dict, out: str, exp: dict) -> tuple[float, float]:
    from batch_process_dpla_index_spark.products import monthly_batch

    ctx.ops.begin()
    with ctx.rec.span(BULK_SPAN["monthly_batch"]) as s:
        result = monthly_batch.execute(ctx.spark, inputs["root"], out, now=NOW)
    found = _check_monthly(ctx.ops, result, out, exp)
    return s.dur, found


def monthly_bulk(ctx: Ctx, data, inputs: dict, truth: dict, warm: int) -> tuple[list[float], float]:
    """A cold pass then ``warm`` passes; returns their durations and the
    stored-bytes ratio of the first pass."""
    times, ratio = [], 0.0
    for i in range(1 + warm):
        out = ctx.path(f"out/pass{i}")
        t, _ = _monthly_pass(ctx, inputs, out, truth[inputs["month"]])
        times.append(t)
        if i == 0:
            ratio = du(out) / inputs["root_bytes"]
        rmtree(out)
    return times, ratio


def monthly_run(ctx: Ctx, data, inputs: dict, truth: dict) -> dict:
    from batch_process_dpla_index_spark.products import monthly_batch

    # the serve loop makes its own span; skip the traced wrapper, if any
    mq_step = getattr(monthly_batch.mq_reports_step, "__wrapped__", monthly_batch.mq_reports_step)
    passes, ratio = monthly_bulk(ctx, data, inputs, truth, warm=2)
    # a hub re-delivers: its newer dated snapshot lands, the month re-runs
    for hub in os.listdir(inputs["staged"]):
        for kind in ("enrichment", "jsonl"):
            os.rename(
                os.path.join(inputs["staged"], hub, kind, gen.REDELIVERY),
                os.path.join(inputs["root"], hub, kind, gen.REDELIVERY),
            )
    inputs["month"] = "redelivered"
    out = ctx.path("out/update")
    update_s, found = _monthly_pass(ctx, inputs, out, truth["redelivered"])
    # serve: the MQ report re-queried over the month's parquet product
    parquet_out = os.path.join(out, "parquet", "2026", "10", "all.parquet")
    mq_out = ctx.path("out/mq-serve")
    serve = []
    for _ in range(max(11, ctx.seconds + 2)):  # a tail needs more than 10
        ctx.ops.begin()
        with ctx.rec.span("mq") as s:
            mq_step(ctx.spark, parquet_out, mq_out)
        serve.append(s.dur)
        _check_mq(ctx.ops, mq_out, truth["redelivered"])
    rmtree(ctx.path("out"))
    return {
        "cold_batch_s": passes[0],
        "batch_s": median(passes[1:]),
        "update_s": update_s,
        "serve": serve,
        "stored_bytes_ratio": ratio,
        "recall": found,
    }


# --- index lifecycles ---------------------------------------------------

DELETE_ROUNDS = 1  # takedown cycles: delete, serve and append one batch, compact
APPEND_EVERY = 4  # served batches whose accepted docs go to one append call
ANN_APPENDS = 2
ANN_K = 10


def _index_builds(ctx: Ctx, build: Callable, bulk_span: str, n: int) -> list[float]:
    """``n`` timed calls of ``build``, each inside the workload's bulk
    span."""
    times = []
    for _ in range(n):
        ctx.ops.begin()
        with ctx.rec.span(bulk_span) as s:
            build()
        times.append(s.dur)
    return times


# dedup ingest

def dedup_generate(seed: int, seconds: int):
    # seconds + 2 served batches in all, those after a takedown included,
    # so that the tail has 10 samples beyond it
    return gen.dedup_input(
        seed, docs=8000, serve_batches=seconds + 2 - DELETE_ROUNDS, delete_batches=DELETE_ROUNDS,
    )


def dedup_materialize(spark, data, work: str) -> dict:
    inp = os.path.join(work, "inputs")
    corpus = os.path.join(inp, "corpus")
    gen.write_parquet_files(
        gen.docs_table(np.arange(len(data.corpus_texts)), data.corpus_texts), corpus
    )
    batches = []
    for i, b in enumerate(data.batches + data.after_delete):
        path = os.path.join(inp, f"batch{i}")
        gen.write_parquet_files(gen.docs_table(b.ids, b.texts), path, files=1)
        batches.append(path)
    return {
        "corpus": corpus, "batches": batches, "input_bytes": du(corpus),
        "rows": {"docs": len(data.corpus_texts),
                 "batch_docs": sum(len(b.ids) for b in data.batches + data.after_delete)},
        "bytes": {"corpus": du(corpus), "batches": sum(du(p) for p in batches)},
    }


def dedup_truth(data) -> dict:
    # the planted near-duplicate map is made by the generator
    return {}


def dedup_bulk(ctx: Ctx, data, inputs: dict, truth: dict, warm: int) -> tuple[list[float], float]:
    """A cold build then ``warm`` rebuilds of the dedup index; returns
    their durations and the stored-bytes ratio after the last."""
    from batch_process_dpla_index_spark.products.dedup_index import build_dedup_index

    index_dir, n = ctx.path("dedup_index"), len(data.corpus_texts)

    def build():
        docs = ctx.spark.read.parquet(inputs["corpus"])
        with ctx.rec.span("dedup_index.build"):
            man = build_dedup_index(docs, "text", "id", index_dir)
        ctx.ops.check(int(man["Record count"]) == n, f"dedup index holds {man['Record count']} != {n}")

    times = _index_builds(ctx, build, BULK_SPAN["dedup_ingest"], 1 + warm)
    return times, du(index_dir) / inputs["input_bytes"]


def _dedup_serve(ctx: Ctx, path: str, batch: gen.DedupBatch, deleted: set[int], tally: dict):
    """Serve one batch and check it; returns the docs it accepts."""
    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.dedup_index import incremental_dedup_indexed

    frame = ctx.spark.read.parquet(path)
    ctx.ops.begin()
    with ctx.rec.span("dedup_index.serve") as s:
        out = incremental_dedup_indexed(ctx.spark, frame, "text", "id", ctx.path("dedup_index"))
        rows = out.collect()
        unpersist_deps(out)
    tally["serve"].append(s.dur)
    found = {int(r["new_id"]): int(r["dup_of"]) for r in rows}
    fresh = [i for i in found if i not in batch.planted]
    ctx.ops.check(not fresh, f"fresh docs reported as duplicates: {fresh[:5]}")
    served_deleted = [i for i, d in found.items() if d in deleted]
    ctx.ops.check(not served_deleted, f"taken-down ids served: {served_deleted[:5]}")
    for new_id, src in batch.planted.items():
        if src not in deleted:
            tally["planted"] += 1
            tally["recalled"] += int(found.get(new_id) == src)
    accepted = [int(i) for i in batch.ids if int(i) not in found]
    return frame.where(F.col("id").isin(accepted))


def _dedup_append(ctx: Ctx, accepted: list, tally: dict) -> None:
    """Append the docs that the last served batches accepted."""
    from batch_process_dpla_index_spark.products.dedup_index import append_to_dedup_index

    tally["ingest_batch"] += 1
    ctx.ops.begin()
    with ctx.rec.span("dedup_index.append") as s:
        append_to_dedup_index(
            functools.reduce(lambda a, b: a.unionByName(b), accepted), "text", "id",
            ctx.path("dedup_index"), ingest_batch=tally["ingest_batch"],
        )
    tally["append"].append(s.dur)
    accepted.clear()


def dedup_run(ctx: Ctx, data, inputs: dict, truth: dict) -> dict:
    from batch_process_dpla_index_spark.products.dedup_index import (
        compact_dedup_index,
        delete_from_dedup_index,
    )

    spark, index_dir = ctx.spark, ctx.path("dedup_index")
    (cold,), _ = dedup_bulk(ctx, data, inputs, truth, warm=0)
    tally = {"serve": [], "append": [], "ingest_batch": 0, "planted": 0, "recalled": 0}
    rounds, accepted = len(data.batches), []
    for i in range(rounds):
        accepted.append(_dedup_serve(ctx, inputs["batches"][i], data.batches[i], set(), tally))
        if len(accepted) == APPEND_EVERY or i == rounds - 1:
            _dedup_append(ctx, accepted, tally)
    deleted: set[int] = set()
    deletes, compacts = [], []
    # takedown cycles: delete a chunk, serve a batch planting its copies, compact
    chunks = np.array_split(data.takedown, len(data.after_delete))
    for j, (chunk, batch) in enumerate(zip(chunks, data.after_delete)):
        deleted |= set(int(i) for i in chunk)
        ctx.ops.begin()
        with ctx.rec.span("index_tombstones.delete") as s:
            delete_from_dedup_index(spark, index_dir, sorted(int(i) for i in chunk))
        deletes.append(s.dur)
        accepted.append(_dedup_serve(ctx, inputs["batches"][rounds + j], batch, deleted, tally))
        _dedup_append(ctx, accepted, tally)
        ctx.ops.begin()
        with ctx.rec.span("index_tombstones.compact") as s:
            compact_dedup_index(spark, index_dir)
        compacts.append(s.dur)
    # rebuilds start from scratch, so the ratio is that of a fresh index
    warm, ratio = dedup_bulk(ctx, data, inputs, truth, warm=WARM_BUILDS["dedup_ingest"] - 1)
    dup_recall = tally["recalled"] / tally["planted"]
    return {
        "cold_batch_s": cold,
        "batch_s": median(warm),
        "update_s": sum(tally["append"]) + sum(deletes) + sum(compacts),
        "serve": tally["serve"],
        "stored_bytes_ratio": ratio,
        "recall": dup_recall,
        "dup_recall": dup_recall,
    }


# ANN serve

def ann_generate(seed: int, seconds: int):
    # one 50-query batch per second, plus two so the tail has 10 beyond it
    return gen.ann_input(seed, vectors=20000, query_batches=seconds + 2, append_batches=ANN_APPENDS)


def ann_materialize(spark, data, work: str) -> dict:
    inp = os.path.join(work, "inputs")
    vectors = os.path.join(inp, "vectors")
    gen.write_parquet_files(gen.vectors_table(0, data.vectors), vectors)
    queries = []
    for i, q in enumerate(data.queries):
        path = os.path.join(inp, f"query{i}")
        gen.write_parquet_files(gen.vectors_table(gen.QUERY_ID0 + i * gen.QUERY_BATCH, q), path, files=1)
        queries.append(path)
    appended = []
    first = gen.APPEND_ID0
    for i, vecs in enumerate(data.appended):
        path = os.path.join(inp, f"appended{i}")
        gen.write_parquet_files(gen.vectors_table(first, vecs), path, files=1)
        appended.append(path)
        first += len(vecs)
    return {
        "vectors": vectors, "queries": queries, "appended": appended,
        "input_bytes": du(vectors),
        "rows": {"vectors": len(data.vectors), "queries": sum(len(q) for q in data.queries),
                 "appended_vectors": sum(len(a) for a in data.appended)},
        "bytes": {"vectors": du(vectors), "queries": sum(du(p) for p in queries),
                  "appended": sum(du(p) for p in appended)},
    }


def ann_truth(data) -> dict:
    return {"topk": [gen.exact_topk(data.vectors, q, ANN_K) for q in data.queries]}


def ann_bulk(ctx: Ctx, data, inputs: dict, truth: dict, warm: int) -> tuple[list[float], float]:
    """A cold build then ``warm`` rebuilds of the IVF-PQ index; returns
    their durations and the stored-bytes ratio after the last."""
    from batch_process_dpla_index_spark.products.ann_index import build_ann_index

    index_dir, n = ctx.path("ann_index"), len(data.vectors)

    def build():
        vecs = ctx.spark.read.parquet(inputs["vectors"])
        with ctx.rec.span("ann_index.build"):
            man = build_ann_index(vecs, "id", "vec", index_dir, pq_m=8)
        ctx.ops.check(int(man["Record count"]) == n, f"ann index holds {man['Record count']} != {n}")

    times = _index_builds(ctx, build, BULK_SPAN["ann_serve"], 1 + warm)
    return times, du(index_dir) / inputs["input_bytes"]


def _ann_serve(ctx: Ctx, path: str, q0: int, truth: np.ndarray, tally: dict) -> None:
    """Serve one query batch whose ids start at ``q0``."""
    from batch_process_dpla_index_spark.products.ann_index import ann_query_indexed

    frame = ctx.spark.read.parquet(path)
    ctx.ops.begin()
    with ctx.rec.span("ann_index.serve") as s:
        rows = ann_query_indexed(ctx.spark, frame, "id", "vec", ctx.path("ann_index"), k=ANN_K).collect()
    tally["serve"].append(s.dur)
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
    ok = len(got) == len(truth) and all(len(v) == ANN_K for v in got.values())
    ctx.ops.check(ok, f"ann batch {path}: {len(got)} queries answered")
    for j, want in enumerate(truth):
        tally["hits"] += len(got.get(q0 + j, set()) & set(int(x) for x in want))
        tally["asked"] += ANN_K


def ann_run(ctx: Ctx, data, inputs: dict, truth: dict) -> dict:
    from batch_process_dpla_index_spark.products.ann_index import append_to_ann_index

    spark, index_dir = ctx.spark, ctx.path("ann_index")
    (cold,), _ = ann_bulk(ctx, data, inputs, truth, warm=0)
    tally = {"serve": [], "hits": 0, "asked": 0}
    for i, path in enumerate(inputs["queries"]):
        _ann_serve(ctx, path, gen.QUERY_ID0 + i * gen.QUERY_BATCH, truth["topk"][i], tally)
    appends = []
    want = len(data.vectors)
    for j, path in enumerate(inputs["appended"]):
        new = spark.read.parquet(path)
        want += len(data.appended[j])
        ctx.ops.begin()
        with ctx.rec.span("ann_index.append") as s:
            man = append_to_ann_index(spark, new, "id", "vec", index_dir, ingest_batch=j + 1)
        appends.append(s.dur)
        ctx.ops.check(int(man["Record count"]) == want, f"ann index holds {man['Record count']} != {want}")
    warm, ratio = ann_bulk(ctx, data, inputs, truth, warm=WARM_BUILDS["ann_serve"] - 1)
    ann_recall = tally["hits"] / tally["asked"]
    return {
        "cold_batch_s": cold,
        "batch_s": median(warm),
        "update_s": sum(appends),
        "serve": tally["serve"],
        "stored_bytes_ratio": ratio,
        "recall": ann_recall,
        "ann_recall_at_10": ann_recall,
    }


@dataclass
class Workload:
    """The steps ``run.py`` sequences: generate (untimed), materialize
    (timed as set-up, ``setup_reps`` times), truth (untimed), then run;
    a traced run first repeats ``bulk`` untraced."""

    generate: Callable
    materialize: Callable
    truth: Callable
    bulk: Callable
    run: Callable
    setup_reps: int


WORKLOADS = {
    "monthly_batch": Workload(
        monthly_generate, monthly_materialize, monthly_truth, monthly_bulk, monthly_run, 3,
    ),
    "dedup_ingest": Workload(
        dedup_generate, dedup_materialize, dedup_truth, dedup_bulk, dedup_run, 5,
    ),
    "ann_serve": Workload(
        ann_generate, ann_materialize, ann_truth, ann_bulk, ann_run, 5,
    ),
}
