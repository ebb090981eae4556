"""Timed product pipelines for ``bench.py``.

The registry queries cover every operator individually; users actually
run the composed write-side products (index build + serve, curation
export, sitemap, compaction). Each target here runs one product
end-to-end at the bench scale factor inside a scratch directory and
returns a row count, so the per-round bench (and its 2× regression
gate) covers the pipelines, not just their stages.

Contract: ``PRODUCT_BENCHES[name](spark, sf_dir, work_dir) -> int``.
Timing includes every job the product runs (builds, writes, reads
back) — the number is a regression signal for the composition, not a
micro-benchmark of one stage. Targets write only under ``work_dir``
(a fresh temp dir per bench run).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.session import run_concurrently
from batch_process_dpla_index_spark.sources.tables import load_table


def _bench_sitemap(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Sitemap product (Sitemap.scala analog): ids → XML subfiles +
    index + manifest; max_rows sized so sf0.1 produces ~10 subfiles."""
    from batch_process_dpla_index_spark.products import sitemap

    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").cast("string").alias("id"))
    out = os.path.join(work_dir, "sitemap")
    sitemap.execute(
        spark, ids, out, "https://cdn.example.org/sitemaps", max_rows=500
    )
    return ids.count()


def _bench_training_export(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Full curation chain: sentence dedup → quality gate → mixture
    sampling → deterministic shuffle → 8 ordered shards + manifest."""
    from batch_process_dpla_index_spark.products.training_export import (
        export_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    manifest = export_training_shards(
        spark,
        docs,
        os.path.join(work_dir, "shards"),
        seed="bench",
        n_shards=8,
        gate=True,
        sentence_dedup_first=True,
        mixture=("lang", {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}, 100_000),
    )
    return int(manifest["Total doc count"])


def _bench_dedup_index(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Dedup index build over the corpus + one indexed batch query
    (the incremental-ingest serving path)."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products.dedup_index import (
        build_dedup_index,
        incremental_dedup_indexed,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = os.path.join(work_dir, "dedup_index")
    build_dedup_index(docs, "text", "doc_id", idx)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    out = incremental_dedup_indexed(spark, batch, "text", "doc_id", idx)
    n = out.count()
    unpersist_deps(out)
    return n


def _bench_ann_index(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """IVF-PQ index build (learned centroids + PQ codebooks) + one
    25-query ADC serve from codes alone."""
    from batch_process_dpla_index_spark.products.ann_index import (
        build_ann_index,
        pq_query_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = os.path.join(work_dir, "ann_index")
    build_ann_index(
        emb,
        "vec_id",
        "embedding",
        idx,
        dim=64,
        n_cells=16,
        kmeans_iters=3,
        pq_m=8,
        pq_iters=2,
    )
    queries = emb.orderBy("vec_id").limit(25)
    return pq_query_indexed(
        spark, queries, "vec_id", "embedding", idx, k=5, n_probe=4
    ).count()


def _bench_ann_index_imi(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Two-level ANN index lifecycle: train + persist the (coarse,
    fine, k_f) model, store the corpus under global two-level cells,
    serve a 25-query batch through the IMI probe at a bounded budget,
    and run the probes-vs-recall diagnostic at the same budget — the
    large-k serving path a stored index pays O(√k·dim) per query on,
    instead of the flat layout's O(k·dim) cell ranking."""
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        ann_recall_indexed,
        build_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = os.path.join(work_dir, "ann_imi")
    build_ann_index(
        emb, "vec_id", "embedding", idx,
        dim=64, n_cells=16, learned="two-level", kmeans_iters=3,
    )
    queries = emb.orderBy("vec_id").limit(25)
    # serve and recall-diagnostic are independent reads of the same
    # stored index; neither fills local[32], so overlap them on two
    # driver threads (guide §2.6 — the takedown-lifecycle pattern).
    # The count sum is order-free.
    def _serve() -> int:
        spark.sparkContext.setJobDescription("ann imi: serve")
        return ann_query_indexed(
            spark, queries, "vec_id", "embedding", idx, k=5, n_probe=4
        ).count()

    def _recall() -> int:
        spark.sparkContext.setJobDescription("ann imi: recall report")
        return ann_recall_indexed(
            spark, queries, "vec_id", "embedding", idx, k=5, n_probe=4
        ).count()

    return sum(run_concurrently(spark, [_serve, _recall]))


def _bench_index_lifecycle(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Full index-maintenance lifecycle under the 2× gate (r13): build
    → append a second ingest batch under the pinned quantizer →
    takedown-delete (tombstoned serve through the anti-join) → forced
    compaction → serve on the survivors. These are the paths a 100 TB
    index pays for continuously between rebuilds; timing them composed
    catches regressions no single-stage bench sees (e.g. a compaction
    that stops preserving the cell layout would surface here as a
    slower post-compaction serve)."""
    from batch_process_dpla_index_spark.products.ann_index import (
        ann_query_indexed,
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = os.path.join(work_dir, "ann_lifecycle")
    base = emb.filter(F.col("vec_id") % 10 < 8)
    extra = emb.filter(F.col("vec_id") % 10 >= 8)
    build_ann_index(
        base, "vec_id", "embedding", idx, dim=64, n_cells=16, kmeans_iters=3
    )
    append_to_ann_index(
        spark, extra, "vec_id", "embedding", idx, ingest_batch=1
    )
    # takedown every 7th id; threshold > 1 defers compaction so the
    # tombstoned-serve path is what gets timed next
    doomed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    delete_from_ann_index(
        spark, idx, doomed, id_col="vec_id", compact_threshold=2.0
    )
    queries = emb.orderBy("vec_id").limit(25)
    n = ann_query_indexed(
        spark, queries, "vec_id", "embedding", idx, k=5, n_probe=4
    ).count()
    compact_ann_index(spark, idx)
    n += ann_query_indexed(
        spark, queries, "vec_id", "embedding", idx, k=5, n_probe=4
    ).count()
    return n


def _bench_phash_index(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Perceptual-dedup index lifecycle (r13): build the phash index
    over the document blobs, check an incoming batch (novel blobs +
    re-containered copies) against it, append the survivors — the
    image dedup-on-ingest hot path, composed."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products import phash_index

    docs = load_table(spark, sf_dir, "documents")
    png = F.lit(b"\x89PNG")
    jpg = F.lit(bytes.fromhex("FFD8FFE0"))
    body = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    # batch bodies ARE in the build corpus (the _bench_dedup_index
    # shape): a held-out batch would make every probe a miss and the
    # timed match/verify/window path would run over zero rows —
    # review r13 found exactly that in the first cut of this target
    corpus = docs.select("doc_id", F.concat(png, body).alias("blob"))
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(jpg, body).alias("blob"),
    )
    idx = os.path.join(work_dir, "phash_index")
    phash_index.build_phash_index(
        corpus, "blob", "doc_id", idx, bits=60, max_hamming=12
    )
    matches = phash_index.incremental_phash_dedup_indexed(
        spark, batch, "blob", "doc_id", idx
    )
    n = matches.count()
    dup_ids = matches.select(F.col("new_id").alias("doc_id"))
    # broadcast: bounded by the batch row count (one row per matched
    # id) — mirrors the deployed ingest skeleton's r18 anti-join hint
    survivors = batch.join(F.broadcast(dup_ids), "doc_id", "left_anti")
    # reuse the check step's persisted batch signatures for the
    # append, exactly as the deployed streaming ingest does — the r16
    # bench re-hashed survivors through the Arrow pass a second time,
    # which is NOT the product's hot path and accounted for most of
    # the r16 1.74× warm drift (VERDICT r16 #4 attribution)
    phash_index.append_to_phash_index(
        survivors, "blob", "doc_id", idx, ingest_batch=1,
        signatures=phash_index.survivor_signatures(matches),
    )
    # release the batch-signature cache only after the append consumed
    # the matches frame — the streaming product's ordering
    unpersist_deps(matches)
    return n


def _bench_compaction(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Small-file maintenance: fragment the events table into 64 files,
    then compact to 8 MiB bins (plan + one-shuffle rewrite)."""
    from batch_process_dpla_index_spark.products.compaction import compact

    events = load_table(spark, sf_dir, "events")
    frag = os.path.join(work_dir, "frag")
    events.repartition(64).write.parquet(frag)
    result = compact(spark, frag, os.path.join(work_dir, "compacted"), 8 << 20)
    return result["n_rows"]


def _bench_snapshots(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Versioned-dataset lifecycle (`products/snapshots.py`): 4
    appends → transactional compaction → rollback → vacuum, with a
    time-travel read-back verifying the pre-compaction version."""
    from batch_process_dpla_index_spark.products import snapshots

    root = os.path.join(work_dir, "tbl")
    ev = load_table(spark, sf_dir, "events")
    for q in range(4):
        snapshots.commit_append(
            ev.where(F.pmod(F.col("event_id"), F.lit(4)) == q).coalesce(4), root
        )
    pre = snapshots.latest_version(root)
    snapshots.compact_snapshot(spark, root, target_bytes=64 * 1024 * 1024)
    n_travel = snapshots.read_snapshot(spark, root, version=pre).count()
    snapshots.rollback(root, pre)
    snapshots.vacuum(root, keep_versions=2)
    n_now = snapshots.read_snapshot(spark, root).count()
    assert n_now == n_travel
    return n_now


def _bench_merge(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Copy-on-write MERGE serving path: build a key-clustered events
    snapshot (4 range-clustered appends, 4 files each), then land a
    RANGE-LOCALIZED ~1% CDC delta (updates + deletes confined to one
    narrow id band, plus out-of-range inserts) — the workload the
    partial-rewrite claim is about. A domain-wide delta would touch
    every file's range and the bench would silently time a full
    rewrite, hiding regressions in the zone-map touch detection this
    product exists for. Timing covers build + merge + read-back."""
    from batch_process_dpla_index_spark.products import snapshots

    root = os.path.join(work_dir, "tbl")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    for q in range(4):
        snapshots.commit_append(
            ev.where(F.pmod(F.col("event_id"), F.lit(4)) == q),
            root,
            cluster_by=["event_id"],
            cluster_partitions=4,
        )
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    band = lo + (hi - lo) // 10  # one ~1%-of-rows band, range-localized
    delta = ev.where(
        (F.col("event_id") >= band) & (F.col("event_id") < band + (hi - lo) // 100)
    ).select(
        "event_id", "user_id", "event_type", "value",
        F.when(F.col("event_id") % 3 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    ).unionByName(
        ev.limit(100).select(
            (F.col("event_id") + hi + 1).alias("event_id"),
            "user_id", "event_type", "value", F.lit("I").alias("op"),
        )
    )
    v = snapshots.merge_into(
        spark, delta, root, "event_id",
        cluster_by=["event_id"], cluster_partitions=4,
    )
    # the bench exists to exercise the PARTIAL path — fail loudly if
    # the layout ever stops making the rewrite partial
    entry = snapshots.read_entry(root, v)
    n_files = sum(len(e["add"]) for e in snapshots.history(root)[:4])
    assert 0 < len(entry["remove"]) < n_files, (
        f"merge rewrote {len(entry['remove'])}/{n_files} files — not partial"
    )
    return snapshots.read_snapshot(spark, root).count()


def _bench_overlap_index(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Overlap-index lifecycle: build on the corpus slice, fold the
    ingest-delta slice in (delta-proportional scan + bounded-metadata
    merge), emit the |sources|² report from the stored signatures."""
    from batch_process_dpla_index_spark.products import overlap_index

    docs = load_table(spark, sf_dir, "documents")
    idx = os.path.join(work_dir, "ovidx")
    overlap_index.build_overlap_index(
        docs.where(F.col("doc_id") % 10 != 7), idx
    )
    overlap_index.refresh_overlap_index(
        spark, docs.where(F.col("doc_id") % 10 == 7), idx
    )
    return overlap_index.overlap_report(spark, idx).count()


def _bench_embedding_ingest(spark: SparkSession, sf_dir: str, work_dir: str) -> int:
    """Embedding-dedup ingest lifecycle: IVF-cell index build on the
    corpus slice, then a two-micro-batch streaming ingest where batch
    2 carries scaled near-dup copies of batch-1 vectors (cosine 1.0)
    that must be dropped against the index."""
    from batch_process_dpla_index_spark.products import (
        embedding_index,
        streaming_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 < 6)
    slice_a = emb.filter(F.col("vec_id") % 10 == 7)
    # orderBy before limit: an unordered limit can pick different rows
    # across actions, making the dedup-drop count nondeterministic
    copies = slice_a.orderBy("vec_id").limit(20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.5)).cast("float")
        ).alias("embedding"),
    )
    slice_b = emb.filter(F.col("vec_id") % 10 == 9).unionByName(copies)

    idx = os.path.join(work_dir, "embidx")
    src = os.path.join(work_dir, "embsrc")
    out = os.path.join(work_dir, "emblanded")
    ckpt = os.path.join(work_dir, "embckpt")
    embedding_index.build_embedding_index(
        corpus, "vec_id", "embedding", idx, dim=64, n_cells=16
    )
    slice_a.coalesce(1).write.parquet(src)
    slice_b.coalesce(1).write.mode("append").parquet(src)
    stats = streaming_ingest.ingest_embedding_dedup_available(
        spark, src, slice_a.schema, out, ckpt, idx,
        threshold=0.99, max_files_per_trigger=1,
    )
    return sum(k for _, k in stats.values())




def _bench_takedown_lifecycle(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> int:
    """Takedown lifecycle for the two SIGNATURE indexes (r14 — the
    VERDICT r13 #2 surface): dedup_index and phash_index each run
    build → watermarked delete → tombstoned serve (anti-join) →
    forced compaction (signatures AND bucket postings rewritten) →
    post-compaction serve. These are the compliance paths a 100 TB
    corpus pays between rebuilds; composing them under the 2× gate
    catches regressions like a compaction that stops co-locating the
    bucket layout (would surface as a slower post-compaction serve).
    Reduced corpus (doc_id % 3 == 0) — the target times the NEW
    lifecycle paths, not a third full index build (product_dedup_index
    / product_phash_index already gate those)."""
    from batch_process_dpla_index_spark.operators.dedup import unpersist_deps
    from batch_process_dpla_index_spark.products import dedup_index, phash_index

    # % 3 == 0 keeps every residue mod 10 populated (corpus AND the
    # %10==7 batch side); wall-clock is dominated by the fixed job
    # count of the composed lifecycle, not corpus size, so the subset
    # buys real work rather than time
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    # a fifth of the corpus: enough tombstones to make the anti-join
    # and the compaction rewrite real work, while the empty-compaction
    # refusal stays far away
    doomed = corpus.filter(F.col("doc_id") % 5 == 0).select("doc_id")

    def _text_leg() -> int:
        # -- text leg (MinHash-LSH index) --
        spark.sparkContext.setJobDescription("takedown lifecycle: text leg")
        didx = os.path.join(work_dir, "takedown_dedup")
        dedup_index.build_dedup_index(corpus, "text", "doc_id", didx)
        dedup_index.delete_from_dedup_index(
            spark, didx, doomed, id_col="doc_id", compact_threshold=2.0
        )
        out = dedup_index.incremental_dedup_indexed(
            spark, batch, "text", "doc_id", didx
        )
        n = out.count()
        unpersist_deps(out)
        dedup_index.compact_dedup_index(spark, didx)
        out = dedup_index.incremental_dedup_indexed(
            spark, batch, "text", "doc_id", didx
        )
        n += out.count()
        unpersist_deps(out)
        return n

    def _image_leg() -> int:
        # -- image leg (perceptual index), the _bench_phash_index blob
        # synthesis so batch bodies ARE in the build corpus --
        spark.sparkContext.setJobDescription("takedown lifecycle: image leg")
        png = F.lit(b"\x89PNG")
        jpg = F.lit(bytes.fromhex("FFD8FFE0"))
        body = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
        blob_corpus = corpus.select(
            "doc_id", F.concat(png, body).alias("blob")
        )
        blob_batch = batch.select(
            (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
            F.concat(jpg, body).alias("blob"),
        )
        pidx = os.path.join(work_dir, "takedown_phash")
        phash_index.build_phash_index(
            blob_corpus, "blob", "doc_id", pidx, bits=60, max_hamming=12
        )
        phash_index.delete_from_phash_index(
            spark, pidx, doomed, id_col="doc_id", compact_threshold=2.0
        )
        out = phash_index.incremental_phash_dedup_indexed(
            spark, blob_batch, "blob", "doc_id", pidx
        )
        n = out.count()
        unpersist_deps(out)
        phash_index.compact_phash_index(spark, pidx)
        out = phash_index.incremental_phash_dedup_indexed(
            spark, blob_batch, "blob", "doc_id", pidx
        )
        n += out.count()
        unpersist_deps(out)
        return n

    # The two legs share no state (separate index dirs, read-only
    # inputs) and each is a chain of small sequential actions that
    # never fills local[32] — overlap them on two driver threads so
    # one leg's scheduling gaps back-fill the other's (guide §2.6,
    # the modality_dup_report pattern). Fixed consumption order keeps
    # the returned count deterministic (integer sum, order-free).
    return sum(run_concurrently(spark, [_text_leg, _image_leg]))


PRODUCT_BENCHES: dict[str, Callable[[SparkSession, str, str], int]] = {
    "product_sitemap": _bench_sitemap,
    "product_training_export": _bench_training_export,
    "product_dedup_index": _bench_dedup_index,
    "product_ann_index": _bench_ann_index,
    "product_ann_index_imi": _bench_ann_index_imi,
    "product_index_lifecycle": _bench_index_lifecycle,
    "product_phash_index": _bench_phash_index,
    "product_takedown_lifecycle": _bench_takedown_lifecycle,
    "product_compaction": _bench_compaction,
    "product_snapshots": _bench_snapshots,
    "product_merge": _bench_merge,
    "product_overlap_index": _bench_overlap_index,
    "product_embedding_ingest": _bench_embedding_ingest,
}
