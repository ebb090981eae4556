"""JSONL dump product (JsonlDump.scala:12-88 semantics).

Per-provider opaque-line text scan → gzipped per-provider export →
n-ary union-all export — all DataFrame-native (the reference's RDD
escape at JsonlDump.scala:26-28 is unnecessary in PySpark:
``spark.read.text`` already is the one-string-column frame, SURVEY.md
P10).

Scale notes: the dump runs no count job and leaves no cache behind.
Each per-provider write carries a ``DataFrame.observe`` row count, read
after the write finishes, so the reference's DISK_ONLY persist + count
(JsonlDump.scala:29) is gone. All writes — one per provider plus the
union — are submitted at once from driver threads
(``session.run_concurrently``), so the cores one small hub's write
leaves idle run the other writes' tasks. The trade-off: each input is
scanned twice (its own write and the union write) instead of once into
a cache — but that cache also wrote every input to local disk and read
it back, so the bytes moved are about the same. The union is a
no-shuffle plan concatenation; gzip text write is the standard
committer path.
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.io.manifest import write_manifest
from batch_process_dpla_index_spark.io.sinks import delete_existing, write_text_gzip
from batch_process_dpla_index_spark.session import run_concurrently


def execute(
    spark: SparkSession, provider_paths: dict[str, str], out_dir_base: str
) -> dict[str, int]:
    """Run the dump for {provider → input path}. Returns per-provider
    counts plus "__all__" (JsonlDump.scala:17-67 step-for-step).

    Every input is resolved before any output is deleted, and the
    manifests are written only once every write has succeeded."""
    out_dir_base = out_dir_base.rstrip("/")
    records = {p: spark.read.text(path) for p, path in provider_paths.items()}
    # the union reads the plain scans: an Observation fires on one plan only
    all_records = reduce(DataFrame.union, records.values())
    observations = {p: Observation() for p in records}
    out_dirs = {p: f"{out_dir_base}/{p.replace('/', '')}.jsonl" for p in records}
    all_dir = f"{out_dir_base}/all.jsonl"
    for out_dir in [*out_dirs.values(), all_dir]:
        delete_existing(out_dir)

    writes = [
        partial(
            write_text_gzip,
            records[p].observe(observations[p], F.count(F.lit(1)).alias("n")),
            out_dirs[p],
        )
        for p in records
    ]
    writes.append(partial(write_text_gzip, all_records, all_dir))
    run_concurrently(spark, writes)

    counts = {p: int(obs.get["n"]) for p, obs in observations.items()}
    opts = {"Total record count": str(sum(counts.values()))}
    for p, input_path in provider_paths.items():
        write_manifest(
            {"Record count": str(counts[p]), "Data source": input_path}, out_dirs[p]
        )
        opts[f"{p} date source"] = input_path
        opts[f"{p} record count"] = str(counts[p])
    write_manifest(opts, all_dir)

    counts["__all__"] = sum(counts.values())
    return counts
