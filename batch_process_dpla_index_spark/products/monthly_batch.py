"""Monthly batch orchestration (monthly_batch_emr.sh:41-111 semantics).

The reference runs four sequential EMR steps with CANCEL_AND_WAIT on
failure: parquet dump → jsonl dump → MQ reports (consumes the parquet
output) → sitemap (consumes the parquet output). This runner
reproduces that sequencing on any filesystem: each step runs only if
the previous succeeded, failures halt the pipeline with the step name
(the operator-inspection contract), and every product writes its own
manifest.

Input layout (the master-dataset contract, S3FileHelper.scala:20-31):
``<in_root>/<hub>/enrichment/<date>/`` item snapshots and
``<in_root>/<hub>/jsonl/<date>/`` raw JSONL — latest date per hub wins.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from batch_process_dpla_index_spark.io.paths import date_path, latest_dataset_paths
from batch_process_dpla_index_spark.products import jsonl_dump, parquet_dump, sitemap


def mq_reports_step(spark: SparkSession, parquet_out: str, out_dir: str) -> str:
    """MQ step: read the parquet step's flattened output, write the CSV
    reports + manifest (MqReports.execute shape)."""
    from batch_process_dpla_index_spark.quality.mq import write_mq_reports

    items = spark.read.parquet(parquet_out)
    write_mq_reports(spark, items, out_dir)
    return out_dir


@dataclass
class BatchResult:
    steps_run: list[str] = field(default_factory=list)
    outputs: dict[str, str] = field(default_factory=dict)
    #: wall time of each step that succeeded, keyed like ``steps_run``
    step_seconds: dict[str, float] = field(default_factory=dict)
    failed_step: str | None = None
    error: str | None = None


def execute(
    spark: SparkSession,
    in_root: str,
    out_root: str,
    sitemap_url_prefix: str = "https://sitemaps.example.org",
    now=None,
) -> BatchResult:
    """Run the four steps in the reference's order, halting on the
    first failure (ActionOnFailure: CANCEL_AND_WAIT)."""
    result = BatchResult()
    out_root = out_root.rstrip("/")

    def run(step: str, fn):
        if result.failed_step:
            return None
        try:
            start = time.perf_counter()
            out = fn()
            result.step_seconds[step] = time.perf_counter() - start
            result.steps_run.append(step)
            result.outputs[step] = str(out)
            return out
        except Exception as e:  # halt-on-failure contract
            result.failed_step = step
            result.error = f"{type(e).__name__}: {e}"
            return None

    parquet_out = run(
        "parquet", lambda: parquet_dump.execute(spark, in_root, f"{out_root}/parquet", now=now)
    )
    run(
        "jsonl",
        lambda: jsonl_dump.execute(
            spark,
            latest_dataset_paths(in_root, "jsonl"),
            f"{out_root}/jsonl" + date_path(now),
        ),
    )
    # mq + sitemap consume the parquet step's output (emr.sh:84,101)
    run(
        "mq",
        lambda: mq_reports_step(spark, parquet_out, f"{out_root}/mq" + date_path(now)),
    )
    run(
        "sitemap",
        lambda: sitemap.execute(
            spark,
            spark.read.parquet(parquet_out).select(F.col("id")),
            f"{out_root}/sitemap",
            sitemap_url_prefix,
            now=now,
        ),
    )
    return result
