"""The end-to-end extraction job — one declarative DataFrame program.

Spark translation of the reference's ``execute_batch``/``execute_single``
orchestration (``/root/reference/crates/riptide-api/src/pipeline.rs:231-606``),
per SURVEY.md §3.1:

    read pages → anti-join(done urls)            # Redis result cache → J1
              → gate feature/score/route columns # P5-P8, pure codegen
              → url_bucket (+ salt) columns      # north-rule partitioning
              → Arrow extraction UDF             # E1-E15 (+ escalation, PDF)
              → append output table + manifest   # cache store / S5-S6
              → per-partition metrics sidecar    # A1-A2

Plan properties worth knowing at 100 TB:
* the anti-join projects a single string column from the output table —
  broadcast when small, AQE-planned SMJ when not; skew handled by AQE.
* gate + routing are whole-stage-codegen expressions; the only Python is the
  extraction UDF itself, which receives exactly (url, html, mode) after
  column pruning.
* probes-first escalation happens row-locally inside the UDF — no second
  shuffle (see extract_udf.py).
* with ``target_partitions`` set, one wide shuffle total (the bucket/salt
  repartition before extraction); without it (the shipped default) the plan
  has no shuffle at all. Everything after the UDF is narrow.
* one pass over the extracted rows: the append counts them inside the write,
  and the sidecar reads back only the files this run wrote.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract_udf import extract_udf, extraction_mode_for_route
from ..operators.gate_cols import with_gate
from ..operators.metrics import partition_metrics
from ..operators.partitioning import (
    DEFAULT_BUCKETS,
    DEFAULT_SALTS,
    repartition_for_extraction,
    with_partitioning,
)
from ..schema import OUTPUT_COLUMNS
from ..sources.catalog import TableIO

MAX_CONTENT_BYTES = 20 * 1024 * 1024  # P3, common_validation.rs:79


@dataclass
class ExtractionJobConfig:
    output_path: str
    metrics_path: str | None = None
    buckets: int = DEFAULT_BUCKETS
    salts: int = DEFAULT_SALTS
    hot_hosts: list[str] = field(default_factory=list)
    target_partitions: int | None = None
    resume: bool = True
    write_partitioned_by_bucket: bool = True


def extraction_plan(pages: DataFrame, config: ExtractionJobConfig) -> DataFrame:
    """Build the (lazy) extraction DataFrame; no actions triggered."""
    df = pages

    # P3 (20 MB cap): oversized rows become ERROR rows, not dropped rows —
    # a dropped row never lands in the output table, so resume would retry
    # it forever and the url would silently vanish from the corpus
    # (reference records a per-URL error envelope, pipeline.rs:525-557).
    # Their html is blanked *before* gate/shuffle/Arrow so the 20 MB+
    # payload never rides the wire or crosses into Python; the UDF sees
    # mode='oversize' and emits the reference's InvalidHtml message with
    # the original size (common_validation.rs:81-85).
    df = df.withColumn("_oversize_bytes",
                       F.when(F.octet_length("html") > MAX_CONTENT_BYTES,
                              F.octet_length("html")))
    df = df.withColumn(
        "html",
        F.when(F.col("_oversize_bytes").isNotNull(),
               F.lit(b"")).otherwise(F.col("html")),
    )

    # Gate (pure codegen) and routing.
    df = with_gate(df)
    df = df.withColumn(
        "content_mode",
        F.when(F.col("_oversize_bytes").isNotNull(), F.lit("oversize"))
        .otherwise(F.col("content_mode")),
    )

    # Bucketed url-hash partitioning with hot-host salting; one wide shuffle.
    df = with_partitioning(df, buckets=config.buckets, salts=config.salts,
                           hot_hosts=config.hot_hosts)
    # Prune to exactly what the extraction stage needs BEFORE the shuffle:
    # the raw `text`/`lang`/`warc_ts` columns and the ten gate feature
    # columns would otherwise ride the wire for nothing (the text column
    # alone duplicates the html payload).
    df = df.select("url", "html", "content_mode", "url_bucket", "salt",
                   "_oversize_bytes")
    if config.target_partitions:
        df = repartition_for_extraction(df, config.target_partitions)

    # The single Python hot path: Arrow-batched extraction.
    mode = extraction_mode_for_route(F.col("content_mode"))
    df = df.withColumn("ex", extract_udf(F.col("html"), F.col("url"), mode))

    flat = df.select(
        "url",
        F.col("ex.extracted_text").alias("extracted_text"),
        F.col("ex.title").alias("title"),
        F.col("ex.spans").alias("spans"),
        "content_mode",
        F.col("ex.byline").alias("byline"),
        F.col("ex.published_iso").alias("published_iso"),
        F.col("ex.language").alias("language"),
        F.col("ex.reading_time").alias("reading_time"),
        F.col("ex.quality_score").alias("quality_score"),
        F.col("ex.word_count").alias("word_count"),
        F.col("ex.links").alias("links"),
        F.col("ex.media").alias("media"),
        F.col("ex.categories").alias("categories"),
        F.col("ex.site_name").alias("site_name"),
        F.col("ex.description").alias("description"),
        F.col("ex.escalated").alias("escalated"),
        F.col("ex.extract_ms").alias("extract_ms"),
        # Oversize rows ran the UDF on blanked html (→ generic invalid-html);
        # restore the reference's exact message with the true size.
        F.when(
            F.col("_oversize_bytes").isNotNull(),
            F.format_string(
                "invalid-html: Content size %d exceeds maximum %d",
                F.col("_oversize_bytes"),
                F.lit(MAX_CONTENT_BYTES),
            ),
        ).otherwise(F.col("ex.error")).alias("error"),
        "url_bucket",
        "salt",
    )
    return flat


def resume_anti_join(pages: DataFrame, done: DataFrame) -> DataFrame:
    """Drop already-done urls from the input (S2/J1 result-cache semantics).

    Deliberately NO broadcast hint on the done side: after a few runs the
    output table is as big as the input, and forcing it into a broadcast
    would OOM the driver at 100 TB. Left to Catalyst + AQE the join is a
    BroadcastHashJoin while the done side fits under
    ``spark.sql.autoBroadcastJoinThreshold`` and a shuffled SMJ once it
    doesn't (gated by ``test_resume_anti_join_big_done_side_not_broadcast``).
    """
    return pages.join(done, "url", "left_anti")


@dataclass
class RunResult:
    run_id: str
    rows_written: int
    rows_skipped_resume: int


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    config: ExtractionJobConfig,
    run_id: str | None = None,
) -> RunResult:
    """Execute the job with idempotent resume and metrics sidecar.

    Single-pass design: the UDF output streams straight into the table
    append (no intermediate cache/checkpoint — one materialization of the
    expensive stage), which counts the rows inside the write and commits
    them in the run's manifest. The metrics sidecar reads back only the
    files that manifest lists, with the schema the job wrote — a
    column-pruned scan that grows with the run, not the table, and never
    re-runs the extraction UDF."""
    run_id = run_id or uuid.uuid4().hex[:12]
    output = TableIO(spark, config.output_path)

    # Resume bookkeeping is FREE on the normal path: rows_skipped_resume
    # comes from the manifest ledger (sum of committed run row counts), not
    # a pre-count of the input — at 100 TB an extra full input pass for a
    # log stat is real money. Exact under the resume contract (every done
    # url re-appears in the input, which anti-join resume presumes). The
    # fast path requires ``ledger_complete()``: every data file on disk
    # accounted for by a committed manifest with a known row count — a
    # crash between a data write and its manifest commit leaves ORPHAN
    # files the anti-join still honors but the ledger cannot see, so in
    # that case fall back to counting the done side instead: a url-only
    # column-pruned scan of the OUTPUT table, still never a pass over the
    # input.
    skipped = 0
    if config.resume and output.exists():
        done = output.read().select("url")
        if output.ledger_complete():
            skipped = sum(m.rows for m in output.manifests() if m.committed)
        else:
            skipped = done.count()
        pages = resume_anti_join(pages, done)

    result = extraction_plan(pages, config).withColumn("run_id", F.lit(run_id))

    partition_cols = ["url_bucket"] if config.write_partitioned_by_bucket else None
    written = result.select(*OUTPUT_COLUMNS, "run_id", "url_bucket")
    # The manifest's row count is what the next resumed run sums for its
    # skipped-row stat instead of re-counting input.
    manifest = output.append(written, run_id=run_id, partition_by=partition_cols)
    if config.metrics_path:
        own = output.read_files(manifest.files, written.schema)
        TableIO(spark, config.metrics_path).append(
            partition_metrics(own, run_id), run_id=run_id
        )

    # Every surviving input row lands in the output (errors become error
    # rows, never drops), so the observed count needs no adjustment.
    return RunResult(
        run_id=run_id, rows_written=manifest.rows, rows_skipped_resume=skipped
    )
