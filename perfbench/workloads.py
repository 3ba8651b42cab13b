"""The benchmark's workloads and their seeded inputs.

The program only ever sees generated pages: ``synth_page(i, seed)`` rows
written as ``PAGES_SCHEMA`` parquet. Each workload is fully determined by
its name and the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# Pages per job. Sized so that one job takes several seconds on 4 cores:
# long enough that the UDF stage and the table layer both show, short
# enough that a run holds several jobs.
CRAWL_PAGES = 2000
LINK_PAGES = 2000
# Workloads with ``fresh_pages`` give job k of a run its own pages, from
# page index k * JOB_STRIDE on, so that no job re-extracts a page an earlier
# job of the same driver saw (the Python workers keep a url memo across
# jobs). A run times at most MAX_JOBS jobs.
JOB_STRIDE = 100_000
MAX_JOBS = 10
# The warm-up job runs on its own small corpus (indices past any
# workload's), not on ``pages.limit(n)``: Spark plans the UDF projection
# below ``CollectLimit``, so a limited warm-up extracts the whole input. It
# pays the one-time costs (Python worker imports, code generation, the
# JVM's first compilations) and, with a few hundred pages, warms the
# per-row paths too.
WARMUP_OFFSET = MAX_JOBS * JOB_STRIDE
# resume_tail: urls are split into TEMPLATE_SLICES slices by
# pmod(xxhash64(url), TEMPLATE_SLICES); the template holds every slice but
# the last one, so the timed job finds ~90% of its input already done. The
# template is built in set-up by one job (not several incremental ones, to
# keep a run within the time budget), which is also that workload's
# warm-up.
TEMPLATE_SLICES = 10
LINK_ARCHETYPES = ("nav_heavy_app", "gallery")


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: str  # "crawl" (default archetype mix) or "link" (LINK_ARCHETYPES only)
    pages: int
    resume_template: bool
    fresh_pages: bool  # each job of a run on new pages (see JOB_STRIDE)
    warmup_pages: int  # pages of the warm-up job; 0: the template build warms up


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("cold_crawl", "crawl", CRAWL_PAGES, False, True, 512),
        Workload("resume_tail", "crawl", CRAWL_PAGES, True, False, 0),
        Workload("link_heavy", "link", LINK_PAGES, False, True, 512),
    )
}


def job_slice(workload: Workload, job: int) -> int:
    """Which slice of the corpus job ``job`` of a run reads: its own one on
    ``fresh_pages`` workloads, else always slice 0."""
    if not 0 <= job < MAX_JOBS:
        raise ValueError(f"job {job} out of range")
    return job if workload.fresh_pages else 0


def corpus_key(workload: Workload, job: int) -> str:
    """Name of the pages job ``job`` reads, as ``digests.json`` keys them:
    ``crawl-2000`` for slice 0, ``crawl-2000@3`` for slice 3."""
    k = job_slice(workload, job)
    return f"{workload.corpus}-{workload.pages}" + (f"@{k}" if k else "")


def page_rows(workload: Workload, seed: int, job: int = 0) -> list[dict]:
    """The input pages of job ``job`` of a run, in generation order."""
    from riptide_spark.sources.pages import synth_page

    first = job_slice(workload, job) * JOB_STRIDE
    if workload.corpus == "crawl":
        return [synth_page(first + i, seed) for i in range(workload.pages)]
    if workload.corpus == "link":
        rows, i = [], first
        while len(rows) < workload.pages:
            row = synth_page(i, seed)
            if row["archetype"] in LINK_ARCHETYPES:
                rows.append(row)
            i += 1
        return rows
    raise ValueError(f"unknown corpus {workload.corpus!r}")


def warmup_rows(workload: Workload, seed: int) -> list[dict]:
    """The pages of ``workload``'s warm-up job."""
    from riptide_spark.sources.pages import synth_page

    return [synth_page(WARMUP_OFFSET + i, seed) for i in range(workload.warmup_pages)]


def write_pages(rows: list[dict], path: str, files: int) -> None:
    """Write ``rows`` as ``PAGES_SCHEMA`` parquet split into ``files``
    files, so the scan has one input partition per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from riptide_spark.schema import PAGES_SCHEMA

    schema = to_arrow_schema(PAGES_SCHEMA)
    os.makedirs(path, exist_ok=True)
    per_file = -(-len(rows) // files)
    for k in range(files):
        chunk = rows[k * per_file:(k + 1) * per_file]
        if not chunk:
            break
        table = pa.Table.from_pylist(
            [{name: r[name] for name in schema.names} for r in chunk], schema=schema
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def slice_column(url_col: str = "url"):
    """Template slice of each url: ``pmod(xxhash64(url), TEMPLATE_SLICES)``."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(TEMPLATE_SLICES))


def build_template(spark, pages_path: str, table_path: str, metrics_path: str) -> int:
    """Build the resume_tail table: one run of the shipped job over every
    slice but the last. Returns the rows it wrote."""
    from riptide_spark.plans.pipeline import ExtractionJobConfig, run_extraction_job

    pages = spark.read.parquet(pages_path).filter(slice_column() < TEMPLATE_SLICES - 1)
    config = ExtractionJobConfig(output_path=table_path, metrics_path=metrics_path)
    return run_extraction_job(spark, pages, config).rows_written
