"""Workload inputs: seeded, filtered and split as the benchmark needs."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from workloads import (
    LINK_ARCHETYPES,
    MAX_JOBS,
    TEMPLATE_SLICES,
    WORKLOADS,
    Workload,
    corpus_key,
    page_rows,
    slice_column,
    warmup_rows,
    write_pages,
)

SMALL_CRAWL = Workload("crawl", "crawl", 200, False, True, 16)
SMALL_LINK = Workload("link", "link", 60, False, True, 8)
SMALL_RESUME = Workload("resume", "crawl", 200, True, False, 0)


def urls(rows):
    return {r["url"] for r in rows}


def test_inputs_are_a_function_of_the_seed():
    assert page_rows(SMALL_CRAWL, 7) == page_rows(SMALL_CRAWL, 7)
    assert page_rows(SMALL_CRAWL, 7) != page_rows(SMALL_CRAWL, 8)
    assert page_rows(SMALL_LINK, 7) == page_rows(SMALL_LINK, 7)
    assert page_rows(SMALL_CRAWL, 7, 3) == page_rows(SMALL_CRAWL, 7, 3)
    assert warmup_rows(SMALL_CRAWL, 7) == warmup_rows(SMALL_CRAWL, 7)


@pytest.mark.parametrize("workload", [SMALL_CRAWL, SMALL_LINK], ids=lambda w: w.name)
def test_fresh_page_jobs_read_disjoint_pages(workload):
    seen = set()
    for job in range(MAX_JOBS):
        got = urls(page_rows(workload, 4, job))
        assert len(got) == workload.pages
        assert not got & seen
        seen |= got
    with pytest.raises(ValueError):
        page_rows(workload, 4, MAX_JOBS)


def test_resume_jobs_all_read_slice_zero():
    assert page_rows(SMALL_RESUME, 2, 5) == page_rows(SMALL_RESUME, 2, 0) == page_rows(SMALL_CRAWL, 2, 0)
    assert corpus_key(SMALL_RESUME, 5) == corpus_key(SMALL_CRAWL, 0) == "crawl-200"
    assert corpus_key(SMALL_CRAWL, 3) == "crawl-200@3"


def test_link_corpus_holds_only_link_heavy_archetypes():
    rows = page_rows(SMALL_LINK, 3)
    assert len(rows) == SMALL_LINK.pages
    assert {r["archetype"] for r in rows} == set(LINK_ARCHETYPES)
    crawl = {r["archetype"] for r in page_rows(SMALL_CRAWL, 3)}
    assert crawl > set(LINK_ARCHETYPES)


def test_warmup_corpus_shares_no_url_with_any_job():
    for workload in WORKLOADS.values():
        warm = urls(warmup_rows(workload, 5))
        assert len(warm) == workload.warmup_pages
        for job in (0, MAX_JOBS - 1):
            assert not warm & urls(page_rows(workload, 5, job))


def test_pages_are_written_as_one_file_per_core(tmp_path):
    rows = page_rows(SMALL_CRAWL, 1)
    write_pages(rows, str(tmp_path), 4)
    files = sorted(tmp_path.glob("*.parquet"))
    assert len(files) == 4
    table = pq.read_table([str(f) for f in files][0])
    assert table.schema.names == ["url", "warc_ts", "html", "text", "lang"]
    assert sum(pq.read_metadata(str(f)).num_rows for f in files) == len(rows)


@pytest.mark.parametrize("seed", [1, 2])
def test_template_slices_hold_about_ninety_percent_of_urls(spark, seed):
    from pyspark.sql import functions as F

    rows = page_rows(WORKLOADS["resume_tail"], seed)
    urls = spark.createDataFrame([(r["url"],) for r in rows], "url string")
    share = urls.filter(slice_column() < TEMPLATE_SLICES - 1).count() / len(rows)
    assert 0.87 <= share <= 0.93
    assert urls.select(slice_column().alias("s")).agg(F.max("s")).first()[0] == TEMPLATE_SLICES - 1
