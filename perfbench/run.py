#!/usr/bin/env python3
"""Extraction-job benchmark: the shipped job on seeded page corpora.

    python3 perfbench/run.py --workload cold_crawl --seed 1 --seconds 8 --trace 0

Runs ``plans.pipeline.run_extraction_job`` with ``ExtractionJobConfig``
defaults (plus a metrics sidecar path) in one driver on ``local[N]``,
N = min(2, usable cores), as a closed loop: each job starts after the
previous one ended, until ``--seconds`` of job time is measured (and at
least MIN_JOBS jobs). Every job's output is checked (see ``checks.py``).
The last line of standard output is one JSON object: ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` runs the traced breakdown
(``traced.py``) and reports the per-layer metrics.

Must be started from the root of a checkout that holds ``riptide_spark``;
everything it writes goes under ``.perfbench/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark runs local[N], N = min(MAX_CORES, usable cores). On the 4-vCPU
# reference host local[2] finishes a job as fast as local[4] (the job is
# mostly JVM work: fewer input partitions write fewer bucket files), and it
# leaves cores free for the JVM's compiler and GC threads and the driver, so
# that a neighbour's load on the host moves the timings less.
MAX_CORES = 2
# A run times at least this many jobs and reports their median.
MIN_JOBS = 2


class CheckFailed(Exception):
    """A correctness check failed; the run reports ``correct: false``."""


START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def confine_scratch(work: str) -> None:
    """Point every temp/scratch directory of Python, the JVM and Spark at
    ``work`` and let the Python workers import the program from ROOT."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


class Session:
    """The Spark session plus the processes it started, so that all of them
    can be stopped and waited for."""

    def __init__(self, n: int):
        from riptide_spark.session import build_session

        self.spark = build_session("riptide-perfbench", master=f"local[{n}]", shuffle_partitions=n)
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        from pyspark import SparkContext

        from measure import descendants

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        started = descendants(os.getpid())
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for pid in alive:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class Bench:
    """One benchmark run: inputs, set-up and the checked job loop."""

    def __init__(self, workload, seed: int, work: str):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.n = cores()
        self.pages_path = os.path.join(work, "pages0")
        self.warm_path = os.path.join(work, "warmup_pages")
        self.template = None
        self.template_rows = 0
        self.html_by_url: dict[str, bytes] = {}
        self.digests: dict[str, set[str]] = {}
        self.session = None
        self.errors: list[str] = []
        self.attempted = self.missing = self.internal = self.raised = 0

    # -- inputs and set-up ---------------------------------------------------
    def make_inputs(self, job: int = 0) -> None:
        """Write the pages job ``job`` reads and point ``pages_path`` at
        them; with job 0's, write the warm-up corpus too."""
        from workloads import page_rows, warmup_rows, write_pages

        rows = page_rows(self.workload, self.seed, job)
        if job:
            shutil.rmtree(self.pages_path, ignore_errors=True)
            self.pages_path = os.path.join(self.work, f"pages{job}")
        write_pages(rows, self.pages_path, self.n)
        self.html_by_url = {r["url"]: r["html"] for r in rows}
        if job == 0 and self.workload.warmup_pages:
            write_pages(warmup_rows(self.workload, self.seed), self.warm_path, self.n)

    def setup(self) -> tuple[float, float]:
        """Build the session, then run the warm-up job or build the resume
        template: (build_s, warmup_s)."""
        from riptide_spark.plans.pipeline import run_extraction_job

        started = time.perf_counter()
        self.session = Session(self.n)
        build_s = time.perf_counter() - started
        spark = self.session.spark
        started = time.perf_counter()
        if self.workload.warmup_pages:
            run_extraction_job(spark, spark.read.parquet(self.warm_path), self.config(os.path.join(self.work, "warmup")))
        self.make_template()
        return build_s, time.perf_counter() - started

    def make_template(self) -> None:
        from workloads import build_template

        if not self.workload.resume_template:
            return
        self.template = os.path.join(self.work, "template")
        started = time.perf_counter()
        self.template_rows = build_template(self.spark, self.pages_path, os.path.join(self.template, "table"),
                              os.path.join(self.template, "metrics"))
        log(f"template: {self.template_rows} rows in {time.perf_counter() - started:.1f}s")

    @staticmethod
    def config(out: str):
        """The shipped job's defaults, writing under ``out`` with the
        metrics sidecar on."""
        from riptide_spark.plans.pipeline import ExtractionJobConfig

        return ExtractionJobConfig(
            output_path=os.path.join(out, "table"), metrics_path=os.path.join(out, "metrics")
        )

    @property
    def spark(self):
        return self.session.spark

    def fresh_output(self, name: str) -> str:
        """A new job directory: empty, or a copy of the resume template whose
        ledger must be complete so that the job takes the fast resume path."""
        from riptide_spark.sources.catalog import TableIO

        out = os.path.join(self.work, name)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        if self.template:
            shutil.copytree(os.path.join(self.template, "table"), os.path.join(out, "table"))
            if not TableIO(self.spark, os.path.join(out, "table")).ledger_complete():
                raise CheckFailed("resume template: ledger_complete() is False after restore")
        return out

    # -- one checked job -----------------------------------------------------
    def run_job(self, out: str, job: int = 0):
        """Run the job once on the workload's pages and check its table;
        return (wall seconds, CPU seconds, RunResult or None if the job
        raised). CPU seconds are summed over the JVM and Python workers."""
        from measure import cpu_seconds
        from riptide_spark.plans import pipeline

        pages = self.spark.read.parquet(self.pages_path)
        config = self.config(out)
        cpu = cpu_seconds()
        started = time.perf_counter()
        try:
            result = pipeline.run_extraction_job(self.spark, pages, config)
        except Exception:
            wall = time.perf_counter() - started
            self.raised += self.workload.pages
            self.attempted += self.workload.pages
            self.errors.append("job raised: " + traceback.format_exc(limit=3))
            return wall, cpu_seconds() - cpu, None
        wall = time.perf_counter() - started
        cpu = cpu_seconds() - cpu
        self.account(out, result, job)
        return wall, cpu, result

    def account(self, out: str, result, job: int = 0) -> None:
        """Row accounting and the digest of one job's table."""
        from checks import accounting, pinned_digest, table_digest, table_rows
        from riptide_spark.sources.catalog import TableIO
        from workloads import corpus_key

        n = self.workload.pages
        rows = table_rows(TableIO(self.spark, os.path.join(out, "table")).read())
        acc = accounting(self.html_by_url, rows)
        self.attempted += n
        self.missing += acc["missing"]
        self.internal += acc["internal_errors"]
        if acc["missing"] or acc["extra"] or acc["duplicated"]:
            self.errors.append(f"table vs input urls: {acc}")
        if result.rows_written + result.rows_skipped_resume != n:
            self.errors.append(
                f"written {result.rows_written} + skipped {result.rows_skipped_resume} != input {n}")
        if result.rows_skipped_resume != self.template_rows:
            self.errors.append(
                f"skipped {result.rows_skipped_resume} rows, the table held {self.template_rows}")
        digest = table_digest(rows)
        corpus = corpus_key(self.workload, job)
        pinned = pinned_digest(corpus, self.seed)
        if pinned is not None and pinned != digest:
            self.errors.append(f"digest {digest} != pinned {pinned} for {corpus} seed {self.seed}")
        seen = self.digests.setdefault(corpus, set())
        seen.add(digest)
        if len(seen) > 1:
            self.errors.append(f"jobs on the same input wrote different tables: {sorted(seen)}")
        state = "unpinned seed" if pinned is None else ("match" if pinned == digest else "MISMATCH")
        log(f"digest {corpus}/{self.seed}: {digest} ({state})")

    def rederive(self, out: str) -> None:
        from checks import rederive_sample
        from riptide_spark.sources.catalog import TableIO

        table = TableIO(self.spark, os.path.join(out, "table")).read()
        self.errors.extend(rederive_sample(table, self.html_by_url, self.seed))

    # -- the end-to-end loop -------------------------------------------------
    def timed(self, seconds: float) -> dict:
        """Jobs one after another until ``seconds`` of job wall time and at
        least MIN_JOBS jobs are measured (at most MAX_JOBS). Each job's
        table is checked outside the timing, and a sample of the last one
        is re-derived."""
        from measure import peak_rss_mib_by_process
        from workloads import MAX_JOBS

        walls, cpus, rss, measured, last = [], [], [], 0.0, None
        for k in range(MAX_JOBS):
            if measured >= seconds and k >= MIN_JOBS:
                break
            if k and self.workload.fresh_pages:
                self.make_inputs(k)
            out = self.fresh_output(f"job{k}")
            wall, cpu, result = self.run_job(out, k)
            rss.append(peak_rss_mib_by_process())
            log(f"job {k}: {wall:.2f}s wall, {cpu:.2f}s CPU; VmHWM MiB: {rss[-1]}")
            measured += wall
            if result is None:
                break
            walls.append(wall)
            cpus.append(cpu)
            if last:
                shutil.rmtree(last, ignore_errors=True)
            last = out
        if last:
            self.rederive(last)
        return {"walls": walls, "cpus": cpus, "rss": rss}


def end_to_end(bench: Bench, setup: tuple[float, float], timed: dict) -> dict:
    from measure import failed_share, summarize

    n = bench.workload.pages
    rates = [n / w for w in timed["walls"]] or [0.0]
    rate = summarize(rates)
    share = failed_share(bench.attempted, bench.missing, bench.internal, bench.raised)
    build_s, warmup_s = setup
    print(f"workload={bench.workload.name} seed={bench.seed} pages/job={n} local[{bench.n}] jobs={len(timed['walls'])}")
    print(f"pages_per_s   {rate['median']:.2f} pages/s median (q1 {rate['q1']:.2f}, q3 {rate['q3']:.2f}, n={rate['n']} jobs)")
    print(f"cpu_ms_per_page {1000 * summarize(timed['cpus'])['median'] / n:.3f} ms: JVM + Python workers, user + system")
    print(f"setup_s       {build_s + warmup_s:.3f} s (build_session {build_s:.3f} s + warm-up {warmup_s:.3f} s, n=1)")
    jvm = max(r.get("java", 0.0) for r in timed["rss"])
    workers = max(r.get("python", 0.0) for r in timed["rss"])
    total = max(sum(r.values()) for r in timed["rss"])
    print(f"worker_rss_mib {workers:.1f} MiB: PySpark daemon + workers, VmHWM, max over {len(timed['rss'])} jobs")
    print(f"peak_rss_mib  {total:.1f} MiB: every started process (JVM {jvm:.1f} MiB), VmHWM")
    print(f"failed_share  {share:.6f} ({bench.missing} missing + {bench.internal} internal + "
          f"{bench.raised} raised of {bench.attempted} pages); ok_share {1 - share:.6f}")
    return {
        "pages_per_s": {"value": rate["median"], "unit": "pages/s"},
        "setup_s": {"value": build_s + warmup_s, "unit": "s"},
        "worker_rss_mib": {"value": workers, "unit": "MiB"},
        "ok_share": {"value": 1.0 - share, "unit": "ratio"},
    }


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "riptide_spark", "__init__.py")):
        log(f"no riptide_spark package under {ROOT}: run from a checkout of the program")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    confine_scratch(work)
    bench = Bench(WORKLOADS[args.workload], args.seed, work)
    try:
        bench.make_inputs()
        log("inputs written")
        setup = bench.setup()
        log(f"set-up: build_session {setup[0]:.2f}s, warm-up {setup[1]:.2f}s")
        if args.trace:
            from traced import traced_run

            metrics = traced_run(bench, setup)
        else:
            metrics = end_to_end(bench, setup, bench.timed(args.seconds))
    except CheckFailed as exc:
        bench.errors.append(str(exc))
        metrics = {}
    finally:
        if bench.session is not None:
            log("stopping Spark")
            bench.session.close()
            log("stopped")
    failed = bench.missing + bench.internal + bench.raised
    correct = not bench.errors and bool(metrics)
    for err in bench.errors:
        log("CHECK FAILED: " + err)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": max(bench.attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
