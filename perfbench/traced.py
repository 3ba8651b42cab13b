"""The traced run: the job's wall time attributed to the program's layers.

Measured from outside the program, in this order:

1. ``session``: ``build_session`` and the warm-up job (timed by ``run.py``);
2. ``run_extraction_job`` once untraced, then once with wrapper spans
   around the ``TableIO`` methods, ``extraction_plan``, ``resume_anti_join``
   and ``partition_metrics``: the difference in wall time is reported as
   the tracing overhead;
3. ``operators.gate_cols``: a noop-sink write of ``with_gate(input)``;
4. the program's own ``extraction_plan`` run to a discarding sink through its
   QueryExecution, whose executed plan yields Spark's SQL metrics (scan,
   codegen, ArrowEvalPython, exchanges) and the operator list;
5. the UDF body: ``extract_udf.func`` replayed in this process over the
   job's input in Arrow-sized batches, with spans around the functions it
   calls, once without and once with the spans.
"""

from __future__ import annotations

import gzip
import json
import os
import time

from measure import Span, peak_rss_mib_by_process, percentile, self_time_within, self_times
from tracing import Tracer, execute_with_metrics, noop_write_seconds, patched

RECORDED_PLANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "recorded_plans.json")
REPLAY_DOCS = 512
# (metric prefix, module, function) of the UDF body, in call-tree order.
UDF_BODY = (
    ("extract.extract_document", "riptide_spark.functions.extract", "extract_document"),
    ("native_extract.extract_native", "riptide_spark.functions.native_extract", "extract_native"),
    ("dom.parse", "riptide_spark.html.dom", "parse"),
    ("dom.query_selector_all", "riptide_spark.html.dom", "query_selector_all"),
    ("urls.resolve_url", "riptide_spark.html.urls", "resolve_url"),
    ("chunking.spans_for_text", "riptide_spark.functions.chunking", "spans_for_text"),
    ("pdftext.parse_pdf", "riptide_spark.functions.pdftext", "parse_pdf"),
)
ROUTES = ("raw", "probes_first", "headless", "pdf", "oversize")


# -- the job -----------------------------------------------------------------

def job_patches(tracer: Tracer, metrics_path: str) -> dict:
    from riptide_spark.plans import pipeline
    from riptide_spark.sources.catalog import TableIO

    def table_span(method):
        return lambda self, *a, **k: (
            "metrics.sidecar_append" if self.path == metrics_path else f"catalog.{method}"
        )

    repl = {
        (TableIO, m): tracer.wrapper(getattr(TableIO, m), table_span(m))
        for m in ("exists", "manifests", "ledger_complete", "read", "append", "amend_manifest")
    }
    for attr, name in (
        ("run_extraction_job", "pipeline.run_extraction_job"),
        ("extraction_plan", "pipeline.extraction_plan"),
        ("resume_anti_join", "pipeline.resume_anti_join"),
        ("partition_metrics", "metrics.partition_metrics"),
    ):
        repl[(pipeline, attr)] = tracer.wrapper(getattr(pipeline, attr), name)
    return repl


def job_breakdown(spans: list[Span]) -> dict:
    """Attribute ``run_extraction_job``'s wall time to its child spans.

    ``pipeline.plan_s`` and ``pipeline.readback_s`` are the job's own self
    time before and after the output append: what is not inside any child
    span. Child durations plus those two add up to the job's wall time."""
    root = next(s for s in spans if s.name == "pipeline.run_extraction_job")
    kids = [s for s in spans if s.parent == root.span_id]
    append = next(s for s in kids if s.name == "catalog.append")

    def total(*names):
        return sum(s.duration for s in kids if s.name in names)

    plan_s = self_time_within(root, spans, root.start, append.start)
    readback_s = self_time_within(root, spans, append.end, root.end)
    accounted = sum(s.duration for s in kids) + plan_s + readback_s
    if abs(accounted - root.duration) > 1e-3:
        raise AssertionError(f"job spans overlap: {accounted:.4f}s of {root.duration:.4f}s")
    return {
        "pipeline.job_s": (root.duration, "s"),
        "pipeline.plan_s": (plan_s, "s"),
        "pipeline.readback_s": (readback_s, "s"),
        "catalog.resume_check_ms": (
            1000 * sum(s.duration for s in kids if s.end <= append.start
                       and s.name in ("catalog.exists", "catalog.manifests", "catalog.ledger_complete")),
            "ms",
        ),
        "catalog.read_s": (total("catalog.read"), "s"),
        "catalog.append_s": (append.duration, "s"),
        "catalog.amend_manifest_ms": (1000 * total("catalog.amend_manifest"), "ms"),
        "metrics.sidecar_s": (total("metrics.partition_metrics", "metrics.sidecar_append"), "s"),
    }


def table_layer(spark, table_path: str, run_id: str) -> dict:
    from riptide_spark.sources.catalog import TableIO

    table = TableIO(spark, table_path)
    files = next(m.files for m in table.manifests() if m.run_id == run_id)
    size = sum(os.path.getsize(os.path.join(table.data_path, f)) for f in files)
    return {
        "catalog.files_written": (len(files), "count"),
        "catalog.files_total": (len(table.data_files()), "count"),
        "catalog.bytes_written": (size, "bytes"),
    }


def output_layer(spark, table_path: str, run_id: str) -> dict:
    """Route mix, escalations and extract_ms quantiles of the rows this run
    extracted, read from the output table."""
    from pyspark.sql import functions as F

    from riptide_spark.sources.catalog import TableIO

    rows = (
        TableIO(spark, table_path).read()
        .filter(F.col("run_id") == run_id)
        .select("content_mode", "escalated", "extract_ms")
        .collect()
    )
    routes = {r: sum(1 for x in rows if x["content_mode"] == r) for r in ROUTES}
    escalated = sum(1 for x in rows if x["escalated"])
    ms = [x["extract_ms"] for x in rows if x["extract_ms"] is not None] or [0.0]
    out = {f"route.{r}": (n, "count") for r, n in routes.items()}
    out.update({
        "udf.escalated": (escalated, "count"),
        "udf.escalation_ratio": (escalated / routes["probes_first"] if routes["probes_first"] else 0.0, "ratio"),
        "udf.extract_ms_p50": (percentile(ms, 50), "ms"),
        "udf.extract_ms_p99": (percentile(ms, 99), "ms"),
    })
    return out


# -- engine counters -----------------------------------------------------------

def engine_layer(spark, job_input, config, workload: str) -> tuple[dict, list[str]]:
    from riptide_spark.operators.gate_cols import with_gate
    from riptide_spark.plans.pipeline import extraction_plan

    gate_s = noop_write_seconds(with_gate(job_input).select("url", "content_mode"))
    plan_s, nodes = execute_with_metrics(extraction_plan(job_input, config))
    operators = [name for name, _ in nodes]

    def metric(prefix, key):
        return sum(m.get(key, 0) for name, m in nodes if name.startswith(prefix))

    with open(RECORDED_PLANS) as fh:
        recorded = json.load(fh).get(workload)
    return {
        "gate.scan_gate_s": (gate_s, "s"),
        "udf.stage_s": (plan_s - gate_s, "s"),
        "scan.scan_time_ms": (metric("Scan", "scanTime"), "ms"),
        "scan.bytes": (metric("Scan", "filesSize"), "bytes"),
        "codegen.pipeline_ms": (metric("WholeStageCodegen", "pipelineTime"), "ms"),
        "udf.bytes_sent": (metric("ArrowEvalPython", "pythonDataSent"), "bytes"),
        "udf.bytes_received": (metric("ArrowEvalPython", "pythonDataReceived"), "bytes"),
        "udf.rows": (metric("ArrowEvalPython", "pythonNumRowsReceived"), "count"),
        "exchange.shuffle_bytes": (metric("Exchange", "dataSize"), "bytes"),
        "plan.has_exchange": (int(any(n.split(" ")[0] == "Exchange" for n in operators)), "count"),
        "plan.same_as_recorded": (int(recorded == operators), "count"),
    }, operators


# -- the UDF body ----------------------------------------------------------------

def replay_inputs(spark, job_input) -> list:
    from pyspark.sql import functions as F

    from riptide_spark.operators.extract_udf import extraction_mode_for_route
    from riptide_spark.operators.gate_cols import with_gate

    return (
        with_gate(job_input)
        .select("url", "html", extraction_mode_for_route(F.col("content_mode")).alias("mode"))
        .orderBy(F.xxhash64("url"))
        .limit(REPLAY_DOCS)
        .collect()
    )


def _cold_url_memo() -> None:
    """Empty the program's per-process url memo, if it has one, so that
    both replays start as a fresh Python worker would."""
    from riptide_spark.html import urls

    memo = getattr(urls, "_resolve_url_cached", None)
    if hasattr(memo, "cache_clear"):
        memo.cache_clear()


def replay(inputs, batch: int, tracer: Tracer | None = None, on_batch=None) -> float:
    import pandas as pd

    from riptide_spark.operators.extract_udf import extract_udf

    func = extract_udf.func
    if tracer is not None:
        func = tracer.wrapper(func, "extract_udf.func")
    _cold_url_memo()
    started = time.perf_counter()
    for lo in range(0, len(inputs), batch):
        chunk = inputs[lo:lo + batch]
        if on_batch:
            on_batch()
        func(pd.Series([r["html"] for r in chunk]), pd.Series([r["url"] for r in chunk]),
             pd.Series([r["mode"] for r in chunk]))
    return time.perf_counter() - started


def udf_body_layer(inputs, batch: int) -> tuple[dict, Tracer]:
    import importlib

    plain_s = replay(inputs, batch)
    tracer = Tracer("replay")
    seen: set = set()
    pairs = [0, 0]  # (base, href) pairs seen, of which repeats within the batch

    def count_pair(base, href, *_):
        pairs[0] += 1
        if (base, href) in seen:
            pairs[1] += 1
        seen.add((base, href))

    repl = {}
    for name, module, attr in UDF_BODY:
        mod = importlib.import_module(module)
        hook = count_pair if name == "urls.resolve_url" else None
        repl[(mod, attr)] = tracer.wrapper(getattr(mod, attr), name, on_call=hook)
    with patched(repl):
        traced_s = replay(inputs, batch, tracer, on_batch=seen.clear)
    docs = max(len(inputs), 1)
    selfs = self_times(tracer.spans)
    out = {
        "replay.docs": (len(inputs), "count"),
        "replay.ms_per_doc": (1000 * plain_s / docs, "ms/doc"),
        "trace.replay_overhead_share": ((traced_s - plain_s) / plain_s if plain_s else 0.0, "ratio"),
        "urls.repeat_share": (pairs[1] / pairs[0] if pairs[0] else 0.0, "ratio"),
    }
    for name in [n for n, _, _ in UDF_BODY] + ["extract_udf.func"]:
        mine = [s for s in tracer.spans if s.name == name]
        out[f"{name}.calls"] = (len(mine), "count")
        out[f"{name}.self_ms_per_doc"] = (1000 * sum(selfs[s.span_id] for s in mine) / docs, "ms/doc")
    return out, tracer


# -- the whole traced run ------------------------------------------------------

def traced_run(bench, setup) -> dict:
    from riptide_spark.plans.pipeline import resume_anti_join
    from riptide_spark.session import ARROW_MAX_RECORDS
    from riptide_spark.sources.catalog import TableIO

    spark = bench.spark
    layers = {"session.build_s": (setup[0], "s"), "session.warmup_s": (setup[1], "s")}

    plain_out = bench.fresh_output("untraced")
    plain_wall, plain_cpu, _ = bench.run_job(plain_out)
    traced_out = bench.fresh_output("traced")
    tracer = Tracer("job")
    with patched(job_patches(tracer, os.path.join(traced_out, "metrics"))):
        traced_wall, _, result = bench.run_job(traced_out)
    if result is None:
        return {}
    n = bench.workload.pages
    layers["job.pages_per_s"] = (n / plain_wall, "pages/s")
    layers["job.cpu_ms_per_page"] = (1000 * plain_cpu / n, "ms")
    rss = peak_rss_mib_by_process()
    layers["mem.jvm_peak_rss_mib"] = (rss.get("java", 0.0), "MiB")
    layers["mem.total_peak_rss_mib"] = (sum(rss.values()), "MiB")
    bench.rederive(traced_out)
    table_path = os.path.join(traced_out, "table")
    layers.update(job_breakdown(tracer.spans))
    layers["trace.job_overhead_s"] = (traced_wall - plain_wall, "s")
    layers.update(table_layer(spark, table_path, result.run_id))
    layers.update(output_layer(spark, table_path, result.run_id))

    job_input = spark.read.parquet(bench.pages_path)
    if bench.template:
        done = TableIO(spark, os.path.join(bench.template, "table")).read().select("url")
        job_input = resume_anti_join(job_input, done)
    engine, operators = engine_layer(spark, job_input, bench.config(plain_out), bench.workload.name)
    layers.update(engine)
    inputs = replay_inputs(spark, job_input)
    body, replay_tracer = udf_body_layer(inputs, ARROW_MAX_RECORDS)
    layers.update(body)

    report_trace(bench, layers, operators, tracer.spans + replay_tracer.spans)
    return {name: {"value": value, "unit": unit} for name, (value, unit) in layers.items()}


def report_trace(bench, layers: dict, operators: list[str], spans: list[Span]) -> None:
    """Print the per-layer table; write it and every span under .perfbench/."""
    name = bench.workload.name
    print(f"traced run: workload={name} seed={bench.seed} pages/job={bench.workload.pages} local[{bench.n}]")
    for key in sorted(layers):
        value, unit = layers[key]
        print(f"  {key:44s} {value:14.4f} {unit}")
    print("  executed plan: " + " > ".join(operators))
    out_dir = os.path.dirname(bench.work)
    with open(os.path.join(out_dir, f"trace-{name}.json"), "w") as fh:
        json.dump({"seed": bench.seed, "layers": layers, "operators": operators}, fh, indent=1)
    with gzip.open(os.path.join(out_dir, f"spans-{name}.jsonl.gz"), "wt") as fh:
        for s in spans:
            fh.write(json.dumps({"name": s.name, "start": s.start, "end": s.end, "id": s.span_id,
                                 "parent": s.parent, "run_id": s.run_id}) + "\n")
