"""Correctness-gate arithmetic and the tracing helpers, without a JVM."""

from __future__ import annotations

import numpy as np

from checks import _norm, accounting, table_digest
from measure import Span
from traced import job_breakdown
from tracing import Tracer, patched


def test_accounting_finds_missing_extra_duplicated_and_internal_rows():
    rows = [("a", "h1", False), ("b", "h2", True), ("b", "h2", True), ("x", "h3", False)]
    assert accounting(["a", "b", "c"], rows) == {
        "missing": 1, "extra": 1, "duplicated": 1, "internal_errors": 2,
    }
    assert accounting(["a"], [("a", "h", False)]) == {
        "missing": 0, "extra": 0, "duplicated": 0, "internal_errors": 0,
    }


def test_digest_ignores_row_order_but_not_content():
    rows = [("a", "h1", False), ("b", "h2", False)]
    assert table_digest(rows) == table_digest(list(reversed(rows)))
    assert table_digest(rows) != table_digest([("a", "h1", False), ("b", "h3", False)])


def test_norm_makes_pandas_and_table_values_comparable():
    assert _norm(np.float64(85.0)) == 85
    assert _norm(float("nan")) is None
    assert _norm(np.bool_(True)) is True
    assert _norm([{"start_pos": np.int64(3)}]) == [{"start_pos": 3}]
    assert _norm("text") == "text"


def test_patched_replaces_names_imported_elsewhere_and_restores_them():
    from riptide_spark.functions import extract
    from riptide_spark.html import urls

    original = urls.resolve_url
    tracer = Tracer("t")
    wrapped = tracer.wrapper(original, "urls.resolve_url")
    with patched({(urls, "resolve_url"): wrapped}):
        assert urls.resolve_url is wrapped
        assert extract.resolve_url is wrapped
        extract.resolve_url("https://a.example/x/", "../y")
    assert urls.resolve_url is original and extract.resolve_url is original
    [span] = tracer.spans
    assert span.name == "urls.resolve_url" and span.parent is None and span.end >= span.start


def test_tracer_nests_spans_by_call_stack():
    tracer = Tracer("t")
    inner = tracer.wrapper(lambda: None, "inner")
    outer = tracer.wrapper(lambda: inner(), "outer")
    outer()
    assert [(s.name, s.parent) for s in tracer.spans] == [("outer", None), ("inner", 0)]


def test_job_breakdown_accounts_for_the_job_wall_time():
    spans = [
        Span("pipeline.run_extraction_job", 0.0, 10.0, 0, None, "r"),
        Span("catalog.exists", 0.1, 0.2, 1, 0, "r"),
        Span("catalog.append", 1.0, 6.0, 2, 0, "r"),
        Span("catalog.read", 6.5, 7.0, 3, 0, "r"),
        Span("catalog.amend_manifest", 8.0, 8.1, 4, 0, "r"),
        Span("metrics.sidecar_append", 8.5, 9.5, 5, 0, "r"),
        Span("catalog.manifests", 8.0, 8.05, 6, 4, "r"),
    ]
    out = {k: v for k, (v, _) in job_breakdown(spans).items()}
    assert out["pipeline.plan_s"] == 1.0 - 0.1
    assert abs(out["pipeline.readback_s"] - (4.0 - 0.5 - 0.1 - 1.0)) < 1e-9
    assert abs(out["catalog.resume_check_ms"] - 100.0) < 1e-6
    children = 0.1 + 5.0 + 0.5 + 0.1 + 1.0
    assert abs(children + out["pipeline.plan_s"] + out["pipeline.readback_s"] - 10.0) < 1e-9
