"""Spans recorded from outside the program, and the engine's own counters.

The benchmark never edits the program to trace it. It wraps the program's
public functions for the length of one traced run, replacing every module
attribute that refers to the function (``extract.py`` imports
``resolve_url`` by name, so patching ``html.urls`` alone would miss it), and
restores them afterwards. Spans stay in memory and are written once, at the
end of the run.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager

from measure import Span


class Tracer:
    """In-memory span recorder for one single-threaded driver."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def wrapper(self, fn, name, on_call=None):
        """``fn`` recording one span per call. ``name`` is a string or a
        function of the call's arguments; ``on_call`` sees the arguments."""
        spans, stack, run_id, clock = self.spans, self._stack, self.run_id, time.perf_counter

        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            label = name if isinstance(name, str) else name(*args, **kwargs)
            span_id = len(spans)
            record = Span(label, clock(), 0.0, span_id, stack[-1] if stack else None, run_id)
            spans.append(record)
            stack.append(span_id)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                record.end = clock()

        traced.__wrapped__ = fn
        return traced


def _holders(fn):
    """Every (module, attribute) of the loaded program that refers to ``fn``."""
    for mod in list(sys.modules.values()):
        if mod is None or not mod.__name__.startswith("riptide_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is fn:
                yield mod, attr


@contextmanager
def patched(replacements):
    """Install ``{(owner, attr): new}`` replacements and restore them on exit.

    A class owner has its attribute replaced; for a module owner, every
    program module attribute that refers to the same function is replaced
    too (see ``_holders``)."""
    saved = []
    try:
        for (owner, attr), new in replacements.items():
            original = getattr(owner, attr)
            targets = [(owner, attr)]
            if not isinstance(owner, type):
                targets = list(_holders(original)) or targets
            for target, name in targets:
                saved.append((target, name, getattr(target, name)))
                setattr(target, name, new)
        yield
    finally:
        for target, name, original in reversed(saved):
            setattr(target, name, original)


# -- engine counters ---------------------------------------------------------

def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_nodes(node):
    """Pre-order walk of an executed physical plan, looking through AQE's
    wrapper and its query stages."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from plan_nodes(node.executedPlan())
        return
    if name.endswith("QueryStage"):
        yield from plan_nodes(node.plan())
        return
    yield node
    for child in _seq(node.children()):
        yield from plan_nodes(child)


def plan_metrics(executed_plan) -> list[tuple[str, dict[str, int]]]:
    """(operator name, {SQL metric: value}) of every node, in pre-order."""
    nodes = []
    for node in plan_nodes(executed_plan):
        values = {}
        it = node.metrics().iterator()
        while it.hasNext():
            pair = it.next()
            values[pair._1()] = int(pair._2().value())
        nodes.append((node.nodeName(), values))
    return nodes


def execute_with_metrics(df):
    """Run ``df`` to a discarding sink through its own QueryExecution and
    return (wall seconds, ``plan_metrics`` of the executed plan)."""
    qe = df._jdf.queryExecution()
    started = time.perf_counter()
    qe.toRdd().count()
    wall = time.perf_counter() - started
    return wall, plan_metrics(qe.executedPlan())


def noop_write_seconds(df) -> float:
    started = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - started
