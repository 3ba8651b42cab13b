"""Behaviour lock for the extraction UDF body: every output field, per url.

``extraction_lock.json`` is **self-pinned, not reference-derived**: it was
generated by :func:`build_lock` from this repository's own build, not from
the reference extractor's golden snapshots (those live in an optional
checkout, see ``sources/golden.py``). It therefore proves "the output did not
change", not "the output is right"; the golden tests carry the second claim
where the reference is present.

For each row the lock holds, per ``EXTRACTED_STRUCT`` field except
``extract_ms`` (wall time), the first 32 bits of the SHA-256 of the field's
canonical JSON. Rows: ``N_PAGES`` seeded ``synth_page`` pages (every
``ARCHETYPES`` entry at least ``MIN_PER_ARCHETYPE`` times) plus hand-built
rows for invalid UTF-8 and the pipeline's ``oversize`` mode, each locked
under its gate-routed mode and under ``"dom"``. All rows are checked
through ``_extract_one``; a ``SPARK_ROWS`` subset also through the Spark
``extract_udf``.

Regenerate only when an output change is intended, and say so in the
change's notes::

    python -m tests.test_extraction_lock --write
"""

from __future__ import annotations

import hashlib
import json
import sys
from collections import Counter
from pathlib import Path

import pytest

from riptide_spark.functions import gate
from riptide_spark.operators.extract_udf import _extract_one
from riptide_spark.schema import EXTRACTED_STRUCT
from riptide_spark.sources.pages import ARCHETYPES, synth_page

LOCK_PATH = Path(__file__).with_name("extraction_lock.json")
SEED = 42
N_PAGES = 2000
MIN_PER_ARCHETYPE = 20
SPARK_ROWS = 256
FIELDS = [f.name for f in EXTRACTED_STRUCT.fields if f.name != "extract_ms"]
_TYPES = {f.name: f.dataType for f in EXTRACTED_STRUCT.fields}

# The UDF's mode for each gate route (extract_udf.extraction_mode_for_route).
_ROUTE_MODE = {"pdf": "pdf", "headless": "dom", "probes_first": "probes_first"}

_PAGE = (
    b"<html><head><title>%b</title></head><body><article><h1>%b</h1>"
    b"<p>%b</p><p>Second paragraph with <a href=\"%b\">a link</a> and "
    b"<img src=\"/img%b.png\" alt=\"x\"> an image.</p></article></body></html>"
)


def _hand_built() -> list[tuple[str, bytes, str]]:
    """(url, html, gate mode) rows the seeded corpus does not reach."""
    base = "https://lock.example.com/"
    words = b"invalid bytes inside a long enough paragraph of ordinary words " * 12
    pages = {
        "utf8-title": (b"Broken \xff\xfe title", words, b"/a"),
        "utf8-body": (b"Body case", words + b"\x80\x81 tail", b"/b"),
        "utf8-href": (b"Href case", words, b"/c\xffd"),
        "utf8-overlong": (b"Overlong \xc0\xaf slash", words, b"/d"),
        "utf8-truncated": (b"Truncated", words + b" end \xe2\x82", b"/e"),
    }
    pages = {name: _PAGE % (t, t, body, href, href) for name, (t, body, href) in pages.items()}
    pages["utf8-only"] = b"\xff\xfe\xfd"
    rows = [(base + name, html, _gate_mode(base + name, html)) for name, html in pages.items()]
    # Oversize rows reach the UDF with their html blanked (plans/pipeline.py);
    # the mode passed here is the route's name, not the UDF mode it maps to.
    return rows + [(base + "oversize", b"", "oversize")]


def _gate_mode(url: str, html: bytes) -> str:
    route = gate.route(html.decode("utf-8", errors="replace"), url)
    return _ROUTE_MODE.get(route, "article")


def lock_rows() -> list[tuple[str, bytes, str]]:
    """Every locked input row as (url, html, gate-routed mode)."""
    rows = []
    for i in range(N_PAGES):
        page = synth_page(i, SEED)
        rows.append((page["url"], page["html"], _gate_mode(page["url"], page["html"])))
    return rows + _hand_built()


def _modes(gate_mode: str) -> list[str]:
    return [gate_mode] if gate_mode == "dom" else [gate_mode, "dom"]


def _canon(value, dtype):
    """Plain JSON-able value, typed by the schema (so the pure path's and the
    Arrow round trip's representations hash alike)."""
    if value is None:
        return None
    name = dtype.typeName()
    if name == "struct":
        if hasattr(value, "asDict"):
            value = value.asDict()
        return {f.name: _canon(value.get(f.name), f.dataType) for f in dtype.fields}
    if name == "array":
        return [_canon(v, dtype.elementType) for v in value]
    if name in ("integer", "long"):
        return int(value)
    if name == "boolean":
        return bool(value)
    return str(value)


def field_hashes(row) -> str:
    """Concatenated 8-hex-digit hashes of ``FIELDS``, in order."""
    out = []
    for name in FIELDS:
        blob = json.dumps(_canon(row[name], _TYPES[name]), sort_keys=True, ensure_ascii=False)
        out.append(hashlib.sha256(blob.encode("utf-8")).hexdigest()[:8])
    return "".join(out)


def build_lock() -> dict:
    rows = {}
    for url, html, mode in lock_rows():
        rows[url] = {m: field_hashes(_extract_one(html, url, m)) for m in _modes(mode)}
    return {
        "provenance": "self-pinned from this repository's build; not reference-derived",
        "seed": SEED,
        "pages": N_PAGES,
        "hash": "sha256(canonical JSON of the field)[:8 hex] per field, in `fields` order",
        "fields": FIELDS,
        "rows": rows,
    }


def write_lock(path: Path = LOCK_PATH) -> None:
    lock = build_lock()
    rows = lock.pop("rows")
    lines = [json.dumps(url) + ": " + json.dumps(modes, sort_keys=True) for url, modes in rows.items()]
    head = json.dumps(lock, indent=1)[:-2]
    path.write_text(head + ',\n "rows": {\n' + ",\n".join(lines) + "\n }\n}\n")


def _mismatches(url: str, mode: str, want: str, got: str) -> list[str]:
    return [
        f"{url} [mode={mode}] field {name}"
        for k, name in enumerate(FIELDS)
        if want[8 * k : 8 * k + 8] != got[8 * k : 8 * k + 8]
    ]


@pytest.fixture(scope="module")
def lock() -> dict:
    return json.loads(LOCK_PATH.read_text())


@pytest.fixture(scope="module")
def rows() -> list[tuple[str, bytes, str]]:
    return lock_rows()


def test_lock_covers_the_corpus(lock, rows):
    assert lock["fields"] == FIELDS
    assert LOCK_PATH.stat().st_size < 1_000_000
    counts = Counter(synth_page(i, SEED)["archetype"] for i in range(N_PAGES))
    assert all(counts[name] >= MIN_PER_ARCHETYPE for name, _ in ARCHETYPES), counts
    assert {url: sorted(_modes(mode)) for url, _, mode in rows} == {
        url: sorted(modes) for url, modes in lock["rows"].items()
    }


def test_pure_path_matches_lock(lock, rows):
    bad = []
    for url, html, mode in rows:
        for m in _modes(mode):
            got = field_hashes(_extract_one(html, url, m))
            bad += _mismatches(url, m, lock["rows"][url][m], got)
    assert not bad, f"{len(bad)} locked fields changed:\n" + "\n".join(bad[:40])


def test_spark_udf_matches_lock(spark, lock, rows):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from riptide_spark.operators.extract_udf import extract_udf

    hand = rows[N_PAGES:]
    step = N_PAGES // (SPARK_ROWS - len(hand))
    subset = rows[:N_PAGES:step][: SPARK_ROWS - len(hand)] + hand
    inputs = [(url, html, m) for url, html, mode in subset for m in _modes(mode)]
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("mode", T.StringType()),
        ]
    )
    out = (
        spark.createDataFrame(inputs, schema)
        .select("url", "mode", extract_udf(F.col("html"), F.col("url"), F.col("mode")).alias("ex"))
        .collect()
    )
    assert len(out) == len(inputs)
    assert len({url for url, _, _ in subset}) == SPARK_ROWS
    bad = []
    for r in out:
        got = field_hashes(r["ex"].asDict())
        bad += _mismatches(r["url"], r["mode"], lock["rows"][r["url"]][r["mode"]], got)
    assert not bad, f"{len(bad)} locked fields changed:\n" + "\n".join(bad[:40])


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python -m tests.test_extraction_lock --write")
    write_lock()
    print(f"wrote {LOCK_PATH}")
