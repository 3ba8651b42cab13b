"""Correctness gates run on every benchmark run.

* row accounting: every input url has exactly one output row and the table
  holds no other url; the job's own counts add up to the input;
* a SHA-256 over the url-sorted output columns (``extract_ms`` left out, it
  is a timing), pinned per corpus and seed in ``digests.json``;
* a seeded sample of output rows re-derived in-process through
  ``extract_udf.func`` must match field for field.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from collections import Counter

DIGESTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
SAMPLE_ROWS = 16
# Output columns that legitimately differ between runs of the same input.
UNPINNED = ("extract_ms",)


def table_rows(table) -> list[tuple[str, str, bool]]:
    """One pass over the output table: (url, SHA-256 of the row's pinned
    columns as JSON, whether its error starts with ``internal:``)."""
    from pyspark.sql import functions as F

    from riptide_spark.schema import OUTPUT_COLUMNS

    cols = [c for c in OUTPUT_COLUMNS if c not in UNPINNED]
    rows = table.select(
        "url",
        F.sha2(F.to_json(F.struct(*cols)), 256).alias("h"),
        F.coalesce(F.col("error").startswith("internal:"), F.lit(False)).alias("internal"),
    ).collect()
    return [(r["url"], r["h"], r["internal"]) for r in rows]


def accounting(input_urls, rows) -> dict:
    """``missing`` input urls without a row, ``extra`` rows whose url is not
    in the input, ``duplicated`` urls with more than one row and
    ``internal_errors`` rows whose error starts with ``internal:``."""
    wanted = set(input_urls)
    counts = Counter(url for url, _, _ in rows)
    return {
        "missing": len(wanted - counts.keys()),
        "extra": sum(n for url, n in counts.items() if url not in wanted),
        "duplicated": sum(1 for n in counts.values() if n > 1),
        "internal_errors": sum(1 for _, _, internal in rows if internal),
    }


def table_digest(rows) -> str:
    """SHA-256 over the url-sorted (url, row hash) pairs."""
    h = hashlib.sha256()
    for url, row_hash, _ in sorted(rows):
        h.update(f"{url}\t{row_hash}\n".encode())
    return h.hexdigest()


def pinned_digest(corpus: str, seed: int) -> str | None:
    """The pinned digest of ``corpus`` (name and page count, as in
    ``crawl-3000``) for ``seed``, if one is recorded."""
    with open(DIGESTS_FILE) as fh:
        return json.load(fh)["digests"].get(corpus, {}).get(str(seed))


def _norm(value):
    """Plain-Python form of a table or pandas value, for comparison."""
    if value is None:
        return None
    if hasattr(value, "asDict"):
        return {k: _norm(v) for k, v in value.asDict().items()}
    if isinstance(value, dict):
        return {k: _norm(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)) or type(value).__name__ == "ndarray":
        return [_norm(v) for v in value]
    if hasattr(value, "item") and not isinstance(value, (str, bytes)):
        value = value.item()  # numpy scalar
    if isinstance(value, float):
        if math.isnan(value):
            return None
        if value.is_integer():
            return int(value)
    return value


def rederive_sample(table, html_by_url: dict, seed: int) -> list[str]:
    """Re-run ``extract_udf.func`` in this process on a seeded sample of the
    input pages and compare with their rows in ``table``, field by field.
    Returns one message per difference."""
    import pandas as pd
    from pyspark.sql import functions as F

    from riptide_spark.operators.extract_udf import extract_udf, extraction_mode_for_route
    from riptide_spark.schema import OUTPUT_COLUMNS

    sample = sorted(random.Random(seed).sample(sorted(html_by_url), min(SAMPLE_ROWS, len(html_by_url))))
    stored = {
        r["url"]: r
        for r in table.filter(F.col("url").isin(sample))
        .select(*OUTPUT_COLUMNS, extraction_mode_for_route(F.col("content_mode")).alias("_mode"))
        .collect()
    }
    missing = [u for u in sample if u not in stored]
    if missing:
        return [f"{u}: no output row" for u in missing]
    derived = extract_udf.func(
        pd.Series([html_by_url[u] for u in sample]),
        pd.Series(sample),
        pd.Series([stored[u]["_mode"] for u in sample]),
    )
    fields = [c for c in OUTPUT_COLUMNS if c not in ("url", "content_mode") + UNPINNED]
    problems = []
    for i, url in enumerate(sample):
        for name in fields:
            want = _norm(derived[name].iloc[i])
            got = _norm(stored[url][name])
            if json.dumps(want, sort_keys=True) != json.dumps(got, sort_keys=True):
                problems.append(f"{url}: field {name} differs: table={got!r:.120} rederived={want!r:.120}")
    return problems
