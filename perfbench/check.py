"""Per-capture output check against the pure-Python oracle.

A capture is identified by ``(url, warc_ts)``.  Each expected capture
must appear exactly once in the program's output with the oracle's
status, text digest and page count.

Two known defects of the program merge or skip captures that share a
url: ``pipeline.assemble_stage`` groups by url, and
``io.pending_pages`` anti-joins on url.  Both hit only urls with more
than one capture in the input (revisits).  Mismatches there count in
``match_ratio`` like every other mismatch but are reported as known;
any mismatch on a single-capture url makes the run incorrect.
"""

from __future__ import annotations

from collections import Counter

FIELDS = ("status", "text_md5", "n_pages")


def compare(expected: list[dict], actual: list[dict]) -> dict:
    """expected: oracle records; actual: output rows with url, warc_ts
    (epoch micros) and FIELDS."""
    got: dict[tuple, list[dict]] = {}
    for row in actual:
        got.setdefault((row["url"], row["warc_ts"]), []).append(row)
    captures_per_url = Counter(e["url"] for e in expected)
    mismatched, known, unexpected = 0, 0, []
    for e in expected:
        rows = got.get((e["url"], e["warc_ts"]), [])
        ok = len(rows) == 1 and all(rows[0][f] == e[f] for f in FIELDS)
        if ok:
            continue
        mismatched += 1
        if captures_per_url[e["url"]] > 1:
            known += 1
        else:
            unexpected.append(
                {"capture": [e["url"], e["warc_ts"]], "expected": e,
                 "got": rows}
            )
    keys = {(e["url"], e["warc_ts"]) for e in expected}
    for key, rows in got.items():
        if key not in keys and captures_per_url[key[0]] <= 1:
            unexpected.append({"capture": list(key), "expected": None,
                               "got": rows})
    completed = sum(
        1 for e in expected
        if any(r["status"] == "COMPLETED"
               for r in got.get((e["url"], e["warc_ts"]), []))
    )
    n = len(expected)
    return {
        "captures": n,
        "mismatched": mismatched,
        "known_defect": known,
        "unexpected": unexpected,
        "match_ratio": (n - mismatched) / n,
        "completed_ratio": completed / n,
        "correct": not unexpected,
    }
