"""Seeded workload inputs for the benchmark.

Every input is a pure function of (workload, seed).  The seed picks the
doc-index window ``[seed * STRIDE, seed * STRIDE + n)``; STRIDE is a
multiple of every modulus the fixture generators key on (kind k % 10,
page count k % 5, giant doc k % 997 with size k % 141, HTML variant
k % 5 and pure-boilerplate k % 17), so every seed sees the same kind,
page, OCR, revisit and corrupt mix with different bytes.

The benchmark, not the program, injects two properties real crawls have:

- revisit captures: the same url again, 30 days later, with another
  payload (window position j % 50 == 7);
- corrupt payloads: sgdoc bytes with one ``</page>`` removed, which
  ``payload.decode_doc`` rejects (window position j % 100 == 13).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from pathlib import Path

from ocr_spark import fixtures
from ocr_spark.oracle import extract_document

STRIDE = 10 * 997 * 141 * 17
# same kind and page count as k, different url-seeded bytes
REVISIT_SHIFT = 10 * 997 * 141
REVISIT_EVERY, REVISIT_AT = 50, 7
CORRUPT_EVERY, CORRUPT_AT = 100, 13
REVISIT_DELAY = dt.timedelta(days=30, hours=1)
N_FILES = 16

# docs per window: 2 x 997 puts exactly two giant documents in every
# pdf window; HTML docs are ~20x cheaper per doc, so the window is wider
WINDOW = {"pdf_mixed": 1994, "html_pages": 8000}


def corrupt(html: bytes) -> bytes:
    """Structural sgdoc damage: drop the first page close tag."""
    return html.replace(b"</page>", b"", 1)


def _pdf_rows(seed: int, n: int) -> list[dict]:
    base = seed * STRIDE
    rows = []
    for j in range(n):
        k = base + j
        row = fixtures.make_doc(k)
        if j % CORRUPT_EVERY == CORRUPT_AT:
            row["html"] = corrupt(row["html"])
        row.update(j=j, k=k, pdf=True)
        rows.append(row)
        if j % REVISIT_EVERY == REVISIT_AT:
            rows.append(
                {
                    "url": row["url"],
                    "warc_ts": row["warc_ts"] + REVISIT_DELAY,
                    "html": fixtures.make_doc(k + REVISIT_SHIFT)["html"],
                    "lang": row["lang"],
                    "j": j,
                    "k": k,
                    "pdf": True,
                    "revisit": True,
                }
            )
    return rows


def _html_rows(seed: int, n: int) -> list[dict]:
    base = seed * STRIDE
    rows = []
    for j in range(n):
        row = fixtures.make_html_doc(base + j)
        row.update(j=j, k=base + j)
        rows.append(row)
    return rows


def workload_rows(workload: str, seed: int) -> list[dict]:
    """All input captures of one (workload, seed), in window order."""
    if seed < 0:
        raise ValueError("seed must be >= 0")
    n = WINDOW[workload]
    if workload == "html_pages":
        return _html_rows(seed, n)
    return _pdf_rows(seed, n)


def in_template(row: dict, workload: str) -> bool:
    """pdf_mixed: the captures the resume checkpoint template holds (first
    half of the window, first captures only, so the revisits of those
    urls are new work for the resumable pass)."""
    return (
        workload == "pdf_mixed"
        and row["j"] < WINDOW[workload] // 2
        and not row.get("revisit")
    )


def _write_files(rows: list[dict], out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    per = -(-len(rows) // N_FILES)
    for f in range(N_FILES):
        chunk = [dict(r, text="") for r in rows[f * per:(f + 1) * per]]
        if chunk:
            fixtures.write_rows_parquet(out / f"part-{f:02d}.parquet", chunk)


_UNIX = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def micros(ts: dt.datetime) -> int:
    return (ts - _UNIX) // dt.timedelta(microseconds=1)


def oracle_record(row: dict) -> dict:
    """Expected output of one capture, from ``oracle.extract_document``;
    a capture the oracle raises on must come out FAILED."""
    rec = {"url": row["url"], "warc_ts": micros(row["warc_ts"])}
    try:
        doc = extract_document(row["html"], row["lang"])
    except ValueError:
        return {**rec, "status": "FAILED", "text_md5": _md5(""),
                "n_pages": 0, "ocr_pages": 0}
    return {**rec, "status": "COMPLETED", "text_md5": _md5(doc["text"]),
            "n_pages": doc["n_pages"], "ocr_pages": doc["ocr_pages"]}


def _md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def shares(rows: list[dict], expected: list[dict]) -> dict:
    """Input mix of one corpus (recorded in its manifest, self-tested)."""
    n = len(rows)
    kinds: dict[str, int] = {}
    for r in rows:
        kind = fixtures.kind_for(r["k"]) if r.get("pdf") else "html"
        kinds[kind] = kinds.get(kind, 0) + 1
    pages = sum(e["n_pages"] for e in expected)
    return {
        "captures": n,
        "kinds": {k: v / n for k, v in sorted(kinds.items())},
        "pages_per_capture": pages / n,
        "ocr_page_share": sum(e["ocr_pages"] for e in expected) / pages,
        "revisit_share": sum(1 for r in rows if r.get("revisit")) / n,
        "corrupt_share": sum(e["status"] == "FAILED" for e in expected) / n,
    }


def build(root: Path, workload: str, seed: int) -> Path:
    """Write (once) the parquet input of one (workload, seed) under root
    and return its directory.  Layout:

    - ``pages/``: every capture, as N_FILES contiguous slices of the
      window in parquet;
    - ``template_pages/``: pdf_mixed only, the captures the resume
      checkpoint template is built from;
    - ``expected.json``: the oracle record of every capture;
    - ``manifest.json``: capture counts and input shares.
    """
    d = root / f"{workload}-{seed}"
    if (d / "manifest.json").exists():
        return d
    tmp = root / f".{workload}-{seed}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rows = workload_rows(workload, seed)
    _write_files(rows, tmp / "pages")
    template = [r for r in rows if in_template(r, workload)]
    if template:
        _write_files(template, tmp / "template_pages")
    expected = [oracle_record(r) for r in rows]
    (tmp / "expected.json").write_text(json.dumps(expected))
    manifest = {
        "workload": workload,
        "seed": seed,
        "template_captures": len(template),
        "new_captures": len(rows) - len(template),
        **shares(rows, expected),
    }
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d
