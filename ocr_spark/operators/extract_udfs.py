"""Arrow-batched UDF stages of the extraction pipeline.

Each stage is a ``mapInPandas`` iterator function: Arrow batches in, Arrow
batches out; the only Python-per-item loops are over variable-size nested
documents/pages inside a batch (the same granularity the reference batches
at, document.py:91-133).  No row-at-a-time Spark UDFs anywhere.

Stage map (reference → here):
- _extract_page:      the one per-page chain — layout + native probe →
                      native | OCR route → consolidate (document.py:105-133)
- extract_docs:       fused plan — fitz.open + page list (document.py:532-544)
                      and _extract_page per page, straight off the scan
- extract_manifest:   extract_docs over worker-read parquet row-groups
- parse_pages:        paged plan, stage 1 — doc rows → page rows, the
                      cross-doc page flattening (document.py:783)
- analyze_and_finish: paged plan, stage 2 — decode_page + _extract_page
                      after the salted page-level exchange

Both plans return blocks as one JSON string per page
(PAGE_BLOCKS_JSON_SCHEMA), parsed JVM-side by pipeline._parse_blocks_json.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd

from ..extract import get_backend


class _BackendProxy:
    """Late-binding handle so every UDF picks up the worker's configured
    backend (OCR_SPARK_BACKEND env, resolved once per Python worker —
    the reference's lazy model-singleton pattern, ocr.py:10-34)."""

    def __getattr__(self, name):
        return getattr(get_backend(), name)


hx = _BackendProxy()


def _page_i(page) -> int:
    """Page index accessor valid for both backends (heuristic page dicts
    carry ``"i"``; model-backend fitz pages carry ``.i``)."""
    return page["i"] if isinstance(page, dict) else int(page.i)


def _bbox_list(b) -> list[float]:
    return [float(c) for c in b]


def _pack_blocks(blocks: list[dict]) -> list[dict]:
    """Kernel block dicts → nested rows matching BLOCK_TYPE with indexes
    assigned in final order (document.py:444-454 Block/Line construction)."""
    return [
        {
            "i": bi,
            "bbox": _bbox_list(b["bbox"]),
            "type": b["type"],
            "lines": [
                {"i": li, "bbox": _bbox_list(ln["bbox"]), "content": ln["content"]}
                for li, ln in enumerate(b["lines"])
            ],
        }
        for bi, b in enumerate(blocks)
    ]


def _extract_page(page, dpi: int, lang: str | None) -> tuple[bool, str]:
    """One decoded page through the whole per-page chain: layout + native
    probe → native | OCR route → consolidate → ``(ocr, blocks_json)``.

    Raises on any kernel failure; both callers turn that into a
    page-level EXTRACT_ERROR lineage row, so every plan fails at the same
    granularity and produces identical output."""
    info = hx.analyze_page(page, dpi)
    layout = [
        {"type": b["type"], "bbox": _bbox_list(b["bbox"])}
        for b in info["layout"]
    ]
    if info["needs_ocr"]:
        lines = hx.extract_ocr_text(page, dpi, lang or "en")
    else:
        lines = [
            {"bbox": _bbox_list(ln["bbox"]), "content": ln["content"]}
            for ln in info["native_lines"]
        ]
    blocks = _pack_blocks(hx.finish_page(lines, layout))
    return bool(info["needs_ocr"]), json.dumps(blocks)


def parse_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doc rows → page rows (url, warc_ts, lang, doc_dpi, page_i, n_pages,
    page_bytes, error).  Payload parse failures become error rows with
    page_i = -1 (failure-code lineage, SURVEY.md §2.9 R5)."""
    for pdf in batches:
        out: dict[str, list[Any]] = {
            "url": [], "warc_ts": [], "lang": [], "doc_dpi": [],
            "page_i": [], "n_pages": [], "page_bytes": [],
            "truncated": [], "error": [],
        }
        for url, warc_ts, html, lang in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]
        ):
            try:
                doc = hx.decode_doc(bytes(html))
                npg = len(doc["pages"])
                trunc = bool(doc.get("truncated"))
                if npg == 0:
                    # zero-page doc: placeholder row so the url survives
                    # to assembly (page_i=-1 collects no page there)
                    out["url"].append(url)
                    out["warc_ts"].append(warc_ts)
                    out["lang"].append(lang)
                    out["doc_dpi"].append(doc["dpi"])
                    out["page_i"].append(-1)
                    out["n_pages"].append(0)
                    out["page_bytes"].append(None)
                    out["truncated"].append(trunc)
                    out["error"].append(None)
                for page, raw in zip(doc["pages"], doc["page_bytes"]):
                    out["url"].append(url)
                    out["warc_ts"].append(warc_ts)
                    out["lang"].append(lang)
                    out["doc_dpi"].append(doc["dpi"])
                    out["page_i"].append(_page_i(page))
                    out["n_pages"].append(npg)
                    out["page_bytes"].append(raw)
                    out["truncated"].append(trunc)
                    out["error"].append(None)
            except Exception as e:  # noqa: BLE001 - failure-code lineage
                out["url"].append(url)
                out["warc_ts"].append(warc_ts)
                out["lang"].append(lang)
                out["doc_dpi"].append(0)
                out["page_i"].append(-1)
                out["n_pages"].append(0)
                out["page_bytes"].append(None)
                out["truncated"].append(False)
                out["error"].append(f"PARSE_ERROR: {type(e).__name__}: {e}")
        yield pd.DataFrame(out)


def extract_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Doc-level fully-fused stage: decode + probe + route + consolidate for
    every page of a document in ONE pass, straight from the scanned doc row.

    Why this shape (measured on the 240k-doc corpus):

    - binary payloads are the expensive thing to move across the
      JVM↔Python Arrow boundary — here they cross exactly once
      (scan → UDF) and never ride a shuffle or a UDF return;
    - the nested block tree is the expensive thing to hand BACK through
      Arrow (object-dtype struct coercion) — so blocks leave the worker as
      one JSON string per page (`json.dumps` is ~1000× cheaper than the
      per-element coercion) and are parsed JVM-side by codegen'd
      `from_json` (pipeline._parse_blocks_json).

    Right default when page kernels are CPU-cheap and docs are smallish;
    for corpora with giant documents use mode='paged' (page-level salted
    spread through :func:`analyze_and_finish`, same per-page kernel).
    """
    for pdf in batches:
        out: dict[str, list[Any]] = {
            "url": [], "warc_ts": [], "lang": [], "page_i": [],
            "n_pages": [], "ocr": [], "blocks_json": [],
            "truncated": [], "error": [],
        }

        def emit(url, warc_ts, lang, page_i, n_pages, ocr, blocks, error,
                 truncated=False):
            out["url"].append(url)
            out["warc_ts"].append(warc_ts)
            out["lang"].append(lang)
            out["page_i"].append(page_i)
            out["n_pages"].append(n_pages)
            out["ocr"].append(ocr)
            out["blocks_json"].append(blocks)
            out["truncated"].append(truncated)
            out["error"].append(error)

        for url, warc_ts, html, lang in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]
        ):
            try:
                doc = hx.decode_doc(bytes(html))
            except Exception as e:  # noqa: BLE001 - failure-code lineage
                emit(url, warc_ts, lang, -1, 0, False, "[]",
                     f"PARSE_ERROR: {type(e).__name__}: {e}")
                continue
            npg = len(doc["pages"])
            trunc = bool(doc.get("truncated"))
            if npg == 0:
                # zero-page documents still exist in the output (the
                # reference yields an empty tree, not an error); page_i=-1
                # marks "no page" and assembly skips it
                emit(url, warc_ts, lang, -1, 0, False, "[]", None, trunc)
                continue
            # Page indices are read under the doc-level guard (parity with
            # parse_pages, where a page-index failure is a PARSE_ERROR for
            # the whole document in the paged plan).
            try:
                page_is = [_page_i(p) for p in doc["pages"]]
            except Exception as e:  # noqa: BLE001 - failure-code lineage
                emit(url, warc_ts, lang, -1, 0, False, "[]",
                     f"PARSE_ERROR: {type(e).__name__}: {e}")
                continue
            # The kernel loop is guarded per PAGE — the same granularity as
            # analyze_and_finish in the paged plan, so both plans produce
            # IDENTICAL output on an error-injected corpus: a throwing page
            # becomes one page_i-level EXTRACT_ERROR lineage row while the
            # document's good pages survive, and a single bad page can
            # never abort a Spark task (or drop its siblings).
            for pi, page in zip(page_is, doc["pages"]):
                try:
                    ocr, blocks = _extract_page(page, doc["dpi"], lang)
                except Exception as e:  # noqa: BLE001 - failure-code lineage
                    emit(url, warc_ts, lang, pi, npg, False, "[]",
                         f"EXTRACT_ERROR: {type(e).__name__}: {e}", trunc)
                    continue
                emit(url, warc_ts, lang, pi, npg, ocr, blocks, None, trunc)
        yield pd.DataFrame(out)


def enumerate_row_groups(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """File rows → (file, row_group) split rows; the parquet FOOTER read
    happens on executors, not the driver (at millions of files a
    driver-side per-file loop is the scheduling bottleneck; on a real
    cluster the Iceberg ``.files`` metadata table supplies splits and this
    stage disappears)."""
    import pyarrow.parquet as pq

    for pdf in batches:
        files: list[str] = []
        rgs: list[int] = []
        for f in pdf["file"]:
            n = pq.ParquetFile(f).metadata.num_row_groups
            files.extend([f] * n)
            rgs.extend(range(n))
        yield pd.DataFrame({"file": files, "row_group": rgs})


def extract_manifest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Manifest stage: rows are (file, row_group) splits; the worker reads
    the parquet row-group itself with pyarrow and extracts every document
    in it.

    Why: the payload bytes never cross the JVM↔Python Arrow socket at all —
    the JVM only schedules splits and receives small block rows.  On a real
    cluster the same UDF reads s3a/abfs paths via pyarrow's filesystem
    (Iceberg's file manifest supplies the split list).  This is the
    standard shape for binary-heavy corpora (petastorm-style)."""
    import pyarrow.parquet as pq

    for mdf in batches:
        for file, rg in zip(mdf["file"], mdf["row_group"]):
            pf = pq.ParquetFile(file)
            tbl = pf.read_row_group(
                int(rg), columns=["url", "warc_ts", "html", "lang"]
            )
            yield from extract_docs(iter([tbl.to_pandas()]))


def analyze_and_finish(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Paged plan, stage 2: page rows (after the salted page-level
    exchange) → one PAGE_BLOCKS_JSON_SCHEMA row each.  Every page is
    decoded from its ``page_bytes`` and run through :func:`_extract_page`
    — the kernel the fused plan runs — under the same per-page
    EXTRACT_ERROR guard.  Rows that already carry a PARSE_ERROR, and
    zero-page placeholders, pass through with empty blocks."""
    for pdf in batches:
        ocr_col: list[bool] = []
        blocks_col: list[str] = []
        errors = list(pdf["error"])
        for pos, (page_bytes, doc_dpi, lang, error) in enumerate(
            zip(pdf["page_bytes"], pdf["doc_dpi"], pdf["lang"], pdf["error"])
        ):
            ocr, blocks = False, "[]"
            if error is None and page_bytes is not None:
                try:
                    page = hx.decode_page(bytes(page_bytes))
                    ocr, blocks = _extract_page(page, int(doc_dpi), lang)
                except Exception as e:  # noqa: BLE001 - failure-code lineage
                    errors[pos] = f"EXTRACT_ERROR: {type(e).__name__}: {e}"
            ocr_col.append(ocr)
            blocks_col.append(blocks)
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "lang": pdf["lang"],
                "page_i": pdf["page_i"],
                "n_pages": pdf["n_pages"],
                "ocr": ocr_col,
                "blocks_json": blocks_col,
                "truncated": pdf["truncated"],
                "error": errors,
            }
        )
