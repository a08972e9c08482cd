"""Kernel replay: the fused extraction kernel's layers, single-threaded.

Calls the public kernel functions in the order ``extract_udfs.extract_docs``
does, on every capture of the workload's corpus, with a clock around each
layer.  No Spark: this is the single-thread floor the Spark plan is
compared against (``kernel.pages_per_s``).
"""

from __future__ import annotations

import json
import time

import pyarrow.parquet as pq

from ocr_spark.extract import heuristic as hx
from ocr_spark.operators.extract_udfs import _pack_blocks
from ocr_spark.payload import decode_doc

LAYERS = ("decode", "analyze", "ocr", "consolidate", "pack_json")
COUNTS = ("pages", "ocr_pages", "blocks", "lines", "json_bytes")


def replay(docs: list[tuple[bytes, str]]) -> dict[str, float]:
    clock = time.perf_counter
    t = dict.fromkeys(LAYERS, 0.0)
    n = dict.fromkeys(COUNTS, 0)
    for html, lang in docs:
        t0 = clock()
        try:
            doc = decode_doc(html)
        except ValueError:
            t["decode"] += clock() - t0
            continue
        t1 = clock()
        t["decode"] += t1 - t0
        for page in doc["pages"]:
            t0 = clock()
            info = hx.analyze_page(page, doc["dpi"])
            t1 = clock()
            t["analyze"] += t1 - t0
            if info["needs_ocr"]:
                lines = hx.extract_ocr_text(page, doc["dpi"], lang or "en")
                n["ocr_pages"] += 1
            else:
                lines = info["native_lines"]
            t2 = clock()
            t["ocr"] += t2 - t1
            blocks = hx.finish_page(lines, info["layout"])
            t3 = clock()
            t["consolidate"] += t3 - t2
            payload = json.dumps(_pack_blocks(blocks))
            t["pack_json"] += clock() - t3
            n["pages"] += 1
            n["blocks"] += len(blocks)
            n["lines"] += sum(len(b["lines"]) for b in blocks)
            n["json_bytes"] += len(payload)
    total = sum(t.values())
    out = {f"kernel.{k}_s": v for k, v in t.items()}
    out.update({f"kernel.{k}": float(v) for k, v in n.items()})
    out["kernel.pages_per_s"] = n["pages"] / total if total else 0.0
    return out


def load(pages_dir: str) -> list[tuple[bytes, str]]:
    """Every capture of the corpus as (payload, lang)."""
    tbl = pq.read_table(pages_dir, columns=["html", "lang"])
    return list(zip(tbl.column("html").to_pylist(),
                    tbl.column("lang").to_pylist()))
