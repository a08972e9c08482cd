"""Self-tests of the benchmark (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import corpus  # noqa: E402
from spans import Span, covered, metric_value, self_times  # noqa: E402


def _files(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes()
            for p in sorted(d.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("workload", sorted(corpus.WINDOW))
def test_same_seed_same_bytes(tmp_path, workload):
    a = corpus.build(tmp_path / "a", workload, 3)
    b = corpus.build(tmp_path / "b", workload, 3)
    assert _files(a) == _files(b)


@pytest.mark.parametrize("workload", sorted(corpus.WINDOW))
def test_seeds_share_the_input_mix(tmp_path, workload):
    import json

    m = [json.loads((corpus.build(tmp_path, workload, s)
                     / "manifest.json").read_text()) for s in (0, 7)]
    for key in ("captures", "kinds", "pages_per_capture", "ocr_page_share",
                "revisit_share", "corrupt_share", "template_captures"):
        assert m[0][key] == m[1][key], key
    rows = [corpus.workload_rows(workload, s)[:50] for s in (0, 7)]
    assert [r["html"] for r in rows[0]] != [r["html"] for r in rows[1]]
    if workload == "pdf_mixed":
        assert m[0]["revisit_share"] > 0 and m[0]["corrupt_share"] > 0


def test_corrupt_payloads_are_rejected():
    from ocr_spark.payload import decode_doc

    rows = corpus.workload_rows("pdf_mixed", 2)
    bad = [r for r in rows
           if r["j"] % corpus.CORRUPT_EVERY == corpus.CORRUPT_AT
           and not r.get("revisit")]
    assert bad
    for r in bad:
        with pytest.raises(ValueError):
            decode_doc(r["html"])
        assert corpus.oracle_record(r)["status"] == "FAILED"


def _expected():
    base = {"status": "COMPLETED", "text_md5": "d41d", "n_pages": 2}
    return [
        {"url": "u1", "warc_ts": 1, **base},
        {"url": "u2", "warc_ts": 2, **base},
        {"url": "u3", "warc_ts": 3, **base},  # revisited url
        {"url": "u3", "warc_ts": 9, **base, "text_md5": "beef"},
    ]


def test_check_accepts_oracle_output():
    v = check.compare(_expected(), [dict(e) for e in _expected()])
    assert v["correct"] and v["match_ratio"] == 1.0
    assert v["completed_ratio"] == 1.0


def test_check_flags_one_altered_row():
    actual = [dict(e) for e in _expected()]
    actual[1]["text_md5"] = "0000"
    v = check.compare(_expected(), actual)
    assert not v["correct"]
    assert v["mismatched"] == 1 and v["match_ratio"] == 0.75
    assert v["unexpected"][0]["capture"] == ["u2", 2]


@pytest.mark.parametrize("field,value", [
    ("status", "FAILED"), ("n_pages", 3), ("warc_ts", 5),
])
def test_check_flags_status_pages_and_identity(field, value):
    actual = [dict(e) for e in _expected()]
    actual[0][field] = value
    assert not check.compare(_expected(), actual)["correct"]


def test_check_counts_revisit_merge_as_known_defect():
    actual = [dict(e) for e in _expected()[:3]]  # u3 merged into one row
    actual[2]["n_pages"] = 4
    v = check.compare(_expected(), actual)
    assert v["correct"]
    assert v["known_defect"] == 2 and v["match_ratio"] == 0.5
    assert v["completed_ratio"] == 0.75


def test_check_flags_duplicate_and_extra_rows():
    actual = [dict(e) for e in _expected()] + [dict(_expected()[0])]
    assert not check.compare(_expected(), actual)["correct"]
    extra = [dict(e) for e in _expected()] + [
        {"url": "u9", "warc_ts": 1, "status": "COMPLETED",
         "text_md5": "x", "n_pages": 1}]
    assert not check.compare(_expected(), extra)["correct"]


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "job", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 3.0, 0, "r"),
        Span(2, "b", 2.0, 5.0, 0, "r"),  # overlaps a
        Span(3, "c", 8.0, 12.0, 0, "r"),  # runs past its parent
        Span(4, "d", 2.5, 3.5, 2, "r"),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[1] == pytest.approx(2.0)
    assert covered([], 0.0, 1.0) == 0.0


@pytest.mark.parametrize("text,value", [
    ("1,259", 1259.0),
    ("532 ms", 0.532),
    ("2.2 MiB", 2.2 * 2**20),
    ("total (min, med, max (stageId: taskId))\n9.4 s (2.2 s, 2.3 s, "
     "2.6 s (stage 6.0: task 6))", 9.4),
])
def test_metric_value(text, value):
    assert metric_value(text) == pytest.approx(value)
