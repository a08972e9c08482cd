"""One fresh-JVM benchmark process: set up, warm up, run timed jobs.

Started by run.py as ``python3 perfbench/worker.py <json args>``; prints
one JSON result line.  Each timed job is ``pipeline.extract`` over the
whole corpus into the noop sink, submitted in a closed loop: the next
job starts only after the previous one has committed.

In the traced run (Spark UI on) two layers the timed jobs do not reach
are driven once after the window:

- pdf_mixed, ``io``: a fresh copy of the seed's checkpoint template
  (first half of the corpus), one ``io.run_resumable`` pass over the
  whole corpus, then a second pass that must find nothing to do;
- html_pages, ``curate``: ``jobs/curate_job.py`` over an extracted
  slice of the corpus.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from layers import plan_layers  # noqa: E402
from ocr_spark.io import pending_pages, run_resumable  # noqa: E402
from ocr_spark.pipeline import extract, read_pages  # noqa: E402
from ocr_spark.session import get_spark  # noqa: E402
from spans import Tracer  # noqa: E402

MAX_ATTEMPTS = 1  # a corrupt capture fails once and is not retried
CURATE_FILES = 1  # corpus files (of 16) extracted as the curate input
# the reference-free part of the production flag set bench.py uses; the
# reference-corpus stages (incremental, classifier, decontam) and the LM
# head would push the traced run past its time limit
CURATE_FLAGS = (
    "--latest-capture", "--lang", "en", "--gopher", "--c4-hard-drops",
    "--near-dup", "--line-dedup", "--pii",
    "--split", "train=0.99,val=0.005,test=0.005", "--shards", "8",
)


def spark_session(a: dict):
    conf = {
        # a heap fixed at its maximum and faulted in at start: no
        # heap-growth or first-touch phase inside the timed window, and
        # a peak RSS that does not depend on how far a run got
        "spark.driver.extraJavaOptions":
            f"-Xms{a['heap']} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={a['tmp']}",
    }
    if a["traced"]:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.sql.ui.retainedExecutions": "10000",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        })
    return get_spark(f"perfbench-{a['workload']}", cores=a["cores"],
                     extra_conf=conf)


def extract_job(spark, pages) -> None:
    extract(read_pages(spark, pages)).write.format("noop").mode(
        "overwrite"
    ).save()


def resume_pass(spark, pages: str, ckpt: str) -> int:
    return run_resumable(read_pages(spark, pages), ckpt,
                         max_attempts=MAX_ATTEMPTS)


def output_rows(df) -> list[dict]:
    """The checked columns of an extracted table, one dict per row."""
    rows = df.select(
        "url",
        F.unix_micros("warc_ts").alias("warc_ts"),
        "status",
        F.md5(F.col("text")).alias("text_md5"),
        "n_pages",
    ).collect()
    return [r.asDict() for r in rows]


def _no_span(name: str):
    return contextlib.nullcontext()


def timed_jobs(spark, pages: str, a: dict, span) -> list[dict]:
    jobs, spent = [], 0.0
    while spent < a["seconds"] or len(jobs) < a["min_jobs"]:
        t = time.time()
        with span("job"):
            extract_job(spark, pages)
        end = time.time()
        jobs.append({"seconds": end - t, "captures": a["captures"]})
        spent += end - t
    return jobs


def drive_resume(spark, corpus: Path, tmp: Path, span) -> dict:
    """The io layer: one resumable pass and one no-op pass."""
    template = corpus / "checkpoint_template"
    if not template.exists():
        staging = tmp / "template"
        resume_pass(spark, str(corpus / "template_pages"), str(staging))
        partial = corpus / f"checkpoint_template.{os.getpid()}"
        shutil.copytree(staging, partial)
        partial.rename(template)
    ckpt = tmp / "ckpt"
    shutil.copytree(template, ckpt)
    pages = str(corpus / "pages")
    t = time.time()
    pending_pages(read_pages(spark, pages), str(ckpt),
                  max_attempts=MAX_ATTEMPTS).select("url").take(1)
    t1 = time.time()
    with span("io.pass"):
        if resume_pass(spark, pages, str(ckpt)) <= 0:
            raise RuntimeError("resume pass found nothing to do")
    t2 = time.time()
    with span("io.noop_pass"):
        if resume_pass(spark, pages, str(ckpt)) != 0:
            raise RuntimeError("second resume pass was not a no-op")
    t3 = time.time()
    return {
        "probe_s": t1 - t,
        "pass_s": t2 - t1,
        "noop_pass_s": t3 - t2,
        "rows": output_rows(spark.read.parquet(str(ckpt))),
    }


def drive_curate(spark, corpus: Path, tmp: Path) -> dict:
    """The curate layer: ``jobs/curate_job.py`` in this session over the
    extraction of the first CURATE_FILES corpus files; returns the job's
    summary."""
    files = sorted(str(p) for p in (corpus / "pages").glob("*.parquet"))
    extracted = str(tmp / "extracted")
    extract(spark.read.parquet(*files[:CURATE_FILES])).write.parquet(
        extracted)
    blocklist = tmp / "blocklist.txt"
    blocklist.write_text("blocked.example\n")
    spec = importlib.util.spec_from_file_location(
        "curate_job", ROOT / "jobs" / "curate_job.py")
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    argv = ["curate_job.py", "--input", extracted,
            "--output", str(tmp / "curated"), "--blocklist", str(blocklist),
            *CURATE_FLAGS]
    out = io.StringIO()
    saved = sys.argv
    sys.argv = argv
    try:
        with contextlib.redirect_stdout(out):
            if job.main() != 0:
                raise RuntimeError("curate_job failed")
    finally:
        sys.argv = saved
    return json.loads(out.getvalue().strip().splitlines()[-1])


def main() -> int:
    a = json.loads(sys.argv[1])
    corpus = Path(a["corpus"])
    tmp = Path(a["tmp"])
    pages = str(corpus / "pages")
    spark = spark_session(a)
    # untimed warm-up passes: Python workers, codegen, and JIT, which
    # keeps speeding jobs up for several passes more; the first pass
    # collects the output the check compares
    for i in range(a["warmup"]):
        if i == 0 and a["check_out"]:
            Path(a["check_out"]).write_text(json.dumps(
                output_rows(extract(read_pages(spark, pages)))))
        else:
            extract_job(spark, pages)
    setup_s = time.time() - a["t0"]

    tracer = None
    if a["traced"]:
        tracer = Tracer(a["run_id"])
    span = tracer.span if tracer is not None else _no_span
    jobs = timed_jobs(spark, pages, a, span)
    result = {"setup_s": setup_s, "jobs": jobs}

    if a.get("resume_out"):
        resume = drive_resume(spark, corpus, tmp, span)
        Path(a["resume_out"]).write_text(json.dumps(resume.pop("rows")))
        result["io"] = resume
    if tracer is not None:
        result["layers"] = plan_layers(spark, tracer, jobs)
        if a.get("curate"):
            with tracer.span("curate"):
                # curate_job stops the session, so it runs last
                result["curate"] = drive_curate(spark, corpus, tmp)
        tracer.dump(a["spans_out"])
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
