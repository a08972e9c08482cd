"""Per-layer metrics of the traced run, read from Spark's own plan and
stage metrics after the timed window.

A SQL execution belongs to the innermost benchmark span that contains
its submission time.  Executions under ``job`` spans give per-job means
over the timed jobs; executions under the ``io.*`` spans (the one
resumable pass) give the ``io.*`` write figures.  Stages become child
spans of their execution, so self times fall out of spans.self_times:

- ``client.self_s``: job span time outside every SQL execution (Python
  plan building, file listing, the driver side of the resume probe);
- ``driver.self_s``: SQL execution time outside its stages (planning,
  AQE re-planning, scheduling, commit).
"""

from __future__ import annotations

from spans import SparkRest, node_metrics, self_times, ui_time

PLAN_KEYS = (
    "scan.time_s", "scan.bytes",
    "udf.python_run_s", "udf.python_init_s", "udf.python_start_s",
    "udf.bytes_to_python", "udf.bytes_from_python",
    "map_stage.jvm_cpu_s", "map_stage.gc_s",
    "map_stage.task_max_s", "map_stage.task_median_s",
    "assemble.shuffle_bytes", "assemble.shuffle_records",
    "assemble.reduce_agg_s", "assemble.sort_fallback_tasks",
    "client.self_s", "driver.self_s",
)
# the io pass is driven once, so its figures are totals of that pass
IO_KEYS = ("io.write_s", "io.write_shuffle_bytes", "io.files_written",
           "io.bytes_written")

# benchmark-side spans around calls into the program
CLIENT_SPANS = ("job", "io.pass", "io.noop_pass")

_MAP_IN_PANDAS = {
    "time to run Python workers": "udf.python_run_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to start Python workers": "udf.python_start_s",
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
}


def _children(execution: dict) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for e in execution["edges"]:
        kids.setdefault(e["toId"], []).append(e["fromId"])
    return kids


def _node_layers(execution: dict, out: dict) -> None:
    nodes = {n["nodeId"]: n for n in execution["nodes"]}
    kids = _children(execution)

    def child_names(nid):
        return [nodes[c]["nodeName"] for c in kids.get(nid, [])]

    for nid, node in nodes.items():
        name = node["nodeName"]
        m = node_metrics(node)
        if name.startswith("Scan parquet"):
            out["scan.time_s"] += m.get("scan time", 0.0)
            out["scan.bytes"] += m.get("size of files read", 0.0)
        elif name == "MapInPandas":
            for metric, key in _MAP_IN_PANDAS.items():
                out[key] += m.get(metric, 0.0)
        elif name == "ObjectHashAggregate":
            out["assemble.sort_fallback_tasks"] += m.get(
                "number of sort fallback tasks", 0.0)
            below = child_names(nid)
            if below and below[0] in ("AQEShuffleRead", "Exchange"):
                # reduce side only: the map side is pipelined with
                # MapInPandas and its build time includes the UDF
                out["assemble.reduce_agg_s"] += m.get(
                    "time in aggregation build", 0.0)
        elif name == "Exchange" and "ObjectHashAggregate" in child_names(nid):
            out["assemble.shuffle_bytes"] += m.get("shuffle bytes written", 0)
            out["assemble.shuffle_records"] += m.get(
                "shuffle records written", 0)
        elif "InsertIntoHadoopFsRelationCommand" in name:
            out["io.files_written"] += m.get("number of written files", 0)
            out["io.bytes_written"] += m.get("written output", 0)
            write_exchange = _first_below(nid, "Exchange", nodes, kids)
            if write_exchange is not None:
                out["io.write_shuffle_bytes"] += node_metrics(
                    nodes[write_exchange]).get("shuffle bytes written", 0)


def _first_below(nid, name, nodes, kids):
    queue = list(kids.get(nid, []))
    while queue:
        c = queue.pop(0)
        if nodes[c]["nodeName"] == name:
            return c
        queue.extend(kids.get(c, []))
    return None


def plan_layers(spark, tracer, jobs: list[dict]) -> dict[str, float]:
    rest = SparkRest(spark)
    stages = rest.stages()
    spark_jobs = rest.jobs()
    out = dict.fromkeys(PLAN_KEYS + IO_KEYS, 0.0)
    client = [s for s in tracer.spans if s.name in CLIENT_SPANS]
    map_task_max, map_task_med, job_sql = [], [], []
    for ex in rest.executions():
        start = ui_time(ex["submissionTime"])
        owner = max(
            (s for s in client if s.start <= start <= s.end),
            key=lambda s: s.start, default=None,
        )
        if owner is None or ex["status"] != "COMPLETED":
            continue
        sql_id = tracer.add(
            "spark.sql", start, start + ex["duration"] / 1000.0, owner.id
        )
        ex_stages = [
            stages[sid]
            for jid in ex["successJobIds"]
            for sid in spark_jobs[jid]["stageIds"]
            if sid in stages
        ]
        for st in ex_stages:
            tracer.add("spark.stage", ui_time(st["submissionTime"]),
                       ui_time(st["completionTime"]), sql_id)
        nodes = dict.fromkeys(PLAN_KEYS + IO_KEYS, 0.0)
        _node_layers(ex, nodes)
        if owner.name != "job":
            for k in IO_KEYS:
                out[k] += nodes[k]
            if nodes["io.files_written"] and ex_stages:
                # the final stage of a write execution writes the files
                last = max(ex_stages, key=lambda s: s["stageId"])
                out["io.write_s"] += (ui_time(last["completionTime"])
                                      - ui_time(last["submissionTime"]))
            continue
        job_sql.append(sql_id)
        for k in PLAN_KEYS:
            out[k] += nodes[k]
        scans = [st for st in ex_stages if st["inputBytes"] > 0]
        if scans and any(n["nodeName"] == "MapInPandas" for n in ex["nodes"]):
            # the map stage: the scan stage that runs the extraction UDF
            st = max(scans, key=lambda s: s["executorRunTime"])
            out["map_stage.jvm_cpu_s"] += st["executorCpuTime"] / 1e9
            out["map_stage.gc_s"] += st["jvmGcTime"] / 1e3
            med, mx = rest.task_median_max(st)
            map_task_med.append(med)
            map_task_max.append(mx)
    own = self_times(tracer.spans)
    n = len(jobs)
    per_job = {k: out[k] / n for k in PLAN_KEYS}
    per_job["client.self_s"] = sum(
        own[s.id] for s in tracer.spans if s.name == "job") / n
    per_job["driver.self_s"] = sum(own[i] for i in job_sql) / n
    # task-duration quantiles are per stage, not summed
    per_job["map_stage.task_max_s"] = max(map_task_max, default=0.0)
    per_job["map_stage.task_median_s"] = (
        sorted(map_task_med)[len(map_task_med) // 2] if map_task_med else 0.0
    )
    per_job.update({k: out[k] for k in IO_KEYS})
    return per_job
