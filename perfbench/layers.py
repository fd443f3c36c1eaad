"""Per-layer metrics of a traced run: spans (trace.py) joined with Spark's
own event log, parsed offline.

Jobs carry the name of the innermost span that started them in
``spark.job.description``. A job's tasks give its executor run/CPU/GC
time, shuffle, spill and output bytes; the SQL plans (execution start and
every adaptive re-plan) map each SQL metric accumulator to its operator,
so operator metrics such as MapInPandas's Python-worker times can be
summed per layer. Only jobs submitted inside the timed region count.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

KINDS = ["results", "frontier", "lineage", "seen_compact", "redirect_map", "seed"]

SPARK_METRICS = [
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.core_idle_frac", "ratio"),
]


def metric_units(suite_queries: list[str]) -> dict[str, str]:
    """Every per-layer metric, in report order, with its unit. A metric
    of a layer the workload does not exercise reads 0."""
    m = {
        "session.get_spark_s": "s",
        "session.warm_jobs": "count",
        "crawl.rounds": "count",
        "crawl.jobs_per_round": "count",
        "crawl.round_p50_s": "s",
        "crawl.driver_self_s": "s",
        "crawl.redirect_resolve_s": "s",
        "crawl.span_coverage_frac": "ratio",
        "politeness.select_call_s": "s",
        "politeness.window_task_s": "s",
        "politeness.batch_frac": "ratio",
        "extract.py_run_s": "s",
        "extract.py_init_s": "s",
        "extract.py_start_s": "s",
        "extract.bytes_to_py": "bytes",
        "extract.bytes_from_py": "bytes",
        "extract.rows": "count",
        "fetch.join_task_s": "s",
        "fetch.pages_scan_bytes": "bytes",
        "fetch.ok_frac": "ratio",
        "linkfilter.candidates": "count",
        "linkfilter.kept_frac": "ratio",
        "linkfilter.robots_py_run_s": "s",
        "seen.task_s": "s",
        "seen.new_frac": "ratio",
        "seen.broadcast_bytes": "bytes",
    }
    for k in KINDS:
        m[f"tables.write_s.{k}"] = "s"
    for k in KINDS:
        m[f"tables.bytes_written.{k}"] = "bytes"
    for k in KINDS:
        m[f"tables.files_written.{k}"] = "count"
    m |= {
        "tables.row_count_s": "s",
        "tables.manifest_s": "s",
        "tables.read_s": "s",
        "tables.read_jobs": "count",
    }
    for q in suite_queries:
        m[f"suite.{q}.p50_s"] = "s"
    m["suite.first_pass_s"] = "s"
    m |= dict(SPARK_METRICS)
    # the process tree's peak resident memory varies by more than a tenth
    # between runs (JVM heap growth), so it is a layer metric, not an
    # end-to-end one
    m |= {"process.peak_rss_mb": "MB", "trace.e2e_s": "s", "trace.overhead_s": "s"}
    return m


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir`` (rolling
    ``eventlog_v2_*/events_<n>_*`` files or a single file; zstd or plain)."""
    import pyarrow as pa

    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)]
    files = [f for f in files if os.path.basename(f).startswith(("events_", "local-", "app-"))]

    def index(f):
        parts = os.path.basename(f).split("_")
        return int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0

    events = []
    for f in sorted(files, key=index):
        if f.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(f), "zstd") as s:
                data = s.read()
        else:
            with open(f, "rb") as fh:
                data = fh.read()
        events.extend(json.loads(line) for line in data.decode().splitlines() if line.strip())
    return events


class EventLog:
    """Jobs, stages, tasks and SQL operator metrics, indexed by the job
    description (the layer) that started them."""

    def __init__(self, events: list[dict], t_start: float, t_end: float):
        ms0, ms1 = t_start * 1000, t_end * 1000
        self.jobs: dict[int, dict] = {}
        stage_desc: dict[int, str] = {}
        exec_desc: dict[int, str] = {}
        self.acc_node: dict[int, tuple[str, str, str, str]] = {}  # id -> node, metric, type, plan text
        self.stage_scopes: dict[int, set[str]] = {}
        self.tasks: list[dict] = []
        self.node_metrics: dict[tuple[str, str, str], float] = {}  # (desc, node, metric) -> value
        self.scan_bytes: dict[str, float] = {}
        driver_updates: list[tuple[int, list]] = []
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                t = e["Submission Time"]
                if not (ms0 <= t <= ms1):
                    continue
                desc = (e.get("Properties") or {}).get("spark.job.description") or "(none)"
                self.jobs[e["Job ID"]] = {"desc": desc, "time": t / 1000}
                for s in e["Stage IDs"]:
                    stage_desc.setdefault(s, desc)
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                if ev.endswith("SQLExecutionStart"):
                    exec_desc[e["executionId"]] = e.get("description") or "(none)"
                self._plan(e["sparkPlanInfo"])
            elif ev.endswith("DriverAccumUpdates"):
                driver_updates.append((e["executionId"], e["accumUpdates"]))
            elif ev in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = e["Stage Info"]
                sc = self.stage_scopes.setdefault(info["Stage ID"], set())
                for r in info.get("RDD Info", []):
                    if r.get("Scope"):
                        sc.add(json.loads(r["Scope"])["name"].strip())
            elif ev == "SparkListenerTaskEnd":
                desc = stage_desc.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if desc is None or not m:
                    continue
                sr = m["Shuffle Read Metrics"]
                self.tasks.append(
                    {
                        "desc": desc,
                        "stage": e["Stage ID"],
                        "run_s": m["Executor Run Time"] / 1000,
                        "cpu_s": m["Executor CPU Time"] / 1e9,
                        "gc_s": m["JVM GC Time"] / 1000,
                        "shuffle_write": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        "shuffle_read": sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                        "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                        "out_bytes": m["Output Metrics"]["Bytes Written"],
                    }
                )
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        self._acc(desc, a["ID"], a["Update"])
        for ex, updates in driver_updates:
            desc = exec_desc.get(ex)
            if desc is not None:
                for acc_id, v in updates:
                    self._acc(desc, acc_id, v)

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (
                node["nodeName"].strip(),
                m["name"],
                m.get("metricType", ""),
                node.get("simpleString", ""),
            )
        for c in node.get("children", []):
            self._plan(c)

    def _acc(self, desc: str, acc_id: int, update) -> None:
        node = self.acc_node.get(acc_id)
        if node is None:
            return
        name, metric, mtype, text = node
        v = float(update)
        if mtype == "timing":
            v /= 1000
        elif mtype == "nsTiming":
            v /= 1e9
        key = (desc, name, metric)
        self.node_metrics[key] = self.node_metrics.get(key, 0.0) + v
        if name == "Scan parquet" and metric == "size of files read" and "pages.parquet" in text:
            self.scan_bytes[desc] = self.scan_bytes.get(desc, 0.0) + v

    def node(self, descs, name: str, metric: str) -> float:
        return sum(
            v for (d, n, m), v in self.node_metrics.items() if d in descs and n == name and m == metric
        )

    def task_sum(self, field: str, descs=None, scopes=None) -> float:
        return sum(
            t[field]
            for t in self.tasks
            if (descs is None or t["desc"] in descs)
            and (scopes is None or self.stage_scopes.get(t["stage"], set()) & scopes)
        )


# ----------------------------------------------------------------- spans

def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _descendants(spans: list[dict], root: dict) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root["id"]]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def per_layer(
    spec: dict, res: dict, mon: dict, history: dict | None, suite_queries: list[str]
) -> tuple[dict, str]:
    """(metrics, human-readable breakdown) of a traced run. ``history``:
    the last untraced run of the same workload, seed and size."""
    units = metric_units(suite_queries)
    vals = {k: 0.0 for k in units}
    spans = res["spans"]
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    t_start, t_end = res["t0_epoch"], res["t0_epoch"] + res["e2e_s"]
    log = EventLog(read_event_log(os.path.join(spec["run_dir"], "eventlog")), t_start, t_end)
    lines = []

    # session
    gs = by_name["session.get_spark"][0]
    vals["session.get_spark_s"] = _dur(gs)
    vals["session.warm_jobs"] = sum(1 for j in log.jobs.values() if j["time"] <= gs["end"])

    # crawl loop (every Crawler.run of the run: one for the crawls, the
    # document crawl behind the suite's crawl_* queries)
    runs = by_name.get("crawl.run", [])
    selects = sorted(by_name.get("politeness.select", []), key=lambda s: s["start"])
    manifests = sorted(by_name.get("tables.manifest", []), key=lambda s: s["start"])
    rounds_wall = []
    for i, sel in enumerate(selects):
        end = next((m["end"] for m in manifests if m["start"] > sel["start"]), sel["end"])
        rounds_wall.append(end - sel["start"])
    if runs:
        run_time = sum(_dur(r) for r in runs)
        covered = 0.0
        for r in runs:
            kids = _descendants(spans, r)
            covered += _union(
                [(max(k["start"], r["start"]), min(k["end"], r["end"])) for k in kids if k["end"] > r["start"]]
            )
        run_jobs = sum(1 for j in log.jobs.values() for r in runs if r["start"] <= j["time"] <= r["end"])
        vals["crawl.rounds"] = len(selects)
        vals["crawl.jobs_per_round"] = run_jobs / max(1, len(selects))
        vals["crawl.round_p50_s"] = statistics.median(rounds_wall) if rounds_wall else 0.0
        vals["crawl.driver_self_s"] = run_time - covered
        vals["crawl.span_coverage_frac"] = covered / run_time if run_time else 0.0
        vals["crawl.redirect_resolve_s"] = sum(
            _dur(s) for s in by_name.get("crawl.resolve_redirects", []) + by_name.get("tables.write:redirect_map", [])
        )
    counts = res.get("trace_counts", {})
    vals["politeness.select_call_s"] = sum(_dur(s) for s in selects)
    # the select window executes inside the results write it feeds
    win = {"Window", "WindowGroupLimit"}
    vals["politeness.window_task_s"] = log.task_sum("run_s", descs={"tables.write:results"}, scopes=win)
    if counts.get("frontier_rows"):
        vals["politeness.batch_frac"] = counts["fetched_rows"] / counts["frontier_rows"]

    # fetch join + extract: the results write executes the fused
    # select -> fetch join -> extract plan
    rw = {"tables.write:results"}
    for metric, key in [
        ("time to run Python workers", "extract.py_run_s"),
        ("time to initialize Python workers", "extract.py_init_s"),
        ("time to start Python workers", "extract.py_start_s"),
        ("data sent to Python workers", "extract.bytes_to_py"),
        ("data returned from Python workers", "extract.bytes_from_py"),
        ("number of output rows", "extract.rows"),
    ]:
        vals[key] = log.node(rw, "MapInPandas", metric)
    vals["fetch.join_task_s"] = max(0.0, log.task_sum("run_s", descs=rw) - vals["extract.py_run_s"])
    vals["fetch.pages_scan_bytes"] = sum(v for d, v in log.scan_bytes.items() if d in rw)
    if counts.get("fetched_rows"):
        vals["fetch.ok_frac"] = counts["ok_rows"] / counts["fetched_rows"]

    # link filter + seen anti-join: executed by the frontier write
    fw = {"tables.write:frontier"}
    if counts.get("candidates"):
        vals["linkfilter.candidates"] = counts["candidates"]
        vals["linkfilter.kept_frac"] = counts["kept_links"] / max(1, counts["raw_links"])
        vals["seen.new_frac"] = counts["new_links"] / counts["candidates"]
    vals["linkfilter.robots_py_run_s"] = log.node(fw, "ArrowEvalPython", "time to run Python workers")
    vals["seen.task_s"] = log.task_sum("run_s", descs=fw)
    vals["seen.broadcast_bytes"] = log.node(fw, "BroadcastExchange", "data size")

    # tables
    for k in KINDS:
        d = {f"tables.write:{k}"}
        vals[f"tables.write_s.{k}"] = sum(_dur(s) for s in by_name.get(f"tables.write:{k}", []))
        vals[f"tables.bytes_written.{k}"] = log.task_sum("out_bytes", descs=d)
        vals[f"tables.files_written.{k}"] = log.node(d, "Execute InsertIntoHadoopFsRelationCommand", "number of written files")
    vals["tables.row_count_s"] = sum(_dur(s) for s in by_name.get("tables.row_count", []))
    vals["tables.manifest_s"] = sum(_dur(s) for s in manifests)
    vals["tables.read_s"] = sum(_dur(s) for s in by_name.get("tables.read", []))
    vals["tables.read_jobs"] = sum(1 for j in log.jobs.values() if j["desc"] == "tables.read")

    # analytics suite
    first = 0.0
    for q in spec.get("queries", []):
        ss = by_name.get(f"suite.{q}", [])
        if ss:
            vals[f"suite.{q}.p50_s"] = statistics.median(_dur(s) for s in ss)
            first += sum(_dur(s) for s in ss if s.get("pass_no") == 0)
    vals["suite.first_pass_s"] = first

    # engine-wide
    vals["spark.jobs"] = len(log.jobs)
    vals["spark.stages"] = len({t["stage"] for t in log.tasks})
    vals["spark.tasks"] = len(log.tasks)
    vals["spark.task_run_s"] = log.task_sum("run_s")
    vals["spark.task_cpu_s"] = log.task_sum("cpu_s")
    vals["spark.gc_s"] = log.task_sum("gc_s")
    vals["spark.shuffle_write_bytes"] = log.task_sum("shuffle_write")
    vals["spark.shuffle_read_bytes"] = log.task_sum("shuffle_read")
    vals["spark.spill_bytes"] = log.task_sum("spill")
    work_wall = res["e2e_s"] - vals["session.get_spark_s"]
    vals["spark.core_idle_frac"] = max(0.0, 1 - vals["spark.task_run_s"] / (spec["cores"] * work_wall))

    vals["process.peak_rss_mb"] = mon["peak_rss_mb"]
    vals["trace.e2e_s"] = res["e2e_s"]
    if history:
        vals["trace.overhead_s"] = res["e2e_s"] - history["e2e_s"]
        lines.append(
            f"tracing overhead: traced e2e_s {res['e2e_s']:.3f} s - untraced e2e_s "
            f"{history['e2e_s']:.3f} s (same workload, seed and --seconds) = {vals['trace.overhead_s']:+.3f} s"
        )
    else:
        lines.append("tracing overhead: no untraced run of this workload, seed and --seconds yet (reads 0)")

    lines += breakdown(spans, rounds_wall, selects, manifests, log)
    metrics = {k: {"value": vals[k], "unit": u} for k, u in units.items()}
    return metrics, "\n".join(lines)


def breakdown(spans, rounds_wall, selects, manifests, log: EventLog) -> list[str]:
    """Per crawl round: wall time and the layer spans that fill it, then
    where executor time went per layer (job description)."""
    lines = []
    if selects:
        lines.append("crawl rounds: wall = layer spans (main thread, merged) + driver glue")
        for i, sel in enumerate(selects):
            end = sel["start"] + rounds_wall[i]
            inside = [
                s
                for s in spans
                if s["thread"] == "MainThread" and s["start"] >= sel["start"] and s["end"] <= end and s["name"] != "crawl.run"
            ]
            parts: dict[str, float] = {}
            for s in inside:
                parts[s["name"]] = parts.get(s["name"], 0.0) + _dur(s)
            covered = _union([(s["start"], s["end"]) for s in inside])
            top = ", ".join(f"{k} {v:.2f}" for k, v in sorted(parts.items(), key=lambda kv: -kv[1])[:6])
            lines.append(
                f"  round {i}: wall {rounds_wall[i]:.2f} s, spans {covered:.2f} s "
                f"({100 * covered / rounds_wall[i]:.0f}%): {top}"
            )
    per_desc: dict[str, list[float]] = {}
    for t in log.tasks:
        p = per_desc.setdefault(t["desc"], [0.0, 0.0, 0])
        p[0] += t["run_s"]
        p[1] += t["cpu_s"]
        p[2] += 1
    jobs: dict[str, int] = {}
    for j in log.jobs.values():
        jobs[j["desc"]] = jobs.get(j["desc"], 0) + 1
    lines.append("executor time by layer (event log; job description = innermost span):")
    for d, (run_s, cpu_s, n) in sorted(per_desc.items(), key=lambda kv: -kv[1][0]):
        lines.append(f"  {d:32s} jobs {jobs.get(d, 0):4d} tasks {n:5d} run {run_s:8.2f} s cpu {cpu_s:8.2f} s")
    return lines
