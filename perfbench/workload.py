"""One workload run, in a fresh process (and so a fresh JVM).

Started by ``run.py`` as ``python3 perfbench/workload.py <spec.json>`` in
its own session. It builds the session, runs the workload once, writes
``result.json`` into the run directory and shuts the JVM down and reaps
it before exiting. The timed region runs from the ``get_spark()`` call to
the workload's final output; the correctness data is gathered after it.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402
from perfbench.reference import canon_rows, url_set_fingerprint  # noqa: E402


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def spark_conf(spec: dict) -> dict:
    run = spec["run_dir"]
    conf = {
        "spark.driver.memory": spec["driver_memory"],
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')} -XX:+PerfDisableSharedMem"
        ),
    }
    if spec["trace"]:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(run, "eventlog")
    return conf


def crawl_rounds(spark, spec: dict, inp: dict, out: dict) -> dict:
    """The budgeted BSP crawl. Returns what the timed region needs."""
    from walker_spark.plans.crawl import Crawler

    from perfbench.reference import crawl_conf

    site = inp["site"]
    conf = crawl_conf(site["seeds"][0].rstrip("/"), spec["host_budget"], spec["max_rounds"])
    crawler = Crawler(
        spark,
        conf,
        pages=inp["pages"],
        redirect_edges=inp["redirect_edges"],
        robots_bodies=site["robots"],
        checkpoint_dir=spec["ckpt_dir"],
        multi_host=True,
        seeds=site["seeds"],
    )
    summary = crawler.run()
    out["items"] = summary["total_fetched"]
    # round 0 fetches only the seeds and pays the plans' first compilation;
    # like the suite's cold pass it is in e2e_s but not in the latencies
    rounds_s = [sum(m.seconds.values()) for m in crawler.metrics]
    out["requests_s"] = rounds_s[1:] or rounds_s
    out["rounds"] = summary["rounds"]
    return {"crawler": crawler, "conf": conf, "robots": site["robots"], "summary": summary}


def crawl_counts(spark, state: dict) -> dict:
    """Decision counts of the crawl for the traced run's ratios, recomputed
    from the checkpointed results after the timed region: rows fetched,
    answered 200, raw outlinks, link-filter survivors, new links."""
    from pyspark.sql import functions as F
    from walker_spark.plans import crawl

    c = state["crawler"]
    link_candidates = getattr(crawl.link_candidates, "__wrapped__", crawl.link_candidates)
    counts = {
        "fetched_rows": sum(m.fetched for m in c.metrics),
        "frontier_rows": sum(m.frontier for m in c.metrics),
        "new_links": sum(m.new_links for m in c.metrics),
        "ok_rows": 0,
        "raw_links": 0,
        "candidates": 0,
        "kept_links": 0,
    }
    for d in state["summary"]["result_dirs"]:
        res = spark.read.parquet(c.io.path(d))
        r = res.agg(
            F.sum(F.when(F.col("code") == 200, 1).otherwise(0)).alias("ok"),
            F.sum(F.size("link_norms")).alias("raw"),
        ).first()
        cand = link_candidates(res, state["conf"], state["robots"], spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("link_count").alias("kept")
        ).first()
        counts["ok_rows"] += r["ok"] or 0
        counts["raw_links"] += r["raw"] or 0
        counts["candidates"] += cand["n"] or 0
        counts["kept_links"] += cand["kept"] or 0
    return counts


def crawl_rounds_check(spark, state: dict, out: dict) -> dict:
    c = state["crawler"]
    if out.get("trace"):
        out["trace_counts"] = crawl_counts(spark, state)
    return {
        "fetched": url_set_fingerprint(r["url"] for r in c.results_df().select("url").collect()),
        "seen": url_set_fingerprint(r["url"] for r in c.seen_df().collect()),
        "rounds": out["rounds"],
        "fetched_per_round": [m.fetched for m in c.metrics],
    }


def analytics_suite(spark, spec: dict, inp: dict, out: dict) -> dict:
    """A closed loop of one client: each query is sent when the previous
    answer has arrived, for each pass in the order the seed drew."""
    import __spark_entry__ as entry

    from perfbench import trace

    qs = entry.queries()
    answers = []
    lat: dict[str, list[float]] = {q: [] for q in spec["queries"]}
    for p, order in enumerate(spec["order"]):
        for q in order:
            with trace.span(f"suite.{q}", pass_no=p):
                t = time.perf_counter()
                df = qs[q](spark, spec["table_dir"])
                rows = df.collect()
                lat[q].append(time.perf_counter() - t)
            answers.append((q, df.columns, rows))
    out["items"] = len(answers)
    # request latency in the warmed session: the first (JIT-cold) pass,
    # which also runs the document crawl, is left out when there are more
    warm = 1 if len(spec["order"]) > 1 else 0
    out["requests_s"] = [x for q in spec["queries"] for x in lat[q][warm:]]
    out["latency_by_query"] = lat
    return {"answers": answers}


def analytics_suite_check(spark, state: dict, out: dict) -> dict:
    got: dict[str, list] = {}
    for q, cols, rows in state["answers"]:
        got.setdefault(q, []).append(canon_rows(cols, [tuple(r) for r in rows]))
    return got


WORKLOADS = {
    "crawl_rounds": (crawl_rounds, crawl_rounds_check),
    "analytics_suite": (analytics_suite, analytics_suite_check),
}


def register_inputs(spark, spec: dict) -> dict:
    if spec["workload"] == "analytics_suite":
        # the queries read their tables by path; registering them means
        # resolving their schemas once, as a first query would
        return {t: spark.read.parquet(f"{spec['table_dir']}/{t}.parquet") for t in ("documents", "events")}
    with open(os.path.join(spec["site_dir"], "site.json")) as f:
        site = json.load(f)
    return {
        "site": site,
        "pages": spark.read.parquet(os.path.join(spec["site_dir"], "pages.parquet")),
        "redirect_edges": spark.read.parquet(os.path.join(spec["site_dir"], "redirect_edges.parquet")),
    }


def stop_jvm(spark) -> None:
    """Stop the session, then end the py4j gateway JVM and wait for it,
    so its CPU is accounted to this process and nothing outlives it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    run = spec["run_dir"]
    work, check = WORKLOADS[spec["workload"]]

    from walker_spark.session import get_spark

    from perfbench import trace

    if spec["trace"]:
        trace.install()
    out: dict = {"trace": spec["trace"], "t0_epoch": time.time()}
    # interpreter start-up and imports are not part of the timed region
    cpu0 = procs.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    with trace.span("session.get_spark"):
        spark = get_spark(master=spec["master"], extra_conf=spark_conf(spec))
    spark.sparkContext.setLogLevel("ERROR")
    inp = register_inputs(spark, spec)
    out["setup_s"] = time.perf_counter() - t0
    state = work(spark, spec, inp, out)
    out["e2e_s"] = time.perf_counter() - t0
    out["cpu_s"] = procs.tree_cpu_s(os.getpid()) - cpu0
    with open(os.path.join(run, "timed_done"), "w") as f:
        f.write("1\n")

    # ---- outside the timed region ----
    out["ckpt_bytes"] = sum(dir_bytes(d) for d in glob.glob(spec["ckpt_glob"]))
    out["check"] = check(spark, state, out)
    if spec.get("corrupt"):
        out["check"] = corrupt(out["check"])
    if spec["trace"]:
        out["spans"] = trace.spans()
    stop_jvm(spark)
    with open(os.path.join(run, "result.json"), "w") as f:
        json.dump(out, f)


def corrupt(check: dict) -> dict:
    """Deliberately damage one output (the smoke tests' negative case)."""
    k = sorted(check)[0]
    v = check[k]
    if isinstance(v, list):
        v = [dict(v[0], sha="0" * 64)] + v[1:]
    elif isinstance(v, dict):
        v = dict(v, sha="0" * 64)
    else:
        v = -1
    check[k] = v
    return check


if __name__ == "__main__":
    main(sys.argv[1])
    sys.exit(0)

