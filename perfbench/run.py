"""The benchmark: one workload run, timed end to end, checked, and
reported as one JSON line.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(untimed, cached under ``.perfbench/cache``); the workload runs in a
fresh process with its own session and JVM; the outputs are checked
against a reference computed outside Spark; every process the run
started is killed and reaped before the result is printed. ``--trace 1``
reports the per-layer metrics instead of the end-to-end ones (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # the whole command, generation included

# Which end-to-end metrics exist, with their units.
E2E_UNITS = {
    "setup_s": "s",
    "e2e_s": "s",
    "items_per_s": "1/s",
    "cpu_s": "s",
    "ckpt_bytes": "bytes",
    "req_p50_s": "s",
    "req_tail_s": "s",
}

# The analytics suite's tables are one fixed data set, like the driver's
# sf0.1 (seed 42); a run's --seed orders the queries of each pass.
SUITE_TABLE_SEED = 42

# The analytics suite's fixed request list (all over documents/events).
SUITE_QUERIES = [
    "crawl_status_histogram",
    "crawl_broken_links",
    "crawl_reverse_links",
    "a1_event_histogram",
    "w1_highscore",
    "dedup_simhash",
    "search_bm25",
    "text_token_counts",
    "text_langid",
]


def machine() -> dict:
    """Session sizing from what this machine has: all usable cores, and a
    driver heap of a quarter of physical memory (1-8 GiB)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(8, int(mem_kb / 2**20 / 4)))
    return {"master": f"local[{cores}]", "driver_memory": f"{heap_gb}g", "cores": cores}


def workload_params(workload: str, seed: int, seconds: int, smoke: bool) -> dict:
    """Input sizes. ``--seconds`` fixes how much work a run does (it is
    not measured against a clock, so a slower program takes longer rather
    than doing less); ``--smoke`` shrinks everything for the self-tests."""
    if workload == "crawl_rounds":
        if smoke:
            return {"kind": "site", "seed": seed, "n_hosts": 4, "n_pages": 72, "host_budget": 8, "max_rounds": 2}
        return {
            "kind": "site",
            "seed": seed,
            "n_hosts": 24,
            "n_pages": 3000,
            "host_budget": 60,
            "max_rounds": max(1, seconds // 3),
        }
    if workload == "analytics_suite":
        p = {"kind": "tables", "seed": SUITE_TABLE_SEED, "queries": SUITE_QUERIES}
        if smoke:
            return p | {"n_docs": 60, "n_events": 500, "passes": 1}
        # pass 0 is the session's cold pass; the request latencies are
        # taken over the warm passes after it
        return p | {"n_docs": 5000, "n_events": 100_000, "passes": 1 + max(1, seconds // 10)}
    raise SystemExit(f"unknown workload {workload!r}; choose from crawl_rounds, analytics_suite")


def suite_order(seed: int, queries: list[str], passes: int) -> list[list[str]]:
    """Each pass sends every query once, in an order drawn from the seed."""
    rng = random.Random(seed)
    return [rng.sample(queries, len(queries)) for _ in range(passes)]


def tail_percentile(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest order statistic with at least
    ten samples above it; the maximum (percentile 100) below 11 samples."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100, n
    k = n - 10  # 1-based rank with exactly ten samples beyond it
    return s[k - 1], int(100 * k / n), n


def prepare(args) -> dict:
    from perfbench import inputs

    params = workload_params(args.workload, args.seed, args.seconds, args.smoke)
    cache = os.path.join(STATE, "cache")
    build = inputs.build_site if params["kind"] == "site" else inputs.build_tables
    data_dir = inputs.cached(cache, params, build)

    run_dir = os.path.join(STATE, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)  # checkpoint, local dirs, logs
    for d in ("ckpt", "local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "corrupt": args.corrupt,
        "run_dir": run_dir,
        "ckpt_dir": os.path.join(run_dir, "ckpt"),
        **machine(),
    }
    if params["kind"] == "site":
        spec |= {
            "site_dir": data_dir,
            "host_budget": params["host_budget"],
            "max_rounds": params["max_rounds"],
            "ckpt_glob": os.path.join(run_dir, "ckpt"),
        }
    else:
        spec |= {
            "table_dir": data_dir,
            "queries": params["queries"],
            "order": suite_order(args.seed, params["queries"], params["passes"]),
            # the crawl_* queries checkpoint their one crawl under TMPDIR
            "ckpt_glob": os.path.join(run_dir, "tmp", "walker_spark_entry_*"),
        }
    with open(os.path.join(data_dir, "reference.json")) as f:
        spec["reference"] = json.load(f)
    return spec


def run_child(spec: dict, deadline: float) -> tuple[int, dict]:
    """Run the workload process; returns (exit status, monitor readings)."""
    run_dir = spec["run_dir"]
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump({k: v for k, v in spec.items() if k != "reference"}, f)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the short-lived launcher JVM of spark-submit: keep its temp files
    # and perf-data file inside the run directory too
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={env['TMPDIR']}"
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    steal0, total0 = procs.cpu_counters()
    load0 = procs.loadavg()
    with open(os.path.join(run_dir, "child.log"), "wb") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "workload.py"), spec_path],
            cwd=ROOT,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    peak_rss = 0
    status = None
    timed_done = os.path.join(run_dir, "timed_done")
    try:
        while status is None:
            if not os.path.exists(timed_done):
                peak_rss = max(peak_rss, procs.tree_rss_bytes(child.pid))
            if time.time() > deadline:
                procs.kill_tree(child.pid)
                child.wait()
                status = "timeout"
                break
            time.sleep(0.2)
            rc = child.poll()
            if rc is not None:
                status = rc
    finally:
        if status is None:  # interrupted: take the tree down with us
            procs.kill_tree(child.pid)
        left = procs.reap_all()
    steal1, total1 = procs.cpu_counters()
    mon = {
        "peak_rss_mb": peak_rss / 2**20,
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "loadavg_start": load0,
        "loadavg_end": procs.loadavg(),
        "survivors": left,
    }
    return (0 if status == 0 else 1), mon


def e2e_metrics(res: dict) -> tuple[dict, str]:
    req = res["requests_s"]
    tail, pct, n = tail_percentile(req)
    vals = {
        "setup_s": res["setup_s"],
        "e2e_s": res["e2e_s"],
        "items_per_s": res["items"] / res["e2e_s"],
        "cpu_s": res["cpu_s"],
        "ckpt_bytes": res["ckpt_bytes"],
        "req_p50_s": statistics.median(req),
        "req_tail_s": tail,
    }
    note = f"req_tail_s is p{pct} of {n} requests" + (
        " (fewer than 11 requests: the maximum)" if n < 11 else ""
    )
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}, note


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-tests)")
    ap.add_argument(
        "--corrupt", action="store_true", help="damage one output before the check (self-tests)"
    )
    args = ap.parse_args(argv)
    start = time.time()
    procs.become_subreaper()
    # a terminated benchmark still takes its process tree down with it
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _terminate)
    spec = prepare(args)
    rc, mon = run_child(spec, start + DEADLINE_S)
    if mon["survivors"]:
        print(f"processes survived the run: {mon['survivors']}", file=sys.stderr)
        return 1
    result_path = os.path.join(spec["run_dir"], "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(spec["run_dir"], "child.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"workload process failed (status {rc})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    from perfbench.reference import check_crawl, check_suite

    if args.workload == "crawl_rounds":
        errors = check_crawl(res["check"], spec["reference"])
        attempted, failed = res["items"], (res["items"] if errors else 0)
    else:
        errors, failed = check_suite(res["check"], spec["reference"])
        attempted = res["items"]
    for e in errors[:10]:
        print(f"CHECK FAILED {e}", file=sys.stderr)

    history = os.path.join(
        STATE, "results", f"{args.workload}-{args.seed}-{args.seconds}{'-smoke' if args.smoke else ''}.json"
    )
    if args.trace:
        from perfbench import layers

        untraced = None
        if os.path.exists(history):
            with open(history) as f:
                untraced = json.load(f)
        metrics, report = layers.per_layer(spec, res, mon, untraced, SUITE_QUERIES)
        print(report)
    else:
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "w") as f:
            json.dump({"e2e_s": res["e2e_s"], "setup_s": res["setup_s"]}, f)
        metrics, note = e2e_metrics(res)
        for k, m in metrics.items():
            print(f"{args.workload}/{k} = {m['value']:.6g} {m['unit']}")
        print(note)
    for p, order in enumerate(spec.get("order", [])):
        print(f"suite pass {p} order (seed {args.seed}): {' '.join(order)}")
    print(
        f"host: steal_share={mon['steal_share']:.4f} "
        f"loadavg={mon['loadavg_start']:.2f}->{mon['loadavg_end']:.2f} "
        f"cores={spec['cores']} driver_memory={spec['driver_memory']} "
        f"took={time.time() - start:.1f}s"
    )
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
