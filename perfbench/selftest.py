"""The benchmark's own tests, on tiny inputs (``--smoke``).

    python3 perfbench/selftest.py            # or: python3 -m pytest perfbench/selftest.py

For each workload they check that a timed run prints every end-to-end
metric and a traced run every per-layer metric, by name and unit, with
the correctness check passing; that a deliberately corrupted output trips
the check; and that no process started by a run survives it. About four
minutes on a 4-core machine (every run starts its own JVM).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers, procs, run  # noqa: E402

WORKLOADS = ["crawl_rounds", "analytics_suite"]


def _bench_processes() -> list[int]:
    """Live processes started by a run of this checkout: the workload
    process, its JVM and Python workers all carry the run's
    SPARK_LOCAL_DIRS in their environment."""
    marker = os.path.join(ROOT, ".perfbench", "run").encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if b"SPARK_LOCAL_DIRS=" + marker in env:
            found.append(int(name))
    return found


def _run(workload: str, *extra: str) -> tuple[int, dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "20", "--smoke", *extra],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    assert not _bench_processes(), f"processes survived {workload} {extra}"
    return p.returncode, result, p.stdout + p.stderr


def _check_shape(result: dict, units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(units), set(result["metrics"]) ^ set(units)
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name], name
        assert isinstance(m["value"], (int, float)), name


def test_timed_runs_emit_every_end_to_end_metric():
    for w in WORKLOADS:
        rc, result, out = _run(w, "--trace", "0")
        assert rc == 0, out
        _check_shape(result, run.E2E_UNITS)
        assert result["correct"] and result["failed"] == 0, out
        for name in run.E2E_UNITS:
            assert result["metrics"][name]["value"] > 0, (w, name)


def test_traced_runs_emit_every_per_layer_metric():
    units = layers.metric_units(run.SUITE_QUERIES)
    for w in WORKLOADS:
        rc, result, out = _run(w, "--trace", "1")
        assert rc == 0, out
        _check_shape(result, units)
        assert result["correct"], out
        assert result["metrics"]["session.get_spark_s"]["value"] > 0
        assert result["metrics"]["crawl.rounds"]["value"] >= 1  # the suite's crawl_* too


def test_corrupted_output_trips_the_check():
    for w in WORKLOADS:
        rc, result, out = _run(w, "--trace", "0", "--corrupt")
        assert rc != 0, out
        assert result["correct"] is False and result["failed"] >= 1, out


def site_parity(out: str) -> None:
    """Write the smoke site with the benchmark's pyarrow writer and with
    ``write_pages_tables``; their rows and file counts must agree."""
    from walker_spark.session import get_spark
    from walker_spark.sources.synthetic import SiteSpec, write_pages_tables

    from perfbench import inputs, workload

    params = run.workload_params("crawl_rounds", 3, 20, smoke=True)
    inputs.build_site(os.path.join(out, "bench"), params)
    spark = get_spark(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        spec = SiteSpec(seed=params["seed"], n_hosts=params["n_hosts"], n_pages=params["n_pages"])
        write_pages_tables(spark, spec, os.path.join(out, "lib"))
        cols = {"pages": ["url", "warc_ts", "html", "text", "lang", "host"],
                "redirect_edges": ["src", "code", "dst", "host"]}
        for table, names in cols.items():
            got = [os.path.join(out, side, f"{table}.parquet") for side in ("bench", "lib")]
            a, b = (sorted(map(tuple, spark.read.parquet(g).select(*names).collect())) for g in got)
            assert a and a == b, f"{table}: rows differ"
        files = [
            sum(f.endswith(".parquet") for f in os.listdir(os.path.join(out, side, "pages.parquet")))
            for side in ("bench", "lib")
        ]
        assert files[0] == files[1], f"pages files: {files}"
    finally:
        workload.stop_jvm(spark)


def test_site_writer_matches_the_library():
    out = os.path.join(ROOT, ".perfbench", "run", "site_parity")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "local"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "local"), WALKER_SPARK_NO_WARM="1")
    p = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--site-parity", out],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True,
    )
    try:
        text, _ = p.communicate(timeout=300)
    finally:
        procs.kill_tree(p.pid)
        p.wait()
    assert p.returncode == 0, text[-3000:]
    assert not _bench_processes(), "processes survived the site parity check"
    shutil.rmtree(out, ignore_errors=True)


def test_no_result_without_the_program():
    """In a directory holding only the benchmark (no walker_spark), the
    command fails without printing a result."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="perfbench_bare_", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "crawl_rounds", "--seed", "1",
             "--seconds", "20", "--trace", "0"],
            cwd=d,
            capture_output=True,
            text=True,
            timeout=170,
        )
        assert p.returncode != 0
        assert '"correct"' not in p.stdout
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--site-parity"]:
        site_parity(sys.argv[2])
        sys.exit(0)
    failed = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {name}: {str(e)[-2000:]}")
    sys.exit(1 if failed else 0)
