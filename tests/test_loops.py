"""Continuous re-crawl (walker's restart loop, ``scrapeloop.go:230-246``):
each loop restarts from the seeds with a fresh seen set and keeps its own
snapshot; on an unchanged page store every loop must produce identical
results, and the running/complete accessors must expose the
``vo/status.go`` split."""

import os

import pyspark.sql.functions as F

from walker_spark.config import CrawlConfig, Target
from walker_spark.plans.crawl import Crawler
from walker_spark.sources.synthetic import SiteSpec, build_store, write_pages_tables


def _mk(spark, paths, store, ckpt):
    conf = CrawlConfig(
        target=Target(base_url="https://host-0000.example", paths=["/"]),
        host_budget=8,
        group_header="group",
        agent="walker-spark",
    )
    return Crawler(
        spark,
        conf,
        pages=spark.read.parquet(paths["pages"]),
        redirect_edges=spark.read.parquet(paths["redirect_edges"]),
        robots_bodies=store.robots,
        checkpoint_dir=ckpt,
    )


def _result_state(df):
    rows = df.select("url", "code", "depth", "round", "error").collect()
    return sorted((r["url"], r["code"], r["depth"], r["round"], r["error"]) for r in rows)


def test_two_loops_identical_on_unchanged_store(spark, tmp_path):
    spec = SiteSpec(seed=23, n_hosts=2, n_pages=28)
    paths = write_pages_tables(spark, spec, str(tmp_path / "site"))
    store = build_store(spec)
    ckpt = str(tmp_path / "ck")

    c = _mk(spark, paths, store, ckpt)
    summaries = c.run_loops(2)
    assert len(summaries) == 2
    assert summaries[0]["total_fetched"] == summaries[1]["total_fetched"]
    assert summaries[0]["rounds"] == summaries[1]["rounds"]

    # distinct snapshot dirs, both fully checkpointed
    assert os.path.isdir(os.path.join(ckpt, "loop=000", "rounds"))
    assert os.path.isdir(os.path.join(ckpt, "loop=001", "rounds"))

    r0 = _result_state(c._loop_io(0).results_df())
    r1 = _result_state(c._loop_io(1).results_df())
    assert r0 == r1 and len(r0) == summaries[0]["total_fetched"]

    # after both loops finish: complete = loop 1; running falls back to it
    assert _result_state(c.complete_results_df()) == r1
    assert _result_state(c.running_results_df()) == r1


def test_loop_resume_continues(spark, tmp_path):
    spec = SiteSpec(seed=23, n_hosts=2, n_pages=28)
    paths = write_pages_tables(spark, spec, str(tmp_path / "site2"))
    store = build_store(spec)
    ckpt = str(tmp_path / "ck2")

    first = _mk(spark, paths, store, ckpt)
    first.run_loops(1)

    # a fresh crawler resumes the loop sequence and runs loop 2 only
    again = _mk(spark, paths, store, ckpt)
    summaries = again.run_loops(2, resume=True)
    assert len(summaries) == 2
    assert _result_state(again._loop_io(0).results_df()) == _result_state(
        again._loop_io(1).results_df()
    )
