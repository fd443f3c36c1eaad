"""Checkpoint/resume exactness (north rule): a crawl killed after round
k and resumed from the manifest must end with byte-equal state to an
uninterrupted run — same seen set, same results (urls, codes, depths,
rounds), same round count."""

import json
import os

import pytest

import pyspark.sql.functions as F

from walker_spark.config import CrawlConfig, Target
from walker_spark.plans import crawl
from walker_spark.plans.crawl import Crawler
from walker_spark.sources.synthetic import SiteSpec, build_store, write_pages_tables
from walker_spark.sources.tables import ParquetTableIO, read_json


def _mk(spark, paths, store, ckpt, max_rounds=0):
    conf = CrawlConfig(
        target=Target(base_url="https://host-0000.example", paths=["/"]),
        host_budget=8,
        group_header="group",
        agent="walker-spark",
        max_rounds=max_rounds,
    )
    return Crawler(
        spark,
        conf,
        pages=spark.read.parquet(paths["pages"]),
        redirect_edges=spark.read.parquet(paths["redirect_edges"]),
        robots_bodies=store.robots,
        checkpoint_dir=ckpt,
    )


def test_resume_exactness(spark, tmp_path):
    spec = SiteSpec(seed=11, n_hosts=2, n_pages=40)
    site = str(tmp_path / "site")
    paths = write_pages_tables(spark, spec, site)
    store = build_store(spec)

    full = _mk(spark, paths, store, str(tmp_path / "full"))
    s_full = full.run()

    # killed after 3 rounds…
    part = _mk(spark, paths, store, str(tmp_path / "part"), max_rounds=3)
    part.run()
    # …and resumed to fixpoint by a FRESH crawler on the same checkpoint
    resumed = _mk(spark, paths, store, str(tmp_path / "part"))
    s_res = resumed.run(resume=True)

    assert s_res["rounds"] == s_full["rounds"]
    assert s_res["rounds"] > 3  # the kill really was mid-crawl
    # the resumed run fetches exactly what the killed run hadn't
    assert s_res["total_fetched"] == s_full["total_fetched"] - sum(
        m.fetched for m in part.metrics
    )

    seen_full = {r["url"] for r in full.seen_df().collect()}
    seen_res = {r["url"] for r in resumed.seen_df().collect()}
    assert seen_res == seen_full

    key = lambda r: (r["url"], r["code"], r["depth"], r["round"])  # noqa: E731
    res_full = sorted(key(r) for r in full.results_df().collect())
    res_res = sorted(key(r) for r in resumed.results_df().collect())
    assert res_res == res_full

    # the lineage table accounts for every completed round's results
    for c, summary in ((full, s_full), (resumed, s_res)):
        lineage = _lineage(c, summary["rounds"])
        assert sorted(lineage) == list(range(summary["rounds"]))
        with open(c.io.path("metrics.jsonl")) as f:
            fetched = {m["round"]: m["fetched"] for m in map(json.loads, f)}
        assert {r: t[0] for r, t in lineage.items()} == fetched
        per_round = (
            c.results_df()
            .groupBy("round")
            .agg(
                F.count(F.lit(1)),
                F.sum((F.col("code") == 200).cast("long")),
                F.countDistinct("host"),
            )
            .collect()
        )
        assert lineage == {r[0]: tuple(r[1:]) for r in per_round}


def _lineage(c, rounds):
    """{round: (sum rows, sum ok_rows, sum hosts)} over the per-partition
    lineage table of rounds 0..rounds-1."""
    df = c.io.read_many([f"rounds/r={r:05d}/lineage" for r in range(rounds)])
    rnd = F.regexp_extract(F.col("_metadata.file_path"), r"r=(\d+)/lineage", 1)
    got = (
        df.groupBy(rnd.cast("int").alias("round"))
        .agg(F.sum("rows"), F.sum("ok_rows"), F.sum("hosts"))
        .collect()
    )
    return {r[0]: tuple(r[1:]) for r in got}


# compaction + resume byte-equality sweep (resume exactness itself stays default) — ~1 min; VERDICT r4 #4 suite-wall triage
@pytest.mark.slow
def test_seen_compaction_resume_exact(spark, tmp_path):
    """Compaction (every k rounds the seen deltas fold into one dir) must
    not change anything observable: same rounds, same seen set, same
    results as an uncompacted run, including across a kill/resume that
    straddles a compaction point."""
    spec = SiteSpec(seed=11, n_hosts=2, n_pages=28)
    paths = write_pages_tables(spark, spec, str(tmp_path / "site"))
    store = build_store(spec)

    def mk(ckpt, max_rounds=0, compact_every=0):
        c = _mk(spark, paths, store, ckpt, max_rounds=max_rounds)
        c.conf.host_budget = 3  # small budget → many rounds
        c.seen_compact_every = compact_every
        return c

    plain = mk(str(tmp_path / "plain"))
    s_plain = plain.run()
    assert s_plain["rounds"] >= 5  # ≥2 compaction points at every 2 rounds

    # One compacted crawl, killed after 3 rounds (straddles the 2-round
    # compaction point) and resumed: comparing its final state against
    # the UNcompacted uninterrupted run proves both properties at once —
    # compaction changes nothing observable AND resume across a
    # compaction boundary is exact. (r3: the previous extra full
    # compacted run asserted a subset of this, for 1/3 more wall; r4:
    # 28 pages / compact-every-2 keeps two straddled compaction points
    # with ~2 fewer driver rounds per crawl.)
    part = mk(str(tmp_path / "part"), max_rounds=3, compact_every=2)
    part.run()
    resumed = mk(str(tmp_path / "part"), compact_every=2)
    s_res = resumed.run(resume=True)
    assert s_res["rounds"] == s_plain["rounds"]  # total rounds, absolute
    assert os.path.isdir(os.path.join(str(tmp_path / "part"), "seen_compact"))

    key = lambda r: (r["url"], r["code"], r["depth"], r["round"])  # noqa: E731
    assert sorted(key(r) for r in resumed.results_df().collect()) == sorted(
        key(r) for r in plain.results_df().collect()
    )
    assert {r["url"] for r in resumed.seen_df().collect()} == {
        r["url"] for r in plain.seen_df().collect()
    }


# ---- kills inside a round ----------------------------------------------
# A kill mid-round leaves that round's files partly written and the
# manifest at the previous round. Each case raises at one write boundary
# of round KILL_ROUND; a fresh Crawler resuming from the checkpoint must
# then end exactly where an uninterrupted crawl does.

KILL_ROUND = 1


class _Kill(Exception):
    """Stands in for the process dying at a write boundary."""


def _kill_at_write(name, torn=False):
    """Raise once table ``name`` is written; ``torn`` leaves a 1-row copy
    of it, as a write cut off part-way would."""

    def patch(mp, fired):
        real = ParquetTableIO.write

        def write(self, df, n, *a, **k):
            if fired or n != name:
                return real(self, df, n, *a, **k)
            fired.append(n)
            real(self, df.limit(1) if torn else df, n, *a, **k)
            raise _Kill(n)

        mp.setattr(ParquetTableIO, "write", write)

    return patch


def _kill_at_manifest(after):
    """Raise at round KILL_ROUND's manifest write: before it, or once the
    manifest is on disk."""

    def patch(mp, fired):
        real = crawl.atomic_write_json

        def write_json(path, obj):
            if fired or not path.endswith("manifest.json") or obj["round"] != KILL_ROUND:
                return real(path, obj)
            fired.append(path)
            if after:
                real(path, obj)
            raise _Kill(path)

        mp.setattr(crawl, "atomic_write_json", write_json)

    return patch


@pytest.fixture(scope="module")
def small_site(spark, tmp_path_factory):
    """The 28-page site, and its uninterrupted crawl's end state."""
    root = tmp_path_factory.mktemp("kill_site")
    spec = SiteSpec(seed=11, n_hosts=2, n_pages=28)
    paths = write_pages_tables(spark, spec, str(root / "site"))
    store = build_store(spec)
    ref = _mk_small(spark, paths, store, str(root / "ref"))
    summary = ref.run()
    assert summary["rounds"] > KILL_ROUND + 1  # the kill round is mid-crawl
    # the kill round compacts, and the crawl resolves redirects
    assert os.path.isdir(str(root / "ref" / f"seen_compact/r={KILL_ROUND:05d}"))
    assert ref.results_df().filter(F.size("redirects") > 0).count() >= 1
    return paths, store, _end_state(ref, summary)


def _mk_small(spark, paths, store, ckpt):
    c = _mk(spark, paths, store, ckpt)
    c.seen_compact_every = 2  # every round with new links compacts
    # The budgeted crawl from the root reaches no redirect source on this
    # site, so seed every host-0000 source too: each row of the redirect
    # map matters, and the kill cases cross redirect resolution.
    origin = "https://host-0000.example/"
    c.seeds = [origin] + sorted(
        r["src"]
        for r in spark.read.parquet(paths["redirect_edges"]).collect()
        if r["src"].startswith(origin)
    )
    return c


def _end_state(c, summary):
    key = lambda r: (r["url"], r["code"], r["depth"], r["round"])  # noqa: E731
    with open(c.io.path("metrics.jsonl")) as f:
        metric_rounds = [json.loads(line)["round"] for line in f]
    return (
        summary["rounds"],
        {r["url"] for r in c.seen_df().collect()},
        sorted(key(r) for r in c.results_df().collect()),
        metric_rounds,
        _lineage(c, summary["rounds"]),
    )


@pytest.mark.parametrize(
    "kill,manifest_round",
    [
        (_kill_at_write(f"rounds/r={KILL_ROUND:05d}/results"), KILL_ROUND - 1),
        (_kill_at_write(f"rounds/r={KILL_ROUND:05d}/frontier"), KILL_ROUND - 1),
        (_kill_at_manifest(after=False), KILL_ROUND - 1),
        (_kill_at_manifest(after=True), KILL_ROUND),
        (_kill_at_write(f"seen_compact/r={KILL_ROUND:05d}", torn=True), KILL_ROUND - 1),
    ],
    ids=[
        "after_results",
        "after_frontier",
        "before_manifest",
        "after_manifest",
        "mid_compaction",
    ],
)
def test_resume_after_kill_at_write_boundary(
    spark, tmp_path, small_site, kill, manifest_round
):
    paths, store, want = small_site
    ckpt = str(tmp_path / "ck")
    fired: list[str] = []
    with pytest.MonkeyPatch.context() as mp:
        kill(mp, fired)
        with pytest.raises(_Kill):
            _mk_small(spark, paths, store, ckpt).run()
    assert read_json(os.path.join(ckpt, "manifest.json"))["round"] == manifest_round

    resumed = _mk_small(spark, paths, store, ckpt)
    assert _end_state(resumed, resumed.run(resume=True)) == want


def test_resume_after_torn_redirect_map(spark, tmp_path, small_site):
    """A kill inside the redirect-map commit, before its `_SUCCESS`
    marker: the resume must rebuild the map, not read the torn one."""
    paths, store, want = small_site
    ckpt = str(tmp_path / "ck")
    with pytest.MonkeyPatch.context() as mp:
        _kill_at_write("redirect_map", torn=True)(mp, [])
        with pytest.raises(_Kill):
            _mk_small(spark, paths, store, ckpt).run()
    os.remove(os.path.join(ckpt, "redirect_map", "_SUCCESS"))
    assert not os.path.exists(os.path.join(ckpt, "manifest.json"))

    resumed = _mk_small(spark, paths, store, ckpt)
    assert _end_state(resumed, resumed.run(resume=True)) == want
