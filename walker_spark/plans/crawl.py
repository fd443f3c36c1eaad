"""The BSP crawl: walker's scrapeloop re-expressed as batch rounds.

Per round (SURVEY.md §3.1 mapping of ``scrapeloop.go:202-368``):

  frontier → politeness select (W5) → fetch join against ``pages`` (J1,
  with redirect resolution) → vectorized extract (H1/H2, pandas UDF) →
  explode links → native filter stack (F1-F9) → exact anti-join vs seen
  (J2) → union into next frontier (SE3) → checkpoint
  (results, frontier, seen delta, metrics) → repeat until
  the frontier drains (loop complete, ``scrapeloop.go:230-246``).

Every stage materializes to the checkpoint (parquet now, Iceberg seam in
sources/tables.py) and downstream stages read the files back — that
truncates lineage, avoids re-running the extract UDF, and makes a killed
job resume exactly from the last completed round (north rule).

Fetching is a join, not HTTP: the ``pages`` table is the synthetic
Common-Crawl stand-in (BASELINE.json input_hint); redirects live in a
``redirect_edges(src, code, dst)`` side table resolved once into a
transitive ``redirect_map`` by pointer doubling (cap 10,
``scrapeloop.go:66-67``). Durations are the engine's deterministic
pseudo-durations (functions/hashing.py).
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..dispatcher import REDIRECT_CAP, _derive_group, _status_line
from ..functions.extract import STRUCTURE_SPARK_TYPE, extract_all
from ..functions.hashing import synthetic_duration_us, synthetic_time_us
from ..functions.robots import parse_robots
from ..operators.linkfilter import apply_link_filters, authority_of, scheme_of
from ..operators.politeness import priority_order, select_fetch_batch
from ..operators.seen import seen_anti_join
from ..sources.tables import atomic_write_json, make_table_io, read_json
from ..urlnorm import normalize_link, url_host, url_path

__all__ = ["Crawler", "RESULT_SCHEMA", "resolve_redirects", "fetch_and_extract", "link_candidates"]

VALIDATION_REPORT_TYPE = (
    "struct<score:int,validations:array<struct<type:string,path:string,"
    "comment:string,penalty:int>>>"
)

RESULT_SCHEMA = (
    "url string, host string, depth int, round int, link_count long, "
    "code int, status string, content_type string, group string, error string, "
    "duration_us long, time_us long, "
    "redirects array<struct<code:int,url:string>>, "
    "links map<string,int>, normalized_links map<string,int>, "
    "link_norms array<string>, link_next_norm string, link_prev_norm string, "
    f"structure {STRUCTURE_SPARK_TYPE}, text string, "
    "data string, "
    "validations array<struct<level:string,message:string,group:string>>, "
    f"validation_report {VALIDATION_REPORT_TYPE}, "
    "custom_links map<string,int>"
)

FRONTIER_COLS = ["url", "host", "depth", "link_count"]

RESULT_COLUMNS = [f.strip().split(" ")[0] for f in RESULT_SCHEMA.split(", ")]

# Stamped in manifest.json; a resume refuses any other value. Older
# checkpoints carry no stamp, and their results have another schema.
_CHECKPOINT_FORMAT = 2


def resolve_redirects(redirects: DataFrame, cap: int = REDIRECT_CAP) -> DataFrame:
    """redirect_edges(src, code, dst) → redirect_map(src, final_url,
    redirects array<struct<code,url>>, error).

    Pointer doubling: ``ceil(log2(cap))`` self-joins of the chain-state
    table resolve chains of any length ≤ ``2^k`` in k shuffles — and the
    whole thing is one lazy plan (no per-hop ``isEmpty`` probe jobs; the
    single job runs when the map is written). After k = ceil(log2(cap+1))
    doublings every chain of actual length ≤ cap is fully resolved, so:

    * done ∧ ``size(chain) ≤ cap-1`` → success (Go's CheckRedirect,
      ``scrapeloop.go:65-68``, errors when ``len(via) > 9`` where ``via``
      includes the initial request — at most ``cap-1`` = 9 redirects are
      followed);
    * anything else (chain needs ≥ cap hops, incl. cycles) → walker's
      "stopped after 10 redirects" error with the first ``cap-1`` hops
      recorded, exactly what the Go client leaves in the request context.
    """
    max_follow = cap - 1  # 9 followed redirects, the 10th attempt errors
    # state after min(2^k, actual) hops: src → (cur head, chain, done)
    m = redirects.select(
        F.col("src"),
        F.col("dst").alias("cur"),
        F.array(F.struct(F.col("code").cast("int").alias("code"), F.col("dst").alias("url"))).alias("chain"),
        F.lit(False).alias("done"),
    )
    # Pointer-double only the CONTINUATION subgraph. A chain row can only
    # be extended through rows whose src is itself some edge's dst, and
    # that subset is closed under continuation (a continuation's cur is
    # by construction a dst). Real redirect sets are overwhelmingly
    # single-hop, so the subset is a small fraction of the edge table:
    # doubling it instead of the full state turns k chained full-table
    # self-joins (each shuffling the growing chain arrays twice) into k
    # tiny joins plus ONE compose join of the full table against the
    # (small, AQE-broadcast) resolved subset. Cost now follows chain
    # mass, not edge count — the same discipline as the LSH skew caps.
    t = m.join(
        redirects.select(F.col("dst").alias("_d")), m["src"] == F.col("_d"), "left_semi"
    )
    k = math.ceil(math.log2(cap + 1))
    cached = []
    for _ in range(k):
        nxt = t.select(
            F.col("src").alias("n_src"),
            F.col("cur").alias("n_cur"),
            F.col("chain").alias("n_chain"),
            F.col("done").alias("n_done"),
        )
        t = t.join(nxt, t["cur"] == nxt["n_src"], "left").select(
            "src",
            F.when(F.col("done") | F.col("n_src").isNull(), F.col("cur"))
            .otherwise(F.col("n_cur"))
            .alias("cur"),
            F.when(F.col("done") | F.col("n_src").isNull(), F.col("chain"))
            .otherwise(F.concat(F.col("chain"), F.col("n_chain")))
            .alias("chain"),
            (F.col("done") | F.col("n_src").isNull() | F.col("n_done")).alias("done"),
        ).persist()
        cached.append(t)
        # Convergence probe ON THE SMALL SUBGRAPH ONLY (the full edge
        # table is never probed): real redirect chains are 1-2 hops, so
        # one doubling usually resolves everything and the remaining
        # k-1 join stages — pure sequential stage/codegen overhead at
        # any scale — are skipped. The fixed-k backstop still bounds
        # pathological inputs (cycles, 2^k-hop chains) exactly as
        # before; a done subgraph is a fixpoint, so skipped rounds are
        # provably no-ops.
        if t.filter(~F.col("done")).isEmpty():
            break
    # pin the (tiny) resolved subgraph, then release the loop caches —
    # a crawler resolves redirects once, but long-lived sessions (bench
    # suites, re-crawl loops) shouldn't accumulate per-iteration blocks
    t = t.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    # Compose every 1-hop chain with its continuation's full resolution.
    # If cur has no row in t, cur doesn't redirect (any cur IS a dst, so
    # a redirecting cur would be in t) → the chain terminates here.
    # Horizon: 1 + 2^k hops ≥ cap+1, so every ok-eligible chain (≤ cap-1
    # hops) is fully resolved with done=True, and longer/cyclic chains
    # fall into the same size(chain) > cap-1 error branch as before with
    # an identical first-(cap-1) prefix.
    nxt = t.select(
        F.col("src").alias("n_src"),
        F.col("cur").alias("n_cur"),
        F.col("chain").alias("n_chain"),
        F.col("done").alias("n_done"),
    )
    m = m.join(nxt, m["cur"] == nxt["n_src"], "left").select(
        "src",
        F.when(F.col("n_src").isNull(), F.col("cur")).otherwise(F.col("n_cur")).alias("cur"),
        F.when(F.col("n_src").isNull(), F.col("chain"))
        .otherwise(F.concat(F.col("chain"), F.col("n_chain")))
        .alias("chain"),
        (F.col("n_src").isNull() | F.col("n_done")).alias("done"),
    )
    # post-doubling every actual-length ≤ 2^k ≥ cap+1 chain is done;
    # not-done rows are cycles / longer-than-2^k chains → overflow too.
    ok = F.col("done") & (F.size("chain") <= max_follow)
    return m.select(
        "src",
        F.when(ok, F.col("cur")).otherwise(F.lit(None)).alias("final_url"),
        F.when(ok, F.col("chain")).otherwise(F.slice("chain", 1, max_follow)).alias("redirects"),
        F.when(ok, F.lit("")).otherwise(F.lit("stopped after 10 redirects")).alias("error"),
    )


def fetch_and_extract(
    batch: DataFrame,
    pages: DataFrame,
    redirect_map: DataFrame | None,
    round_no: int,
    group_header_enabled: bool,
    multi_host: bool,
    base_url: str,
    scrape_func=None,
    validation_func=None,
    group_validator=None,
    link_list_filter=None,
) -> DataFrame:
    """J1 + H1/H2: the fetch join and the vectorized extract stage.

    ``batch`` columns: url, host, depth, link_count. Each result row
    keeps its batch row's depth and link_count, so the round's crawl
    order can be derived from the results (``Crawler.order_df``).

    Column pruning matters at 100 TB: only ``url`` and ``html`` of
    ``pages`` are read (the parquet scan never touches ``text``/``lang``
    here), and the html binary exists only inside this stage.

    One join plan for every batch, as walker fetches every url the same
    way (``scrape.go:33-157``). A broadcast LEFT SEMI first shrinks pages
    to the batch's url set: pages streams once and the batch keys are
    the build side, so the pages table never shuffles. Then a
    SHUFFLE_HASH left join, not a broadcast: the shrunk side is about
    the whole batch's html, and a driver broadcast of it would serialize
    the round. The hash join needs no sort, and AQE still coalesces the
    extract stage and splits skew. Batch rows with no page (404) and
    fetch-error rows leave the left join with null html; the extract
    tests the fetch error first, then the html. On a pages table
    bucketed by url (``write_bucketed_table``) the planner keeps the
    bucket layout: only the batch side exchanges, and the pages side
    neither exchanges nor sorts (BENCH.md, "Fetch: one join plan").

    ``scrape_func``/``validation_func``: walker's user extension hooks
    (reference ``walker.go:45,47``; called ``scrape.go:132-149``) —
    ``scrape_func(html_str) -> json-serializable`` fills the ``data``
    column; ``validation_func(structure_dict, data) -> list[dict]``
    (level/message/group) fills ``validations``. Both run inside the
    same Arrow batch loop (no extra pass over the page).
    """
    if redirect_map is not None:
        j = batch.join(redirect_map.withColumnRenamed("src", "url"), "url", "left")
        j = j.select(
            "url",
            "host",
            "depth",
            "link_count",
            F.coalesce(F.col("final_url"), F.col("url")).alias("final_url"),
            F.coalesce(F.col("redirects"), F.array().cast("array<struct<code:int,url:string>>")).alias("redirects"),
            F.coalesce(F.col("error"), F.lit("")).alias("fetch_error"),
        )
    else:
        j = batch.select(
            "url",
            "host",
            "depth",
            "link_count",
            F.col("url").alias("final_url"),
            F.array().cast("array<struct<code:int,url:string>>").alias("redirects"),
            F.lit("").alias("fetch_error"),
        )
    p = pages.select(F.col("url").alias("page_url"), F.col("html"))
    # Duplicate keys on a left-semi build side change nothing, so the
    # key side needs no distinct (and no shuffle job for one).
    p_small = p.join(
        F.broadcast(j.select(F.col("final_url").alias("page_url"))), "page_url", "left_semi"
    )
    joined = j.join(
        p_small.hint("SHUFFLE_HASH"), j["final_url"] == p_small["page_url"], "left"
    )

    rn = round_no
    ghe = group_header_enabled
    mh = multi_host
    burl = base_url
    sfn, vfn, gv, llf = scrape_func, validation_func, group_validator, link_list_filter

    def extract_fn(batches):
        status_200, status_404 = _status_line(200), _status_line(404)
        time_us = synthetic_time_us(rn)
        for pdf in batches:
            # Columnar accumulation: one python list per output column,
            # one pd.DataFrame built from the dict of lists per batch.
            # The per-row dict + DataFrame(list-of-records) form this
            # replaced roughly doubled Python-side allocation on the
            # engine's hottest loop (the Arrow conversion out is
            # identical either way).
            cols: dict[str, list] = {c: [] for c in RESULT_COLUMNS}
            (
                o_url, o_host, o_depth, o_round, o_lc, o_code, o_status,
                o_ctype, o_group, o_error, o_dur, o_time, o_redir, o_links,
                o_nlinks, o_norms, o_next, o_prev, o_struct, o_text,
                o_data, o_vals, o_vrep, o_clinks,
            ) = (cols[c] for c in RESULT_COLUMNS)
            for t in pdf.itertuples(index=False):
                url = t.url
                err = t.fetch_error or ""
                # NB: Arrow hands array<struct> columns over as numpy
                # arrays — `x or []` is ambiguous for len>1, hence the
                # explicit None check.
                chain = t.redirects if t.redirects is not None else []
                o_url.append(url)
                o_host.append(t.host)
                o_depth.append(int(t.depth))
                o_round.append(rn)
                o_lc.append(int(t.link_count))
                o_dur.append(synthetic_duration_us(url))
                o_time.append(time_us)
                o_redir.append(
                    [{"code": int(r["code"]), "url": r["url"]} for r in chain]
                )
                if err or t.html is None:
                    if err:
                        o_code.append(0)
                        o_status.append("")
                        o_ctype.append("")
                    else:
                        o_code.append(404)
                        o_status.append(status_404)
                        o_ctype.append("text/plain; charset=utf-8")
                    o_group.append("default")
                    o_error.append(err)
                    o_links.append({})
                    o_nlinks.append({})
                    o_norms.append([])
                    o_next.append("")
                    o_prev.append("")
                    o_struct.append(None)
                    o_text.append("")
                    o_data.append(None)
                    o_vals.append(None)
                    o_vrep.append(None)
                    o_clinks.append(None)
                    continue
                group = _derive_group(url_path(t.final_url), ghe)
                html = bytes(t.html).decode("utf-8", errors="replace")
                vrep = None
                if gv is not None:  # scrape.go:102-106
                    rep = gv.validate(group, html)
                    if rep is not None:
                        vrep = {
                            "score": rep.score,
                            "validations": [
                                {
                                    "type": v.type,
                                    "path": v.path,
                                    "comment": v.comment,
                                    "penalty": v.penalty,
                                }
                                for v in rep.validations
                            ],
                        }
                links, structure, text = extract_all(html)
                base = (
                    f"{url.split('://', 1)[0]}://{url_host(url)}" if mh else burl
                )
                nl: dict[str, int] = {}
                norms: list[str] = []
                for raw, c in links.items():
                    n = normalize_link(base, raw)
                    if n is not None:
                        nl[n] = c
                        norms.append(n)
                error = ""
                data = None
                vals = None
                clinks = None
                if sfn is not None:  # ScrapeFunc, scrape.go:132-140
                    try:
                        data = json.dumps(sfn(html), sort_keys=True)
                    except Exception as e:
                        error = str(e)
                if vfn is not None and not error:  # scrape.go:142-149
                    try:
                        vals = [
                            {
                                "level": v.get("level", "info"),
                                "message": v.get("message", ""),
                                "group": v.get("group", ""),
                            }
                            for v in (vfn(structure, data) or [])
                        ]
                    except Exception as e:
                        error = str(e)
                if llf is not None:  # LinkListFilterFunc replaces F1-F9
                    try:
                        clinks = {
                            str(k): int(v)
                            for k, v in (llf(base, url, links, structure) or {}).items()
                        }
                    except Exception as e:
                        clinks = {}
                        error = error or str(e)
                o_code.append(200)
                o_status.append(status_200)
                o_ctype.append("text/html; charset=utf-8")
                o_group.append(group)
                o_error.append(error)
                o_links.append(links)
                o_nlinks.append(nl)
                o_norms.append(norms)
                o_next.append(normalize_link(base, structure["link_next"]) or "")
                o_prev.append(normalize_link(base, structure["link_prev"]) or "")
                o_struct.append(structure)
                o_text.append(text)
                o_data.append(data)
                o_vals.append(vals)
                o_vrep.append(vrep)
                o_clinks.append(clinks)
            yield pd.DataFrame(cols)

    return joined.mapInPandas(extract_fn, RESULT_SCHEMA)


def link_candidates(
    results_new: DataFrame,
    conf: CrawlConfig,
    robots_bodies: dict[str, str] | None,
    spark: SparkSession,
    use_custom_links: bool = False,
) -> DataFrame:
    """Explode the round's surviving links into the aggregated candidate
    frame (url, host, depth, link_count): depth = min discoverer depth +
    1, link_count = number of surviving raw hrefs normalizing to the url
    across all discovering pages (the dispatcher-spec merge).

    With ``use_custom_links`` the page's LinkListFilterFunc output
    (``custom_links``) replaces the native F1-F9 stack entirely,
    mirroring ``scrapeloop.go:336-345``.
    """
    if use_custom_links:
        exploded = results_new.select(
            F.col("depth"), F.explode(F.col("custom_links")).alias("link", "cnt")
        )
        return (
            exploded.groupBy(F.col("link").alias("url"))
            .agg((F.min("depth") + 1).alias("depth"), F.sum("cnt").alias("link_count"))
            .withColumn("host", authority_of(F.col("url")))
            .select(*FRONTIER_COLS)
        )
    cands = results_new.select(
        F.col("url").alias("src_url"),
        F.col("host").alias("src_host"),
        scheme_of(F.col("url")).alias("src_scheme"),
        F.col("depth"),
        F.explode(F.col("link_norms")).alias("link"),
        F.col("link_next_norm"),
        F.col("link_prev_norm"),
        F.col("structure.robots").alias("page_robots"),
    )
    filtered = apply_link_filters(cands, conf, robots_bodies, spark)
    agg = (
        filtered.groupBy(F.col("link").alias("url"))
        .agg(
            (F.min("depth") + 1).alias("depth"),
            F.count(F.lit(1)).alias("link_count"),
        )
        .withColumn("host", authority_of(F.col("url")))
        .select(*FRONTIER_COLS)
    )
    if not conf.canonical_seen:
        return agg
    # north-rule mode: collapse equivalent spellings onto the canonical
    # form; fetch the lexicographically smallest spelling. The second
    # aggregation runs over the already-deduped (small) link set.
    return (
        agg.withColumn("canon", _canonicalize_udf()(F.col("url")))
        .groupBy("canon")
        .agg(
            F.min("url").alias("url"),
            F.min("depth").alias("depth"),
            F.sum("link_count").alias("link_count"),
        )
        .withColumn("host", authority_of(F.col("url")))
        .select(*FRONTIER_COLS, "canon")
    )


def _canonicalize_udf():
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..urlnorm import canonicalize

    @pandas_udf("string")
    def _canon(urls: pd.Series) -> pd.Series:
        return urls.map(canonicalize)

    return _canon


@dataclass
class RoundMetrics:
    round: int
    fetched: int = 0
    new_links: int = 0
    frontier: int = 0
    seconds: dict = field(default_factory=dict)


class Crawler:
    """BSP crawl driver with checkpoint/resume.

    ``pages``/``redirect_edges`` come from parquet dirs or DataFrames;
    ``robots_bodies`` is a small host→robots.txt dict (broadcast).
    """

    def __init__(
        self,
        spark: SparkSession,
        conf: CrawlConfig,
        pages: DataFrame,
        redirect_edges: DataFrame | None = None,
        robots_bodies: dict[str, str] | None = None,
        checkpoint_dir: str = "/tmp/walker_spark_ckpt",
        multi_host: bool = False,
        seeds: list[str] | None = None,
        scrape_func=None,
        validation_func=None,
        result_modifier=None,
        link_list_filter=None,
        group_validator=None,
        seeds_unique: bool = False,
        seen_compact_every: int = 16,
    ):
        """Hooks mirror walker's extension points (SURVEY.md §2.10):
        ``scrape_func(html) -> json-able`` (ScrapeFunc),
        ``validation_func(structure, data) -> [{level,message,group}]``
        (ValidationFunc), ``result_modifier(DataFrame) -> DataFrame``
        (ScrapeResultModifierFunc, batch-level), ``link_list_filter(
        base, url, links, structure) -> {href: cnt}`` (LinkListFilterFunc
        — replaces the F1-F9 stack), ``group_validator`` a
        functions.htmlschema.GroupValidator (SchemaRoot)."""
        self.spark = spark
        self.conf = conf
        self.pages = pages
        self.redirect_edges = redirect_edges
        self.robots_bodies = robots_bodies or {}
        # table backend is a flag: parquet (manifest dance) or Iceberg
        # (catalog commits) — see sources/tables.py make_table_io
        self.io = make_table_io(spark, checkpoint_dir)
        self.multi_host = multi_host
        self.seeds = seeds if seeds is not None else conf.seed_urls()
        self.scrape_func = scrape_func
        self.validation_func = validation_func
        self.result_modifier = result_modifier
        self.link_list_filter = link_list_filter
        self.group_validator = group_validator
        self.seeds_unique = seeds_unique
        self.seen_compact_every = seen_compact_every
        self.metrics: list[RoundMetrics] = []

    # ---- fail-start (scrapeloop.go:281-289) ----
    def check_seeds(self) -> list[str]:
        forbidden = []
        if self.conf.ignore_robots or isinstance(self.seeds, DataFrame):
            return forbidden
        for s in self.seeds:
            host = url_host(s)
            body = self.robots_bodies.get(host)
            if body is None:
                continue
            g = parse_robots(body).find_group(self.conf.agent)
            if not g.test(url_path(s) or "/"):
                forbidden.append(s)
        return forbidden

    def _manifest_path(self) -> str:
        return self.io.path("manifest.json")

    def _seed_frontier(self) -> DataFrame:
        if isinstance(self.seeds, DataFrame):
            # DataFrame seed source (e.g. a whole url table): stays
            # distributed, never collected to the driver.
            from ..operators.linkfilter import authority_of

            seeds = self.seeds.select("url")
            if not self.seeds_unique:
                # callers that KNOW their seed table is already unique
                # (e.g. the url column of a pages table) skip this
                # whole-table shuffle with seeds_unique=True
                seeds = seeds.dropDuplicates(["url"])
            return (
                seeds
                .select(
                    "url",
                    authority_of(F.col("url")).alias("host"),
                    F.lit(0).alias("depth"),
                    F.lit(0).cast("long").alias("link_count"),
                )
            )
        rows = []
        seen_urls = set()
        for s in self.seeds:
            if s in seen_urls:
                continue
            seen_urls.add(s)
            rows.append((s, url_host(s), 0, 0))
        return self.spark.createDataFrame(
            rows, "url string, host string, depth int, link_count long"
        )

    def _append_metrics(self, m: RoundMetrics) -> None:
        self.metrics.append(m)
        with open(self.io.path("metrics.jsonl"), "a") as f:
            f.write(json.dumps(m.__dict__) + "\n")

    def _trim_metrics(self, start_round: int) -> None:
        """Keeps only the ``metrics.jsonl`` lines of rounds before
        ``start_round``. A round appends its line before its manifest, so
        a kill between the two leaves a line for a round that the resume
        runs again; a kill inside the append leaves a torn last line."""
        path = self.io.path("metrics.jsonl")
        if not os.path.exists(path):
            return
        keep = []
        with open(path) as f:
            for line in f:
                if not line.endswith("\n") or json.loads(line)["round"] >= start_round:
                    break
                keep.append(line)
        with open(path + ".tmp", "w") as f:
            f.writelines(keep)
        os.replace(path + ".tmp", path)

    def run(self, resume: bool = False) -> dict:
        conf = self.conf
        io = self.io
        t_start = time.time()

        forbidden = self.check_seeds()
        if forbidden and not self.multi_host:
            raise RuntimeError(
                "robots.txt does not allow access to the following path "
                "(you can either ignore robots or try as a different user agent): "
                + ", ".join(url_path(u) for u in forbidden)
            )
        if isinstance(self.seeds, DataFrame):
            seeds_ok = self.seeds
        else:
            seeds_ok = [s for s in self.seeds if s not in set(forbidden)]

        manifest = read_json(self._manifest_path()) if resume else None
        if manifest is not None and manifest.get("format") != _CHECKPOINT_FORMAT:
            # a manifest of another format (or none: older manifests
            # carry no stamp) would mix result schemas or miss the
            # directory map; fail loudly before anything is written
            raise RuntimeError(
                "incompatible checkpoint version: manifest at "
                f"{self._manifest_path()} has format {manifest.get('format')}, "
                f"not {_CHECKPOINT_FORMAT}; re-run without resume=True to "
                "start a fresh crawl"
            )

        # The redirect-map resolution and the seed-frontier write below
        # are independent one-time setup jobs; run the resolution on a
        # driver thread so the two overlap (§ overlap-independent-jobs —
        # same discipline as the per-round lineage write).
        redirect_t = None
        redirect_t_err: list[BaseException] = []
        if self.redirect_edges is not None and not io.exists("redirect_map"):
            from pyspark import InheritableThread

            def _write_redirects():
                try:
                    io.write(resolve_redirects(self.redirect_edges), "redirect_map")
                except BaseException as e:
                    redirect_t_err.append(e)

            redirect_t = InheritableThread(target=_write_redirects)
            redirect_t.start()

        # north-rule canonical mode: the seen key is the canonical form
        # (a `canon` column carried through frontier/seen files).
        seen_key = "canon" if conf.canonical_seen else "url"
        fcols = FRONTIER_COLS + (["canon"] if conf.canonical_seen else [])
        try:
            if manifest is not None:
                start_round = manifest["round"] + 1
                seen_names = list(manifest["seen_dirs"])
                frontier_dir = manifest["frontier_dir"]
                frontier_n = io.row_count(frontier_dir)
            else:
                start_round = 0
                self.seeds = seeds_ok
                frontier_df = self._seed_frontier()
                if conf.canonical_seen:
                    frontier_df = frontier_df.withColumn(
                        "canon", _canonicalize_udf()(F.col("url"))
                    )
                # the seed frontier doubles as the first seen delta — one
                # write, one directory (a seen delta has frontier schema).
                frontier_dir = "rounds/r=-0001/frontier"
                io.write(frontier_df, frontier_dir)
                seen_names = [frontier_dir]
                frontier_n = io.row_count(frontier_dir)
            self._trim_metrics(start_round)
            frontier = (
                io.read(frontier_dir).select(*fcols) if frontier_n > 0 else None
            )
            seen = io.read_many(seen_names).select(F.col(seen_key).alias("url"))
        finally:
            # a failed setup must not leave the writer running into the
            # checkpoint that a resume is about to rewrite
            if redirect_t is not None:
                redirect_t.join()
        if redirect_t_err:
            raise redirect_t_err[0]
        redirect_map = (
            io.read("redirect_map") if self.redirect_edges is not None else None
        )

        r = start_round
        total_fetched = 0
        while frontier_n > 0 and (conf.max_rounds <= 0 or r < conf.max_rounds):
            m = RoundMetrics(round=r, frontier=frontier_n)
            rd = f"rounds/r={r:05d}"

            t0 = time.time()
            batch = select_fetch_batch(frontier, conf.host_budget)
            # When the whole frontier fits the per-host budget (each
            # host's rows ≤ total rows ≤ budget), the batch provably
            # equals the frontier: the leftover anti-join below is an
            # empty no-op and the batch has a single consumer, so both
            # the persist and the leftover plan are skipped outright.
            leftover_empty = 0 < frontier_n <= conf.host_budget
            persisted_batch = False
            if conf.host_budget > 0 and not leftover_empty:
                # memory-persist: the batch feeds both the fetch join and
                # the leftover anti-join; a parquet round-trip per round
                # is pure overhead (resume is round-granular anyway).
                batch = batch.persist()
                persisted_batch = True
            # budget ≤ 0: batch IS the checkpointed frontier — no persist
            m.seconds["select"] = round(time.time() - t0, 3)

            t0 = time.time()
            results = fetch_and_extract(
                batch,
                self.pages,
                redirect_map,
                r,
                conf.group_header != "",
                self.multi_host,
                conf.target.base_url,
                scrape_func=self.scrape_func,
                validation_func=self.validation_func,
                group_validator=self.group_validator,
                link_list_filter=self.link_list_filter,
            )
            if self.result_modifier is not None:
                results = self.result_modifier(results)
            io.write(results, f"{rd}/results")
            results = io.read(f"{rd}/results")
            # per-partition lineage (north rule): which host_hash
            # partitions contributed how many results this round — the
            # audit trail that lets a resumed/replayed job prove it
            # covered the same partitions. One column-pruned job; the
            # fetched count itself comes from the parquet footers (zero
            # jobs). The lineage job and the frontier job below both
            # read the just-written results files and are independent,
            # so the lineage write runs on a driver thread and overlaps
            # the frontier computation — its tasks back-fill executors
            # freed by the frontier stage's tail; the join point sits
            # BEFORE the round manifest so a completed round on disk
            # still implies its lineage exists (resume invariant).
            lineage_df = (
                results.groupBy(
                    F.pmod(F.xxhash64("host"), F.lit(conf.partitions)).alias("host_hash"),
                )
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.countDistinct("host").alias("hosts"),
                    F.sum(F.when(F.col("code") == 200, 1).otherwise(0)).alias("ok_rows"),
                )
            )
            lineage_err: list[BaseException] = []

            def _write_lineage(df=lineage_df, dest=f"{rd}/lineage"):
                try:
                    io.write(df, dest)
                except BaseException as e:  # surfaced at the join point
                    lineage_err.append(e)

            from pyspark import InheritableThread

            lineage_t = InheritableThread(target=_write_lineage)
            lineage_t.start()
            try:
                m.fetched = io.row_count(f"{rd}/results")
                total_fetched += m.fetched
                m.seconds["fetch_extract"] = round(time.time() - t0, 3)

                t0 = time.time()
                cand = link_candidates(
                    results,
                    conf,
                    self.robots_bodies,
                    self.spark,
                    use_custom_links=self.link_list_filter is not None,
                )
                # new = genuinely-new candidates. ONE fused write produces the
                # next frontier (leftover ∪ new) partitioned by is_new; the
                # is_new=true subdirectory IS the round's seen delta — no
                # separate seen-delta write job, no second anti-join against
                # the growing seen table.
                new = seen_anti_join(cand, seen, key=seen_key).select(*fcols)
                out = new.withColumn("is_new", F.lit(True))
                if conf.host_budget > 0 and not leftover_empty:
                    # leftover = frontier ∖ batch; batch keys are small →
                    # broadcast anti-join, the frontier never shuffles here.
                    # With no budget the batch IS the frontier — leftover is
                    # provably empty and the broadcast would be frontier-sized
                    # (a driver OOM at the 10^10 design point), so skip it.
                    # (Same skip when frontier_n ≤ budget: batch == frontier.)
                    leftover = frontier.join(
                        F.broadcast(batch.select("url")), "url", "left_anti"
                    ).select(*fcols)
                    out = leftover.withColumn("is_new", F.lit(False)).unionByName(out)
                frontier_dir = f"{rd}/frontier"
                io.write(out, frontier_dir, partition_by=["is_new"])
                new_dir = f"{frontier_dir}/is_new=true"
                m.new_links = io.row_count(new_dir)
                if m.new_links > 0:
                    seen_names.append(new_dir)
                    # compaction: per-round delta dirs grow the seen table's
                    # file count O(rounds); every k rounds fold them into one
                    # directory (content-identical union rewrite) so the
                    # anti-join scan and resume read a bounded file set
                    if (
                        self.seen_compact_every > 0
                        and len(seen_names) >= self.seen_compact_every
                    ):
                        cname = f"seen_compact/r={r:05d}"
                        io.write(io.read_many(seen_names).select(*fcols), cname)
                        seen_names = [cname]
                    seen = io.read_many(seen_names).select(F.col(seen_key).alias("url"))
                frontier_n = io.row_count(frontier_dir)
                m.seconds["frontier"] = round(time.time() - t0, 3)
            finally:
                # a failed round must not leave a writer running into
                # the checkpoint that a resume is about to rewrite
                lineage_t.join()
            if lineage_err:
                raise lineage_err[0]
            # metrics line first: the manifest marks the round complete,
            # and a resume drops the line of any round it runs again
            self._append_metrics(m)
            atomic_write_json(
                self._manifest_path(),
                {
                    "format": _CHECKPOINT_FORMAT,
                    "round": r,
                    "frontier_dir": frontier_dir,
                    "frontier_rows": frontier_n,
                    "seen_dirs": seen_names,
                },
            )
            if persisted_batch:
                batch.unpersist()
            frontier = (
                io.read(frontier_dir).select(*fcols) if frontier_n > 0 else None
            )
            r += 1

        wall = time.time() - t_start
        summary = {
            "rounds": r,
            "total_fetched": total_fetched,
            "wall_seconds": round(wall, 3),
            "fetched_per_second": round(total_fetched / wall, 2) if wall > 0 else 0.0,
            "result_dirs": [f"rounds/r={k:05d}/results" for k in range(r)],
        }
        atomic_write_json(io.path("summary.json"), summary)
        return summary

    # ---- continuous re-crawl (walker's restart semantics) ----
    def run_loops(self, loops: int, resume: bool = False) -> list[dict]:
        """Crawl to fixpoint ``loops`` times, restarting from the seeds
        with a fresh seen set each time — walker's monitoring mode
        (``scrapeloop.go:230-246``: when the frontier drains the loop's
        results become ``CompleteStatus`` and ``restart(baseURL, paths)``
        begins the next loop).

        Each loop checkpoints under ``loop=NNN/`` (distinct snapshot
        dirs); ``loops.json`` tracks the last *completed* loop, giving
        the running-vs-complete split of walker's ``vo/status.go``:
        :meth:`complete_results_df` is the last finished loop,
        :meth:`running_results_df` the in-flight one. ``resume``
        continues an interrupted loop round-exactly, then keeps looping.
        """
        root_io = make_table_io(self.spark, self.io.root)
        state = read_json(root_io.path("loops.json")) if resume else None
        start = (state["completed"] + 1) if state else 0
        summaries: list[dict] = (state or {}).get("summaries", [])
        for li in range(start, loops):
            self.io = make_table_io(self.spark, root_io.path(f"loop={li:03d}"))
            summaries.append(self.run(resume=resume and li == start))
            atomic_write_json(
                root_io.path("loops.json"),
                {"completed": li, "summaries": summaries},
            )
        return summaries

    def _loop_io(self, li: int) -> "Crawler":
        c = object.__new__(Crawler)
        c.__dict__ = {**self.__dict__}
        base = self.io.root
        if "/loop=" in base:
            base = base.rsplit("/loop=", 1)[0]
        c.io = make_table_io(self.spark, os.path.join(base, f"loop={li:03d}"))
        return c

    def _loops_state(self) -> dict | None:
        base = self.io.root
        if "/loop=" in base:
            base = base.rsplit("/loop=", 1)[0]
        return read_json(os.path.join(base, "loops.json"))

    def complete_results_df(self) -> DataFrame | None:
        """Results of the last *completed* loop (walker's
        ``?status=complete``); None before any loop finishes."""
        state = self._loops_state()
        if state is None:
            # single-run layout: run() returns only at fixpoint, so the
            # checkpointed results ARE the complete snapshot
            return self.results_df() if self._round_dirs() else None
        if state["completed"] < 0:
            return None
        return self._loop_io(state["completed"]).results_df()

    def running_results_df(self) -> DataFrame | None:
        """Results of the in-flight loop (walker's ``?status=running``);
        falls back to the last complete loop when no newer loop has
        started."""
        state = self._loops_state()
        if state is None:
            return self.results_df()  # single-run layout
        nxt = self._loop_io(state["completed"] + 1)
        if nxt._round_dirs():
            return nxt.results_df()
        return self.complete_results_df()

    # ---- accessors over the checkpointed crawl ----
    def _round_dirs(self) -> list[str]:
        base = os.path.join(self.io.root, "rounds")
        if not os.path.isdir(base):
            return []
        return [
            d
            for d in sorted(os.listdir(base))
            if d.startswith("r=") and not d.endswith("-0001")
        ]

    def _result_names(self) -> list[str]:
        return [
            f"rounds/{d}/results"
            for d in self._round_dirs()
            if self.io.exists(f"rounds/{d}/results")
        ]

    def results_df(self) -> DataFrame:
        return self.io.read_many(self._result_names())

    def order_df(self) -> DataFrame | None:
        """The crawl order, ``(round, batch_pos, url)``, derived from the
        results (one row per batch row): within a round the batch is
        fetched host ascending, then in politeness priority order, as the
        reference dispatcher does. None before any round."""
        names = self._result_names()
        if not names:
            return None
        w = Window.partitionBy("round").orderBy(F.col("host").asc(), *priority_order())
        return self.io.read_many(names).select(
            "round", (F.row_number().over(w) - 1).alias("batch_pos"), "url"
        )

    def seen_df(self) -> DataFrame:
        manifest = read_json(self._manifest_path())
        if manifest is None:  # crawl never completed a round
            return self.io.read("rounds/r=-0001/frontier")
        return self.io.read_many(manifest["seen_dirs"])
