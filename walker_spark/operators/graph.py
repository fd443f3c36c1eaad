"""Link-graph analytics over a crawled corpus — PageRank, the classic
web-scale ranking signal (Page et al. 1999, the public construction;
also what a crawl scheduler uses for priority and what corpus curation
uses as a per-page quality prior).

Numerics are engineered for cross-engine determinism, the same
discipline as the mixture/quality ops: every intermediate rank is
QUANTIZED to 12 decimals each iteration, so the only float freedom
left (sum order inside an aggregation) is ~1e-15 per sum — eight
orders of magnitude below the quantum — and the fixpoint trajectory is
reproducible bit-for-bit on any engine that rounds half-away-from-zero
(Spark, DuckDB; NOT Python's banker's ``round``).

Scale shape per iteration (the standard distributed PageRank plan):

* ``contribs``: ranks ⋈ edges on src — one hash exchange on the id
  (both sides ids+doubles only; the edge set is pre-partitioned once
  and REUSED every iteration via ``persist``, so only the small rank
  side reshuffles);
* ``groupBy(dst).sum`` — map-side partial aggregation, one exchange;
* dangling mass: a scalar aggregate (no extra shuffle of the graph),
  redistributed uniformly per the standard formulation;
* ``localCheckpoint`` per iteration cuts the lineage exactly like the
  connected-components loop (operators/dedup.py) — constant plan size
  at any iteration count. A fused loop without the checkpoint was
  measured slower at every size from 50 to 200k nodes, because its plan
  grows ~2^iterations (BENCH.md, "Seen and PageRank: the last two size
  gates").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pagerank",
    "hits",
    "host_graph",
    "anchor_text_rollup",
    "anchor_rollup_from_pages",
]

_Q = 12  # intermediate quantization decimals (see module docstring)


def _q(x: float) -> float:
    """Half-away-from-zero quantization to _Q decimals for x ≥ 0 —
    Python's round() is banker's and diverges from SQL round() on exact
    midpoints (the live-caught gotcha from the repetition oracle)."""
    import math

    return math.floor(x * 10.0**_Q + 0.5) / 10.0**_Q


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "s",
    dst_col: str = "t",
    id_col: str = "id",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list. ``nodes``
    (one column ``id_col``) pins the vertex set — pass it so isolated
    and dangling pages keep their (1-d)/N + dangling share; defaults to
    the ids appearing in ``edges``. Returns (id, rank) with ``rank``
    rounded to 6 decimals (quantized trajectory, see module doc)."""
    e = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__t"))
    if nodes is None:
        nodes = (
            e.select(F.col("__s").alias(id_col))
            .union(e.select(F.col("__t").alias(id_col)))
            .distinct()
        )
    v = nodes.select(F.col(id_col).alias("__id")).distinct().persist()
    n = v.count()
    if n == 0:
        return v.select(F.col("__id").alias(id_col), F.lit(0.0).alias("rank"))

    outdeg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    # edges with the out-degree attached, partitioned once, reused per iter
    e_deg = e.join(outdeg, "__s").persist()
    e_deg.count()
    # The dangling SET (nodes with no out-edge) is static across
    # iterations — only its ranks change — so flag it ONCE on the vertex
    # table and let the flag ride the rank rows: the per-iteration mass
    # sum becomes a filter + scalar aggregate over the (checkpointed)
    # ranks, with no join and no re-derivation of out-degrees. A web
    # graph's dangling set is a large fraction of its nodes, so a
    # per-iteration anti-join (let alone a broadcast of the set) would
    # not scale; one boolean per vertex does. Same ids, same summed
    # values: the trajectory is unchanged (sum-order freedom is ~1e-15,
    # eight orders below the 1e-12 quantum, per the module doc).
    vd = (
        v.join(
            outdeg.select(F.col("__s").alias("__id"), F.lit(False).alias("__dang")),
            "__id",
            "left",
        )
        .select("__id", F.coalesce(F.col("__dang"), F.lit(True)).alias("__dang"))
        .persist()
    )
    vd.count()

    ranks = vd.select("__id", F.lit(_q(1.0 / n)).alias("__r"), "__dang")
    ranks = _pagerank_loop(ranks, vd, e_deg, n, iterations, damping)
    out = ranks.select(F.col("__id").alias(id_col), F.round("__r", 6).alias("rank"))
    v.unpersist()
    vd.unpersist()
    return out


def _pagerank_loop(ranks, vd, e_deg, n, iterations, damping):
    for _i in range(int(iterations)):
        contrib = (
            ranks.join(e_deg, ranks["__id"] == e_deg["__s"])
            .select(
                F.col("__t").alias("__id"),
                F.round(F.col("__r") / F.col("__deg"), _Q).alias("__c"),
            )
            .groupBy("__id")
            .agg(F.sum("__c").alias("__in"))
        )
        # Dangling mass stays IN PLAN as a broadcast one-row aggregate:
        # a per-iteration driver collect would add a scheduling
        # round-trip and do executor work on the driver. The float
        # expression tree replicates the historical driver-side
        # arithmetic operation for operation — ((1-d)/n, then
        # + (d * q(dangling)) / n, then + d * in) — and _q's
        # floor(x*1e12 + 0.5)/1e12 is the same IEEE sequence in SQL, so
        # the quantized trajectory is bit-identical.
        dang = (
            ranks.filter(F.col("__dang"))
            .agg(
                F.floor(
                    F.coalesce(F.sum("__r"), F.lit(0.0)) * F.lit(10.0**_Q) + F.lit(0.5)
                ).cast("double").alias("__qd")
            )
            .select((F.col("__qd") / F.lit(10.0**_Q)).alias("__qd"))
        )
        base = F.lit((1.0 - damping) / n) + (F.lit(damping) * F.col("__qd")) / F.lit(
            float(n)
        )
        ranks = (
            vd.join(contrib, "__id", "left")
            .join(F.broadcast(dang))
            .select(
                "__id",
                F.round(
                    base + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0)),
                    _Q,
                ).alias("__r"),
                "__dang",
            )
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def hits(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    iterations: int = 5,
    src_col: str = "s",
    dst_col: str = "t",
    id_col: str = "id",
) -> DataFrame:
    """Fixed-iteration HITS hubs/authorities (Kleinberg 1999, the
    public construction) over a directed edge list, L1-normalized each
    half-step. Returns ``(id, hub, authority)`` rounded to 6 decimals.

    Numerics go one step FURTHER than :func:`pagerank`: every score is
    kept on the 1e-12 grid and aggregated as a scaled BIGINT
    (``floor(x*1e12 + 0.5)``), so per-node sums and the L1 total are
    integer arithmetic — order-independent EXACTLY, not just below the
    quantum — and each half-step ends in a single double division
    (int/int), identical IEEE on any engine. The trajectory is
    bit-for-bit reproducible under any partitioning.

    Scale shape per iteration: two rank ⋈ edges hash joins (ids +
    one long each; the edge set is partitioned once and reused via
    ``persist``), two map-side-combined groupBys, two scalar aggregates
    for the L1 totals, and a ``localCheckpoint`` to cut lineage.
    """
    e = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__t"))
    if nodes is None:
        nodes = (
            e.select(F.col("__s").alias(id_col))
            .union(e.select(F.col("__t").alias(id_col)))
            .distinct()
        )
    v = nodes.select(F.col(id_col).alias("__id")).distinct().persist()
    n = v.count()
    if n == 0:
        v.unpersist()
        return nodes.select(
            F.col(id_col), F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    e = e.persist()
    if e.count() == 0:
        out = v.select(
            F.col("__id").alias(id_col),
            F.lit(0.0).alias("hub"),
            F.lit(0.0).alias("authority"),
        )
        e.unpersist()
        return out

    def to_grid(col):  # 1e-12-grid double -> exact scaled BIGINT
        return F.floor(col * F.lit(1e12) + F.lit(0.5)).cast("long")

    cur = v.select(
        "__id",
        F.lit(_q(1.0 / n)).alias("__h"),
        F.lit(_q(1.0 / n)).alias("__a"),
    )
    for _ in range(int(iterations)):
        # The L1 totals ride the plan as broadcast one-row aggregates
        # (the same discipline as PageRank's dangling mass): the loop no
        # longer pays two driver collects per iteration, the driver does
        # no data work, and the whole fixed-iteration loop executes as
        # one job at the final action. The totals are integer sums on
        # the 1e-12 grid, so the in-plan value is the exact integer the
        # collect produced, and long→double cast is the same IEEE
        # conversion float(atot) performed. The eager=False checkpoint
        # on each half-step's aggregate replaces the materialization the
        # collect used to force — without it the next half-step's
        # lineage would recompute the aggregate (it is referenced by
        # both the total and the join).
        hint = cur.select("__id", to_grid(F.col("__h")).alias("__hi"))
        araw = (
            hint.join(e, hint["__id"] == e["__s"])
            .groupBy(F.col("__t").alias("__id"))
            .agg(F.sum("__hi").alias("__x"))
            .localCheckpoint(eager=False)
        )
        atot = araw.agg(F.sum("__x").cast("double").alias("__tot"))
        a = v.join(araw, "__id", "left").join(F.broadcast(atot)).select(
            "__id",
            F.round(
                F.coalesce(F.col("__x"), F.lit(0)) / F.col("__tot"), _Q
            ).alias("__a"),
        )
        aint = a.select("__id", to_grid(F.col("__a")).alias("__ai"))
        hraw = (
            aint.join(e, aint["__id"] == e["__t"])
            .groupBy(F.col("__s").alias("__id"))
            .agg(F.sum("__ai").alias("__x"))
            .localCheckpoint(eager=False)
        )
        htot = hraw.agg(F.sum("__x").cast("double").alias("__tot"))
        h = v.join(hraw, "__id", "left").join(F.broadcast(htot)).select(
            "__id",
            F.round(
                F.coalesce(F.col("__x"), F.lit(0)) / F.col("__tot"), _Q
            ).alias("__h"),
        )
        cur = (
            h.join(a, "__id")
            .select("__id", "__h", "__a")
            .localCheckpoint(eager=False)
        )
    out = cur.select(
        F.col("__id").alias(id_col),
        F.round("__h", 6).alias("hub"),
        F.round("__a", 6).alias("authority"),
    )
    v.unpersist()
    e.unpersist()
    return out


def host_graph(
    links: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    keep_self: bool = False,
) -> DataFrame:
    """Collapse a page-level link set to the HOST-level graph — the
    standard web-graph reduction (Common Crawl publishes exactly this
    as its host/domain graph artifact): one row per (src_host,
    dst_host) with ``n_links`` (page links), ``n_src_pages`` /
    ``n_dst_pages`` (distinct endpoints). Self-loops (intra-host
    links) are dropped unless ``keep_self`` — centrality runs want
    them gone, storage ledgers want them kept.

    Scale shape: host extraction is a native regex projection; one
    groupBy on the (src_host, dst_host) pair — host-graph cardinality
    is orders of magnitude below the page edge set, so this is the
    aggregation that makes whole-web centrality tractable (run
    :func:`pagerank`/:func:`hits` on its output).
    """

    def host_of(c):
        return F.lower(
            F.regexp_extract(
                F.col(c), r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1
            )
        )

    e = links.select(
        host_of(src_col).alias("src_host"),
        host_of(dst_col).alias("dst_host"),
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__t"),
    )
    if not keep_self:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.count_distinct("__s").alias("n_src_pages"),
        F.count_distinct("__t").alias("n_dst_pages"),
    )


def anchor_text_rollup(
    links: DataFrame,
    target_col: str = "target",
    anchor_col: str = "anchor",
    k: int = 3,
) -> DataFrame:
    """Per-target anchor-text aggregation — the classic web-corpus
    signal that inbound link text describes the TARGET page better
    than its own content (used for retrieval training sets and as a
    crawl-priority hint). Input is one row per (source→target) link
    with its visible anchor text; output per target:

    * ``n_inlinks`` — total inbound links,
    * ``n_unique_anchors`` — distinct anchor strings,
    * ``top_anchors`` — the ``k`` most frequent anchors, '|'-joined,
      ties broken lexicographically (fully deterministic cut).

    Scale shape: one (target, anchor) map-side-combined groupBy, then
    the per-target rank + totals computed in a SINGLE hash exchange on
    target (two window specs over the same partitioning chain without
    re-shuffling), then a target-keyed groupBy that Spark satisfies
    from the same partitioning. Anchor strings are short; the html
    they came from never enters this plan.
    """
    from pyspark.sql import Window

    cnt = links.groupBy(target_col, anchor_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    part = Window.partitionBy(target_col)
    ranked = cnt.select(
        target_col,
        anchor_col,
        "cnt",
        F.row_number()
        .over(part.orderBy(F.desc("cnt"), F.asc(anchor_col)))
        .alias("rk"),
        F.sum("cnt").over(part).alias("n_inlinks"),
        F.count(F.lit(1)).over(part).alias("n_unique_anchors"),
    )
    return (
        ranked.filter(F.col("rk") <= k)
        .groupBy(target_col)
        .agg(
            F.first("n_inlinks").alias("n_inlinks"),
            F.first("n_unique_anchors").alias("n_unique_anchors"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", anchor_col))),
                    lambda s: s[anchor_col],
                ),
                "|",
            ).alias("top_anchors"),
        )
    )


def anchor_rollup_from_pages(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    k: int = 3,
) -> DataFrame:
    """Glue: crawled pages → anchor-text rollup. Extracts (target,
    anchor) pairs with an Arrow-batched pandas UDF (hrefs normalized
    against each page's own URL), explodes, and rolls up. The html
    column is consumed in the scan stage and never shuffled."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.extract import extract_anchor_texts

    @pandas_udf("array<struct<target:string,anchor:string>>")
    def pairs_udf(html: pd.Series, url: pd.Series) -> pd.Series:
        out = []
        for h, u in zip(html, url):
            if h is None:
                out.append([])
                continue
            if isinstance(h, (bytes, bytearray)):
                h = bytes(h).decode("utf-8", "replace")
            out.append(
                [
                    {"target": t, "anchor": a}
                    for t, a in extract_anchor_texts(h, base_url=u)
                ]
            )
        return pd.Series(out)

    pairs = pages.select(
        F.explode(pairs_udf(F.col(html_col), F.col(url_col))).alias("p")
    ).select(F.col("p.target").alias("target"), F.col("p.anchor").alias("anchor"))
    return anchor_text_rollup(pairs, k=k)
