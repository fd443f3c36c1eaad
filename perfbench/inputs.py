"""Seeded, cached benchmark inputs.

Everything here runs before the timed child starts and without Spark, so
input generation never lands in a measurement. Each input set lives in
``.perfbench/cache/<key>/`` where the key hashes the workload's
parameters, the seed, and the source of every module that shapes the
input or its reference answer (``walker_spark/sources/synthetic.py``,
the reference dispatcher and its helpers, ``__spark_entry__.py`` and this
file). A change to any of them regenerates the inputs and references.

* Crawl sites come from ``walker_spark.sources.synthetic.gen_host_pages``
  (the same pure function ``write_pages_tables`` distributes through
  Spark), written with pyarrow in the column layout, codec and file count
  of ``write_pages_tables``. Rows land in files by a CRC of the url, the
  stand-in for its ``repartition(n, "url")``; the ``host_hash`` column,
  which the crawl never reads, is left out. Calling
  ``write_pages_tables`` itself would cost a Spark process per new seed
  (7 s of session and 16 s of writing for the 3,000-page site on a
  4-core VM, against 2.4 s here), which every run pays because each run
  uses a new seed. ``selftest.py`` checks that both writers produce the
  same rows and file count.
* The analytics suite reads ``documents`` and ``events`` tables built
  like the driver's ``sf0.1`` test data, from one fixed seed as that data
  is: the same row counts (5,000 and 100,000), a 31-word vocabulary,
  10-100 words a document, ~5% near-duplicates, 20 sources, 40% English,
  five event types, 1,500 users. The benchmark may read only its own
  checkout, so it cannot read that data; per-query times on both are
  compared in README.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sources whose change must regenerate inputs or reference answers.
KEY_SOURCES = [
    "walker_spark/sources/synthetic.py",
    "walker_spark/dispatcher.py",
    "walker_spark/linkcore.py",
    "walker_spark/urlnorm.py",
    "walker_spark/config.py",
    "walker_spark/functions/extract.py",
    "walker_spark/functions/robots.py",
    "walker_spark/functions/hashing.py",
    "__spark_entry__.py",
    "scripts/check_oracle.py",
    "perfbench/inputs.py",
    "perfbench/reference.py",
]


def cache_key(params: dict) -> str:
    h = hashlib.sha256(json.dumps(params, sort_keys=True).encode())
    for rel in KEY_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def cached(cache_root: str, params: dict, build) -> str:
    """Directory holding ``build(dir)``'s output for ``params``; built
    once into a temporary sibling and renamed into place when complete."""
    d = os.path.join(cache_root, f"{params['kind']}-{cache_key(params)}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, params)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


# ------------------------------------------------------------------ sites

def build_site(out: str, params: dict) -> None:
    """Pages, redirect edges and robots of one synthetic multi-host site,
    plus the reference crawl answer (see reference.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from walker_spark.sources.synthetic import (
        SiteSpec,
        gen_host_pages,
        host_name,
        page_count_per_host,
        robots_body,
    )

    spec = SiteSpec(seed=params["seed"], n_hosts=params["n_hosts"], n_pages=params["n_pages"])
    counts = page_count_per_host(spec)
    rows = []
    for h in range(spec.n_hosts):
        rows.extend(gen_host_pages(spec, h, counts[h], counts))
    pages = [r for r in rows if not r["redirect_to"]]
    n_files = min(256, max(8, sum(counts) // 1000))
    page_schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("host", pa.string()),
        ]
    )
    buckets: list[list[dict]] = [[] for _ in range(n_files)]
    for r in pages:
        buckets[zlib.crc32(r["url"].encode()) % n_files].append(r)
    pdir = os.path.join(out, "pages.parquet")
    os.makedirs(pdir)
    for i, b in enumerate(buckets):
        t = pa.table(
            {
                "url": [r["url"] for r in b],
                "warc_ts": [r["warc_ts_us"] for r in b],
                "html": [r["html"] for r in b],
                "text": [r["text"] for r in b],
                "lang": [r["lang"] for r in b],
                "host": [r["host"] for r in b],
            },
            schema=page_schema,
        )
        pq.write_table(t, os.path.join(pdir, f"part-{i:05d}.parquet"), compression="zstd")
    redirects = [r for r in rows if r["redirect_to"]]
    rdir = os.path.join(out, "redirect_edges.parquet")
    os.makedirs(rdir)
    pq.write_table(
        pa.table(
            {
                "src": pa.array([r["url"] for r in redirects], pa.string()),
                "code": pa.array([r["redirect_code"] for r in redirects], pa.int32()),
                "dst": pa.array([r["redirect_to"] for r in redirects], pa.string()),
                "host": pa.array([r["host"] for r in redirects], pa.string()),
            }
        ),
        os.path.join(rdir, "part-00000.parquet"),
    )
    robots = {
        host_name(h): robots_body(spec, h)
        for h in range(spec.n_hosts)
        if robots_body(spec, h) is not None
    }
    meta = {
        "pages": len(pages),
        "redirects": len(redirects),
        "seeds": [f"{spec.scheme}://{host_name(h)}/" for h in range(spec.n_hosts)],
        "robots": robots,
    }
    with open(os.path.join(out, "site.json"), "w") as f:
        json.dump(meta, f)

    from perfbench.reference import crawl_reference

    ref = crawl_reference(spec, params)
    with open(os.path.join(out, "reference.json"), "w") as f:
        json.dump(ref, f)


# ------------------------------------------------------- analytics tables

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en"] * 8 + ["zh", "es", "de", "fr"] * 3  # 40% en, 15% each other
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def build_tables(out: str, params: dict) -> None:
    """``documents`` and ``events`` parquet tables plus the DuckDB
    oracle answers for the suite's queries (see reference.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"docs:{params['seed']}")
    texts: list[str] = []
    for i in range(params["n_docs"]):
        roll = rng.random()
        if texts and roll < 0.05:
            texts.append(texts[rng.randrange(len(texts))] + " dup")  # near-duplicate
        elif texts and roll < 0.052:
            texts.append(texts[rng.randrange(len(texts))])  # exact duplicate
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 100))))
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": texts,
                "lang": [rng.choice(_LANGS) for _ in range(n)],
                "source": [f"src{i % 20}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )

    erng = random.Random(f"events:{params['seed']}")
    n_ev = params["n_events"]
    t0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
    span = 30 * 86_400_000_000
    ts = sorted(t0 + erng.randrange(span) for _ in range(n_ev))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n_ev), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(
                    [erng.randrange(max(1, n_ev * 3 // 200)) for _ in range(n_ev)], pa.int64()
                ),
                "event_type": [erng.choice(_EVENT_TYPES) for _ in range(n_ev)],
                "value": [round(erng.expovariate(1 / 50), 2) for _ in range(n_ev)],
                "props": [f'{{"k": {erng.randrange(100)}}}' for _ in range(n_ev)],
            }
        ),
        os.path.join(out, "events.parquet"),
    )

    from perfbench.reference import suite_reference

    with open(os.path.join(out, "reference.json"), "w") as f:
        json.dump(suite_reference(out, params["queries"]), f)
