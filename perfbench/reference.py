"""Reference answers and the checks that compare a run against them.

* Crawls: the pure-Python ``walker_spark.dispatcher.ReferenceDispatcher``
  on the same synthetic site. Links to other hosts are dropped by the F3
  same-host filter in both engines, so a multi-host crawl is the union of
  per-host single-site crawls (as in ``tests/test_crawl_parity.py``).
* Suite: each query's ``oracle_sql()`` in DuckDB over the same tables.

Rows are compared as order-insensitive fingerprints of the repository's
own oracle normalisation, ``rows_key`` of ``scripts/check_oracle.py``
(floats to 6 significant digits, lists as tuples, columns by name).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _rows_key():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rows_key


def canon_rows(cols: list[str], rows) -> dict:
    """Order-insensitive fingerprint of a result: its sorted column
    names, row count and a hash of ``rows_key`` over its rows."""
    keyed = _rows_key()(cols, [tuple(r) for r in rows])
    h = hashlib.sha256("\n".join(repr(r) for r in keyed).encode()).hexdigest()
    return {"cols": sorted(cols), "rows": len(keyed), "sha": h}


def url_set_fingerprint(urls) -> dict:
    s = sorted(set(urls))
    return {"n": len(s), "sha": hashlib.sha256("\n".join(s).encode()).hexdigest()}


# ------------------------------------------------------------------ crawl

def crawl_conf(base_url: str, host_budget: int, max_rounds: int):
    from walker_spark.config import CrawlConfig, Target

    return CrawlConfig(
        target=Target(base_url=base_url, paths=["/"]),
        host_budget=host_budget,
        max_rounds=max_rounds,
    )


def crawl_reference(spec, params: dict) -> dict:
    """Fetched-URL set, round count and seen-set fingerprint of the
    multi-host crawl, from per-host dispatcher runs."""
    from walker_spark.dispatcher import ReferenceDispatcher
    from walker_spark.sources.synthetic import build_store, host_name

    store = build_store(spec)
    fetched: list[str] = []
    seen: set[str] = set()
    rounds = 0
    per_round: dict[int, int] = {}
    for h in range(spec.n_hosts):
        conf = crawl_conf(f"https://{host_name(h)}", params["host_budget"], params["max_rounds"])
        d = ReferenceDispatcher(store, conf, multi_host=False)
        if d.check_seeds():
            continue  # robots forbids the seed: the multi-host crawl drops it
        o = d.run()
        fetched.extend(o.results)
        seen |= o.seen
        rounds = max(rounds, o.rounds)
        for e in o.order:
            per_round[e["round"]] = per_round.get(e["round"], 0) + 1
    return {
        "fetched": url_set_fingerprint(fetched),
        "seen": url_set_fingerprint(seen),
        "rounds": rounds,
        "fetched_per_round": [per_round.get(r, 0) for r in range(rounds)],
    }


def check_crawl(got: dict, ref: dict) -> list[str]:
    """Mismatches between a run's crawl output and the reference."""
    errs = []
    for k in ("fetched", "seen", "rounds", "fetched_per_round"):
        if got.get(k) != ref[k]:
            errs.append(f"{k}: got {got.get(k)!r}, want {ref[k]!r}")
    return errs


# ------------------------------------------------------------------ suite

def suite_reference(table_dir: str, queries: list[str]) -> dict:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )
        out = {}
        for q in queries:
            res = con.execute(oracles[q])
            out[q] = canon_rows([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def check_suite(got: dict, ref: dict) -> tuple[list[str], int]:
    """``got`` maps each query to its answers, one per pass. Returns the
    mismatches and the number of failed answers (a missing query counts
    as one failure)."""
    errs, failed = [], 0
    for q, want in ref.items():
        answers = got.get(q) or [None]
        for a in answers:
            if a != want:
                failed += 1
                errs.append(f"{q}: got {a!r}, want {want!r}")
    return errs, failed
