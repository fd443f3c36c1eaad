"""Spans around the public entry points of each layer, for the traced run.

Nothing under ``walker_spark/`` changes: :func:`install` replaces module
attributes with wrappers. Each wrapper records a span (name, start, end,
thread, parent) and sets ``spark.job.description`` to the span's name for
its duration, so every Spark job started inside it — on the lineage
``InheritableThread`` too — carries the layer's name into the event log.

Plan-building entry points (``select_fetch_batch``, ``fetch_and_extract``,
``link_candidates``, ``seen_anti_join``, ``resolve_redirects``) return
lazy DataFrames, so their spans measure driver-side planning only; their
execution shows up in the ``tables.write:<kind>`` job that materialises
the plan, and is split per operator from the event log (layers.py).
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

_ON = False
_SPANS: list[dict] = []
_LOCK = threading.Lock()
_LOCAL = threading.local()
_MAIN: list[dict] = []  # open spans of the main thread
_NEXT_ID = [0]


def _stack() -> list[dict]:
    if threading.current_thread() is threading.main_thread():
        return _MAIN
    if not hasattr(_LOCAL, "stack"):
        _LOCAL.stack = []
    return _LOCAL.stack


def _set_description(desc: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty("spark.job.description", desc)


@contextlib.contextmanager
def span(name: str, **attrs):
    """Record a span; a no-op unless :func:`install` ran."""
    if not _ON:
        yield
        return
    stack = _stack()
    # a span opened on a worker thread hangs under the main thread's
    # innermost open span (the one that started the thread)
    parent = stack[-1] if stack else (_MAIN[-1] if _MAIN else None)
    with _LOCK:
        _NEXT_ID[0] += 1
        sid = _NEXT_ID[0]
    rec = {
        "id": sid,
        "parent": parent["id"] if parent else None,
        "name": name,
        "thread": threading.current_thread().name,
        "start": time.time(),
        **attrs,
    }
    stack.append(rec)
    _set_description(name)
    try:
        yield rec
    finally:
        rec["end"] = time.time()
        stack.pop()
        _set_description(stack[-1]["name"] if stack else None)
        with _LOCK:
            _SPANS.append(rec)


def _wrap(name: str, fn, name_of=None):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with span(name_of(*args, **kwargs) if name_of else name):
            return fn(*args, **kwargs)

    return inner


def table_kind(name: str) -> str:
    """Checkpoint table kind from its name under the crawl's root."""
    if name.startswith("rounds/r=-0001/"):
        return "seed"
    if name.startswith("seen_compact/"):
        return "seen_compact"
    return name.rstrip("/").split("/")[-1]


def install() -> None:
    """Wrap the layer entry points. Idempotent."""
    global _ON
    if _ON:
        return
    _ON = True
    from walker_spark.plans import crawl
    from walker_spark.sources import tables

    for attr, name in [
        ("select_fetch_batch", "politeness.select"),
        ("fetch_and_extract", "fetch.fetch_and_extract"),
        ("link_candidates", "linkfilter.link_candidates"),
        ("seen_anti_join", "seen.anti_join"),
        ("resolve_redirects", "crawl.resolve_redirects"),
        ("atomic_write_json", "tables.manifest"),
    ]:
        setattr(crawl, attr, _wrap(name, getattr(crawl, attr)))
    crawl.Crawler.run = _wrap("crawl.run", crawl.Crawler.run)
    io = tables.ParquetTableIO
    io.write = _wrap(
        "tables.write", io.write, lambda _self, _df, name, *a, **k: f"tables.write:{table_kind(name)}"
    )
    io.row_count = _wrap("tables.row_count", io.row_count)
    io.read = _wrap("tables.read", io.read)
    io.read_many = _wrap("tables.read", io.read_many)


def spans() -> list[dict]:
    with _LOCK:
        return sorted(_SPANS, key=lambda s: s["start"])
