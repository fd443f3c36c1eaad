"""walker_spark — a from-scratch PySpark-native reimplementation of the
query/data-processing capabilities of foomo/walker (reference, read-only,
at /root/reference).

Not a port: walker's goroutine/channel crawl loop becomes a BSP (bulk
synchronous parallel) URL-frontier pipeline over parquet/Iceberg tables of
Common-Crawl-style pages, expressed in the DataFrame API so Catalyst owns
the physical plan.

Layout
------
urlnorm        URL normalization (walker NormalizeLink parity) + full
               canonicalizer (lowercase host / default-port strip / sorted
               query params) used by the URL-seen filter.
config         Crawl config (YAML, polymorphic target) mirroring
               reference config/config.go.
dispatcher     Pure-Python reference dispatcher: the deterministic oracle
               that pins down walker's scrapeloop semantics for parity tests.
functions/     Columnar + pandas-UDF scalar logic (HTML extraction, robots,
               latency buckets, text analytics, hashing).
operators/     Composable DataFrame operators (link filter stack, URL-seen
               anti-join, politeness window, dedup, similarity search,
               reports).
sources/       Table IO seam (parquet now, Iceberg-ready) + deterministic
               synthetic pages/seeds/robots generators.
plans/         The BSP crawl round driver with checkpoint/resume.
"""

__version__ = "0.1.0"
