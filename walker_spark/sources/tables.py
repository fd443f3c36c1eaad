"""TableIO seam: parquet now, Iceberg as a flag.

The north rule specifies Iceberg tables; this sandbox ships no Iceberg
runtime jar, so the engine isolates table IO behind this seam (SURVEY.md
§7 hard-part e). ``ParquetTableIO`` implements snapshot semantics with
write-then-atomic-manifest; ``IcebergTableIO`` maps the same interface
onto catalog commits and activates when an Iceberg catalog is actually
configured on the session. :func:`make_table_io` is the selection flag:

* ``backend="auto"`` (default) — Iceberg iff the session has a
  ``spark.sql.catalog.<name>`` configured whose implementation is
  Iceberg's SparkCatalog; parquet otherwise.
* ``backend="iceberg"`` — require Iceberg; raise a clear error when the
  runtime isn't present (instead of failing deep inside a write).
* ``backend="parquet"`` — force the manifest-based store.

Override via ``SPARK_GRAFT_TABLE_BACKEND`` without touching code.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "ParquetTableIO",
    "IcebergTableIO",
    "make_table_io",
    "iceberg_catalogs",
    "namespace_for_root",
    "atomic_write_json",
    "read_json",
    "write_bucketed_table",
    "register_bucketed_table",
]


def write_bucketed_table(
    df: DataFrame,
    path: str,
    table: str = "pages_bucketed",
    buckets: int = 64,
    key: str = "url",
) -> None:
    """Write ``df`` as an external parquet table bucketed (and sorted)
    by ``key`` — the layout that makes the fetch join co-located: the
    html side needs NO exchange, NO broadcast, and (one file per bucket,
    hence the pre-repartition) no sort at join time. The Iceberg
    analogue is a ``bucket(n, url)`` partition transform.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.repartition(buckets, key)
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def register_bucketed_table(
    spark: SparkSession,
    path: str,
    table: str = "pages_bucketed",
    buckets: int = 64,
    key: str = "url",
) -> DataFrame:
    """(Re-)register an existing bucketed-table directory in this
    session's catalog — bucketing metadata lives in the catalog, not the
    files, so a fresh session must re-declare it before the planner can
    use the co-located layout."""
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(table)


def atomic_write_json(path: str, obj: dict) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def read_json(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


class ParquetTableIO:
    """Rooted parquet table store with overwrite/append-by-new-file."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> str:
        p = self.path(name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(p)
        return p

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def read_many(self, names: list[str]) -> DataFrame:
        return self.spark.read.parquet(*[self.path(n) for n in names])

    def row_count(self, name: str) -> int:
        """Exact row count from parquet footers — driver-side metadata
        only, no Spark job. The crawl loop uses this for its per-round
        bookkeeping counts (fetched / new-links / frontier size) so a
        round costs zero count jobs. Missing dir counts as 0.

        On an object store this is one footer read per file (Iceberg
        gives the same number from snapshot manifests for free — the
        seam's Iceberg implementation would read
        ``snapshot.summary['total-records']``)."""
        import pyarrow.parquet as pq

        total = 0
        for root, dirs, files in os.walk(self.path(name)):
            # Spark's reader skips `_`/`.` entries (`_temporary/`, `_SUCCESS`, crc files)
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total

    def exists(self, name: str) -> bool:
        """Whether table ``name`` was fully written. Spark's file commit
        moves task files into place and writes ``_SUCCESS`` last, so a
        directory of part files without it is a commit cut off part-way."""
        return os.path.exists(os.path.join(self.path(name), "_SUCCESS"))


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of Iceberg catalogs configured on this session (keys
    ``spark.sql.catalog.<name>`` whose class is Iceberg's SparkCatalog).
    Empty when no Iceberg runtime is wired up — the auto-selection
    signal for :func:`make_table_io`."""
    prefix = "spark.sql.catalog."
    # context conf only reflects settings captured at SparkContext
    # creation; catalogs registered later via spark.conf.set(...) show
    # up only in the runtime SQL conf, so scan both (ADVICE r3)
    pairs = list(spark.sparkContext.getConf().getAll())
    pairs += [(r["key"], r["value"]) for r in spark.sql("SET").collect()]
    out = set()
    for key, val in pairs:
        if (
            key.startswith(prefix)
            and "." not in key[len(prefix) :]
            and "iceberg" in (val or "").lower()
        ):
            out.add(key[len(prefix) :])
    return sorted(out)


def namespace_for_root(root: str) -> str:
    """Iceberg namespace derived from the checkpoint root so two
    Crawlers sharing one session (e.g. ``Crawler.loop``'s per-loop
    roots) get disjoint table spaces, mirroring ParquetTableIO's
    root-relative isolation (ADVICE r3: a fixed "walker" namespace let
    loop N's createOrReplace clobber loop N-1's tables and
    exists()/read leak across crawls). Sanitized-root suffix keeps it
    readable; the hash disambiguates roots that sanitize identically."""
    import hashlib

    safe_root = "".join(c if c.isalnum() else "_" for c in root.strip("/"))[
        -40:
    ].strip("_")
    digest = hashlib.sha256(root.encode()).hexdigest()[:8]
    return f"walker_{safe_root}_{digest}" if safe_root else f"walker_{digest}"


class IcebergTableIO:
    """Iceberg-backed TableIO: same interface as :class:`ParquetTableIO`
    with logical names mapped to catalog tables (``name`` path segments
    → a sanitized table identifier under ``<catalog>.<namespace>``).

    The manifest dance disappears — Iceberg commits are atomic — and
    :meth:`row_count` reads ``total-records`` from the current snapshot
    summary (the footer-walk equivalent, also zero Spark jobs). Only
    constructible when the session actually has an Iceberg catalog
    (:func:`make_table_io` guards this); this sandbox ships no Iceberg
    jar, so the class is exercised for selection logic only.
    """

    def __init__(
        self, spark: SparkSession, root: str, catalog: str, namespace: str | None = None
    ):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.namespace = namespace or namespace_for_root(root)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{self.namespace}")
        if namespace is None:
            self._warn_if_legacy_namespace()

    def _warn_if_legacy_namespace(self) -> None:
        """Checkpoint-compat guard: before the root-derived namespace
        existed, every checkpoint lived under the fixed ``walker``
        namespace. A pre-existing checkpoint there would silently look
        absent under the new derivation (``exists()`` False -> crawl
        restarts from scratch), so if OUR namespace is empty while the
        legacy one holds tables, warn loudly and name the override
        (``namespace='walker'``) instead of restarting silently."""
        import warnings

        if self.namespace == "walker":
            return
        try:
            ours = self.spark.sql(
                f"SHOW TABLES IN {self.catalog}.{self.namespace}"
            ).count()
            legacy_ns = [
                r[0]
                for r in self.spark.sql(f"SHOW NAMESPACES IN {self.catalog}").collect()
            ]
            if ours == 0 and "walker" in legacy_ns:
                legacy = self.spark.sql(f"SHOW TABLES IN {self.catalog}.walker").count()
                if legacy > 0:
                    warnings.warn(
                        f"Iceberg namespace {self.catalog}.{self.namespace} (derived "
                        f"from root {self.root!r}) is empty, but the legacy fixed "
                        f"namespace {self.catalog}.walker holds {legacy} table(s). "
                        "If this is a pre-existing checkpoint written before "
                        "root-derived namespaces, pass namespace='walker' to resume "
                        "it; otherwise the crawl will start fresh.",
                        stacklevel=3,
                    )
        except AnalysisException:
            pass  # a catalog that can't SHOW yet is a fresh catalog

    def _ident(self, name: str) -> str:
        safe = "".join(c if c.isalnum() else "_" for c in name.strip("/"))
        return f"{self.catalog}.{self.namespace}.{safe}"

    def path(self, name: str) -> str:
        # sidecar files (metrics.jsonl, manifest.json) stay filesystem
        return os.path.join(self.root, name)

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> str:
        ident = self._ident(name)
        w = df.writeTo(ident)
        if partition_by:
            from pyspark.sql.functions import col

            w = w.partitionedBy(*[col(c) for c in partition_by])
        w.createOrReplace()
        return ident

    def read(self, name: str) -> DataFrame:
        return self.spark.table(self._ident(name))

    def read_many(self, names: list[str]) -> DataFrame:
        dfs = [self.read(n) for n in names]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def row_count(self, name: str) -> int:
        rows = self.spark.sql(
            f"SELECT summary['total-records'] AS n FROM {self._ident(name)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(rows[0]["n"]) if rows else 0

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(name))


def make_table_io(
    spark: SparkSession, root: str, backend: str | None = None
) -> "ParquetTableIO | IcebergTableIO":
    """The parquet/Iceberg swap as a flag (VERDICT r2 next-round #6).

    ``backend``: ``parquet`` | ``iceberg`` | ``auto`` (default; also
    settable via ``SPARK_GRAFT_TABLE_BACKEND``). auto picks Iceberg iff
    the session has an Iceberg catalog configured; an explicit
    ``iceberg`` without one fails fast with setup instructions.
    """
    backend = backend or os.environ.get("SPARK_GRAFT_TABLE_BACKEND", "auto")
    cats = iceberg_catalogs(spark)
    if backend == "parquet":
        return ParquetTableIO(spark, root)
    if backend == "iceberg":
        if not cats:
            raise RuntimeError(
                "backend='iceberg' but no Iceberg catalog is configured on "
                "this session; add the iceberg-spark-runtime jar and set "
                "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
                "(+ its warehouse/type settings), or use backend='parquet'"
            )
        return IcebergTableIO(spark, root, cats[0])
    if backend == "auto":
        return IcebergTableIO(spark, root, cats[0]) if cats else ParquetTableIO(spark, root)
    raise ValueError(f"unknown table backend {backend!r}")
