"""Iceberg table adapter — the catalog-aware path for audit and metrics
state, with the parquet-directory shim as the jar-free fallback.

The engine's storage contract (audit and metrics-repository appends keyed
by run_id; deleting one run's metric rows) maps onto Iceberg as
`writeTo(...).append()` and `DELETE WHERE run_id = ...`. This sandbox ships
no Iceberg runtime jars, so the adapter is split exactly at the jar
boundary:

- **dispatch + SQL generation** are real and unit-tested (a catalog is
  detected from `spark.sql.catalog.<name>` conf; the emitted DELETE
  statement is asserted verbatim);
- **execution** routes through the catalog when one is configured and
  through the parquet shim otherwise (append = parquet append).

With `--packages org.apache.iceberg:iceberg-spark-runtime-...` and a
catalog conf, the catalog path activates without code changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


# keyed by (applicationId, context startTime) — NOT id(spark): a
# garbage-collected session's id can be reused by a new session, which
# would inherit a stale probe result. Bounded: old sessions' entries are
# evicted once the cache outgrows any realistic session count.
_CATALOG_CACHE: dict[tuple[str, int], list[str]] = {}
_CATALOG_CACHE_MAX = 16


def _session_key(spark: SparkSession) -> tuple[str, int] | None:
    try:
        sc = spark.sparkContext
        return (sc.applicationId, sc.startTime)
    except Exception:  # pragma: no cover - stopped session mid-probe
        return None


def iceberg_catalogs(
    spark: SparkSession, confs: dict | None = None, refresh: bool = False
) -> list[str]:
    """Names of configured Iceberg catalogs (``spark.sql.catalog.<name>``
    pointing at an Iceberg SparkCatalog/SparkSessionCatalog class).
    ``confs`` overrides the session conf for unit-testing the detection
    rule without a catalog-configured session.

    The session probe (context conf + SET for runtime-set keys) costs
    ~100 ms, so the result is CACHED per session — catalogs configured
    after the first probe need ``refresh=True`` (or configuration before
    first storage use, the normal deployment order)."""
    out = []
    cache_key = None
    if confs is None:
        cache_key = _session_key(spark)
        if cache_key is not None and not refresh and cache_key in _CATALOG_CACHE:
            return _CATALOG_CACHE[cache_key]
        try:
            confs = dict(spark.sparkContext.getConf().getAll())
            # runtime-set confs (spark.conf.set after session start) are NOT
            # in the context conf — merge the explicitly-set SQL confs too,
            # or a notebook-configured catalog would silently go undetected
            for r in spark.sql("SET").collect():
                confs.setdefault(r["key"], r["value"])
        except Exception:  # pragma: no cover - conf always reachable in practice
            confs = confs if isinstance(confs, dict) else {}
    for k, v in list(confs.items()):
        # catalog keys are spark.sql.catalog.<name> (3 dots); deeper keys
        # (…<name>.type etc) configure, not declare, a catalog
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and "iceberg" in str(v).lower():
            out.append(k.rsplit(".", 1)[1])
    result = sorted(set(out))
    if cache_key is not None:  # cache only the session-probe path
        while len(_CATALOG_CACHE) >= _CATALOG_CACHE_MAX:
            _CATALOG_CACHE.pop(next(iter(_CATALOG_CACHE)))
        _CATALOG_CACHE[cache_key] = result
    return result


def is_table_identifier(path_or_name: str, catalogs: list[str] | None = None) -> bool:
    """The storage dispatch rule: a catalog table identifier is dotted
    (``catalog.db.table``) with no path separators or file suffixes. The
    dot is REQUIRED — a bare relative directory name like ``audit_out``
    must keep routing to the filesystem even when a catalog happens to be
    configured (misrouting it to ``writeTo`` would fail every local
    workflow that worked before the catalog appeared).

    With ``catalogs`` supplied (the execution route always supplies it —
    ``routes_to_catalog``), the first dotted component must be a CONFIGURED
    catalog name: a whitelist, so a relative filesystem target like
    ``audit.json`` or ``out.db`` can never silently route to ``writeTo``
    just because some catalog exists and the suffix isn't on a blacklist.

    One deliberate exception: when ``spark_catalog`` itself is configured
    as an Iceberg ``SparkSessionCatalog`` (the standard way to make the
    SESSION catalog Iceberg-aware), a TWO-part identifier ``db.table``
    resolves through it — so it routes to the catalog too, as it did for
    every Spark SQL statement before this dispatch existed. File-shaped
    one-dot names keep filesystem routing via the suffix guard; a
    relative data file with an exotic suffix under a session catalog
    must be written as an explicit path (``./out.db``) — the ``/`` forces
    filesystem routing."""
    if (
        "/" in path_or_name
        or "." not in path_or_name
        or path_or_name.endswith(
            (".parquet", ".csv", ".tsv", ".json", ".jsonl", ".txt", ".orc", ".avro")
        )
    ):
        return False
    if catalogs is not None:
        if path_or_name.split(".", 1)[0] in catalogs:
            return True
        # db.table under an Iceberg-aware session catalog
        return "spark_catalog" in catalogs and path_or_name.count(".") == 1
    return True


def routes_to_catalog(spark: SparkSession, target: str) -> bool:
    """True when ``target`` should execute against an Iceberg catalog:
    shaped like an identifier AND its first component names a catalog
    configured on this session. A path never routes to a catalog, so it
    skips the session probe."""
    return is_table_identifier(target) and is_table_identifier(
        target, catalogs=iceberg_catalogs(spark)
    )


def _q_table(table: str) -> str:
    """Backtick-quote each part of a table identifier — user-supplied
    table names must never parse as SQL."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in table.split("."))


def delete_run_sql(table: str, run_id: str) -> str:
    """The one-run delete statement (``MetricsRepository.delete_run``'s
    catalog form)."""
    safe = run_id.replace("'", "''")
    return f"DELETE FROM {_q_table(table)} WHERE run_id = '{safe}'"


def append_rows(spark: SparkSession, df: DataFrame, target: str) -> None:
    """Append ``df`` to ``target``: Iceberg table append when ``target`` is
    a catalog identifier and a catalog is configured, else parquet-dir
    append (the shim used throughout this sandbox)."""
    if routes_to_catalog(spark, target):
        # first-ever append must CREATE the table — append() alone throws
        # NoSuchTableException on a fresh catalog
        if spark.catalog.tableExists(target):
            df.writeTo(target).append()
        else:
            df.writeTo(target).create()
    else:
        df.write.mode("append").parquet(target)
