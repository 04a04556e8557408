"""Lineage / metrics / checkpoint-resume (Iceberg-style tables as parquet).

Reproduces the reference's resumability model Spark-first (SURVEY.md §2.2
F5/F8, §2.9 K2/K3):

* lineage table — one row per scanned url: content hash, pattern version,
  status, run id. The reference's per-chunk status bookkeeping
  (``base_scan_service.py:902-972``) collapses to this, because Spark tasks
  are idempotent — only SCANNED-per-url matters for resume.
* resume — left ANTI-join of the input against lineage rows whose
  ``pattern_version`` is current (broadcast when small): exactly the
  reference's already-scanned dedup (``base_scan_service.py:431-447``) and
  its rescan-on-new-patterns trigger (``redis_tasks.py:174-260``: bumping
  ``EngineConfig.pattern_version`` invalidates old lineage).
* metrics table — per-partition docs scanned / kept, PII hits by category,
  drop reasons (``app/schemas/trends_info.py`` analogue).

These are plain parquet appends here; on a cluster the same code targets an
Iceberg catalog (``writeTo(...).append()``) for snapshot isolation.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def lineage_path(output_dir: str) -> str:
    return os.path.join(output_dir, "lineage")


def metrics_path(output_dir: str) -> str:
    return os.path.join(output_dir, "metrics")


LINEAGE_SCHEMA = (
    "url STRING, content_md5 STRING, pattern_version INT, status STRING, "
    "run_id STRING"
)


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame | None:
    path = lineage_path(output_dir)
    if not os.path.isdir(path):
        return None
    # explicit schema: an all-empty-appends lineage dir (e.g. every url
    # prefiltered) has no data files to infer from, but is still a table
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


def anti_join_completed(
    df: DataFrame,
    lineage: DataFrame | None,
    pattern_version: int,
    url_col: str = "url",
) -> DataFrame:
    """Drop urls already SCANNED with the current pattern version."""
    if lineage is None:
        return df
    done = (
        lineage.filter(
            (F.col("status") == "SCANNED")
            & (F.col("pattern_version") == pattern_version)
        )
        .select(F.col("url").alias(url_col))
        .distinct()
    )
    # No broadcast hint: lineage holds one row per scanned url, so after the
    # first full run it is CORPUS-cardinality, not metadata-sized — a forced
    # F.broadcast(done) would OOM the driver at 10^9+ urls. Left unhinted,
    # Catalyst broadcasts only while the done-set is under
    # autoBroadcastJoinThreshold and AQE re-plans at runtime from actual
    # shuffle sizes (including converting back to broadcast on the early,
    # small runs). Correctness is identical either way.
    return df.join(done, on=url_col, how="left_anti")


def deleted_urls(
    lineage: DataFrame | None, current: DataFrame, url_col: str = "url"
) -> DataFrame | None:
    """Deleted-object GC (reference F7, ``base_scan_service.py:746-771``):
    lineage urls that no longer exist at the source — the reverse anti-join
    of resume. Callers MERGE-delete these from downstream tables (Iceberg)
    or filter them at read time (plain parquet)."""
    if lineage is None:
        return None
    # both sides are url-only but corpus-sized: shuffle anti-join (AQE picks
    # broadcast if the source listing happens to be small)
    return (
        lineage.select(url_col)
        .distinct()
        .join(current.select(url_col).distinct(), on=url_col, how="left_anti")
    )


def gc_deleted_urls(
    spark: SparkSession,
    output_dir: str,
    deleted: DataFrame,
    tables: tuple[str, ...] = ("docs", "findings", "lineage"),
) -> dict[str, int]:
    """Apply the F7 GC set: remove every row whose url is in ``deleted``
    from the downstream tables (reference delete flow,
    ``base_scan_service.py:746-771``).

    On Iceberg this is a single ``MERGE``/``DELETE WHERE`` per table with
    snapshot isolation; plain parquet has no row deletes, so this is the
    rewrite equivalent: anti-join each table against the deleted set, write
    to a sibling temp dir, swap. The deleted set can be corpus-sized, so
    the anti-join is unhinted (planner/AQE pick the strategy). Idempotent:
    a second pass with the same source listing computes an empty set.

    Crash-safe swap order: the rewritten data lands in ``*_gc_tmp``; the
    live dir is renamed ASIDE to ``*_gc_old`` before tmp takes its place,
    and only then is ``_gc_old`` deleted — every interruption point leaves
    either the old or the new table under a recoverable name (the previous
    rmtree-then-rename order had a window where the table directory was
    simply gone). A leftover ``_gc_old`` from a prior crash is recovered
    (renamed back) if the live dir is missing, else discarded.

    Returns rows-removed per table. Missing tables are skipped; corrupt
    tables RAISE (silently skipping made GC report 0 removed on damage
    that needed attention).
    """
    import shutil

    removed: dict[str, int] = {}
    dele = deleted.select("url").distinct()
    for t in tables:
        path = os.path.join(output_dir, t)
        old = path + "_gc_old"
        if os.path.exists(old):
            if os.path.exists(path):
                shutil.rmtree(old)  # prior crash after swap: old is stale
            else:
                os.rename(old, path)  # prior crash mid-swap: recover
        if not os.path.exists(path):
            continue
        has_data = any(
            f.endswith(".parquet")
            for _r, _d, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        )
        if not has_data:
            # all-empty-appends partitioned table: nothing to GC and no
            # file to infer a schema from (corrupt tables still raise —
            # they have data files that fail to read)
            continue
        df = spark.read.parquet(path)
        before = df.count()
        kept = df.join(dele, "url", "left_anti")
        tmp = path + "_gc_tmp"
        writer = kept.write.mode("overwrite")
        if "run_id" in df.columns:
            # preserve the run_id-partitioned sink layout — a flat rewrite
            # would mix layouts with later partitioned appends and break
            # partition discovery
            writer = writer.partitionBy("run_id")
        writer.parquet(tmp)
        # explicit schema: a fully-GC'd partitioned table writes no data
        # files, and an empty dir can't be schema-inferred
        after = spark.read.schema(df.schema).parquet(tmp).count()
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        removed[t] = before - after
    return removed


def build_lineage(
    docs: DataFrame, pattern_version: int, run_id: str
) -> DataFrame:
    """One SCANNED row per processed url (md5 content hash per reference
    chunk-hash semantics, ``base_scan_service.py:233-247``). Expects the
    ``content_md5`` column the pipeline computed in its single pass."""
    return docs.select(
        "url",
        "content_md5",
        F.lit(pattern_version).alias("pattern_version"),
        F.lit("SCANNED").alias("status"),
        F.lit(run_id).alias("run_id"),
    )


METRICS_SCHEMA = (
    "partition_id INT, docs_scanned BIGINT, docs_kept BIGINT, "
    "drop_reasons MAP<STRING,BIGINT>, pii_hits MAP<STRING,BIGINT>, "
    "run_id STRING"
)


def build_metrics(docs: DataFrame, run_id: str) -> tuple[DataFrame, int]:
    """Per-partition metrics of one run's docs re-read — docs scanned/kept,
    drop reasons map, PII hits by category map — and the run's docs total.

    One grouped collect: a docs branch unioned with an exploded branch of
    the ``findings`` array, both keyed by ``spark_partition_id()`` of the
    same re-read, so a row's ``pii_hits`` count the findings of exactly the
    docs its ``docs_scanned`` counts. The maps are folded driver-side and
    the rows return through Arrow (no Python worker, no pickled RDD).
    """
    part = F.spark_partition_id().alias("_pid")
    null = F.lit(None).cast("string")
    counts = (
        docs.select(part, "keep", "drop_reason", null.alias("pii_type"))
        .unionByName(
            docs.select(
                part,
                F.lit(None).cast("boolean").alias("keep"),
                null.alias("drop_reason"),
                F.explode("findings.pii_type").alias("pii_type"),
            )
        )
        .groupBy("_pid", "keep", "drop_reason", "pii_type")
        .count()
        # bounded: <= partitions x (1 + drop reasons + PII types) rows,
        # independent of the doc count
        .collect()
    )
    agg: dict[int, dict] = {}
    for r in counts:
        m = agg.setdefault(
            r["_pid"],
            {"docs_scanned": 0, "docs_kept": 0, "drop_reasons": {}, "pii_hits": {}},
        )
        if r["pii_type"] is not None:
            m["pii_hits"][r["pii_type"]] = r["count"]
            continue
        m["docs_scanned"] += r["count"]
        if r["keep"]:
            m["docs_kept"] += r["count"]
        if r["drop_reason"] is not None:
            reasons = m["drop_reasons"]
            reasons[r["drop_reason"]] = reasons.get(r["drop_reason"], 0) + r["count"]
    rows = pd.DataFrame(
        [{"partition_id": pid, **m, "run_id": run_id} for pid, m in sorted(agg.items())],
        columns=["partition_id", "docs_scanned", "docs_kept", "drop_reasons",
                 "pii_hits", "run_id"],
    )
    spark = docs.sparkSession
    return spark.createDataFrame(rows, METRICS_SCHEMA), int(rows["docs_scanned"].sum())
