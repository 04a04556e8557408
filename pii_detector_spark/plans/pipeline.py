"""End-to-end quality-filter + scrub pipeline (the reference's §3.1 scan job
as one declarative DataFrame plan).

Stage order and the reasoning at 100 TB:

1. scan + pre-filters     — predicates push into the parquet/Iceberg scan
2. resume anti-join       — broadcast; removes already-SCANNED urls
3. fused document UDF     — extraction + quality metrics + langid +
                            perplexity + keep/drop + gated scrub in ONE
                            Arrow round trip (operators/fused.py), running
                            inside the scan stage at split granularity; the
                            html/text payload never shuffles and crosses
                            the JVM↔Python boundary exactly once
4. sinks                  — docs parquet written in the SAME single pass
                            (findings ride along as an array column);
                            findings/lineage/metrics derive from a cheap
                            columnar re-read of the docs output, so the UDF
                            runs exactly once per document per pattern
                            version. Output coalesced to ~4 files/core so
                            the driver-serial commit never dominates.

The only wide exchange in the job is the one metrics aggregation over the
(tiny) per-partition counters.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pii_detector_spark.config import DEFAULT_CONFIG, EngineConfig
from pii_detector_spark.operators.fused import with_fused_processing
from pii_detector_spark.operators.scrub import findings_table
from pii_detector_spark.plans import checkpoint
from pii_detector_spark.sources.web_pages import (
    apply_prefilters,
    read_web_pages,
)

DOC_COLUMNS = [
    "url",
    "warc_ts",
    "lang",
    "lang_pred",
    "perplexity",
    "n_words",
    "n_lines",
    "n_chars",
    "mean_word_len",
    "symbol_ratio",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "alpha_word_frac",
    "dup_line_frac",
    "stopword_hits",
    "has_toxic_word",
    "keep",
    "drop_reason",
    "is_phi",
    "scrubbed_text",
    "n_findings",
    "content_md5",
]


def transform_web_pages(
    df: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    extract_html: bool = True,
    prefilter: bool = True,
) -> DataFrame:
    """The full logical plan, scan → scrub, as a reusable transformation.

    The whole per-document chain (extract → metrics → langid → decide →
    gated scrub) runs as ONE fused pandas UDF (``operators/fused.py``): one
    Arrow round trip and one Python worker per task — the property that
    keeps N→4N scaling efficiency ≥0.8. The composable per-stage operators
    remain available for ad-hoc plans and the driver's SQL-oracle queries.
    ``extract_html=False`` skips HTML extraction by nulling the html column
    (the fused UDF falls back to the text column).
    """
    if prefilter:
        df = apply_prefilters(df)
    if not extract_html:
        df = df.withColumn("html", F.lit(None).cast("binary"))
    return with_fused_processing(df, config.quality)


def docs_table_schema():
    """Explicit schema of the ``docs`` output table (run_id + DOC_COLUMNS +
    findings). Every re-read of the partitioned docs table MUST pass this:
    a run whose appends were all empty leaves ``run_id=`` partition dirs
    with no data files, and schema inference then fails with
    UNABLE_TO_INFER_SCHEMA (flat empty writes used to emit a
    schema-bearing file; partitioned ones do not)."""
    from pyspark.sql.types import (
        StructField,
        StructType,
        StringType,
        TimestampType,
        LongType,
        ArrayType,
    )

    from pii_detector_spark.operators.fused import (
        FINDING_TYPE,
        FUSED_RESULT_TYPE,
    )

    fused = {f.name: f.dataType for f in FUSED_RESULT_TYPE.fields}
    base = {
        "url": StringType(),
        "warc_ts": TimestampType(),
        "lang": StringType(),
        "n_findings": LongType(),
    }
    fields = [StructField("run_id", StringType())]
    for c in DOC_COLUMNS:
        fields.append(StructField(c, fused.get(c) or base[c]))
    fields.append(StructField("findings", ArrayType(FINDING_TYPE)))
    return StructType(fields)


def read_docs_table(spark: SparkSession, output_dir: str) -> DataFrame:
    """Schema-explicit read of the docs table (see ``docs_table_schema``)."""
    return spark.read.schema(docs_table_schema()).parquet(
        os.path.join(output_dir, "docs")
    )


def _commits_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_commits")


def _marker_path(output_dir: str, run_id: str) -> str:
    from urllib.parse import quote

    return os.path.join(_commits_dir(output_dir), quote(run_id, safe=""))


def mark_run_committed(output_dir: str, run_id: str) -> None:
    """Atomic run-commit marker, written after ALL four sinks land.

    On Iceberg the four appends would be one atomic multi-table commit;
    plain parquet has no transactions, so the marker file plays the
    manifest role: a run_id partition without a marker is a crashed,
    partially-written run and is removed by ``heal_uncommitted_runs``
    before the next run reads anything."""
    os.makedirs(_commits_dir(output_dir), exist_ok=True)
    tmp = _marker_path(output_dir, run_id) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(run_id)
    os.replace(tmp, _marker_path(output_dir, run_id))


def run_committed(output_dir: str, run_id: str) -> bool:
    return os.path.exists(_marker_path(output_dir, run_id))


HEALED_TABLES = ("docs", "findings", "lineage", "metrics")


def heal_single_run(output_dir: str, run_id: str) -> list[str]:
    """Remove THIS run_id's partition dirs if its commit marker is absent
    — the O(tables) self-heal a foreachBatch body can afford per batch
    (vs ``heal_uncommitted_runs``' marker check per run ever written).
    Returns the tables healed.

    The partition dir is located by LISTING and unquoting, not by
    re-deriving the name: Spark's partition escaping differs from urllib
    quote (a run_id ``run 1+x`` is written as ``run_id=run 1+x``, while
    ``quote`` would produce ``run_id=run%201%2Bx``), so name derivation
    silently misses partitions for run ids containing spaces/'+'/'('.
    Unquoting the listed name inverts Spark's %XX escaping exactly (and
    leaves unescaped chars alone), matching ``heal_uncommitted_runs``."""
    import shutil
    from urllib.parse import unquote

    if run_committed(output_dir, run_id):
        return []
    healed = []
    for t in HEALED_TABLES:
        tdir = os.path.join(output_dir, t)
        if not os.path.isdir(tdir):
            continue
        for e in os.listdir(tdir):
            if not e.startswith("run_id="):
                continue
            if unquote(e.split("=", 1)[1]) != run_id:
                continue
            d = os.path.join(tdir, e)
            if os.path.isdir(d):
                shutil.rmtree(d)
                healed.append(t)
    return healed


def heal_uncommitted_runs(
    spark: SparkSession,
    output_dir: str,
    tables: tuple[str, ...] = HEALED_TABLES,
) -> dict[str, list[str]]:
    """Remove ``run_id=X`` partition directories whose X has no commit
    marker — the file-level GC that makes every crash point leave readable,
    consistent tables (no row rewrites: each run's rows live only in its
    own partition directory, so deleting a crashed run is an O(files)
    directory remove, valid at any table size).

    Crash matrix (kill at any point of ``write_run_outputs``):
    * mid docs/findings/lineage/metrics write — Spark's output committer
      leaves only ``_temporary`` residue (ignored by readers) and/or a
      committed partition dir; the run has no marker, so every partition
      dir for it is removed here and the rerun reprocesses those urls.
    * after the marker — the run is complete; rerun resumes to a no-op.

    Returns {table: [removed run_ids]}.
    """
    import shutil
    from urllib.parse import unquote

    removed: dict[str, list[str]] = {}
    for t in tables:
        path = os.path.join(output_dir, t)
        if not os.path.isdir(path):
            continue
        entries = os.listdir(path)
        flat = [
            e
            for e in entries
            if not e.startswith(("_", "."))
            and not e.startswith("run_id=")
            and os.path.isfile(os.path.join(path, e))
        ]
        if flat:
            # a pre-r4 flat-layout table: appending run_id= dirs beside
            # root data files would break partition discovery — refuse
            # with a migration recipe instead of corrupting the table
            raise RuntimeError(
                f"table '{t}' at {path} has flat-layout data files "
                f"({flat[:3]}…); migrate once before resuming: read it, "
                f"write.partitionBy('run_id') to a sibling dir, swap"
            )
        for d in entries:
            if not d.startswith("run_id="):
                continue
            rid = unquote(d.split("=", 1)[1])
            if not run_committed(output_dir, rid):
                shutil.rmtree(os.path.join(path, d))
                removed.setdefault(t, []).append(rid)
    return removed


def write_run_outputs(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    run_id: str,
    pattern_version: int,
) -> int:
    """Write the four sinks (docs / findings / lineage / metrics) for one
    processed batch of fused-UDF output; returns docs written.

    Shared by the batch job (`run_pipeline`) and the Structured Streaming
    job (`streaming/incremental.incremental_pipeline` via foreachBatch) —
    the microbatch DataFrame goes through the identical sink path, so both
    runtimes produce the same tables.
    """
    docs = docs.withColumn("run_id", F.lit(run_id))
    docs_path = os.path.join(output_dir, "docs")
    findings_path = os.path.join(output_dir, "findings")

    # output sizing: one file per final partition — cap at ~4 files/core so
    # the (driver-serial) commit protocol doesn't become the Amdahl tail
    # while tasks stay balanced. coalesce (not repartition): no shuffle of
    # the wide text/findings columns; the UDF stage simply runs on the
    # merged splits.
    n_out = 4 * spark.sparkContext.defaultParallelism
    docs = docs.coalesce(n_out)

    # single computation pass → docs parquet (findings array rides along).
    # All four sinks partition by run_id: each run's rows live in their own
    # directory, so (a) a crashed run is removable file-level with no table
    # rewrite (heal_uncommitted_runs), (b) the re-reads below and every
    # downstream run_id filter get partition pruning.
    out_docs = docs.select("run_id", *DOC_COLUMNS, "findings")
    out_docs.write.mode("append").partitionBy("run_id").parquet(docs_path)

    # everything downstream reads the columnar output back — no UDF re-run.
    # Explicit schema: a run whose every append was empty leaves partition
    # dirs with no data files to infer from (partitioned empty writes emit
    # nothing, unlike flat writes).
    this_run = (
        spark.read.schema(out_docs.schema)
        .parquet(docs_path)
        .filter(F.col("run_id") == run_id)
    )

    findings = findings_table(
        this_run.filter(F.col("findings").isNotNull()).select("url", "findings")
    ).withColumn("run_id", F.lit(run_id))

    # findings and lineage derive independently from the same columnar
    # re-read and write to DIFFERENT tables: submit them from two driver
    # threads so the second job's tasks back-fill executors freed by the
    # first job's tail (guide §2.6 — actions are only sequential because
    # driver code calls them sequentially). Failures propagate via
    # .result(); the commit marker below still follows BOTH writes.
    from concurrent.futures import ThreadPoolExecutor

    def _write_findings() -> None:
        findings.write.mode("append").partitionBy("run_id").parquet(
            findings_path
        )

    def _write_lineage() -> None:
        checkpoint.build_lineage(
            this_run, pattern_version, run_id
        ).write.mode("append").partitionBy("run_id").parquet(
            checkpoint.lineage_path(output_dir)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_write_findings), pool.submit(_write_lineage)]
        for f in futs:
            f.result()

    # one aggregation over the docs re-read; its driver-side rows also give
    # docs_written, so the docs output needs no separate count() scan
    metrics_df, n_docs = checkpoint.build_metrics(this_run, run_id)
    metrics_df.write.mode("append").partitionBy("run_id").parquet(
        checkpoint.metrics_path(output_dir)
    )
    # all four sinks landed: commit the run (any kill before this line
    # leaves an unmarked run that heal_uncommitted_runs removes wholesale),
    # then publish it in the snapshot log (a kill between the two commit
    # points is healed by catch_up_snapshots on the next run)
    mark_run_committed(output_dir, run_id)
    from pii_detector_spark.plans.snapshots import commit_run_snapshot

    commit_run_snapshot(output_dir, run_id)
    return n_docs


def _sig_ddl(num_hashes: int) -> str:
    mh = ", ".join(f"mh_{i} STRING" for i in range(num_hashes))
    return (
        f"doc_id STRING, {mh}, shingle_hashes ARRAY<BIGINT>, "
        "content_md5 STRING, run_id STRING"
    )


_PAIRS_DDL = (
    "id_a STRING, id_b STRING, jaccard DOUBLE, md5_a STRING, md5_b STRING, "
    "run_id STRING"
)


_PAIRED_DDL = "url STRING, content_md5 STRING"


def _read_or_empty(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    if os.path.isdir(path):
        return spark.read.schema(ddl).parquet(path)
    return spark.createDataFrame([], ddl)


def _swap_in(path: str, tmp: str) -> None:
    """Crash-safe table replace (same aside-rename order as the GC swap:
    every interruption point leaves old or new under a recoverable
    name)."""
    import shutil

    old = path + "_swap_old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def _recover_swap(path: str) -> None:
    """Undo a crash that happened mid-``_swap_in``."""
    old = path + "_swap_old"
    if os.path.exists(old):
        if os.path.exists(path):
            import shutil

            shutil.rmtree(old)
        else:
            os.rename(old, path)


def incremental_near_dedup(
    spark: SparkSession,
    output_dir: str,
    run_id: str,
    text_col: str = "scrubbed_text",
    shingle_n: int = 5,
    threshold: float = 0.7,
    num_hashes: int = 12,
    bands: int = 4,
    max_iter: int = 50,
) -> None:
    """Delta-mode keep-one near-dedup: shingle/minhash ONLY the docs with
    no CONTENT-VALID signature (anti-join against the signature table
    keyed on (url, content_md5) — this run's docs, pre-flag backlog, and
    any doc whose content changed since it was signed), band-join them
    against the stored signatures (new x all, never all x all
    re-shingling), append the new pairs, and rebuild components/canonical
    from the accumulated (metadata-sized) pair set. The url-keyed
    anti-join is the same cost class as the resume anti-join the pipeline
    already pays.

    Tables under ``output_dir``:

    * ``signatures``   — append-only (doc_id=url, mh_*, shingle_hashes,
                         content_md5, run_id). Zero-shingle docs (dropped
                         or too short) get TOMBSTONE rows (empty hash set)
                         so the unsigned backlog stays O(delta) instead of
                         re-shingling them every run. Rows whose
                         content_md5 no longer matches the docs table are
                         ignored on read (staleness by construction).
    * ``neardup_pairs`` — append-only (id_a, id_b, jaccard, md5_a, md5_b,
                         run_id); on read, pairs with a stale endpoint are
                         filtered out, and re-signed docs contribute fresh
                         new x all pairs — so the live pair set equals full
                         recompute exactly.
    * ``paired_sigs``  — the PAIRING-COVERAGE snapshot: the (url,
                         content_md5) set that was visible when pairs were
                         last successfully rebuilt, swap-replaced (crash-
                         safe) at the END of each run. A valid signature
                         absent from the snapshot — newly signed, signed
                         during a crash window, or INVISIBLE at the last
                         rebuild (url GC'd then resurrected; content
                         reverted to a previously-signed version) — is
                         re-paired new x all, so coverage is exact at
                         per-signature granularity.
    * ``neardup`` / ``docs_deduped`` — rewritten from the pair set, same
                         schema/semantics as the full ``dedup_near`` path.

    Crash safety: reruns re-append and every read dedupes on key; the
    ``paired_sigs`` snapshot commits only after the pairs append and the
    derived rewrites, so a crash anywhere in between leaves those
    signatures uncovered and the next run recomputes their pairs
    (identical rows, deduped on read).

    Parity with ``mark_near_duplicate_docs`` (full recompute) is pinned by
    the pipeline pytest and the ``minhash_delta`` oracle; the only
    divergence channel is an xxhash64 shingle collision (~2^-64 per
    shingle pair).

    Assumes the docs table carries ONE content per url — the resume
    contract guarantees it within a pattern version; after a pattern bump,
    GC the historical rows (or use a fresh output dir) before deduping,
    exactly as with ``dedup_near`` (both modes read the raw docs table, so
    they stay equal either way).

    Reference analogue: F8 incremental chunk recompute,
    ``app/services/base_scan_service.py:643-731``.
    """
    from pii_detector_spark.operators import delta_dedup
    from pii_detector_spark.operators.clusters import canonicalize

    docs_path = os.path.join(output_dir, "docs")
    sig_path = os.path.join(output_dir, "signatures")
    pairs_path = os.path.join(output_dir, "neardup_pairs")
    paired_path = os.path.join(output_dir, "paired_sigs")
    neardup_path = os.path.join(output_dir, "neardup")
    deduped_path = os.path.join(output_dir, "docs_deduped")
    sig_ddl = _sig_ddl(num_hashes)
    _recover_swap(paired_path)
    _recover_swap(neardup_path)
    _recover_swap(deduped_path)

    # explicit schema: a run whose appends were all empty (e.g. every url
    # prefiltered on a fresh output dir) leaves the partitioned docs table
    # with no data files to infer from
    written = read_docs_table(spark, output_dir)
    # cur feeds ~6 joins across 4 independent actions — persist once so
    # each action doesn't re-scan the docs table for the metadata columns
    from pyspark import StorageLevel

    cur = (
        written.select("url", "content_md5")
        .dropDuplicates()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cur_keyed = cur.select(F.col("url").alias("doc_id"), "content_md5")
    try:

        def valid_sigs(df: DataFrame) -> DataFrame:
            # a signature is live iff the docs table still carries that exact
            # (url, content) — changed/rescanned docs fall back into the
            # unsigned backlog and stale rows become invisible
            return df.join(
                cur_keyed, ["doc_id", "content_md5"], "left_semi"
            ).dropDuplicates(["doc_id"])

        signed = valid_sigs(_read_or_empty(spark, sig_path, sig_ddl))
        new_docs = written.join(
            signed.select(F.col("doc_id").alias("url")), "url", "left_anti"
        )
        sig_real = delta_dedup.minhash_signatures(
            new_docs,
            id_col="url",
            text_col=text_col,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
        ).join(cur_keyed, "doc_id")
        # tombstones for zero-shingle docs: signed-with-empty-set, never banded
        tomb = (
            new_docs.join(
                sig_real.select(F.col("doc_id").alias("url")), "url", "left_anti"
            )
            .select(
                F.col("url").alias("doc_id"),
                *[
                    F.lit(None).cast("string").alias(f"mh_{i}")
                    for i in range(num_hashes)
                ],
                F.array().cast("array<long>").alias("shingle_hashes"),
                "content_md5",
            )
            .dropDuplicates(["doc_id"])
        )
        sig_real.unionByName(tomb).withColumn(
            "run_id", F.lit(run_id)
        ).write.mode("append").partitionBy("run_id").parquet(sig_path)

        # pairing coverage at per-signature granularity: any valid signature
        # absent from the last successful run's paired_sigs snapshot needs its
        # new x all pairs — newly signed, signed during a crash window, or
        # invisible at the last rebuild (GC'd-then-resurrected url, content
        # reverted to a previously-signed version)
        paired = _read_or_empty(spark, paired_path, _PAIRED_DDL).select(
            F.col("url").alias("doc_id"), "content_md5"
        )
        all_sigs = valid_sigs(spark.read.schema(sig_ddl).parquet(sig_path))
        new_sigs = all_sigs.join(
            paired, ["doc_id", "content_md5"], "left_anti"
        )
        pairs_delta = (
            delta_dedup.minhash_pairs_delta(
                all_sigs, new_sigs, num_hashes, bands, threshold
            )
            .join(
                cur.select(F.col("url").alias("id_a"), F.col("content_md5").alias("md5_a")),
                "id_a",
            )
            .join(
                cur.select(F.col("url").alias("id_b"), F.col("content_md5").alias("md5_b")),
                "id_b",
            )
            .withColumn("run_id", F.lit(run_id))
        )
        pairs_delta.write.mode("append").partitionBy("run_id").parquet(pairs_path)

        # live pairs: both endpoints' content must still be current
        all_pairs = (
            spark.read.schema(_PAIRS_DDL)
            .parquet(pairs_path)
            .join(
                cur.select(F.col("url").alias("id_a"), F.col("content_md5").alias("md5_a")),
                ["id_a", "md5_a"],
                "left_semi",
            )
            .join(
                cur.select(F.col("url").alias("id_b"), F.col("content_md5").alias("md5_b")),
                ["id_b", "md5_b"],
                "left_semi",
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        marked = canonicalize(
            written, all_pairs, id_col="url", id_a="id_a", id_b="id_b",
            max_iter=max_iter,
        )
        # crash-safe rewrites: a plain in-place overwrite deletes the old
        # dir before writing, so a mid-rewrite crash would leave the
        # derived tables missing/partial; write aside + _swap_in keeps
        # every crash point readable (same discipline as paired_sigs)
        tmp_nd = neardup_path + "_tmp"
        marked.select("url", "component", "is_canonical").write.mode(
            "overwrite"
        ).parquet(tmp_nd)
        _swap_in(neardup_path, tmp_nd)
        canon = (
            spark.read.parquet(neardup_path)
            .filter(F.col("is_canonical"))
            .select("url")
        )
        tmp_dd = deduped_path + "_tmp"
        written.join(canon, "url", "left_semi").write.mode(
            "overwrite"
        ).parquet(tmp_dd)
        _swap_in(deduped_path, tmp_dd)
        # commit pairing coverage LAST: the snapshot of every (url, content)
        # visible in this successful rebuild, swap-replaced crash-safely
        tmp = paired_path + "_tmp"
        all_sigs.select(F.col("doc_id").alias("url"), "content_md5").write.mode(
            "overwrite"
        ).parquet(tmp)
        _swap_in(paired_path, tmp)
    finally:
        cur.unpersist()


@dataclass
class PipelineResult:
    docs_path: str
    findings_path: str
    lineage_path: str
    metrics_path: str
    docs_written: int


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    run_id: str = "run-0",
    resume: bool = True,
    extract_html: bool = True,
    gc_deleted: bool = False,
    dedup_near: bool = False,
    dedup_delta: bool = False,
    dedup_max_iter: int = 50,
    heartbeat_interval_s: float | None = None,
) -> PipelineResult:
    """``_run_pipeline_impl`` plus the K5 instance heartbeat: when
    ``heartbeat_interval_s`` is set, a driver-side thread appends liveness
    rows to ``<output_dir>/heartbeat`` for the duration of the run
    (``plans/heartbeat.py``; reference analogue ``customer_worker.py:
    92-100``). The final ``alive=false`` row is written even when the run
    raises — a monitor distinguishes crash (stale beat / no clean row +
    missing ``_commits`` marker) from completion."""
    kwargs = dict(
        config=config,
        run_id=run_id,
        resume=resume,
        extract_html=extract_html,
        gc_deleted=gc_deleted,
        dedup_near=dedup_near,
        dedup_delta=dedup_delta,
        dedup_max_iter=dedup_max_iter,
    )
    if heartbeat_interval_s is None:
        return _run_pipeline_impl(spark, input_path, output_dir, **kwargs)
    from pii_detector_spark.plans.heartbeat import Heartbeat

    with Heartbeat(spark, output_dir, run_id, heartbeat_interval_s):
        return _run_pipeline_impl(spark, input_path, output_dir, **kwargs)


def _run_pipeline_impl(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    run_id: str = "run-0",
    resume: bool = True,
    extract_html: bool = True,
    gc_deleted: bool = False,
    dedup_near: bool = False,
    dedup_delta: bool = False,
    dedup_max_iter: int = 50,
) -> PipelineResult:
    """Batch scan job with checkpoint-resume; rerunning after a partial or
    complete prior run processes only not-yet-SCANNED urls (idempotent).

    ``gc_deleted=True`` additionally applies F7 deleted-object GC after the
    run: lineage urls absent from the current source listing are MERGE-
    deleted (parquet-rewrite equivalent) from docs/findings/lineage, so a
    url deleted at the source disappears downstream and would be rescanned
    if it ever reappears.

    ``dedup_delta=True`` is the incremental variant: only THIS run's docs
    are shingled/minhashed; their signatures append to a persisted
    ``signatures`` table and band-join against it (new x all), so a rerun
    with 1% new docs does ~1% of the dedup work while the final
    ``neardup``/``docs_deduped`` tables stay byte-equal to full recompute
    (see ``incremental_near_dedup``).

    ``dedup_near=True`` runs the keep-one near-dup pass AFTER the docs sink
    (MinHash-LSH pairs over scrubbed_text → connected components →
    canonical per cluster, ``operators/clusters.py``) over a cheap columnar
    re-read — the fused UDF never re-runs — and writes two additive tables:
    ``docs_deduped`` (kept docs only, same schema) and ``neardup``
    (url, component, is_canonical). The primary ``docs`` table is left
    complete so downstream consumers choose raw vs deduped."""
    # remove partitions of any previously-crashed (unmarked) run BEFORE
    # reading lineage — their urls then resume as unprocessed — and pull
    # marker-committed runs a crash left out of the snapshot log back in
    heal_uncommitted_runs(spark, output_dir)
    from pii_detector_spark.plans.snapshots import catch_up_snapshots

    catch_up_snapshots(output_dir)

    raw = apply_prefilters(read_web_pages(spark, input_path))
    pending = raw
    lineage = None
    if resume or gc_deleted:
        lineage = checkpoint.read_lineage(spark, output_dir)
    if resume:
        pending = checkpoint.anti_join_completed(
            raw, lineage, config.pattern_version
        )

    docs = transform_web_pages(
        pending, config, extract_html=extract_html, prefilter=False
    )

    n = write_run_outputs(spark, docs, output_dir, run_id, config.pattern_version)

    if gc_deleted and lineage is not None:
        deleted = checkpoint.deleted_urls(lineage, raw)
        if deleted is not None:
            checkpoint.gc_deleted_urls(spark, output_dir, deleted)

    if dedup_delta:
        incremental_near_dedup(
            spark, output_dir, run_id, max_iter=dedup_max_iter
        )
    elif dedup_near:
        from pii_detector_spark.operators.clusters import (
            mark_near_duplicate_docs,
        )

        neardup_path = os.path.join(output_dir, "neardup")
        deduped_path = os.path.join(output_dir, "docs_deduped")
        _recover_swap(neardup_path)
        _recover_swap(deduped_path)
        written = read_docs_table(spark, output_dir)
        marked = mark_near_duplicate_docs(
            written, url_col="url", text_col="scrubbed_text",
            max_iter=dedup_max_iter,
        )
        tmp_nd = neardup_path + "_tmp"
        marked.select("url", "component", "is_canonical").write.mode(
            "overwrite"
        ).parquet(tmp_nd)
        _swap_in(neardup_path, tmp_nd)
        # derive the kept set from the just-written (narrow) table instead
        # of re-evaluating the pair/component stages a second time
        canon = (
            spark.read.parquet(neardup_path)
            .filter(F.col("is_canonical"))
            .select("url")
        )
        tmp_dd = deduped_path + "_tmp"
        written.join(canon, "url", "left_semi").write.mode(
            "overwrite"
        ).parquet(tmp_dd)
        _swap_in(deduped_path, tmp_dd)

    return PipelineResult(
        docs_path=os.path.join(output_dir, "docs"),
        findings_path=os.path.join(output_dir, "findings"),
        lineage_path=checkpoint.lineage_path(output_dir),
        metrics_path=checkpoint.metrics_path(output_dir),
        docs_written=n,
    )
