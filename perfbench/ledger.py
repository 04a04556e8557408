"""The per-layer ledger: spans recorded around the program's public
functions, Spark status-store counters, and out-of-run probes.

Nothing here is active in an untraced run. A traced run patches the module
attributes ``run_pipeline`` resolves at call time (``instrument``), so each
span opens and closes around one call into a layer; spans stay in memory
and are summarised when the run ends. A layer's self time is its span's
duration minus the union of the intervals its child spans cover.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover (children
    may overlap one another, e.g. writes submitted from two threads)."""
    clipped = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return span.duration - union_length([(s, e) for s, e in clipped if s < e])


class Tracer:
    """In-memory spans. A span's parent is the innermost open span of the
    same thread; a thread with no open span (a pool thread the program
    starts) is parented to the innermost open span of the main thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.main_thread().ident

    @contextlib.contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            parents = stack or self._stacks.get(self._main, [])
            idx = len(self.spans)
            self.spans.append(Span(name, 0.0, 0.0, parents[-1] if parents else None))
            stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            with self._lock:
                self.spans[idx].start, self.spans[idx].end = start, end
                stack.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _patch(patches: list, owner, attr: str, wrapper_for) -> None:
    orig = getattr(owner, attr)
    patches.append((owner, attr, orig))
    setattr(owner, attr, wrapper_for(orig))


@contextlib.contextmanager
def instrument(tracer: Tracer, sc):
    """Wrap the public functions ``run_pipeline`` calls with spans for the
    duration of the block. Spark actions issued inside a span that writes a
    table or builds the metrics carry the span name as job description, so
    the status store can attribute stages to it."""
    from pyspark.sql import DataFrame, DataFrameWriter

    from pii_detector_spark.plans import checkpoint, pipeline, snapshots

    def spanned(name, described=False):
        def wrapper_for(fn):
            def wrapper(*args, **kwargs):
                label = name(*args, **kwargs) if callable(name) else name
                with tracer.span(label):
                    if not described:
                        return fn(*args, **kwargs)
                    prev = sc.getLocalProperty("spark.job.description")
                    sc.setJobDescription(label)
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        sc.setJobDescription(prev)

            return wrapper

        return wrapper_for

    def table_of(_writer, path, *a, **k):
        return "pipeline.write." + os.path.basename(os.path.normpath(path))

    targets = [
        (pipeline, "heal_uncommitted_runs", spanned("checkpoint.heal")),
        (snapshots, "catch_up_snapshots", spanned("snapshots.catch_up")),
        (pipeline, "read_web_pages", spanned("sources.read")),
        (pipeline, "apply_prefilters", spanned("sources.prefilter")),
        (checkpoint, "read_lineage", spanned("checkpoint.read_lineage")),
        (checkpoint, "anti_join_completed", spanned("checkpoint.anti_join")),
        (pipeline, "transform_web_pages", spanned("fused.plan")),
        (pipeline, "write_run_outputs", spanned("pipeline.write_run_outputs")),
        (pipeline, "findings_table", spanned("pipeline.findings_plan")),
        (checkpoint, "build_lineage", spanned("pipeline.lineage_plan")),
        (checkpoint, "build_metrics", spanned("pipeline.build_metrics", True)),
        (pipeline, "mark_run_committed", spanned("pipeline.commit_marker")),
        (snapshots, "commit_run_snapshot", spanned("snapshots.commit")),
        (DataFrameWriter, "parquet", spanned(table_of, True)),
        (DataFrame, "collect", spanned("spark.collect")),
    ]
    patches: list = []
    try:
        for owner, attr, wrapper_for in targets:
            _patch(patches, owner, attr, wrapper_for)
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------- status store


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def last_job_id(sc) -> int:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    output_bytes: int = 0
    output_records: int = 0


def jobs_since(sc, after_job_id: int) -> tuple[int, dict[str, StageStats], dict[str, list[float]]]:
    """(jobs, stage totals by job description, task durations by job
    description) of every job with id > ``after_job_id``. Jobs without a
    description are grouped under ''."""
    # the status store is fed asynchronously: let it catch up first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)  # newest first
    n_jobs = 0
    seen_stages: set[int] = set()
    stats: dict[str, StageStats] = {}
    durations: dict[str, list[float]] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= after_job_id:
            break
        n_jobs += 1
        desc = _opt(job.description(), "")
        st = stats.setdefault(desc, StageStats())
        sids = job.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            attempts = store.stageData(sid, False, None, False, None)
            for m in range(attempts.size()):
                s = attempts.apply(m)
                if str(s.status()) != "COMPLETE":
                    continue
                st.tasks += s.numCompleteTasks()
                st.run_s += s.executorRunTime() / 1e3
                st.cpu_s += s.executorCpuTime() / 1e9
                st.gc_s += s.jvmGcTime() / 1e3
                st.output_bytes += s.outputBytes()
                st.output_records += s.outputRecords()
                tasks = store.taskList(sid, s.attemptId(), 1_000_000)
                durations.setdefault(desc, []).extend(
                    _opt(tasks.apply(q).duration(), 0) / 1e3 for q in range(tasks.size())
                )
    return n_jobs, stats, durations


# ---------------------------------------------------------- traced-run summary


def run_layers(tracer: Tracer, root: Span, n_jobs: int, stats, durations) -> dict[str, float]:
    """Layer metrics of one traced ``run_pipeline`` call (span ``root``)."""
    root_idx = tracer.spans.index(root)
    top = tracer.children(root_idx)

    def total(name: str, parent: int | None = None) -> float:
        return sum(
            s.duration
            for s in tracer.named(name)
            if parent is None or s.parent == parent
        )

    fl = tracer.named("pipeline.write.findings") + tracer.named("pipeline.write.lineage")
    wro = tracer.named("pipeline.write_run_outputs")[0]
    wro_idx = tracer.spans.index(wro)
    docs = stats.get("pipeline.write.docs", StageStats())
    findings = stats.get("pipeline.write.findings", StageStats())
    task_d = sorted(durations.get("pipeline.write.docs", []))
    median_task = statistics.median(task_d) if task_d else 0.0
    return {
        "trace.run_s": root.duration,
        "trace.unattributed_s": self_time(root, top),
        "checkpoint.heal_s": total("checkpoint.heal"),
        "snapshots.catch_up_s": total("snapshots.catch_up"),
        "snapshots.commit_s": total("snapshots.commit"),
        "pipeline.docs_job_s": total("pipeline.write.docs"),
        "pipeline.findings_s": total("pipeline.write.findings"),
        "pipeline.lineage_s": total("pipeline.write.lineage"),
        "pipeline.findings_lineage_wall_s": union_length([(s.start, s.end) for s in fl]),
        "pipeline.metrics_s": total("pipeline.build_metrics")
        + total("spark.collect", wro_idx)
        + total("pipeline.write.metrics"),
        "pipeline.commit_marker_s": total("pipeline.commit_marker"),
        "pipeline.write_outputs_self_s": self_time(wro, tracer.children(wro_idx)),
        "pipeline.jobs_per_run": n_jobs,
        "pipeline.tasks_per_run": sum(s.tasks for s in stats.values()),
        "pipeline.docs_out_mb": docs.output_bytes / 1e6,
        "pipeline.findings_rows": findings.output_records,
        "fused.task_s_sum": docs.run_s,
        "fused.task_cpu_s_sum": docs.cpu_s,
        "fused.task_skew": task_d[-1] / median_task if median_task else 0.0,
        "fused.gc_s": docs.gc_s,
    }


# ----------------------------------------------------------------- probes


def _timed_noop(df, reps: int) -> float:
    """Median wall time of writing ``df`` to the noop sink."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _identity_batch(url, html, text):
    import pandas as pd

    return pd.DataFrame({"url": url, "html": html, "text": text})


def spark_probes(spark, input_path: str, lineage_dir: str | None, reps: int = 3) -> dict[str, float]:
    """Scan, Arrow-hop and anti-join probes, each timed to the noop sink.

    ``lineage_dir`` is the output dir whose lineage the timed run resumed
    from (None for a fresh run, where the anti-join is the identity)."""
    from pyspark.sql import functions as F

    from pii_detector_spark.config import DEFAULT_CONFIG
    from pii_detector_spark.plans import checkpoint
    from pii_detector_spark.sources.web_pages import apply_prefilters, read_web_pages

    raw = read_web_pages(spark, input_path)
    scanned = apply_prefilters(raw)
    scan_s = _timed_noop(scanned, reps)
    # the parquet bytes the scan reads; the stage's own inputBytes reports
    # a few percent of them for this scan
    input_bytes = sum(
        os.path.getsize(os.path.join(input_path, f))
        for f in os.listdir(input_path)
        if f.endswith(".parquet")
    )

    # the fused UDF's own argument shape: text crosses only when html is null
    text_arg = F.when(F.col("html").isNull(), F.col("text")).otherwise(
        F.lit(None).cast("string")
    )
    identity = F.pandas_udf(
        _identity_batch, returnType="url string, html binary, text string"
    )
    hop = scanned.select(identity(F.col("url"), F.col("html"), text_arg).alias("r"))
    hop_s = _timed_noop(hop, reps)
    arrow_mb = scanned.select(
        F.sum(
            F.length("url") + F.length("html") + F.coalesce(F.length(text_arg), F.lit(0))
        )
    ).first()[0] / 1e6

    lineage = checkpoint.read_lineage(spark, lineage_dir) if lineage_dir else None
    pending = checkpoint.anti_join_completed(scanned, lineage, DEFAULT_CONFIG.pattern_version)
    antijoin_s = _timed_noop(pending, reps) - scan_s
    rows_in = raw.count()
    rows_scanned = scanned.count()
    rows_pending = pending.count()
    return {
        "sources.scan_s": scan_s,
        "sources.rows_in": rows_in,
        "sources.rows_prefiltered": rows_in - rows_scanned,
        "sources.input_mb": input_bytes / 1e6,
        "fused.arrow_hop_s": hop_s - scan_s,
        "fused.arrow_in_mb": arrow_mb,
        "checkpoint.antijoin_s": antijoin_s,
        "checkpoint.lineage_rows_read": lineage.count() if lineage is not None else 0,
        "checkpoint.resume_skip_ratio": 1 - rows_pending / rows_scanned if rows_scanned else 0.0,
    }


def _median_pass_s(fn, docs, reps: int) -> float:
    fn(docs)  # warm: regex compiles, language models, the alpha table
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(docs)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def udf_step_probes(docs: list[tuple[str, bytes]], reps: int = 3) -> dict[str, float]:
    """Single-thread cost of the fused UDF's steps over a fixed doc sample
    of (url, html), in µs per doc. ``metrics_us`` is ``process_us`` minus
    the steps measured on their own."""
    from pii_detector_spark.config import DEFAULT_CONFIG
    from pii_detector_spark.functions.langmodels import lang_and_perplexity
    from pii_detector_spark.functions.textnorm import extract_text_from_html
    from pii_detector_spark.operators.fused import process_document
    from pii_detector_spark.operators.scrub import build_findings, detect, is_phi, scrub_text

    t = DEFAULT_CONFIG.quality
    n = len(docs)
    texts = [(u, extract_text_from_html(h)) for u, h in docs]
    decided = [process_document(u, x, t) for u, x in texts]
    kept = [(u, x) for (u, x), d in zip(texts, decided) if d["keep"]]
    gated = [(u, x, d["keep"]) for (u, x), d in zip(texts, decided)]
    matches = [detect(x, include_person=True) for _u, x in kept]
    kept_matches = list(zip(kept, matches))

    def extract(ds):
        for _u, h in ds:
            extract_text_from_html(h)

    def langppl(ds):
        for _u, x in ds:
            lang_and_perplexity(x)

    def phi_md5(ds):
        for u, x in ds:
            is_phi(u, x)
            hashlib.md5(x.encode("utf-8")).hexdigest()

    def process(ds):
        for u, x in ds:
            process_document(u, x, t)

    def detect_gated(ds):
        for _u, x, keep in ds:
            if keep:
                detect(x, include_person=True)

    def scrub(ds):
        for (u, x), m in ds:
            scrub_text(x, m)
            build_findings(u, m)

    us = 1e6 / n
    extract_us = _median_pass_s(extract, docs, reps) * us
    langppl_us = _median_pass_s(langppl, texts, reps) * us
    phi_md5_us = _median_pass_s(phi_md5, texts, reps) * us
    process_us = _median_pass_s(process, texts, reps) * us
    detect_s = _median_pass_s(detect_gated, gated, reps)
    scrub_us = _median_pass_s(scrub, kept_matches, reps) * us
    n_kept = len(kept)
    return {
        "fused.extract_us": extract_us,
        "fused.langppl_us": langppl_us,
        "fused.phi_md5_us": phi_md5_us,
        "fused.process_us": process_us,
        "fused.detect_us": detect_s * us,
        # with no kept doc this is the keep gate's own cost
        "fused.detect_us_per_kept": detect_s * 1e6 / max(n_kept, 1),
        "fused.scrub_us": scrub_us,
        "fused.metrics_us": process_us - langppl_us - phi_md5_us - detect_s * us - scrub_us,
        "fused.keep_ratio": n_kept / n,
        "fused.detect_hit_ratio": sum(1 for m in matches if m) / n_kept if n_kept else 0.0,
        "fused.findings_per_kept": sum(len(m) for m in matches) / n_kept if n_kept else 0.0,
    }
