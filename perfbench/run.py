"""Benchmark of the fused quality-filter + PII-scrub pipeline
(``plans/pipeline.run_pipeline``), end to end and layer by layer.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 20 --trace 0

One invocation generates the workload's corpus from ``--seed`` (cached under
``perfbench/.work``), starts a Spark session at ``local[nproc]``, warms it up
with five pipeline runs, then repeats the workload's run for ``--seconds``.
Every run's docs table is checked against the oracle fingerprints. Times are
reported at a reference host speed (``perfbench/hostspeed.py``).

``--trace 0`` reports the end-to-end metrics (medians over the timed runs);
``--trace 1`` alternates untraced and traced runs and reports the per-layer
ledger plus out-of-run probes. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; a summary goes to stderr.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import dataclasses
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_mix", "drop_heavy", "resume_tail")
# runs 2-5 of a fresh session are still 5-30% slower than later ones while the
# JIT compiles; a longer warm-up also leaves less of that to differ between
# invocations
WARMUP_RUNS = 5
SAMPLE_DOCS = 400  # docs in the single-thread UDF step probe
LEDGER_TOLERANCE = 0.10  # top-level spans must cover 90% of a traced run

E2E_UNITS = {
    "run_s": "s",
    "docs_per_s": "1/s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
_S = ("s", [
    "session.build_s", "session.warmup_s", "sources.scan_s", "fused.arrow_hop_s",
    "fused.task_s_sum", "fused.task_cpu_s_sum", "fused.gc_s", "checkpoint.heal_s",
    "checkpoint.antijoin_s", "pipeline.docs_job_s", "pipeline.findings_s",
    "pipeline.lineage_s", "pipeline.findings_lineage_wall_s", "pipeline.metrics_s",
    "pipeline.commit_marker_s", "pipeline.write_outputs_self_s", "snapshots.catch_up_s",
    "snapshots.commit_s", "trace.run_s", "trace.unattributed_s",
])
_US = ("us", [
    "fused.extract_us", "fused.langppl_us", "fused.metrics_us", "fused.phi_md5_us",
    "fused.process_us", "fused.detect_us", "fused.detect_us_per_kept", "fused.scrub_us",
])
_MB = ("MB", ["sources.input_mb", "fused.arrow_in_mb", "pipeline.docs_out_mb"])
_COUNT = ("count", [
    "sources.rows_in", "sources.rows_prefiltered", "checkpoint.lineage_rows_read",
    "pipeline.jobs_per_run", "pipeline.tasks_per_run", "pipeline.findings_rows",
])
_RATIO = ("ratio", [
    "host.factor", "fused.keep_ratio", "fused.detect_hit_ratio", "fused.findings_per_kept",
    "fused.task_skew", "checkpoint.resume_skip_ratio", "trace.overhead_frac",
])
LAYER_UNITS = {name: unit for unit, names in (_S, _US, _MB, _COUNT, _RATIO) for name in names}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_spark(cpus: int, run_dir: str):
    from pii_detector_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            # the corpus is small: a 1 GiB heap is enough
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            # Python workers import the package from the checkout, whatever
            # the working directory
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the whole heap resident from the start: the JVM's RSS does not
            # depend on how far GC let the heap grow before a run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir}/tmp -Xms1g -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait until no process started by this one is left; kill stragglers."""
    from perfbench.proctree import tree_pids

    me = str(os.getpid())
    deadline = time.monotonic() + timeout_s
    sig = None
    while True:
        left = [p for p in tree_pids(os.getpid()) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for p in left:
                try:
                    os.kill(int(p), sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class Bench:
    """One workload in one Spark session: setup, timed runs, checks."""

    def __init__(self, corpus, run_dir: str, cpus: int):
        self.corpus = corpus
        self.run_dir = run_dir
        self.cpus = cpus
        self.out = os.path.join(run_dir, "out")
        self.pristine = os.path.join(run_dir, "prior")
        self.spark = None
        self.speed = None
        self.attempted = 0
        self.failed = 0
        self.n_runs = 0

    # -- one run -------------------------------------------------------------

    def _prepare_output(self) -> tuple[str, dict, int, bool]:
        """Reset the output dir; returns (input, expected docs, new docs,
        resume) of the workload's run."""
        shutil.rmtree(self.out, ignore_errors=True)
        c = self.corpus
        if c.prior_path is None:
            return c.input_path, c.expected, len(c.expected), False
        if not os.path.isdir(self.pristine):  # the committed prior run
            prior = {u: c.expected[u] for u in c.prior_urls}
            return c.prior_path, prior, len(prior), False
        shutil.copytree(self.pristine, self.out)
        return c.input_path, c.expected, len(c.expected) - len(c.prior_urls), True

    def run_once(self, tracer=None) -> dict | None:
        """Run the workload once, check its output; returns the sample, or
        None when the run raised or its output is wrong."""
        from perfbench import ledger, proctree, workloads
        from pii_detector_spark.plans.pipeline import run_pipeline

        inp, expected, new_docs, resume = self._prepare_output()
        run_id = f"run-{self.n_runs}"
        self.n_runs += 1
        self.attempted += 1
        sc = self.spark.sparkContext
        before = ledger.last_job_id(sc) if tracer else None
        pid, skip = os.getpid(), frozenset(self.speed.pids())
        cpu0 = proctree.tree_cpu_s(pid, skip)
        proctree.reset_peak_rss(pid, skip)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                res = run_pipeline(self.spark, inp, self.out, run_id=run_id, resume=resume)
            else:
                with ledger.instrument(tracer, sc), tracer.span("pipeline.run"):
                    res = run_pipeline(self.spark, inp, self.out, run_id=run_id, resume=resume)
        except Exception:
            self.failed += 1
            log(f"{run_id} raised:\n{traceback.format_exc()}")
            self.speed.sample()
            return None
        run_s = time.perf_counter() - t0
        cpu_s = proctree.tree_cpu_s(pid, skip) - cpu0
        peak_mb = proctree.tree_peak_rss_mb(pid, skip)
        self.speed.sample()
        problems = workloads.check_run(self.out, run_id, res.docs_written, expected, new_docs)
        if problems:
            self.failed += 1
            log(f"{run_id} output check failed: " + "; ".join(problems))
            return None
        if not os.path.isdir(self.pristine) and self.corpus.prior_path is not None:
            os.rename(self.out, self.pristine)
        sample = {
            "run_s": run_s,
            "docs_per_s": new_docs / run_s,
            "cpu_s_per_kdoc": cpu_s / (new_docs / 1e3),
            "peak_rss_mb": peak_mb,
            "traced": tracer is not None,
        }
        if tracer is not None:
            n_jobs, stats, durations = ledger.jobs_since(sc, before)
            root = tracer.named("pipeline.run")[-1]
            sample["layers"] = ledger.run_layers(tracer, root, n_jobs, stats, durations)
            sample["spans"] = [dataclasses.asdict(sp) for sp in tracer.spans]
        log(
            f"{run_id}{' traced' if tracer else ''}: {run_s:.3f} s, "
            f"{new_docs} docs, cpu {cpu_s:.2f} s, peak rss {peak_mb:.0f} MB, "
            f"host sample {self.speed.samples[-1]:.4f} s"
        )
        return sample

    # -- phases --------------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """Session build and warm-up runs, timed without the host-speed
        samples taken after each of them."""
        from perfbench.hostspeed import HostSpeed

        self.speed = HostSpeed(ROOT)
        t0 = time.perf_counter()
        self.spark = build_spark(self.cpus, self.run_dir)
        build_s = time.perf_counter() - t0
        self.speed.sample()
        t0, busy0 = time.perf_counter(), self.speed.busy_s
        for _ in range(WARMUP_RUNS):
            self.run_once()
        warmup_s = time.perf_counter() - t0 - (self.speed.busy_s - busy0)
        return {"session.build_s": build_s, "session.warmup_s": warmup_s}

    def measure(self, seconds: float, traced: bool) -> list[dict]:
        from perfbench.ledger import Tracer

        samples = []
        deadline = time.perf_counter() + seconds
        for i in itertools.count():
            # a traced invocation alternates untraced (U) and traced (T) runs
            # as UT TU UT ..., so the runs' slow downward drift as the JIT
            # warms does not bias trace.overhead_frac
            pair = (False, True) if i % 2 == 0 else (True, False)
            for t in pair if traced else (False,):
                s = self.run_once(Tracer() if t else None)
                if s is not None:
                    samples.append(s)
            if time.perf_counter() >= deadline:
                return samples

    def probes(self) -> dict[str, float]:
        import re

        import pyarrow.parquet as pq

        from perfbench import ledger
        from pii_detector_spark.sources.web_pages import BLOCKED_EXT_RX, LOG_PATH_RX

        lineage_dir = self.pristine if self.corpus.prior_path else None
        out = ledger.spark_probes(self.spark, self.corpus.input_path, lineage_dir)
        blocked, logrx = re.compile(BLOCKED_EXT_RX), re.compile(LOG_PATH_RX)
        t = pq.read_table(self.corpus.input_path, columns=["url", "html"])
        docs = [
            (u, h)
            for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist())
            if not (blocked.search(u) or logrx.search(u))
        ][:SAMPLE_DOCS]
        out.update(ledger.udf_step_probes(docs))
        return out

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        if self.speed is not None:
            self.speed.close()


def summarize(bench: Bench, setup: dict, samples: list[dict], traced: bool) -> dict:
    """Medians over the runs; every time (units s and us, and docs_per_s)
    scaled by the invocation's host factor."""
    med = statistics.median
    factor = bench.speed.factor()
    plain = [s for s in samples if not s["traced"]]
    log(
        f"unscaled run_s {med([s['run_s'] for s in plain]):.4f}, "
        f"host factor {factor:.4f} ({len(bench.speed.samples)} samples)"
    )
    if not traced:
        values = {k: med([s[k] for s in plain]) for k in E2E_UNITS if k != "setup_s"}
        values["setup_s"] = sum(setup.values())
        for k in ("run_s", "cpu_s_per_kdoc", "setup_s"):
            values[k] /= factor
        values["docs_per_s"] *= factor
        return {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    layered = [s for s in samples if s["traced"]]
    values: dict[str, float] = dict(setup)
    for k in layered[0]["layers"]:
        values[k] = med([s["layers"][k] for s in layered])
    values["trace.overhead_frac"] = (
        med([s["layers"]["trace.run_s"] for s in layered]) / med([s["run_s"] for s in plain]) - 1
    )
    for s in layered:
        share = s["layers"]["trace.unattributed_s"] / s["layers"]["trace.run_s"]
        if share > LEDGER_TOLERANCE:
            log(f"ledger check: top-level spans miss {share:.1%} of a traced run")
    values.update(bench.probes())
    values = {k: v / factor if LAYER_UNITS[k] in ("s", "us") else v for k, v in values.items()}
    values["host.factor"] = factor
    return {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS.items()}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in (("pii_detector_spark", "plans", "pipeline.py"), ("tests", "oracle.py")):
        if not os.path.isfile(os.path.join(ROOT, *need)):
            log(f"{os.path.join(*need)} not found under {ROOT}: run from a full checkout")
            return 2
    if sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
        sys.path.pop(0)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    work = os.path.join(ROOT, "perfbench", ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every temp file of this process, the JVM and the workers stays in run_dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None
    cpus = len(os.sched_getaffinity(0))
    bench = None
    try:
        corpus = workloads.prepare(
            args.workload, args.seed, os.path.join(work, "corpus"), ROOT, cpus
        )
        bench = Bench(corpus, run_dir, cpus)
        setup = bench.setup()
        samples = bench.measure(args.seconds, bool(args.trace))
        if {s["traced"] for s in samples} != ({False, True} if args.trace else {False}):
            log("no run succeeded")
            return 1
        metrics = summarize(bench, setup, samples, bool(args.trace))
        if args.trace:
            spans_path = os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            with open(spans_path, "w") as fh:
                json.dump([s["spans"] for s in samples if s["traced"]], fh)
            log(f"spans of the traced runs: {spans_path}")
    finally:
        if bench is not None:
            bench.close()
        reap_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    for k, m in metrics.items():
        log(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
