"""Seeded workload corpora and the oracle fingerprints that check each run.

Every workload derives from one base stream, ``datagen.generate_rows(
BASE_DOCS, seed)``, written with the repository's own ``WEB_PAGES_PA_SCHEMA``:

* ``crawl_mix``   — the whole base stream (datagen's default class mix);
* ``drop_heavy``  — the base rows whose url class segment is neither
                    ``clean`` nor ``clean_pii`` (nearly every doc is dropped
                    before ``detect()``);
* ``resume_tail`` — the whole base stream as input, with the first
                    ``PRIOR_FRACTION`` of it as the already-committed prior
                    run (``generate_rows(n)`` is a row prefix of
                    ``generate_rows(m)`` for m > n).

The expected output is one fingerprint per url — ``(keep, drop_reason,
md5(scrubbed_text), n_findings)`` — computed by ``tests/oracle.py``'s
independent ``oracle_decide`` over every base row that survives the
pre-filters. Corpora and fingerprints are cached per seed under the
benchmark's work directory, keyed by a hash of the sources they depend on.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 4_000
PRIOR_FRACTION = 0.95
# A corpus is a directory of this many parquet files of ~130 KB. Spark packs
# small files into one split per core by their 4 MiB open cost, so the scan
# runs one task per core whatever the seed. A single file would split by
# bytes instead, and a seed whose file crossed a split boundary would run
# one more task wave.
FILES = 16
WORKLOADS = ("crawl_mix", "drop_heavy", "resume_tail")
# url shape of generated docs: https://<host>/<class>/<index>.html
_CLASS_RX = re.compile(r"^https://[^/]+/([a-z_]+)/\d+\.html$")


@dataclass(frozen=True)
class Corpus:
    """Inputs of one workload and the fingerprints its outputs must match."""

    input_path: str
    prior_path: str | None
    expected: dict[str, tuple]  # url -> fingerprint, every doc after the run
    prior_urls: frozenset[str]  # urls already committed before the timed run


def url_class(url: str) -> str | None:
    m = _CLASS_RX.match(url)
    return m.group(1) if m else None


def workload_rows(name: str, rows: list[tuple]) -> tuple[list[tuple], list[tuple]]:
    """(input rows, prior rows) of workload ``name`` over the base rows."""
    if name == "crawl_mix":
        return rows, []
    if name == "drop_heavy":
        keep = [r for r in rows if url_class(r[0]) not in ("clean", "clean_pii")]
        return keep, []
    if name == "resume_tail":
        return rows, rows[: int(len(rows) * PRIOR_FRACTION)]
    raise ValueError(f"unknown workload {name!r}")


def write_rows(rows: list[tuple], path: str) -> None:
    """Write generator rows, in order, as a directory of ``FILES`` parquet
    files of consecutive rows (atomic rename of the directory)."""
    from pii_detector_spark.sources.datagen import WEB_PAGES_PA_SCHEMA

    names = WEB_PAGES_PA_SCHEMA.names
    tmp = f"{path}.{os.getpid()}.tmp"
    os.makedirs(tmp)
    step = -(-len(rows) // FILES)
    for k in range(FILES):
        part = rows[k * step : (k + 1) * step]
        table = pa.Table.from_pydict(
            {n: [r[i] for r in part] for i, n in enumerate(names)},
            schema=WEB_PAGES_PA_SCHEMA,
        )
        pq.write_table(table, os.path.join(tmp, f"part-{k:03d}.parquet"), compression="snappy")
    os.replace(tmp, path)


def fingerprint(keep, drop_reason, scrubbed_text, n_findings) -> tuple:
    md5 = (
        None
        if scrubbed_text is None
        else hashlib.md5(scrubbed_text.encode("utf-8")).hexdigest()
    )
    return (bool(keep), drop_reason, md5, int(n_findings))


def _oracle_worker() -> None:
    """Worker process: JSON [[url, text], ...] on stdin -> JSON [[url,
    fingerprint], ...] on stdout."""
    from tests.oracle import oracle_decide

    out = []
    for url, text in json.load(sys.stdin):
        d = oracle_decide(url, text)
        out.append((url, fingerprint(d.keep, d.drop_reason, d.scrubbed_text, len(d.findings))))
    json.dump(out, sys.stdout)


def oracle_fingerprints(rows: list[tuple], root: str, procs: int) -> dict[str, tuple]:
    """Oracle fingerprint of every row the pipeline's pre-filters keep,
    computed by ``procs`` worker processes.

    The engine extracts text from ``html``; datagen guarantees that equals
    the ``text`` column byte for byte, so the oracle reads ``text``."""
    from pii_detector_spark.sources.web_pages import BLOCKED_EXT_RX, LOG_PATH_RX

    blocked, logrx = re.compile(BLOCKED_EXT_RX), re.compile(LOG_PATH_RX)
    docs = [
        (r[0], r[3])
        for r in rows
        if not (blocked.search(r[0]) or logrx.search(r[0]))
    ]
    step = -(-len(docs) // procs)
    cmd = [sys.executable, "-c", "from perfbench.workloads import _oracle_worker; _oracle_worker()"]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]))
    workers = []
    for i in range(0, len(docs), step):
        p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env, text=True)
        workers.append(p)
        # each worker reads all of its input before computing, so the
        # workers run in parallel while their outputs are read one by one
        p.stdin.write(json.dumps(docs[i : i + step]))
        p.stdin.close()
    parts = [p.stdout.read() for p in workers]
    codes = [p.wait() for p in workers]
    if any(codes):
        raise RuntimeError(f"oracle workers exited with {codes}")
    return {url: tuple(fp) for part in parts for url, fp in json.loads(part)}


def source_key(root: str) -> str:
    """Hash of every source the corpora and fingerprints depend on."""
    h = hashlib.sha1()
    files = [os.path.join(root, "tests", "oracle.py"), os.path.abspath(__file__)]
    pkg = os.path.join(root, "pii_detector_spark")
    for d, _sub, names in sorted(os.walk(pkg)):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prepare(name: str, seed: int, cache_dir: str, root: str, procs: int) -> Corpus:
    """Build (or load from cache) the corpus and fingerprints of a workload."""
    from pii_detector_spark.sources.datagen import generate_rows

    d = os.path.join(cache_dir, f"seed{seed}-n{BASE_DOCS}-{source_key(root)}")
    os.makedirs(d, exist_ok=True)
    # crawl_mix and resume_tail read the same rows: one copy on disk
    input_path = os.path.join(d, "drop_heavy" if name == "drop_heavy" else "all")
    prior_path = os.path.join(d, "prior") if name == "resume_tail" else None
    oracle_path = os.path.join(d, "oracle.json")
    rows = None
    if not os.path.exists(oracle_path):
        rows = list(generate_rows(BASE_DOCS, seed))
        fps = oracle_fingerprints(rows, root, procs)
        tmp = f"{oracle_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(fps, fh)
        os.replace(tmp, oracle_path)
    with open(oracle_path) as fh:
        oracle = {u: tuple(fp) for u, fp in json.load(fh).items()}
    inp, prior = workload_rows(name, rows or list(generate_rows(BASE_DOCS, seed)))
    for part, path in ((inp, input_path), (prior, prior_path)):
        if path is not None and not os.path.exists(path):
            write_rows(part, path)
    # the oracle holds exactly the urls the pre-filters keep
    return Corpus(
        input_path=input_path,
        prior_path=prior_path,
        expected={r[0]: oracle[r[0]] for r in inp if r[0] in oracle},
        prior_urls=frozenset(r[0] for r in prior if r[0] in oracle),
    )


def read_docs_fingerprints(output_dir: str) -> tuple[dict[str, tuple], dict[str, int], list[str]]:
    """(url -> fingerprint, run_id -> rows, urls seen more than once) of the
    docs table, read with pyarrow straight from the committed parquet."""
    table = pq.read_table(
        os.path.join(output_dir, "docs"),
        columns=["url", "keep", "drop_reason", "scrubbed_text", "n_findings", "run_id"],
    )
    got: dict[str, tuple] = {}
    per_run: dict[str, int] = {}
    dupes = []
    cols = [table.column(c).to_pylist() for c in table.column_names]
    for url, keep, reason, scrubbed, nf, run_id in zip(*cols):
        if url in got:
            dupes.append(url)
        got[url] = fingerprint(keep, reason, scrubbed, nf)
        run_id = str(run_id)
        per_run[run_id] = per_run.get(run_id, 0) + 1
    return got, per_run, dupes


def check_run(
    output_dir: str,
    run_id: str,
    docs_written: int,
    expected: dict[str, tuple],
    new_urls: int,
) -> list[str]:
    """Problems with one committed run; empty when its output is correct.

    ``expected`` is the oracle fingerprint of every doc the docs table must
    hold after the run (prior runs included) and ``new_urls`` how many of
    them this run had to process."""
    from pii_detector_spark.plans.pipeline import run_committed

    problems = []
    if not run_committed(output_dir, run_id):
        problems.append(f"run {run_id} has no commit marker")
    got, per_run, dupes = read_docs_fingerprints(output_dir)
    if dupes:
        problems.append(f"{len(dupes)} urls processed twice, e.g. {dupes[0]}")
    if per_run.get(run_id, 0) != new_urls or docs_written != new_urls:
        problems.append(
            f"run {run_id} wrote {per_run.get(run_id, 0)} docs "
            f"(reported {docs_written}), expected {new_urls}"
        )
    if got != expected:
        bad = sorted(u for u in expected.keys() | got.keys() if got.get(u) != expected.get(u))
        problems.append(
            f"{len(bad)} docs differ from the oracle, e.g. {bad[0]}: "
            f"engine {got.get(bad[0])} oracle {expected.get(bad[0])}"
        )
    return problems
