"""Unit tests of the benchmark's own parts: the seeded workload generator,
the output check, and the span arithmetic of the ledger.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import workloads
from perfbench.ledger import Span, Tracer, self_time, union_length
from pii_detector_spark.sources.datagen import generate_rows

N = 240


def _corpus_bytes(tmp_path, name: str, seed: int, tag: str) -> list[bytes]:
    """Bytes of the workload's input (and prior) parquet files for ``seed``."""
    out = []
    for i, rows in enumerate(workloads.workload_rows(name, list(generate_rows(N, seed)))):
        if rows:
            path = tmp_path / f"{tag}-{i}"
            workloads.write_rows(rows, str(path))
            out.append(b"".join(f.read_bytes() for f in sorted(path.iterdir())))
    return out


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_same_seed_same_bytes(tmp_path, name):
    first = _corpus_bytes(tmp_path, name, 5, "a")
    assert _corpus_bytes(tmp_path, name, 5, "b") == first
    assert _corpus_bytes(tmp_path, name, 6, "c")[0] != first[0]


def test_prior_corpus_is_row_prefix_of_full(tmp_path):
    rows = list(generate_rows(N, 9))
    full, prior = workloads.workload_rows("resume_tail", rows)
    assert len(prior) == int(N * workloads.PRIOR_FRACTION)
    # generate_rows(n) is a prefix of generate_rows(m) for m > n
    assert prior == list(generate_rows(len(prior), 9))
    workloads.write_rows(full, str(tmp_path / "full"))
    workloads.write_rows(prior, str(tmp_path / "prior"))
    assert len(list((tmp_path / "full").iterdir())) == workloads.FILES
    t_full = pq.read_table(tmp_path / "full")
    t_prior = pq.read_table(tmp_path / "prior")
    assert t_full.slice(0, t_prior.num_rows).equals(t_prior)


def test_drop_heavy_excludes_clean_classes():
    rows = list(generate_rows(N, 3))
    drop, _ = workloads.workload_rows("drop_heavy", rows)
    classes = {workloads.url_class(r[0]) for r in drop}
    assert classes.isdisjoint({"clean", "clean_pii"})
    assert 0 < len(drop) < len(rows)
    assert {workloads.url_class(r[0]) for r in rows} >= {"clean", "clean_pii"}


def _docs_table(tmp_path, rows, run_id="r1"):
    from pii_detector_spark.plans.pipeline import mark_run_committed

    out = tmp_path / "out"
    part = out / "docs" / f"run_id={run_id}"
    part.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows],
                "keep": [r[1] for r in rows],
                "drop_reason": [r[2] for r in rows],
                "scrubbed_text": [r[3] for r in rows],
                "n_findings": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        part / "part-0.parquet",
    )
    mark_run_committed(str(out), run_id)
    return str(out)


def test_check_run_reports_mismatch_and_duplicates(tmp_path):
    rows = [("u1", True, None, "a b", 1), ("u2", False, "too_short", None, 0)]
    expected = {u: workloads.fingerprint(*r) for u, *r in rows}
    out = _docs_table(tmp_path, rows)
    assert workloads.check_run(out, "r1", 2, expected, 2) == []

    wrong = dict(expected, u1=workloads.fingerprint(True, None, "a *", 1))
    assert any("differ from the oracle" in p for p in workloads.check_run(out, "r1", 2, wrong, 2))
    assert any("wrote 2 docs" in p for p in workloads.check_run(out, "r1", 3, expected, 3))
    assert any("no commit marker" in p for p in workloads.check_run(out, "r2", 2, expected, 2))


def test_check_run_reports_url_processed_twice(tmp_path):
    rows = [("u1", True, None, "a", 0), ("u1", True, None, "a", 0)]
    out = _docs_table(tmp_path, rows)
    expected = {"u1": workloads.fingerprint(True, None, "a", 0)}
    assert any("processed twice" in p for p in workloads.check_run(out, "r1", 2, expected, 2))


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_union_of_children():
    parent = Span("p", 0.0, 10.0, None)
    # two overlapping children (concurrent writes) cover [2, 6); a third
    # child sticks out past the parent's end and counts only up to it
    kids = [Span("a", 2.0, 5.0, 0), Span("b", 3.0, 6.0, 0), Span("c", 9.0, 12.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 1)
    assert self_time(parent, []) == 10


def test_pool_thread_span_is_parented_to_main_thread_span():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("mid"):
            def work():
                with tr.span("inner"):
                    pass

            t = threading.Thread(target=work)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    names = [s.name for s in tr.spans]
    inner = tr.spans[names.index("inner")]
    assert tr.spans[inner.parent].name == "mid"
    assert tr.spans[names.index("mid")].parent == names.index("outer")
    assert tr.spans[names.index("outer")].parent is None
    outer = tr.spans[names.index("outer")]
    assert self_time(outer, tr.children(names.index("outer"))) <= outer.duration


def test_benchmark_json_declares_what_the_runner_reports():
    import json
    from pathlib import Path

    from perfbench.run import E2E_UNITS, LAYER_UNITS, WORKLOADS

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_host_speed_samples_every_cpu_and_leaves_no_worker(monkeypatch):
    import os

    from perfbench import hostspeed, proctree

    monkeypatch.setattr(hostspeed, "REPS", 8)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    speed = hostspeed.HostSpeed(root)
    try:
        assert len(speed.pids()) == len(os.sched_getaffinity(0))
        tree = proctree.tree_pids(os.getpid())
        assert speed.pids() <= set(tree)
        assert not speed.pids() & set(proctree.tree_pids(os.getpid(), frozenset(speed.pids())))
        for _ in range(3):
            speed.sample()
        assert len(speed.samples) == 3 and all(s > 0 for s in speed.samples)
        assert speed.factor() == sorted(speed.samples)[1] / hostspeed.REFERENCE_S
    finally:
        speed.close()
    assert all(p.returncode == 0 for p in speed.workers)
