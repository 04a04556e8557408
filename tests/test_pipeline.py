"""End-to-end pipeline vs oracle: keep/drop F1, byte-identical scrubbed
text, drop-reason agreement, metrics/lineage integrity, checkpoint resume
idempotence. This is the BASELINE.md correctness gate."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from pii_detector_spark.plans.pipeline import run_pipeline, transform_web_pages
from pii_detector_spark.sources.web_pages import read_web_pages
from tests.oracle import oracle_decide


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_out"))
    res = run_pipeline(spark, corpus_path, out, run_id="t1")
    return res


@pytest.fixture(scope="module")
def engine_rows(spark, pipeline_out):
    docs = spark.read.parquet(pipeline_out.docs_path)
    return {r["url"]: r.asDict() for r in docs.collect()}


@pytest.fixture(scope="module")
def oracle_rows(corpus_path):
    table = pq.read_table(corpus_path, columns=["url", "text"]).to_pylist()
    # same pre-filters the engine applies (blocklist/log urls never scanned)
    import re

    from pii_detector_spark.sources.web_pages import BLOCKED_EXT_RX, LOG_PATH_RX

    blocked = re.compile(BLOCKED_EXT_RX)
    logrx = re.compile(LOG_PATH_RX)
    out = {}
    for row in table:
        if blocked.search(row["url"]) or logrx.search(row["url"]):
            continue
        out[row["url"]] = oracle_decide(row["url"], row["text"])
    return out


def test_same_url_set(engine_rows, oracle_rows):
    assert set(engine_rows) == set(oracle_rows)


def test_keep_drop_f1(engine_rows, oracle_rows):
    tp = fp = fn = 0
    for url, odoc in oracle_rows.items():
        e = engine_rows[url]["keep"]
        o = odoc.keep
        if e and o:
            tp += 1
        elif e and not o:
            fp += 1
        elif o and not e:
            fn += 1
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, (f1, fp, fn)


def test_drop_reasons_agree(engine_rows, oracle_rows):
    mismatches = [
        (u, engine_rows[u]["drop_reason"], o.drop_reason)
        for u, o in oracle_rows.items()
        if engine_rows[u]["drop_reason"] != o.drop_reason
    ]
    assert not mismatches, mismatches[:10]


def test_scrubbed_text_byte_identical(engine_rows, oracle_rows):
    diffs = []
    for url, odoc in oracle_rows.items():
        if engine_rows[url]["scrubbed_text"] != odoc.scrubbed_text:
            diffs.append(url)
    assert not diffs, diffs[:5]


def test_lang_pred_and_phi_agree(engine_rows, oracle_rows):
    for url, odoc in oracle_rows.items():
        assert engine_rows[url]["lang_pred"] == odoc.lang_pred, url
        assert engine_rows[url]["is_phi"] == odoc.is_phi, url


def test_findings_match_oracle(spark, pipeline_out, oracle_rows):
    eng = spark.read.parquet(pipeline_out.findings_path).collect()
    by_url: dict[str, list] = {}
    for r in eng:
        by_url.setdefault(r["url"], []).append(r.asDict())
    for url, odoc in oracle_rows.items():
        if not odoc.keep:
            assert url not in by_url
            continue
        got = sorted(
            (f["pii_type"], f["start"], f["end"], f["pii_hash"], f["pii_masked"])
            for f in by_url.get(url, [])
        )
        want = sorted(
            (f["pii_type"], f["start"], f["end"], f["pii_hash"], f["pii_masked"])
            for f in odoc.findings
        )
        assert got == want, url


def test_metrics_totals(spark, pipeline_out, engine_rows):
    m = spark.read.parquet(pipeline_out.metrics_path)
    agg = m.groupBy().sum("docs_scanned", "docs_kept").collect()[0]
    assert agg[0] == len(engine_rows)
    assert agg[1] == sum(1 for r in engine_rows.values() if r["keep"])


def test_metrics_consistent_with_docs_and_findings(spark, pipeline_out, engine_rows):
    """One run's metrics rows against its docs and findings tables: hit
    counts per PII type, drop-reason counts, kept docs, and one row per
    partition_id."""
    from collections import Counter

    rows = (
        spark.read.parquet(pipeline_out.metrics_path)
        .filter("run_id = 't1'")
        .collect()
    )
    hits: Counter = Counter()
    reasons: Counter = Counter()
    for r in rows:
        hits.update(r["pii_hits"])
        reasons.update(r["drop_reasons"])
    findings = spark.read.parquet(pipeline_out.findings_path).filter("run_id = 't1'")
    assert hits == Counter({
        r["pii_type"]: r["count"]
        for r in findings.groupBy("pii_type").count().collect()
    })
    assert sum(hits.values()) > 0
    assert reasons == Counter(
        r["drop_reason"] for r in engine_rows.values() if r["drop_reason"]
    )
    assert sum(r["docs_kept"] for r in rows) == sum(
        1 for r in engine_rows.values() if r["keep"]
    )
    pids = [r["partition_id"] for r in rows]
    assert len(pids) == len(set(pids))


def _last_job_id(sc) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_metrics_sink_jobs_and_arrow_path(spark, tmp_path_factory, monkeypatch):
    """The metrics tail (build_metrics + the metrics write) costs at most 3
    Spark jobs, with the Arrow fallback off so a silent fall back to the
    pickled-rows path fails here; an empty rerun still commits with no
    metrics files."""
    import glob

    import pii_detector_spark.plans.pipeline as pipemod
    from pii_detector_spark.plans import checkpoint
    from pii_detector_spark.sources.datagen import write_web_pages

    src = tmp_path_factory.mktemp("jobs_src") / "pages.parquet"
    write_web_pages(str(src), n_rows=120, seed=7)
    out = str(tmp_path_factory.mktemp("jobs_out"))
    sc = spark.sparkContext
    seen = {}
    build_metrics = checkpoint.build_metrics
    mark = pipemod.mark_run_committed

    def spy_build(*a, **k):
        seen["start"] = _last_job_id(sc)
        return build_metrics(*a, **k)

    def spy_mark(*a, **k):
        seen["end"] = _last_job_id(sc)
        return mark(*a, **k)

    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        monkeypatch.setattr(checkpoint, "build_metrics", spy_build)
        monkeypatch.setattr(pipemod, "mark_run_committed", spy_mark)
        res = run_pipeline(spark, str(src), out, run_id="j1")
        assert res.docs_written > 0
        assert 0 < seen["end"] - seen["start"] <= 3, seen
        empty = run_pipeline(spark, str(src), out, run_id="j2")
    finally:
        spark.conf.set(key, prev)
    assert empty.docs_written == 0
    assert pipemod.run_committed(out, "j2")
    assert not glob.glob(os.path.join(res.metrics_path, "run_id=j2", "*.parquet"))
    m = spark.read.parquet(res.metrics_path)
    assert m.groupBy().sum("docs_scanned").collect()[0][0] == res.docs_written


def test_every_drop_reason_class_present(engine_rows):
    reasons = {r["drop_reason"] for r in engine_rows.values() if r["drop_reason"]}
    expected = {
        "too_short",
        "word_length",
        "symbol_ratio",
        "bullet_lines",
        "ellipsis_lines",
        "low_alpha",
        "repetition",
        "language",
        "toxicity",
    }
    assert expected <= reasons, expected - reasons


def test_resume_is_idempotent(spark, corpus_path, pipeline_out):
    """Second run over the same input writes zero new docs."""
    res2 = run_pipeline(
        spark, corpus_path, os.path.dirname(pipeline_out.docs_path), run_id="t2"
    )
    assert res2.docs_written == 0


def test_gc_deleted_urls_merge_delete(spark, corpus_path, tmp_path_factory):
    """F7 deleted-object GC: a url gone from the source is MERGE-deleted
    from docs/findings/lineage; the pass is idempotent; and a url that
    reappears later is rescanned (its lineage row is gone)."""
    import pyarrow.parquet as pq_

    out = str(tmp_path_factory.mktemp("gc_out"))
    half_dir = tmp_path_factory.mktemp("gc_half")
    t = pq_.read_table(corpus_path)
    half = t.slice(0, t.num_rows // 2)
    pq_.write_table(half, str(half_dir / "half.parquet"))

    # full scan, then the source shrinks to half and we GC
    run_pipeline(spark, corpus_path, out, run_id="g1")
    docs_before = spark.read.parquet(os.path.join(out, "docs")).count()
    res2 = run_pipeline(
        spark, str(half_dir / "half.parquet"), out, run_id="g2", gc_deleted=True
    )
    assert res2.docs_written == 0  # nothing new to scan

    kept_urls = {
        r["url"] for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }
    half_urls = set(half.column("url").to_pylist())
    # docs now contain only urls surviving at the source (pre-filtered
    # subset of the half listing)
    assert kept_urls <= half_urls
    assert len(kept_urls) < docs_before
    lineage_urls = {
        r["url"] for r in spark.read.parquet(os.path.join(out, "lineage")).collect()
    }
    assert lineage_urls == kept_urls
    findings_urls = {
        r["url"] for r in spark.read.parquet(os.path.join(out, "findings")).collect()
    }
    assert findings_urls <= kept_urls

    # idempotent: same listing again → nothing changes
    run_pipeline(
        spark, str(half_dir / "half.parquet"), out, run_id="g3", gc_deleted=True
    )
    kept2 = {
        r["url"] for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }
    assert kept2 == kept_urls

    # the deleted urls reappear → resume rescans them (lineage rows gone)
    res4 = run_pipeline(spark, corpus_path, out, run_id="g4")
    assert res4.docs_written == docs_before - len(kept_urls)


def test_resume_join_not_forced_broadcast(spark):
    """Lineage grows to corpus cardinality, so the resume anti-join must not
    carry a broadcast HINT: when the done-set exceeds
    autoBroadcastJoinThreshold the planner has to be free to pick a shuffle
    join (a forced F.broadcast of 10^9 urls OOMs the driver). With the
    threshold disabled, any BroadcastExchange in the plan can only come from
    a hint."""
    from pii_detector_spark.plans.checkpoint import anti_join_completed

    df = spark.range(1000).selectExpr("concat('u', id) AS url", "id AS v")
    lineage = spark.range(500).selectExpr(
        "concat('u', id) AS url",
        "'SCANNED' AS status",
        "1 AS pattern_version",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            anti_join_completed(df, lineage, pattern_version=1)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastExchange" not in plan, plan
        # and the join itself is still an anti join
        assert "LeftAnti" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_resume_after_partial_run(spark, corpus_path, tmp_path_factory):
    """Kill-and-rerun: half the corpus first, then the whole thing; the
    final docs table equals one fresh full run (set-of-urls + keep flags)."""
    import pyarrow.parquet as pq_

    out = str(tmp_path_factory.mktemp("resume_out"))
    half_dir = tmp_path_factory.mktemp("half")
    t = pq_.read_table(corpus_path)
    pq_.write_table(t.slice(0, t.num_rows // 2), str(half_dir / "half.parquet"))

    run_pipeline(spark, str(half_dir / "half.parquet"), out, run_id="p1")
    run_pipeline(spark, corpus_path, out, run_id="p2")

    fresh_out = str(tmp_path_factory.mktemp("fresh_out"))
    run_pipeline(spark, corpus_path, fresh_out, run_id="f1")

    a = {
        (r["url"], r["keep"], r["scrubbed_text"])
        for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }
    b = {
        (r["url"], r["keep"], r["scrubbed_text"])
        for r in spark.read.parquet(os.path.join(fresh_out, "docs")).collect()
    }
    assert a == b


def test_gc_crash_recovery_and_swap_order(spark, tmp_path_factory):
    """Every GC interruption point leaves a recoverable directory: a
    leftover *_gc_old with the live dir missing (crash mid-swap) is
    renamed back before the pass runs; stale _gc_old/_gc_tmp are cleaned."""
    import os as _os

    from pii_detector_spark.plans.checkpoint import gc_deleted_urls

    out = str(tmp_path_factory.mktemp("gc_crash"))
    df = spark.createDataFrame([("u1",), ("u2",), ("u3",)], "url string")
    for t in ("docs", "findings", "lineage"):
        df.write.parquet(_os.path.join(out, t))
    # simulate a crash that happened between rename-aside and tmp-swap
    _os.rename(_os.path.join(out, "docs"), _os.path.join(out, "docs_gc_old"))

    deleted = spark.createDataFrame([("u2",)], "url string")
    removed = gc_deleted_urls(spark, out, deleted)
    assert removed == {"docs": 1, "findings": 1, "lineage": 1}
    for t in ("docs", "findings", "lineage"):
        got = {
            r["url"]
            for r in spark.read.parquet(_os.path.join(out, t)).collect()
        }
        assert got == {"u1", "u3"}
        assert not _os.path.exists(_os.path.join(out, t + "_gc_old"))
        assert not _os.path.exists(_os.path.join(out, t + "_gc_tmp"))
    # missing tables are skipped, not an error
    removed2 = gc_deleted_urls(
        spark, out, deleted, tables=("docs", "nonexistent")
    )
    assert "nonexistent" not in removed2


def test_dedup_near_flag_writes_keep_one_tables(spark, tmp_path_factory):
    """run_pipeline(dedup_near=True): docs stays complete; neardup records
    cluster membership; docs_deduped keeps exactly one per cluster."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    dup = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    uniq = (
        "completely different content about distributed query engines "
        "processing petabytes of web text with vectorized operators daily "
    ) * 4
    src_dir = tmp_path_factory.mktemp("neardup_src")
    pq_.write_table(
        _delta_tbl(
            [
                "https://a.example.com/1",
                "https://b.example.com/2",
                "https://c.example.com/3",
            ],
            [dup, dup, uniq],
        ),
        str(src_dir / "pages.parquet"),
    )
    out = str(tmp_path_factory.mktemp("neardup_out"))

    run_pipeline(
        spark,
        str(src_dir / "pages.parquet"),
        out,
        run_id="nd1",
        extract_html=False,
        dedup_near=True,
    )
    docs = spark.read.parquet(_os.path.join(out, "docs"))
    assert docs.count() == 3  # primary table untouched
    nd = {
        r["url"]: (r["component"], r["is_canonical"])
        for r in spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert nd["https://a.example.com/1"][1] is True
    assert nd["https://b.example.com/2"][1] is False
    assert nd["https://c.example.com/3"][1] is True
    assert nd["https://a.example.com/1"][0] == nd["https://b.example.com/2"][0]
    kept = {
        r["url"]
        for r in spark.read.parquet(
            _os.path.join(out, "docs_deduped")
        ).collect()
    }
    assert kept == {"https://a.example.com/1", "https://c.example.com/3"}


def test_dedup_delta_parity_and_delta_only_work(spark, tmp_path_factory):
    """Delta mode: run 1 (90% of corpus) + run 2 (10% new urls) must
    (a) shingle ONLY the delta on run 2 (signature appends == new docs),
    (b) produce neardup/docs_deduped tables identical to one-shot full
    recompute (dedup_near=True) over the whole corpus, and
    (c) be idempotent under crash-replay of run 2."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    uniq = (
        "completely different content about distributed query engines "
        "processing petabytes of web text with vectorized operators "
    )

    # batch1: 2 near-dup clusters + uniques; batch2 adds a member to
    # cluster A and a brand-new unique — so run 2 must find new x old pairs
    urls1 = [f"https://h{i}.example.com/p{i}" for i in range(8)]
    texts1 = [
        base,                                  # cluster A
        base + "tail variation one two three", # cluster A (near)
        uniq * 4,                              # cluster B
        (uniq * 4) + " small appended delta",  # cluster B (near)
    ] + [f"singleton document number {i} " + uniq[: 40 + 7 * i] + base[i * 9 : i * 9 + 220] for i in range(4)]
    urls2 = ["https://new1.example.com/x", "https://new2.example.com/y"]
    fresh = (
        "this entirely new page tells a calm story about a quiet village "
        "where people bake bread and share it with friendly travelers "
        "during the long warm summer evenings near the old stone bridge "
    ) * 3
    texts2 = [base + "another near member", fresh]

    d = tmp_path_factory.mktemp("delta_src")
    pq_.write_table(_delta_tbl(urls1, texts1), str(d / "b1.parquet"))
    full_dir = tmp_path_factory.mktemp("delta_full_src")
    pq_.write_table(
        _delta_tbl(urls1 + urls2, texts1 + texts2),
        str(full_dir / "all.parquet"),
    )

    # reference: one-shot full recompute over everything
    out_full = str(tmp_path_factory.mktemp("delta_out_full"))
    run_pipeline(
        spark, str(full_dir), out_full, run_id="f1",
        extract_html=False, dedup_near=True,
    )

    # delta: run 1 on batch1, then run 2 on the full listing (resume
    # anti-join leaves only the 2 new urls)
    out_delta = str(tmp_path_factory.mktemp("delta_out_inc"))
    run_pipeline(
        spark, str(d), out_delta, run_id="d1",
        extract_html=False, dedup_delta=True,
    )
    run_pipeline(
        spark, str(full_dir), out_delta, run_id="d2",
        extract_html=False, dedup_delta=True,
    )

    sigs = spark.read.parquet(_os.path.join(out_delta, "signatures"))
    # (a) run 2 appended signatures for exactly the 2 new docs — nothing
    # from batch1 was re-shingled; run 1 signed its scrubbed (non-dropped)
    # docs only
    assert sigs.filter(sigs.run_id == "d2").count() == len(urls2)
    # every d1 doc is signed — dropped/short docs as TOMBSTONES (empty
    # hash set) so they never re-enter the unsigned backlog
    assert sigs.filter(sigs.run_id == "d1").count() == len(urls1)
    docs_tbl = spark.read.parquet(_os.path.join(out_delta, "docs"))
    n_d1_scrubbed = docs_tbl.filter(
        (docs_tbl.run_id == "d1") & docs_tbl.scrubbed_text.isNotNull()
    ).count()
    from pyspark.sql import functions as F_

    assert (
        sigs.filter(
            (sigs.run_id == "d1") & (F_.size("shingle_hashes") > 0)
        ).count()
        == n_d1_scrubbed
    )

    def snap(out):
        nd = {
            r["url"]: (r["component"], r["is_canonical"])
            for r in spark.read.parquet(
                _os.path.join(out, "neardup")
            ).collect()
        }
        kept = {
            r["url"]
            for r in spark.read.parquet(
                _os.path.join(out, "docs_deduped")
            ).collect()
        }
        return nd, kept

    nd_full, kept_full = snap(out_full)
    nd_delta, kept_delta = snap(out_delta)
    # (b) byte-equal decisions: same components (component = min url in
    # both paths), same canonical flags, same kept set
    assert nd_delta == nd_full
    assert kept_delta == kept_full
    # sanity: the run-2 near member actually joined cluster A
    assert nd_delta["https://new1.example.com/x"][0] == nd_delta[urls1[0]][0]
    assert nd_delta["https://new1.example.com/x"][1] is False

    # (c) crash-replay of run 2: everything already SCANNED -> no new
    # signatures, outputs unchanged
    run_pipeline(
        spark, str(full_dir), out_delta, run_id="d2",
        extract_html=False, dedup_delta=True,
    )
    nd_replay, kept_replay = snap(out_delta)
    assert nd_replay == nd_full and kept_replay == kept_full


def test_crash_at_every_sink_heals_to_identical_tables(
    spark, tmp_path_factory, monkeypatch
):
    """Kill write_run_outputs at each sink seam (after docs / after
    findings / after lineage / before the commit marker): the unmarked run
    is healed on the next run, and the final four tables are identical to
    a never-crashed run."""
    import os as _os

    import pii_detector_spark.plans.pipeline as pipemod
    from pii_detector_spark.sources.datagen import write_web_pages

    src = tmp_path_factory.mktemp("crash_src") / "pages.parquet"
    write_web_pages(str(src), n_rows=120, seed=7)

    def snapshot(out):
        docs = spark.read.parquet(_os.path.join(out, "docs"))
        findings = spark.read.parquet(_os.path.join(out, "findings"))
        lineage = spark.read.parquet(_os.path.join(out, "lineage"))
        metrics = spark.read.parquet(_os.path.join(out, "metrics"))
        return (
            sorted(
                (r["url"], r["keep"], r["scrubbed_text"])
                for r in docs.collect()
            ),
            sorted(
                (r["url"], r["pii_type"], r["start"], r["end"])
                for r in findings.collect()
            ),
            sorted(r["url"] for r in lineage.collect()),
            sum(r["docs_scanned"] for r in metrics.collect()),
        )

    out_clean = str(tmp_path_factory.mktemp("crash_clean"))
    run_pipeline(spark, str(src), out_clean, run_id="ok")
    ref = snapshot(out_clean)

    def boom(*a, **k):
        raise RuntimeError("injected sink crash")

    seams = {
        "after_docs": ("pii_detector_spark.plans.pipeline.findings_table",),
        "after_findings": (
            "pii_detector_spark.plans.checkpoint.build_lineage",
        ),
        "after_lineage": (
            "pii_detector_spark.plans.checkpoint.build_metrics",
        ),
        "before_marker": (
            "pii_detector_spark.plans.pipeline.mark_run_committed",
        ),
    }
    for seam, (target,) in seams.items():
        out = str(tmp_path_factory.mktemp(f"crash_{seam}"))
        with monkeypatch.context() as mp:
            mod_path, attr = target.rsplit(".", 1)
            import importlib

            mp.setattr(importlib.import_module(mod_path), attr, boom)
            with pytest.raises(RuntimeError, match="injected sink crash"):
                run_pipeline(spark, str(src), out, run_id="c1")
        # crashed run left no marker
        assert not pipemod.run_committed(out, "c1")
        # rerun under a fresh run_id: heal removes c1 partitions, the full
        # input reprocesses, tables match the never-crashed reference
        run_pipeline(spark, str(src), out, run_id="c2")
        got = snapshot(out)
        assert got == ref, f"seam {seam}: healed tables differ"
        # nothing from the crashed run survived
        docs = spark.read.parquet(_os.path.join(out, "docs"))
        assert docs.filter(docs.run_id == "c1").count() == 0


def test_dedup_delta_backfills_presignature_runs(spark, tmp_path_factory):
    """Enabling --dedup-delta on an output whose earlier runs never
    shingled: the unsigned backlog is signed on the next delta run, so
    cross-run pairs with pre-flag docs are found."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4

    d1 = tmp_path_factory.mktemp("bf1")
    pq_.write_table(_delta_tbl(["https://bf0.example.com/a"], [base]),
                    str(d1 / "a.parquet"))
    d2 = tmp_path_factory.mktemp("bf2")
    pq_.write_table(
        _delta_tbl(
            ["https://bf0.example.com/a", "https://bf1.example.com/b"],
            [base, base + " near tail"],
        ),
        str(d2 / "b.parquet"),
    )
    out = str(tmp_path_factory.mktemp("bf_out"))

    # run 1 WITHOUT any dedup — doc bf0 is never shingled
    run_pipeline(spark, str(d1), out, run_id="r1", extract_html=False)
    assert not _os.path.isdir(_os.path.join(out, "signatures"))

    # run 2 with the flag: bf1 is new; bf0 is unsigned backlog
    run_pipeline(spark, str(d2), out, run_id="r2", extract_html=False,
                 dedup_delta=True)
    sigs = spark.read.parquet(_os.path.join(out, "signatures"))
    assert sigs.count() == 2  # backlog + delta, all signed under r2
    nd = {
        r["url"]: (r["component"], r["is_canonical"])
        for r in spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    # the cross-run near-dup pair was found
    assert nd["https://bf0.example.com/a"][0] == nd["https://bf1.example.com/b"][0]
    assert nd["https://bf0.example.com/a"][1] is True
    assert nd["https://bf1.example.com/b"][1] is False


def _delta_tbl(urls, texts):
    import pyarrow as pa

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    n = len(urls)
    return pa.table(
        {"url": urls, "warc_ts": [None] * n, "html": [None] * n,
         "text": texts, "lang": [None] * n},
        schema=schema,
    )


_DELTA_BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far "
    "away into the deep dark forest before the sun finally sets "
) * 4
_DELTA_UNIQ = (
    "completely different content about distributed query engines "
    "processing petabytes of web text with vectorized operators "
) * 4


def test_dedup_delta_resigns_changed_content(spark, tmp_path_factory):
    """A url GC'd and later re-scanned with DIFFERENT content must be
    re-signed (its old signature's content_md5 no longer matches) and its
    stale pairs dropped — the (url, content_md5) validity keying."""
    import os as _os

    import pyarrow.parquet as pq_

    u_stay = "https://cc0.example.com/stay"
    u_chg = "https://cc1.example.com/chg"
    d1 = tmp_path_factory.mktemp("cc1")
    pq_.write_table(
        _delta_tbl([u_stay, u_chg], [_DELTA_BASE, _DELTA_BASE + " near tail"]),
        str(d1 / "a.parquet"),
    )
    out = str(tmp_path_factory.mktemp("cc_out"))
    run_pipeline(spark, str(d1), out, run_id="c1", extract_html=False,
                 dedup_delta=True)
    nd1 = {
        r["url"]: r for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert nd1[u_chg]["component"] == nd1[u_stay]["component"]  # paired

    # source drops u_chg → GC removes it; then it reappears with content
    # that is NOT a near-dup any more
    d2 = tmp_path_factory.mktemp("cc2")
    pq_.write_table(_delta_tbl([u_stay], [_DELTA_BASE]), str(d2 / "b.parquet"))
    run_pipeline(spark, str(d2), out, run_id="c2", extract_html=False,
                 gc_deleted=True, dedup_delta=True)

    d3 = tmp_path_factory.mktemp("cc3")
    pq_.write_table(
        _delta_tbl([u_stay, u_chg], [_DELTA_BASE, _DELTA_UNIQ]),
        str(d3 / "c.parquet"),
    )
    run_pipeline(spark, str(d3), out, run_id="c3", extract_html=False,
                 dedup_delta=True)
    nd3 = {
        r["url"]: r for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    # changed content: no longer clustered with u_stay, own component
    assert nd3[u_chg]["component"] != nd3[u_stay]["component"]
    assert nd3[u_chg]["is_canonical"] is True
    kept = {
        r["url"] for r in spark.read.parquet(
            _os.path.join(out, "docs_deduped")
        ).collect()
    }
    assert {u_stay, u_chg} <= kept


def test_dedup_delta_recovers_pairs_after_crash_between_appends(
    spark, tmp_path_factory, monkeypatch
):
    """Crash AFTER the signature append but BEFORE the pairs append: the
    docs are signed-but-unpaired; the next delta run must treat the
    unmarked signature run as pending and recompute its pairs."""
    import os as _os

    import pyarrow.parquet as pq_

    import pii_detector_spark.operators.delta_dedup as dd
    import pii_detector_spark.plans.pipeline as pipemod

    d1 = tmp_path_factory.mktemp("pc1")
    pq_.write_table(
        _delta_tbl(
            ["https://pc0.example.com/a", "https://pc1.example.com/b",
             "https://pc2.example.com/c"],
            [_DELTA_BASE, _DELTA_BASE + " near tail", _DELTA_UNIQ],
        ),
        str(d1 / "a.parquet"),
    )
    out = str(tmp_path_factory.mktemp("pc_out"))

    real_pairs = dd.minhash_pairs_delta

    def boom(*a, **k):
        raise RuntimeError("injected pairs crash")

    with monkeypatch.context() as mp:
        mp.setattr(dd, "minhash_pairs_delta", boom)
        with pytest.raises(RuntimeError, match="injected pairs crash"):
            run_pipeline(spark, str(d1), out, run_id="p1",
                         extract_html=False, dedup_delta=True)
    # signatures landed; pairs and the pairing-coverage snapshot did not
    assert spark.read.parquet(_os.path.join(out, "signatures")).count() == 3
    assert not _os.path.isdir(_os.path.join(out, "neardup_pairs"))
    assert not _os.path.isdir(_os.path.join(out, "paired_sigs"))

    # next run (no new docs): the signed-but-unpaired signatures are
    # outside the (absent) snapshot, so their pairs are recomputed
    run_pipeline(spark, str(d1), out, run_id="p2", extract_html=False,
                 dedup_delta=True)
    paired = spark.read.parquet(_os.path.join(out, "paired_sigs"))
    assert paired.count() == 3  # full coverage after the successful run
    nd = {
        r["url"]: r for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert (nd["https://pc0.example.com/a"]["component"]
            == nd["https://pc1.example.com/b"]["component"])
    assert dd.minhash_pairs_delta is real_pairs  # patch released
    del pipemod  # module import retained for parity with other tests


def test_dedup_delta_pairs_resurrected_url_against_absence_era_docs(
    spark, tmp_path_factory
):
    """Finding-1 regression: u2 is GC'd; u3 (a near-dup of u2's content)
    arrives while u2 is absent; u2 then reappears with its ORIGINAL
    content. Its old signature is valid again but was invisible when u3
    was paired — the paired_sigs coverage snapshot must flag it and
    compute the (u2, u3) pair."""
    import os as _os

    import pyarrow.parquet as pq_

    u1 = "https://ra0.example.com/u1"
    u2 = "https://ra1.example.com/u2"
    u3 = "https://ra2.example.com/u3"

    d1 = tmp_path_factory.mktemp("ra1")
    pq_.write_table(
        _delta_tbl([u1, u2], [_DELTA_UNIQ, _DELTA_BASE]), str(d1 / "a.parquet")
    )
    out = str(tmp_path_factory.mktemp("ra_out"))
    run_pipeline(spark, str(d1), out, run_id="r1", extract_html=False,
                 dedup_delta=True)

    # u2 disappears at the source → GC
    d2 = tmp_path_factory.mktemp("ra2")
    pq_.write_table(_delta_tbl([u1], [_DELTA_UNIQ]), str(d2 / "b.parquet"))
    run_pipeline(spark, str(d2), out, run_id="r2", extract_html=False,
                 gc_deleted=True, dedup_delta=True)

    # u3 (near-dup of u2's content) arrives while u2 is absent
    d3 = tmp_path_factory.mktemp("ra3")
    pq_.write_table(
        _delta_tbl([u1, u3], [_DELTA_UNIQ, _DELTA_BASE + " near tail"]),
        str(d3 / "c.parquet"),
    )
    run_pipeline(spark, str(d3), out, run_id="r3", extract_html=False,
                 dedup_delta=True)

    # u2 resurrects with its ORIGINAL content (same md5 → old signature
    # becomes valid again without re-signing)
    d4 = tmp_path_factory.mktemp("ra4")
    pq_.write_table(
        _delta_tbl(
            [u1, u2, u3],
            [_DELTA_UNIQ, _DELTA_BASE, _DELTA_BASE + " near tail"],
        ),
        str(d4 / "d.parquet"),
    )
    run_pipeline(spark, str(d4), out, run_id="r4", extract_html=False,
                 dedup_delta=True)

    nd = {
        r["url"]: r for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    # the absence-era pair was computed: u2 and u3 share a component
    assert nd[u2]["component"] == nd[u3]["component"], nd
    assert nd[u1]["component"] != nd[u2]["component"]
    kept = {
        r["url"] for r in spark.read.parquet(
            _os.path.join(out, "docs_deduped")
        ).collect()
    }
    assert u1 in kept and len({u2, u3} & kept) == 1


def test_dedup_delta_on_fully_prefiltered_input(spark, tmp_path_factory):
    """ADVICE r4 (medium): a run whose every url is prefiltered leaves the
    partitioned docs table with run_id dirs but NO data files; the dedup
    passes must read it with an explicit schema (UNABLE_TO_INFER_SCHEMA
    otherwise) and complete as a no-op."""
    import os as _os

    import pyarrow.parquet as pq_

    d = tmp_path_factory.mktemp("pf_src")
    pq_.write_table(
        _delta_tbl(
            ["https://x.example.com/a.png", "https://x.example.com/b.zip"],
            ["ignored", "ignored"],
        ),
        str(d / "pages.parquet"),
    )
    out = str(tmp_path_factory.mktemp("pf_out"))
    res = run_pipeline(
        spark, str(d / "pages.parquet"), out, run_id="pf1",
        extract_html=False, dedup_delta=True,
    )
    assert res.docs_written == 0
    nd = spark.read.parquet(_os.path.join(out, "neardup"))
    assert nd.count() == 0
    # dedup_near over the same empty table must also survive
    out2 = str(tmp_path_factory.mktemp("pf_out2"))
    run_pipeline(
        spark, str(d / "pages.parquet"), out2, run_id="pf2",
        extract_html=False, dedup_near=True,
    )
    assert spark.read.parquet(_os.path.join(out2, "neardup")).count() == 0


def test_heal_single_run_spark_escaped_run_id(spark, tmp_path_factory):
    """ADVICE r4 (low): Spark's partition escaping differs from urllib
    quote (``run 1+x`` is written literally); heal_single_run must locate
    the partition by listing+unquoting, not by re-deriving the name."""
    import os as _os

    import pyarrow.parquet as pq_

    from pii_detector_spark.plans.pipeline import (
        heal_single_run,
        mark_run_committed,
        read_docs_table,
        run_pipeline as _rp,
    )

    d = tmp_path_factory.mktemp("esc_src")
    pq_.write_table(
        _delta_tbl(["https://esc.example.com/1"], [_DELTA_UNIQ]),
        str(d / "p.parquet"),
    )
    out = str(tmp_path_factory.mktemp("esc_out"))
    rid = "run 1+x (batch)"
    _rp(spark, str(d / "p.parquet"), out, run_id=rid, extract_html=False)
    # Spark writes the space/'+'/'(' literally — the partition exists
    docs_dirs = _os.listdir(_os.path.join(out, "docs"))
    assert any("run 1+x" in e for e in docs_dirs), docs_dirs
    # simulate a crash: remove the commit marker, then heal
    from pii_detector_spark.plans.pipeline import _marker_path

    _os.remove(_marker_path(out, rid))
    healed = heal_single_run(out, rid)
    assert "docs" in healed and "lineage" in healed
    assert read_docs_table(spark, out).count() == 0


def test_neardup_rewrite_crash_leaves_readable_tables(
    spark, tmp_path_factory, monkeypatch
):
    """ADVICE r4 (low): the neardup/docs_deduped rewrites go through
    write-aside + _swap_in, so a crash mid-rewrite leaves the OLD tables
    intact (plain in-place overwrite would delete them first)."""
    import os as _os

    import pyarrow.parquet as pq_

    from pii_detector_spark.plans import pipeline as pl

    d = tmp_path_factory.mktemp("sw_src")
    pq_.write_table(
        _delta_tbl(
            ["https://sw.example.com/1", "https://sw.example.com/2"],
            [_DELTA_BASE, _DELTA_UNIQ],
        ),
        str(d / "p.parquet"),
    )
    out = str(tmp_path_factory.mktemp("sw_out"))
    run_pipeline(spark, str(d / "p.parquet"), out, run_id="sw1",
                 extract_html=False, dedup_near=True)
    before = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert before

    real_swap = pl._swap_in

    def killed_swap(path, tmp):
        raise RuntimeError("injected kill before swap")

    monkeypatch.setattr(pl, "_swap_in", killed_swap)
    with pytest.raises(RuntimeError, match="injected kill"):
        run_pipeline(spark, str(d / "p.parquet"), out, run_id="sw2",
                     extract_html=False, dedup_near=True)
    # old table survived the crash, readable and complete
    after = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    }
    assert after == before
    # healed rerun converges
    monkeypatch.setattr(pl, "_swap_in", real_swap)
    run_pipeline(spark, str(d / "p.parquet"), out, run_id="sw3",
                 extract_html=False, dedup_near=True)
    assert {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "neardup")).collect()
    } == before


def test_job_cli_decontaminate_and_pack(spark, tmp_path_factory, monkeypatch):
    """The spark-submit entry point end-to-end with the round-5 flags:
    --decontaminate-against writes a 'contamination' table keyed by url;
    --pack-budget writes a 'shards' table over kept docs."""
    import os as _os
    import sys

    import pyarrow.parquet as pq_

    keep_text = (
        "meanwhile the curious cat walks along the quiet river and then "
        "sits beside the old wooden bridge while the evening light fades "
    ) * 4
    other = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    src = tmp_path_factory.mktemp("cli_src")
    urls = [f"https://cli.example.com/{i}" for i in range(4)]
    pq_.write_table(
        _delta_tbl(urls, [keep_text, other, keep_text + " tail", other + " x"]),
        str(src / "p.parquet"),
    )
    bench_dir = tmp_path_factory.mktemp("cli_bench")
    pq_.write_table(
        _delta_tbl(["bench://1"], [keep_text]), str(bench_dir / "b.parquet")
    )
    labels_dir = tmp_path_factory.mktemp("cli_labels")
    import pyarrow as pa_

    pq_.write_table(
        pa_.table({
            "label": [True, True, False, False],
            "text": [keep_text, keep_text + " bridge", other, other + " fox"],
        }),
        str(labels_dir / "l.parquet"),
    )
    out = str(tmp_path_factory.mktemp("cli_out"))

    import jobs.run_quality_filter as job

    monkeypatch.setattr(sys, "argv", [
        "run_quality_filter.py",
        "--input", str(src / "p.parquet"),
        "--output", out,
        "--run-id", "cli1",
        "--no-html",
        "--decontaminate-against", str(bench_dir / "b.parquet"),
        "--decontaminate-ngram", "5",
        "--pack-budget", "100",
        "--pack-materialize",
        "--host-cap", "10", "--host-cap-exact",
        "--nb-labels", str(labels_dir / "l.parquet"),
    ])
    # the job builds its own session via getOrCreate -> reuses the test one
    monkeypatch.setattr(
        type(spark), "stop", lambda self: None, raising=False
    )
    job.main()

    cont = {
        r["url"]: (r["n_hit_grams"], r["is_contaminated"])
        for r in spark.read.parquet(_os.path.join(out, "contamination")).collect()
    }
    # docs built from keep_text overlap the benchmark; others don't
    assert cont[urls[0]][1] is True and cont[urls[0]][0] > 0
    assert cont[urls[2]][1] is True
    assert cont[urls[1]] == (0, False) and cont[urls[3]] == (0, False)

    capped = spark.read.parquet(_os.path.join(out, "docs_capped"))
    assert capped.count() == capped.select("url").distinct().count()

    nb = {
        r["url"]: r["nb_keep"]
        for r in spark.read.parquet(_os.path.join(out, "nb_scores")).collect()
    }
    # classifier trained on keep_text-as-positive keeps the river docs
    # and rejects the fox docs among whatever the rule gates kept
    for u, keep in nb.items():
        assert keep is (urls.index(u) % 2 == 0)

    shards = spark.read.parquet(_os.path.join(out, "shards")).collect()
    kept_urls = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "docs"))
        .filter("keep").collect()
    }
    assert {r["url"] for r in shards} == kept_urls
    assert all(r["shard_id"] >= 0 for r in shards)
    # cumulative totals are a permutation-consistent prefix sum
    tot = sum(r["n_tokens"] for r in shards)
    assert max(r["cum_tokens"] for r in shards) == tot

    # --pack-materialize: physical shard table + manifest agree with the
    # assignment table
    data = spark.read.parquet(_os.path.join(out, "shard_data")).collect()
    assert {r["url"]: r["shard_id"] for r in data} == {
        r["url"]: r["shard_id"] for r in shards
    }
    man = spark.read.parquet(_os.path.join(out, "shard_manifest")).collect()
    assert sum(r["n_docs"] for r in man) == len(data)
    assert sum(r["n_tokens"] for r in man) == tot


def test_job_cli_canonical_dedup_and_fix_text(
    spark, tmp_path_factory, monkeypatch
):
    """--canonical-dedup collapses url families (latest warc_ts capture
    wins) before the scan; --fix-text writes the repaired-text side table
    without touching the byte-identity docs table."""
    import datetime as dt
    import os as _os
    import sys

    import pyarrow as pa_
    import pyarrow.parquet as pq_

    base_text = (
        "meanwhile the curious cat walks along the quiet river and then "
        "sits beside the old wooden bridge while the evening light fades "
    ) * 4
    # two canonical families x two captures each; the later capture of
    # each family carries mojibake for --fix-text to repair
    urls = [
        "https://www.siteA.com/p?utm_source=x",   # family A, old
        "https://siteA.com/p",                    # family A, new
        "http://www.siteB.com:80/q/",             # family B, old
        "http://siteB.com/q?utm_campaign=c",      # family B, new
    ]
    texts = [
        base_text + " old a",
        base_text + " new caf\u00c3\u00a9 a",    # 'cafÃ©' -> 'café'
        base_text + " old b",
        base_text + " new caf\u00c3\u00a9 b",
    ]
    ts = [
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 1, 2),
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 1, 2),
    ]
    schema = pa_.schema(
        [("url", pa_.string()), ("warc_ts", pa_.timestamp("us")),
         ("html", pa_.binary()), ("text", pa_.string()),
         ("lang", pa_.string())]
    )
    tbl = pa_.table(
        {"url": urls, "warc_ts": ts, "html": [None] * 4, "text": texts,
         "lang": [None] * 4},
        schema=schema,
    )
    src = tmp_path_factory.mktemp("canon_src")
    pq_.write_table(tbl, str(src / "p.parquet"))
    out = str(tmp_path_factory.mktemp("canon_out"))

    import jobs.run_quality_filter as job

    monkeypatch.setattr(sys, "argv", [
        "run_quality_filter.py",
        "--input", str(src / "p.parquet"),
        "--output", out,
        "--run-id", "canon1",
        "--no-html",
        "--canonical-dedup",
        "--fix-text",
        "--dedup-substring", "8",
    ])
    monkeypatch.setattr(
        type(spark), "stop", lambda self: None, raising=False
    )
    job.main()

    canon = spark.read.parquet(_os.path.join(out, "input_canonical"))
    rows = {r["canonical_url"]: r["url"] for r in canon.collect()}
    assert rows == {
        "https://sitea.com/p": "https://siteA.com/p",
        "http://siteb.com/q": "http://siteB.com/q?utm_campaign=c",
    }

    docs = spark.read.parquet(_os.path.join(out, "docs")).collect()
    assert {r["url"] for r in docs} == set(rows.values())
    # the docs table keeps the damaged bytes (byte-identity contract) ...
    by_url = {r["url"]: r["scrubbed_text"] for r in docs}
    assert all("caf\u00c3\u00a9" in t for t in by_url.values())

    # ... and docs_fixed carries the repaired text
    fixed = {
        r["url"]: r["text_fixed"]
        for r in spark.read.parquet(_os.path.join(out, "docs_fixed")).collect()
    }
    assert set(fixed) == set(rows.values())
    assert all("caf\u00e9" in t and "\u00c3" not in t for t in fixed.values())

    # --dedup-substring 8: url-keyed window dedup over kept docs. The two
    # survivors share the long base_text, so the lexicographically first
    # url keeps its first period and the other loses the shared windows;
    # totals shrink, urls and ids (string-keyed) survive intact.
    wdd = {
        r["url"]: r["text"]
        for r in spark.read.parquet(
            _os.path.join(out, "docs_window_deduped")
        ).collect()
    }
    assert set(wdd) == set(rows.values())
    orig_tokens = sum(len(t.split()) for t in by_url.values())
    dedup_tokens = sum(len(t.split()) for t in wdd.values())
    assert 0 < dedup_tokens < orig_tokens
    canonical_url = min(wdd)
    assert wdd[canonical_url].startswith("meanwhile the curious cat")


def test_job_cli_dsir_ppl_semdedup_expire(
    spark, tmp_path_factory, monkeypatch
):
    """The spark-submit entry point with the data-selection flags:
    --dsir-target writes url-keyed importance weights, --ppl-buckets
    writes CCNet tiers, --semdedup-embeddings writes semantic-dup
    verdicts, --expire-keep-last prunes the snapshot log."""
    import os as _os
    import sys

    import pyarrow as pa_
    import pyarrow.parquet as pq_

    river = (
        "meanwhile the curious cat walks along the quiet river and then "
        "sits beside the old wooden bridge while the evening light fades "
    ) * 4
    fox = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest before the sun finally sets "
    ) * 4
    src = tmp_path_factory.mktemp("dsr_src")
    urls = [f"https://dsr.example.com/{i}" for i in range(4)]
    texts = [river, fox, river + " tail words", fox + " extra bits"]
    # a fifth url the planted robots rules disallow: must never be scanned
    pq_.write_table(
        _delta_tbl(
            urls + ["https://dsr.example.com/blocked/5"],
            texts + [river + " blocked page"],
        ),
        str(src / "p.parquet"),
    )
    robots_dir = tmp_path_factory.mktemp("dsr_robots")
    pq_.write_table(
        pa_.table(
            {
                "host": ["dsr.example.com"],
                "robots_txt": ["User-agent: *\nDisallow: /blocked/\n"],
            }
        ),
        str(robots_dir / "r.parquet"),
    )

    tgt_dir = tmp_path_factory.mktemp("dsr_tgt")
    pq_.write_table(
        pa_.table({"text": [river, river + " calm water"]}),
        str(tgt_dir / "t.parquet"),
    )

    emb_dir = tmp_path_factory.mktemp("dsr_emb")
    pq_.write_table(
        pa_.table(
            {
                "vec_id": urls,
                "embedding": [
                    [1.0, 0.0, 0.0],
                    [0.999, 0.02, 0.0],  # near-dup of urls[0]
                    [0.0, 1.0, 0.0],
                    [0.0, 0.0, 1.0],
                ],
            },
            schema=pa_.schema(
                [("vec_id", pa_.string()),
                 ("embedding", pa_.list_(pa_.float64()))]
            ),
        ),
        str(emb_dir / "e.parquet"),
    )
    out = str(tmp_path_factory.mktemp("dsr_out"))

    import jobs.run_quality_filter as job

    monkeypatch.setattr(sys, "argv", [
        "run_quality_filter.py",
        "--input", str(src / "p.parquet"),
        "--output", out,
        "--run-id", "dsr1",
        "--no-html",
        "--robots", str(robots_dir / "r.parquet"),
        "--dsir-target", str(tgt_dir / "t.parquet"),
        "--ppl-buckets",
        "--semdedup-embeddings", str(emb_dir / "e.parquet"),
        "--semdedup-tau", "0.99",
        "--semdedup-cells", "1",
        "--bpe-merges", "15",
        "--expire-keep-last", "1",
    ])
    monkeypatch.setattr(
        type(spark), "stop", lambda self: None, raising=False
    )
    job.main()

    w = {
        r["url"]: r["dsir_weight_fp"]
        for r in spark.read.parquet(
            _os.path.join(out, "dsir_weights")
        ).collect()
    }
    all_scanned = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "docs")).collect()
    }
    # the robots-disallowed url never entered the pipeline
    assert "https://dsr.example.com/blocked/5" not in all_scanned
    assert all_scanned == set(urls)
    kept = {
        r["url"] for r in
        spark.read.parquet(_os.path.join(out, "docs"))
        .filter("keep").collect()
    }
    assert set(w) == kept
    # river docs resemble the target sample; fox docs don't
    rivers = [w[u] for u in (urls[0], urls[2]) if u in w]
    foxes = [w[u] for u in (urls[1], urls[3]) if u in w]
    assert rivers and foxes
    assert min(rivers) > max(foxes)

    tiers = spark.read.parquet(_os.path.join(out, "ppl_buckets")).collect()
    assert {r["url"] for r in tiers} == kept
    assert all(r["bucket"] in ("head", "middle", "tail") for r in tiers)
    assert all(r["word_ppl"] > 0 for r in tiers)

    dups = {
        r["vec_id"]: r["dropped"]
        for r in spark.read.parquet(
            _os.path.join(out, "semantic_dups")
        ).collect()
    }
    assert dups == {
        urls[0]: False, urls[1]: True, urls[2]: False, urls[3]: False
    }

    merges = spark.read.parquet(_os.path.join(out, "bpe_merges")).collect()
    assert len(merges) == 15
    assert sorted(r["rank"] for r in merges) == list(range(15))
    bc = {
        r["url"]: r["n_bpe_tokens"]
        for r in spark.read.parquet(
            _os.path.join(out, "bpe_counts")
        ).collect()
    }
    assert set(bc) == kept and all(v > 0 for v in bc.values())

    from pii_detector_spark.plans import snapshots as S

    assert S.current_snapshot_id(out) == 1
    assert S.snapshot_log(out)[-1].run_ids == ("dsr1",)
