"""Self-tests of the extraction benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

They start Spark (one JVM at a time, in this process) and take a few
minutes: every workload is smoke-run on a tiny corpus, in both trace
modes.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import corpus, eventlog, host, replay, run, session  # noqa: E402

SEED = 7
# smoke-size corpora: every profile kind, built in seconds
TINY_SIZES = {"xml": (24, 0, 0), "mix": (24, 32, 1)}
TINY_MEGA_PAGES = 10


@pytest.fixture
def tiny(monkeypatch):
    """Shrinks the corpora to smoke size; returns a corpus builder."""
    monkeypatch.setattr(corpus, "SIZES", TINY_SIZES)
    monkeypatch.setattr(corpus, "MEGA_PAGES", TINY_MEGA_PAGES)
    return lambda name: corpus.ensure(name, SEED, run.WORK, host.nproc())


def test_job_conf_is_the_job_scripts_conf():
    """session.JOB_CONF holds exactly the .config pairs of jobs/extract.py."""
    tree = ast.parse((ROOT / "jobs" / "extract.py").read_text())
    calls = [
        c
        for c in ast.walk(tree)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute) and c.func.attr == "config"
    ]
    pairs = {tuple(a.value for a in c.args) for c in calls if all(isinstance(a, ast.Constant) for a in c.args)}
    assert len(pairs) == len(calls), "a .config call in jobs/extract.py has a non-literal argument"
    assert pairs == set(session.JOB_CONF)


def test_replay_outputs_equal_the_unwrapped_kernels(tiny):
    from freki_spark import html_kernel, kernel

    corp = tiny("mix")
    original = kernel.extract_document_rows
    metrics, outputs = replay.replay(corp.docs_dir, corp.salted_ids, keep_outputs=True)
    assert kernel.extract_document_rows is original, "replay left a timer installed"

    import pyarrow.dataset as ds

    rows = ds.dataset(str(corp.docs_dir), format="parquet").to_table().to_pylist()
    narrow = [r for r in rows if r["doc_id"] not in corp.salted_ids]
    assert set(outputs) == {r["doc_id"] for r in narrow}
    fields = ("kind", "text", "media_ref", "offset")
    dialects = set()
    for r in narrow:
        spans, error = kernel.extract_document_rows(r["doc_id"], r["spans"])
        if replay.dialect(r["spans"]) == "html":
            assert html_kernel.extract_document_rows(r["doc_id"], r["spans"]) == (spans, error)
        dialects.add(replay.dialect(r["spans"]))
        assert outputs[r["doc_id"]] == ([{k: s[k] for k in fields} for s in spans], error)
    assert dialects == {"tetml", "pdfminer", "html"}
    for name in ("kernel.ms_per_doc.tetml", "kernel.group_ms_per_shard", "html_kernel.ms_per_doc"):
        assert metrics[name] > 0, name


def test_replay_fails_loudly_when_a_target_is_gone(monkeypatch, tiny):
    from freki_spark import kernel

    corp = tiny("mix")
    original = kernel.extract_document_rows
    monkeypatch.setattr(replay, "TARGETS", (*replay.TARGETS, "freki_spark.kernel.no_such_stage"))
    with pytest.raises(AttributeError, match="no_such_stage"):
        replay.replay(corp.docs_dir, corp.salted_ids)
    assert kernel.extract_document_rows is original


def test_event_log_classifies_every_job_of_a_two_batch_run(tiny):
    corp = tiny("xml")
    session.prepare_env(run.ROOT, run.WORK)
    bench = run.Bench("xml_commit", corp, host.nproc(), host.ram_mb(), n_batches=2)
    event_dir = run.WORK / "events" / "selftest"
    shutil.rmtree(event_dir, ignore_errors=True)
    try:
        bench.start(event_dir)
        call, ledger = bench.traced_call(event_dir)
    finally:
        bench.close()
    assert not bench.problems and bench.failed == 0
    timed = eventlog.Timed(eventlog.EventLog.in_dir(event_dir))
    classes = eventlog.checkpoint_jobs(timed, str(call["out"]), str(corp.docs_dir))
    assert set(classes) == set(timed.jobs)
    assert set(classes.values()) == set(eventlog.CHECKPOINT_METRICS)
    assert ledger["pipeline.extract_passes_per_doc"] == 2.0
    assert ledger["checkpoint.jobs_per_batch"] * 2 == len(timed.jobs)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace, tiny, capsys):
    argv = ["--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    assert run.main(argv) == 0
    assert host.descendants(os.getpid())[1:] == [], "the run left a process running"
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    declared = run._declared()["per_layer" if trace else "end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == declared
    for name, unit in declared.items():
        assert any(ln.startswith(f"  {name} = ") and ln.endswith(f" {unit}") for ln in lines), name
    if not trace:
        return
    m = {k: v["value"] for k, v in result["metrics"].items()}
    checkpoint = [v for k, v in m.items() if k.startswith("checkpoint.")]
    if workload == "xml_commit":
        # the commit path extracts every doc twice (data, then quarantine)
        assert m["pipeline.extract_passes_per_doc"] == 2.0
        assert m["pipeline.salted_docs"] == 0 and all(v > 0 for v in checkpoint)
    else:
        assert m["pipeline.extract_passes_per_doc"] == 1.0
        assert m["pipeline.salted_docs"] == 1 and not any(checkpoint)


def test_bare_checkout_fails_without_a_result():
    """In a directory holding only BENCHMARK.json and perfbench/ the
    benchmark exits non-zero and prints no result."""
    bare = run.WORK / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    (bare / "perfbench").mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for f in (ROOT / "perfbench").glob("*.py"):
        shutil.copy(f, bare / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "xml_commit", "--seed", "1", "--seconds", "1"],
        cwd=bare,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
