"""Extraction benchmark: the production extraction path, end to end and
layer by layer, on two contrast workloads.

    python3 perfbench/run.py --workload xml_commit --seed 1 --seconds 1 --trace 0

Load shape: a closed loop with one client.  One driver process runs one
Spark job at a time on ``local[<nproc>]``; the next timed call starts
only when the previous one has returned, and no second Spark process is
ever started.

``--trace 0`` prints the end-to-end metrics of untraced calls.
``--trace 1`` makes one call in a session started with Spark's event
log on and prints the per-layer ledger: the event log of that call,
/proc samples of the JVM and its Python workers, and a single-core
replay of the corpus through the kernel.  Every call's output is
checked against the oracle digests of the corpus.  See
perfbench/README.md for the design.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"

# workload -> corpus
WORKLOADS = {"xml_commit": "xml", "extract_mix": "mix"}
N_BATCHES = 1  # run_extraction batches on xml_commit; see README.md


def _declared() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


class Bench:
    """One workload's session, timed calls and output checks."""

    def __init__(self, workload: str, corpus, cores: int, ram_mb: int, n_batches: int = N_BATCHES):
        self.workload = workload
        self.corpus = corpus
        self.cores = cores
        self.ram_mb = ram_mb
        self.n_batches = n_batches
        self.spark = None
        self.calls = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.lineage: list[dict] = []

    # ---- session -------------------------------------------------------

    def start(self, event_dir: Path | None = None) -> float:
        """Launch the JVM, start the session and spawn a Python worker per
        core with a warm-up slice through the narrow extraction path;
        returns the seconds this set-up took."""
        from perfbench import session
        from freki_spark.io import read_docs
        from freki_spark.pipeline import extract_simple

        t0 = time.perf_counter()
        self.spark = session.build(WORK, self.cores, self.ram_mb, event_dir)
        self.spark.sparkContext.setJobGroup("perfbench-setup", "warm-up slice")
        warm = read_docs(self.spark, str(self.corpus.warm_dir)).repartition(self.cores)
        extract_simple(warm).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def close(self) -> None:
        from perfbench import session

        session.shutdown(self.spark)
        self.spark = None

    # ---- timed calls ---------------------------------------------------

    def call(self) -> dict:
        """One timed call of the workload's entry point, then the check of
        its output (untimed)."""
        from perfbench.eventlog import TIMED_GROUP
        from freki_spark import spec
        from freki_spark.checkpoint import run_extraction
        from freki_spark.io import read_docs
        from freki_spark.pipeline import extract

        spark = self.spark
        self.calls += 1
        # the salted path persists a dataset it never releases; drop it
        # so that every call starts from the same cache state
        spark.catalog.clearCache()
        spark.sparkContext.setJobGroup(TIMED_GROUP, self.workload)
        docs = str(self.corpus.docs_dir)
        if self.workload != "xml_commit":
            t0 = time.perf_counter()
            table = extract(read_docs(spark, docs), salt_threshold=spec.SALT_SPAN_THRESHOLD).toArrow()
            wall = time.perf_counter() - t0
            self.compare((r["doc_id"], r["spans"], r["error"]) for r in table.to_pylist())
            # the collect delivers every row at once: it is the first output
            return {"wall": wall, "docs": table.num_rows, "first_commit": wall}

        out = WORK / "out" / self.workload
        shutil.rmtree(out, ignore_errors=True)
        started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        t0 = time.perf_counter()
        summary = run_extraction(
            spark,
            read_docs(spark, docs),
            str(out),
            run_id=f"perfbench-{self.calls}",
            n_batches=self.n_batches,
            salt_threshold=spec.SALT_SPAN_THRESHOLD,
        )
        wall = time.perf_counter() - t0
        first = self.check_commit(out, summary)
        return {
            "wall": wall,
            "docs": summary["n_docs"] + summary["n_errors"],
            "first_commit": (first - started).total_seconds(),
            "out": out,
        }

    # ---- output checks -------------------------------------------------

    def compare(self, rows) -> None:
        """Count docs whose (spans, error) differ from the oracle digest,
        or that are missing, duplicated or unknown."""
        from perfbench.corpus import digest

        expected = self.corpus.digests
        got: dict[str, str] = {}
        dup = 0
        for doc_id, spans, error in rows:
            dup += doc_id in got or doc_id not in expected
            got[doc_id] = digest(spans or [], error)
        failed = dup + sum(1 for d, h in expected.items() if got.get(d) != h)
        self.attempted += len(expected)
        self.failed += failed
        if failed:
            self.problems.append(f"{failed} docs differ from the oracle")

    def check_commit(self, out: Path, summary: dict) -> dt.datetime:
        """Read the committed output back, check it and its lineage;
        returns the first lineage commit time."""
        import pyarrow.parquet as pq

        # the batch dirs are named batch_id=<b>, but the files carry the
        # column too: read them without hive partition inference
        data = pq.read_table(out / "data", columns=["doc_id", "spans"], partitioning=None).to_pylist()
        bad = pq.read_table(out / "quarantine", columns=["doc_id", "error"], partitioning=None).to_pylist()
        self.compare(
            [(r["doc_id"], r["spans"], None) for r in data] + [(r["doc_id"], [], r["error"]) for r in bad]
        )
        lineage = pq.read_table(out / "lineage", coerce_int96_timestamp_unit="us").to_pylist()
        ident = self.corpus.identity
        n_docs = sum(r["n_docs"] for r in lineage)
        n_errors = sum(r["n_errors"] for r in lineage)
        committed = sorted(r["batch_id"] for r in lineage if r["status"] == "committed")
        if n_docs + n_errors != ident["docs"]:
            self.problems.append(f"lineage docs {n_docs} + errors {n_errors} != {ident['docs']} attempted")
        if n_errors != ident["expected_corrupt"]:
            self.problems.append(f"lineage errors {n_errors} != {ident['expected_corrupt']} corrupt docs")
        if committed != list(range(self.n_batches)) or len(lineage) != self.n_batches:
            self.problems.append(f"committed lineage rows per batch: {committed}")
        self.lineage.append({"n_docs": n_docs, "n_errors": n_errors, "batches": committed, "summary": summary})
        return min(r["committed_at"] for r in lineage)

    # ---- runs ----------------------------------------------------------

    def loop(self, seconds: float) -> tuple[list[dict], float]:
        """Closed loop of timed calls for ``seconds`` (at least one);
        returns the calls and the highest Python worker peak RSS.

        The first call is the session's first of the workload's entry
        point, as in the job script, which makes one ``run_extraction``
        call per JVM: it pays one-off costs (JIT, plan code generation)
        that a later call in the same session does not."""
        from perfbench import host, session

        calls = []
        deadline = time.perf_counter() + seconds
        with host.Sampler(session.jvm_pid()) as sampler:
            while True:
                calls.append(self.call())
                if time.perf_counter() >= deadline:
                    break
        return calls, sampler.worker_peak_mb

    def traced_call(self, event_dir: Path) -> tuple[dict, dict[str, float]]:
        """One call in a session started with the event log on; returns
        the call and the Spark half of the ledger."""
        from perfbench import eventlog, host, session

        jvm = session.jvm_pid()
        gc0, cpu0 = session.gc_ms(self.spark), host.cpu_seconds(jvm)
        with host.Sampler(jvm) as sampler:
            call = self.call()
        gc1, cpu1 = session.gc_ms(self.spark), host.cpu_seconds(jvm)
        self.spark.stop()  # flushes and closes the event log
        self.spark = None
        log = eventlog.EventLog.in_dir(event_dir)
        out = str(call["out"]) if "out" in call else None
        ledger = eventlog.spark_ledger(
            log, self.corpus.identity["docs"], str(self.corpus.docs_dir), out, self.n_batches if out else 0
        )
        ledger.update(
            {
                "spark.cpu_busy_ratio": (cpu1 - cpu0) / (call["wall"] * self.cores),
                "spark.gc_s": (gc1 - gc0) / 1000,
                "spark.jvm_peak_rss_mb": sampler.jvm_peak_mb,
                "trace.call_s": call["wall"],
            }
        )
        return call, ledger


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "freki_spark" / "__init__.py").is_file():
        print(f"perfbench: no freki_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import host

    host.adopt_orphans()
    try:
        return _run(args)
    finally:
        # the run returns only when every process it started has ended
        host.reap()


def _run(args: argparse.Namespace) -> int:
    from perfbench import corpus, host, replay, session

    begin = time.perf_counter()
    declared = _declared()
    session.prepare_env(ROOT, WORK)
    cores, ram = host.nproc(), host.ram_mb()
    burn_pre = host.burn(cores)
    t0 = time.perf_counter()
    corp = corpus.ensure(WORKLOADS[args.workload], args.seed, WORK, cores)
    corpus_s = time.perf_counter() - t0
    bench = Bench(args.workload, corp, cores, ram)
    # seconds since start at the end of each phase of this run
    phases = {"corpus": time.perf_counter() - begin}

    def mark(phase: str) -> None:
        phases[phase] = time.perf_counter() - begin

    event_dir = WORK / "events" / args.workload if args.trace else None
    if event_dir is not None:
        shutil.rmtree(event_dir, ignore_errors=True)
    try:
        # one set-up, JVM launch included, as the job script pays it; a
        # traced run starts its session with the event log on
        setup = bench.start(event_dir)
        mark("setup")
        if args.trace:
            call, layers = bench.traced_call(event_dir)
            calls = [call]
        else:
            calls, worker_peak_mb = bench.loop(args.seconds)
        mark("calls")
    finally:
        bench.close()
    mark("shutdown")
    if args.trace:
        layers.update(replay.replay(corp.docs_dir, corp.salted_ids)[0])
        mark("replay")
    burn_post = host.burn(cores)
    mark("end")

    if args.trace:
        kind, values = "per_layer", layers
    else:
        kind = "end_to_end"
        values = {
            "docs_per_s": statistics.median(c["docs"] / c["wall"] for c in calls),
            "first_commit_s": statistics.median(c["first_commit"] for c in calls),
            "setup_s": setup,
            "worker_peak_rss_mb": worker_peak_mb,
        }
    units = declared[kind]
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} disagree with BENCHMARK.json")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} calls={len(calls)}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(f"  failed_docs = {bench.failed} of {bench.attempted} docs")
    for p in bench.problems:
        print(f"  problem: {p}")
    record = {
        "corpus": corp.identity,
        "host": {"nproc": cores, "ram_mb": ram, "driver_memory_mb": session.driver_memory_mb(ram)},
        "corpus_s": corpus_s,
        "burn_pre_s": burn_pre,
        "burn_post_s": burn_post,
        "n_batches": N_BATCHES,
        "call_walls_s": [c["wall"] for c in calls],
        "setup_s": setup,
        "phase_end_s": phases,
        "lineage": bench.lineage,
    }
    print("record " + json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": not bench.problems,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
