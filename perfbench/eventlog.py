"""Per-layer Spark metrics from Spark's own event log.

The benchmark turns the event log on for its one traced call and tags
that call's jobs with the job group ``TIMED_GROUP``.  This module reads
the uncompressed JSON-lines log back and derives:

- SQL-metric sums per plan node kind (input scans, the ``MapInArrow``
  narrow path, the S7 ``MapInPandas`` / ``FlatMapGroupsInPandas``
  nodes), by mapping accumulator ids to the plan nodes that own them;
- task-level facts (durations, shuffle bytes, failures) of the stages
  those jobs ran;
- for ``run_extraction``, the wall of every SQL execution classified by
  the paths it reads and writes (``data/``, ``quarantine/``,
  ``lineage/`` under the output dir, or the input corpus) — never by
  source line numbers.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field
from pathlib import Path

TIMED_GROUP = "perfbench-timed"
PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas")
CHECKPOINT_METRICS = {
    "persist": "checkpoint.persist_s",
    "data": "checkpoint.data_write_s",
    "quarantine": "checkpoint.quarantine_write_s",
    "stats": "checkpoint.stats_read_s",
    "lineage": "checkpoint.lineage_s",
}
_INSERT = "Execute InsertIntoHadoopFsRelationCommand"
_LOCATION = re.compile(r"\[(.*)\]")


@dataclass
class Node:
    name: str
    text: str
    metadata: dict
    metrics: dict[int, tuple[str, str]]  # accumulator id -> (metric name, type)
    children: list["Node"]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


@dataclass
class Execution:
    start_ms: int
    end_ms: int = 0
    plans: list[Node] = field(default_factory=list)

    def nodes(self):
        for plan in self.plans:
            yield from plan.walk()

    def writes(self) -> list[str]:
        return [n.text[len(_INSERT) :].split(",")[0].strip() for n in self.nodes() if n.name == _INSERT]

    def reads(self) -> list[str]:
        out = []
        for n in self.nodes():
            m = _LOCATION.search(n.metadata.get("Location", ""))
            if n.name.startswith("Scan parquet") and m:
                out.extend(p.strip() for p in m.group(1).split(","))
        return out


def _integral(value) -> bool:
    return isinstance(value, int) or (isinstance(value, str) and value.lstrip("-").isdigit())


def _node(info: dict) -> Node:
    return Node(
        info["nodeName"],
        info.get("simpleString", ""),
        info.get("metadata", {}),
        {m["accumulatorId"]: (m["name"], m["metricType"]) for m in info["metrics"]},
        [_node(c) for c in info["children"]],
    )


class EventLog:
    """The parsed log of one Spark application."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stages: set[int] = set()
        self.tasks: list[dict] = []
        self.sql: dict[int, Execution] = {}
        self.driver_accums: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def in_dir(cls, event_dir: Path) -> "EventLog":
        logs = [p for p in event_dir.iterdir() if not p.name.startswith(".")]
        if len(logs) != 1 or logs[0].name.endswith(".inprogress"):
            raise RuntimeError(f"expected one finished event log in {event_dir}, found {logs}")
        return cls(logs[0])

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "sql": int(sql_id) if sql_id is not None else None,
                "start_ms": e["Submission Time"],
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            self.stages.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info, metrics = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append(
                {
                    "stage": e["Stage ID"],
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "ok": e["Task End Reason"]["Reason"] == "Success",
                    "retry": info["Attempt"] > 0 or info["Speculative"],
                    "shuffle_bytes": metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    # SQL metric updates are logged as decimal strings
                    "accums": {a["ID"]: int(a["Update"]) for a in info["Accumulables"] if _integral(a.get("Update"))},
                }
            )
        elif kind == "SparkListenerSQLExecutionStart":
            ex = Execution(e["time"])
            ex.plans.append(_node(e["sparkPlanInfo"]))
            self.sql[e["executionId"]] = ex
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self.sql[e["executionId"]].plans.append(_node(e["sparkPlanInfo"]))
        elif kind == "SparkListenerSQLExecutionEnd":
            self.sql[e["executionId"]].end_ms = e["time"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, value in e["accumUpdates"]:
                self.driver_accums[acc] = self.driver_accums.get(acc, 0) + value


class Timed:
    """The jobs, stages, tasks and SQL executions of one job group."""

    def __init__(self, log: EventLog, group: str = TIMED_GROUP):
        self.log = log
        self.jobs = {j: job for j, job in log.jobs.items() if job["group"] == group}
        if not self.jobs:
            raise RuntimeError(f"no jobs of group {group!r} in the event log")
        self.sql_ids = sorted({job["sql"] for job in self.jobs.values() if job["sql"] is not None})
        self.stage_ids = {s for job in self.jobs.values() for s in job["stages"]} & log.stages
        self.tasks = [t for t in log.tasks if t["stage"] in self.stage_ids]
        self.nodes = [n for i in self.sql_ids for n in log.sql[i].nodes()]
        totals: dict[int, int] = {}
        for t in self.tasks:
            for acc, v in t["accums"].items():
                totals[acc] = totals.get(acc, 0) + v
        self._totals = totals

    def metric(self, nodes, metric: str) -> int:
        """Sum of ``metric`` over ``nodes`` (timings in ms, sizes in
        bytes); a node repeated by an adaptive re-plan counts once."""
        accs = {acc for n in nodes for acc, (name, _) in n.metrics.items() if name == metric}
        return sum(self._totals.get(a, 0) + self.log.driver_accums.get(a, 0) for a in accs)

    def named(self, *names: str) -> list[Node]:
        return [n for n in self.nodes if n.name in names]


def _under(path: str, root: str) -> bool:
    path = path.removeprefix("file:")
    return path == root or path.startswith(root + "/")


def input_scans(timed: Timed, corpus: str) -> list[Node]:
    """Nodes that read the input corpus: parquet scans of it, and scans
    of its cached copy (an ``InMemoryTableScan`` whose plan reads the
    corpus through no Python node).  A scan nested under such a cache
    scan is the cache being built, not another pass."""

    def reads_corpus(n: Node) -> bool:
        m = _LOCATION.search(n.metadata.get("Location", ""))
        return (
            n.name.startswith("Scan parquet")
            and m is not None
            and any(_under(p.strip(), corpus) for p in m.group(1).split(","))
        )

    def corpus_cache(n: Node) -> bool:
        if n.name != "InMemoryTableScan":
            return False
        below = list(n.walk())[1:]
        return any(map(reads_corpus, below)) and not any(b.name in PYTHON_NODES for b in below)

    out: list[Node] = []

    def visit(n: Node) -> None:
        if corpus_cache(n) or reads_corpus(n):
            out.append(n)
            return
        for c in n.children:
            visit(c)

    for i in timed.sql_ids:
        for plan in timed.log.sql[i].plans:
            visit(plan)
    return out


def salted_inputs(timed: Timed) -> list[Node]:
    """The node feeding each S7 stage-1 ``MapInPandas``: the first node
    below it that counts its output rows."""
    out = []
    for n in timed.named("MapInPandas"):
        for below in list(n.walk())[1:]:
            if any(name == "number of output rows" for name, _ in below.metrics.values()):
                out.append(below)
                break
    return out


def classify(ex: Execution, out_dir: str, corpus: str) -> str:
    """The ``run_extraction`` step one SQL execution belongs to."""
    writes, reads = ex.writes(), ex.reads()
    for cls in ("data", "quarantine", "lineage"):
        if any(_under(p, f"{out_dir}/{cls}") for p in writes):
            return cls
    if any(_under(p, f"{out_dir}/lineage") for p in reads):
        return "lineage"
    if any(_under(p, f"{out_dir}/data") or _under(p, f"{out_dir}/quarantine") for p in reads):
        return "stats"
    if not writes and any(_under(p, corpus) for p in reads):
        return "persist"
    raise ValueError(f"unclassified execution: writes={writes} reads={reads}")


def checkpoint_jobs(timed: Timed, out_dir: str, corpus: str) -> dict[int, str]:
    """Class of every timed job.  A job outside any SQL execution (a
    parquet footer read) belongs to the next execution it prepares."""
    cls_of_sql = {i: classify(timed.log.sql[i], out_dir, corpus) for i in timed.sql_ids}
    starts = sorted((timed.log.sql[i].start_ms, i) for i in timed.sql_ids)
    out = {}
    for j, job in timed.jobs.items():
        sql = job["sql"]
        if sql is None:
            nxt = [i for t, i in starts if t >= job["start_ms"]]
            if not nxt:
                raise ValueError(f"job {j} precedes no SQL execution")
            sql = nxt[0]
        out[j] = cls_of_sql[sql]
    return out


def checkpoint_walls(timed: Timed, out_dir: str, corpus: str) -> tuple[dict[str, float], int]:
    """Seconds per checkpoint class (SQL execution walls, plus the walls
    of the footer-read jobs outside them) and the number of jobs."""
    walls = dict.fromkeys(CHECKPOINT_METRICS, 0.0)
    for i in timed.sql_ids:
        ex = timed.log.sql[i]
        walls[classify(ex, out_dir, corpus)] += (ex.end_ms - ex.start_ms) / 1000
    classes = checkpoint_jobs(timed, out_dir, corpus)
    for j, job in timed.jobs.items():
        if job["sql"] is None:
            walls[classes[j]] += (job["end_ms"] - job["start_ms"]) / 1000
    return walls, len(classes)


def spark_ledger(log: EventLog, docs: int, corpus: str, out_dir: str | None, batches: int) -> dict[str, float]:
    """The event-log half of the per-layer ledger for the timed call."""
    timed = Timed(log)
    corpus = corpus.removeprefix("file:")
    scans = input_scans(timed, corpus)
    parquet_scans = [n for s in scans for n in s.walk() if n.name.startswith("Scan parquet")]
    python = timed.named(*PYTHON_NODES)
    salted = timed.metric(salted_inputs(timed), "number of output rows")
    narrow = timed.metric(timed.named("MapInArrow"), "number of output rows")

    python_accs = {a for n in python for a in n.metrics}
    extraction_stages = {t["stage"] for t in timed.tasks if python_accs & t["accums"].keys()}
    task_s = [t["ms"] / 1000 for t in timed.tasks if t["stage"] in extraction_stages]
    out = {
        "io.scan_passes": timed.metric(scans, "number of output rows") / docs,
        "io.scan_time_s": timed.metric(parquet_scans, "scan time") / 1000,
        "pipeline.extract_passes_per_doc": (narrow + salted) / docs,
        "pipeline.python_run_s": timed.metric(python, "time to run Python workers") / 1000,
        "pipeline.python_start_s": (
            timed.metric(python, "time to start Python workers")
            + timed.metric(python, "time to initialize Python workers")
        )
        / 1000,
        "pipeline.bytes_to_python": timed.metric(python, "data sent to Python workers"),
        "pipeline.bytes_from_python": timed.metric(python, "data returned from Python workers"),
        "pipeline.max_task_s": max(task_s, default=0.0),
        "pipeline.task_skew": max(task_s) / statistics.median(task_s) if task_s else 0.0,
        "pipeline.salted_docs": salted,
        "pipeline.shuffle_write_bytes": sum(t["shuffle_bytes"] for t in timed.tasks),
        "pipeline.stages_per_run": len(timed.stage_ids),
        "spark.failed_tasks": sum(1 for t in timed.tasks if not t["ok"] or t["retry"]),
    }
    walls = dict.fromkeys(CHECKPOINT_METRICS, 0.0)
    jobs = 0
    if out_dir is not None:
        walls, jobs = checkpoint_walls(timed, out_dir.removeprefix("file:"), corpus)
    out.update({CHECKPOINT_METRICS[k]: v for k, v in walls.items()})
    out["checkpoint.jobs_per_batch"] = jobs / batches if batches else 0.0
    return out
