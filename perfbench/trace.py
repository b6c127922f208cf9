"""Spans, Spark status-store readers and the RSS sampler.

A span is (name, start, end, parent) recorded around a call into one layer's
public function. Each span runs its Spark jobs under a job group of its own,
so stage and SQL-node metrics can be attributed to it afterwards from
``sc().statusStore()`` (stages) and ``sharedState().statusStore()`` (SQL
plan nodes). Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: str | None
    start: float = 0.0
    end: float = 0.0
    group: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a plain timer."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent.name if parent else None)
        if self.enabled:
            s.group = f"pb{len(self.spans)}-{name}"
            self.spark.sparkContext.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)
                if parent is not None:
                    self.spark.sparkContext.setJobGroup(parent.group, parent.name)
                else:
                    self.spark.sparkContext._jsc.clearJobGroup()

    def descendants(self, name: str) -> list[Span]:
        """The named span and every span nested under it."""
        names, out = {name}, []
        for s in reversed(self.spans):  # children close before parents
            if s.name in names or s.parent in names:
                names.add(s.name)
                out.append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Span duration minus the union of its children's intervals."""
        out = {}
        for s in self.spans:
            kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.name)
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.name] = s.seconds - covered
        return out

    def records(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"name": s.name, "parent": s.parent, "start": s.start - t0, "end": s.end - t0}
            for s in self.spans
        ]


# ------------------------------------------------------------ status stores


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ("2,400", "2.9 MiB",
    "14.4 s", or "total (min, med, max ...)\\n<value> (...)") -> number, in
    bytes for sizes and seconds for times. Sizes and times keep the three
    significant digits the store keeps."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return val * _SIZE[unit]
    return val * _TIME.get(unit, 1.0)


def wait_for_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def group_stats(spark, groups: set[str]) -> dict:
    """Stage totals and SQL node metrics of every job run under ``groups``."""
    wait_for_listeners(spark)
    st = spark.sparkContext._jsc.sc().statusStore()
    job_ids, stage_ids = set(), set()
    for j in _seq(st.jobsList(None)):
        if _opt(j.jobGroup()) in groups:
            job_ids.add(int(j.jobId()))
            stage_ids.update(int(s) for s in _seq(j.stageIds()))
    out = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_records": 0, "spill_bytes": 0, "intervals": [],
    }
    for sid in sorted(stage_ids):
        sd = st.lastStageAttempt(sid)
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(sd.numCompleteTasks())
        out["run_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
        out["shuffle_records"] += int(sd.shuffleWriteRecords())
        out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        a, b = _opt(sd.submissionTime()), _opt(sd.completionTime())
        if a is not None and b is not None:
            out["intervals"].append((a.getTime() / 1e3, b.getTime() / 1e3))
    out["nodes"] = _sql_nodes(spark, job_ids)
    return out


def _sql_nodes(spark, job_ids: set[int]) -> list[dict]:
    """Plan nodes (name, desc, metrics, children) of every SQL execution that
    ran one of ``job_ids``."""
    ss = spark._jsparkSession.sharedState().statusStore()
    nodes = []
    for e in _seq(ss.executionsList()):
        it = e.jobs().keysIterator()
        ran = set()
        while it.hasNext():
            ran.add(int(it.next()))
        if not ran & job_ids:
            continue
        eid = e.executionId()
        values = ss.executionMetrics(eid)
        graph = ss.planGraph(eid)
        kids: dict[int, list[int]] = {}
        for edge in _seq(graph.edges()):
            kids.setdefault(int(edge.toId()), []).append(int(edge.fromId()))
        by_id = {}
        for n in _seq(graph.allNodes()):
            metrics = {}
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            by_id[int(n.id())] = {
                "exec": int(eid), "id": int(n.id()), "name": n.name(),
                "desc": n.desc(), "metrics": metrics,
            }
        for nid, node in by_id.items():
            node["children"] = [by_id[c] for c in kids.get(nid, []) if c in by_id]
        nodes.extend(by_id.values())
    return nodes


def input_rows(node: dict) -> float:
    """Rows entering ``node``: the row count of its nearest descendants that
    report one (Project and codegen wrappers report none)."""
    total = 0.0
    for c in node["children"]:
        if "number of output rows" in c["metrics"]:
            total += c["metrics"]["number of output rows"]
        else:
            total += input_rows(c)
    return total


def idle_seconds(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Span wall time during which no stage of its jobs was running."""
    wall0 = time.time() - time.perf_counter()  # perf_counter -> epoch
    a0, b0 = span.start + wall0, span.end + wall0
    busy, cur = 0.0, None
    for a, b in sorted((max(a, a0), min(b, b0)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                busy += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        busy += cur[1] - cur[0]
    return max(span.seconds - busy, 0.0)


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def clear_cache(spark) -> int:
    """Drop every cached Dataset and persisted RDD; returns how many
    persisted RDDs survive (0 unless something pins them)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return persisted_rdds(spark)


# -------------------------------------------------------------------- RSS


def _tree_rss(root: int) -> dict[str, int]:
    """RSS in bytes of ``root`` and all its descendants, from /proc, summed
    into the Python driver (``root``), the JVM and the Python workers."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    page = os.sysconf("SC_PAGE_SIZE")
    parts = {"python_driver": 0, "jvm": 0, "python_workers": 0}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, IndexError, ValueError):
            continue
        key = "python_driver" if pid == root else ("jvm" if comm == "java" else "python_workers")
        parts[key] += rss
    return parts


class RssSampler:
    """Samples the summed RSS of this process tree (Python driver, driver
    JVM, Python workers) every ``interval`` seconds from a daemon thread.
    ``peak`` is the largest sum seen, ``peak_parts`` its split."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = _tree_rss(os.getpid())
        if sum(parts.values()) > self.peak:
            self.peak, self.peak_parts = sum(parts.values()), parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
