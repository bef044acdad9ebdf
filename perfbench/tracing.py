"""Per-layer attribution of Spark work, measured from outside the engine.

The benchmark opens a span around each call into a public entry point
(``CheckpointedRunner.run``, the model kernels, the decode kernel), named
after that entry point's layer. After a traced run it reads every Spark job of the run from
the status store (it keeps working with the UI off) and gives each job a
layer:

* a job whose Python call site lies in an engine module belongs to that
  module's layer (``collect at .../suite.py:90`` -> ``suite``);
* any other job (a JVM call site such as ``... at CompletableFuture.java``,
  or a call site in the benchmark's own files) belongs to the span that
  encloses its submission.

A layer's wall time is the union of its job intervals; ``driver.gap_s`` is
the part of a span that no job covers (plan building, collects, inlined
literals, driver-side maths). Process-tree CPU and RSS come from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

# Engine module (path fragment) -> layer. First match wins.
MODULE_LAYERS = (
    ("anomalydetection_spark/suite.py", "suite"),
    ("anomalydetection_spark/plans/", "suite"),
    ("anomalydetection_spark/checks/", "checks"),
    ("anomalydetection_spark/image_udfs.py", "image_udfs"),
    ("anomalydetection_spark/kernels/recommender.py", "kernels.recommender"),
    ("anomalydetection_spark/kernels/timeseries.py", "kernels.timeseries"),
    ("anomalydetection_spark/functions/similarity.py", "similarity"),
    ("anomalydetection_spark/checkpoint.py", "checkpoint"),
)
LAYERS = ("suite", "checks", "image_udfs", "kernels.recommender",
          "kernels.timeseries", "similarity", "checkpoint")
LAYER_FIELDS = ("jobs", "tasks", "wall_s", "cpu_s", "shuffle_write_mb",
                "spill_mb")
MB = float(1 << 20)
# job times are whole milliseconds; span times are not
_CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    layer: str
    start: float  # epoch seconds
    end: float


@dataclass
class Job:
    job_id: int
    name: str  # Spark's call site, e.g. "collect at /x/suite.py:90"
    start: float
    end: float
    stage_ids: list[int] = field(default_factory=list)


def call_site_layer(name: str) -> str | None:
    """Layer of an engine module named in a job's call site, else None."""
    _, sep, site = name.partition(" at ")
    if not sep:
        return None
    path = site.rsplit(":", 1)[0]
    for fragment, layer in MODULE_LAYERS:
        if fragment in path:
            return layer
    return None


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def enclosing_span(job: Job, spans: list[Span]) -> int | None:
    for i, s in enumerate(spans):
        if s.start - _CLOCK_SLACK_S <= job.start <= s.end + _CLOCK_SLACK_S:
            return i
    return None


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, tuple[int, str]]:
    """job_id -> (span index, layer) for every job submitted inside a span."""
    out = {}
    for j in jobs:
        i = enclosing_span(j, spans)
        if i is not None:
            out[j.job_id] = (i, call_site_layer(j.name) or spans[i].layer)
    return out


def account_spans(jobs: list[Job], spans: list[Span]) -> list[dict]:
    """Per span: its wall, each layer's covered wall inside it, and the
    driver gap. Layer walls + gap equal the span wall unless jobs of two
    layers overlap in time; ``residual_s`` reports that overlap."""
    owner = attribute(jobs, spans)
    rows = []
    for i, s in enumerate(spans):
        mine = [(j, owner[j.job_id][1]) for j in jobs
                if owner.get(j.job_id, (None,))[0] == i]
        clip = [(max(j.start, s.start), min(j.end, s.end), layer)
                for j, layer in mine]
        clip = [(a, b, layer) for a, b, layer in clip if b > a]
        covered = union_length((a, b) for a, b, _ in clip)
        layers = {}
        for layer in {layer for _, _, layer in clip}:
            layers[layer] = union_length(
                (a, b) for a, b, lay in clip if lay == layer)
        wall = s.end - s.start
        gap = wall - covered
        rows.append({
            "span": s.layer, "wall_s": wall, "layers_wall_s": layers,
            "driver_gap_s": gap,
            "residual_s": wall - sum(layers.values()) - gap,
        })
    return rows


def layer_totals(jobs: list[Job], stages: dict[int, dict],
                 spans: list[Span]) -> dict[str, float]:
    """Flat per-layer metrics of one run (``<layer>.<field>``), plus
    ``scan.*`` and ``driver.gap_s``. Each stage counts once, for the first
    job of the run that lists it; skipped stages carry no work."""
    owner = attribute(jobs, spans)
    out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
    out.update({"scan.input_mb": 0.0, "scan.input_rows": 0.0})
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j.job_id):
        if j.job_id not in owner:
            continue
        layer = owner[j.job_id][1]
        out[f"{layer}.jobs"] += 1
        for sid in j.stage_ids:
            st = stages.get(sid)
            if sid in seen or st is None or st.get("status") != "COMPLETE":
                continue
            seen.add(sid)
            out[f"{layer}.tasks"] += st["numCompleteTasks"]
            out[f"{layer}.cpu_s"] += st["executorCpuTime"] / 1e9
            out[f"{layer}.shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            out[f"{layer}.spill_mb"] += st["diskBytesSpilled"] / MB
            out["scan.input_mb"] += st["inputBytes"] / MB
            out["scan.input_rows"] += st["inputRecords"]
    gap = 0.0
    for row in account_spans(jobs, spans):
        gap += row["driver_gap_s"]
        for layer, wall in row["layers_wall_s"].items():
            out[f"{layer}.wall_s"] += wall
    out["driver.gap_s"] = gap
    return out


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    @contextlib.contextmanager
    def span(self, layer: str):
        yield


class Tracer:
    """Records spans for one run and reads that run's jobs and stages."""

    def __init__(self, spark):
        self.spans: list[Span] = []
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    @contextlib.contextmanager
    def span(self, layer: str):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, start, time.time()))

    def collect(self) -> tuple[list[Job], dict[int, dict]]:
        """Jobs submitted during this tracer's spans, and all stages."""
        raw = json.loads(self._mapper.writeValueAsString(
            self._store.jobsList(None)))
        first = min(s.start for s in self.spans) - _CLOCK_SLACK_S
        jobs = [
            Job(r["jobId"], r["name"], r["submissionTime"] / 1e3,
                (r["completionTime"] or r["submissionTime"]) / 1e3,
                list(r["stageIds"]))
            for r in raw
            if r.get("submissionTime") and r["submissionTime"] / 1e3 >= first
        ]
        stages = json.loads(self._mapper.writeValueAsString(
            self._store.stageList(None, False, False, self._no_quantiles,
                                  None)))
        return jobs, {s["stageId"]: s for s in stages}


def gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (local mode: the executors)."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


# ---------------------------------------------------------------- /proc
_CLK_TCK = os.sysconf("SC_CLK_TCK")
RSS_SAMPLE_S = 0.5


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def cpu_ticks(pids) -> dict[int, int]:
    """pid -> user+system ticks of the process and its reaped children."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = sum(int(x) for x in fields[11:15])
    return out


def host_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the whole machine, from ``/proc/stat``: busy
    is user, nice, system, irq and softirq time; steal is time a virtual
    CPU was ready to run while the host ran something else."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def ran_s(wall: float, before: tuple[int, int],
          after: tuple[int, int]) -> float:
    """``wall`` less the host's steal: wall × (1 − stolen share of the CPU
    time the machine wanted in the interval). On a shared host the steal
    share moves by 10 points between minutes, and wall times with it."""
    busy, steal = (a - b for a, b in zip(after, before))
    return wall * (1 - steal / (busy + steal)) if busy + steal else wall


def cpu_delta_s(before: dict[int, int], after: dict[int, int]) -> float:
    return sum(t - before.get(pid, 0) for pid, t in after.items()) / _CLK_TCK


def rss_mb(pids) -> float:
    """Proportional set size of ``pids``: resident memory with each shared
    page split between its sharers, so a forked child (a Python worker, or
    a JVM child about to exec) does not count its parent's pages again."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Samples the memory (PSS) of the driver, the JVM and the Python workers
    on a background thread; ``peak_mb`` / ``worker_peak_mb`` hold the peaks.

    Other processes in the tree are left out: they are children the JVM
    forks to run a command. Read between the fork and the exec, such a
    child holds half of the JVM's pages, and if the JVM is read after
    the child is gone the sum counts those pages one and a half times
    (one run read 5.6 GB where the others read 3.4 GB)."""

    def __init__(self, root: int, jvm: int):
        self.root = root
        self.jvm = jvm
        self.peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        workers = [p for p in process_tree(self.root) if is_python_worker(p)]
        self.peak_mb = max(self.peak_mb,
                           rss_mb([self.root, self.jvm, *workers]))
        self.worker_peak_mb = max(self.worker_peak_mb, rss_mb(workers))

    def _loop(self) -> None:
        while not self._stop.wait(RSS_SAMPLE_S):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
