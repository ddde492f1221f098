"""Run context and measurement helpers for the benchmark harness.

- ``Tracer``: outside-in spans around the benchmark's calls into package
  layers. Spans stay in memory; Spark's own stage counters and job
  windows are read from the status store once, after the timed phase,
  and attributed to the innermost span that was open when each stage
  was submitted.
- ``RssSampler``: one thread polling ``/proc/<pid>/status`` VmRSS of the
  driver JVM and every process below it (the ``pyspark.daemon`` worker
  tree).
- ``calibration_s``: a fixed CPU-bound numpy loop, printed as run context
  so a slow host window is visible next to the metrics.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

import numpy as np

# Every span reports these, per layer; layers without spans report 0.
LAYER_FIELDS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("driver_s", "s"),
    ("plan_s", "s"),
    ("task_s", "s"),
    ("shuffle_write_mb", "MiB"),
    ("spill_disk_mb", "MiB"),
    ("failed_tasks", "count"),
)

# layer -> extra counts (name, unit); the layer names are package modules
LAYERS = {
    "sources.pbf": (("rows_out", "count"), ("payload_mb_in", "MiB"), ("bad_payloads", "count")),
    "plans.checkpoint": (("partitions_committed", "count"),),
    "operators.joins": (("refs_resolved_frac", "ratio"),),
    "operators.tiling": (("tile_rows_out", "count"), ("bytes_written", "bytes")),
    "operators.dedup": (("pairs_out", "count"),),
    "operators.graph": (("rounds", "count"), ("final_edges", "count")),
}

# whole-run figures of a traced run (times per warm iteration)
TRACE_FIELDS = (
    ("trace.job_s", "s"),
    ("trace.untraced_job_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.span_self_s", "s"),
    ("trace.unattributed_s", "s"),
    ("trace.peak_rss_mb", "MiB"),
)


CALIBRATION_REPS = 5
RSS_INTERVAL_S = 0.25  # a scan reads every /proc/<pid>/stat; keep it rare


def calibration_s() -> float:
    """Median seconds of a fixed CPU-bound numpy loop (sort + matmul on a
    fixed-seed array); it depends only on the host, never on the program."""
    rng = np.random.default_rng(12345)
    a = rng.random(1 << 20)
    m = rng.random((192, 192))
    times = []
    for _ in range(CALIBRATION_REPS):
        t0 = time.perf_counter()
        for _ in range(4):
            np.sort(a)
            m = m @ m
            m /= np.abs(m).max()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def _intervals_minus(base: tuple[float, float], cut: list[tuple[float, float]]):
    """Parts of interval ``base`` not covered by any interval in ``cut``."""
    pieces = [base]
    for c0, c1 in cut:
        nxt = []
        for p0, p1 in pieces:
            if c1 <= p0 or c0 >= p1:
                nxt.append((p0, p1))
                continue
            if c0 > p0:
                nxt.append((p0, c0))
            if c1 < p1:
                nxt.append((c1, p1))
        pieces = nxt
    return pieces


class Tracer:
    """Spans around calls into package layers, with status-store stage
    counters attributed afterwards. ``enabled`` is switched per iteration
    so traced and untraced iterations can alternate in one run; while it
    is off every method is a no-op."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.iteration = -1
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, dict[str, float]]] = {}
        self._stack: list[dict] = []

    def start_iteration(self, i: int, enabled: bool) -> None:
        self.iteration = i
        self.enabled = enabled

    @contextlib.contextmanager
    def span(self, layer: str, call: str):
        if not self.enabled:
            yield
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        s = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "iteration": self.iteration,
            "layer": layer,
            "name": f"{layer}.{call}",
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "plan_s": 0.0,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def plan(self, df) -> None:
        """Record analysis + optimization + planning time of ``df``'s own
        query execution into the open span (forces its physical plan)."""
        if not self.enabled or not self._stack:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0
        for k in ("analysis", "optimization", "planning"):
            o = phases.get(k)
            if o.isDefined():
                total += o.get().durationMs()
        self._stack[-1]["plan_s"] += total / 1000.0

    def count(self, layer: str, name: str, value: float) -> None:
        if not self.enabled:
            return
        if name not in dict(LAYERS[layer]):
            raise ValueError(f"{layer} has no count {name!r}")
        layer_counts = self.counts.setdefault(self.iteration, {}).setdefault(layer, {})
        layer_counts[name] = layer_counts.get(name, 0) + value

    # -- attribution, after the timed phase ---------------------------------

    def _status(self):
        """(stages, jobs) from the status store: stages as (submitted_s,
        run_s, shuffle_write_b, spill_disk_b, failed_tasks), jobs as
        (start_s, end_s) windows."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        stages = []
        it = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None).iterator()
        while it.hasNext():
            st = it.next()
            sub = st.submissionTime()
            if not sub.isDefined():
                continue  # skipped stage: no work
            stages.append((
                sub.get().getTime() / 1000.0,
                st.executorRunTime() / 1000.0,
                st.shuffleWriteBytes(),
                st.diskBytesSpilled(),
                st.numFailedTasks(),
            ))
        jobs = []
        it = store.jobsList(None).iterator()
        now = time.time()
        while it.hasNext():
            j = it.next()
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                jobs.append((sub.get().getTime() / 1000.0,
                             done.get().getTime() / 1000.0 if done.isDefined() else now))
        return stages, jobs

    def layer_totals(self) -> tuple[dict[str, dict[str, float]], float]:
        """Per-layer sums over all traced spans, and the sum of span self
        times. Layer wall time counts only spans with no ancestor in the
        same layer, so nested calls within a layer are not counted twice."""
        stages, jobs = self._status()
        jobs.sort()
        by_id = {s["id"]: s for s in self.spans}
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        tot = {layer: {f: 0.0 for f, _ in LAYER_FIELDS} for layer in LAYERS}
        self_sum = 0.0
        for s in self.spans:
            t = tot[s["layer"]]
            anc, nested = s["parent"], False
            while anc is not None:
                if by_id[anc]["layer"] == s["layer"]:
                    nested = True
                    break
                anc = by_id[anc]["parent"]
            if not nested:
                t["wall_s"] += s["end"] - s["start"]
            own = _intervals_minus(
                (s["start"], s["end"]),
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
            )
            self_s = sum(b - a for a, b in own)
            self_sum += self_s
            t["self_s"] += self_s
            t["driver_s"] += sum(
                b - a for p in own for a, b in _intervals_minus(p, jobs)
            )
            t["plan_s"] += s["plan_s"]
        # each stage goes to the innermost span open at its submission
        for sub, run_s, shw, spill, failed in stages:
            owner = None
            for s in self.spans:
                if s["start"] <= sub <= s["end"] and (
                    owner is None or s["start"] >= owner["start"]
                ):
                    owner = s
            if owner is None:
                continue
            t = tot[owner["layer"]]
            t["task_s"] += run_s
            t["shuffle_write_mb"] += shw / 2**20
            t["spill_disk_mb"] += spill / 2**20
            t["failed_tasks"] += failed
        return tot, self_sum

    def per_iteration_counts(self) -> dict[str, dict[str, float]]:
        """Mean of each layer count over the traced iterations."""
        n = max(1, len(self.counts))
        out: dict[str, dict[str, float]] = {}
        for per_layer in self.counts.values():
            for layer, cs in per_layer.items():
                for k, v in cs.items():
                    out.setdefault(layer, {})[k] = out.get(layer, {}).get(k, 0) + v / n
        return out


class RssSampler:
    """Peak summed VmRSS (MiB) of ``root_pid`` and all its descendants,
    polled by one thread between ``start()`` and ``stop()``."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
        return 0

    def _tree(self) -> list[int]:
        parent = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except (FileNotFoundError, ProcessLookupError):
                continue
            # ppid is the 2nd field after the parenthesised command name
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = [self.root_pid], [self.root_pid]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def sample(self) -> float:
        mb = sum(self._rss_kb(p) for p in self._tree()) / 1024.0
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_mb
