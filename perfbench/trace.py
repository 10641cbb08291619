"""Spans around each layer call, with the Spark counters of each span.

A span is opened by the benchmark's own code around one call into a
package layer. While tracing is on, the span sets the Spark job group to
its span id, so every job the call runs carries that group; at the span's
end the jobs of the group are looked up in the application status store
(which keeps about 1000 jobs, so spans are harvested as they close) and
their completed stages summed. Streaming micro-batches run under the
query's run id as job group: a span adds such groups with ``also_group``.

With tracing off, ``span`` only yields, so the timed runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import time

LAYERS = [
    "session",
    "sources.amazon_meta",
    "operators.sampling",
    "operators.copurchase",
    "embeddings",
    "operators.similarity",
    "pipeline",
    "operators.resolve",
    "operators.hybrid",
    "operators.evaluate",
    "operators.dedup",
    "operators.graph",
    "streaming.events",
]

COUNTERS = ["jobs", "tasks", "run_s", "shuffle_bytes", "spill_bytes", "output_bytes"]


class Span:
    __slots__ = ("sid", "layer", "name", "parent", "run", "start", "end",
                 "groups", "counts")

    def __init__(self, sid, layer, name, parent, run):
        self.sid, self.layer, self.name = sid, layer, name
        self.parent, self.run = parent, run
        self.start = self.end = 0.0
        self.groups = [sid]
        self.counts = dict.fromkeys(COUNTERS, 0)

    def also_group(self, group: str) -> None:
        self.groups.append(group)

    def as_dict(self) -> dict:
        return {"id": self.sid, "layer": self.layer, "name": self.name,
                "parent": self.parent, "run": self.run, "start": self.start,
                "end": self.end, **self.counts}


class _NullSpan:
    def also_group(self, group: str) -> None:
        pass


class Tracer:
    def __init__(self, cores: int):
        self.cores = cores
        self.enabled = False
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run = ""          # the operation the spans belong to
        self.own_s = 0.0       # time spent setting job groups and harvesting

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield _NullSpan()
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span-{len(self.spans)}", layer, name or layer,
                 parent.sid if parent else None, self.run)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        t = time.perf_counter()
        if sc is not None:
            sc.setJobGroup(s.sid, f"{layer}:{s.name}")
        s.start = time.perf_counter()
        self.own_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent.sid, f"{parent.layer}:{parent.name}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self._harvest(s)
            self.own_s += time.perf_counter() - s.end

    def record(self, layer: str, name: str, start: float, end: float) -> None:
        """A span for a call that runs no Spark jobs (e.g. a session start)."""
        if self.enabled:
            s = Span(f"span-{len(self.spans)}", layer, name, None, self.run)
            s.start, s.end = start, end
            self.spans.append(s)

    def materialize(self, df):
        """In a traced run, compute ``df`` inside the current span so its
        cost is charged to the layer that produced it; untraced, return it
        lazy and unchanged."""
        if not self.enabled:
            return df
        return df.localCheckpoint(eager=True)

    def _harvest(self, s: Span) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.05)
        store = jsc.statusStore()
        seen = set()
        tracker = sc.statusTracker()
        for group in s.groups:
            for job_id in tracker.getJobIdsForGroup(group):
                s.counts["jobs"] += 1
                stages = store.job(job_id).stageIds()
                for i in range(stages.size()):
                    sid = stages.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:
                        continue
                    if str(st.status()) != "COMPLETE":
                        continue
                    s.counts["tasks"] += st.numCompleteTasks()
                    s.counts["run_s"] += st.executorRunTime() / 1000.0
                    s.counts["shuffle_bytes"] += st.shuffleWriteBytes()
                    s.counts["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    s.counts["output_bytes"] += st.outputBytes()

    # ---------------------------------------------------------------- report

    def self_times(self) -> dict[str, float]:
        """Span id → duration minus the part of it its children cover."""
        children: dict = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            for iv in _union([(c.start, c.end) for c in children.get(s.sid, [])]):
                covered += iv[1] - iv[0]
            out[s.sid] = max(0.0, (s.end - s.start) - covered)
        return out

    def per_layer(self) -> dict[str, dict]:
        """Layer → {self_s, jobs, tasks, run_s, shuffle_bytes, …, calls}."""
        selfs = self.self_times()
        out = {layer: dict(self_s=0.0, calls=0, **dict.fromkeys(COUNTERS, 0))
               for layer in LAYERS}
        for s in self.spans:
            row = out.setdefault(s.layer, dict(self_s=0.0, calls=0,
                                               **dict.fromkeys(COUNTERS, 0)))
            row["self_s"] += selfs[s.sid]
            row["calls"] += 1
            for c in COUNTERS:
                row[c] += s.counts[c]
        for row in out.values():
            busy = row["self_s"] * self.cores
            row["utilization"] = row["run_s"] / busy if busy > 0 else 0.0
        return out

    def uncovered_s(self, start: float, end: float) -> float:
        """Time in [start, end] that no span covers."""
        covered = sum(b - a for a, b in _union(
            [(max(s.start, start), min(s.end, end)) for s in self.spans
             if s.end > start and s.start < end]))
        return max(0.0, (end - start) - covered)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.spans], fh)


def join_output_rows(df, key: str) -> int:
    """Output rows of the joins on ``key`` in ``df``'s executed plan (the
    SQL ``numOutputRows`` metric), summed. Call after ``df`` has run; under
    adaptive execution the final plan is searched, query stages included."""
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind.endswith("JoinExec") and key in node.leftKeys().toString():
            total += node.longMetric("numOutputRows").value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def format_table(per_layer: dict, uncovered_s: float, window_s: float) -> str:
    """The per-layer report: one row per layer that ran, then the time no
    span covers."""
    head = f"{'layer':<22}{'calls':>6}{'self_s':>9}{'jobs':>6}{'tasks':>7}" \
           f"{'util':>6}{'shuffle_B':>12}{'spill_B':>10}{'out_B':>11}"
    lines = [head, "-" * len(head)]
    for layer, r in per_layer.items():
        if not r["calls"]:
            continue
        lines.append(f"{layer:<22}{r['calls']:>6}{r['self_s']:>9.3f}{r['jobs']:>6}"
                     f"{r['tasks']:>7}{r['utilization']:>6.2f}{r['shuffle_bytes']:>12}"
                     f"{r['spill_bytes']:>10}{r['output_bytes']:>11}")
    lines.append(f"{'(no span)':<22}{'':>6}{uncovered_s:>9.3f}"
                 f"   of a {window_s:.3f} s traced window")
    return "\n".join(lines)
