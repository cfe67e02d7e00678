"""Spans around calls into the engine's layers, plus Spark and Delta counters.

A span names one call made from the benchmark's own files into a layer
of ``value_at_risk_spark`` (for example ``montecarlo.simulate_trials``).
Each span runs its Spark jobs under a job group of its own, so the
status store can attribute jobs, stages, tasks, shuffle bytes and
executor time to it. Spans stay in memory and are written once, when the
run ends.

``NullTracer`` has the same interface and does nothing, so the timed
(untraced) pass calls exactly the same workload code.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

_SPARK_FIELDS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
)


class NullTracer:
    """The untraced pass: spans and counters cost nothing."""

    def start_op(self, op_id: str) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, value: float) -> None:
        pass

    def end_op(self) -> dict:
        return {}


class Tracer:
    """Records spans and counts per operation.

    ``end_op`` attaches to each span the Spark counters of its own jobs,
    and returns the operation's per-layer figures: ``<span>_s``, the
    span's own time (less that of the spans opened inside it) summed
    over the op's spans of that name, each ``count`` as given, and the
    ``spark.*`` counters summed over every job the op ran.
    """

    def __init__(self, spark, cores: int):
        self._sc = spark.sparkContext
        self._cores = cores
        self._jvm_sc = self._sc._jsc.sc()
        self.spans: list[dict] = []
        self._op: str | None = None
        self._stack: list[int] = []
        self._counts: dict[str, float] = {}

    def start_op(self, op_id: str) -> None:
        self._op = op_id
        self._counts = {}
        self._op_span = self._open("op")

    def _open(self, name: str) -> int:
        group = f"perfbench/{self._op}/{len(self.spans)}"
        self._sc.setJobGroup(group, f"{self._op}:{name}")
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"op": self._op, "name": name, "parent": parent, "group": group,
             "start": time.perf_counter()}
        )
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._sc.setJobGroup(self.spans[self._stack[-1]]["group"], self._op)
        else:
            self._sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def count(self, name: str, value: float) -> None:
        self._counts[name] = self._counts.get(name, 0) + value

    def end_op(self) -> dict:
        self._close(self._op_span)
        first = self._op_span
        op_spans = self.spans[first:]
        out: dict[str, float] = dict(self._counts)
        own = [s["end"] - s["start"] for s in op_spans]
        for s in op_spans[1:]:
            own[s["parent"] - first] -= s["end"] - s["start"]
        for s, t in zip(op_spans[1:], own[1:]):
            key = f"{s['name']}_s"
            out[key] = out.get(key, 0.0) + t
        # the status store is fed by the listener bus asynchronously:
        # drain it so the op's last task and job end events are counted
        self._jvm_sc.listenerBus().waitUntilEmpty()
        totals = dict.fromkeys(_SPARK_FIELDS, 0)
        for s in op_spans:
            s["spark"] = self._spark_counters(s["group"])
            for k, v in s["spark"].items():
                totals[k] += v
        out.update(totals)
        wall = op_spans[0]["end"] - op_spans[0]["start"]
        out["spark.cpu_util"] = out["spark.executor_cpu_s"] / (wall * self._cores)
        out["op_s"] = wall
        return out

    def _spark_counters(self, group: str) -> dict:
        """Counters of the jobs run under one job group (one span's own
        jobs, not its children's)."""
        tracker = self._sc.statusTracker()
        store = self._jvm_sc.statusStore()
        jvm = self._sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        c = dict.fromkeys(_SPARK_FIELDS, 0)
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            c["spark.jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["spark.failed_tasks"] += st.numFailedTasks()
                c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spark.spill_bytes"] += st.diskBytesSpilled()
                c["spark.executor_run_s"] += st.executorRunTime() / 1e3
                c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["spark.jvm_gc_s"] += st.jvmGcTime() / 1e3
        return c

    def write(self, path: str) -> None:
        """Write every span recorded in the run, one JSON object a line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextlib.contextmanager
def traced_calls(tr, module, spans: dict[str, str], extra_kwargs=None):
    """While open, each function of ``module`` named in ``spans`` runs
    in a span of the given name and materializes the frame it returns
    (``localCheckpoint``), so the span holds that layer's own work.

    The program's own composed code calls these functions through the
    module's globals; wrapping them there times the calls it makes,
    with its own arguments, without a copy of its composition.
    ``extra_kwargs`` adds keyword arguments to a named call (an
    out-parameter such as ``stats``). ``outputs`` maps each name to the
    frame its last call returned.
    """
    originals = {name: getattr(module, name) for name in spans}
    outputs: dict = {}

    def wrap(name, fn):
        def traced(*args, **kwargs):
            kwargs.update((extra_kwargs or {}).get(name, {}))
            with tr.span(spans[name]):
                out = fn(*args, **kwargs).localCheckpoint(eager=True)
            outputs[name] = out
            return out
        return traced

    for name, fn in originals.items():
        setattr(module, name, wrap(name, fn))
    try:
        yield outputs
    finally:
        for name, fn in originals.items():
            setattr(module, name, fn)


def delta_log_state(table_paths: list[str]) -> dict[str, int]:
    """Size of each ``_delta_log`` entry of the given tables, by path."""
    state = {}
    for table in table_paths:
        log = os.path.join(table, "_delta_log")
        if not os.path.isdir(log):
            continue
        for name in os.listdir(log):
            full = os.path.join(log, name)
            if os.path.isfile(full):
                state[full] = os.path.getsize(full)
    return state


def delta_counters(before: dict[str, int], after: dict[str, int]) -> dict:
    """Commits, checkpoints, file actions and log bytes added between
    two ``delta_log_state`` snapshots. Data bytes are the ``size`` of the
    added files, as the commits record them."""
    c = {
        "delta.commits": 0,
        "delta.checkpoints": 0,
        "delta.files_added": 0,
        "delta.files_removed": 0,
        "delta.log_bytes": 0,
        "delta.data_bytes": 0,
    }
    checkpoint_versions = set()
    for path, size in after.items():
        if before.get(path) == size:
            continue
        name = os.path.basename(path)
        c["delta.log_bytes"] += size
        if name.endswith(".json") and name[:-5].isdigit():
            c["delta.commits"] += 1
            with open(path) as f:
                for line in f:
                    action = json.loads(line)
                    if "add" in action:
                        c["delta.files_added"] += 1
                        c["delta.data_bytes"] += action["add"].get("size", 0)
                    elif "remove" in action:
                        c["delta.files_removed"] += 1
        elif ".checkpoint" in name and name.endswith(".parquet"):
            # a multi-part checkpoint is one checkpoint
            checkpoint_versions.add(name.split(".")[0])
    c["delta.checkpoints"] = len(checkpoint_versions)
    return c
