"""Spans and Spark counters, read from outside the program.

Tracing is off unless a run passes ``--trace 1``. When it is on:

- every call the benchmark makes into a layer, and every call into the
  public layer functions listed in :data:`LAYER_FUNCTIONS` (wrapped for
  the run), records one span: name, start, end, parent span, op id;
- each span runs its Spark jobs under a job group of its own, so the
  jobs a span launched, and their stages, come from ``statusTracker()``
  and the stage metrics from the application status store. The jobs of
  a span are its own jobs, not those of its child spans;
- counters are read right after each op, before the status store's
  retention evicts them.

Spans are held in memory and written as JSON lines when the run ends.
The time the tracer spends on its own bookkeeping is summed, so the run
can report it as tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Public layer functions the workloads' timed ops reach, wrapped in
#: spans when tracing: module → names. A dotted name wraps a method of
#: a class in that module.
LAYER_FUNCTIONS = {
    "async_pipes_spark.sources.tables": ["load_table"],
    "async_pipes_spark.session": ["pin"],
    "async_pipes_spark.operators.iterate": ["iterate_inplace"],
    "async_pipes_spark.pipeline.builder": ["PipelineBuilder.build"],
    "async_pipes_spark.pipeline.pipeline": ["Pipeline.wait"],
    "async_pipes_spark.sources.sinks": [
        "mor_upsert", "read_manifest_table", "read_table", "compact_small_files",
    ],
    "async_pipes_spark.sources.cdc": ["mor_changes"],
    # read_join_view is read_agg_view under another name
    "async_pipes_spark.sources.ivm": ["refresh_agg_view", "read_agg_view"],
    "async_pipes_spark.sources.ivm_join": ["refresh_join_view"],
    "async_pipes_spark.functions.similarity": ["cosine_pairs"],
    "async_pipes_spark.functions.dedup": ["simhash", "simhash_pairs"],
}


def layer_of(span_name: str) -> str:
    """The layer a span belongs to: ``sources.sinks``, ``operators.iterate``
    and ``sources.tables`` by module; every module of ``functions`` and of
    ``pipeline`` as one layer; ``plans.build`` → ``plans``."""
    parts = span_name.removeprefix("async_pipes_spark.").split(".")
    if parts[0] in ("functions", "pipeline", "session", "plans", "spark"):
        return parts[0]
    if parts[0] in ("sources", "operators"):
        return ".".join(parts[:2])
    return parts[0]


class SparkCounters:
    """Job, stage and task counters of the jobs in a job group."""

    FIELDS = (
        "jobs", "stages", "tasks", "failed_tasks", "exec_run_s",
        "exec_cpu_s", "input_bytes", "shuffle_bytes",
    )

    def __init__(self, spark):
        if not hasattr(spark, "sparkContext") or _is_connect(spark):
            raise RuntimeError(
                "tracing reads Spark's status tracker and status store, "
                "which a Spark Connect session does not expose; run the "
                "benchmark on a classic (local) session"
            )
        sc = spark.sparkContext
        self.sc = sc
        self.tracker = sc.statusTracker()
        jvm_sc = sc._jsc.sc()
        self.store = jvm_sc.statusStore()
        self.bus = jvm_sc.listenerBus()

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.bus.waitUntilEmpty()

    def read(self, group: str) -> dict:
        out = dict.fromkeys(self.FIELDS, 0)
        for job_id in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job_id)
            out["jobs"] += 1
            for sid in info.stageIds if info else ():
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted: not in the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
        return out


def _is_connect(spark) -> bool:
    try:
        from pyspark.sql.utils import is_remote

        if is_remote():
            return True
    except ImportError:
        pass
    return type(spark).__module__.startswith("pyspark.sql.connect")


class Tracer:
    """Span recorder. Disabled, every method is a no-op."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._op = None
        self._next = 0
        self.counters = SparkCounters(spark) if enabled else None

    def _set_group(self, span: dict | None) -> None:
        sc = self.counters.sc
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """One span. A span opened outside any other is the root of an
        op, named ``op`` (default: the span's name)."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        if not self._stack:
            self._op = f"{len(self.spans)}:{op or name}"
        self._next += 1
        span = {
            "id": self._next,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op,
            "group": f"perfbench-{self._next}",
        }
        self._set_group(span)
        self._stack.append(span)
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t
        try:
            yield
        finally:
            end = time.perf_counter()
            span["end"] = end
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(span)
            if not self._stack:
                self._read_op_counters()
            self.overhead_s += time.perf_counter() - end

    def _read_op_counters(self) -> None:
        self.counters.drain()
        for s in reversed(self.spans):
            if s["op"] != self._op or "jobs" in s:
                break
            s.update(self.counters.read(s.pop("group")))

    @property
    def op_id(self) -> str | None:
        """Id of the op that ended last."""
        return self._op

    def last_op(self) -> dict:
        """Summed counters of the op that ended last."""
        total = dict.fromkeys(SparkCounters.FIELDS, 0)
        for s in reversed(self.spans):
            if s["op"] != self._op:
                break
            for k in total:
                total[k] += s.get(k, 0)
        return total

    def wrap_layers(self) -> None:
        """Wrap :data:`LAYER_FUNCTIONS` in spans, wherever a loaded
        module of the program holds a reference to them."""
        if not self.enabled:
            return
        # import them all first, so that every importer is loaded
        mods = {m: importlib.import_module(m) for m in LAYER_FUNCTIONS}
        for mod_name, names in LAYER_FUNCTIONS.items():
            mod = mods[mod_name]
            for name in names:
                owner, attr = mod, name
                if "." in name:
                    cls, attr = name.split(".")
                    owner = getattr(mod, cls)
                orig = getattr(owner, attr)
                wrapped = self._wrapped(f"{mod_name}.{name}", orig)
                setattr(owner, attr, wrapped)
                if owner is not mod:
                    continue
                # also where another module imported it, under any name
                for other in list(sys.modules.values()):
                    if not getattr(other, "__name__", "").startswith("async_pipes_spark"):
                        continue
                    for key, value in list(vars(other).items()):
                        if value is orig:
                            setattr(other, key, wrapped)

    def _wrapped(self, span_name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def self_times(self, ops) -> dict[str, float]:
        """Seconds per layer that no child span covers, over the spans
        of ``ops`` (op ids as :attr:`op_id` gave them)."""
        spans = [s for s in self.spans if s["op"] in ops]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            layer = layer_of(s["name"])
            out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
