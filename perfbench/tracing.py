"""Per-layer tracing for ``--trace 1`` runs.

The tracer wraps public calls of the program from the outside: the
fixture loader, the operator cache registry, the KSQL dialect functions
and the two SparkSession/DataFrame calls the KSQL engine is built on.
The workloads open spans around their own calls into the query functions,
the force, the KSQL statements and the streaming drains. Spans stay in
memory; the per-layer metrics are derived from them once, after the
timed region, together with Spark's own counters (job-group status,
stage metrics, Catalyst phase times). Untraced runs never construct a
tracer, so they run with no wrappers installed.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

EXTENSION_MODULES = (
    "corpus_q", "dedup_q", "events_q", "graph_q", "joins_q",
    "mm_q", "privacy_q", "retail_q", "similarity_q", "text_q",
)
STREAM_QUERIES = ("player_stats", "players")
STREAM_FIELDS = (
    "batches", "rows_per_batch", "trigger_ms", "addBatch_ms",
    "queryPlanning_ms", "getBatch_ms", "latestOffset_ms", "walCommit_ms",
    "commitOffsets_ms", "state_rows", "state_memory_bytes",
    "state_commit_ms", "jobs",
)
DIALECT_FUNCTIONS = (
    "split_statements", "rewrite_select", "rewrite_functions",
    "rewrite_window", "rewrite_within", "strip_emit_changes",
    "extract_partition_by", "from_table", "parse_column_defs",
    "parse_with_props",
)

# spans the workloads open around KSQL statements; the dialect, SparkSession
# and DataFrame wrappers count only calls made inside one of them
KSQL_STATEMENTS = ("ksql.insert", "ksql.select_build")

PER_LAYER = (
    ["tables.load_calls", "tables.load_ms", "tables.load_jobs",
     "queries.construct_ms", "queries.construct_jobs",
     "extensions.construct_ms", "extensions.construct_jobs",
     "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
     "execution.force_ms", "execution.jobs", "execution.stages",
     "execution.tasks", "execution.task_ms", "execution.shuffle_read_bytes",
     "execution.shuffle_write_bytes", "execution.jvm_gc_ms",
     "queries.exec_ms"]
    + [f"extensions.{m}.exec_ms" for m in EXTENSION_MODULES]
    + ["cache.pin_calls", "cache.pinned_after_query", "cache.release_ms",
       "ksql.dialect_ms", "ksql.insert_ms", "ksql.select_build_ms",
       "ksql.select_exec_ms", "ksql.select_jobs",
       "ksql.create_dataframe_calls", "ksql.create_dataframe_rows",
       "ksql.create_dataframe_ms", "ksql.view_registrations",
       "ksql.view_registration_ms"]
    + [f"streaming.{q}.{f}" for q in STREAM_QUERIES for f in STREAM_FIELDS]
    + ["tracing.overhead_ms"]
)


class Tracer:
    """In-memory spans plus the job groups Spark attributes work to."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        # [name, parent index, start, end]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._span_group: dict[int, str] = {}
        self.jobs_by_key: dict[str, list[str]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, jobs: str | None = None):
        """Time a call; with ``jobs``, attribute the Spark jobs it
        launches (its own, not its children's) to that key."""
        t_in = time.perf_counter()
        idx = len(self.spans)
        rec = [name, self._stack[-1] if self._stack else None, 0.0, 0.0]
        self.spans.append(rec)
        if jobs is not None:
            group = f"perfbench-{idx}"
            self._span_group[idx] = group
            self.jobs_by_key[jobs].append(group)
            self.sc.setJobGroup(group, name)
        self._stack.append(idx)
        rec[2] = time.perf_counter()
        self.overhead_s += rec[2] - t_in
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()
            if jobs is not None:
                self._restore_group()
            self.overhead_s += time.perf_counter() - rec[3]

    def _restore_group(self) -> None:
        for idx in reversed(self._stack):
            if idx in self._span_group:
                self.sc.setJobGroup(self._span_group[idx], self.spans[idx][0])
                return
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def inside(self, names: tuple[str, ...]) -> bool:
        return any(self.spans[i][0] in names for i in self._stack)

    def add(self, key: str, value: float) -> None:
        self.counts[key] += value

    # --------------------------------------------------------- wrappers
    def wrap(self, owner, attr: str, name: str, jobs: str | None = None,
             within: tuple[str, ...] | None = None, count_rows: bool = False) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``within``
        limits the span to calls made inside an open span of those names."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if within is not None and not tracer.inside(within):
                return orig(*args, **kwargs)
            if count_rows and len(args) > 1 and isinstance(args[1], list):
                tracer.add(name + ".rows", len(args[1]))
            with tracer.span(name, jobs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from pyspark.sql import SparkSession

        from ksql_query_tutorial_spark import cache, tables
        from ksql_query_tutorial_spark.ksql import dialect

        original_load = tables.load
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("ksql_query_tutorial_spark")
                    and getattr(mod, "load", None) is original_load):
                self.wrap(mod, "load", "tables.load", jobs="tables")
        self.wrap(cache, "pin", "cache.pin")
        self.wrap(cache, "release", "cache.release")
        for fn in DIALECT_FUNCTIONS:
            self.wrap(dialect, fn, "ksql.dialect", within=KSQL_STATEMENTS)
        self.wrap(SparkSession, "createDataFrame", "ksql.create_dataframe",
                  within=KSQL_STATEMENTS, count_rows=True)
        # the concrete DataFrame class, which overrides the abstract base's methods
        self.wrap(type(self.spark.range(0)), "createOrReplaceTempView", "ksql.view_registration",
                  within=KSQL_STATEMENTS)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------ derivation
    def total_ms(self, name: str, outermost: bool = False) -> float:
        """Summed duration of the spans called ``name``; ``outermost``
        skips spans nested in another span of the same name."""
        out = 0.0
        for rec in self.spans:
            if rec[0] != name:
                continue
            if outermost and rec[1] is not None and self._has_ancestor(rec[1], name):
                continue
            out += rec[3] - rec[2]
        return out * 1000

    def self_ms(self, name: str) -> float:
        """Summed duration of ``name`` spans minus their direct children."""
        child = defaultdict(float)
        for rec in self.spans:
            if rec[1] is not None:
                child[rec[1]] += rec[3] - rec[2]
        return 1000 * sum(
            rec[3] - rec[2] - child[i] for i, rec in enumerate(self.spans)
            if rec[0] == name
        )

    def n_spans(self, name: str) -> int:
        return sum(1 for rec in self.spans if rec[0] == name)

    def _has_ancestor(self, idx: int | None, name: str) -> bool:
        while idx is not None:
            if self.spans[idx][0] == name:
                return True
            idx = self.spans[idx][1]
        return False

    def job_stats(self, key: str) -> dict[str, float]:
        """Jobs, stages, tasks and stage metrics of every job group
        recorded under ``key`` (plus any extra group ids recorded by the
        caller, such as a streaming query's run id)."""
        return job_stats(self.sc, self.jobs_by_key.get(key, []))


def _listener_drained(sc) -> None:
    # job and stage end events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def job_stats(sc, groups: list[str]) -> dict[str, float]:
    _listener_drained(sc)
    tracker = sc._jsc.sc().statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "jvm_gc_ms"), 0.0)
    seen: set[int] = set()
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info.isEmpty():
                continue
            out["jobs"] += 1
            for sid in info.get().stageIds():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stages never ran an attempt
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused from an earlier stage
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_ms"] += st.executorRunTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["jvm_gc_ms"] += st.jvmGcTime()
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning times (ms) of a forced plan, from
    its QueryExecution's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def streaming_layer(prefix: str, progress: list[dict], state_rows: float,
                    state_bytes: float, jobs: float) -> dict[str, float]:
    """Per-trigger medians of the trigger phases of one streaming query,
    over the triggers that read input."""
    import statistics

    trig = [p for p in progress if p["numInputRows"] > 0]

    def med(key: str) -> float:
        return float(statistics.median(p["durationMs"].get(key, 0) for p in trig))

    return {
        f"{prefix}.batches": float(len(trig)),
        f"{prefix}.rows_per_batch": statistics.mean(p["numInputRows"] for p in trig),
        f"{prefix}.trigger_ms": med("triggerExecution"),
        f"{prefix}.addBatch_ms": med("addBatch"),
        f"{prefix}.queryPlanning_ms": med("queryPlanning"),
        f"{prefix}.getBatch_ms": med("getBatch"),
        f"{prefix}.latestOffset_ms": med("latestOffset"),
        f"{prefix}.walCommit_ms": med("walCommit"),
        f"{prefix}.commitOffsets_ms": med("commitOffsets"),
        f"{prefix}.state_rows": state_rows,
        f"{prefix}.state_memory_bytes": state_bytes,
        f"{prefix}.state_commit_ms": float(statistics.median(
            sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", []))
            for p in trig)),
        f"{prefix}.jobs": jobs,
    }
