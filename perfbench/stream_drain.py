"""``stream_drain``: staged backlogs drained through the tutorial's
streaming pipeline at a fixed batch size.

Both backlogs are cut from the sf0.01 ``events`` fixture table, which
plays ``match_event`` in the repository's fixture role mapping
(FIXTURES.md, "Role mapping"): ``event_id`` is the offset, ``user_id``
the player id, and ``customer`` rows (with their nation) are the
players. The seed picks where each backlog's window of consecutive
events starts; the rows are written before timing as ordered JSON chunk
files (``streaming.replay.write_chunks``), in ``event_id`` order as
FIXTURES.md prescribes for streaming replay:

- ``match_event``: run through ``tutorial.player_stats`` joined with a
  static players snapshot (the stream-table join and keyed aggregate of
  the CTAS);
- ``players``: the same events read as a players changelog keyed by
  ``user_id``, run through ``streaming.stateful.upsert_table_stream``
  (``applyInPandasWithState``).

Each drain starts the pipeline with ``streaming.persistent.
start_persistent_query`` on a fresh checkpoint, reads the whole backlog
one file per trigger, and stops. Its final sink state must equal the
batch twin: ``tutorial.player_stats`` and ``operators.upsert.
latest_by_key`` over the same records.
"""

from __future__ import annotations

import json
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench.common import DATA_DIR, Outcome, drift, median, peak_rss_mb, tail

EVENT_FILES, PLAYER_FILES = 8, 2
ROWS_PER_FILE = 1000
FILES_PER_TRIGGER = 1
# Untimed rounds (one drain of each pipeline). On the reference host the
# drain rates level off from the third round on (README, "Warm-up curves").
WARMUP_ROUNDS = 2
# nominal seconds of one timed round (one drain of each pipeline) on the
# reference host
UNIT_S = 7.0
PIPELINES = ("player_stats", "players")
# The fixture's event types mapped onto the tutorial's: a purchase scores,
# a click assists, the other three count as neither.
EVENT_TYPES = {"purchase": "GOAL", "click": "ASSIST"}


def _table(name: str) -> list[dict]:
    return pq.read_table(f"{DATA_DIR}/{name}.parquet").to_pylist()


def _window(events: list[dict], n: int, rng) -> list[dict]:
    start = int(rng.integers(0, len(events) - n + 1))
    return events[start:start + n]


def backlogs(seed: int) -> tuple[list[dict], list[dict], list[dict]]:
    """(players snapshot, match_event backlog, players changelog)."""
    rng = np.random.default_rng(seed)
    nations = {r["n_nationkey"]: r["n_name"] for r in _table("nation")}
    snapshot = [
        {"id": str(c["c_custkey"]), "name": c["c_name"], "team": c["c_mktsegment"],
         "nationality": nations[c["c_nationkey"]]}
        for c in _table("customer")
    ]
    names = {int(p["id"]): p["name"] for p in snapshot}
    events = sorted(_table("events"), key=lambda e: e["event_id"])
    match_events = [
        {"offset": e["event_id"], "id": str(e["ts"].day),
         "event_type": EVENT_TYPES.get(e["event_type"], e["event_type"].upper()),
         "player_id": str(e["user_id"]), "home": None}
        for e in _window(events, EVENT_FILES * ROWS_PER_FILE, rng)
    ]
    changelog = [
        {"offset": e["event_id"], "id": str(e["user_id"]),
         "name": names[e["user_id"]], "team": e["event_type"],
         "nationality": e["props"]}
        for e in _window(events, PLAYER_FILES * ROWS_PER_FILE, rng)
    ]
    return snapshot, match_events, changelog


def _round(v):
    return round(v, 9) if isinstance(v, float) else v


def sink_state(rows) -> dict[str, dict]:
    """Final state of an update-mode memory sink: the last value emitted
    for each key (the sink keeps emissions in batch order)."""
    state: dict[str, dict] = {}
    for r in rows:
        state[r["key"]] = {k.lower(): _round(v) for k, v in json.loads(r["value"]).items()}
    return state


def batch_state(rows, key: str) -> dict[str, dict]:
    return {
        r[key]: {k: _round(v) for k, v in r.asDict().items() if k != key}
        for r in rows
    }


def state_mismatch(got: dict[str, dict], want: dict[str, dict]) -> str | None:
    """None when a drained state equals its batch twin."""
    if got == want:
        return None
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])[:3]
    return f"missing keys {missing}, extra keys {extra}, wrong values for {wrong}"


class Pipeline:
    def __init__(self, spark, work, seed: int) -> None:
        from pyspark.sql import types as T

        from ksql_query_tutorial_spark import tutorial
        from ksql_query_tutorial_spark.session import EngineSession
        from ksql_query_tutorial_spark.streaming import replay

        self.spark, self.work = spark, work
        self.engine = EngineSession(spark)
        snapshot, events, changelog = backlogs(seed)
        self.records = {"player_stats": events, "players": changelog}
        self.rows = {name: len(rows) for name, rows in self.records.items()}
        self.changelog_schema = T.StructType(
            [T.StructField("offset", T.LongType(), False)] + list(tutorial.PLAYERS_SCHEMA.fields))
        self.dirs = {}
        for name, rows in self.records.items():
            self.dirs[name] = work.sub("backlog", name)
            replay.write_chunks(self.dirs[name], rows, ROWS_PER_FILE)
        self.snapshot = spark.createDataFrame(snapshot, tutorial.PLAYERS_SCHEMA)
        # batch twin state per pipeline, computed at its first check, when
        # the first drain has already paid the JVM's cold start
        self.twin: dict[str, dict] = {}
        self.n_drains = 0
        self.errors: list[str] = []

    def twin_state(self, name: str) -> dict[str, dict]:
        from ksql_query_tutorial_spark import tutorial
        from ksql_query_tutorial_spark.operators.upsert import latest_by_key

        if name not in self.twin:
            rows = self.records[name]
            if name == "player_stats":
                df = self.spark.createDataFrame(
                    [tuple(r.values()) for r in rows], tutorial.MATCH_EVENT_SCHEMA)
                state = batch_state(
                    tutorial.player_stats(df, self.snapshot).collect(), "player_id")
            else:
                fields = self.changelog_schema.fieldNames()
                df = self.spark.createDataFrame(
                    [tuple(r[f] for f in fields) for r in rows], self.changelog_schema)
                state = batch_state(latest_by_key(df, ["id"], "offset").collect(), "id")
            self.twin[name] = state
        return self.twin[name]

    def drain(self, name: str, tracer=None) -> dict:
        """Drain one backlog on a fresh checkpoint; returns its timings,
        per-trigger progress and final-state check."""
        from ksql_query_tutorial_spark import tutorial
        from ksql_query_tutorial_spark.streaming import replay
        from ksql_query_tutorial_spark.streaming.persistent import start_persistent_query
        from ksql_query_tutorial_spark.streaming.stateful import upsert_table_stream

        self.n_drains += 1
        n = self.n_drains
        ckpt = self.work.sub("checkpoints", f"{name}-{n}")
        backlog = self.dirs[name]
        t0 = time.perf_counter()
        if name == "player_stats":
            src = replay.stream_source(self.spark, backlog,
                                       tutorial.MATCH_EVENT_SCHEMA, FILES_PER_TRIGGER)
            q = start_persistent_query(self.engine, name,
                                       tutorial.player_stats(src, self.snapshot),
                                       ["player_id"], checkpoint_dir=ckpt)
        else:
            src = replay.stream_source(self.spark, backlog,
                                       self.changelog_schema, FILES_PER_TRIGGER)
            q = start_persistent_query(self.engine, name,
                                       upsert_table_stream(src, ["id"], "offset"),
                                       ["id"], output_mode="update", checkpoint_dir=ckpt)
        q.processAllAvailable()
        drain_s = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
        if tracer is not None:
            tracer.jobs_by_key[f"streaming.{name}"].append(str(q.runId))
        self.engine.terminate(name)
        t1 = time.perf_counter()
        sink = self.spark.table(name).collect()
        read_s = time.perf_counter() - t1
        self.spark.catalog.dropTempView(name)
        bad = state_mismatch(sink_state(sink), self.twin_state(name))
        if bad is not None:
            self.errors.append(f"{name} drain {n}: {bad}")
        return {"drain_s": drain_s, "read_s": read_s, "progress": progress,
                "ok": bad is None}


def trigger_ms(progress: list[dict]) -> list[float]:
    return [float(p["durationMs"]["triggerExecution"])
            for p in progress if p["numInputRows"] > 0]


def _curve_point(label: str, pipe: Pipeline, done: dict[str, dict | None]) -> str:
    return f"{label}: " + ", ".join(
        f"{n} {pipe.rows[n] / d['drain_s']:.0f} rows/s, trigger p50 "
        f"{median(trigger_ms(d['progress'])):.0f} ms" for n, d in done.items() if d)


def _drain(pipe: Pipeline, name: str, tracer=None) -> dict | None:
    """One drain; None, with the error recorded, when it raised."""
    try:
        if tracer is None:
            return pipe.drain(name)
        with tracer.span(f"streaming.{name}.drain"):
            return pipe.drain(name, tracer)
    except Exception as exc:  # a raising drain is a failure
        pipe.errors.append(f"{name}: raised {exc!r}"[:300])
        return None


def run(spark, work, seed: int, units: int, tracer=None) -> Outcome:
    t_setup = time.perf_counter()
    pipe = Pipeline(spark, work, seed)
    curve = []
    for i in range(WARMUP_ROUNDS):
        done = {name: _drain(pipe, name) for name in PIPELINES}
        curve.append(_curve_point(f"warm-up round {i + 1}", pipe, done))
    setup_s = time.perf_counter() - t_setup

    attempted = failed = 0
    drains: dict[str, list[dict]] = {n: [] for n in PIPELINES}
    ops: list[tuple[str, float]] = []
    if tracer is not None:
        tracer.install()
    try:
        for i in range(units):
            done = {}
            for name in PIPELINES:
                attempted += 1
                d = _drain(pipe, name, tracer)
                if d is None:
                    failed += 1
                    continue
                drains[name].append(d)
                done[name] = d
                ops += [(f"{name}.{j}", t / 1000)
                        for j, t in enumerate(trigger_ms(d["progress"]))]
            curve.append(_curve_point(f"timed round {i + 1}", pipe, done))
    finally:
        if tracer is not None:
            tracer.uninstall()

    metrics, tail_pct, n_stats = e2e_metrics(drains, pipe.rows, setup_s)
    if tracer is not None:
        metrics.update(layer_metrics(tracer, drains))
    return Outcome(
        correct=not pipe.errors and failed == 0,
        attempted=attempted,
        failed=failed,
        drift=drift(ops),
        metrics=metrics,
        notes=pipe.errors + curve + [
            f"latency_tail_ms is p{tail_pct:.1f} of {n_stats} player_stats triggers"],
    )


def e2e_metrics(drains: dict[str, list[dict]], rows: dict[str, int],
                setup_s: float) -> tuple[dict[str, float], float, int]:
    """End-to-end metrics of the completed drains, the tail's percentile
    and the size of its population. A population whose every drain
    failed reads NaN."""
    stats = [t for d in drains["player_stats"] for t in trigger_ms(d["progress"])]
    upserts = [t for d in drains["players"] for t in trigger_ms(d["progress"])]
    all_drains = drains["player_stats"] + drains["players"]
    drain_s = sum(d["drain_s"] for d in all_drains)
    tail_ms, tail_pct = tail(stats)
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": sum(rows[n] * len(drains[n]) for n in PIPELINES) / drain_s
        if drain_s else float("nan"),
        "latency_p50_ms": median(stats),
        "latency_tail_ms": tail_ms,
        "write_p50_ms": median(upserts),
        "read_p50_ms": 1000 * median([d["read_s"] for d in all_drains]),
        "peak_rss_mb": peak_rss_mb(),
    }
    return metrics, tail_pct, len(stats)


def layer_metrics(tracer, drains: dict[str, list[dict]]) -> dict[str, float]:
    from perfbench.tracing import STREAM_FIELDS, streaming_layer

    out: dict[str, float] = {}
    for name, ds in drains.items():
        if not ds:   # every drain of this pipeline failed
            out.update({f"streaming.{name}.{f}": float("nan") for f in STREAM_FIELDS})
            continue
        last = ds[-1]["progress"][-1].get("stateOperators", [])
        out.update(streaming_layer(
            f"streaming.{name}",
            [p for d in ds for p in d["progress"]],
            state_rows=float(sum(op["numRowsTotal"] for op in last)),
            state_bytes=float(sum(op["memoryUsedBytes"] for op in last)),
            jobs=tracer.job_stats(f"streaming.{name}")["jobs"] / len(ds),
        ))
    return out
