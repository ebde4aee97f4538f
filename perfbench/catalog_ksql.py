"""``catalog_ksql``: one closed-loop client sending the engine SQL, the
batch query catalog and the KSQL statement script, unit by unit.

A timed unit is one pass over the catalog in a seeded order
(:mod:`perfbench.batch_catalog`) followed by one KSQL script on a fresh
``EngineSession`` (:mod:`perfbench.ksql_script`). The catalog side drives
``tables``, the query functions, Catalyst, execution, ``operators/*`` and
the cache registry; the KSQL side drives the dialect rewriter, topic
refresh and view re-registration. Neither touches the streaming layer.

Set-up: check every catalog query against its DuckDB oracle on the sf0.01
fixture tables, then run the warm-up catalog passes, the first of which
records every query's ``(rows, xxhash-sum)``; a second thread runs the
warm-up KSQL scripts meanwhile.
"""

from __future__ import annotations

import threading
import time

from perfbench.batch_catalog import QUERIES, Catalog
from perfbench.common import NAN, DATA_DIR, Outcome, drift, median, peak_rss_mb, tail
from perfbench.ksql_script import Runner

# Untimed work before the timed units. On the reference host (4 cores,
# default JIT) query medians level off from the fourth catalog pass after
# the oracle pass on, INSERT medians after about 160 INSERTs (README,
# "Warm-up curves"). The warm-up scripts run in a second thread beside the
# oracle pass and the warm-up passes.
WARMUP_PASSES = 3    # catalog passes after the oracle pass
WARMUP_SCRIPTS = 8   # KSQL scripts of 20 INSERTs and 2 reads each
# nominal seconds of one timed unit (catalog pass plus script) on the
# reference host
UNIT_S = 6.5


def run_unit(cat: Catalog, ksql: Runner, tracer=None):
    """One catalog pass in a seeded order, then one KSQL script on a fresh
    engine (its DDL untimed). Returns (queries, statements, busy seconds):
    (name, seconds) per completed query and (kind, index, seconds) per
    completed statement."""
    engine = ksql.new_engine()
    queries: list[tuple[str, float]] = []
    if tracer is not None:
        tracer.install()
    t0 = time.perf_counter()
    try:
        for name in cat.order():
            t = cat.run_one(name, tracer)
            if t is not None:
                queries.append((name, t))
        statements = [] if engine is None else ksql.run_script(*engine, tracer)
    finally:
        busy_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.uninstall()
    return queries, statements, busy_s


def e2e_metrics(times: list[float], statements: list[tuple[str, int, float]],
                busy_s: float, setup_s: float) -> tuple[dict[str, float], float]:
    """End-to-end metrics of the completed operations and the tail's
    percentile. A population whose every operation failed reads NaN."""
    tail_ms, tail_pct = tail([1000 * t for t in times])
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": (len(times) + len(statements)) / busy_s if busy_s else NAN,
        "latency_p50_ms": 1000 * median(times),
        "latency_tail_ms": tail_ms,
        "write_p50_ms": 1000 * median([t for k, _, t in statements if k != "read"]),
        "read_p50_ms": 1000 * median([t for k, _, t in statements if k == "read"]),
        "peak_rss_mb": peak_rss_mb(),
    }
    return metrics, tail_pct


def _curve_point(label: str, queries, statements, busy_s: float) -> str:
    ms = [1000 * t for _, t in queries]
    ins = [1000 * t for k, _, t in statements if k != "read"]
    rd = [1000 * t for k, _, t in statements if k == "read"]
    return (f"{label}: {busy_s:.2f} s, query p50 {median(ms):.0f} ms, "
            f"insert p50 {median(ins):.1f} ms, read p50 {median(rd):.0f} ms")


def _warm_up_scripts(ksql: Runner, curve: list[str]) -> None:
    for i in range(WARMUP_SCRIPTS):
        engine = ksql.new_engine()
        if engine is None:
            return
        st = ksql.run_script(*engine)
        ins = [1000 * t for k, _, t in st if k != "read"]
        rd = [1000 * t for k, _, t in st if k == "read"]
        curve.append(f"warm-up script {i + 1}: insert p50 {median(ins):.1f} ms, "
                     f"read p50 {median(rd):.0f} ms")


def run(spark, work, seed: int, units: int, tracer=None) -> Outcome:
    t_setup = time.perf_counter()
    cat = Catalog(spark, DATA_DIR, QUERIES, seed)
    ksql = Runner(spark, seed)
    curve, script_curve = [], []
    scripts = threading.Thread(target=_warm_up_scripts, args=(ksql, script_curve))
    scripts.start()
    try:
        cat.check_oracles()
        for i in range(WARMUP_PASSES):
            t0 = time.perf_counter()
            ms = [1000 * (cat.run_one(name) or NAN) for name in cat.order()]
            curve.append(f"warm-up pass {i + 1}: {time.perf_counter() - t0:.2f} s, "
                         f"query p50 {median(ms):.0f} ms")
    finally:
        scripts.join()
    setup_s = time.perf_counter() - t_setup
    curve += script_curve

    cat.attempted = cat.failed = ksql.attempted = ksql.failed = 0
    queries: list[tuple[str, float]] = []
    statements: list[tuple[str, int, float]] = []
    ops: list[tuple[str, float]] = []
    busy_s = 0.0
    for i in range(units):
        q, st, b = run_unit(cat, ksql, tracer)
        curve.append(_curve_point(f"timed unit {i + 1}", q, st, b))
        queries += q
        statements += st
        busy_s += b
        ops += q + [(f"ksql.{idx}", t) for _, idx, t in st]

    times = [t for _, t in queries]
    per_query = {n: round(1000 * median([t for m, t in queries if m == n])) for n in cat.fns}
    metrics, tail_pct = e2e_metrics(times, statements, busy_s, setup_s)
    if tracer is not None:
        from perfbench import batch_catalog, ksql_script

        metrics.update(batch_catalog.layer_metrics(tracer))
        metrics.update(ksql_script.layer_metrics(tracer))
    failed = cat.failed + ksql.failed
    return Outcome(
        correct=not (cat.errors or ksql.errors) and failed == 0,
        attempted=cat.attempted + ksql.attempted,
        failed=failed,
        drift=drift(ops),
        metrics=metrics,
        notes=cat.errors + ksql.errors + curve
        + [f"per-query median ms: {per_query}",
           f"latency_tail_ms is p{tail_pct:.1f} of {len(times)} queries"],
    )
