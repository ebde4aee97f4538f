"""Physical-plan assertions: the 100 TB discipline, codified.

Each helper inspects ``explain``-level output so tests can pin the
properties that matter at scale — filters reaching the parquet scan,
column pruning, broadcast joins for bounded dims, partial aggregation,
and no Python in JVM-only pipelines. A plan regression (e.g. a filter
silently becoming post-scan) fails tests instead of surfacing as a 10×
slowdown at sf=real.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df: DataFrame) -> str:
    """Plan AFTER an action, with AQE final decisions materialized.

    Must execute THIS DataFrame's plan (``count()`` would build a
    different QueryExecution and leave this one's AQE plan unfinalized).
    """
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def assert_pushed_filter(df: DataFrame, *fragments: str) -> None:
    """Every fragment must appear in a scan's PushedFilters list."""
    plan = formatted_plan(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    for frag in fragments:
        assert frag in pushed, f"filter {frag!r} not pushed; PushedFilters=[{pushed}]\n{plan}"


def read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))


def assert_scan_pruned_to(df: DataFrame, table_cols: set[str],
                          allowed: set[str]) -> None:
    """The scan touching ``table_cols`` must read ONLY ``allowed``."""
    for schema in read_schemas(df):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        if cols & table_cols:
            extra = cols - allowed
            assert not extra, f"scan reads unpruned columns {extra} (schema {schema})"
            return
    raise AssertionError(f"no scan found for columns {table_cols}")


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected a broadcast join:\n{plan}"
    )


def assert_partial_aggregation(df: DataFrame) -> None:
    """Partial (map-side) + final hash aggregation around the shuffle."""
    plan = formatted_plan(df)
    assert len(re.findall(r"HashAggregate", plan)) >= 2, (
        f"expected partial+final HashAggregate:\n{plan}"
    )


def assert_no_python(df: DataFrame) -> None:
    """No row-at-a-time or Arrow Python eval in the plan (JVM-only)."""
    plan = formatted_plan(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, f"unexpected Python stage {node}:\n{plan}"


def assert_wholestage_codegen(df: DataFrame) -> None:
    """Codegen spans only materialize in the AQE FINAL plan, so this
    executes the query and inspects the executed plan (codegen stages
    print as ``*(n)`` prefixes)."""
    plan = executed_plan(df)
    assert "*(" in plan or "WholeStageCodegen" in plan, (
        f"no WholeStageCodegen spans in executed plan:\n{plan}"
    )


def _children(jnode) -> list:
    """The children of a physical node for a structural walk, looking
    through the wrappers that hide a subtree: ``AdaptiveSparkPlan``
    (its current plan), every AQE ``*QueryStage`` (its ``plan()``;
    once a query has run, its whole final plan sits under a leaf
    ``ResultQueryStage``), ``ReusedExchange`` (the exchange it reuses)
    and ``InMemoryTableScan`` (the cached relation's plan)."""
    name = jnode.nodeName()
    if name == "AdaptiveSparkPlan":
        return [jnode.executedPlan()]
    if name.endswith("QueryStage"):
        return [jnode.plan()]
    if name == "ReusedExchange":
        return [jnode.child()]
    if name == "InMemoryTableScan":
        return [jnode.relation().cachedPlan()]
    kids = jnode.children()
    return [kids.apply(i) for i in range(kids.size())]


def physical_nodes(df: DataFrame, node_name: str) -> list:
    """Every physical-plan node (py4j handle) whose ``nodeName`` equals
    ``node_name`` ("Generate", "Window", ...), found by walking the
    plan TREE — robust to explain-formatter changes that break
    plan-string substring pins. Walks through AQE and cache wrappers
    (:func:`_children`), so the result is the same before and after
    the plan runs, and a persisted subtree is walked at each scan of
    its cache.
    """
    found = []

    def walk(jnode) -> None:
        if jnode.nodeName() == node_name:
            found.append(jnode)
        for k in _children(jnode):
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return found


def count_physical_nodes(df: DataFrame, node_name: str) -> int:
    """How many :func:`physical_nodes` are named ``node_name``."""
    return len(physical_nodes(df, node_name))


#: physical nodes that provably bound the row count flowing into any
#: operator above them: grouped aggregates emit |groups| rows (the
#: bounded-cells argument every global-window site relies on) and
#: global limit-family nodes emit <= k rows (``LocalLimit`` bounds
#: rows per partition only, so it is not one).
_BOUNDING_NODES = (
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "TakeOrderedAndProject", "CollectLimit", "GlobalLimit",
)


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Return a description of every ``Window`` node with NO partition
    spec whose subtree contains no aggregate/limit node — i.e. a
    single-task global window over potentially CORPUS-SIZED input, the
    one WindowExec shape that serializes a 100 TB query (VERDICT r9
    #5). Global windows over grouped aggregates (bounded cells: bins,
    nations, blocks, top-k frames) are the deliberate, audited pattern
    and pass. Walks the tree via py4j (robust to formatter changes),
    through AQE and cache wrappers (:func:`_children`).
    """
    offenders: list[str] = []

    def bounded_below(jnode) -> bool:
        name = jnode.nodeName()
        if any(name.startswith(b) for b in _BOUNDING_NODES):
            return True
        # every input branch must be bounded for the window input to be
        kids = _children(jnode)
        return bool(kids) and all(bounded_below(k) for k in kids)

    def walk(jnode) -> None:
        if (jnode.nodeName() == "Window" and jnode.partitionSpec().isEmpty()
                and not bounded_below(jnode)):
            offenders.append(jnode.simpleString(200))
        for k in _children(jnode):
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return offenders


def count_parquet_scans(df: DataFrame, path_fragment: str | None = None) -> int:
    """Structurally count parquet scan LEAVES in the executed plan,
    optionally only those whose one-line description (which carries the
    file Location) contains ``path_fragment``. The node-walk twin of
    ``plan.count("FileScan")``-style substring pins (ADVICE r7);
    persisted subtrees count once per cache definition.
    """
    def walk(jnode) -> int:
        if jnode.nodeName().startswith("Scan "):
            if path_fragment is None:
                return 1
            return 1 if path_fragment in jnode.simpleString(300) else 0
        return sum(walk(k) for k in _children(jnode))

    return walk(df._jdf.queryExecution().executedPlan())
