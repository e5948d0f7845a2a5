"""Physical-plan introspection helpers.

The engine's scale contract is checked, not assumed: tests assert that
star joins broadcast, that scans prune columns and push filters, and
that co-located joins don't shuffle. These helpers read the executed
plan the same way `.explain("formatted")` does, as strings the test
suite can assert on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle boundaries in the physical plan (AQE may later
    coalesce them, but a plan with zero Exchanges never shuffles)."""
    plan = executed_plan(df)
    return sum(
        line.count("Exchange") - line.count("BroadcastExchange")
        for line in plan.splitlines()
    )


def join_strategies(df: DataFrame) -> dict[str, int]:
    plan = executed_plan(df)
    return {
        "broadcast_hash": plan.count("BroadcastHashJoin"),
        "sort_merge": plan.count("SortMergeJoin"),
        "shuffled_hash": plan.count("ShuffledHashJoin"),
        "broadcast_nested_loop": plan.count("BroadcastNestedLoopJoin"),
    }


def pushed_filters(df: DataFrame) -> list[str]:
    """DataFilters/PushedFilters entries of every scan in the plan."""
    out = []
    for line in executed_plan(df).splitlines():
        for key in ("PushedFilters: [", "DataFilters: ["):
            if key in line:
                frag = line.split(key, 1)[1]
                out.append(frag.split("]", 1)[0])
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per scan — column pruning evidence."""
    cols = []
    for line in executed_plan(df).splitlines():
        if "ReadSchema: struct<" in line:
            frag = line.split("ReadSchema: struct<", 1)[1].rsplit(">", 1)[0]
            cols.append([c.split(":")[0] for c in frag.split(",") if c])
    return cols


_AGG_NODES = {"HashAggregate", "SortAggregate", "ObjectHashAggregate"}


def _phys_children(node) -> list:
    """Children of a JVM SparkPlan node, descending THROUGH the wrapper
    nodes that hide subtrees from a naive children() walk: AQE's
    AdaptiveSparkPlan (current plan), query stages (their materialized
    plan), and ReusedExchange (the exchange it aliases)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    cls = node.getClass().getSimpleName()
    if cls in (
        "BroadcastQueryStageExec",
        "ShuffleQueryStageExec",
        "TableCacheQueryStageExec",
    ):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _nodes(df: DataFrame):
    """Every node of ``df``'s executed plan, pre-order, descending
    through the wrappers that ``_phys_children`` sees through."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(reversed(_phys_children(node)))


_PLAN_CONSTANT_MAX_ROWS = 64


def _plan_constant(node, cls: str) -> bool:
    """A Range or local-rows leaf of at most _PLAN_CONSTANT_MAX_ROWS rows."""
    try:
        if cls == "RangeExec":
            return int(node.numElements()) <= _PLAN_CONSTANT_MAX_ROWS
        return node.rows().size() <= _PLAN_CONSTANT_MAX_ROWS
    except Exception:
        return False


def _is_scalar_subtree(node) -> bool:
    """True if the subtree provably yields a BOUNDED-CONSTANT number of
    rows independent of any table's size: a global (no-grouping)
    aggregate or limit <= 1 (the 1-row attach), a plan-time-constant
    leaf (Range / local literal rows with <= 64 elements), any join of
    such inputs, or a unary chain over one of those."""
    name = node.nodeName()
    cls = node.getClass().getSimpleName()
    ch = _phys_children(node)
    if name in _AGG_NODES and node.groupingExpressions().size() == 0:
        return True
    if cls in ("LocalLimitExec", "GlobalLimitExec"):
        try:
            if node.limit() <= 1:
                return True
        except Exception:
            pass
    if cls in ("RangeExec", "LocalTableScanExec"):
        return _plan_constant(node, cls)
    if "Join" in cls or "CartesianProduct" in cls:
        return len(ch) >= 2 and all(_is_scalar_subtree(c) for c in ch[:2])
    if len(ch) == 1:
        return _is_scalar_subtree(ch[0])
    return False


def bnlj_build_sides_scalar(df: DataFrame) -> list[bool]:
    """For every BroadcastNestedLoopJoin in the executed plan, whether
    its BUILD side is a provably <=1-row subtree. The registry's scale
    contract says every BNLJ must be a 1-row composition attach
    (mixture totals, sketch estimates, stats carriers) — this walks the
    JVM plan tree and PROVES it, instead of trusting the count."""
    out: list[bool] = []
    for node in _nodes(df):
        if node.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec":
            left, right = _phys_children(node)
            right_builds = node.buildSide().toString() == "BuildRight"
            out.append(_is_scalar_subtree(right if right_builds else left))
    return out


def _is_window_bounded_subtree(node) -> bool:
    """True if the subtree feeding an UNPARTITIONED window is bounded
    in the contract's sense: every leaf-ward path passes through an
    aggregate (the window then runs at group grain — the registry's
    adjudicated pattern: global NTILE/rank over a per-group rollup) or
    a limit, or the subtree is a plan-time-constant leaf. A raw fact
    scan flowing into a global window is the 100 TB failure mode this
    proves absent: one task sorts the table."""
    name = node.nodeName()
    cls = node.getClass().getSimpleName()
    ch = _phys_children(node)
    if name in _AGG_NODES:
        return True
    if cls in (
        "LocalLimitExec",
        "GlobalLimitExec",
        "CollectLimitExec",
        # distributed top-k: per-partition k-row heaps folded into one
        # k-row result — the scalable global-rank shape
        "TakeOrderedAndProjectExec",
    ):
        return True
    if cls in ("RangeExec", "LocalTableScanExec"):
        return _plan_constant(node, cls)
    if not ch:
        return False
    return all(_is_window_bounded_subtree(c) for c in ch)


_WINDOW_EXECS = {"WindowExec", "WindowInPandasExec"}


def global_window_inputs_bounded(df: DataFrame) -> list[bool]:
    """For every window operator with an EMPTY partition spec in the
    executed plan, whether its input subtree is provably bounded
    (aggregate-/limit-dominated — see _is_window_bounded_subtree).
    The registry's scale contract: a global window may only run over
    an aggregated or constant frame; sites whose boundedness is
    domain knowledge (calendar grain, fixed metric lists) DECLARE it
    via QuerySpec.window_bounded with the bound in the docstring —
    an undeclared raw-fact global window fails the sweep (r12
    verdict #3 promoted the docstring convention to this contract)."""
    out: list[bool] = []
    for node in _nodes(df):
        if node.getClass().getSimpleName() in _WINDOW_EXECS:
            try:
                unpartitioned = node.partitionSpec().size() == 0
            except Exception:
                unpartitioned = False
            if unpartitioned:
                ch = _phys_children(node)
                out.append(bool(ch) and _is_window_bounded_subtree(ch[0]))
    return out


def scan_profiles(df: DataFrame) -> list[dict]:
    """Per-scan (table, columns-read) evidence — the registry-wide
    column-pruning audit's raw material. A projection of 2 columns
    whose scan reads all of a wide table is a plan bug at 100 TB (the
    scan IS the dominant cost); this makes it visible per query
    instead of per hand-written test.

    Walks the JVM plan to FileSourceScanExec and reads
    ``requiredSchema`` directly (the string form of wide plans elides
    schemas mid-name, so parsing toString undercounts). ``table`` is
    the root path's basename without .parquet, or None for
    non-testdata locations (snapshot temp dirs etc.)."""
    import os

    out: list[dict] = []
    for node in _nodes(df):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            cols = list(node.requiredSchema().fieldNames())
            table = None
            rp = node.relation().location().rootPaths()
            if rp.size() > 0:
                base = os.path.basename(str(rp.apply(0)).rstrip("/"))
                if base.endswith(".parquet"):
                    table = base[: -len(".parquet")]
            out.append({"table": table, "n_read": len(cols), "cols": cols})
    return out
