"""Plan-inspection utilities: assert the physical plan Catalyst picked
is the plan the engine wants (pushdown reached the scan, small dims
broadcast, the hot path stays in whole-stage codegen).

The reference has no optimizer to inspect (SURVEY §4.1); these helpers
exist because this engine DELEGATES optimization to Catalyst, so its
perf contract is "the right plan shape", not hand-written execution.
Tests pin the shape; at 100 TB the same assertions hold because they
are scale-free properties of the plan, not timings.

Every helper reads the JVM physical-plan tree through `_walk`, which
descends by the one rule in `_children`. Explain text
(`physical_plan`, `executed_plan`) is for failure messages and
substring pins only: `formatted` mode prints every node twice, and an
executed cached plan prints its initial plan next to its final one,
so counting text gives wrong answers.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan (what `.explain(mode)` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def executed_plan(df: DataFrame) -> str:
    """Run the plan and return the FINAL adaptive plan. AQE only fixes
    join strategies, coalescing, and codegen annotation at runtime, so
    codegen/final-shape checks need this, not the static explain.

    Executes via `collect()` on THIS DataFrame's query execution (a
    noop write would finalize a separate execution and leave this plan
    static) — audit small/aggregated frames, not full tables."""
    df.collect()
    return physical_plan(df, "simple")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _children(node, kind: str, into_cache: bool = True) -> list:
    """The one rule for descending the physical-plan tree.

    - `AdaptiveSparkPlanExec`: its current plan (the final one once
      executed).
    - `*QueryStageExec`: the stage's plan. Once AQE has run, stages
      are leaves, and a walk that stops there finds nothing beneath
      an executed cache.
    - `InMemoryTableScan*`: the cached relation's plan, unless
      `into_cache` is False.
    - anything else: its children plus its expression subqueries
      (scalar, broadcast, dynamic-pruning).

    `ReusedExchangeExec` has no children: it points at an exchange
    already in the tree, so it is not a second shuffle."""
    if kind == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if kind.endswith("QueryStageExec"):
        return [node.plan()]
    if kind.startswith("InMemoryTableScan"):
        return [node.relation().cachedPlan()] if into_cache else []
    return _seq(node.children()) + _seq(node.subqueries())


def _walk(df: DataFrame, into_cache: bool = True) -> Iterator[tuple[str, object]]:
    """Every `(class simple name, node)` of `df`'s physical plan,
    parents before children."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = _kind(node)
        yield kind, node
        stack.extend(reversed(_children(node, kind, into_cache)))


def _split_top_level(s: str) -> list[str]:
    """Split a comma-separated list, ignoring commas inside nested
    parentheses or brackets."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        depth += {"(": 1, "[": 1, ")": -1, "]": -1}.get(ch, 0)
        cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the file scans, one string per filter
    (e.g. `LessThanOrEqual(l_shipdate,1998-09-02T00:00)`)."""
    out: list[str] = []
    for kind, node in _walk(df):
        if kind == "FileSourceScanExec":
            body = node.metadata().get("PushedFilters").get().strip()[1:-1]
            out.extend(f.strip() for f in _split_top_level(body) if f.strip())
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns each scan actually reads (union over scans) — the
    column-pruning check: a 2-column projection must not read 16."""
    cols: set[str] = set()
    for kind, node in _walk(df):
        if kind == "FileSourceScanExec":
            cols.update(node.requiredSchema().fieldNames())
    return cols


def broadcast_join_count(df: DataFrame) -> int:
    return sum(1 for kind, _ in _walk(df) if kind == "BroadcastHashJoinExec")


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan, whatever their
    partitioning (AQE may later coalesce partitions, but each Exchange
    is still a full data movement)."""
    return sum(1 for kind, _ in _walk(df) if kind == "ShuffleExchangeExec")


def exchange_partition_keys(df: DataFrame) -> list[list[str]]:
    """The names of the attributes each hash- or range-partitioned
    shuffle Exchange is keyed on (one list per exchange). A key
    expression such as `cast(doc_id as bigint)` reads as `doc_id`.
    Lets a test pin shuffles BY GRANULARITY — e.g. "exactly N
    exchanges keyed on doc_id" — instead of a total-count ceiling that
    quietly absorbs a lost broadcast (a 2048-row scalar exchange and a
    corpus-wide one both count 1 in shuffle_count)."""
    out: list[list[str]] = []
    for kind, node in _walk(df):
        if kind == "ShuffleExchangeExec":
            part = node.outputPartitioning()
            if _kind(part) in ("HashPartitioning", "RangePartitioning"):
                out.append([a.name() for a in _seq(part.references().toSeq())])
    return out


def single_partition_scan_funnels(df: DataFrame) -> list[str]:
    """Detect the global-sort scale killer: a single-partition shuffle
    Exchange with some path below it that reaches a scan WITHOUT
    passing through an aggregate. That shape funnels raw table data
    through one task (a bare Window.orderBy / global
    sort-without-limit); a single-partition exchange above a (partial)
    aggregate is fine — its input is already group-cardinality, not
    row-cardinality.

    Returns the offending exchanges' subtrees (empty list = clean
    plan)."""

    def raw_scan_below(node, kind: str) -> bool:
        if "Aggregate" in kind:  # HashAggregate / SortAggregate /
            return False  # ObjectHashAggregate partial
        kids = _children(node, kind)
        if not kids:
            return "Scan" in kind
        return any(raw_scan_below(k, _kind(k)) for k in kids)

    return [
        node.treeString()
        for kind, node in _walk(df)
        if kind == "ShuffleExchangeExec"
        and _kind(node.outputPartitioning()) == "SinglePartition$"
        and raw_scan_below(node, kind)
    ]


def wholestage_codegen_ids(df: DataFrame) -> int:
    """How many WholeStageCodegen spans cover the plan (0 means the hot
    path fell out of codegen entirely — a red flag for scan-heavy ops).
    Executes the plan with `collect()`: AQE annotates codegen only in
    the final plan."""
    df.collect()
    return len(
        {
            node.codegenStageId()
            for kind, node in _walk(df)
            if kind == "WholeStageCodegenExec"
        }
    )


def assert_plan(
    df: DataFrame,
    max_shuffles: int | None = None,
    min_broadcast_joins: int | None = None,
    require_pushed_filter: str | None = None,
    max_read_columns: int | None = None,
) -> None:
    """One-call plan-shape gate used by tests and ad-hoc audits."""
    plan = physical_plan(df)
    if max_shuffles is not None:
        n = shuffle_count(df)
        assert n <= max_shuffles, f"{n} shuffles > {max_shuffles}\n{plan}"
    if min_broadcast_joins is not None:
        n = broadcast_join_count(df)
        assert n >= min_broadcast_joins, f"{n} broadcast joins < {min_broadcast_joins}\n{plan}"
    if require_pushed_filter is not None:
        pf = pushed_filters(df)
        assert any(require_pushed_filter in f for f in pf), (
            f"no pushed filter matching {require_pushed_filter!r} in {pf}\n{plan}"
        )
    if max_read_columns is not None:
        cols = read_schema_columns(df)
        assert len(cols) <= max_read_columns, (
            f"scans read {len(cols)} columns {sorted(cols)} > {max_read_columns}\n{plan}"
        )


def nodes_outside_cache(df: DataFrame, needle: str) -> list[str]:
    """Plan nodes whose `simpleString` contains ``needle`` and that are
    NOT beneath an InMemoryTableScan in the plan tree — i.e. work a
    branch would execute directly instead of reading from a cache.

    The pin for fused multi-rollup plans (quality_eval_report): with
    the scored frame persisted, every rollup branch's path to the
    expensive subplan (the raw scan, the bucket-keyed scoring join)
    passes through the cache, so this returns []. If the persist is
    dropped, each rollup re-runs the subplan and its nodes show up
    here. Note explain() PRINTS a cached subtree under every
    InMemoryTableScan that references it — counting node occurrences
    is meaningless; ancestry is the invariant. (A query whose only
    cache is the upstream labeled-tokens persist still shows its
    scoring join outside any cache — which is exactly how this
    distinguishes the fused report from a standalone rollup.)"""
    out: list[str] = []
    for _, node in _walk(df, into_cache=False):
        line = node.simpleString(100)
        if needle in line:
            out.append(line)
    return out
