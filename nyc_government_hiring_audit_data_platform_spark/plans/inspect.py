"""Physical-plan inspection utilities.

The 100 TB design contract is enforced here, not assumed: tests assert
that scans prune columns and push filters, that small sides broadcast,
and that per-group top-N compiles to WindowGroupLimit. If a refactor
regresses a plan (a filter stops reaching parquet, a broadcast turns
into a shuffle), these helpers turn it into a test failure instead of a
silent 100x slowdown at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (ReadSchema of every scan)."""
    import re

    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    import re

    plan = physical_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entries = [e.strip() for e in m.group(1).split(",") if e.strip()]
        out.extend(entries)
    return out


def assert_column_pruning(df: DataFrame, max_columns: int) -> None:
    """Fail if any scan reads more than ``max_columns`` columns."""
    cols = read_schema_columns(df)
    assert len(cols) <= max_columns, (
        f"scan reads {len(cols)} columns ({cols}); expected <= {max_columns} - "
        "projection did not reach the parquet scan"
    )


def assert_filter_pushdown(df: DataFrame, fragment: str) -> None:
    """Fail unless some pushed filter mentions ``fragment``."""
    pf = pushed_filters(df)
    assert any(fragment.lower() in f.lower() for f in pf), (
        f"no pushed filter mentions {fragment!r}; pushed: {pf}"
    )


def uses_window_group_limit(df: DataFrame) -> bool:
    """True when rank<=k compiled into WindowGroupLimit (partial top-K
    before the shuffle - the scalable per-group top-N)."""
    return "WindowGroupLimit" in physical_plan(df)


def _subtree_bounds_window_input(node) -> bool:
    """True when a logical subtree is bounded by construction for the
    purpose of feeding a single-partition Window: it contains a Limit
    (top-k lane) or an Aggregate grouping on a ``_shard`` attribute (the
    sharded_rank offsets relation - one row per shard by construction)."""
    cls = node.getClass().getSimpleName()
    if cls in ("GlobalLimit", "LocalLimit"):
        return True
    if cls == "Aggregate":
        ge = node.groupingExpressions()
        for i in range(ge.size()):
            if "_shard" in ge.apply(i).toString():
                return True
    ch = node.children()
    for i in range(ch.size()):
        if _subtree_bounds_window_input(ch.apply(i)):
            return True
    return False


def global_window_violations(df: DataFrame) -> list[str]:
    """Window nodes that would funnel their whole input through ONE task
    at scale: partitionSpec empty or all-foldable (a constant like
    ``lit(0)`` partitions exactly like no partitioning), over an input
    subtree that is NOT bounded by construction (no Limit, no
    ``_shard``-totals Aggregate). This is the vocab_coverage-class gate:
    a global ``Window.orderBy`` running sum over an unbounded relation
    is fine at sf0.1 and a driver-side funnel at a 100M-key corpus."""
    out: list[str] = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "Window":
            spec = node.partitionSpec()
            n = spec.size()
            unpartitioned = n == 0 or all(
                spec.apply(i).foldable() for i in range(n)
            )
            if unpartitioned and not _subtree_bounds_window_input(node):
                out.append(node.simpleString(200))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (BroadcastExchange is data movement but not a shuffle)."""
    import re

    plan = physical_plan(df)
    # each operator appears once in the tree and once in the detail
    # section; count tree entries only ("(n) Exchange")
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def exchange_blocks(df: DataFrame) -> list[str]:
    """One string per shuffle Exchange in the plan: the node header plus
    its ``Input``/``Arguments`` detail lines. Lets tests assert WHAT a
    shuffle moves (e.g. 8-byte PQ codes, never raw embedding vectors),
    not just how many shuffles there are."""
    import re

    plan = physical_plan(df)
    return [
        m.group(0)
        for m in re.finditer(
            r"\(\d+\) Exchange[^\n]*\n(?:(?:Input|Output|Arguments)[^\n]*\n?)+",
            plan,
        )
    ]


def analyzed_tree_lines(df: DataFrame) -> int:
    """Node-line count of the ANALYZED logical plan. A deep composed
    query whose large mid-pipeline subtree is re-referenced downstream
    gets that subtree duplicated into every consumer's analyzed tree -
    the round-6 capstone hit 11.4k nodes and ~20s of flat driver-side
    planning/codegen per action at EVERY scale. Kept bounded by
    truncating the lineage of tiny mid-pipeline relations (collected
    literal relations), and gated by tests so the fix can't regress."""
    return df._jdf.queryExecution().analyzed().treeString().count("\n")


def shuffle_write_bytes(spark) -> int:
    """Cumulative shuffle WRITE bytes across this application's
    completed stages, from the UI's REST API (the stable public surface
    for task metrics - the Py4J status store binds Scala default-arg
    methods awkwardly). Take a reading before and after an action and
    diff to measure what one job actually moved; requires
    ``spark.ui.enabled=true`` (raises otherwise). Complements
    :func:`shuffle_count`: the plan says how many Exchanges, this says
    how many bytes crossed them.

    Measurement-window caveat: the endpoint only serves stages the UI
    retains (``spark.ui.retainedStages``, default 1000), so in an app
    that runs more stages than that BETWEEN the two readings the
    before-value's stages can be evicted and the diff comes out too
    small or negative - bound the measured action or raise the
    retention. Retried stages report one entry per ATTEMPT; only the
    latest attempt per stage is summed here (a retry re-moves the same
    bytes, and counting both would inflate the diff).

    Single-job-at-a-time assumption: the counter is application-wide,
    so any CONCURRENT job in the same application between the two
    readings attributes its shuffle bytes to the measured action - run
    the probe with nothing else scheduled. The HTTP read carries a
    bounded ``timeout`` so a wedged UI endpoint fails the probe instead
    of hanging it indefinitely."""
    import json
    import urllib.request

    sc = spark.sparkContext
    if sc.uiWebUrl is None:
        raise RuntimeError(
            "shuffle_write_bytes needs the Spark UI "
            "(spark.ui.enabled=true) for the status REST API"
        )
    url = (
        f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        "/stages?status=complete"
    )
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    latest: dict = {}
    for s in stages:
        sid, att = s.get("stageId", -1), s.get("attemptId", 0)
        if sid not in latest or att > latest[sid][0]:
            latest[sid] = (att, s.get("shuffleWriteBytes", 0))
    return sum(b for _, b in latest.values())
