"""Physical-plan introspection helpers.

The engine's scale posture is enforced, not hoped for: tests assert that
the plans Catalyst actually produces have the properties the 100 TB
design depends on — filters pushed into the parquet scan, pruned read
schemas, broadcast joins for dimension tables, whole-stage codegen over
the hot expressions. ``.explain`` output is the contract surface.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all scans in the plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema entries (column pruning evidence) for each scan."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def broadcast_join_count(df: DataFrame) -> int:
    return formatted_plan(df).count("BroadcastHashJoin")


def shuffle_exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the (pre-AQE) plan.

    Formatted mode prints nodes as ``(N) Exchange`` with the partitioning
    on a separate ``Arguments:`` line, so count the node headers.
    """
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """True when the EXECUTED plan contains codegen'd stages. Under AQE
    the physical plan is only finalized during execution, so this runs
    the query (cheap at test scale) and inspects the final plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd stages print as "*(N) Operator" in the simple plan string
    return bool(re.search(r"\*\(\d+\)", plan)) or "WholeStageCodegen" in plan


def uses_take_ordered(df: DataFrame) -> bool:
    """orderBy+limit compiled to TakeOrderedAndProject (no global sort)."""
    return "TakeOrderedAndProject" in formatted_plan(df)


_AGG_NODES = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
)


def unsafe_single_partition_exchanges(df: DataFrame) -> list[int]:
    """Node ids of ``Exchange SinglePartition`` operators whose subtree
    reads a parquet scan WITHOUT any aggregation/limit in between — the
    one plan shape that cannot survive a 100× scale-up (all fact rows
    funneled through one task). A SinglePartition exchange above an
    aggregate is fine: it carries a bounded relation (e.g. one row per
    snapshot bucket). Returns an empty list for a scale-safe plan.

    Heuristic on the formatted-plan tree: subtree membership comes from
    the tree indentation; "contains an aggregate anywhere below" stands
    in for per-path analysis (sufficient for this engine's plans, where
    single-partition windows always sit directly above their reducing
    aggregate).
    """
    plan = formatted_plan(df)
    lines = plan.splitlines()
    # --- tree section: "   +- NodeName (id)" lines up to the blank line
    tree: list[tuple[int, str, int]] = []  # (depth, name, id)
    for line in lines:
        m = re.match(r"^([ :+\-*]*)\s*([A-Za-z][A-Za-z0-9 ]*?) \((\d+)\)\s*$", line)
        if not m:
            if tree and not line.strip():
                break
            continue
        prefix, name, nid = m.group(1), m.group(2).strip(), int(m.group(3))
        tree.append((len(prefix), name, nid))
    # --- details section: which Exchange ids are SinglePartition
    sp_ids: set[int] = set()
    for m in re.finditer(
        r"\((\d+)\) Exchange\n(?:(?!\(\d+\) ).*\n)*?.*SinglePartition", plan
    ):
        sp_ids.add(int(m.group(1)))
    offenders: list[int] = []
    for i, (depth, name, nid) in enumerate(tree):
        if nid not in sp_ids:
            continue
        subtree = []
        for d2, n2, id2 in tree[i + 1 :]:
            if d2 <= depth:
                break
            subtree.append(n2)
        has_scan = any(n.startswith("Scan parquet") or n == "Scan" for n in subtree)
        has_agg = any(any(n.startswith(a) for a in _AGG_NODES) for n in subtree)
        if has_scan and not has_agg:
            offenders.append(nid)
    return offenders
