"""Physical-plan inspection helpers.

"Correct but mis-planned" is the failure mode that only shows up at
1000× the data: a sort-merge join that should broadcast, a scan
reading every column for a two-column projection, a filter evaluated
after the shuffle instead of inside the scan. These helpers make plan
shape a TESTABLE property (tests/test_plan_quality.py) so a regression
in partitioning/broadcast/pushdown fails CI at fixture scale instead
of an on-call page at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", physical_plan(df))


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    p = physical_plan(df)
    return len(re.findall(r"\n\(\d+\) Exchange", p))


def assert_plan(
    df: DataFrame,
    broadcast_join: bool | None = None,
    no_shuffle_join: bool = False,
    max_exchanges: int | None = None,
    pushed_filter_substr: str | None = None,
    read_schema_excludes: list[str] | None = None,
) -> None:
    """Raise AssertionError when the physical plan violates the stated
    scale contract."""
    p = physical_plan(df)
    if broadcast_join is True:
        assert "BroadcastHashJoin" in p, f"expected BroadcastHashJoin:\n{p}"
    if no_shuffle_join:
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, (
            f"unexpected shuffle join:\n{p}"
        )
    if max_exchanges is not None:
        n = len(re.findall(r"\n\(\d+\) Exchange", p))
        assert n <= max_exchanges, f"{n} shuffle exchanges (max {max_exchanges}):\n{p}"
    if pushed_filter_substr is not None:
        assert pushed_filter_substr in " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", p)), (
            f"filter not pushed to scan ({pushed_filter_substr}):\n{p}"
        )
    if read_schema_excludes:
        schemas = " ".join(re.findall(r"ReadSchema: (\S+)", p))
        for col in read_schema_excludes:
            assert col not in schemas, f"scan reads pruned column {col}:\n{p}"
