"""Global-window audit (VERDICT r20 next #4): find every catalog entry
whose physical plan contains a Window/WindowGroupLimit over an EMPTY
partition spec — the `WindowExec: No Partition Defined ... moving all
data to a single partition` warning the full-catalog sweep logs show — and
report the producing expression so each one can be adjudicated
(model-/report-bounded input: fine; input-scale: a 100 TB scale bug).

Detection is static, from `explain(formatted)`: a window spec renders as
``windowspecdefinition([part_cols,] sort_col ASC|DESC ..., frame)``;
when the FIRST depth-0 argument is a sort item (or the frame itself),
the partition spec is empty. That is exactly the condition WindowExec
warns on, attributed per entry instead of interleaved in a sweep log.

Usage: python tools/window_audit.py [--sf-dir DIR] [entry ...]
Prints one line per entry with global windows (entry, count, exprs) and
a summary; exits 0 always (adjudication lives in the receipt).
"""
from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _split_depth0(s: str) -> list[str]:
    out, buf, depth = [], [], 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    if buf:
        out.append("".join(buf).strip())
    return out


_SORT_ITEM = re.compile(r"\b(ASC|DESC)\s+NULLS\s+(FIRST|LAST)\b")


def global_window_specs(plan: str) -> list[str]:
    """Every windowspecdefinition in ``plan`` whose partition spec is
    empty (first depth-0 argument is a sort item or the frame)."""
    hits = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        inner = plan[m.end():]
        args = _split_depth0(inner)
        if not args:
            continue
        first = args[0]
        if first.startswith("specifiedwindowframe") or _SORT_ITEM.search(first):
            hits.append("windowspecdefinition(" + ", ".join(args[:2]) + ", ...)")
    return hits


def main() -> int:
    args = sys.argv[1:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        sf = args[i + 1]
        del args[i:i + 2]

    import bench
    from monthly_report_etl_spark.catalog import QUERIES
    from monthly_report_etl_spark.session import get_spark

    extras = bench._extra_headline()
    names = args or sorted(set(QUERIES) | set(extras))
    spark = get_spark(app_name="window_audit")
    flagged = 0
    for name in names:
        fn = extras.get(name) or QUERIES[name]
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # pragma: no cover - audit robustness
            print(f"{name}: ERROR {exc}")
            continue
        hits = global_window_specs(plan)
        if hits:
            flagged += 1
            print(f"{name}: {len(hits)} global window spec(s)")
            for h in sorted(set(hits)):
                print(f"    {h}")
    print(f"entries audited: {len(names)}; with global windows: {flagged}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
