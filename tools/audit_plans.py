#!/usr/bin/env python
"""Registry-wide executed-plan audit: global windows + all-pairs joins.

Walks every FULL_QUERIES entry, renders its executed plan, and reports

  * GLOBAL WINDOW  — a Window whose spec has no partition key (every
    pre-frame token carries ASC/DESC).  These move their whole input
    through one partition; acceptable ONLY on provably bounded inputs
    (an aggregated/limited relation), never on a corpus-grain stream.
  * CARTESIAN      — CartesianProduct nodes (corpus x corpus unless
    one side is a bounded literal/stat relation).

Usage: python tools/audit_plans.py [sf_dir] [name ...]

This is the audit behind the round-4 de-globalization work
(s12/t32/t35/v15/s17); tests/test_plan_contracts.py pins those five
shapes permanently, and this tool keeps the rest of the registry
inspectable in one command.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def window_specs(plan: str) -> list[str]:
    return re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", plan)


def _split_top_level(spec: str) -> list[str]:
    """Split a windowspec token list on TOP-LEVEL commas only: a bare
    split would break 'coalesce(a, b) DESC' into a token without
    ASC/DESC that reads as a partition key — a genuinely global window
    would then silently pass the audit (false negative in the
    permanent regression guard)."""
    toks, depth, cur = [], 0, []
    for ch in spec:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            toks.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    toks.append("".join(cur).strip())
    return [t for t in toks if t]


def global_window_specs(plan: str) -> list[str]:
    bad = []
    for spec in window_specs(plan):
        toks = _split_top_level(spec)
        if not any(" ASC" not in x and " DESC" not in x for x in toks):
            bad.append(spec.strip()[:90])
    return bad


# Global windows whose INPUT is provably bounded (not corpus-grain):
# triaged round 4, reported as BOUNDED rather than FLAG.  Every entry
# names the bounding argument; a NEW global window in any other query
# is a real flag.
BOUNDED_GLOBAL_WINDOWS = {
    # row_number over an already-`limit(5)`-ed relation (the top-5 is
    # a TakeOrderedAndProject; the window input is 5 rows)
    "s11_ivfpq_search": 1,
    # t20's top-20 ranking runs on the symbol-PAIR-VOCAB relation
    # (thousands of rows at any corpus size — word frequency is a
    # sufficient statistic; the merge PICK is already a 1-row
    # allreduce, not a window)
    "t20_bpe_merges": 2,
    # confusion-cell grain: |langs|^2 rows at any corpus size
    "t36_langid_confusion": 1,
}


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from pdf_ocr_spark.queries import FULL_QUERIES
    from pdf_ocr_spark.session import get_spark

    spark = get_spark(app="audit-plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    flagged = 0
    for name, fn in FULL_QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — audit, keep walking
            print(f"ERR   {name}: {type(e).__name__}: {str(e)[:120]}")
            flagged += 1
            continue
        gw = global_window_specs(plan)
        cart = plan.count("CartesianProduct")
        allowed = BOUNDED_GLOBAL_WINDOWS.get(name, 0)
        if cart or len(gw) > allowed:
            flagged += 1
            print(f"FLAG  {name}: global_windows={len(gw)} cartesian={cart}")
            for s in gw:
                print(f"        win: {s}")
        elif gw:
            print(f"BOUNDED {name}: global_windows={len(gw)} (triaged)")
        else:
            print(f"ok    {name}")
    print(f"\n{flagged} flagged")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
