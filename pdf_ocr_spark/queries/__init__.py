"""Query library: every module exposes QUERIES (name -> (spark, sf_dir)
-> DataFrame) and ORACLE (name -> DuckDB SQL twin).

FULL_QUERIES / FULL_ORACLES merge the modules below; the plan audit
(tools/audit_plans.py, tests/test_plan_contracts.py) and the per-module
tests run these. ``extract_q`` holds the extraction entry points
(``__spark_entry__.entry``, the contract perfbench runs) and registers
no query.
"""

from __future__ import annotations

FULL_QUERIES: dict = {}
FULL_ORACLES: dict = {}

from . import (  # noqa: E402
    analytics_ext,
    dedup,
    multimodal_q,
    similarity,
    textstats,
    tpch,
    validation_q,
    windows,
)

for _mod in (tpch, windows, dedup, similarity, textstats, multimodal_q,
             analytics_ext, validation_q):
    FULL_QUERIES.update(_mod.QUERIES)
    FULL_ORACLES.update(_mod.ORACLE)
