"""COVERAGE.md must not drift from the registry: the query count the doc
claims is asserted against ``len(all_queries())`` (the count drifted to a
stale "113" once — this pins it)."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_coverage_doc_query_count_matches_registry():
    from localsql_spark.workload import all_queries

    text = (REPO / "COVERAGE.md").read_text()
    m = re.search(r"(\d+) of (\d+) have exact\s+DuckDB oracles", text)
    assert m, "COVERAGE.md no longer states its query count — keep the claim"
    assert int(m.group(2)) == len(all_queries()), (
        f"COVERAGE.md claims {m.group(2)} queries but the registry has "
        f"{len(all_queries())} — update the doc")


# Registry entries ALLOWED to run the driver's weaker rows-only check.
# Additions here must be genuinely non-SQL-expressible AND carry a unit
# test pinning determinism, plus an exactly-oracled twin where one exists.
# Empty since r14: the last rows-only entry (knn_ivf_trained_top5) was
# retired — its training pipeline is exact-checked by the planted twin
# (knn_ivf_trained_planted_top5) and its serving path by
# knn_ivf_index_top5.
ROWS_ONLY_DOCUMENTED: set[str] = set()


def test_every_query_has_oracle_or_is_documented_weak():
    """The doc's oracle-count claim itself: every registry entry must
    carry an oracle (driver falls back to a weaker rows-only check
    otherwise) unless it is in the documented rows-only set above."""
    import __spark_entry__ as m

    qs, oracles = m.queries(), m.oracle_sql()
    missing = sorted(set(qs) - set(oracles) - ROWS_ONLY_DOCUMENTED)
    assert not missing, f"queries without oracle SQL: {missing}"
    # the count in the doc's N-of-M claim must match the oracle dict too
    text = (REPO / "COVERAGE.md").read_text()
    m2 = re.search(r"(\d+) of (\d+) have exact\s+DuckDB oracles", text)
    assert m2 and int(m2.group(1)) == len(oracles)

