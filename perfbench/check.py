"""Correctness check, run outside the timed region.

Every key the workloads run has a DuckDB oracle; a result is compared
with it through the test harness's normalizer
(``tests.harness.canonical_rows``).
"""

from __future__ import annotations


class Checker:
    def __init__(self, sf_dir: str) -> None:
        from systematic_review_classification_spark import all_oracles
        from tests.harness import duck_con

        self.oracles = all_oracles()
        self.con = duck_con(sf_dir)

    def close(self) -> None:
        self.con.close()

    def check(self, key: str, pdf) -> str | None:
        """Return ``None`` when the result is correct, else a reason."""
        from tests.harness import canonical_rows

        if key not in self.oracles:
            return "key without an oracle"
        du = self.con.execute(self.oracles[key]).df()
        if sorted(pdf.columns) != sorted(du.columns):
            return f"columns {sorted(pdf.columns)} != oracle {sorted(du.columns)}"
        if len(pdf) != len(du):
            return f"row count {len(pdf)} != oracle {len(du)}"
        if canonical_rows(pdf) != canonical_rows(du):
            return "values differ from oracle"
        return None
