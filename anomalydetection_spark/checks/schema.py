"""Schema checks: required columns/types + rename reconciliation.

The reference validates schema at runtime with 13 sequential asserts that
abort into user alerts (``/root/reference/PRIME_App/server.R:1040-1081``,
``App/utils.R:619-657`` ``runChecks``) and reconciles data-vintage drift
with conditional renames (``PRIME_App/server.R:774-782`` — operator P2 in
SURVEY.md §2.2). Here both become declarative:

* :class:`SchemaCheck` — compares ``df.schema`` against a required
  {column: type} spec. Pure driver-side metadata: contributes NO
  aggregate expressions and launches NO job — at 10^12 rows the schema
  gate must cost zero scans, and failing it should veto the scan-bearing
  checks before they run (``ValidationSuite`` orders verdicts so callers
  can gate on ``check='schema'`` rows first).
* :func:`reconcile_schema` — applies an alias map of known historical
  names (``prime_partner_name → primepartner`` style) before validation.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import DataFrame

from anomalydetection_spark.checks.base import Check, verdict


class SchemaCheck(Check):
    """Required columns exist with the expected Spark SQL type names.

    ``required``: {column: simple type string (``df.dtypes`` form, e.g.
    'string', 'int', 'binary', 'bigint')} — or a bare column list when
    only presence matters. ``strict=True`` additionally fails on columns
    outside the spec (schema drift detection).
    """

    def __init__(
        self,
        required: Mapping[str, str | None] | Sequence[str],
        strict: bool = False,
    ):
        if not isinstance(required, Mapping):
            required = {c: None for c in required}
        self.required = dict(required)
        self.strict = strict
        self.name = "schema"

    def run_extra(self, df: DataFrame, stats: dict[str, Any] | None = None) -> list[dict[str, Any]]:
        actual = dict(df.dtypes)
        out: list[dict[str, Any]] = []
        for col, want in self.required.items():
            present = col in actual
            out.append(verdict(self.name, col, "present", float(present), 1.0, None))
            if want is not None:
                ok = present and actual[col] == want
                v = verdict(self.name, col, "type_match", float(ok), 1.0, None)
                if not ok:
                    v["metric"] = (
                        f"type_match(want={want},got={actual.get(col, 'absent')})"
                    )
                out.append(v)
        if self.strict:
            extras = [c for c in actual if c not in self.required]
            v = verdict(self.name, "*", "unexpected_columns", float(len(extras)), None, 0.0)
            if extras:
                v["metric"] = f"unexpected_columns({','.join(sorted(extras))})"
            out.append(v)
        return out


def reconcile_schema(df: DataFrame, alias_map: Mapping[str, str]) -> DataFrame:
    """Rename known historical column names to their canonical form
    (reference operator P2). Only applies renames whose source exists and
    whose target doesn't already."""
    cols = set(df.columns)
    for old, new in alias_map.items():
        if old in cols and new not in cols:
            df = df.withColumnRenamed(old, new)
            cols.discard(old)
            cols.add(new)
    return df
