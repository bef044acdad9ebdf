"""Driver-contract checks: entry() smoke at sf0.001 and a fast subset of
the DuckDB oracle parity at sf0.001 (the full sf0.01 sweep lives in
scripts/oracle_parity.py; the driver runs its own copy)."""

from __future__ import annotations

import os
import subprocess
import sys

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FAST_SUBSET = [
    "groupby_pricing_summary",
    "window_topk_orders",
    "rollup_totals",
    "text_token_stats",
    "uniqueness_summary",
    "drift_ks",
    "cube_stats",
    "asof_join_clicks",
    "session_stats",
    "set_intersect_except",
    # ANN / PQ gates: the DuckDB oracle checks the Arrow centroid and PQ
    # kernels (the only scoring path) directly
    "ivf_centroid_update",
    "ann_ivf_topk",
    "pq_encode",
    "pq_adc_topk",
    "ivf_pq_topk",
    "pq_train",
    "ivf_pq_pruned",
    # connected-components labeling (min-label propagation)
    "dedup_clusters",
]


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "table", "partition", "check", "column", "metric", "value", "lo", "hi", "passed",
    }


def test_queries_oracle_keys_align():
    import __spark_entry__ as E

    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q), "every oracle key must have a query"
    # rows-only entries are exactly the genuinely non-SQL-expressible
    # model kernels (driver-side matrix inverses / per-series fits inside
    # grouped-map pandas UDFs) — everything else MUST carry an oracle
    assert set(q) - set(o) == {"rec_analysis_flags", "ts_band_flags"}


def test_oracle_parity_fast_subset():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "oracle_parity.py"),
         "--sf", SF, *FAST_SUBSET],
        capture_output=True, text=True, timeout=900, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-2000:]
