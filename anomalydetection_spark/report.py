"""Human-readable scorecard rendering (VERDICT r04 #7).

The reference ships a styled multi-sheet Excel scorecard — a
(partition × check) verdict matrix with a total row/column and
columns ordered by their totals (``/root/reference/PRIME_App/
utils.R:398-405`` builds the matrix with ``Total`` margins;
``/root/reference/App/utils.R:589-593`` orders columns by the column
total — the O6 ordering). The engine's sink tables are parquet by
design; this module renders the same matrix as CSV + HTML artifacts a
reviewer can open next to the parquet, from the (tiny) verdict rows
the runner already holds — zero extra Spark jobs.
"""

from __future__ import annotations

import csv
import html
import os
from typing import Iterable, Mapping


def scorecard_matrix(rows: Iterable[Mapping]) -> tuple[list, list, dict]:
    """Build the (row_key × check) failure matrix from verdict rows
    (mappings with ``row_key``, ``check``, ``passed``). Returns
    (row_keys, checks, cells) where cells[(row, check)] =
    (n_failed, n_verdicts); ``checks`` is ordered by total failures
    DESC then name ASC (the reference's column-by-total O6 ordering),
    ``row_keys`` sorted with the global '' slice first."""
    cells: dict = {}
    for r in rows:
        key = (r["row_key"], r["check"])
        f, t = cells.get(key, (0, 0))
        cells[key] = (f + (0 if r["passed"] else 1), t + 1)
    row_keys = sorted({k for k, _ in cells}, key=lambda k: (k != "", k))
    col_tot: dict = {}
    for (_, c), (f, _t) in cells.items():
        col_tot[c] = col_tot.get(c, 0) + f
    checks = sorted(col_tot, key=lambda c: (-col_tot[c], c))
    return row_keys, checks, cells


def render_scorecard(rows: Iterable[Mapping], out_dir: str,
                     name: str = "scorecard",
                     row_label: str = "partition") -> tuple[str, str]:
    """Write ``<out_dir>/<name>.csv`` and ``.html``: failed-verdict
    counts per (row × check) with a TOTAL row and TOTAL column. CSV
    cells are plain ints (machine-diffable); HTML cells render
    ``failed/total`` with pass/fail shading. Returns both paths."""
    row_keys, checks, cells = scorecard_matrix(rows)
    os.makedirs(out_dir, exist_ok=True)

    def cell(rk, c):
        return cells.get((rk, c), (0, 0))

    row_tot = {rk: sum(cell(rk, c)[0] for c in checks) for rk in row_keys}
    col_tot = {c: sum(cell(rk, c)[0] for rk in row_keys) for c in checks}
    grand = sum(row_tot.values())

    csv_path = os.path.join(out_dir, f"{name}.csv")
    # csv.writer, not raw join: partition values / check names may carry
    # commas or quotes and must not shift the matrix columns
    with open(csv_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow([row_label] + checks + ["TOTAL"])
        for rk in row_keys:
            label = rk if rk != "" else "(all)"
            w.writerow([label] + [cell(rk, c)[0] for c in checks]
                       + [row_tot[rk]])
        w.writerow(["TOTAL"] + [col_tot[c] for c in checks] + [grand])

    html_path = os.path.join(out_dir, f"{name}.html")
    with open(html_path, "w") as f:
        f.write("<!doctype html><meta charset='utf-8'>"
                "<title>validation scorecard</title>"
                "<style>table{border-collapse:collapse;font:13px monospace}"
                "td,th{border:1px solid #999;padding:2px 8px;"
                "text-align:right}th{background:#eee}"
                ".ok{background:#e7f6e7}.bad{background:#f6e0e0}"
                ".tot{font-weight:bold}</style><table>\n")
        f.write("<tr><th>" + html.escape(row_label) + "</th>"
                + "".join(f"<th>{html.escape(c)}</th>" for c in checks)
                + "<th>TOTAL</th></tr>\n")
        for rk in row_keys:
            label = html.escape(rk) if rk != "" else "(all)"
            tds = []
            for c in checks:
                fl, tt = cell(rk, c)
                cls = "bad" if fl else "ok"
                tds.append(f"<td class='{cls}'>{fl}/{tt}</td>")
            f.write(f"<tr><th>{label}</th>" + "".join(tds)
                    + f"<td class='tot'>{row_tot[rk]}</td></tr>\n")
        f.write("<tr class='tot'><th>TOTAL</th>"
                + "".join(f"<td class='tot'>{col_tot[c]}</td>"
                          for c in checks)
                + f"<td class='tot'>{grand}</td></tr>\n</table>\n")
    return csv_path, html_path

