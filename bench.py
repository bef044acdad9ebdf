#!/usr/bin/env python
"""Benchmark harness (driver contract + SURVEY.md §7 step 9).

Runs, on ``local[$SPARK_GRAFT_CPUS]``:

  1. the flagship image-validation suite over a deterministic synthetic
     image/caption table (the engine's authoritative input shape) —
     metadata-only suite at BENCH_IMAGE_ROWS rows, and the full
     decode/PSNR suite at BENCH_PAYLOAD_ROWS rows with real payloads;
  2. every ``queries()`` entry from ``__spark_entry__`` against
     ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).

Each query is forced with a ``noop``-format write (full execution, no
driver collect skew). The full per-gate breakdown is written to
$SPARK_GRAFT_BENCH_JSON (default BENCH/bench_r06_local.json):

  {"metric": "total_bench_sec", "value": N, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "image_suite": {...rows/sec details...}}

and stdout ends with ONE JSON line under 2,000 characters (``summary``):
the headline total, the gate count, the image-suite legs and the 5
slowest gates.

The synthetic input is materialized to parquet once (under
$SPARK_GRAFT_BENCH_DIR, default /tmp/adspark_bench) and reused, so suite
timings measure validation, not generation; the same materialized input
is reused by scripts/scaling_bench.py for the N-vs-4N-cores scaling
evidence in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_IMAGE_ROWS = int(os.environ.get("SPARK_GRAFT_IMAGE_ROWS", "2000000"))
BENCH_PAYLOAD_ROWS = int(os.environ.get("SPARK_GRAFT_PAYLOAD_ROWS", "60000"))
BENCH_DIR = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/adspark_bench")
DETAIL_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_JSON", os.path.join(REPO, "BENCH", "bench_r06_local.json")
)


def ensure_image_tables(spark) -> tuple[str, str]:
    """Materialize (once) the metadata-only and with-payload image tables."""
    from anomalydetection_spark.synth import generate_distributed

    meta_path = f"{BENCH_DIR}/images_meta_{BENCH_IMAGE_ROWS}"
    pay_path = f"{BENCH_DIR}/images_payload_{BENCH_PAYLOAD_ROWS}"
    for path, n, payload in (
        (meta_path, BENCH_IMAGE_ROWS, False),
        (pay_path, BENCH_PAYLOAD_ROWS, True),
    ):
        if not os.path.exists(f"{path}/_SUCCESS"):
            generate_distributed(spark, n, with_payload=payload, partitions=64) \
                .write.mode("overwrite").parquet(path)
    return meta_path, pay_path


def time_image_suite(spark, path: str, with_decode: bool,
                     write_violations: bool = False) -> dict:
    from anomalydetection_spark.plans.image_suite import run_image_validation

    images = spark.read.parquet(path)
    n = images.count()  # warm FS cache / commit scan stats before timing

    def one_run() -> float:
        t0 = time.perf_counter()
        # verdicts-only legs skip the decode-result cache build; the
        # violations leg keeps it so its sink shares the single decode
        res = run_image_validation(spark, images, with_decode=with_decode,
                                   with_violations=write_violations)
        res.verdicts.write.format("noop").mode("overwrite").save()
        if write_violations and res.violations is not None:
            # round 3: the persisted narrow decode frame serves both the
            # verdict aggregate and this write from ONE mapInPandas
            # decode pass — previously violations re-decoded every image
            res.violations.write.format("noop").mode("overwrite").save()
        res.release()
        return time.perf_counter() - t0

    one_run()  # warm: codegen + JIT of the fused agg (same as scaling_bench)
    sec = one_run()
    return {"rows": n, "sec": round(sec, 3), "rows_per_sec": round(n / sec, 1)}


def summary(result: dict, detail_path: str) -> str:
    """The one stdout line: headline, gate count, image-suite legs and the
    5 slowest gates of ``result`` (the full breakdown is ``detail_path``)."""
    gates = result["queries"]
    top = sorted(gates.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    return json.dumps({
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "total_single_shot_sec": result["total_single_shot_sec"],
        "gates": len(gates),
        "sf": result["sf"],
        "image_suite": result["image_suite"],
        "slowest_gates": dict(top),
        "detail": os.path.relpath(detail_path, REPO),
    })


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from anomalydetection_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("adspark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    meta_path, pay_path = ensure_image_tables(spark)
    suite_meta = time_image_suite(spark, meta_path, with_decode=False)
    suite_decode = time_image_suite(spark, pay_path, with_decode=True)
    # violations-on leg (round 3): same suite + the violation sinks; the
    # shared decode cache means this costs ~one decode, not two
    suite_decode_viol = time_image_suite(
        spark, pay_path, with_decode=True, write_violations=True
    )

    # warm pass first (contract-permitted): every query compiles its own
    # codegen and touches its own parquet footers — a cold JVM otherwise
    # charges ~25s of one-time JIT/IO to whichever queries run first
    for name, fn in entry.queries().items():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Two timed passes, BOTH reported (ADVICE r03): `queries` is the
    # min-of-2 (single-shot timings carry ±2-4s transient stalls that
    # land on random queries; the min of two steady-state passes reports
    # the plan, not the hiccup), and `queries_single_shot` is the first
    # timed pass verbatim — so cross-round ratios can always be quoted
    # under a matched methodology instead of conflating estimator and
    # code changes.
    single_shot: dict[str, float] = {}
    per_query: dict[str, float] = {}
    for p in range(2):
        for name, fn in entry.queries().items():
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if p == 0:
                single_shot[name] = dt
            if name not in per_query or dt < per_query[name]:
                per_query[name] = dt
    single_shot = {k: round(v, 3) for k, v in single_shot.items()}
    per_query = {k: round(v, 3) for k, v in per_query.items()}

    total = round(
        suite_meta["sec"] + suite_decode["sec"] + sum(per_query.values()), 3
    )  # headline total; the violations leg reports separately
    total_single = round(
        suite_meta["sec"] + suite_decode["sec"] + sum(single_shot.values()), 3
    )
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    result = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "total_single_shot_sec": total_single,
        "queries_single_shot": single_shot,
        "sf": sf,
        "image_suite": {
            "metadata_only": suite_meta,
            "with_decode_psnr": suite_decode,
            "with_decode_violations": suite_decode_viol,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
        },
    }
    spark.stop()
    os.makedirs(os.path.dirname(DETAIL_PATH), exist_ok=True)
    with open(DETAIL_PATH, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(summary(result, DETAIL_PATH), flush=True)


if __name__ == "__main__":
    main()
