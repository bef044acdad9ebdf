"""``bench.py`` output contract: the full breakdown goes to a file and
stdout ends with one short JSON line a 2,000-character tail can hold."""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_summary_line_of_a_78_gate_result_is_short_json():
    bench = _bench()
    gates = {f"a_fairly_long_gate_name_number_{i:02d}": round(0.2 + i * 0.05, 3)
             for i in range(78)}
    leg = {"rows": 2000000, "sec": 12.345, "rows_per_sec": 162008.9}
    result = {
        "metric": "total_bench_sec", "value": 123.456, "unit": "sec",
        "queries": gates, "total_single_shot_sec": 130.5,
        "queries_single_shot": dict(gates), "sf": 0.1,
        "image_suite": {"metadata_only": leg, "with_decode_psnr": leg,
                        "with_decode_violations": leg, "cpus": "32"},
    }
    line = bench.summary(result, os.path.join(REPO, "BENCH", "x.json"))
    assert "\n" not in line and len(line) < 2000
    parsed = json.loads(line)
    assert parsed["value"] == 123.456 and parsed["gates"] == 78
    assert parsed["image_suite"] == result["image_suite"]
    assert list(parsed["slowest_gates"]) == [
        f"a_fairly_long_gate_name_number_{i:02d}" for i in (77, 76, 75, 74, 73)]
    assert parsed["detail"] == os.path.join("BENCH", "x.json")
