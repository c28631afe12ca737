"""Fast self-test of the benchmark: every workload at sf0.001 for a short
run, untraced and traced. Checks that each run prints every metric of
BENCHMARK.json with its unit, and that no operation fails.

    python3 perfbench/selftest.py          # from the repository root

Exits 0 when every check passes; prints one line per run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# figures each workload's report line must carry, besides the gated ones
TIMING = ["cycle_cpu_s", "p50_geomean_ms", "op_tail_ms", "cycle_p50_s", "host_steal_pct"]
REPORT = {
    "pe_serving": TIMING + [
        "get_p50_ms", "get_tail_ms", "scan_p50_ms", "scan_tail_ms",
        "index_scan_p50_ms", "index_scan_tail_ms", "error_rate", "peak_rss_mb"],
    "ingest_pipeline": TIMING + [
        "get_p50_ms", "get_tail_ms", "index_scan_p50_ms", "index_scan_tail_ms",
        "put_p50_ms", "put_tail_ms", "rows_written_per_s", "search_p50_ms", "search_tail_ms",
        "error_rate", "peak_rss_mb"],
}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--sf", "0.001"]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if res.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {res.returncode}\n{res.stderr[-2000:]}")
    lines = res.stdout.strip().splitlines()
    report = next(json.loads(x[len("report: "):]) for x in lines if x.startswith("report: "))
    return {"result": json.loads(lines[-1]), "report": report}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(wl, trace)
            res = out["result"]
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                                f"or units differ")
            for name, m in res["metrics"].items():
                if not isinstance(m["value"], (int, float)):
                    problems.append(f"{wl}: {name} is not a number")
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: {res['failed']}/{res['attempted']} failed")
            rep = out["report"]
            missing = [k for k in REPORT[wl] if "unit" not in rep.get(k, {})]
            if missing:
                problems.append(f"{wl} trace={trace}: report lacks {missing}")
            if rep["error_rate"]["value"] != 0:
                problems.append(f"{wl} trace={trace}: error_rate != 0")
            print(f"{wl} trace={trace}: {res['attempted']} ops, {res['failed']} failed, "
                  f"{len(res['metrics'])} metrics", flush=True)
    for p in problems:
        print("FAIL:", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
