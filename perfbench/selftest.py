"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, asserts that every
metric named in BENCHMARK.json is reported with its unit and that the
outputs checked clean, then damages one routed row of an ingest output
and asserts that the run reports a failed operation.  Takes a few
minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--scale", "tiny", "--seconds", "1",
           "--seed", "7", *args]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if done.returncode != 0:
        raise AssertionError(f"{cmd} exited {done.returncode}:\n{done.stderr[-3000:]}")
    return json.loads(done.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
             "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in (x["name"] for x in spec["workloads"]):
        for trace in ("0", "1"):
            res = bench("--workload", w, "--trace", trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == units[trace], (w, trace, set(got) ^ set(units[trace]))
            print(f"ok  {w} trace={trace} attempted={res['attempted']}")
    res = bench("--workload", "ingest_incremental", "--trace", "0", "--corrupt-one-row")
    assert res["failed"] >= 1 and not res["correct"], res
    print(f"ok  dropped routed row detected: failed={res['failed']}/{res['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
