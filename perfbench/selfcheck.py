#!/usr/bin/env python3
"""Self-check of the benchmark on tiny inputs (100 listings,
sf0.001-sized tables). It shows that:
  1. every metric of BENCHMARK.json is emitted, with its unit, by every
     workload run.py knows (the gated ones and etl_listing), traced and
     untraced, with every operation's output correct;
  2. a planted wrong output -- one summary count off by one, one query
     result replaced by another query's -- is counted as failed;
  3. a workload that cannot run says so: in a directory holding only
     BENCHMARK.json and perfbench/, run.py exits non-zero and prints
     no result.

Usage, from the root of the repository (takes about five minutes):
    python3 perfbench/selfcheck.py
Exits non-zero if any check fails.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

RUN = ["python3", "perfbench/run.py", "--seed", "7", "--seconds", "1", "--tiny"]


def run(args, cwd="."):
    p = subprocess.run(RUN + args, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result, p.stderr


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in bench.WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(["--workload", w, "--trace", str(trace)])
            check(rc == 0 and res is not None, f"{w} trace={trace} runs (rc={rc}) {err[-300:] if rc else ''}")
            if res is None:
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace} result has exactly the four result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace} is correct ({res['failed']}/{res['attempted']} failed)")
            want = {d["name"]: d["unit"] for d in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace} emits every {group} metric with its unit")
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if v["value"] == 0]
                check(not zero, f"{w} end-to-end metrics are non-zero {zero}")

    for w in bench.WORKLOADS:
        rc, res, _ = run(["--workload", w, "--trace", "0", "--plant"])
        check(rc == 0 and res is not None and res["failed"] >= 1 and not res["correct"],
              f"{w}: a planted wrong output is counted as failed "
              f"({res and res['failed']}/{res and res['attempted']})")

    bare = os.path.abspath(os.path.join(".bench_build", "perfbench", "selfcheck-bare"))
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, err = run(["--workload", spec["workloads"][0]["name"], "--trace", "0"], cwd=bare)
    check(rc != 0 and res is None and "cannot run" in err,
          f"without the engine's sources run.py says so and exits {rc}: {err.strip()[:200]}")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"== {len(problems)} problem(s) ==")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
