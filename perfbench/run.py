#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage, from the root of the repository:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The run builds the engine and the harness if needed (perfbench/build.py),
generates the workload's input from the seed (cached per seed under
.bench_build/perfbench/data), runs the harness JVM on every core of the
machine, checks the outputs and prints one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. perfbench/README.md explains them.
A run that cannot be made exits non-zero and prints no result.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402

# The catalog workload's queries, with the module that implements each.
CATALOG = {
    "q191_bpe_encode": "TextOps", "q225_fuzzy_parts": "Dedup",
    "q249_link_predict": "GraphOps", "q53_approx_percentiles": "Relational",
    "q91_sparse_cosine": "Dedup",
}

# Input shape and loop bounds of each workload; `tiny` is the
# self-check's shape (perfbench/selfcheck.py).
WORKLOADS = {
    "etl_bulk": dict(kind="etl", rows=100_000, parts=4, multiline=0.0,
                     min_warm=6, tiny=dict(rows=100)),
    "etl_listing": dict(kind="etl", rows=9_888, parts=0, multiline=0.01,
                        min_warm=3, tiny=dict(rows=100)),
    "catalog": dict(kind="catalog", scale=0.1, min_warm=2,
                    tiny=dict(scale=0.01)),
}
SETUP_PROBES = 2  # extra JVMs that only start the session, for setup_s
HEAP = "2g"  # fixed (-Xms = -Xmx), so peak RSS does not follow heap resizing
DEADLINE_S = 170.0  # the whole run, build excluded

BUILD_DIR = os.path.join(".bench_build", "perfbench")


class RunError(Exception):
    pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def inputs(workload: str, seed: int, tiny: bool) -> str:
    """Generates the workload's input for `seed` once; returns its dir."""
    spec = dict(WORKLOADS[workload], **(WORKLOADS[workload]["tiny"] if tiny else {}))
    key = f"{workload}-{seed}" + ("-tiny" if tiny else "")
    data = os.path.join(BUILD_DIR, "data", key)
    if os.path.exists(os.path.join(data, "done")):
        return data
    tmp = data + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if spec["kind"] == "etl":
        import gen_listings
        gen_listings.generate(tmp, seed, spec["rows"], spec["multiline"], spec["parts"])
    else:
        import gen_tables
        rows = gen_tables.generate(tmp, seed, spec["scale"])
        with open(os.path.join(tmp, "rows.json"), "w") as f:
            json.dump(rows, f)
    open(os.path.join(tmp, "done"), "w").close()
    shutil.rmtree(data, ignore_errors=True)
    os.rename(tmp, data)
    return data


def java(cp: str, work: str, main: str, args: list, timeout: float, log: str):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + build.ADD_OPENS + ["-cp", cp, main] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            out, _ = p.communicate(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RunError(f"{main} did not finish within {timeout:.0f} s")
    if p.returncode != 0:
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise RunError(f"{main} exited with {p.returncode}:\n{tail}")
    return out


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def etl_metrics(res: dict, data: str, trace: bool):
    expected = checks.load_json(os.path.join(data, "expected.json"))
    in_bytes = expected["bytes"]
    ops = [o for o in res["ops"] if o["kind"] in ("first", "warm")]
    failed = 0
    for o in ops:
        problems = [o["err"]] if o["err"] else checks.etl_output(o["out"], expected)
        if problems:
            failed += 1
            print(f"FAIL {o['kind']} pass: {problems[:3]}", file=sys.stderr)
    ok = [o for o in ops if not o["err"]]
    warm = [o for o in ok if o["kind"] == "warm"]
    if not warm or ops[0]["err"]:
        return len(ops), failed, None
    secs = [o["secs"] for o in warm]
    if not trace:
        out = ops[0]["out"]
        out_bytes = (dir_bytes(os.path.join(out, "data.parquet"))
                     + dir_bytes(os.path.join(out, "data_summary.csv")))
        m = {
            "first_pass_s": ops[0]["secs"],
            "pass_s": median(secs),
            "rows_per_s": expected["listings"] / median(secs),
            "query_p50_s": median(secs),
            "query_p90_s": p90(secs),
            "out_bytes_per_in_byte": out_bytes / in_bytes,
        }
        return len(ops), failed, m
    cores = res["cores"]

    def step(o, name):
        return next(s for s in o["steps"] if s["name"] == name)["secs"]
    m = {f"etl.{k}_s": median([step(o, f"etl.{k}") for o in warm])
         for k in ("load", "clean", "validate", "parquet", "summary")}
    m.update({
        "etl.scrub_parse_s": median([o["scrub_parse_s"] for o in warm]),
        "etl.jobs": median([o["work"]["jobs"] for o in warm]),
        "etl.tasks": median([o["work"]["tasks"] for o in warm]),
        "etl.read_amplification": median([o["work"]["in_bytes"] / in_bytes for o in warm]),
        "etl.core_util": median([o["work"]["run_s"] / (o["secs"] * cores) for o in warm]),
        "etl.gc_s": median([o["gc_s"] for o in warm]),
        "trace.pass_s": median(secs),
        "trace.span_coverage": median([sum(s["secs"] for s in o["steps"]) / o["secs"] for o in warm]),
    })
    return len(ops), failed, m


def catalog_metrics(res: dict, data: str, work: str, trace: bool, plant: bool):
    names = list(CATALOG)
    rows = checks.load_json(os.path.join(data, "rows.json"))
    ops = [o for o in res["ops"] if o["kind"] in ("first", "warm")]
    first = [o for o in ops if o["kind"] == "first"]
    if plant:  # self-check: one altered query result must be caught
        victim = os.path.join(work, "results", names[0])
        shutil.rmtree(victim, ignore_errors=True)
        shutil.copytree(os.path.join(work, "results", names[1]), victim)
    oracle = checks.load_json(os.path.join(work, "oracle_sql.json"))
    verdict = checks.oracle_results(data, os.path.join(work, "results"), oracle, work)
    failed = 0
    for o in ops:
        problems = [o["err"]] if o["err"] else (
            verdict.get(o["name"], []) if o["kind"] == "first" else [])
        if problems:
            failed += 1
            print(f"FAIL {o['name']} ({o['kind']}): {problems[:3]}", file=sys.stderr)
    warm = [o for o in ops if o["kind"] == "warm"]
    sweeps = [warm[i:i + len(names)] for i in range(0, len(warm), len(names))]
    sweeps = [s for s in sweeps if len(s) == len(names) and not any(o["err"] for o in s)]
    if not sweeps or any(o["err"] for o in first):
        return len(ops), failed, None
    sweep_s = [sum(o["secs"] for o in s) for s in sweeps]
    if not trace:
        scanned = sum(rows[t] for o in first for t in o["tables"])
        scanned_bytes = sum(dir_bytes(os.path.join(data, f"{t}.parquet"))
                            for o in first for t in o["tables"])
        out_bytes = sum(dir_bytes(o["out"]) for o in first)
        q = [o["secs"] for o in warm]
        m = {
            "first_pass_s": sum(o["secs"] for o in first),
            "pass_s": median(sweep_s),
            "rows_per_s": scanned / median(sweep_s),
            "query_p50_s": median(q),
            "query_p90_s": p90(q),
            "out_bytes_per_in_byte": out_bytes / scanned_bytes,
        }
        return len(ops), failed, m
    cores = res["cores"]

    def ph(o, name):
        return next(s for s in o["steps"] if s["name"] == name)

    def per_sweep(f):
        return median([f(s) for s in sweeps])

    def total(s, phase, key=None):
        return sum(ph(o, phase)["secs"] if key is None else ph(o, phase)["work"][key] for o in s)

    def work(s, key):
        return sum(o["work"][key] for o in s)

    m = {
        "catalog.build_s": per_sweep(lambda s: total(s, "build")),
        "catalog.plan_s": per_sweep(lambda s: total(s, "plan")),
        "catalog.exec_s": per_sweep(lambda s: total(s, "exec")),
        "catalog.build_jobs": per_sweep(lambda s: total(s, "build", "jobs")),
        "catalog.exec_jobs": per_sweep(lambda s: total(s, "exec", "jobs")),
        "catalog.build_share": per_sweep(
            lambda s: total(s, "build") / sum(total(s, p) for p in ("build", "plan", "exec"))),
        "catalog.tasks": per_sweep(lambda s: work(s, "tasks")),
        "catalog.executor_cpu_s": per_sweep(lambda s: work(s, "cpu_s")),
        "catalog.core_util": per_sweep(
            lambda s: work(s, "run_s") / (sum(o["secs"] for o in s) * cores)),
        "catalog.shuffle_write_mb": per_sweep(lambda s: work(s, "shuffle_write") / 1e6),
        "catalog.shuffle_read_mb": per_sweep(lambda s: work(s, "shuffle_read") / 1e6),
        "catalog.spill_mb": per_sweep(lambda s: work(s, "spill") / 1e6),
        "catalog.gc_s": per_sweep(lambda s: sum(o["gc_s"] for o in s)),
        "trace.pass_s": median(sweep_s),
        "trace.span_coverage": per_sweep(
            lambda s: sum(sum(p["secs"] for p in o["steps"]) for o in s)
            / sum(o["secs"] for o in s)),
    }
    for mod in sorted(set(CATALOG.values())):
        for phase in ("build", "exec"):
            m[f"catalog.{phase}_s.{mod}"] = per_sweep(
                lambda s: sum(ph(o, phase)["secs"] for o in s if CATALOG[o["name"]] == mod))
    for i, name in enumerate(names):
        m[f"q.{name}.build_s"] = per_sweep(lambda s: ph(s[i], "build")["secs"])
        m[f"q.{name}.exec_s"] = per_sweep(lambda s: ph(s[i], "exec")["secs"])
        m[f"q.{name}.jobs"] = per_sweep(lambda s: s[i]["work"]["jobs"])
    probes = [o for o in res["ops"] if o["kind"] == "tables"]
    m["tables.load_s"] = median([o["secs"] for o in probes])
    m["tables.load_jobs"] = median([o["work"]["jobs"] for o in probes])
    return len(ops), failed, m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-check input sizes")
    ap.add_argument("--plant", action="store_true",
                    help="self-check: plant one wrong output, which must count as failed")
    a = ap.parse_args()
    t_start = time.monotonic()
    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
        cp = build.build()
        t_start = time.monotonic()  # the deadline covers the run, not the build
        data = inputs(a.workload, a.seed, a.tiny)
        work = os.path.abspath(os.path.join(
            BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            return run(a, spec, cp, data, work, t_start)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except (RunError, build.BuildError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {a.workload} cannot run: {e}", file=sys.stderr)
        return 2


def run(a, spec, cp, data, work, t_start) -> int:
    w = WORKLOADS[a.workload]
    log = os.path.join(work, "jvm.log")
    if w["kind"] == "etl":
        if a.plant:  # self-check: one summary count off by one must be caught
            data = shutil.copytree(data, os.path.join(work, "data"))
            expected = checks.load_json(os.path.join(data, "expected.json"))
            expected["summary"][sorted(expected["summary"])[0]][0] += 1
            with open(os.path.join(data, "expected.json"), "w") as f:
                json.dump(expected, f)
        expected = checks.load_json(os.path.join(data, "expected.json"))
        args = ["workload=etl", f"input={os.path.abspath(os.path.join(data, expected['input']))}"]
    else:
        args = ["workload=catalog", f"input={os.path.abspath(data)}",
                f"queries={','.join(CATALOG)}"]
    result = os.path.join(work, "result.json")
    args += [f"work={work}", f"out={result}", f"trace={a.trace}",
             f"seconds={a.seconds}", f"min_warm={w['min_warm']}"]
    java(cp, work, "perfbench.Harness", args,
         DEADLINE_S - (time.monotonic() - t_start), log)
    res = checks.load_json(result)

    if w["kind"] == "etl":
        attempted, failed, m = etl_metrics(res, data, bool(a.trace))
    else:
        attempted, failed, m = catalog_metrics(res, data, work, bool(a.trace), a.plant)
    if m is None:
        raise RunError(f"no successful measurement; see {failed} failure(s) above")

    if a.trace:
        m["trace.unattributed_jobs"] = res["unattributed_jobs"]
        wanted = spec["per_layer"]
        os.makedirs(os.path.join(BUILD_DIR, "spans"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(BUILD_DIR, "spans", f"{a.workload}-{a.seed}.jsonl"))
    else:
        setups = [res["setup_s"]]
        for _ in range(SETUP_PROBES):
            out = java(cp, work, "perfbench.SetupProbe", [work],
                       DEADLINE_S - (time.monotonic() - t_start), log)
            setups.append(json.loads(out.strip().splitlines()[-1])["setup_s"])
        m["setup_s"] = median(setups)
        m["peak_rss_mb"] = res["peak_rss_mb"]
        wanted = spec["end_to_end"]
    metrics = {}
    for d in wanted:
        # a layer this workload never calls did no work: 0
        metrics[d["name"]] = {"value": float(m.get(d["name"], 0.0)), "unit": d["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
