#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.py, into
$CARGO_TARGET_DIR or .bench_build), makes the workload's inputs from the
seed, runs the harness (perfbench/harness) in one JVM on local[N], checks
every output and prints, as the last line, one JSON object with the keys
correct, attempted, failed and metrics. The line before it carries the run's
health stamp. `--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` its per-layer metrics. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_catalog  # noqa: E402
import gen_crm  # noqa: E402

RUN_LIMIT_S = 170
SETUPS = 3
HEAP = "3g"
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    """local[N]: one core is left to the driver's planning, JIT and GC threads,
    which otherwise compete with every executor slot and add run-to-run noise."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


class Health:
    """CPU steal over the run and 1-minute load samples while it runs."""

    def __init__(self):
        self.samples = []
        self.stop = threading.Event()
        self.cpu0 = self._cpu()
        self.thread = threading.Thread(target=self._sample, daemon=True)
        self.thread.start()

    @staticmethod
    def _cpu():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)

    def _sample(self):
        while True:
            with open("/proc/loadavg") as f:
                self.samples.append(float(f.read().split()[0]))
            if self.stop.wait(5.0):
                return

    def finish(self, n):
        self.stop.set()
        self.thread.join()
        steal1, total1 = self._cpu()
        steal = steal1 - self.cpu0[0]
        total = max(1, total1 - self.cpu0[1])
        nproc = os.cpu_count()
        return {"nproc": nproc, "local_n": n,
                "steal_pct": round(100.0 * steal / total, 3),
                "load_1m": self.samples,
                "load_over_cores": any(s > nproc for s in self.samples)}


def catalog_inputs(out, wl, seed):
    """The seed's data variant (cached: generation is deterministic)."""
    variant = seed % len(wl["data_seeds"])
    data_seed = wl["data_seeds"][variant]
    data = os.path.join(out, "data", f"catalog_sf{wl['sf']}_seed{data_seed}")
    if not os.path.exists(os.path.join(data, ".done")):
        shutil.rmtree(data, ignore_errors=True)
        gen_catalog.generate(data, data_seed, wl["sf"])
        open(os.path.join(data, ".done"), "w").close()
    return data, str(variant)


def harness(classpath, run_dir, args, deadline):
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp"] + JVM_OPENS + \
        ["-cp", classpath, "perfbench.Harness"] + args
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_HOME")}
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/harness.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out; log in {run_dir}/harness.log")
    if rc != 0:
        fail(f"harness exited {rc}; log in {run_dir}/harness.log")


def catalog_metrics(r, expected):
    passes = [r["cold"]] + [w["ops"] for w in r["warm"]]
    attempted = failed = 0
    bad = []
    for ops in passes:
        for op in ops:
            attempted += 1
            want = expected.get(op["name"])
            got = [op["rows"], op["hash"]]
            if op["error"] or want != got:
                failed += 1
                bad.append({"name": op["name"], "got": got, "want": want,
                            "error": op["error"]})
    cold = [op["seconds"] for op in r["cold"]]
    metrics = {
        "setup_s": statistics.median(r["setup_s"]),
        "cold_pass_s": r["cold_pass_s"],
        "query_p50_s": statistics.median(cold),
    }
    layers = {"catalog.warm_pass_s": statistics.median(w["seconds"] for w in r["warm"])
              if r["warm"] else 0.0}
    return attempted, failed, bad, metrics, layers


def report_rows(path):
    n = 0
    if os.path.isdir(path):
        for f in os.listdir(path):
            if f.startswith("part-") and f.endswith(".json"):
                with open(os.path.join(path, f)) as fh:
                    n += sum(1 for line in fh if line.strip())
    return n


def etl_metrics(r, expected):
    attempted = 2  # load and reload, checked through the state counts
    failed = 0
    bad = []
    diff = {k: [r["counts"].get(k), v] for k, v in expected["counts"].items()
            if r["counts"].get(k) != v}
    if diff:
        failed += 2
        bad.append({"name": "load+reload", "got_want": diff})
    for rep in r["reports"]:
        attempted += 1
        rows = report_rows(rep["dir"])
        want = expected["reports"][rep["name"]]
        if rep["rc"] != 0 or rows != want:
            failed += 1
            bad.append({"name": rep["name"], "rc": rep["rc"], "rows": rows, "want": want})
    metrics = {
        "setup_s": statistics.median(r["setup_s"]),
        "cold_pass_s": r["load_s"] + r["reload_s"] + r["report_pass_s"],
        "query_p50_s": statistics.median(x["seconds"] for x in r["reports"]),
    }
    layers = {
        "pipeline.load_s": r["load_s"],
        "pipeline.reload_s": r["reload_s"],
        "pipeline.files_written": float(r["state_files"]),
        "pipeline.state_bytes_per_input_byte": r["state_bytes"] / expected["raw_bytes"],
        "query.state_report_s": r["report_pass_s"],
    }
    return attempted, failed, bad, metrics, layers


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: build.sbt and src/main/scala are missing")
    bench_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("BENCHMARK.json is missing")
    with open(bench_path) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    wl = workloads[a.workload]

    out = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    classpath = build.build(root, out)
    n = cores()
    run_dir = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    health = Health()
    args = ["--work", run_dir, "--out", f"{run_dir}/result.json",
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(n), "--setups", str(SETUPS)]

    expected_path = os.path.join(HERE, "expected", f"{a.workload}.json")
    if wl["kind"] == "catalog":
        data, variant = catalog_inputs(out, wl, a.seed)
        harness(classpath, run_dir, args + [
            "--workload", "catalog", "--data", data,
            "--queries", ",".join(wl["queries"])], deadline)
        with open(f"{run_dir}/result.json") as f:
            r = json.load(f)
        with open(expected_path) as f:
            expected = json.load(f)[variant]
        attempted, failed, bad, metrics, layers = catalog_metrics(r, expected)
    else:
        raw = os.path.join(run_dir, "raw")
        expected = gen_crm.generate(raw, a.seed, wl["scale"])
        harness(classpath, run_dir, args + [
            "--workload", "etl", "--base", f"{raw}/base", "--delta", f"{raw}/delta"], deadline)
        with open(f"{run_dir}/result.json") as f:
            r = json.load(f)
        attempted, failed, bad, metrics, layers = etl_metrics(r, expected)

    stamp = health.finish(n)
    stamp.update(r.get("health", {}))
    stamp["run_s"] = round(time.time() - t_start, 3)
    if a.trace:
        # layers a workload does not run report 0
        values = {**layers, **r.get("layers", {})}
        names = bench["per_layer"]
    else:
        values = metrics
        names = bench["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "health": stamp, "mismatches": bad, "result": result,
              "layers": r.get("layers", {}), "spans": r.get("spans", [])}
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    with open(os.path.join(out, "results", os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for sub in ("raw", "tmp", "spark-local", "warehouse") + tuple(
            d for d in os.listdir(run_dir) if d.startswith(("state", "reports"))):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    if bad:
        print(json.dumps({"mismatches": bad[:10]}), file=sys.stderr)
    print(json.dumps({"health": stamp}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
