#!/usr/bin/env python3
"""Record the expected catalog fingerprints (perfbench/expected/).

Usage (from the repository root):
  python3 perfbench/record_expected.py [--workload catalog_iterative]

For every data variant of the workload it first confirms each query equal to
its DuckDB oracle: `graft.Verify` dumps the workload's queries and
`scripts/check.py` compares them. Only then does it run the harness (one cold
and one warm pass) and take each query's fingerprint, which must be the same
in both passes. The expected file is written only when every query of every
variant passed both steps. The benchmark itself (run.py) never writes it.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def parity(classpath, data, work, queries):
    """graft.Verify over `queries`, then scripts/check.py; True if all pass."""
    dump = os.path.join(work, "verify")
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries),
               SPARK_GRAFT_CPUS=str(run.cores()))
    with open(os.path.join(work, "verify.log"), "w") as log:
        subprocess.run(["java", f"-Xmx{run.HEAP}", "-Xss8m", "-Duser.timezone=UTC",
                        f"-Djava.io.tmpdir={work}/tmp"] + run.JVM_OPENS +
                       ["-cp", classpath, "graft.Verify", data, dump],
                       cwd=work, env=env, stdout=log, stderr=log, check=True)
    check = subprocess.run([sys.executable, "scripts/check.py", data, dump],
                           capture_output=True, text=True)
    print(check.stdout)
    passed = {line.split()[1] for line in check.stdout.splitlines()
              if line.startswith("PASS ")}
    return check.returncode == 0 and passed == set(queries)


def main():
    ap = argparse.ArgumentParser(description="Record expected catalog fingerprints.")
    ap.add_argument("--workload", default="catalog_iterative")
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        wl = json.load(f)[a.workload]
    out = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    classpath = build.build(root, out)
    expected = {}
    for variant in range(len(wl["data_seeds"])):
        data, key = run.catalog_inputs(out, wl, variant)
        work = os.path.join(out, "record", f"{a.workload}-{key}")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        if not parity(classpath, data, work, wl["queries"]):
            run.fail(f"variant {key}: a query differs from its DuckDB oracle; nothing written")
        run.harness(classpath, work, [
            "--workload", "catalog", "--data", data, "--queries", ",".join(wl["queries"]),
            "--work", work, "--out", f"{work}/result.json", "--seconds", "0", "--trace", "1",
            "--cores", str(run.cores()), "--setups", "1"], time.time() + 3600)
        with open(f"{work}/result.json") as f:
            r = json.load(f)
        passes = [r["cold"]] + [w["ops"] for w in r["warm"]]
        prints = [{op["name"]: [op["rows"], op["hash"]] for op in ops} for ops in passes]
        errors = [op["error"] for ops in passes for op in ops if op["error"]]
        if errors or any(p != prints[0] for p in prints):
            run.fail(f"variant {key}: errors {errors} or fingerprints differ between passes")
        expected[key] = prints[0]
        print(f"variant {key}: {json.dumps(prints[0], sort_keys=True)}")
    with open(os.path.join(HERE, "expected", f"{a.workload}.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
