#!/usr/bin/env python3
"""Capture `registry_manifest.json`: the row count and order-independent
hash of every query in the registry slice, as the benchmark checks them.

    python3 perfbench/capture_manifest.py

Run from the root of a source checkout at the commit whose results are to
be pinned. The script

1. runs the slice twice, in two JVMs, with the benchmark's own hashing; a
   query whose hash differs between the two runs keeps only its row count;
2. dumps the slice with `graft.Verify` and compares every query that has a
   DuckDB oracle using `tools/check_correctness.py`; a query that is not
   hash-exact against its oracle is refused;
3. checks that the Verify dump has the row counts of step 1;
4. writes the manifest with each query's oracle status.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    checkout = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = run.build(checkout, build_dir)
    data = os.path.join(run.HERE, "data")
    out = os.path.join(build_dir, "capture")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    runs = []
    for i in range(2):
        d = os.path.join(out, f"run{i}")
        cmd = (["java"] + run.java_opens() +
               ["-Xmx3g", f"-Djava.io.tmpdir={build_dir}/tmp",
                "-cp", classpath, "perfbench.Main",
                "--workload", "registry", "--work", os.path.join(out, "work"),
                "--data", data, "--manifest", "-", "--capture", d])
        subprocess.run(cmd, check=True, stdout=sys.stderr)
        with open(os.path.join(d, "manifest-run.json")) as f:
            runs.append(json.load(f))
    names = sorted(runs[0])

    # Verify dump of the slice at the benchmark's scale, then the DuckDB
    # comparison of tools/check_correctness.py
    sf_dir = os.path.join(data, "sf0.01")
    dump = os.path.join(out, "verify")
    cmd = (["java"] + run.java_opens() +
           ["-Xmx3g", f"-Djava.io.tmpdir={build_dir}/tmp",
            "-cp", classpath, "graft.Verify", sf_dir, dump, ",".join(names)])
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    cc = subprocess.run(
        [sys.executable, os.path.join(checkout, "tools", "check_correctness.py"),
         dump, sf_dir, "--only", ",".join(names)], capture_output=True, text=True)
    print(cc.stdout, file=sys.stderr)
    status = {}
    for line in cc.stdout.splitlines():
        m = re.match(r"^(ok|FAIL|~)\s+(\S+?):", line.strip()) or \
            re.match(r"^\s*(\S+): rows-only", line)
        if not m:
            continue
        if line.strip().startswith("ok"):
            status[m.group(2)] = "duckdb-exact"
        elif "rows-only" in line:
            status[m.group(1)] = "rows-only"
        else:
            status[m.group(2)] = "duckdb-FAIL"

    manifest = {}
    for n in names:
        a, b = runs[0][n], runs[1][n]
        if a["rows"] < 0 or a["rows"] != b["rows"]:
            sys.exit(f"{n}: failed or unstable row count {a} {b}")
        if status.get(n) == "duckdb-FAIL":
            sys.exit(f"{n}: not hash-exact against its DuckDB oracle")
        dumped = os.path.join(dump, n)
        rows = duckdb.sql(f"SELECT count(*) FROM '{dumped}/*.parquet'").fetchone()[0]
        if rows != a["rows"]:
            sys.exit(f"{n}: Verify dump has {rows} rows, benchmark saw {a['rows']}")
        manifest[n] = {"rows": a["rows"],
                       "hash": a["hash"] if a["hash"] == b["hash"] else None,
                       "oracle": status.get(n, "rows-only")}
    path = os.path.join(run.HERE, "registry_manifest.json")
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(
            f'  "{n}": {json.dumps(v)}' for n, v in manifest.items()) + "\n}\n")
    unstable = [n for n, v in manifest.items() if v["hash"] is None]
    print(f"wrote {path}: {len(manifest)} queries, "
          f"{sum(v['oracle'] == 'duckdb-exact' for v in manifest.values())} DuckDB-exact, "
          f"hash unstable: {unstable}", file=sys.stderr)


if __name__ == "__main__":
    main()
