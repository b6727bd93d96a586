#!/usr/bin/env python3
"""Record the query_battery result digests.

    python3 pipebench/record_digests.py

Runs every query of the battery once through the harness, writes each
result as parquet next to its digest, and checks the results against
the DuckDB oracle with tools/check_correctness.py. Queries whose result
passes the oracle get their digest recorded with "oracle": true; the
rows-only queries (no oracle SQL) get their row count. Any oracle
failure aborts without writing the file.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import plan as planlib  # noqa: E402
import run  # noqa: E402


def main():
    os.makedirs(run.BUILD_DIR, exist_ok=True)
    run.build()
    sf = os.path.join(run.SF_ROOT, planlib.QUERY_SF)
    out = tempfile.mkdtemp(prefix="digests-", dir=run.BUILD_DIR)
    try:
        with open(run.CLASSPATH) as f:
            cp = f.read().strip()
        subprocess.run(["java"] + run.java_opts(out) +
                       ["-cp", cp, "pipebench.Main", "--record", sf, out], check=True)
        check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools",
                                                             "check_correctness.py"), sf, out],
                               capture_output=True, text=True)
        print(check.stdout)
        passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = set(json.load(f))
        if check.returncode != 0 or passed != oracle:
            sys.exit(f"oracle check failed for {sorted(oracle - passed)}")
        with open(os.path.join(out, "digests.json")) as f:
            digests = json.load(f)
        for name, d in digests.items():
            d["oracle"] = name in oracle
        with open(os.path.join(HERE, f"digests_{planlib.QUERY_SF}.json"), "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
