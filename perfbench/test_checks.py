#!/usr/bin/env python3
"""The benchmark's own test: its output checks must catch a wrong output.

    python3 perfbench/test_checks.py

Runs each workload once with an injected error, from the checkout root:

* ``tick --fault corrupt_row`` alters one field of one f02 output row of
  the first timed iteration before it is checked;
* ``live --fault drop_file`` never lands one replay file, so its bars are
  missing from the final store.

Each run must exit non-zero and report ``bench.failed_share`` above 0.
"""
import json
import subprocess
import sys


def run(workload, fault):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "6", "--trace", "1", "--fault", fault],
        capture_output=True, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    share = json.loads(last).get("metrics", {}).get(
        "bench.failed_share", {}).get("value", 0.0)
    ok = p.returncode != 0 and share > 0
    print(f"{'PASS' if ok else 'FAIL'}  {workload} --fault {fault}: "
          f"exit {p.returncode}, failed_share {share:.4f}")
    return ok


if __name__ == "__main__":
    results = [run("tick", "corrupt_row"), run("live", "drop_file")]
    sys.exit(0 if all(results) else 1)
