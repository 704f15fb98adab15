#!/usr/bin/env python3
"""Records perfbench/expected.json, the outputs a run's check compares
against: the fingerprint (run.fingerprint) of each workload key's result
on the bench corpus, once the DuckDB oracle (tools/check.py) has
accepted that result.

    python3 perfbench/record_expected.py

Re-record only when a key's correct output changes, and only with the
oracle passing; it refuses to record any key the oracle rejects.
"""
import argparse
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main():
    classes = build.build()
    expected = {}
    for w in run.WORKLOADS:
        run_dir = build.BUILD / "runs" / f"record-{w}"
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            raw = run.run_jvm(classes, run_dir,
                              argparse.Namespace(workload=w, seed=0, seconds=0), 0)
            rejected = run.oracle_check(run.DATA, run_dir / "check", raw["keys"])
            if rejected:
                raise SystemExit(f"{w}: the oracle rejects {rejected}")
            for k in raw["keys"]:
                expected[k] = run.fingerprint(run_dir / "check" / k)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    run.EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(expected)} keys in {run.EXPECTED.relative_to(run.ROOT)}")


if __name__ == "__main__":
    main()
