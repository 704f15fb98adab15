#!/usr/bin/env python3
"""graft's benchmark: one workload of SparkEntry.queries keys on the
bench corpus, in one local[nproc] JVM, with every output checked against
results the DuckDB oracle validated.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It builds graft and the harness
(perfbench/build.py), runs the harness JVM, checks the outputs against
perfbench/expected.json, prints a report and, as its last line, one JSON object:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. A traced run also writes its spans and per-key metrics to
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
DATA = ROOT / "perfbench" / "data"
EXPECTED = ROOT / "perfbench" / "expected.json"
WORKLOADS = ["telemetry_stream", "corpus_dedup"]
# End-to-end metrics the benchmark gates on. The report also prints,
# ungated, the per-key latencies (pooled over a few keys, their
# quantiles jump between keys from run to run), the CPU time per pass
# (as noisy as the wall time under load on a shared machine) and the
# peak resident set (under the 8g heap it depends on when the collector
# chooses to grow the heap).
UNITS = {"setup_s": "s", "pass_wall_s": "s"}
JVM_TIMEOUT_S = 160
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fingerprint(out_dir):
    """SHA-256 of a parquet result, blind to file split, row order and
    column order: the sorted (name, DuckDB type) pairs, then the rows
    in sorted order, each as the repr of its values in name order."""
    con = duckdb.connect()
    rel = f"read_parquet('{out_dir}/*.parquet')"
    cols = sorted(con.sql(f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM {rel})")
                  .fetchall())
    names = ", ".join('"' + n.replace('"', '""') + '"' for n, _ in cols)
    rows = sorted(repr(r) for r in con.sql(f"SELECT {names} FROM {rel}").fetchall())
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def fingerprint_check(check_dir, keys, expected):
    """key -> failure message for every one of `keys` whose result under
    check_dir is missing, or differs from the oracle-validated
    fingerprint in `expected`, or has no such fingerprint."""
    bad = {}
    for k in keys:
        if k not in expected:
            bad[k] = "no oracle-validated fingerprint"
        elif not list((Path(check_dir) / k).glob("*.parquet")):
            bad[k] = "no output"
        elif fingerprint(Path(check_dir) / k) != expected[k]:
            bad[k] = "output differs from the one the DuckDB oracle validated"
    return bad


def oracle_check(data_dir, check_dir, keys):
    """Compares each key's parquet output under check_dir with the DuckDB
    oracle (tools/check.py), which runs the SQL in
    check_dir/oracle_sql.json. Returns key -> failure message for every
    one of `keys` that did not match or has no oracle SQL."""
    done = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"),
                           str(data_dir), str(check_dir)], cwd=check_dir,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    ok = set(re.findall(r"^OK\s+(\S+):", done.stdout, re.M))
    bad = dict(re.findall(r"^FAIL (\S+?):? (.*)$", done.stdout, re.M))
    return {k: bad.get(k, "no verdict from tools/check.py") for k in keys if k not in ok}


def run_jvm(classes, run_dir, args, trace):
    out = run_dir / "raw.json"
    for d in ("tmp", "scratch", "spark-local", "check"):
        (run_dir / d).mkdir(parents=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # The heap of graft's own run configuration (build.sbt's javaOptions).
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java"] + opens + [
        f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--data", str(DATA), "--check", str(run_dir / "check"), "--out", str(out)])
    # Every file the run writes stays under run_dir, on the checkout's
    # disk. Left to itself, graft stages streaming checkpoints, state and
    # per-batch files in /dev/shm (graft.sources.Scratch), but the
    # benchmark may write only inside its checkout; the twins therefore
    # pay the disk writes that Scratch's tmpfs default avoids.
    env = dict(os.environ, GRAFT_SCRATCH_DIR=str(run_dir / "scratch"),
               SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=f, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not out.exists():
        text = log.read_text()
        sys.stderr.write("".join(re.findall(r"^Exception in thread.*\n", text, re.M))
                         + text[-4000:])
        raise SystemExit(f"harness JVM failed ({rc})")
    return json.loads(out.read_text())


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report_e2e(raw, s, failures):
    w = raw["workload"]
    print(f"== {w}: seed {raw['seed']}, {raw['clients']} client(s), "
          f"{s['_passes']} timed pass(es) of {len(raw['keys'])} keys ==")
    for name, unit in UNITS.items():
        extra = ""
        if name == "pass_wall_s" and s["_passes"] > 1:
            q1, _, q3 = stats.quartiles(s["_walls"])
            extra = f"  (median of {s['_passes']}, quartiles {q1:.4g} to {q3:.4g})"
        print(f"{w} {name} {fmt(s[name])} {unit}{extra}")
    print(f"{w} pass_cpu_s {fmt(s['pass_cpu_s'])} s  (whole JVM, median of {s['_passes']})")
    print(f"{w} peak_rss_mb {fmt(s['peak_rss_mb'])} MB  (VmHWM)")
    print(f"{w} query_p50_s {fmt(s['query_p50_s'])} s")
    print(f"{w} query_tail_s {fmt(s['query_tail_s'])} s  (p{s['_tail_pct']:.1f}, n={s['_n']})")
    print(f"{w} failed_frac {fmt(s['failed_frac'])} ratio  "
          f"({s['_failed']} of {s['_attempted']} key-runs)")
    checked = len(raw["keys"])
    print(f"{w} output check: {checked - len(failures)}/{checked} keys match "
          "their oracle-validated results")
    for k, msg in sorted(failures.items()):
        print(f"{w} FAIL {k}: {msg}")


def report_layers(raw, per_layer, per_key, by_name, unattributed, trace_file):
    w = raw["workload"]
    for name in sorted(per_layer):
        print(f"{w} {name} {fmt(per_layer[name])}")
    print(f"{w} self time per traced pass, by span: " +
          ", ".join(f"{k} {v:.3f} s" for k, v in sorted(by_name.items())))
    cols = ["SparkEntry.build_s", "catalyst.planning_s", "exec.jobs", "exec.tasks",
            "exec.cpu_s", "shuffle.write_bytes", "streaming.triggers"]
    print(f"{w} per key (median of traced passes): key " + " ".join(cols))
    for k in raw["keys"]:
        d = per_key.get(k, {})
        print(f"{w}   {k} " + " ".join(fmt(d.get(c, 0.0)) for c in cols))
    if unattributed:
        print(f"{w} jobs not attributed to exactly one key-run: {unattributed}")
    print(f"{w} trace written to {trace_file.relative_to(ROOT)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    # A terminated run still stops the harness JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    run_dir = build.BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        raw = run_jvm(classes, run_dir, args, args.trace)
        failures = fingerprint_check(run_dir / "check", raw["keys"],
                                     json.loads(EXPECTED.read_text()))
        failures.update({r["key"]: f"threw: {r['error']}"
                         for r in raw["warm"]["runs"] if r["error"]})
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    s = stats.summary(raw, failures)
    report_e2e(raw, s, failures)
    if args.trace:
        per_layer, per_key, spans, by_name, unattributed = stats.layers(raw)
        traces = build.BUILD / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        trace_file = traces / f"{args.workload}-seed{args.seed}.json"
        trace_file.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "per_layer": per_layer,
            "per_key": per_key, "self_s_per_pass": by_name, "spans": spans,
            "unattributed_jobs": unattributed}))
        report_layers(raw, per_layer, per_key, by_name, unattributed, trace_file)
        metrics = {k: {"value": v, "unit": unit} for k, v, unit in per_layer_units(per_layer)}
    else:
        metrics = {k: {"value": s[k], "unit": u} for k, u in UNITS.items()}
    print(json.dumps({"correct": s["_failed"] == 0, "attempted": s["_attempted"],
                      "failed": s["_failed"], "metrics": metrics}))


def per_layer_units(per_layer):
    for k, v in sorted(per_layer.items()):
        if k.endswith("_ns_per_row"):
            unit = "ns"
        elif k.endswith("_ms"):
            unit = "ms"
        elif k.endswith("_s"):
            unit = "s"
        elif k.endswith("_mb"):
            unit = "MB"
        elif k.endswith("_bytes"):
            unit = "bytes"
        else:
            unit = "count"
        yield k, v, unit


if __name__ == "__main__":
    main()
