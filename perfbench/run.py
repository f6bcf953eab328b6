#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the workload in a fresh JVM and SparkSession
(perfbench.Main), checks every output, and prints one JSON object as the
last line of stdout: every end-to-end metric of BENCHMARK.json with
`--trace 0`, every per-layer metric with `--trace 1`. It exits non-zero
when an output check fails. Scratch files live under `.bench_work/` and
are deleted on exit.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Driver heap of the benchmark JVM (pinned, like every other setting).
DRIVER_HEAP = "3g"
# Set-up repetitions of the input generator; `setup_s` takes their median.
GEN_REPEATS = 3
JVM_TIMEOUT_S = 170
# The benchmark host's CPU share varies from minute to minute (hypervisor
# steal time reached 25 % on the 4-core box). Each run therefore times a
# fixed batch of small Spark jobs that run no graft code (the canary) twice
# before and twice after its measured ops, and scales every timed
# end-to-end metric to a host on which the canary's median takes
# CANARY_REF_S, the canary's time on the quiet 4-core box. Raw values go
# to stderr.
CANARY_REF_S = 0.6
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(classpath, args, work):
    out = os.path.join(work, "record.json")
    jvm_log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.join(work, "data"), "--work", work, "--out", out])
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as lf:
            tail = lf.read()[-4000:]
        raise SystemExit(f"benchmark JVM failed (exit {code}):\n{tail}")
    with open(jvm_log, errors="replace") as lf:
        for line in lf:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(out) as f:
        return json.load(f)


def end_to_end(rec, gen_s, ops):
    """The end-to-end metrics of a run record. A run measures one round of
    the query mix or one 10-minute capture cycle, eight or ten ops: too
    few to keep ten samples beyond a high percentile, so op_tail_s is
    the slowest op, which is always the same kind of op (the slowest query
    of the mix, or the gated-model minute)."""
    ok = [o for o in ops if o["ok"]]
    lat = [o["s"] for o in ok] or [float("nan")]
    wall = rec["measured_wall_s"]
    setup = rec["setup"]
    raw = {
        "setup_s": gen_s + setup["jvm_boot_s"] + setup["session_s"] + setup["workload_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": max(lat),
        "ops_per_s": len(ok) / wall,
        "rows_per_s": sum(o["rows"] for o in ok) / wall,
    }
    canary = statistics.median(rec["canary_s"])
    log(f"op_tail_s is the slowest of {len(ok)} correct ops; canary {canary:.3f} s "
        f"({' '.join(f'{c:.3f}' for c in rec['canary_s'])}); raw "
        + " ".join(f"{k}={v:.4g}" for k, v in raw.items()))
    speed = canary / CANARY_REF_S
    out = {k: v * speed if k in ("ops_per_s", "rows_per_s") else v / speed
           for k, v in raw.items()}
    out["stored_bytes_per_row"] = rec["stored_bytes"] / max(1, rec["stored_rows"])
    out["live_heap_mb"] = rec["live_heap_mb"]
    return out


def main():
    # a terminated run still stops its JVM and deletes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    classpath = build.build()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen_s = []
        for k in range(GEN_REPEATS):
            d = os.path.join(work, "data" if k == GEN_REPEATS - 1 else f"data{k}")
            t = time.perf_counter()
            sizes = gen.generate(args.workload, args.seed, d)
            gen_s.append(time.perf_counter() - t)
            if d != os.path.join(work, "data"):
                shutil.rmtree(d)
        log("inputs: " + ", ".join(f"{k} {r} rows/{b} B" for k, (r, b) in sorted(sizes.items())))
        oracle_errors = {}
        if args.workload == "lake_queries":
            import oracle
            oracle_errors = oracle.write_results(build.oracle_sql_path(), os.path.join(work, "data"),
                                                 os.path.join(work, "oracle"))
        rec = run_jvm(classpath, args, work)
        ops = [{"name": n, "s": s, "ok": ok, "rows": rows, "traced": tr}
               for n, s, ok, rows, tr in rec["ops"]]
        messages = list(rec["messages"])
        for name, why in sorted(oracle_errors.items()):
            messages.append(f"{name}: {why}")
        log("op latencies (s): " + " ".join(f"{o['name']}={o['s']:.3f}" for o in ops))
        failed = sum(1 for o in ops if not o["ok"])
        for m in messages:
            log(m)
        if args.trace:
            values = rec["per_layer"]
        else:
            values = end_to_end(rec, statistics.median(gen_s), ops)
        metrics = {}
        for m in wanted:
            v = values.get(m["name"])
            if v is None or (isinstance(v, float) and math.isnan(v)):
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        correct = failed == 0 and not messages
        print(json.dumps({"correct": correct, "attempted": len(ops),
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
