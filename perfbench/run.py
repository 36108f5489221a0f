#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
program's sources together with the benchmark harness (perfbench/build.sbt)
and caches the classpath under .bench_build/ keyed by a hash of every
source file, so any source change rebuilds. The last line of stdout is one
JSON object with `correct`, `attempted`, `failed` and `metrics`; the lines
before it are the human-readable report. Exit status is non-zero when an
output check fails, the run fails, or the program cannot be built.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

WORKLOADS = ("ingest_retrain", "serve_closed_loop")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
FIRST_RUN_LIMIT_S = 880
LAYERS = ("bench", "api", "ml", "store", "stream", "query")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath():
    """Compile when the sources changed; return (runtime classpath, built)."""
    for need in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "build.sbt")):
        if not os.path.exists(need):
            die(f"missing {os.path.relpath(need, ROOT)}: run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    stamp = os.path.join(BUILD, f"classpath-{fingerprint()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building the program and the benchmark harness", file=sys.stderr)
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S, start_new_session=True)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp, True


def add_opens():
    """The packages the harness JVM opens to Spark, shared with build.sbt."""
    with open(os.path.join(BENCH, "add-opens.txt")) as fh:
        return [ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")]


def run_jvm(cp, args, work, deadline):
    """Run the harness JVM; kill its whole process group on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in add_opens() for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            cwd=work, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die(f"run exceeded {RUN_LIMIT_S} s")
    sys.stderr.writelines(ln + "\n" for ln in err.splitlines() if ln.startswith("perfbench:"))
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        die(f"harness JVM exited with status {proc.returncode}")
    return json.loads(lines[-1])


def latencies(r, traced, kind=None):
    """Latencies of the ops traced or not, of one kind or of all."""
    return [ms for ms, k, t in zip(r["op_ms"], r["op_kind"], r["op_traced"])
            if t == traced and (kind is None or k == kind)]


def end_to_end(r):
    return {
        "setup_s": (r["session_s"] + statistics.median(r["setup_s"]), "s"),
        "op_p50_ms": (statistics.median(latencies(r, False, r["primary"])), "ms"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }


def per_layer(r):
    m = {k: (v, unit_of(k)) for k, v in r["layers"].items()}
    with open(r["spans_file"]) as fh:
        spans = [json.loads(ln) for ln in fh if ln.strip()]
    n = max(1, sum(r["op_traced"]))
    jobs = [(s["start_ns"], s["end_ns"]) for s in spans if s["name"].startswith("job ")]
    m["query.exec_ms"] = (stats.union_length(jobs) / 1e6 / n, "ms")
    by = stats.layer_self_ms(spans)
    sh = stats.shares(by)
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = (by.get(layer, 0.0) / n, "ms")
        m[f"share.{layer}"] = (sh.get(layer, 0.0), "ratio")
    on, off = (statistics.median(latencies(r, t, r["primary"])) for t in (True, False))
    m["trace.overhead_frac"] = (on / off - 1.0, "ratio")
    m["host.steal_frac"] = (r["host"]["steal_frac"], "ratio")
    m["host.probe_ratio"] = (r["host"]["probe_ratio"], "ratio")
    return m


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written") or name.endswith("bytes_per_row"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("task_skew") or name.endswith("_per_row_returned"):
        return "ratio"
    return "count"


def report(r, e2e, layers):
    ms = latencies(r, False)
    inp = " ".join(f"{k}={v}" for k, v in r["input"].items())
    print(f"perfbench {r['workload']} seed={r['seed']} trace={int(r['trace'])} local[{r['cpus']}]"
          f" closed loop, 1 client")
    print(f"input: {inp} checksum={r['input_checksum']}")
    print(f"setup: session {r['session_s']:.3f} s + median of set-ups "
          f"{[round(x, 3) for x in r['setup_s']]}")
    q = stats.tail_percentile(len(ms))
    tail = (f"p{round(q * 100)} {stats.percentile(ms, q):.1f} ms" if q and q > 0.5
            else "no tail percentile has 10 samples beyond it")
    units = [u for u, t in zip(r["op_units"], r["op_traced"]) if not t]
    rate = sum(units) / (sum(ms) / 1000.0)
    print(f"untraced ops ({r['unit']}): n={len(ms)} p50 {statistics.median(ms):.1f} ms, {tail}; "
          f"{rate:.2f} {r['unit']}/s over op time")
    for kind in sorted(set(r["op_kind"])):
        for traced in sorted(set(r["op_traced"])):
            xs = latencies(r, traced, kind)
            if xs:
                gated = " (gated)" if kind == r["primary"] and not traced else ""
                print(f"  {kind}{' traced' if traced else ''}: n={len(xs)} "
                      f"p50 {statistics.median(xs):.1f} ms{gated}")
    if len(ms) <= 12:
        print(f"op samples ms: {[round(x, 1) for x in ms]}")
    h = r["host"]
    flag = " NOISY: compare with care" if h["noisy"] else ""
    print(f"host: steal {h['steal_frac']:.4f} probe ratio {h['probe_ratio']:.3f} "
          f"(ref {h['probe_ref_s']} s) probe drift {h['probe_drift']:.3f}{flag}")
    print(f"checks: attempted {r['attempted']} failed {r['failed']} "
          f"error_rate {r['failed'] / max(1, r['attempted']):.4f}")
    for f in r["failures"]:
        print(f"  FAILED {f}")
    for k, (v, u) in e2e.items():
        print(f"  {k} = {v:.4f} {u}")
    if layers:
        print("layer self time per op and share:")
        for layer in LAYERS:
            print(f"  {layer:<7} {layers[f'self.{layer}_ms'][0]:10.1f} ms "
                  f"{layers[f'share.{layer}'][0] * 100:5.1f} %")
        print(f"  tracing overhead {layers['trace.overhead_frac'][0] * 100:.1f} % on the "
              f"{r['primary']} p50, traced and untraced ops alternating "
              f"(traced n={len(latencies(r, True, r['primary']))}, "
              f"untraced n={len(latencies(r, False, r['primary']))})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    cp, built = classpath()
    # a run that had to build may use the rest of the first run's 900 s
    deadline = started + FIRST_RUN_LIMIT_S if built else time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = run_jvm(cp, args, work, deadline)
        need = (True, False) if args.trace else (False,)
        if any(not latencies(r, t, r["primary"]) for t in need):
            sys.stderr.writelines(f"  FAILED {f}\n" for f in r["failures"])
            die("no op completed")
        e2e = end_to_end(r)
        layers = per_layer(r) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(r, e2e, layers)
    correct = r["failed"] == 0
    metrics = layers if args.trace else e2e
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
