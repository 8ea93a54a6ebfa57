"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and harness if needed (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py),
runs the harness JVM — a local[nproc] Spark session, one client in a
closed loop for S seconds — checks every operation's output
(perfbench/check.py), and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 runs the traced variant and reports the
per-layer metrics, writing spans and layer totals under .bench_out/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
HARNESS_TIMEOUT_S = 170
def per_layer_names():
    """BENCHMARK.json's per-layer metrics, (name, unit)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def run_harness(classpath, jvm_opts, workload, inputs, work, out, seconds, trace, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *build.JAVA_OPTS, *jvm_opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graftbench.Main",
           "--workload", workload, "--inputs", inputs, "--out", out, "--work", work,
           "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)]
    log_path = os.path.join(out, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"stopped by signal {signum}")
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            for s, h in old.items():
                signal.signal(s, h)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    classpath, jvm_opts = build.build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.time()
        gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t0
        t0 = time.time()
        result = run_harness(classpath, jvm_opts, a.workload, inputs, work, out,
                             a.seconds, a.trace, cores)
        jvm_s = time.time() - t0
        if not result["ops"]:
            raise SystemExit("no operation completed")
        t0 = time.time()
        ok, info = check.CHECKS[a.workload](inputs, result)
        check_s = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, attempted, failed = stats.end_to_end(result, ok)
    errors = sorted({op["error"] for op in result["ops"] if op["error"]})
    print(f"# workload={a.workload} seed={a.seed} cores={cores} ops={attempted} "
          f"failed={failed} gen_s={gen_s:.2f} jvm_s={jvm_s:.1f} "
          f"check_s={check_s:.1f} loop_s={result['loop_s']:.1f} cold_op_s={result['cold_op_s']:.1f} "
          f"warm_extra_s={result['warm_extra_s']:.1f} "
          f"session_s={result['session_s']:.2f} setup_reps_s={result['setup_reps_s']} "
          f"check={info} errors={errors[:3]}")
    if a.trace:
        layers = result["layers"]
        metrics = {n: {"value": float(layers.get(n) or 0.0), "unit": u}
                   for n, u in per_layer_names()}
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump({"layers": layers, "e2e_of_this_run": {
                k: v for k, (v, _) in e2e.items()}}, f, indent=1, sort_keys=True)
        print(f"# trace.overhead_ms={layers.get('trace.overhead_ms', 0.0):.1f} "
              f"spans={os.path.join(out, 'spans.jsonl')}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in sorted(metrics.items()):
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
