"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 10 --trace 0

Builds the engine and harness from source (see build.py), runs one workload
in a fresh JVM with a fresh artifact directory and fresh Spark local dirs
under the build directory, removes them afterwards, and prints the
harness's JSON result as the last line. `--trace 1` reports the per-layer
metrics instead of the end-to-end ones; `--trace-out FILE` keeps the spans.
`--selftest` checks that the request generator is deterministic.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("graph_serve", "tx_mixed", "batch_analytics")
# A run must end within 180 s; leave room for the build check and cleanup.
RUN_TIMEOUT_S = 160


def expected_names(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    cp, share = build.build()
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = build.run_env(work)
    args = ["--selftest", "1"] if a.selftest else [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--cpus", str(os.cpu_count() or 1)]
    if a.trace_out:
        args += ["--trace-out", os.path.abspath(a.trace_out)]
    cmd = build.java(cp, work, args, share)
    t0 = time.time()
    # A terminated benchmark takes its JVM down with it.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    if a.selftest:
        print(out.strip())
        return
    res = json.loads(lines[-1])
    got = list(res["metrics"])
    want = expected_names(a.trace)
    if got != want:
        raise SystemExit(f"perfbench: metrics {got} differ from BENCHMARK.json {want}")
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
