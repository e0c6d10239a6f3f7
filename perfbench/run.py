"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload daily_etl --seed 7 --seconds 12 --trace 0

Builds the engine and the benchmark from source when needed (see build.py),
then runs the workload in one JVM with a local Spark session. Every input
is generated from --seed. Each metric is printed by name with its unit; the
last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. --trace 1 prints the per-layer metrics
instead of the end-to-end ones. The exit code is 0 only when every output
check passed. Everything the run writes stays under `.bench_build/`.
"""
import argparse
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("daily_etl", "corpus_curation", "vector_search")
# A run must end well inside three minutes; the JVM is stopped after this.
RUN_LIMIT_S = 170


def run_jvm(cmd):
    """Runs the JVM in its own process group and waits for it; the group is
    killed on timeout, interruption or termination, so nothing outlives the
    run."""
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s, stopped" % RUN_LIMIT_S,
              file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main(argv=None):
    # terminate through SystemExit, so that running children are killed
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--gen-only", metavar="DIR",
                    help="only write the workload's inputs into DIR")
    ap.add_argument("--selftest", action="store_true",
                    help="only show that every output check can fail")
    ap.add_argument("--seed", type=int)
    a = ap.parse_args(argv)
    if a.selftest:
        return run_jvm(build.jvm_command(build.build(), ["--selftest", "1"]))
    if not a.workload or a.seed is None:
        ap.error("--workload and --seed are required")
    target = build.build()
    if a.gen_only:
        main_args = ["--gen-only", a.workload, "--gen-dir", a.gen_only]
    else:
        main_args = ["--workload", a.workload, "--seconds", str(a.seconds),
                     "--trace", a.trace]
    main_args += ["--seed", str(a.seed), "--scale", a.scale]
    sys.stdout.flush()
    return run_jvm(build.jvm_command(target, main_args))


if __name__ == "__main__":
    sys.exit(main())
