#!/usr/bin/env python3
"""Flow benchmark for graft: JDBC sync passes, a cached dashboard session and
a WARC-to-shards corpus run, each timed end to end and (traced) per layer.

    python3 flowbench/run.py --workload sync_ingest --seed 1 --seconds 10 --trace 0
    python3 flowbench/run.py --self-test

Run from the repository root. The first call builds the library and the
benchmark (see build.py; about a minute), later calls reuse the build.
Each run works in a private directory under `.flowbench_work/`, removed when
the run ends. The last line of standard output is one JSON object: correct,
attempted, failed and metrics (end-to-end metrics untraced, per-layer metrics
with --trace 1). A failed check or operation prints correct false and exits 1.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("sync_ingest", "dashboard_session", "corpus_run")
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="generator determinism and output-check tests")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    try:
        launch = build.build()
    except build.BuildError as e:
        print(f"[flowbench] build failed: {e}", file=sys.stderr)
        return 2

    work = build.fresh_dir(os.path.join(build.ROOT, ".flowbench_work",
                                        f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}"))
    if a.self_test:
        main_cls, args = "graft.flowbench.SelfTest", []
    else:
        main_cls = "graft.flowbench.FlowBench"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(launch(work, main_cls, args),
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[flowbench] run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    # the JVM's last stdout line is the result (correct false when a check
    # or an operation failed); anything before it goes to stderr
    if lines:
        print("\n".join(lines[:-1]), file=sys.stderr)
        if lines[-1].startswith("{"):
            print(lines[-1], flush=True)
        else:
            print(lines[-1], file=sys.stderr)
    if proc.returncode != 0:
        print(f"[flowbench] JVM exited with {proc.returncode}", file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
