"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts ``worker.py`` in a session of
its own on ``local[<cores>]``, keeps every file it writes under
``.perfbench_work/`` in the checkout, stops every process of that
session before it returns, and prints each metric with its unit and,
as the last line of standard output, the result as one JSON object.
Exits non-zero, printing no result, when the worker fails.
"""

from __future__ import annotations

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

import stats  # noqa: E402

WORKLOADS = ("analyst_sql", "ingest_batch", "curation_corpus")
#: the worker must finish within this; the whole run within 180 s
WORKER_TIMEOUT_S = 165


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # ended while we looked
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def stop_session(sid: int, grace_s: float = 5.0, limit_s: float = 30.0) -> None:
    """Terminate every process of session ``sid`` (the worker, its JVM
    and the JVM's Python workers) and wait until none is left."""
    start = time.monotonic()
    sig = signal.SIGTERM
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        if time.monotonic() - start > grace_s:
            sig = signal.SIGKILL
        if time.monotonic() - start > limit_s:
            raise RuntimeError(f"processes {pids} outlived the benchmark")
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size preset (tiny is for smoke tests)")
    args = ap.parse_args()

    root = os.getcwd()
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(base, "spans"), exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.jsonl")

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM (the launcher's too): temp files in the checkout, no
        # hsperfdata file under the system temp directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--work", work, "--out", out, "--spans", spans,
    ]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True)
    # a terminated runner still stops the worker's session (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        rc = None
    finally:
        stop_session(proc.pid)
        proc.wait()
    if rc != 0 or not os.path.exists(out):
        print(f"benchmark failed (worker exit {rc})", file=sys.stderr)
        return 1
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for name, m in result["metrics"].items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    n = result["attempted"]
    rate = result["failed"] / n
    print(f"  {'error_rate':40s} {rate:.6g} ({result['failed']}/{n} ops)")
    top = stats.highest_reportable(n)
    print(f"  {n} ops: " + (f"p{top * 100:g} is the highest percentile with ten samples beyond it"
                            if top else "too few for any percentile with ten samples beyond it"))
    if args.trace:
        print(f"  spans written to {os.path.relpath(spans, root)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
