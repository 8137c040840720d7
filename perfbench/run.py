"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It generates the run's inputs from the
seed, starts a fresh worker process (``worker.py``) with
``SPARK_GRAFT_CPUS`` set to the usable core count and every scratch dir
(temp files, Spark local dirs, warehouse, metastore) under a temp root
inside the checkout, and removes that root afterwards. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics traced).

A traced run also writes its spans to ``.perfbench_out/`` and prints the
per-layer report (``report.py``) before the result line.
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
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0
REQUIRED = ("ua2sql_spark/__init__.py", "__spark_entry__.py", "bench.py", "tests/conftest.py")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def session_pids(sid: int) -> list[int]:
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            if int(stat[stat.rindex(")") + 2 :].split()[3]) == sid:
                out.append(int(pid))
        except (OSError, ValueError):
            continue
    return out


def reap(sid: int) -> None:
    """Stop every process left in the worker's session (the Spark JVM, and
    the pyspark daemon and its Python workers, which move to a process
    group of their own) and wait until they are gone."""
    end = time.monotonic() + 30.0
    while pids := session_pids(sid):
        if time.monotonic() > end:
            raise RuntimeError(f"processes of session {sid} did not end: {pids}")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main() -> int:
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import layers
    import worker

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(worker.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        return fail(f"not a checkout of the engine (missing {', '.join(missing)})")
    errors = layers.check_benchmark(os.path.join(ROOT, "BENCHMARK.json"))
    if errors:
        return fail("; ".join(errors))
    workload = worker.WORKLOADS[args.workload]

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    dirs = {k: os.path.join(tmp, k) for k in ("tmp", "local", "cwd", "inputs", "work")}
    for d in dirs.values():
        os.makedirs(d)
    proc = None
    try:
        if hasattr(workload, "make_inputs"):
            workload.make_inputs(args.seed, dirs["inputs"])
            print(f"perfbench: inputs made after {time.monotonic() - started:.1f} s", file=sys.stderr)
        span_file = os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"
        )
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            # java.io.tmpdir keeps Spark's scratch files inside the checkout;
            # PerfDisableSharedMem stops the JVM's perf-data file in the system temp dir
            JAVA_TOOL_OPTIONS=(
                f"{env.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={dirs['tmp']}"
                " -XX:+PerfDisableSharedMem"
            ).strip(),
            PYTHONDONTWRITEBYTECODE="1",
            PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        )
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--tmp", dirs["work"], "--inputs", dirs["inputs"], "--span-file", span_file,
            "--result", os.path.join(tmp, "result.json"),
        ]
        log_path = os.path.join(tmp, "worker.log")
        with open(log_path, "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(
                cmd + ["--t0", repr(t0)], cwd=dirs["cwd"], env=env,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                return fail(f"worker did not finish within {DEADLINE_S:.0f} s")
        with open(log_path) as fh:
            sys.stderr.writelines(ln for ln in fh if ln.startswith("[perfbench]"))
        if proc.returncode != 0 or not os.path.isfile(os.path.join(tmp, "result.json")):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            return fail(f"worker exited with code {proc.returncode}")
        with open(os.path.join(tmp, "result.json")) as fh:
            result = json.load(fh)
        print(f"perfbench: worker finished after {time.monotonic() - started:.1f} s", file=sys.stderr)
    finally:
        if proc is not None:
            reap(proc.pid)
        print(f"perfbench: processes stopped after {time.monotonic() - started:.1f} s", file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    attempted, failed = result["attempted"], result["failed"]
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"passes={result['passes']} attempted={attempted} failed={failed} "
        f"failed_ops={failed / attempted:.4f}"
    )
    for name, m in result["metrics"].items():
        print(f"  {name:32s} {m['value']:.6g} {m['unit']}")
    if args.trace:
        import report

        print(report.render(span_file))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
