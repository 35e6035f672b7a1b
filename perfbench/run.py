"""Benchmark entry point.

    python3 perfbench/run.py --workload edf_append --seed 1 --seconds 12 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, runs the program in a fresh worker process (``worker.py``), checks
the outputs against independent computations (``checks.py``) and prints
one JSON object as the last line of standard output.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same passes with
Spark's event log on and spans around every public call, and reports the
per-layer metrics.  All files go under ``.perfbench_work/`` and are removed at the
end.  See README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402

# Two task slots: the engine's passes are many short jobs whose driver
# side (scheduler, planner, JIT compiler, the Python driver) needs free
# cores too.  On a 4-vCPU machine local[2] ran these workloads faster and
# steadier than local[4] (README.md, "Settings and why").
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "2g"
# Per workload: warm-up passes after the cold one (the JIT compiler is
# still busy in them).  The timed pass count is --seconds / PASS_S, at
# least MIN_TIMED_PASSES, so every run of a workload makes the same
# operations.
WARMUP_PASSES = {"edf_append": 1, "queries_dedup": 2}
PASS_S = 6.0
MIN_TIMED_PASSES = 2
CHILD_TIMEOUT_S = 160
# edf_append inputs: files, one-second records per file.
APPEND = (16, 40)


def note(what: str) -> None:
    print(f"[{time.time() - T_START:7.2f} s] {what}", file=sys.stderr, flush=True)


def timed_passes(seconds: int) -> int:
    return max(MIN_TIMED_PASSES, round(seconds / PASS_S))


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def stage_inputs(workload: str, seed: int, inputs: str) -> tuple[int, dict]:
    """Generate the inputs; returns (input rows, what the checks need)."""
    os.makedirs(inputs, exist_ok=True)
    if workload == "queries_dedup":
        from docgen import write_tables

        return write_tables(inputs, seed), {}

    import edfgen

    n, secs = APPEND
    meta = edfgen.make_append(os.path.join(inputs, "edf"), seed, n, secs)
    edfgen.make_fault(os.path.join(inputs, "fault"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, names, rates = zip(*meta["registry"])
    pq.write_table(
        pa.table({"id": list(ids), "name": list(names), "rate": list(rates),
                  "type": ["CONTINUOUS"] * len(ids), "unit": ["uV"] * len(ids)}),
        os.path.join(inputs, "registry.parquet"),
    )
    return n * secs * edfgen.APPEND_RATE * len(edfgen.APPEND_LABELS), meta


# ---------------------------------------------------------------------------
# Worker process, its process tree and its memory
# ---------------------------------------------------------------------------


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) ticks of the machine's CPUs since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def run_worker(argv: list[str], env: dict, log: str) -> tuple[int, float]:
    """Run the worker, sampling the summed resident memory of this process
    and all its descendants (the worker, its JVM and the JVM's Python
    workers) every 0.25 s; returns (exit code, peak MiB).  Every process
    of the tree is stopped and waited for before returning."""
    with open(log, "w") as fh:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), *argv],
                                env=env, stdout=fh, stderr=subprocess.STDOUT,
                                start_new_session=True)
    me, peak, seen = os.getpid(), 0, {}
    ticks0 = _cpu_ticks()
    deadline = time.time() + CHILD_TIMEOUT_S
    while proc.poll() is None and time.time() < deadline:
        table = proctree.snapshot()
        tree = proctree.descendants(table, me)
        seen.update({p: table[p][1] for p in tree - {me}})
        peak = max(peak, proctree.rss_bytes(table, tree))
        time.sleep(0.25)
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    ticks1 = _cpu_ticks()
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    note(f"worker exited ({proc.returncode}); CPU time stolen by the hypervisor {steal:.1%}")

    def alive() -> list[int]:
        table = proctree.snapshot()
        return [p for p, start in seen.items() if p in table and table[p][1] == start]

    # The JVM exits on its own once the worker has gone: give it time,
    # then ask it to stop, then force it.
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in alive():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        t = time.time()
        while alive() and time.time() - t < 10:
            time.sleep(0.1)
        if not alive():
            break
    note("worker process tree stopped")
    return proc.returncode, peak / 2**20


def worker_env(work: str, event_log: str | None) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # No JVM may write outside the checkout: java.io.tmpdir moves the
    # JVM's temp files, -XX:-UsePerfData stops /tmp/hsperfdata_<user>.
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    submit = [f"--driver-java-options={jvm}"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{event_log}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env.update({
        "PYTHONPATH": os.pathsep.join([os.getcwd(), env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": jvm,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })
    return env


def run_once(args, work: str, inputs: str) -> dict:
    out, result = os.path.join(work, "out"), os.path.join(work, "result.json")
    os.makedirs(out, exist_ok=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    argv = ["--workload", args.workload, "--inputs", inputs, "--out", out,
            "--result", result, "--cpus", str(CPUS), "--warmup", str(WARMUP_PASSES[args.workload]),
            "--timed", str(timed_passes(args.seconds)),
            "--trace", str(args.trace)]
    log = os.path.join(work, "worker.log")
    code, peak_mb = run_worker(argv, worker_env(work, event_log), log)
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"worker exited with code {code}")
    with open(result) as fh:
        res = json.load(fh)
    note(f"session built at {res['setup_done'] - T_START:.2f} s, "
         f"passes done at {res['passes_done'] - T_START:.2f} s")
    if res["fault"][2]:
        note(f"fault operation failed: {res['fault'][2]}")
    note("pass walls " + " ".join(f"{p['wall_s']:.2f}" for p in res["passes"]))
    note("pass cpu " + " ".join(f"{p['cpu_s']:.2f}" for p in res["passes"]))
    res["out"], res["peak_rss_mb"] = out, peak_mb
    if event_log:
        res["event_log"] = os.path.join(event_log, os.listdir(event_log)[0])
    return res


def check(workload: str, inputs: str, res: dict, meta: dict) -> list[str]:
    import checks

    if workload == "edf_append":
        return checks.check_append(inputs, res["out"], res["quarantined"], meta)
    return checks.check_queries(res["out"])


def timed(res: dict) -> list[dict]:
    return res["passes"][res["first_timed"]:]


def end_to_end(res: dict, rows: int, setup_s: float) -> dict:
    """The warm passes are measured in CPU time only: their wall time
    swings by more than any usable bound here (README.md, "Settings and why")."""
    out_bytes = statistics.median(p["out_bytes"] for p in timed(res))
    return {
        "setup_s": (setup_s, "s"),
        "cold_job_s": (res["passes"][0]["wall_s"], "s"),
        "job_cpu_s": (statistics.median(p["cpu_s"] for p in timed(res)), "s"),
        "out_bytes_per_row": (out_bytes / rows, "B"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="with --trace 1: write the per-layer JSON artifact here")
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    if importlib.util.find_spec("processor_edf_spark") is None:
        raise SystemExit("processor_edf_spark is not importable: run from the repository root")

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        rows, meta = stage_inputs(args.workload, args.seed, inputs)
        note("inputs staged")
        res = run_once(args, work, inputs)
        errors = check(args.workload, inputs, res, meta)
        note("outputs checked")
        attempted, failed = len(res["passes"]) + res["fault"][0], res["fault"][1]
        if args.trace:
            import layers

            metrics = layers.per_layer(args.workload, res)
            if args.trace_out:
                layers.write_artifact(args.trace_out, args, metrics, res)
        else:
            metrics = end_to_end(res, rows, res["setup_done"] - T_START)
        for e in errors:
            print(f"MISMATCH {e}", file=sys.stderr)
        print(json.dumps({
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
