#!/usr/bin/env python3
"""Benchmark entry: one workload, one seed, one run.

    python3 e2ebench/run.py --workload registry_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (in this process, before any Spark session exists), then runs the
measured session in a fresh child process with a pinned environment, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it is the run's record: environment,
input facts, host noise and every unit. Exits 1 when an output check
fails, and without a result line when the run cannot complete.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "registry_address_matcher_spark")
#: whole-run limit; the child is killed after what remains of it
RUN_LIMIT_S = 175
#: cores the session may use
MAX_CORES = 4

WORKLOADS = ("registry_batch", "probe_stream")


def _generate(workload: str, seed: int, inputs: str, seconds: int) -> dict:
    sys.path[:0] = [ROOT, HERE]
    import gen
    from measure import TRACED_UNITS, WARMUP_UNITS

    if workload == "registry_batch":
        return gen.registry_batch(inputs, seed)
    # warm-up, timed (a unit lasts well over a second), traced and one more
    # plain unit, with one file to spare
    return gen.probe_stream(inputs, seed, WARMUP_UNITS + seconds + TRACED_UNITS + 2)


def _pinned_env(work: str, tmp: str) -> dict:
    """Ambient engine overrides removed; local dirs, temp files and the
    Python workers pinned."""
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith(("SPARK_GRAFT_", "RAM_SPARK_"))
    }
    env.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return env


def _group_alive(proc: subprocess.Popen) -> bool:
    proc.poll()  # reap the child itself, or it keeps the group alive
    try:
        os.killpg(proc.pid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop what is left of the child's process group (the JVM, Python
    workers) and wait until every member has exited. The child has saved
    its result and stopped its session by then, so nothing is lost."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(proc):
            break
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, sig)
        deadline = time.time() + 15
        while _group_alive(proc) and time.time() < deadline:
            time.sleep(0.05)
    proc.wait()


def _end_to_end(result: dict) -> dict:
    timed = [u for u in result["units"] if u["phase"] == "timed"]
    if not timed:
        raise RuntimeError("no timed unit completed")
    secs = [u["s"] for u in timed]
    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "unit_p50_s": {"value": statistics.median(secs), "unit": "s"},
        "rows_per_s": {"value": sum(u["rows"] for u in timed) / sum(secs), "unit": "1/s"},
        "cpu_s_per_unit": {"value": statistics.median(u["cpu_s"] for u in timed), "unit": "s"},
        "match_f1": {"value": statistics.median(u["f1"] for u in timed), "unit": "ratio"},
    }


def _per_layer(result: dict) -> dict:
    from measure import PER_LAYER

    metrics = result["trace"]["metrics"]
    return {name: {"value": metrics[name], "unit": unit} for name, unit in PER_LAYER.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.time()
    # a terminated run still stops its process group (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(PACKAGE):
        print(f"e2ebench: no program to measure at {PACKAGE}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".e2ebench_work", str(os.getpid()))
    inputs = os.path.join(work, "inputs")
    # the JVM's temp dir also holds the Python workers' unix socket, whose
    # path (dir + "/." + uuid + ".sock") must fit in 107 bytes
    tmp = os.path.join(work, "t")
    if len(tmp.encode()) + 43 > 107:
        tmp = tempfile.mkdtemp(prefix="e2eb")
    try:
        os.makedirs(work)
        os.makedirs(tmp, exist_ok=True)
        facts = _generate(args.workload, args.seed, inputs, args.seconds)
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "input_dir": inputs, "work_dir": work,
            "master": f"local[{min(MAX_CORES, len(os.sched_getaffinity(0)))}]",
            "tmp_dir": tmp, "facts": facts,
        }
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)

        sys.path[:0] = [HERE]
        from tracing import host_noise, host_sample

        host0 = host_sample()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measure.py"), cfg_path],
            cwd=ROOT, env=_pinned_env(work, tmp), stdout=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(RUN_LIMIT_S - (time.time() - t_run), 1))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
        noise = host_noise(host0, host_sample())
        if code != 0:
            print(f"e2ebench: measured session {'timed out' if code is None else f'exited {code}'}",
                  file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    units = result["units"]
    failed = sum(1 for u in units if u["errors"])
    metrics = _per_layer(result) if args.trace else _end_to_end(result)
    record = {
        "workload": args.workload, "seed": args.seed, "facts": facts, "env": result["env"],
        "host": noise, "session_start_s": result["session_start_s"],
        "units": units,
    }
    if args.trace:
        record["tiers"] = result["trace"]["tiers"]
        record["traced_units"] = result["trace"]["units"]
    print("record " + json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": len(units), "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
