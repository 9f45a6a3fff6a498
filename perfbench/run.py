"""Benchmark of the traffic engine: nightly incremental ingest and
availableNow streaming, each on ``local[k]`` with k <= the usable cores.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs, stored state and expected outputs
are generated from ``--seed`` under ``.perfbench/`` in the current
directory and removed at the end. Each run then starts two fresh
processes (see ``worker.py``): a ``probe`` process that only starts a
session, and the ``main`` process that runs the ops. Both time their own
set-up, and ``setup_s`` is their median. The last line of standard output
is one JSON object with the metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

MAX_CORES = 4
CHILD_TIMEOUT_S = 150

# Workload sizes and op counts. ``warmup`` ops after the first (cold) op
# are discarded before timing; ``min_timed`` ops are always timed.
NIGHTLY = dict(detectors=8, history_days=56, warmup=1, min_timed=3, max_ops=200)
STREAM = dict(detectors=6, drops=24, warmup=6, min_timed=12)


def _units(root: Path, kind: str) -> dict[str, str]:
    """Metric names and units of ``kind`` ("end_to_end" or "per_layer"),
    as BENCHMARK.json at the repository root declares them. A per-layer
    metric of a layer that the workload does not run reads 0."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def _make_inputs(workload: str, seed: int, work: Path) -> None:
    inputs = work / "inputs"
    if workload == "nightly":
        meta = gen.write_nightly(seed, inputs, NIGHTLY["detectors"], NIGHTLY["history_days"])
        oracle.write_history_fact(inputs, inputs / "fact")
        expected = oracle.nightly(inputs, meta["night"])
        expected["changelog"] = vars(meta["delta"])
        expected["predictions"] = meta["predictions"]
        plan = {"night": str(meta["night"]), "night_rows": meta["night_rows"],
                **{k: NIGHTLY[k] for k in ("warmup", "min_timed", "max_ops")}}
    else:
        counts = gen.write_stream(seed, inputs, STREAM["detectors"], STREAM["drops"])
        expected = oracle.stream(inputs, len(counts))
        plan = {"drop_rows": counts, "max_ops": len(counts),
                **{k: STREAM[k] for k in ("warmup", "min_timed")}}
    plan["workload"] = workload
    (work / "expected.json").write_text(json.dumps(expected))
    (work / "plan.json").write_text(json.dumps(plan))


def _become_subreaper() -> None:
    """Orphaned descendants (the Spark JVM, Python UDF workers) are
    re-parented to this process, so it can wait until every one has ended."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap_all(pgid: int, timeout: float = 30.0) -> None:
    """Wait until every descendant has exited; kill the child's process
    group once ``timeout`` has passed, and fail if even that does not end it."""
    start = time.monotonic()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no descendants left
        if pid == 0:
            waited = time.monotonic() - start
            if waited > 2 * timeout:
                raise RuntimeError("descendant processes did not exit")
            if waited > timeout:
                try:
                    os.killpg(pgid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def _child(work: Path, role: str, trace: int, seconds: float, env: dict) -> dict:
    t0 = time.perf_counter()
    log = work / f"{role}.log"
    with open(log, "ab") as out:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(work), role, str(trace),
             str(seconds)], stdout=out, stderr=subprocess.STDOUT, env=env,
            start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            code = proc.wait()
        finally:
            _reap_all(proc.pid)
    result = work / f"result-{role}.json"
    if code != 0 or not result.exists():
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        raise RuntimeError(f"{role} process failed with exit code {code}")
    print(f"{role} process: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return json.loads(result.read_text())


def _child_env(root: Path, work: Path, cores: int) -> dict:
    tmp = work / "tmp"
    tmp.mkdir()
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": str(root),
        # pin parallelism (master and shuffle partitions) to the usable cores
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # keep every JVM scratch file inside the work directory
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                                "-XX:-UsePerfData' pyspark-shell"),
    })
    return env


def _metrics(main: dict, setups: list[float], units: dict[str, str], trace: bool) -> dict:
    ops = main["ops"]
    timed = [o for o in ops if o["tag"] == "timed"]
    if trace:
        layers = dict(main["layers"])
        traced = [o["seconds"] for o in timed if o["traced"]]
        plain = [o["seconds"] for o in timed if not o["traced"]]
        layers["session.start_s"] = main["setup_s"]
        layers["jvm.peak_rss_mb"] = main["rss_mb"]
        layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        values = {n: layers.get(n, 0.0) for n in units}
    else:
        secs = [o["seconds"] for o in timed]
        values = {
            "setup_s": statistics.median(setups),
            "first_op_s": ops[0]["seconds"],
            "op_s_p50": statistics.median(secs),
            "rows_per_s": statistics.median(o["rows"] / o["seconds"] for o in timed),
        }
    return {n: {"value": values[n], "unit": units[n]} for n in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["nightly", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "traffic_data_pipeline_spark").is_dir():
        print("run from the repository root: traffic_data_pipeline_spark/ not found",
              file=sys.stderr)
        return 2
    cores = _cores()
    work = root / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    _become_subreaper()
    try:
        sys.path.insert(0, str(root))
        t0 = time.perf_counter()
        _make_inputs(args.workload, args.seed, work)
        print(f"inputs and oracle: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        env = _child_env(root, work, cores)
        setups = [_child(work, "probe", args.trace, args.seconds, env)["setup_s"]]
        main_ = _child(work, "main", args.trace, args.seconds, env)
        setups.append(main_["setup_s"])
        if args.trace:
            shutil.copy(work / "spans.json", root / ".perfbench" /
                        f"spans-{args.workload}-{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = main_["ops"]
    print("ops (op s / wall s): " + " ".join(f"{o['seconds']:.2f}/{o['wall']:.2f}" for o in ops)
          + f"; stop {main_['stop_s']:.1f} s", file=sys.stderr)
    failed = sum(not o["ok"] for o in ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": _metrics(main_, setups,
                            _units(root, "per_layer" if args.trace else "end_to_end"),
                            bool(args.trace)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
