"""One benchmark process: a fresh Python process that starts the engine's
SparkSession and then plays one role.

    python3 perfbench/worker.py <work_dir> <role> <trace 0|1> <seconds>

- ``probe``: measure set-up only, then stop;
- ``main``: measure set-up, the first (cold) op, warm-up ops, then timed
  ops for ``seconds`` seconds, checking every op's output.

The result is written as JSON to ``<work_dir>/result-<role>.json``.
"""

import time

T0 = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402


def _start_session():
    from traffic_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    return spark, time.perf_counter() - T0


def _vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)


def _loop(wl, tracer, plan: dict, trace: bool, seconds: float) -> list[dict]:
    """First op, warm-up ops, then timed ops until ``seconds`` have passed
    (and at least ``min_timed`` ops ran), or the inputs run out."""
    ops = []
    k = 0

    def one(tag: str, traced: bool) -> None:
        nonlocal k
        t_before = time.perf_counter()
        wl.before(k)
        tracer.enabled = traced
        with tracer.op(f"op-{k}"):
            t = time.perf_counter()
            rows = wl.run(k)
            took = time.perf_counter() - t
        try:
            ok = wl.check(k)
        except Exception as exc:  # a check that cannot read the output fails the op
            print(f"op {k}: check raised {exc!r}", file=sys.stderr)
            ok = False
        tracer.enabled = trace
        ops.append({"k": k, "tag": tag, "seconds": took, "rows": rows, "ok": ok,
                    "traced": traced, "wall": time.perf_counter() - t_before})
        k += 1

    # per-layer samples come from timed ops only
    one("first", False)
    for _ in range(plan["warmup"]):
        one("warmup", False)
    start = time.perf_counter()
    timed = 0
    while k < plan["max_ops"] and (time.perf_counter() - start < seconds
                                   or timed < plan["min_timed"]):
        # the traced run alternates traced and untraced ops, so the
        # difference of their medians is the tracing overhead
        one("timed", trace and timed % 2 == 0)
        timed += 1
    return ops


def _layers(wl, tracer) -> None:
    """Per-layer times measured apart from the ops. The lazy layers are
    timed as a noop-sink write of each cumulative prefix of the ingest DAG:
    a layer's self time is its prefix time minus the previous prefix time.
    Eager layers are timed directly."""
    prefixes = wl.prefixes()
    for rep in range(2):
        prev_t, prev_shuffle = 0.0, 0.0
        for name, df in prefixes:
            group = f"prefix-{rep}/{name}"
            with tracer.group(group):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                took = time.perf_counter() - t
            shuffle = tracer.stage_totals([group])["spark.shuffle_write_mb"]
            tracer.record(f"{name}_s" if name == "sources.scan" else f"{name}.self_s",
                          took - prev_t)
            tracer.record(f"{name}.shuffle_write_mb", shuffle - prev_shuffle)
            prev_t, prev_shuffle = took, shuffle
    for name, fn in wl.extra_layers():
        with tracer.span(name):
            fn()


def main() -> None:
    work, role, trace, seconds = Path(sys.argv[1]), sys.argv[2], sys.argv[3] == "1", float(sys.argv[4])
    spark, setup_s = _start_session()
    result = {"setup_s": setup_s}
    try:
        if role != "probe":
            from tracing import Tracer
            from workloads import WORKLOADS

            plan = json.loads((work / "plan.json").read_text())
            tracer = Tracer(spark, trace, int(os.environ["SPARK_GRAFT_CPUS"]))
            wl = WORKLOADS[plan["workload"]](spark, work, plan, tracer)
            result["ops"] = _loop(wl, tracer, plan, trace, seconds)
            jvm = spark.sparkContext._gateway.proc.pid
            result["rss_mb"] = _vm_hwm_mb(jvm) + _vm_hwm_mb(os.getpid())
            if trace:
                _layers(wl, tracer)
                tracer.dump(work / "spans.json")
            wl.cleanup()
            result["layers"] = {n: statistics.median(v) for n, v in tracer.samples.items()}
    finally:
        t = time.perf_counter()
        _stop(spark)
        result["stop_s"] = time.perf_counter() - t
    (work / f"result-{role}.json").write_text(json.dumps(result))


if __name__ == "__main__":
    main()
