#!/usr/bin/env python3
"""Timing probe for the CURRENT staging area (round 11 since the
round-10 promotion moved plans/staged_ops_r10.py into the live registry
— this script now times plans/staged_ops_r11.py): run every staged query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) with bench.py's
warmup + prewarm + noop-sink + cache-release discipline and write a
round-stamped BENCH_STAGED_r0N.json.

Purpose: quantify what promotion will add to the registered bench
(the s/query trend the driver tracks) and pick which staged names join
__spark_entry__._COSTLY_TAIL at promotion time — the same cost-aware
rotation the round-3 backlog drain used.  The prewarm matters for that
judgment: split_cluster_assign reads the session LSH pair stream the
registered dedup family shares, so WITHOUT the shared-artifact prewarm
its standalone number charges it the whole family's build (9.96 s raw
vs its incremental cost here).
"""

from __future__ import annotations

import glob
import json
import os
import re
import time

from traffic_data_pipeline_spark.plans.staged_ops_r11 import (
    STAGED_R11_QUERIES,
)
from traffic_data_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    spark = get_spark("tdp-bench-staged")
    spark.sparkContext.setLogLevel("ERROR")

    # bench.py's warmup: fixture footers, one full flagship query for
    # JVM/codegen, the pooled Python workers, and the shared session
    # artifacts staged consumers read (LSH pair stream for
    # split_cluster_assign; events landing zone for streaming_cms_topk)
    from traffic_data_pipeline_spark.plans.queries import QUERIES
    from traffic_data_pipeline_spark.sources.tables import TABLES, load_table
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    QUERIES["sensor_15min_agg"](spark, sf_dir).write.format(
        "noop").mode("overwrite").save()
    from traffic_data_pipeline_spark.plans.analysis_ops import (
        _session_events_dir,
    )
    from traffic_data_pipeline_spark.plans.extensions import (
        doc_band_index,
        doc_cc_components,
        doc_lsh_pairs,
    )
    doc_band_index(spark, sf_dir).count()
    doc_lsh_pairs(spark, sf_dir).count()
    doc_cc_components(spark, sf_dir).count()
    _session_events_dir(spark, sf_dir)
    # r9: the event stream's landing zone (input synthesis is
    # ingest-side setup — the measurement should time the streaming job)
    from traffic_data_pipeline_spark.plans.staged_ops_r7 import (
        _ewma_stream_dir,
    )
    _ewma_stream_dir(spark, sf_dir)
    # r11: the comparison family reads the session RTMC fact (the
    # persisted-table stand-in every registered fact consumer shares)
    # and streams from the compare landing zone — both ingest-side setup
    from traffic_data_pipeline_spark.operators.ingest import (
        build_rtmc_15min,
    )
    from traffic_data_pipeline_spark.plans.staged_ops_r11 import (
        _cmp_stream_dir,
    )
    build_rtmc_15min(spark, sf_dir).count()
    _cmp_stream_dir(spark, sf_dir)

    from traffic_data_pipeline_spark.functions.execution import release

    timings: dict[str, float] = {}
    for name, fn in sorted(STAGED_R11_QUERIES.items()):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        release()

    out = {
        "metric": "staged_suite_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "sf": sf,
    }
    print(json.dumps(out))
    here = os.path.dirname(os.path.abspath(__file__))
    # round stamp: highest driver-recorded BENCH_r*.json + 1, the
    # bench.py rule, so a round-5 rerun cannot overwrite this record
    rounds = [int(g.group(1))
              for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
              if (g := re.search(r"BENCH_r(\d+)\.json$", p))]
    stamp = f"_r{max(rounds, default=0) + 1:02d}"
    try:
        with open(os.path.join(here, f"BENCH_STAGED{stamp}.json"), "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line above still carries it


if __name__ == "__main__":
    main()
