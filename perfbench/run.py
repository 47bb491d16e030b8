"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_rw,curate} \
        --seed N --seconds S --trace {0,1}

Runs one workload in a fresh process against ``local[nproc]`` and
prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans and per-layer table to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from types import SimpleNamespace

import common

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}
WORKLOADS = ("ingest_rw", "curate")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not common.package_present():
        print(f"perfbench: package {common.PACKAGE!r} not found under {common.ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    t_begin = time.perf_counter()
    run = common.RunDir()
    spark = None
    try:
        spark, get_spark_s = common.start_spark(run, bool(args.trace))
        import spans
        import wl_curate
        import wl_ingest

        tracer = spans.Tracer(spark, bool(args.trace))
        spans.install(tracer)
        ctx = SimpleNamespace(spark=spark, tracer=tracer, run=run, seed=args.seed,
                              seconds=args.seconds, trace=bool(args.trace))
        workload = {"ingest_rw": wl_ingest, "curate": wl_curate}
        res = workload[args.workload].run(ctx)
        res["detail"]["peak_rss_mb"] = common.peak_rss_mb(spark)
        common.stop_spark(spark)
        spark = None

        if args.trace:
            import layers

            attr = spans.Attribution(tracer.spans, spans.read_event_log(run.sub("eventlog")))
            metrics = layers.compute(attr, res, get_spark_s)
            units = {n: u for n, u, _ in layers.PER_LAYER}
            os.makedirs(common.REPORT_DIR, exist_ok=True)
            base = os.path.join(common.REPORT_DIR, f"{args.workload}-seed{args.seed}")
            tracer.dump(base + ".spans.json")
            with open(base + ".layers.json", "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "e2e_traced": res["e2e"], "detail": res["detail"],
                           "per_layer": metrics, "spans": attr.table(),
                           "jobs": len(attr.jobs)}, f, indent=1, sort_keys=True)
        else:
            metrics, units = res["e2e"], END_TO_END
        res["detail"]["run_wall_s"] = time.perf_counter() - t_begin
        res["detail"]["get_spark_s"] = get_spark_s
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "e2e": res["e2e"], "detail": res["detail"]}))
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    except Exception:  # noqa: BLE001 - report and exit non-zero, printing no result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            common.stop_spark(spark)
        run.close()


if __name__ == "__main__":
    sys.exit(main())
