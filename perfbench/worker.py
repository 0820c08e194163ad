"""One workload run in a fresh process: start the Spark session, run the
workload, write its result as JSON. Started by run.py, which owns the
private working directory, the environment and the process tree.

    python3 perfbench/worker.py --workload W --seed N --seconds S \
        --trace 0|1 --work DIR --result FILE [--spans FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[N] stays at or below the cores this process may run on
CPUS = min(4, len(os.sched_getaffinity(0)))


def install_trace_points(tr) -> None:
    """Wrap the layer functions a workload reaches only indirectly, at
    the module attribute their callers look up at call time."""
    from custom_vector_database_spark.operators import ivf, knn, layout
    from custom_vector_database_spark.streaming import stream_ops

    tr.wrap(ivf.IvfIndex, "load", "ivf.load")
    tr.wrap(ivf.IvfIndex, "fit", "ivf.fit")
    tr.wrap(ivf.IvfIndex, "save", "ivf.save")
    tr.wrap(ivf.IvfIndex, "search", "ivf.search")
    tr.wrap(ivf, "collect_sample_matrix", "fitting.sample")
    tr.wrap(ivf, "kmeans_fit_np", "fitting.kmeans")
    tr.wrap(knn, "knn", "knn.knn")
    tr.wrap(layout, "compact_partitioned", "layout.compact")
    tr.wrap(stream_ops, "corpus_neardup_apply_batch", "stream_ops.apply_batch")


def jvm_peak_heap_mb(spark) -> float:
    """Sum of the JVM heap pools' peak use since the JVM started."""
    mgmt = spark._jvm.java.lang.management
    pools = mgmt.ManagementFactory.getMemoryPoolMXBeans()
    return sum(p.getPeakUsage().getUsed() for p in pools
               if p.getType().name() == "HEAP") / 2**20


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_T0"])

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from tracing import Tracer

    from custom_vector_database_spark import get_spark

    spark = get_spark("perfbench", cpus=CPUS, shuffle_partitions=CPUS)
    spark.range(1).count()
    session_start_s = time.time() - t_spawn

    tracer = Tracer(spark, enabled=bool(args.trace))
    if tracer.enabled:
        install_trace_points(tracer)
    ctx = workloads.Ctx(
        spark=spark, work=os.path.join(args.work, "data"), seed=args.seed,
        seconds=args.seconds, tracer=tracer, session_start_s=session_start_s,
        info={"seed": args.seed, "workload": args.workload,
              "spark_master": spark.sparkContext.master},
    )
    os.makedirs(ctx.work, exist_ok=True)
    res = workloads.WORKLOADS[args.workload](ctx)
    tracer.unwrap_all()
    res.extra["jvm_peak_heap_mb"] = jvm_peak_heap_mb(spark)
    if tracer.enabled:
        res.layers["session.start_s"] = session_start_s
        res.layers["jvm.peak_heap_mb"] = res.extra["jvm_peak_heap_mb"]
        if args.spans:
            tracer.dump(args.spans)
    out = {"metrics": res.metrics, "layers": res.layers, "extra": res.extra,
           "info": ctx.info, "attempted": res.attempted, "failed": res.failed,
           "errors": res.errors}
    with open(args.result, "w") as f:
        json.dump(out, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
