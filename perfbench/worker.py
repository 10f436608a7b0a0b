"""One benchmark run in one fresh process (started by ``run.py``).

Order of work: import the engine, generate the seeded inputs, set up (Spark
session, base tables), prepare the workload, run it, then print one JSON
line with the raw results.

``setup_s`` is the import cost, plus the one cold set-up (it launches the
JVM and the first SparkContext), plus the workload's preparation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from tracing import NullTracer, Tracer


def _parse(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--work-dir", required=True)
    return p.parse_args(argv)


def main(argv=None) -> None:
    args = _parse(argv)
    sys.path.insert(0, os.getcwd())
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else NullTracer()

    t0 = time.perf_counter()
    with tracer.span("queries.import"):
        import kinbaku_spark.queries  # noqa: F401  (registers every query)
        import kinbaku_spark.streaming  # noqa: F401
        from kinbaku_spark.session import get_spark
        from kinbaku_spark.sources.tables import load_tables
    import_s = time.perf_counter() - t0

    import datagen
    import workloads
    from tracing import jvm_pid, peak_rss_mb, read_event_logs

    data_dir = os.path.join(args.work_dir, "data")
    datagen.write_tables(datagen.make_tables(args.seed, args.sf), data_dir)

    wl = workloads.WORKLOADS[args.workload]()
    run = workloads.Run(args, tracer, data_dir, args.work_dir)
    with tracer.span("setup"):
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            run.spark = get_spark(app_name=f"perfbench_{args.workload}")
        tracer.sc = run.spark.sparkContext
        with tracer.span("sources.load_tables"):
            load_tables(run.spark, data_dir)
        setup = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("prep"):
        wl.prepare(run)
    prep_s = time.perf_counter() - t

    t_run = time.perf_counter()
    run.execute(wl)
    t_done = time.perf_counter()
    with open(os.path.join(args.work_dir, "samples.json"), "w") as fh:
        json.dump(wl.items(), fh)
    run.e2e["setup_s"] = import_s + setup + prep_s
    run.e2e["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid()])
    tracer.sc = None
    run.spark.stop()

    if tracer.enabled:
        work = read_event_logs(os.path.join(args.work_dir, "eventlog"))
        layer_metrics(run, tracer, work, import_s)
        wl.layer_metrics(run, work)
        tracer.write(os.path.join(args.work_dir, "spans.jsonl"))

    print(json.dumps({
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "e2e": run.e2e,
        "layer": run.layer,
        "report": run.report,
        "warm_pass_s": run.warm_s,
        "session_tables_s": setup,
        "import_s": import_s,
        "prep_s": prep_s,
        "run_s": t_done - t_run,
        "wall_s": time.perf_counter() - t0,
    }), flush=True)


def layer_metrics(run, tracer, work, import_s: float) -> None:
    """Layer metrics every workload reports: set-up spans, and the Spark
    work of each traced warm pass (medians over passes)."""
    from tracing import span_work, union_seconds
    from workloads import median as med

    def spans(name):
        return [s.seconds for s in tracer.spans if s.name == name]

    run.layer["queries.import_s"] = import_s
    run.layer["session.create_s"] = med(spans("session.get_spark"))
    run.layer["sources.load_tables_s"] = med(spans("sources.load_tables"))
    run.layer["sources.derive_graph_s"] = med(spans("sources.derive_graph"))
    run.layer["graph.preload_s"] = med(spans("graph.preload"))

    per_pass: dict[str, list[float]] = {}
    for sp, traced in run.passes:
        if not traced:
            continue
        w = span_work(tracer, work, sp)
        busy = union_seconds([
            (max(s, sp.start), min(e, sp.end)) for s, e in w.jobs if e > sp.start and s < sp.end
        ])
        for k, v in (
            ("spark.jobs", len(w.jobs)),
            ("spark.stages", w.stages),
            ("spark.tasks", w.tasks),
            ("spark.driver_gap_s", sp.seconds - busy),
            ("spark.executor_run_s", w.run_s),
            ("spark.executor_cpu_s", w.cpu_s),
            ("spark.shuffle_read_bytes", w.shuffle_read_bytes),
            ("spark.shuffle_write_bytes", w.shuffle_write_bytes),
            ("spark.input_bytes", w.input_bytes),
            ("spark.gc_s", w.gc_s),
            ("spark.spill_bytes", w.spill_bytes),
        ):
            per_pass.setdefault(k, []).append(v)
    for k, v in per_pass.items():
        run.layer[k] = med(v)
    run.layer["spark.failed_tasks"] = sum(w.failed_tasks for w in work.values())
    run.layer["plans.cached_rdds"] = med([n for n, _ in run.cached])
    run.layer["plans.cached_bytes"] = med([b for _, b in run.cached])


if __name__ == "__main__":
    main()
