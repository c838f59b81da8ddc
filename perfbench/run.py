"""Repository benchmark: one closed-loop client runs one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (why each exists, and which layer metrics should move which
end-to-end metric: ``layers.json``):

- ``retail_etl``        the reference DAG, CSV to 8 gated parquet tables;
- ``warehouse_queries`` star reports, fact build and TPC-H queries;
- ``llm_curation``      dedup, similarity, text and multimodal queries.

The run makes its inputs from ``--seed``, sets the program up (timed),
runs passes over the workload's operations for ``--seconds``, then checks
the outputs against an independent DuckDB computation. With ``--trace 1``
it also runs one more untraced pass and one traced pass (spans, Spark job
groups, stage metrics) and reports per-layer metrics instead of
end-to-end ones. Metric names and units come from ``BENCHMARK.json``.

Every line but the last is for people; the last line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

ENTRY_AGE_S = harness.process_age_s()  # interpreter start-up, part of set-up

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import time  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}
DRIVER_MEM = "3g"


def configure(work: str, input_dir: str) -> tuple[dict[str, str], dict[str, str]]:
    """Environment for this process and the Python workers Spark forks;
    returns (env settings, extra Spark conf)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    inherited = os.environ.get("PYTHONPATH")
    settings = {
        # Python workers import the package from this checkout
        "PYTHONPATH": ROOT + (os.pathsep + inherited if inherited else ""),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SF_DIR": input_dir,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(settings)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    return settings, conf


def set_up(conf: dict[str, str]):
    """Build the engine's session and import the registry; returns (spark,
    builders, oracles, timings). ``setup_s`` runs from process start until
    both are ready, without the benchmark's own imports and input
    generation in between, scaled by the share of busy time the hypervisor
    did not steal (``harness.unstolen``)."""
    ticks0, t0 = harness.cpu_ticks(), time.perf_counter()
    from data_pipeline_4_online_retail_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    import __spark_entry__

    builders, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    t2 = time.perf_counter()
    ticks1 = harness.cpu_ticks()
    timings = {"get_spark_s": t1 - t0, "registry_import_s": t2 - t1,
               "wall_s": ENTRY_AGE_S + t2 - t0, "steal_pct": harness.steal_pct(ticks0, ticks1)}
    timings["setup_s"] = timings["wall_s"] * harness.unstolen(ticks0, ticks1)
    return spark, builders, oracles, timings


def shutdown_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: it exits
    when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(samples: harness.Samples, setup_s: float) -> dict[str, float]:
    """``pass_s`` is the first timed pass: later ones keep getting faster
    as the JIT compiles, and how many fit in ``--seconds`` depends on steal,
    so a median over them would move with steal."""
    return {
        "setup_s": setup_s,
        "pass_s": samples.pass_s[0],
    }


def context(samples: harness.Samples) -> dict[str, float]:
    """Figures printed every run but not bounded: the pass's CPU seconds
    (it grows with steal more unevenly than wall time does) and latency
    percentiles over the operations' median wall times."""
    medians = list(samples.op_medians().values())
    return {
        "pass_cpu_s": harness.p50(samples.pass_cpu_s),
        "op_p50_s": harness.p50(medians),
        "op_p90_s": harness.p90(medians),
    }


def per_layer(tracer, wl, traced_s: float, untraced_s: float, cpus: int, ctx: dict) -> dict:
    """Per-layer metrics from the traced pass's spans and stage metrics."""
    by_layer: dict[str, float] = {}
    jobs_by_layer: dict[str, int] = {}
    plan_s = 0.0
    totals: dict[str, int] = {}
    for span in tracer.spans:
        layer = span["layer"]
        by_layer[layer] = by_layer.get(layer, 0.0) + tracer.duration(span)
        plan_s += sum(span.get("phases", {}).values())
        stages = span.get("stages")
        if stages:
            jobs_by_layer[layer] = jobs_by_layer.get(layer, 0) + stages["jobs"]
            for key, value in stages.items():
                if key != "stage_ids":
                    totals[key] = totals.get(key, 0) + value
    gate_jobs = sum(n for layer, n in jobs_by_layer.items() if layer.startswith("quality."))
    run_s = totals.get("executor_run_ms", 0) / 1000.0
    return {
        "quality.gate_load_s": by_layer.get("quality.gate_load", 0.0),
        "quality.gate_transform_s": by_layer.get("quality.gate_transform", 0.0),
        "quality.gate_report_s": by_layer.get("quality.gate_report", 0.0),
        "quality.gate_jobs": gate_jobs,
        "sources.input_bytes": totals.get("input_bytes", 0),
        "sources.csv_scan_ratio": totals.get("input_bytes", 0) / wl.input_bytes,
        "pipeline.load_s": by_layer.get("pipeline.load", 0.0),
        "pipeline.transform_s": by_layer.get("pipeline.transform", 0.0),
        "pipeline.report_s": by_layer.get("pipeline.report", 0.0),
        "pipeline.write_s": by_layer.get("pipeline.write", 0.0),
        "pipeline.write_jobs": jobs_by_layer.get("pipeline.write", 0),
        "operators.build_s": by_layer.get("operators.build", 0.0),
        "catalyst.plan_s": plan_s,
        "catalyst.plan_share": plan_s / traced_s,
        "exec.jobs": totals.get("jobs", 0),
        "exec.stages": totals.get("stages", 0),
        "exec.skipped_stages": totals.get("skipped_stages", 0),
        "exec.tasks": totals.get("tasks", 0),
        "exec.executor_run_s": run_s,
        "exec.cpu_s": totals.get("cpu_ns", 0) / 1e9,
        "exec.gc_s": totals.get("gc_ms", 0) / 1000.0,
        "exec.shuffle_read_bytes": totals.get("shuffle_read_bytes", 0),
        "exec.shuffle_write_bytes": totals.get("shuffle_write_bytes", 0),
        "exec.spill_bytes": totals.get("spill_bytes", 0),
        "exec.failed_tasks": totals.get("failed_tasks", 0),
        "exec.core_busy_frac": run_s / (traced_s * cpus),
        "cache.held_after_query": wl.cache.get("held_after_query", 0),
        "cache.held_bytes_max": wl.cache.get("held_bytes_max", 0),
        "trace.overhead_frac": traced_s / untraced_s - 1.0,
        **ctx,
    }


def print_op_table(tracer) -> None:
    """One line per traced operation: its build, plan and execute layers."""
    children: dict[int, list[dict]] = {}
    for span in tracer.spans:
        if span["parent"] is not None:
            children.setdefault(span["parent"], []).append(span)
    for span in tracer.spans:
        if span["layer"] != "query":
            continue
        parts = {c["name"]: c for c in children.get(span["id"], [])}
        jobs = sum(c.get("stages", {}).get("jobs", 0) for c in parts.values())
        stages = sum(c.get("stages", {}).get("stages", 0) for c in parts.values())
        plan = sum(parts["plan"].get("phases", {}).values()) if "plan" in parts else 0.0
        print(
            f"op {span['name']}: total={tracer.duration(span):.3f}s "
            + " ".join(f"{n}={tracer.duration(parts[n]):.3f}s" for n in ("build", "plan", "execute") if n in parts)
            + f" catalyst.plan_s={plan:.3f} jobs={jobs} stages={stages}"
        )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    parser.add_argument("--workload", required=True,
                        choices=["retail_etl", "warehouse_queries", "llm_curation"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)

    missing = [m for m in ("data_pipeline_4_online_retail_spark", "__spark_entry__", "tools")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: the program is not in this checkout (missing {missing})", file=sys.stderr)
        return 2

    from perfbench import workloads
    from perfbench.spark_trace import Tracer, jvm_peak_rss_mb

    work = os.path.join(ROOT, "perfbench", "work")
    wall = {"start": time.perf_counter()}
    wl = workloads.WORKLOADS[args.workload]()
    inputs = wl.generate(work, args.seed)
    wall["inputs"] = time.perf_counter()
    settings, conf = configure(work, inputs["input_dir"])
    print("perfbench settings:", json.dumps(settings))
    print("perfbench inputs:", json.dumps({"seed": args.seed, **inputs}))

    spark, builders, oracles, own = set_up(conf)
    wall["setup"] = time.perf_counter()
    cpus = int(settings["SPARK_GRAFT_CPUS"])
    try:
        cal_start = harness.cal_1t_s()
        wl.start(spark, builders, oracles)
        warm = wl.warm_pass()
        wall["warm"] = time.perf_counter()

        ticks0 = harness.cpu_ticks()
        timed = harness.timed_loop(wl.run_pass, args.seconds)
        steal = harness.steal_pct(ticks0, harness.cpu_ticks())
        all_ops = warm + timed.ops
        first_pass = (warm or timed.ops)[: len(timed.passes[0])]
        warm_s = sum(r.seconds for r in first_pass)
        wall["timed"] = time.perf_counter()

        if args.trace:
            t = time.perf_counter()
            untraced = wl.run_pass()
            untraced_s = time.perf_counter() - t
            tracer = Tracer(spark)
            t = time.perf_counter()
            traced = wl.run_pass(tracer)
            traced_s = time.perf_counter() - t
            all_ops += untraced + traced
        wall["traced"] = time.perf_counter()
        cal_end = harness.cal_1t_s()
        rss_mb = jvm_peak_rss_mb(spark)
    finally:
        shutdown_jvm(spark)
    wall["shutdown"] = time.perf_counter()

    problems = wl.check(cpus)
    wall["check"] = time.perf_counter()
    failed = harness.count_failed(all_ops, problems)
    host = {"host.cal_1t_s": cal_start, "host.cal_1t_end_s": cal_end, "host.steal_pct": steal}
    print("perfbench host:", json.dumps(host))
    marks = list(wall.items())
    print("perfbench wall (s):", json.dumps(
        {name: round(t - marks[i][1], 3) for i, (name, t) in enumerate(marks[1:])}))
    for name, median in timed.op_medians().items():
        lat = [f"{r.seconds:.3f}" for r in timed.ops if r.name == name]
        print(f"perfbench op {name}: median={median:.3f}s passes={lat}")
    print("perfbench setup (s):", json.dumps({k: round(v, 3) for k, v in own.items()}))
    print("perfbench passes:", json.dumps({
        "pass_s": [round(x, 3) for x in timed.pass_s],
        "cpu_s": [round(x, 2) for x in timed.pass_cpu_s],
        "steal_pct": [round(x, 1) for x in timed.pass_steal_pct]}))
    print("perfbench context (not BENCHMARK.json metrics):",
          json.dumps({k: round(v, 4) for k, v in context(timed).items()}))
    for r in all_ops:
        if not r.ok:
            print(f"perfbench FAILED {r.name}: {r.error}")
    for name, problem in problems.items():
        print(f"perfbench MISMATCH {name}: {problem}")
    print(f"perfbench failed_frac: {failed / len(all_ops):.4f} "
          f"({failed} of {len(all_ops)} operations, {len(timed.passes)} timed passes)")

    if args.trace:
        ctx = {
            "session.get_spark_s": own["get_spark_s"],
            "session.registry_import_s": own["registry_import_s"],
            "session.warm_pass_s": warm_s,
            "session.jvm_peak_rss_mb": rss_mb,
            **host,
        }
        values = per_layer(tracer, wl, traced_s, untraced_s, cpus, ctx)
        units = PER_LAYER
        print_op_table(tracer)
        trace_path = os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path, {"workload": args.workload, "seed": args.seed, "per_layer": values})
        print("perfbench trace written to", os.path.relpath(trace_path, ROOT))
    else:
        values = end_to_end(timed, own["setup_s"])
        units = END_TO_END
    for name, value in values.items():
        print(f"perfbench metric {name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {name: {"value": float(values[name]), "unit": units[name]} for name in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
