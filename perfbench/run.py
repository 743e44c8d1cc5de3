"""Repository benchmark: one closed-loop client driving the package's
public entry points on generated inputs.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a report with the environment,
the inputs and every metric by name and unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import probe
import workloads

ROOT = os.getcwd()
SF = 0.1            # corpus scale
SETUP_ROUNDS = 3    # registry import repeats inside set-up
# Window seconds charged per pass: the window holds round(--seconds /
# this) whole passes (at least one), so every run of a workload times
# the same operations on a machine of any speed. At --seconds 20 that
# is 3 and 6 passes (~21 and ~22 s on a 4-core machine).
PASS_SECONDS = {"etl_jobs": 6.5, "llm_corpus": 3.5}
TAIL_PERCENTILE = 90

END_TO_END = {
    "setup_s": "s", "first_op_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "input_rows_per_s": "rows/s",
}
QUERY_KEYS = ("llm_dedup_exact", "llm_dedup_minhash", "llm_sim_topk", "llm_sim_topk_gemm",
              "llm_text_stats")
PER_LAYER = {
    "session.get_spark_s": "s", "registry.import_s": "s", "inputs.generate_s": "s",
    "pipeline.load_spec_s": "s", "pipeline.compile_s": "s", "pipeline.run_s": "s",
    "pipeline.spark_jobs_per_run": "count",
    "sources.read_source_s": "s", "sources.write_sink_s": "s",
    "sources.files_written": "count", "sources.bytes_written": "bytes",
    "bytes_written_per_input_byte": "ratio",
    "catalog.table_s": "s", "queries.build_s": "s", "queries.execute_s": "s",
    **{f"queries.{k}.execute_s": "s" for k in QUERY_KEYS},
    "cacheutil.tracked_after_op": "count",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.task_run_s": "s", "engine.task_cpu_s": "s", "engine.gc_s": "s",
    "engine.input_bytes": "bytes", "engine.shuffle_write_bytes": "bytes",
    "engine.shuffle_read_bytes": "bytes", "engine.spill_bytes": "bytes",
    "engine.failed_tasks": "count", "engine.driver_s": "s", "engine.busy_ratio": "ratio",
    "engine.scan_amplification": "ratio", "trace.overhead_s": "s",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def hygiene(run_dir: str) -> dict:
    """Per-run scratch dirs, core count and a driver heap that fits."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1]) // 1024
    mem_mb = max(1024, min(4096, total_mb // 4))
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{run_dir}/{d}", exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": f"{run_dir}/spark-local",
        "TMPDIR": f"{run_dir}/tmp",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {"cpus": cpus, "driver_mem_mb": mem_mb, "mem_total_mb": total_mb}


def import_registry() -> None:
    """Fresh import of the query registry (every package module is
    dropped first, so each call pays the full import)."""
    for name in [m for m in sys.modules
                 if m == "__spark_entry__" or m.startswith("etl_framework_spark")]:
        del sys.modules[name]
    import __spark_entry__  # noqa: F401


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=tuple(PASS_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("etl_framework_spark", "__spark_entry__.py", "tools/check.py", "examples"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout: {need} not found in {ROOT}")

    # everything but the two result lines goes to stderr, including
    # what child processes print
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    sys.path.insert(0, ROOT)

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env_info = hygiene(run_dir)
    try:
        report, final = measure(args, run_dir, env_info)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    out.write(json.dumps(report) + "\n")
    out.write(json.dumps(final) + "\n")
    out.flush()
    return 0 if final["correct"] else 1


def measure(args, run_dir: str, env_info: dict) -> tuple[dict, dict]:
    import numpy as np

    t_setup = time.perf_counter()
    t0 = time.perf_counter()
    from etl_framework_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    phases: dict[str, float] = {}
    try:
        imports = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            import_registry()
            imports.append(time.perf_counter() - t0)
        # set-up time is the program's: input generation is the
        # benchmark's own work and is reported on its own
        setup_s = get_spark_s + statistics.median(imports)
        t0 = time.perf_counter()
        corpus = workloads.make_inputs(args.workload, f"{run_dir}/data", f"{run_dir}/work",
                                       SF, args.seed)
        generate_s = time.perf_counter() - t0
        phases["setup"] = time.perf_counter() - t_setup

        tracer = probe.Tracer()
        params = workloads.seed_params(args.seed)
        env = workloads.Env(spark, tracer, params)
        ops, first = workloads.build(args.workload, ROOT)
        rng = np.random.default_rng(args.seed)
        attempted = failed = 0
        errors: list[str] = []
        tracked = [0]  # persists still registered when the last op ended

        def release() -> None:
            tracked[0] = env.cacheutil.tracked_count()
            env.cacheutil.release_tracked()
            spark.catalog.clearCache()

        def run_op(op) -> float | None:
            nonlocal attempted, failed
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    op.run(env, corpus)
            except Exception as e:  # noqa: BLE001 - counted, reported
                failed += 1
                errors.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
                return None
            finally:
                release()
            return time.perf_counter() - t

        # 1. cold first operation of a fresh process
        first_op_s = run_op(first)
        phases["first_op"] = time.perf_counter() - t_setup - sum(phases.values())

        # 2. correctness gate, outside the timed window; it is also the
        # warm-up pass over every operation
        import tools.check as check

        duck = check.duck_connect(corpus.data)
        gate_results = []
        for i in rng.permutation(len(ops)):
            op = ops[i]
            attempted += 1
            t0 = time.perf_counter()
            try:
                res = op.check(env, corpus, duck)
            except Exception as e:  # noqa: BLE001
                res = {"key": op.name, "status": "ERROR", "error": f"{type(e).__name__}: {e}"}
            finally:
                release()
            res.pop("trace", None)
            res["seconds"] = time.perf_counter() - t0
            gate_results.append(res)
            if res["status"] not in ("OK", "ROWS_ONLY"):
                failed += 1
                errors.append(f"gate {op.name}: {json.dumps(res, default=str)[:600]}")
        duck.close()
        phases["gate"] = time.perf_counter() - t_setup - sum(phases.values())

        # 3. timed window: whole passes, each in a seeded order
        traced = bool(args.trace)
        n_passes = max(1 + traced, round(args.seconds / PASS_SECONDS[args.workload]))
        if traced:
            install_spans(env, tracer)
            reader = probe.StageReader(spark)
        samples: list[tuple[str, float, bool]] = []
        per_op: list[dict] = []
        steal0 = probe.steal_seconds()
        window_rows = 0
        window_wall = 0.0
        # a traced run makes at least two passes and traces each
        # operation in every other of them (alternating by operation),
        # so the tracing overhead is measured inside one process
        for passes in range(n_passes):
            for i in rng.permutation(len(ops)):
                op = ops[i]
                on = traced and (i + passes) % 2 == 0
                tracer.enabled = on
                tracer.op_id += 1
                w0 = time.time()
                dt = run_op(op)
                w1 = time.time()
                if dt is None:
                    continue
                samples.append((op.name, dt, on))
                if not on:
                    window_rows += op.source_rows(corpus)
                    window_wall += dt
                if on:
                    per_op.append(op_counters(op, corpus, reader, tracer.op_id, dt, w0, w1,
                                              env_info["cpus"], tracked[0]))
                elif traced:
                    reader.read()
        tracer.enabled = False
        steal_s = probe.steal_seconds() - steal0
        phases["window"] = time.perf_counter() - t_setup - sum(phases.values())
        peak_rss = probe.vm_hwm_mb() + probe.vm_hwm_mb(jvm_pid)
        spark_version = spark.version
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t0

    lat = [d for _, d, on in samples if not on]
    tail = percentile(lat, TAIL_PERCENTILE) if lat else float("nan")
    per_op_median = {op.name: statistics.median([d for n, d, on in samples
                                                 if n == op.name and not on] or [0.0])
                     for op in ops}
    e2e = {
        "setup_s": setup_s,
        "first_op_s": first_op_s if first_op_s is not None else float("nan"),
        # the latency of the median operation: the operations' latencies
        # form one cluster each, and a median pooled over all samples
        # falls in the gap between two clusters
        "latency_p50_s": statistics.median(per_op_median.values()) if lat else float("nan"),
        "latency_tail_s": tail,
        "input_rows_per_s": window_rows / window_wall if window_wall else float("nan"),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spark_version": spark_version, **env_info,
        "params": params if args.workload == "etl_jobs" else {},
        "inputs": {"sf": SF, "rows": corpus.rows, "bytes": corpus.bytes},
        "setup": {"get_spark_s": get_spark_s, "registry_import_s": imports,
                  "generate_s": generate_s},
        # CPU time the hypervisor gave other guests while the window ran,
        # summed over all CPUs: a noisy host shows here
        "window": {"passes": n_passes, "samples": len(lat), "host_steal_s": steal_s,
                   "tail_percentile": TAIL_PERCENTILE,
                   "samples_beyond_tail": sum(d > tail for d in lat)},
        "per_op_median_s": per_op_median,
        "phases_s": phases,
        "gate": gate_results,
        "errors": errors,
        "failed_ratio": failed / attempted if attempted else 1.0,
        # reported, not bounded: its run-to-run spread exceeds any bound
        "peak_rss_mb": peak_rss,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
    }
    if args.trace:
        layer = per_layer(args.workload, per_op, samples, tracer, env_info["cpus"],
                          get_spark_s, imports, generate_s)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(f"{out_dir}/spans.jsonl")
        table = layer_table(per_op, tracer)
        report["layers"] = table
        report["trace_dir"] = os.path.relpath(out_dir, ROOT)
        with open(f"{out_dir}/layers.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "trace_overhead_s": layer["trace.overhead_s"],
                       "layers": table, "per_op": per_op}, f, indent=1)
    else:
        metrics = report["end_to_end"]
    correct = failed == 0 and all(v == v for v in e2e.values())
    for m in (metrics, report["end_to_end"]):
        for v in m.values():
            if v["value"] != v["value"]:  # an operation failed: no sample
                v["value"] = 0.0
    final = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, final


# ---------------------------------------------------------------------------
# tracing: spans around the package's layer boundaries
def install_spans(env, tracer) -> None:
    """Wrap the module-level references each layer resolves at call
    time: the pipeline's ``read_source``/``write_sink``/``OPS`` and the
    ``table`` every query module imported from the catalog."""
    from etl_framework_spark import catalog, pipeline

    pipeline.read_source = tracer.wrap("sources.read_source", pipeline.read_source)
    pipeline.write_sink = tracer.wrap("sources.write_sink", pipeline.write_sink)
    for name, fn in list(pipeline.OPS.items()):
        pipeline.OPS[name] = tracer.wrap(f"pipeline.op.{name}", fn)
    mods = [m for n, m in sys.modules.items()
            if m is not None and n.startswith("etl_framework_spark")]
    probe.patch_module_refs(mods, catalog.table, tracer.wrap("catalog.table", catalog.table))


def op_counters(op, corpus, reader, op_id, dt, w0, w1, cpus, tracked) -> dict:
    d = reader.read()
    files, written = probe.dir_bytes(op.sink_dir(corpus)) if hasattr(op, "sink_dir") else (0, 0)
    return {
        "op": op.name, "op_id": op_id, "wall_s": dt,
        "jobs": d["jobs"], "stages": d["stages"], "tasks": d["numTasks"],
        "task_run_s": d["executorRunTime"] / 1e3, "task_cpu_s": d["executorCpuTime"] / 1e9,
        "gc_s": d["jvmGcTime"] / 1e3, "input_bytes": d["inputBytes"],
        "shuffle_write_bytes": d["shuffleWriteBytes"], "shuffle_read_bytes": d["shuffleReadBytes"],
        "spill_bytes": d["memoryBytesSpilled"] + d["diskBytesSpilled"],
        "failed_tasks": d["numFailedTasks"],
        "driver_s": dt - probe.covered_seconds(d["intervals"], w0, w1),
        "busy_ratio": (d["executorRunTime"] / 1e3) / (dt * cpus),
        "source_bytes": op.source_bytes(corpus),
        "scan_amplification": d["inputBytes"] / max(1, op.source_bytes(corpus)),
        "files_written": files, "bytes_written": written,
        "tracked_after_op": tracked,
    }


def per_layer(workload, per_op, samples, tracer, cpus, get_spark_s, imports,
              generate_s) -> dict:
    n = max(1, len(per_op))

    def mean(k):
        return sum(r[k] for r in per_op) / n

    ops = {r["op_id"] for r in per_op}
    st = tracer.self_times(ops)

    def total(name):
        return st.get(name, {}).get("total_s", 0.0) / n

    key_execute = {k[len("queries."):-len(".execute_s")]: row["median_s"]
                   for k, row in layer_table(per_op, tracer).items() if "median_s" in row}
    wall = sum(r["wall_s"] for r in per_op)
    untraced = [d for _, d, on in samples if not on]
    traced = [d for _, d, on in samples if on]
    written = sum(r["bytes_written"] for r in per_op)
    src = sum(r["source_bytes"] for r in per_op)
    return {
        "session.get_spark_s": get_spark_s,
        "registry.import_s": statistics.median(imports),
        "inputs.generate_s": generate_s,
        "pipeline.spark_jobs_per_run": mean("jobs") if workload == "etl_jobs" else 0,
        "sources.files_written": mean("files_written"),
        "sources.bytes_written": mean("bytes_written"),
        "bytes_written_per_input_byte": written / src if src else 0.0,
        "cacheutil.tracked_after_op": mean("tracked_after_op"),
        "engine.jobs": mean("jobs"), "engine.stages": mean("stages"),
        "engine.tasks": mean("tasks"), "engine.task_run_s": mean("task_run_s"),
        "engine.task_cpu_s": mean("task_cpu_s"), "engine.gc_s": mean("gc_s"),
        "engine.input_bytes": mean("input_bytes"),
        "engine.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "engine.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "engine.spill_bytes": mean("spill_bytes"), "engine.failed_tasks": mean("failed_tasks"),
        "engine.driver_s": mean("driver_s"),
        "engine.busy_ratio": sum(r["task_run_s"] for r in per_op) / (wall * cpus)
        if wall else 0.0,
        "engine.scan_amplification": sum(r["input_bytes"] for r in per_op) / src if src else 0.0,
        **{f"{name}_s": total(name) for name in (
            "pipeline.load_spec", "pipeline.compile", "pipeline.run", "sources.read_source",
            "sources.write_sink", "catalog.table", "queries.build", "queries.execute")},
        **{f"queries.{k}.execute_s": key_execute.get(k, 0.0) for k in QUERY_KEYS},
        "trace.overhead_s": (statistics.median(traced) - statistics.median(untraced))
        if traced and untraced else 0.0,
    }


def layer_table(per_op, tracer) -> dict:
    """Self time per layer (span name), per traced op, plus per-key
    execute time for query workloads."""
    n = max(1, len(per_op))
    st = tracer.self_times({r["op_id"] for r in per_op})
    table = {name: {"calls_per_op": row["calls"] / n, "total_s_per_op": row["total_s"] / n,
                    "self_s_per_op": row["self_s"] / n}
             for name, row in sorted(st.items())}
    by_key: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s["name"] == "queries.execute" and s["end"] is not None:
            by_key.setdefault(s["op"], []).append(s["end"] - s["start"])
    names = {r["op_id"]: r["op"] for r in per_op}
    per_key: dict[str, list[float]] = {}
    for op_id, ds in by_key.items():
        if op_id in names:
            per_key.setdefault(names[op_id], []).extend(ds)
    for key, ds in sorted(per_key.items()):
        table[f"queries.{key}.execute_s"] = {"median_s": statistics.median(ds), "calls": len(ds)}
    return table


if __name__ == "__main__":
    sys.exit(main())
