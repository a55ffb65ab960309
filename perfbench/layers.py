"""The traced run: per-layer metrics of one workload.

Order inside the process, after the untraced cold check and cold run:

1. untraced warm loop — the baseline the tracing overhead is taken against;
2. chain-prefix sweep (untraced) — ``transform.<step>.marginal_s`` is the
   wall time of running the pipeline up to ``<step>`` into a no-op sink,
   minus the same for the prefix before it;
3. instrumentation — public pipeline functions and every plugin
   instance's ``execute``/``dry_run`` are wrapped to record spans;
4. traced warm loop — after each run, Spark's status store and the
   streaming listener are read for that run's jobs and micro-batches.

Spans are written to ``.perfbench/traces/`` when the run ends.
"""

from __future__ import annotations

import time
from pathlib import Path

from configs import transform_steps
from tracing import SparkStatus, StreamProgress, stream_counters, tree_peak_rss_mb

_SPARK_KEYS = (
    "jobs_n", "stages_n", "tasks_n", "tasks_failed_n", "task_run_s", "task_cpu_s", "gc_s",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s",
    "spill_bytes", "serial_stage_s",
)
_STREAM_KEYS = (
    "batches_n", "batch_s", "add_batch_s", "wal_commit_s", "state_rows_n", "state_bytes", "late_rows_n",
)


def _med(xs) -> float:
    from run import median

    return median(list(xs))


def _force(df, checkpoint: Path) -> None:
    """Run ``df`` to completion into a sink that writes nothing."""
    if df.isStreaming:
        q = (df.writeStream.format("noop").outputMode("append")
             .option("checkpointLocation", str(checkpoint)).trigger(availableNow=True).start())
        q.awaitTermination()
    else:
        df.write.format("noop").mode("overwrite").save()


def _enabled_names(entries) -> list[str]:
    return [e.name for e in entries if e.enabled]


def prefix_sweep(pipeline, cfg, plugins, spark, scratch: Path) -> dict[str, float]:
    from run import clear_dir

    clear_dir(scratch)  # streaming prefixes must start from fresh checkpoints
    inputs, transforms, outputs = plugins
    labels = sorted({o.label for o in outputs})
    walls = []
    for k in range(len(transforms) + 1):
        t0 = time.perf_counter()
        data = pipeline.plan_labeled_pipeline(inputs, transforms[:k], spark=spark)
        for label in labels:
            _force(data[label].unwrap(), scratch / f"prefix-{k}-{label}")
        walls.append(time.perf_counter() - t0)
    names = _enabled_names(cfg.transform_plugins)
    return {name: walls[i + 1] - walls[i] for i, name in enumerate(names)}


def _data_files(root: Path) -> list[Path]:
    """Files a sink wrote, without Spark's markers, checksums and checkpoints."""
    found = []
    for p in root.rglob("*"):
        rel = p.relative_to(root).parts
        if p.is_file() and not any(part.startswith(("_", ".")) for part in rel):
            found.append(p)
    return found


def instrument(tracer, pipeline, cfg, plugins, on_fanout_output) -> None:
    """Wrap the pipeline functions and every plugin instance in spans.

    ``on_fanout_output`` runs after each output of a label that feeds more
    than one output — the only case in which the pipeline persists a frame.
    """
    for fn in ("run_pipeline", "run_dry_run_pipeline"):
        tracer.patch(pipeline, fn, "pipeline." + ("run" if fn == "run_pipeline" else "dry_run"))
    tracer.patch(pipeline, "plan_labeled_pipeline", "pipeline.plan")
    tracer.patch(pipeline, "_execute_labeled_output", "pipeline.output")
    roles = (
        ("input", plugins[0], cfg.input_plugins),
        ("transform", plugins[1], cfg.transform_plugins),
        ("output", plugins[2], cfg.output_plugins),
    )
    labels = [o.label for o in plugins[2]]
    fanout = {label for label in labels if labels.count(label) > 1}
    for role, instances, entries in roles:
        names = _enabled_names(entries)
        if len(names) != len(instances):
            raise RuntimeError(f"{role}: {len(instances)} plugin instances for {len(names)} config entries")
        for p, name in zip(instances, names):
            tracer.patch(p, "execute", f"{role}.{name}.execute")
            tracer.patch(p, "dry_run", f"{role}.{name}.dry_run")
            if role == "output" and p.label in fanout:
                traced_execute = p.execute

                def execute(frame, _fn=traced_execute):
                    res = _fn(frame)
                    on_fanout_output()
                    return res

                p.execute = execute


def traced_run(args, cfg, plugins, spark, client, tracer, inp: Path, out: Path):
    from cryoflow_spark.core import pipeline

    from run import MIN_WARM, STATE, WARM_CUTOFF_S, process_age_s

    sc = spark.sparkContext
    status = SparkStatus(spark)
    listener = StreamProgress()
    spark.streams.addListener(listener)
    cores = sc.defaultParallelism
    scratch = STATE / "runs" / args.workload / "prefix"

    cold = (client.check() or 0.0, client.run() or 0.0)
    _, base_runs = client.warm_loop(args.seconds)
    partitions = sum(
        df.rdd.getNumPartitions()
        for df in (p.execute().unwrap() for p in plugins[0])
        if not df.isStreaming
    )
    marginal = prefix_sweep(pipeline, cfg, plugins, spark, scratch)
    status.drain()
    listener.take()

    cached_peak = [0]

    def probe_cache() -> None:
        with tracer.span("trace.cache_probe"):
            status.drain()
            cached_peak[0] = max(cached_peak[0], status.cached_bytes())

    instrument(tracer, pipeline, cfg, plugins, probe_cache)
    input_bytes = sum(p.stat().st_size for p in inp.rglob("*.parquet"))
    runs, per_run = [], []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while (len(runs) < MIN_WARM or time.perf_counter() < deadline) and process_age_s() < WARM_CUTOFF_S:
        tracer.run_id = f"check-{i}"
        client.check()
        tracer.run_id = group = f"run-{i}"
        sc.setJobGroup(group, group)
        r = client.run()
        tracer.run_id = None
        sc.setLocalProperty("spark.jobGroup.id", None)
        i += 1
        if r is None:
            continue
        runs.append(r)
        status.drain()
        reports = listener.take()
        counters = status.run_counters({group} | {rep["runId"] for rep in reports})
        files = _data_files(out)
        per_run.append({
            "run": group,
            "wall": r,
            "output_s": sum(tracer.durations("pipeline.output", group)),
            "spark": counters,
            "stream": stream_counters(reports),
            "output_files": len(files),
        })
    spark.streams.removeListener(listener)
    rss = tree_peak_rss_mb()
    trace_path = STATE / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    tracer.dump(trace_path)
    return _metrics(args, tracer, per_run, runs, base_runs, marginal, partitions,
                    input_bytes, cached_peak[0], cores, client, trace_path, cold, rss)


def _per_run_sum(tracer, prefix: str, suffix: str, run_prefix: str) -> list[float]:
    by_run: dict[str, float] = {}
    for s in tracer.spans:
        if s["run"] and s["run"].startswith(run_prefix) and s["name"].startswith(prefix) and s["name"].endswith(suffix):
            by_run[s["run"]] = by_run.get(s["run"], 0.0) + s["end"] - s["start"]
    return list(by_run.values())


def _metrics(args, tracer, per_run, runs, base_runs, marginal, partitions, input_bytes,
             cached_peak, cores, client, trace_path, cold, rss):
    from run import tail

    one = lambda name: sum(tracer.durations(name))  # noqa: E731 - set-up spans happen once
    run_spans = tracer.durations("pipeline.run")
    q, run_tail = tail(run_spans)
    spark = {k: _med(r["spark"][k] for r in per_run) for k in _SPARK_KEYS}
    stream = {k: _med(r["stream"][k] for r in per_run) for k in _STREAM_KEYS}
    base = _med(base_runs)
    busy = [r["spark"]["task_run_s"] / (r["output_s"] * cores) for r in per_run if r["output_s"] > 0]
    serial_share = [r["spark"]["serial_stage_s"] / r["wall"] for r in per_run if r["wall"] > 0]
    top_step = max(marginal, key=marginal.get) if marginal else None
    m: dict[str, tuple[float, str]] = {
        # Cold calls and memory repeat too poorly across processes (one
        # sample each) to carry an end-to-end bound; they are kept here.
        "cold.first_check_s": (cold[0], "s"),
        "cold.first_run_s": (cold[1], "s"),
        "process.peak_rss_mb": (rss, "MB"),
        "session.start_s": (one("session.get_session"), "s"),
        "config.load_s": (one("config.load_config"), "s"),
        "loader.load_s": (one("loader.load_plugins"), "s"),
        "loader.plugins_n": (float(sum(len(p) for p in (client.inputs, client.transforms, client.outputs))), "count"),
        "pipeline.plan_s": (_med(tracer.durations("pipeline.plan")), "s"),
        "pipeline.output_s": (_med(r["output_s"] for r in per_run), "s"),
        "pipeline.dry_run_s": (_med(tracer.durations("pipeline.dry_run")), "s"),
        "pipeline.run_s_tail": (run_tail, "s"),
        "pipeline.run_n": (float(len(run_spans)), "count"),
        "input.execute_s": (_med(_per_run_sum(tracer, "input.", ".execute", "run-")), "s"),
        "input.partitions_n": (float(partitions), "count"),
        "input.read_amplification": (spark["input_bytes"] / input_bytes if input_bytes else 0.0, "ratio"),
        "transform.execute_s": (_med(_per_run_sum(tracer, "transform.", ".execute", "run-")), "s"),
        "transform.dry_run_s": (_med(_per_run_sum(tracer, "transform.", ".dry_run", "check-")), "s"),
    }
    # One name per step of every workload keeps the metric set fixed; a
    # workload without the step reports 0.
    for step in transform_steps():
        m[f"transform.{step}.marginal_s"] = (marginal.get(step, 0.0), "s")
    m["transform.max_marginal_share"] = (marginal[top_step] / base if top_step and base else 0.0, "ratio")
    m["output.execute_s"] = (_med(_per_run_sum(tracer, "output.", ".execute", "run-")), "s")
    m["output.rows_n"] = (_med(r["spark"]["output_rows"] for r in per_run), "count")
    m["output.bytes"] = (_med(r["spark"]["output_bytes"] for r in per_run), "bytes")
    m["output.files_n"] = (_med(r["output_files"] for r in per_run), "count")
    for k in _STREAM_KEYS:
        m[f"stream.{k}"] = (stream[k], "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count"))
    for k in _SPARK_KEYS:
        m[f"spark.{k}"] = (spark[k], "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count"))
    m["spark.cached_bytes_peak"] = (float(cached_peak), "bytes")
    m["spark.core_busy_ratio"] = (_med(busy), "ratio")
    m["spark.serial_stage_share"] = (_med(serial_share), "ratio")
    m["trace.overhead_ratio"] = (_med(runs) / base - 1.0 if base and runs else 0.0, "ratio")
    m["trace.spans_n"] = (float(len(tracer.spans)), "count")
    m["failed_ratio"] = (len(client.errors) / client.attempted, "ratio")

    lines = [
        f"workload {args.workload} seed {args.seed}: traced run, closed loop, 1 client; "
        f"spans in {trace_path}",
        f"  untraced run_s median {base:.6g} s (n={len(base_runs)}), traced {_med(runs):.6g} s "
        f"(n={len(runs)}): tracing overhead {m['trace.overhead_ratio'][0]:+.3%}",
    ]
    if base:
        shares = ", ".join(f"{k} {v:.3g} s = {v / base:.1%}" for k, v in marginal.items())
        lines.append(f"  transform step marginals, share of untraced run_s: {shares}")
    lines.append(
        f"  serial (1-task) stages: {spark['serial_stage_s']:.4g} s = "
        f"{m['spark.serial_stage_share'][0]:.1%} of a traced run; "
        f"core busy ratio {m['spark.core_busy_ratio'][0]:.3f} on {cores} cores"
    )
    lines.append(f"  pipeline.run p{q} = {run_tail:.6g} s over n={len(run_spans)}")
    lines.append("  span                                   n    median_s     self_s")
    own = tracer.self_times()
    by_name: dict[str, list[int]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s["id"])
    for name, ids in by_name.items():
        durs = [tracer.spans[i]["end"] - tracer.spans[i]["start"] for i in ids]
        lines.append(f"  {name:<36} {len(ids):>4} {_med(durs):>11.5f} {_med(own[i] for i in ids):>10.5f}")
    lines += [f"  {k:<34} {v:>16.6g} {u}" for k, (v, u) in m.items()]
    return m, lines
