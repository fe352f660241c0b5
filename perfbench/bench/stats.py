"""Turning one run's samples into the reported metrics."""
import statistics

MIN_TAIL = 10


class TailTooShort(ValueError):
    """A percentile was asked of too few samples to estimate its tail."""


def percentile(values, q, min_tail=MIN_TAIL):
    """The q-quantile (0 < q < 1) of ``values``, linearly interpolated
    between order statistics. Refuses (``TailTooShort``) unless at least
    ``min_tail`` samples lie strictly above the interpolation rank, so a p95
    always rests on a real tail rather than on one or two samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TailTooShort("no samples")
    rank = q * (n - 1)
    lo = int(rank)
    beyond = n - 1 - lo
    if beyond < min_tail:
        raise TailTooShort(f"{beyond} samples beyond p{q * 100:g} of {n}; need {min_tail}")
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def operations(samples, warm_ok, group=1):
    """(latency ms, ok) per operation.

    ``samples`` are the JVM's rows ``[op, ms, ok, traced]``; ``ok`` is 0
    when the call threw or its fingerprint differed from the reference.
    ``warm_ok[op]`` is False when the operation's warm-up or reference check
    failed, which fails every execution of it. ``group`` consecutive samples
    form one operation (a pipeline pass is its 7 calls); it fails if any call
    failed.
    """
    out = []
    for i in range(0, len(samples) - group + 1, group):
        part = samples[i:i + group]
        out.append((sum(s[1] for s in part),
                    all(s[2] and warm_ok.get(s[0], False) for s in part)))
    return out


def end_to_end(res, warm_ok, group=1):
    """The untraced run's end-to-end metrics, with the operation counts."""
    ops = operations(res["samples"], warm_ok, group)
    failed = sum(1 for _, ok in ops if not ok)
    window_s = res["measured_s"][0]
    # a failed operation misses any latency limit: it counts as taking the
    # whole window
    latencies = [ms if ok else window_s * 1e3 for ms, ok in ops]
    return {
        "setup_s": res["setup_s"],
        "throughput_qps": (len(ops) - failed) / window_s,
        "latency_p50_ms": percentile(latencies, 0.5, min_tail=0),
        "peak_rss_mb": res["peak_rss_mb"],
    }, len(ops), failed


def per_layer(res, warm_ok, group, op_list, tags, modules, rows_per_pass, cores=4):
    """The traced run's per-layer metrics.

    Counters are per traced operation; spans and module self times are in
    milliseconds per call and per pass over ``op_list`` respectively.
    ``trace.overhead_frac`` compares each operation's mean latency with and
    without the instrumentation.
    """
    traced = [s for s in res["samples"] if s[3]]
    untraced = [s for s in res["samples"] if not s[3]]
    n = max(1, len(traced))
    layers = res["layers"]
    spans = res["spans"]
    wall_ms = layers.get("trace.wall_ms", 1.0)

    def per_op(key):
        return layers.get(key, 0.0) / n

    out = {k: per_op(k) for k in (
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
        "codegen.compiles", "codegen.compile_ms",
        "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_wait_ms",
        "exec.task_run_ms", "exec.task_cpu_ms", "exec.input_bytes",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
        "exec.failed_tasks", "exec.gc_ms",
        "streaming.batches", "streaming.batch_ms", "streaming.state_commit_ms",
        "streaming.state_rows")}
    out["exec.core_busy_frac"] = layers.get("exec.task_run_ms", 0.0) / (wall_ms * cores)

    def span_ms(name):
        count, total, _self = spans.get(name, (0, 0.0, 0.0))
        return total / count if count else 0.0

    for metric, span in (("sources.read_ms", "sources.read"),
                         ("pipelines.population_features_ms", "pipelines.population_features"),
                         ("pipelines.hive_split_ms", "pipelines.hive_split"),
                         ("pipelines.summer_aggregates_ms", "pipelines.summer_aggregates"),
                         ("pipelines.window_sequences_ms", "pipelines.window_sequences"),
                         ("pipelines.sequence_scaler_stats_ms", "pipelines.sequence_scaler_stats"),
                         ("ml.classify_and_evaluate_ms", "ml.classify_and_evaluate"),
                         ("entry.build_ms", "entry.build"),
                         ("entry.consume_ms", "entry.consume")):
        out[metric] = span_ms(span)
    count, _total, self_ms = spans.get("pipeline.pass", (0, 0.0, 0.0))
    out["pipeline.pass_self_ms"] = self_ms / count if count else 0.0
    passes_per_s = 0.0
    if count:
        passes_per_s = count / res["measured_s"][1]
    out["pipelines.sensor_rows_per_s"] = rows_per_pass * passes_per_s

    def mean_by_op(rows):
        by = {}
        for s in rows:
            by.setdefault(s[0], []).append(s[1])
        return {k: statistics.fmean(v) for k, v in by.items()}

    t_mean, u_mean = mean_by_op(traced), mean_by_op(untraced)
    for module in modules:
        out[f"{module}.self_ms"] = sum(t_mean.get(op, 0.0) for op in op_list
                                       if tags.get(op) == module)
    both = [op for op in t_mean if op in u_mean]
    base = sum(u_mean[op] for op in both)
    out["trace.overhead_frac"] = (sum(t_mean[op] for op in both) / base - 1.0) if base else 0.0
    ops = operations(res["samples"], warm_ok, group)
    out["failed_frac"] = sum(1 for _, ok in ops if not ok) / max(1, len(ops))
    return out
