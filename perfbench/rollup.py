"""Turns one harness result file into the benchmark's metrics.

Pure functions over the JSON the harness writes, so the statistics, the
span rollup and the failure accounting are testable without a JVM
(see test_perfbench.py).
"""
import bisect
import math
import statistics

# Operations that the end-to-end metrics count. The DataFrame twin of the
# word count runs only in traced runs, as the base of mr.typed_over_df.
REFERENCE_OPS = {"df_twin"}

UNITS = {
    "setup_s": "s",
    "suite_s": "s",
    "query_s_p50": "s",
    "query_s_p90": "s",
    "registry.build_ms": "ms/op",
    "registry.exec_ms": "ms/op",
    "driver.analysis_ms": "ms/op",
    "driver.optimization_ms": "ms/op",
    "driver.planning_ms": "ms/op",
    "codegen.units": "count/op",
    "codegen.ms": "ms/op",
    "sched.jobs": "count/op",
    "sched.stages": "count/op",
    "sched.tasks": "count/op",
    "sched.delay_ms": "ms/op",
    "sched.no_task_ms": "ms/op",
    "exec.task_run_ms": "ms/op",
    "exec.task_cpu_ms": "ms/op",
    "exec.deser_ms": "ms/op",
    "exec.result_ser_ms": "ms/op",
    "exec.gc_ms": "ms/op",
    "exec.slot_util": "ratio",
    "exec.skew": "ratio",
    "shuffle.write_bytes": "B/op",
    "shuffle.write_records": "count/op",
    "shuffle.read_bytes": "B/op",
    "shuffle.write_ms": "ms/op",
    "shuffle.fetch_wait_ms": "ms/op",
    "spill.memory_bytes": "B/op",
    "spill.disk_bytes": "B/op",
    "mr.map_ms": "ms/op",
    "mr.shuffle_ms": "ms/op",
    "mr.reduce_ms": "ms/op",
    "mr.run_words_per_s": "words/s",
    "mr.combine_words_per_s": "words/s",
    "mr.shuffle_records_per_word": "ratio",
    "mr.typed_over_df": "ratio",
    "stream.batches": "count/op",
    "stream.batch_ms_p50": "ms",
    "stream.add_batch_ms": "ms/op",
    "stream.query_planning_ms": "ms/op",
    "stream.wal_commit_ms": "ms/op",
    "stream.commit_offsets_ms": "ms/op",
    "stream.latest_offset_ms": "ms/op",
    "stream.state_commit_ms": "ms/op",
    "stream.state_rows": "count/op",
    "jvm.gc_ms": "ms/op",
    "jvm.process_cpu_ms": "ms/op",
    "jvm.rss_peak_mb": "MB",
    "host.steal_frac": "ratio",
    "host.iowait_frac": "ratio",
    "host.cpu_probe_ms": "ms",
    "trace.coverage": "ratio",
}
# The metrics printed with --trace 0; every other UNITS entry is per-layer.
END_TO_END = ["setup_s", "suite_s", "query_s_p50", "query_s_p90"]

# Nesting depth of each span name. The rollup gives every instant of an
# operation to the deepest span covering it, so the layer times of an
# operation add up to its wall time even where tasks run in parallel.
LEVEL = {"op": 1, "harness": 1, "build": 2, "exec": 2,
         "mr.map": 3, "mr.shuffle": 3, "mr.reduce": 3,
         "driver.analysis": 3, "driver.optimization": 3, "driver.planning": 3,
         "stream.batch": 3, "stage": 4, "task": 5}


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


def tail_percentile(values, cap=90, beyond=10):
    """The highest whole percentile, at most `cap`, with at least `beyond`
    samples strictly above it (nearest-rank). Returns (pct, value), or
    None when no percentile qualifies."""
    xs = sorted(values)
    for p in range(cap, 0, -1):
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= beyond:
            return p, v
    return None


def self_times(root, spans):
    """Split the interval `root` = (t0, t1) among `spans`, a list of
    (level, name, t0, t1): each instant goes to the deepest span covering
    it, and to "self" when none does. Returns {name: ms}."""
    r0, r1 = root
    cuts = sorted({r0, r1} | {min(max(t, r0), r1) for _, _, a, b in spans for t in (a, b)})
    best = [(0, "self")] * (len(cuts) - 1)
    for level, name, a, b in spans:
        i = bisect.bisect_left(cuts, max(a, r0))
        j = bisect.bisect_left(cuts, min(b, r1))
        for k in range(i, j):
            if level > best[k][0]:
                best[k] = (level, name)
    out = {}
    for k, (_, name) in enumerate(best):
        out[name] = out.get(name, 0.0) + cuts[k + 1] - cuts[k]
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def verdict(result, oracle):
    """Correctness of the run. A timed operation that threw or gave a wrong
    result is failed and posts no time; for the registry workloads every
    sample of a query whose dump failed the oracle, whose digest did not
    repeat, or that is misclassified is failed too."""
    bad = {}
    for name in result.get("with_oracle", []):
        if oracle.get(name) != "PASS":
            bad[name] = oracle.get(name, "no oracle verdict")
    for key in ("setup_failures", "repeat_failures", "misclassified"):
        for name, why in result.get(key, {}).items():
            bad.setdefault(name, why)
    good = [s for s in result["samples"] if s["op"] not in bad]
    failed = len(result["failures"]) + len(result["samples"]) - len(good)
    attempted = len(result["samples"]) + len(result["failures"])
    names = {f["op"]: f["error"] for f in result["failures"]}
    names.update(bad)
    return {"correct": failed == 0 and not bad, "attempted": attempted,
            "failed": failed, "failed_ops": names, "samples": good}


def _durations(samples, skip=REFERENCE_OPS):
    """Seconds per sample, by operation."""
    by_op = {}
    for s in samples:
        if s["op"] not in skip:
            by_op.setdefault(s["op"], []).append((s["t1"] - s["t0"]) / 1000)
    return by_op


def end_to_end(result, v):
    """The end-to-end metrics, or {} when no timed operation succeeded."""
    by_op = _durations(v["samples"])
    pooled = [d for ds in by_op.values() for d in ds]
    if not pooled:
        return {}
    return {
        "setup_s": result["setup_s"],
        "suite_s": sum(statistics.median(ds) for ds in by_op.values()),
        "query_s_p50": statistics.median(pooled),
        "query_s_p90": percentile(pooled, 90),
    }


def _ops(spans, samples):
    """Timed operation spans, in time order, that a successful sample backs."""
    ok = {(s["op"], s["t0"]) for s in samples}
    return sorted((s for s in spans if s["name"] == "op" and (s["op"], s["t0"]) in ok),
                  key=lambda s: s["t0"])


def assign(spans, ops, slack=1.0):
    """Group the non-op spans by the operation whose interval holds their
    start; operations run one at a time, so containment is unambiguous.
    Listener stamps are whole milliseconds, hence the slack."""
    starts = [o["t0"] for o in ops]
    groups = {id(o): [] for o in ops}
    for s in spans:
        if s["name"] in ("op", "harness"):
            continue
        i = bisect.bisect_right(starts, s["t0"] + slack) - 1
        if i >= 0 and s["t0"] <= ops[i]["t1"] + slack:
            groups[id(ops[i])].append(s)
    return groups


def per_layer(result, v):
    """Per-layer metrics of a traced run, and its wall rollup {layer: ms}."""
    spans = result["spans"]
    ops = _ops(spans, v["samples"])
    groups = assign(spans, ops)
    main = [o for o in ops if o["op"] not in REFERENCE_OPS]
    n = max(1, len(main))
    cores = result["cores"]
    c = result["counters"]

    def each(name):
        return [s for o in main for s in groups[id(o)] if s["name"] == name]

    def total(name, key=None):
        xs = each(name)
        return sum((s[key] if key else s["t1"] - s["t0"]) for s in xs)

    tasks = each("task")
    stages = {}
    for t in tasks:
        if t["ok"]:
            stages.setdefault(t["stage"], []).append(t["t1"] - t["t0"])
    skews = [max(d) / max(statistics.median(d), 1.0) for d in stages.values() if len(d) >= 2]
    no_task = sum(
        (s["t1"] - s["t0"]) - union_ms([(t["t0"], t["t1"]) for t in groups[id(o)] if t["name"] == "task"],
                                       s["t0"], s["t1"])
        for o in main for s in groups[id(o)] if s["name"] == "exec")
    batches = each("stream.batch")

    m = {
        "registry.build_ms": total("build") / n,
        "registry.exec_ms": total("exec") / n,
        "driver.analysis_ms": total("driver.analysis") / n,
        "driver.optimization_ms": total("driver.optimization") / n,
        "driver.planning_ms": total("driver.planning") / n,
        "codegen.units": c["codegen_units"] / max(1, len(ops)),
        "codegen.ms": c["codegen_ms"] / max(1, len(ops)),
        "sched.jobs": len(each("job")) / n,
        "sched.stages": len(each("stage")) / n,
        "sched.tasks": len(tasks) / n,
        "sched.delay_ms": total("task", "delay_ms") / n,
        "sched.no_task_ms": no_task / n,
        "exec.task_run_ms": total("task", "run_ms") / n,
        "exec.task_cpu_ms": total("task", "cpu_ms") / n,
        "exec.deser_ms": total("task", "deser_ms") / n,
        "exec.result_ser_ms": total("task", "result_ser_ms") / n,
        "exec.gc_ms": total("task", "gc_ms") / n,
        "exec.slot_util": total("task", "run_ms") / max(1.0, sum(o["t1"] - o["t0"] for o in main) * cores),
        "exec.skew": max(skews, default=1.0),
        "shuffle.write_bytes": total("task", "sw_bytes") / n,
        "shuffle.write_records": total("task", "sw_records") / n,
        "shuffle.read_bytes": total("task", "sr_bytes") / n,
        "shuffle.write_ms": total("task", "sw_ms") / n,
        "shuffle.fetch_wait_ms": total("task", "sr_wait_ms") / n,
        "spill.memory_bytes": total("task", "spill_mem") / n,
        "spill.disk_bytes": total("task", "spill_disk") / n,
        "mr.map_ms": total("mr.map") / n,
        "mr.shuffle_ms": total("mr.shuffle") / n,
        "mr.reduce_ms": total("mr.reduce") / n,
        "mr.run_words_per_s": 0.0,
        "mr.combine_words_per_s": 0.0,
        "mr.shuffle_records_per_word": 0.0,
        "mr.typed_over_df": 0.0,
        "stream.batches": len(batches) / n,
        "stream.batch_ms_p50": statistics.median([b["trigger"] for b in batches]) if batches else 0.0,
        "stream.add_batch_ms": total("stream.batch", "addBatch") / n,
        "stream.query_planning_ms": total("stream.batch", "queryPlanning") / n,
        "stream.wal_commit_ms": total("stream.batch", "walCommit") / n,
        "stream.commit_offsets_ms": total("stream.batch", "commitOffsets") / n,
        "stream.latest_offset_ms": total("stream.batch", "latestOffset") / n,
        "stream.state_commit_ms": total("stream.batch", "state_commit_ms") / n,
        "stream.state_rows": total("stream.batch", "state_rows") / n,
        "jvm.gc_ms": c["jvm_gc_ms"] / max(1, len(ops)),
        "jvm.process_cpu_ms": c["jvm_process_cpu_ms"] / max(1, len(ops)),
        "jvm.rss_peak_mb": c["jvm_rss_peak_mb"],
        "host.steal_frac": c["host_steal_frac"],
        "host.iowait_frac": c["host_iowait_frac"],
        "host.cpu_probe_ms": c["host_cpu_probe_ms"],
    }
    m["trace.coverage"], rollup = coverage(result, ops, groups)
    words = result.get("inputs", {}).get("words_per_job")
    if words:
        med = {k: statistics.median(d) for k, d in _durations(v["samples"], skip=()).items()}
        m["mr.run_words_per_s"] = words / med["mr_run"]
        m["mr.combine_words_per_s"] = words / med["mr_combine"]
        combine = [o for o in main if o["op"] == "mr_combine"]
        records = sum(t["sw_records"] for o in combine for t in groups[id(o)] if t["name"] == "task")
        m["mr.shuffle_records_per_word"] = records / (words * max(1, len(combine)))
        if "df_twin" in med:
            m["mr.typed_over_df"] = med["mr_run"] / med["df_twin"]
    return m, rollup


def coverage(result, ops, groups):
    """Share of the timed wall that named spans account for, and the
    rollup of that wall by layer: {name: ms}."""
    layers = {}
    for o in ops:
        kids = [(LEVEL[s["name"]], s["name"], s["t0"], s["t1"])
                for s in groups[id(o)] if s["name"] in LEVEL]
        for name, ms in self_times((o["t0"], o["t1"]), kids).items():
            key = "op" if name == "self" else name
            layers[key] = layers.get(key, 0.0) + ms
    harness = sum(s["t1"] - s["t0"] for s in result["spans"] if s["name"] == "harness"
                  and result["timed_start_ms"] <= s["t0"] <= result["timed_end_ms"])
    if harness:
        layers["harness"] = harness
    wall = result["timed_end_ms"] - result["timed_start_ms"]
    return min(1.0, sum(layers.values()) / wall), layers


def overhead(traced, untraced):
    """Traced over untraced value of each end-to-end metric."""
    return {k: traced[k] / untraced[k] for k in traced if untraced.get(k)}


def report(result, v, e2e, layers):
    """Everything printed before the final JSON line; `layers` is
    per_layer's result in traced runs, else None."""
    by_op = _durations(v["samples"])
    pooled = [d for ds in by_op.values() for d in ds]
    tail = tail_percentile(pooled)
    out = {
        "workload": result["workload"], "seed": result["seed"], "traced": result["traced"],
        "cores": result["cores"], "confs": result["confs"], "inputs": result.get("inputs", {}),
        "timed_s": (result["timed_end_ms"] - result["timed_start_ms"]) / 1000,
        "samples": len(pooled), "operations": len(by_op),
        "samples_beyond_p90": sum(1 for d in pooled if d > percentile(pooled, 90)) if pooled else 0,
        "tail_with_10_beyond": {"pct": tail[0], "s": tail[1]} if tail else None,
        "per_query_median_s": {k: statistics.median(d) for k, d in sorted(by_op.items())},
        "failed_frac": v["failed"] / max(1, v["attempted"]),
        "failed_ops": v["failed_ops"],
        "end_to_end": e2e,
        "host_cpu_probe_ms": result["counters"]["host_cpu_probe_ms"],
    }
    words = result.get("inputs", {}).get("words_per_job")
    if words and "mr_run" in by_op and "mr_combine" in by_op:
        out["mr_run_words_per_s"] = words / statistics.median(by_op["mr_run"])
        out["mr_combine_words_per_s"] = words / statistics.median(by_op["mr_combine"])
    if layers is not None:
        metrics, rollup = layers
        out["per_layer"] = metrics
        out["wall_rollup_ms"] = dict(sorted(rollup.items(), key=lambda kv: -kv[1]))
        twin = _durations(v["samples"], skip=()).get("df_twin")
        if twin:
            out["mr_typed_over_df_base_s"] = statistics.median(twin)
    return out
