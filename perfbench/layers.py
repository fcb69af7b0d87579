"""Per-layer metrics of a traced run.

The layers are the engine's modules, measured from outside: a query's
build is the call `<module>.queries(name)(spark, dir)` and its action is
the write that follows. Spark runtime counters come from the harness's
listener and are split into the cold pass and the warm passes.
"""
import json
import statistics

from workloads import MODULES

MODULE_METRICS = [
    ("build_s", "s"), ("build_jobs", "count"), ("action_s", "s"), ("action_jobs", "count"),
    ("cold_minus_warm_build_s", "s"), ("conf_leaks", "count")]
SPARK_METRICS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("driver_only_s", "s"),
    ("task_cpu_s", "s"), ("busy_cores", "cores"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("stored_mb", "MB")]
OTHER_METRICS = [
    ("sources.open_s", "s"), ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("query.warm_build_share", "ratio"), ("trace.cold_s", "s"), ("trace.warm_s", "s"),
    ("trace.harness_self_s", "s")]


def names():
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"{m}.{k}", u) for m in MODULES for k, u in MODULE_METRICS]
    out += [(f"spark.{k}.{w}", u) for k, u in SPARK_METRICS for w in ("cold", "warm")]
    return out + OTHER_METRICS


def median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """Self time of every span: its duration minus the part of it that
    its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0, s["start_us"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            lo, hi = max(c["start_us"], reach), min(c["end_us"], s["end_us"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end_us"] - s["start_us"] - covered) / 1e6
    return out


def per_layer(events, spans_path, report):
    passes = [e for e in events if e["kind"] == "pass"]
    execs = [e for e in events if e["kind"] == "exec"]
    setup = next(e for e in events if e["kind"] == "setup")
    jvm = next(e for e in events if e["kind"] == "jvm")
    warm_ids = sorted({p["pass"] for p in passes if p["pass"] > 0})
    values = {}

    def per_warm_pass(module, key):
        return median([sum(e[key] for e in execs if e["module"] == module and e["pass"] == p)
                       for p in warm_ids])

    for m in MODULES:
        for key in ("build_s", "build_jobs", "action_s", "action_jobs"):
            values[f"{m}.{key}"] = per_warm_pass(m, key)
        cold_build = sum(e["build_s"] for e in execs if e["module"] == m and e["pass"] == 0)
        values[f"{m}.cold_minus_warm_build_s"] = cold_build - values[f"{m}.build_s"]
        values[f"{m}.conf_leaks"] = sum(len(e["conf_changed"]) for e in execs if e["module"] == m)
    for k, _ in SPARK_METRICS:
        values[f"spark.{k}.cold"] = next(p[k] for p in passes if p["pass"] == 0)
        values[f"spark.{k}.warm"] = median([p[k] for p in passes if p["pass"] > 0])

    with open(spans_path) as f:
        spans = [json.loads(line) for line in f]
    selfs = self_times(spans)
    warm_pass_spans = {s["id"] for s in spans
                       if s["name"] == "pass" and s["tags"].get("kind") == "warm"}
    harness = {}
    for s in spans:
        if s["name"] == "pass" and s["id"] in warm_pass_spans:
            harness[s["id"]] = harness.get(s["id"], 0.0) + selfs[s["id"]]
        elif s["name"] == "query" and s["parent"] in warm_pass_spans:
            harness[s["parent"]] = harness.get(s["parent"], 0.0) + selfs[s["id"]]
    warm_exec = [e for e in execs if e["pass"] > 0]
    values.update({
        "sources.open_s": setup["open_s"],
        "jvm.gc_s": median([p["gc_s"] for p in passes if p["pass"] > 0]),
        "jvm.heap_peak_mb": jvm["heap_peak_mb"],
        "query.warm_build_share": (sum(e["build_s"] for e in warm_exec)
                                   / max(sum(e["total_s"] for e in warm_exec), 1e-9)),
        "trace.cold_s": report["end_to_end"]["cold_s"],
        "trace.warm_s": report["end_to_end"]["warm_s"],
        "trace.harness_self_s": median(list(harness.values())),
    })
    report["self_time_s"] = {name: round(sum(selfs[s["id"]] for s in spans if s["name"] == name), 6)
                             for name in sorted({s["name"] for s in spans})}
    return {n: {"value": values[n], "unit": u} for n, u in names()}
