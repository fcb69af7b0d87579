#!/usr/bin/env python3
"""Workload benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the engine and the harness if they changed, writes a
seeded copy of the corpus, then starts one fresh JVM that sets up a
`local[nproc]` session, opens the tables and runs the workload's
catalog queries as a closed loop with one client: a cold pass, then a
fixed number of warm passes (workloads.WARM_PASSES) in the same
session. `--seconds` is recorded in the report but sets no pass count,
so the amount of measured work does not depend on the program's speed.
Outputs are checked against the catalog's DuckDB oracle outside the
timed passes. The last stdout line is the result object;
with `--trace 0` it carries the end-to-end metrics, with `--trace 1`
the per-layer ones (see README.md).
"""
import argparse
import hashlib
import json
import os
import random
import re
import resource
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HEAP = "4g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

sys.path.insert(0, BENCH)
import layers  # noqa: E402
import workloads  # noqa: E402
from layers import median  # noqa: E402

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when any source changed; returns
    the runtime classpath."""
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(BENCH, "target", "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # Every JVM the launcher starts, its version probe too, keeps out of
    # the shared temp directory.
    env["JAVA_TOOL_OPTIONS"] = " ".join([env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"])
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
                                "-Dsbt.server.autostart=false"])
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


# --------------------------------------------------------------- corpus

def corpus_source():
    """The sf0.1 bench corpus: GRAFT_BENCH_CORPUS, else the directory the
    repo's TESTDATA.md lists for scale factor 0.1."""
    if os.environ.get("GRAFT_BENCH_CORPUS"):
        return os.environ["GRAFT_BENCH_CORPUS"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        m = None
    if not m:
        fail("no sf0.1 corpus: set GRAFT_BENCH_CORPUS or list it in TESTDATA.md")
    return m.group(1)


def source_id(src):
    """Identity of the source corpus: its path and each file's size and mtime."""
    parts = [os.path.abspath(src)]
    for name in sorted(os.listdir(src)):
        st = os.stat(os.path.join(src, name))
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return " ".join(parts)


def seeded_corpus(src, seed):
    import corpus
    dst = os.path.join(WORK, "corpus")
    stamp = os.path.join(WORK, "corpus.seed")
    want = f"{seed} {source_id(src)}"
    if os.path.isdir(dst) and os.path.exists(stamp) and open(stamp).read() == want:
        return dst
    if os.path.exists(stamp):
        os.remove(stamp)
    corpus.make_copy(src, dst, seed)
    with open(stamp, "w") as f:
        f.write(want)
    return dst


# ----------------------------------------------------------- host noise

def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return {"busy": sum(v[:3]) + sum(v[5:7]), "idle": v[3] + v[4],
            "steal": v[7] if len(v) > 7 else 0, "total": sum(v[:8])}


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_noise(s0, s1, own_cpu_s, wall_s, load0, load1, cpus):
    hz = os.sysconf("SC_CLK_TCK")
    d = {k: s1[k] - s0[k] for k in s0}
    return {
        "nproc": cpus, "jvm_heap": HEAP,
        "steal_jiffies": d["steal"],
        "steal_frac": round(d["steal"] / max(d["total"], 1), 4),
        "other_busy_cores": round(max(d["busy"] / hz - own_cpu_s, 0.0) / max(wall_s, 1e-9), 3),
        "loadavg_before": load0, "loadavg_after": load1,
    }


# ------------------------------------------------------------------ run

def child_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def run_jvm(classpath, plan_path, run_dir):
    cmd = (["java", "-Xmx" + HEAP, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.WorkloadBench", plan_path])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "wb") as logf:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness JVM timed out after {JVM_TIMEOUT_S}s (log: {run_dir}/jvm.log)")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness JVM exited with {code}")
    with open(os.path.join(run_dir, "events.jsonl")) as f:
        events = [json.loads(line) for line in f]
    return launched, events


def write_plan(path, entries, passes, **kv):
    with open(path, "w") as f:
        for k, v in kv.items():
            f.write(f"{k}\t{v}\n")
        for entry in entries:
            f.write("query\t" + "\t".join(entry) + "\n")
        for p in passes:
            f.write("pass\t" + ",".join(p) + "\n")


def check_outputs(orc, queries, execs, checks):
    """Checks the outputs against the oracle. An output is the parquet a
    `parquet` query's action wrote in any pass, or the parquet the check
    wrote from the DataFrame a `noop` query built in the last pass.
    Returns the failed executions and, by query, why.

    An execution fails when it threw, when its own output was checked
    and mismatched, or when its row count and content hash differ from
    those of the outputs that matched. The hash covers every execution,
    the cold pass's included, without writing their outputs."""
    why = {}
    bad_passes = set()
    good = {}
    outputs = [e for e in execs if e["output"] and not e["error"]] + checks
    for o in outputs:
        q, p = o["query"], o["pass"]
        err = o["error"]
        if not err:
            try:
                d = os.path.dirname(o["output"])
                written = orc.output_rows(d, q)
                err = (orc.verify(d, q) if written == o["rows"] else
                       f"output holds {written} rows, the action counted {o['rows']}")
            except Exception as e:
                err = f"output unreadable: {e}"
        if err:
            bad_passes.add((q, p))
            why.setdefault(q, f"pass {p}: {err}")
        else:
            good.setdefault(q, set()).add((o["rows"], o["hash"]))
    failed = []
    for e in execs:
        q, p = e["query"], e["pass"]
        if e["error"]:
            why.setdefault(q, f"pass {p}: {e['error']}")
        elif (q, p) in bad_passes:
            pass
        elif (e["rows"], e["hash"]) not in good.get(q, ()):
            why.setdefault(q, f"pass {p}: (rows, hash) {(e['rows'], e['hash'])}, the checked "
                              f"outputs had {sorted(good.get(q, ()))}")
        else:
            continue
        failed.append(e)
    return failed, {q: why[q] for q in queries if q in why}


def percentile(xs, q):
    """The q-quantile of xs by linear interpolation (numpy's default)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    entries = workloads.WORKLOADS.get(args.workload)
    if entries is None:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    queries = workloads.queries(args.workload)
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(ROOT, "tools", "check.py")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a checkout of the repo")
    src = corpus_source()
    if not os.path.isdir(src):
        fail(f"corpus {src} not found (set GRAFT_BENCH_CORPUS)")

    os.makedirs(WORK, exist_ok=True)
    started = time.time()
    classpath = build()
    corpus_dir = seeded_corpus(src, args.seed)
    prepared = time.time()

    run_dir = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rng = random.Random(args.seed)
    passes = []
    for _ in range(1 + workloads.WARM_PASSES[args.workload]):
        order = list(queries)
        rng.shuffle(order)
        passes.append(order)
    cpus = len(os.sched_getaffinity(0))
    plan_path = os.path.join(run_dir, "plan.tsv")
    write_plan(plan_path, entries, passes, corpus=corpus_dir, out=run_dir,
               trace=args.trace, cpus=cpus)

    s0, load0, cpu0, t0 = proc_stat(), loadavg(), child_cpu_s(), time.time()
    launched, events = run_jvm(classpath, plan_path, run_dir)
    jvm_done = time.time()
    noise = host_noise(s0, proc_stat(), child_cpu_s() - cpu0, jvm_done - t0,
                       load0, loadavg(), cpus)

    setup = next(e for e in events if e["kind"] == "setup")
    pass_ev = [e for e in events if e["kind"] == "pass"]
    execs = [e for e in events if e["kind"] == "exec"]
    checks = [e for e in events if e["kind"] == "check"]

    # ---- output check (untimed) ----
    import oracle
    with open(os.path.join(run_dir, "oracle.json")) as f:
        contract = json.load(f)
    orc = oracle.Oracle(ROOT, corpus_dir, contract["sql"], contract["bounds"],
                        os.path.join(WORK, "oracle"), source_id(src))
    failed, failures = check_outputs(orc, queries, execs, checks)

    # ---- metrics ----
    cold = [p for p in pass_ev if p["pass"] == 0]
    warm = [p for p in pass_ev if p["pass"] > 0]
    warm_exec = [e for e in execs if e["pass"] > 0]
    samples = [e["total_s"] for e in warm_exec]
    q_tail = workloads.tail_quantile(args.workload)
    e2e = {
        "setup_s": (setup["ready_epoch_ms"] / 1000.0 - launched, "s"),
        "cold_s": (cold[0]["wall_s"], "s"),
        "warm_s": (median([p["wall_s"] for p in warm]), "s"),
        "query_p50_s": (median(samples), "s"),
        "query_p90_s": (percentile(samples, q_tail), "s"),
    }
    failed_frac = len(failed) / max(len(execs), 1)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds,
        "passes": {"cold": len(cold), "warm": len(warm)},
        "warm_samples": len(samples), "query_p90_s_quantile": q_tail,
        "warm_latencies_s": sorted((round(e["total_s"], 4), e["query"]) for e in warm_exec),
        "failed_frac": failed_frac, "failures": failures,
        "setup": {k: setup[k] for k in ("session_s", "open_s", "heap_max_mb")},
        "host": noise,
        "phases_s": {"build_and_corpus": prepared - started, "jvm": jvm_done - t0,
                     "check": time.time() - jvm_done},
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    if args.trace:
        metrics = layers.per_layer(events, os.path.join(run_dir, "spans.jsonl"), report)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    report["metrics"] = metrics
    with open(os.path.join(WORK, "reports",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    for k, m in metrics.items():
        print(f"{k:<44} {m['value']:>14.6f} {m['unit']}")
    print(f"{'failed_frac':<44} {failed_frac:>14.6f} ratio "
          f"({len(failed)} of {len(execs)} executions)")
    print(f"warm samples {len(samples)}; query_p90_s is the {q_tail:.2f} quantile")
    for q, why in sorted(failures.items()):
        print(f"FAILED {q}: {why}")
    print("host " + json.dumps(noise, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": len(execs),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
