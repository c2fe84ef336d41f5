#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload fit|analytics|dedup --seed N \
      --seconds S --trace 0|1

A run
  1. builds graft and the harness (perfbench/build.py; skipped when built),
  2. writes the seed's inputs once (perfbench/gen.py; not timed),
  3. starts PASSES fresh JVMs one after another; each times its set-up
     (JVM start to warmed Spark session), then drives the workload's query
     list, in seed order, as a closed loop of CLIENTS clients (a pass),
  4. checks every query against its DuckDB oracle: graft.Verify with the
     list as its filter in the last JVM, then tools/compare.py on that dump.

Latency metrics pool both passes' queries; the other metrics are the median
of their per-pass values. The passes' JVMs are independent draws of the
machine's speed, which drifts between runs.

It prints every metric by name with its unit, writes a result record to
.bench_build/results/, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see
BENCHMARK.json). The session recipe is perfbench/recipe.json; the query
lists are perfbench/workloads.json.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

CLIENTS = 2
# fresh JVMs a run starts; each sets up a session and runs the whole list
PASSES = 2
# a run must end within 180 s of its start, build and input generation aside
RUN_DEADLINE_S = 170
BUILD = build.BUILD


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb():
    """The Tier-1 SPARK_DRIVER_MEM rule: half of MemTotal, 2 to 8 GiB."""
    return min(8, max(2, mem_total_kb() // 2097152))


def steal_s():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def recipe():
    with open(os.path.join(HERE, "recipe.json")) as f:
        return json.load(f)


def jvm_cmd(root, classes, jars, rec, args):
    """The recipe as a java command line; Spark reads `spark.*` properties
    into the session's conf."""
    scratch = os.path.join(root, BUILD)
    conf = {k: v.format(nproc=nproc()) for k, v in rec["spark_conf"].items()}
    conf.update({k: os.path.join(scratch, d) for k, d in rec["scratch_conf"].items()})
    return (["java", f"-Xmx{heap_gb()}g"] + rec["jvm_flags"]
            + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp")]
            + [f"-D{k}={v}" for k, v in conf.items()]
            + [x for p in rec["add_opens"] for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness"]
            + args)


def launch(cmd, root, log_path, deadline):
    """Runs one harness JVM, killed at `deadline` (time.monotonic()).
    Returns (seconds from start to PERFBENCH_READY, exit code)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    with open(log_path, "w") as log:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                             stderr=log, text=True, start_new_session=True)
        watchdog = threading.Timer(max(1.0, deadline - t0), os.killpg, (p.pid, signal.SIGKILL))
        watchdog.start()
        setup = None
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH_READY") and setup is None:
                    setup = time.monotonic() - t0
                log.write(line)
            rc = p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return setup, rc


def inputs(root, seed):
    d = os.path.join(root, BUILD, "inputs", f"seed-{seed}")
    man = os.path.join(d, "manifest.json")
    if not os.path.exists(man):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(man) as f:
        return d, json.load(f)


def tail_percentile(xs):
    """Latency at the highest rank with at least 10 samples above it:
    (value, percentile, samples above). Fewer than 11 samples: the maximum."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, 0
    return s[n - 11], (n - 10) / n * 100.0, 10


def compare(root, data_dir, verify_dir, names, log_path, deadline):
    """tools/compare.py on the Verify dump -> {name: None | failure text}."""
    out_json = verify_dir + ".compare.json"
    with open(log_path, "w") as log:
        subprocess.run([sys.executable, os.path.join(root, "tools", "compare.py"),
                        data_dir, verify_dir, "--json", out_json],
                       cwd=root, stdout=log, stderr=subprocess.STDOUT,
                       timeout=max(1.0, deadline - time.monotonic()))
    with open(out_json) as f:
        failed = set(json.load(f)["fail"])
    with open(log_path) as f:
        lines = [l.strip() for l in f]
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    result = {}
    for n in names:
        if n not in oracles:
            result[n] = "no oracle"
        elif n in failed:
            why = next((l for l in lines if l.startswith(f"FAIL {n}:")), "FAIL")
            result[n] = why[:300]
        else:
            result[n] = None
    return result


def pass_metrics(run):
    """Throughput and memory figures of one pass (one JVM)."""
    qs = run["queries"]
    return {
        "queries_per_min": (sum(1 for q in qs if q["ok"]) / run["pass_s"] * 60.0, "1/min"),
        "cpu_s_per_query": (run["process_cpu_s"] / len(qs), "s"),
        "retained_mb": ((run["retained_heap_bytes"] + run["retained_nonheap_bytes"]) / 1048576.0, "MB"),
        "peak_rss_mb": (run["vm_hwm_kb"] / 1024.0, "MB"),
    }


def layer_metrics(run):
    qs = run["queries"]
    lat_sum = sum(q["latency_s"] for q in qs)

    def phase_sum(key, phase):
        return sum(q["counters"].get(phase, {}).get(key, 0) for q in qs)

    mb = 1024.0 * 1024.0
    build_s = sum(q["build_s"] for q in qs)
    return {
        "build.wall_s": (build_s, "s"),
        "build.jobs": (phase_sum("jobs", "build"), "count"),
        "build.share": (build_s / lat_sum if lat_sum else 0.0, "ratio"),
        "build.tasks": (phase_sum("tasks", "build"), "count"),
        "build.task_cpu_s": (phase_sum("task_cpu_s", "build"), "s"),
        "build.shuffle_write_mb": (phase_sum("shuffle_write_bytes", "build") / mb, "MB"),
        "plan.wall_s": (sum(q["plan_s"] for q in qs), "s"),
        "plan.vec_kernel_queries": (sum(1 for q in qs if q["vec_kernel"]), "count"),
        "codegen.compiles": (run["codegen_compiles"], "count"),
        "jvm.jit_compile_s": (run["jit_compile_s"], "s"),
        "exec.wall_s": (sum(q["exec_s"] for q in qs), "s"),
        "exec.jobs": (phase_sum("jobs", "exec"), "count"),
        "exec.stages": (phase_sum("stages", "exec"), "count"),
        "exec.tasks": (phase_sum("tasks", "exec"), "count"),
        "exec.task_cpu_s": (phase_sum("task_cpu_s", "exec"), "s"),
        "exec.task_wait_s": (phase_sum("task_wait_s", "exec"), "s"),
        "exec.task_gc_s": (phase_sum("task_gc_s", "exec"), "s"),
        "exec.failed_tasks": (phase_sum("failed_tasks", "exec"), "count"),
        "exec.shuffle_write_mb": (phase_sum("shuffle_write_bytes", "exec") / mb, "MB"),
        "exec.shuffle_read_mb": (phase_sum("shuffle_read_bytes", "exec") / mb, "MB"),
        "exec.spill_mb": (phase_sum("spill_disk_bytes", "exec") / mb, "MB"),
        "exec.output_mb": (phase_sum("output_bytes", "exec") / mb, "MB"),
        "tables.pinned_mb": (run["pinned_bytes"] / mb, "MB"),
        "tables.cached_rdds": (run["cached_rdds"], "count"),
    }


def attribution_check(run):
    """Per-query jobs, tasks and shuffle bytes against the listener totals."""
    out = {}
    for key in ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes"):
        per_query = sum(c.get(key, 0) for q in run["queries"] for c in q["counters"].values())
        out[key] = {"per_query_sum": per_query, "run_total": run["totals"][key],
                    "exact": per_query == run["totals"][key]}
    return out


def git_commit(root):
    """HEAD of the checkout, or None when it is not a git repository."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                       text=True, timeout=10)
    return r.stdout.strip() if r.returncode == 0 else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the JVM watchdogs' cleanup runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}; one of {sorted(workloads)}")
    if not os.path.exists(os.path.join(root, "tools", "compare.py")):
        raise SystemExit("perfbench: no tools/compare.py; run from the root of a graft checkout")
    wl = workloads[a.workload]
    rec = recipe()

    classes, jars = build.build(root)
    data_dir, manifest = inputs(root, a.seed)
    # One pass over the list, sized to run_seconds on 4 cores. The workload's
    # `lead` queries, its longest, go first so the pass does not end on one
    # client running a long query alone. The seed orders the leads among
    # themselves and the rest, and with it which memo sibling builds a fit.
    rng = random.Random(a.seed)
    lead = list(wl["lead"])
    rest = [q for q in wl["queries"] if q not in lead]
    rng.shuffle(lead)
    rng.shuffle(rest)
    names = lead + rest
    stamp = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(root, BUILD, "runs", stamp)
    os.makedirs(run_dir)
    for d in ["tmp"] + list(rec["scratch_conf"].values()):
        os.makedirs(os.path.join(root, BUILD, d), exist_ok=True)
    qfile = os.path.join(run_dir, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names) + "\n")

    t_start = time.monotonic()
    deadline = t_start + RUN_DEADLINE_S
    load0, steal0 = loadavg(), steal_s()
    setups, passes = [], []
    for i in range(PASSES):
        out = os.path.join(run_dir, f"pass{i}")
        verify = "1" if i == PASSES - 1 else "0"
        s, rc = launch(jvm_cmd(root, classes, jars, rec, [data_dir, out, qfile, str(a.trace),
                                                          str(CLIENTS), verify]),
                       root, out + ".log", deadline)
        if s is None or rc != 0 or not os.path.exists(os.path.join(out, "run.json")):
            raise SystemExit(f"perfbench: harness failed (exit {rc}); see {out}.log")
        setups.append(s)
        with open(os.path.join(out, "run.json")) as f:
            passes.append(json.load(f))
    t_main = time.monotonic()
    load1, steal1 = loadavg(), steal_s()

    checked = compare(root, data_dir, os.path.join(out, "verify"), sorted(set(names)),
                      os.path.join(run_dir, "compare.log"), deadline)
    t_end = time.monotonic()
    failures = {}
    for run in passes:
        for q in run["queries"]:
            if not q["ok"]:
                failures.setdefault(q["name"], "timed pass: " + str(q["error"]))
    for n, why in checked.items():
        if why and why != "no oracle":
            failures.setdefault(n, why)
    qs = [q for run in passes for q in run["queries"]]
    attempted = len(qs)
    failed = sum(1 for q in qs if q["name"] in failures)
    # latencies pool both passes' queries; the other figures are per pass
    # and a run reports their median
    lat = [q["latency_s"] for q in qs]
    tail, tail_p, tail_n = tail_percentile(lat)
    per_pass = [pass_metrics(run) for run in passes]
    e2e = {"setup_s": (statistics.median(setups), "s"),
           "query_p50_s": (statistics.median(lat), "s"),
           "query_tail_s": (tail, "s")}
    for k, (_, u) in per_pass[0].items():
        e2e[k] = (statistics.median(m[k][0] for m in per_pass), u)
    e2e["ok_frac"] = (1.0 - failed / attempted, "ratio")
    e2e["failed_frac"] = (failed / attempted, "ratio")
    layers = {}
    if a.trace:
        per_layer = [layer_metrics(run) for run in passes]
        layers = {k: (statistics.median(m[k][0] for m in per_layer), u)
                  for k, (_, u) in per_layer[0].items()}

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    pool = layers if a.trace else e2e
    metrics = {m["name"]: {"value": pool[m["name"]][0], "unit": m["unit"]} for m in wanted}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "clients": CLIENTS, "git_commit": git_commit(root),
        "source_hash": open(os.path.join(classes, ".stamp")).read(),
        "nproc": nproc(), "mem_total_kb": mem_total_kb(), "heap_gb": heap_gb(),
        "recipe": rec, "jvm_cmd": jvm_cmd(root, classes, jars, rec, [])[:-1],
        "steal_s": steal1 - steal0, "loadavg_start": load0, "loadavg_end": load1,
        "inputs": manifest, "setup_samples_s": setups,
        "pass_end_to_end": [{k: v for k, (v, _) in m.items()} for m in per_pass],
        "wall_s": {"jvms": t_main - t_start, "compare": t_end - t_main},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "query_tail_percentile": tail_p, "query_tail_samples_above": tail_n,
        "query_latency_samples": attempted,
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "attribution_check": [attribution_check(run) for run in passes] if a.trace else None,
        "failures": failures,
        "unchecked": sorted(n for n, w in checked.items() if w == "no oracle"),
        "passes": passes,
    }
    res_dir = os.path.join(root, BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    res_path = os.path.join(res_dir, stamp + ".json")
    with open(res_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    with open(os.path.join(res_dir, stamp + ".spans.jsonl"), "w") as f:
        for i in range(PASSES):
            with open(os.path.join(run_dir, f"pass{i}", "spans.jsonl")) as spans:
                for line in spans:
                    if line.strip():
                        f.write(json.dumps(dict(json.loads(line), **{"pass": i})) + "\n")
    if not failures:  # a failed run keeps its logs and Verify dump
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {PASSES} passes of "
          f"{len(names)} queries, {CLIENTS} clients, inputs {data_dir}")
    for k, (v, u) in e2e.items():
        print(f"  {k} = {v:.6g} {u}")
    print(f"  query_tail_s is p{tail_p:.1f} of {attempted} samples ({tail_n} above)")
    for k, (v, u) in layers.items():
        print(f"  {k} = {v:.6g} {u}")
    if a.trace:
        # the spans have two fixed levels and a query is exactly its three
        # phases, so each layer's self time is its wall sum
        print(f"  layer self time (s): setup {e2e['setup_s'][0]:.3f}, build "
              f"{layers['build.wall_s'][0]:.3f}, plan {layers['plan.wall_s'][0]:.3f}, "
              f"exec {layers['exec.wall_s'][0]:.3f}")
        chk = record["attribution_check"]
        print("  per-query sums equal run totals: " + ", ".join(
            f"{k}={'yes' if all(c[k]['exact'] for c in chk) else 'NO'}" for k in chk[0]))
    for n, why in sorted(failures.items()):
        print(f"  FAILED {n}: {why}")
    print(f"  result file {res_path}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
