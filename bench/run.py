#!/usr/bin/env python3
"""graft benchmark: two closed-loop workloads, one driver thread.

Usage:
  python3 bench/run.py --workload {headline,lake} --seed N
                       --seconds S --trace {0,1} [--sf SCALE]
                       [--record]

Builds graft from source (bench/build.py), runs one JVM per run
(bench/src/graftbench/Driver.scala) and prints, as its last line, one
JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. See bench/README.md for what each number means.
"""
import argparse
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# Query lists are fixed; the seed only permutes the order, which every
# pass of a run then follows.
# A run is one cold pass and three warm passes in the same session (see
# plan_passes); the run length is the same on every commit.
WORKLOADS = {
    "headline": [
        "daily_revenue", "p01_cast_projection", "v01_rule_annotate",
        "e2e_curated", "a04_extended_metrics", "j04_semi_exists",
        "w01_latest_per_key", "scd2_merge", "ta_quality_scores", "ann_topk",
        "ta_rolling_hash", "ev_window_agg", "ev_sessions", "ev_asof_join"],
    "lake": [
        "scd2_stream_merge", "corpus_file_skipping", "corpus_jsonl_roundtrip",
        "delta_audit_history", "wf_gate_roundtrip"],
}

SF = "0.01"
REFERENCE = os.path.join(HERE, "reference.json")
SETUPS = 5            # session set-ups per run; setup_s is their median,
                      # which is always one of the in-JVM restarts
WARM_PASSES = 3       # after the cold pass; the first still warms up the
                      # JIT, warm_s is the median of the others
QUERY_TIMEOUT_S = 60  # one query execution
PASS_BUDGET = 3       # timed passes may run this many times --seconds
DEADLINE_S = 150      # whole JVM; later queries count as failed
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def with_units(values, kind):
    """The metrics BENCHMARK.json lists under `kind`, in its order and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(1)


def testdata(sf):
    """The read-only input dir of scale `sf`, as TESTDATA.md lists it."""
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(path):
        fail(f"no {path}: run from a graft checkout")
    with open(path) as f:
        m = re.search(rf"^\|\s*{re.escape(sf)}\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m or not os.path.isdir(m.group(1)):
        fail(f"TESTDATA.md lists no existing input dir for sf {sf}")
    return os.path.normpath(m.group(1))


def disk_bytes(*dirs):
    """Bytes under `dirs`, directory entries included (`du -b` semantics)."""
    total = 0
    for d in dirs:
        for dirpath, dirnames, files in os.walk(d):
            for p in [dirpath] + [os.path.join(dirpath, f) for f in files]:
                try:
                    total += os.lstat(p).st_size
                except FileNotFoundError:
                    pass
    return total


def plan_passes(workload, seed, trace):
    """One line per pass: T/U (traced or not) and the seeded query order.
    Every pass uses the same order, so a warm pass meets the codegen cache
    in the state its cold pass left, whatever the seed.
    A traced run traces its cold pass and the middle one of the three warm
    passes; the untraced warm passes on either side of it give the
    tracing overhead without a bias from JIT warm-up across passes."""
    order = list(WORKLOADS[workload])
    random.Random(f"{workload}/{seed}").shuffle(order)
    modes = ["T", "U", "T", "U"] if trace else ["U"] * (1 + WARM_PASSES)
    return [mode + " " + ",".join(order) for mode in modes]


def run_jvm(classpath, data, plan, run_dir, cpus, seconds):
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "out")}
    for d in dirs.values():
        os.makedirs(d)
    plan_file = os.path.join(dirs["out"], "plan.txt")
    with open(plan_file, "w") as f:
        f.write("\n".join(plan) + "\n")
    result = os.path.join(dirs["out"], "result.json")
    spans = os.path.join(dirs["out"], "spans.json")
    log = os.path.join(dirs["out"], "driver.log")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    launch_ms = int(time.time() * 1000)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + opens
           + [f"-Djava.io.tmpdir={dirs['tmp']}", f"-Dspark.local.dir={dirs['local']}",
              f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
              f"-Dderby.system.home={dirs['warehouse']}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", ":".join(classpath), "graftbench.Driver",
              data, plan_file, result, spans, str(cpus), str(launch_ms), str(SETUPS),
              str(QUERY_TIMEOUT_S), str(PASS_BUDGET * seconds), str(DEADLINE_S)])
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=dirs["tmp"])
        try:
            proc.wait(timeout=DEADLINE_S + 20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    disk = disk_bytes(dirs["tmp"], dirs["local"], dirs["warehouse"])
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"driver exited with {proc.returncode}:\n{tail}")
    with open(result) as f:
        out = json.load(f)
    out["disk_left_mb"] = disk / 1e6
    if os.path.exists(spans):
        out["spans_file"] = spans
    return out


def end_to_end(out, failed, attempted):
    walls = [p["wall_s"] for p in out["passes"]]
    return with_units({
        "setup_s": statistics.median(out["setup_s"]),
        "cold_s": walls[0],
        "warm_s": statistics.median(walls[2:]),  # skips the first warm pass
        "ok_frac": 1 - failed / attempted,
        "metaspace_mb": out["metaspace_mb"],
        "live_heap_mb": out["live_heap_mb"],
        "disk_left_mb": out["disk_left_mb"],
    }, "end_to_end")


def pass_layers(p, cpus):
    """Per-layer sums over one traced pass."""
    s = {}
    phases = [(q, ph, c) for q in p["queries"] for ph, c in q.get("phases", {}).items()]

    def total(key, phase=None):
        return sum(c["counters"][key] for _, ph, c in phases if phase in (None, ph))

    def secs(phase):
        return sum(c["s"] for _, ph, c in phases if ph == phase)

    def plan_ms(k):
        return sum(q.get("plan_ms", {}).get(k, 0) for q in p["queries"])

    task_s = total("task_s")
    read_mb, write_mb = total("read_mb"), total("write_mb")
    s.update({
        "sources.read_mb": read_mb, "sources.read_rows": total("read_rows"),
        "build.s": secs("build"), "build.jobs": total("jobs", "build"),
        "plan.s": secs("plan"), "plan.analysis_ms": plan_ms("analysis"),
        "plan.optimization_ms": plan_ms("optimization"),
        "plan.planning_ms": plan_ms("planning"),
        "codegen.compiles": total("compiles"), "codegen.compile_s": total("compile_s"),
        "exec.s": secs("exec"), "exec.task_s": task_s, "exec.cpu_s": total("cpu_s"),
        "exec.util": task_s / (p["wall_s"] * cpus),
        "exec.idle_s": sum(q.get("idle_s", 0) for q in p["queries"]),
        "exec.jobs": total("jobs", "exec"), "exec.stages": total("stages"),
        "exec.tasks": total("tasks"), "exec.gc_s": total("gc_s"),
        "exec.task_failures": total("task_failures"),
        "shuffle.write_mb": total("shuffle_write_mb"),
        "shuffle.read_mb": total("shuffle_read_mb"),
        "shuffle.fetch_wait_s": total("fetch_wait_s"), "shuffle.spill_mb": total("spill_mb"),
        "sink.write_mb": write_mb, "sink.write_rows": total("write_rows"),
        "sink.write_amp": write_mb / read_mb if read_mb else 0.0,
        "stream.batches": total("batches"), "stream.batch_s": total("batch_s"),
        "stream.state_rows": total("state_rows"),
    })
    # self time: each phase minus the codegen compiles inside it
    s["_self"] = {ph: max(0.0, secs(ph) - total("compile_s", ph))
                  for ph in ("build", "plan", "exec")}
    s["_self"]["codegen"] = total("compile_s")
    s["_self"]["driver"] = max(0.0, p["wall_s"] - sum(q["wall_s"] for q in p["queries"]))
    return s


def per_layer(out, cpus):
    passes = out["passes"]
    cold = pass_layers(passes[0], cpus)
    warm_traced = [pass_layers(p, cpus) for p in passes[1:] if p["traced"]] or [cold]
    m = {k: statistics.median(w[k] for w in warm_traced)
         for k in warm_traced[0] if not k.startswith("_")}
    # the same quantity as setup_s; the launch sample alone, which also
    # holds JVM start and class loading, is session.launch_s
    m["session.start_s"] = statistics.median(out["setup_s"])
    m["session.launch_s"] = out["setup_s"][0]
    m["codegen.cold_compiles"] = cold["codegen.compiles"]
    m["codegen.cold_compile_s"] = cold["codegen.compile_s"]
    m["codegen.recompile_ratio"] = (m["codegen.compiles"] / cold["codegen.compiles"]
                                    if cold["codegen.compiles"] else 0.0)
    traced = [p["wall_s"] for p in passes[1:] if p["traced"]]
    untraced = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    m["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced)
                             if traced and untraced else 0.0)
    selfs = {k: statistics.median(w["_self"][k] for w in warm_traced)
             for k in warm_traced[0]["_self"]}
    return with_units(m, "per_layer"), selfs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", default=SF, help="input scale, a row of TESTDATA.md")
    ap.add_argument("--record", action="store_true",
                    help="store this run's answer fingerprints as the reference")
    a = ap.parse_args()
    data = testdata(a.sf)
    started = time.time()

    classpath = build.build()
    cpus = len(os.sched_getaffinity(0))
    plan = plan_passes(a.workload, a.seed, a.trace == 1)
    run_dir = os.path.join(build.out_base(), "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    keep = None
    try:
        out = run_jvm(classpath, data, plan, run_dir, cpus, a.seconds)
        spans = out.get("spans_file")
        if spans:
            keep = os.path.join(build.out_base(), "traces",
                                f"{a.workload}-seed{a.seed}.spans.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(spans, keep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # answer check: every timed execution that erred, plus every
    # fingerprint that differs from the reference
    sf = f"sf{a.sf}"
    ref_all = {}
    if os.path.exists(REFERENCE):
        with open(REFERENCE) as f:
            ref_all = json.load(f)
    if a.record:
        ref_all.setdefault(sf, {}).update(
            {q: fp for q, fp in out["check"].items() if not fp.startswith("ERROR")})
        with open(REFERENCE, "w") as f:
            json.dump(ref_all, f, indent=1, sort_keys=True)
            f.write("\n")
    ref = ref_all.get(sf, {})
    execs = [q for p in out["passes"] for q in p["queries"]]
    problems = [f"{q['name']}: {q['error']}" for q in execs if q["error"]]
    for q, fp in sorted(out["check"].items()):
        if ref.get(q) != fp:
            problems.append(f"{q}: fingerprint {fp} != reference {ref.get(q)}")
    attempted = len(execs) + len(out["check"])
    failed = len(problems)
    for p in problems:
        print(f"[bench] FAILED {p}", file=sys.stderr)

    walls = [p["wall_s"] for p in out["passes"]]
    print(f"[bench] workload={a.workload} seed={a.seed} data={data} cpus={cpus} "
          f"passes={len(plan)} trace={a.trace} wall={time.time() - started:.1f}s")
    for line in plan:
        print(f"[bench] order {line}")
    print("[bench] pass_s " + " ".join(f"{x:.3f}" for x in walls)
          + f"; setup_s {' '.join(f'{x:.3f}' for x in out['setup_s'])}; check_s {out['check_s']:.3f}")
    for name in WORKLOADS[a.workload]:
        t = [q["wall_s"] for p in out["passes"] for q in p["queries"] if q["name"] == name]
        print(f"[bench] query_s {name} cold={t[0]:.3f} warm={statistics.median(t[1:]):.3f}")
    if a.trace:
        metrics, selfs = per_layer(out, cpus)
        top = max(selfs, key=selfs.get)
        total = sum(selfs.values())
        print("[bench] warm self time by layer: "
              + ", ".join(f"{k}={v:.3f}s ({v / total:.0%})"
                          for k, v in sorted(selfs.items(), key=lambda x: -x[1])))
        print(f"[bench] top self-time layer: {top}; tracing overhead "
              f"{metrics['trace.overhead_s']['value']:+.3f}s per warm pass; spans in {keep}")
    else:
        metrics = end_to_end(out, failed, attempted)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
