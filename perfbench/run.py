#!/usr/bin/env python3
"""Run one workload of the graft benchmark and report its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from anywhere inside a checkout of the repository. The first run builds
the engine from the checkout's own sources together with the harness in
perfbench/ (sbt, offline) into .bench_build/; later runs reuse that build
until a source file changes. Each run starts one JVM at local[nproc],
measures for --seconds, checks every pass's output and prints one line per
metric, then, as the last line, a JSON object with `correct`, `attempted`,
`failed` and the metrics BENCHMARK.json lists for the mode (end_to_end with
--trace 0, per_layer with --trace 1).
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import benchstats as bs  # noqa: E402

WORKLOADS = ("crawl_extract", "neardup_curate")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources at src/main/scala/graft: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # keep sbt's scratch files inside the checkout
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
           "-Djava.io.tmpdir=" + sbt_tmp, "-Djna.tmpdir=" + sbt_tmp, "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail("build failed, see " + log, 3)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not lines:
        fail("build printed no classpath, see " + log, 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- host noise

def host_sample():
    """Load average and the machine-wide CPU tick counters."""
    s = {"t": time.time()}
    try:
        with open("/proc/loadavg") as f:
            s["load1"] = float(f.read().split()[0])
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal
        s["busy"] = sum(ticks[:3]) + sum(ticks[5:7])
        s["steal"] = ticks[7] if len(ticks) > 7 else 0
        s["total"] = sum(ticks[:8])
    except (OSError, ValueError, IndexError):
        pass
    return s


def host_noise(before, after, child_cpu_s, nproc):
    hz = os.sysconf("SC_CLK_TCK")
    wall = after["t"] - before["t"]
    rec = {"nproc": nproc, "load1_before": before.get("load1"), "load1_after": after.get("load1"),
           "wall_s": round(wall, 3), "process_cpu_s": round(child_cpu_s, 3)}
    if "total" in before and "total" in after and after["total"] > before["total"]:
        dt = after["total"] - before["total"]
        rec["steal_share"] = round((after["steal"] - before["steal"]) / dt, 4)
        machine_busy_s = (after["busy"] - before["busy"]) / hz
        # CPU the machine spent on work other than this run, as a share of all cores
        rec["outside_busy_share"] = round(max(0.0, machine_busy_s - child_cpu_s) / (wall * nproc), 4)
    rec["contention_suspected"] = bool(
        rec.get("steal_share", 0) > 0.05 or rec.get("outside_busy_share", 0) > 0.25)
    return rec


# ---------------------------------------------------------------- metrics

def compute(raw):
    """Every metric this run can report: {name: (value, unit)}."""
    passes = raw["passes"]
    # a pass that failed its check still ran; one that threw has no timing
    ran = [p for p in passes if p["wall_s"] > 0 and p["rows"] > 0]
    m = {}
    su = raw["setup"]
    m["setup_s"] = (su["session_s"] + bs.median(su["corpus_s"]) + su["warm_s"], "s")
    if ran:
        # rates over all timed passes together: rows per second of timed wall
        # time, CPU seconds per thousand rows
        rows = sum(p["rows"] for p in ran)
        m["pages_per_s"] = (rows / sum(p["wall_s"] for p in ran), "1/s")
        m["cpu_s_per_kpage"] = (sum(p["cpu_s"] for p in ran) / rows * 1000, "s")
    m["peak_heap_mb"] = (raw["notes"]["peak_heap_mb"], "MB")
    m["error_rate"] = (sum(1 for p in passes if p["error"] is not None) / max(1, len(passes)), "ratio")
    smp = raw["samples"]
    if "resume_s" in smp:
        m["resume_s"] = (bs.median(smp["resume_s"]), "s")
    if "asof_probes_per_s" in smp:
        m["asof_probes_per_s"] = (bs.median(smp["asof_probes_per_s"]), "1/s")
    if "batch_ms" in smp:
        m["batch_ms_p50"] = (bs.median(smp["batch_ms"]), "ms")
        m["batch_ms_p90"] = (bs.percentile(smp["batch_ms"], 0.9), "ms")
    return m


LAYER_UNITS = {
    "core.gbd_hash.ns_per_byte": "ns/B", "core.cnf_features.ns_per_byte": "ns/B",
    "core.shingles.ns_per_byte": "ns/B", "core.minhash_from_shingles.ns_per_doc": "ns",
    "functions.cnf_extract.s": "s", "functions.overhead_ratio": "ratio",
    "temporal.window_stage.s": "s", "temporal.asof.s": "s", "temporal.leakage_audit.s": "s",
    "temporal.task_skew": "ratio",
    "ops.neardup.s": "s", "ops.candidate_pairs.s": "s", "ops.clusters.s": "s",
    "ops.clusters.spark_jobs": "count", "ops.candidate_pairs": "count", "ops.verified_pairs": "count",
    "ops.verify_yield": "ratio",
    "runtime.run.s": "s", "runtime.write_overhead_s": "s", "runtime.manifest_commit.ms": "ms",
    "runtime.resume.s": "s", "runtime.resume_waste": "ratio",
    "sources.scan.s": "s", "sources.scan_mb": "MB",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
}
# per-pass span medians that are layer metrics
SPAN_METRICS = ("temporal.window_stage", "temporal.asof", "temporal.leakage_audit",
                "ops.neardup", "runtime.run", "runtime.resume")


def compute_layers(raw, e2e):
    """Per-layer metrics of a traced run; a layer the workload does not run
    reports 0."""
    m = {name: (0.0, unit) for name, unit in LAYER_UNITS.items()}
    for k, v in raw["layer"].items():
        if k in LAYER_UNITS:
            m[k] = (v, LAYER_UNITS[k])
    spans = raw["spans"]
    for name in SPAN_METRICS:
        per_trace = {}
        for s in spans:
            if s["name"] == name:
                per_trace[s["trace"]] = per_trace.get(s["trace"], 0) + (s["end_ns"] - s["start_ns"]) / 1e9
        if per_trace:
            m[name + ".s"] = (bs.median(list(per_trace.values())), "s")
    smp = raw["samples"]
    if "runtime.resume_waste" in smp:
        m["runtime.resume_waste"] = (bs.median(smp["runtime.resume_waste"]), "ratio")
    lay = raw["layer"]
    core_ns = lay.get("core.gbd_hash.ns_per_byte", 0) + lay.get("core.cnf_features.ns_per_byte", 0)
    if "functions.cnf_extract.cpu_s" in lay and core_ns > 0:
        kernel_s = core_ns * lay["functions.cnf_extract.text_mb"] * 1e6 / 1e9
        m["functions.overhead_ratio"] = (lay["functions.cnf_extract.cpu_s"] / kernel_s, "ratio")
    # Spark counters per layer: median over the measured passes that ran the layer
    keys = ("cpu_ns", "gc_ms", "shuffle_write_bytes", "spill_bytes", "tasks")
    for layer in bs.LAYERS:
        per_pass = []
        for counters in raw["pass_counters"]:
            tot = dict.fromkeys(keys, 0)
            for group, c in counters.items():
                if bs.layer_of(group) == layer:
                    for k in keys:
                        tot[k] += c[k]
            if tot["tasks"] > 0:
                per_pass.append(tot)
        med = {k: bs.median([t[k] for t in per_pass]) if per_pass else 0 for k in keys}
        m[layer + ".cpu_s"] = (med["cpu_ns"] / 1e9, "s")
        m[layer + ".gc_s"] = (med["gc_ms"] / 1e3, "s")
        m[layer + ".shuffle_write_mb"] = (med["shuffle_write_bytes"] / 1e6, "MB")
        m[layer + ".spill_mb"] = (med["spill_bytes"] / 1e6, "MB")
        m[layer + ".tasks"] = (med["tasks"], "count")
    # span self time per layer and coverage of each timed pass
    traces = bs.self_times(spans)
    for layer in bs.LAYERS:
        shares = [t["self"].get(layer, 0.0) / t["root_s"] for t in traces.values() if t["root_s"]]
        m[layer + ".self_share"] = (bs.median(shares) if shares else 0.0, "ratio")
    cov = [t["coverage"] for t in traces.values()]
    m["trace.span_coverage"] = (min(cov) if cov else 0.0, "ratio")
    # end-to-end figures of this traced run; a step the workload lacks reads 0
    for k, unit in (("resume_s", "s"), ("asof_probes_per_s", "1/s"), ("batch_ms_p50", "ms"),
                    ("batch_ms_p90", "ms"), ("error_rate", "ratio")):
        m[k] = e2e.get(k, (0.0, unit))
    if "pages_per_s" in e2e:
        m["trace.pages_per_s"] = e2e["pages_per_s"]
    return m


def final_object(passes, metrics, wanted):
    """The last output line: the declared metrics only, with the pass count
    and how many passes failed (threw or failed their output check)."""
    failed = sum(1 for p in passes if p["error"] is not None)
    out = {}
    for w in wanted:
        if w["name"] not in metrics:
            raise KeyError("metric %s was not measured" % w["name"])
        v, unit = metrics[w["name"]]
        if unit != w["unit"]:
            raise KeyError("metric %s measured in %s, declared in %s" % (w["name"], unit, w["unit"]))
        out[w["name"]] = {"value": v, "unit": unit}
    return {"correct": failed == 0 and len(passes) > 0, "attempted": len(passes), "failed": failed,
            "metrics": out}


def declared():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    nproc = os.cpu_count()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    spec = None if a.selftest else declared()
    cp = build()

    # per-process paths: two runs in one checkout must not share state
    tag = str(os.getpid())
    work = os.path.join(BUILD, "work-" + tag)
    tmp = os.path.join(BUILD, "tmp-" + tag)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(BUILD, "result-%s.json" % tag)
    jvm = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"])
    if a.selftest:
        r = subprocess.run(jvm + ["--selftest", "--work", work], cwd=ROOT, timeout=JVM_TIMEOUT_S)
        for d in (work, tmp):
            shutil.rmtree(d, ignore_errors=True)
        sys.exit(r.returncode)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out]
    log_path = os.path.join(BUILD, "run-%s.log" % tag)
    before = host_sample()
    # children already waited for (the build) are not part of this run
    child0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm + args, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            for d in (work, tmp):
                shutil.rmtree(d, ignore_errors=True)
            fail("run exceeded %d s, see %s" % (JVM_TIMEOUT_S, log_path), 4)
    child = resource.getrusage(resource.RUSAGE_CHILDREN)
    after = host_sample()
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("run failed (exit %d), see %s" % (proc.returncode, log_path), 5)
    with open(out) as f:
        raw = json.load(f)
    os.remove(out)
    os.remove(log_path)

    child_cpu_s = (child.ru_utime - child0.ru_utime) + (child.ru_stime - child0.ru_stime)
    noise = host_noise(before, after, child_cpu_s, nproc)
    noise["jvm_args"] = raw["notes"].get("jvm_args")
    e2e = compute(raw)
    metrics = compute_layers(raw, e2e) if a.trace else e2e
    passes = raw["passes"]
    failed = sum(1 for p in passes if p["error"] is not None)

    # human-readable report: every metric by name and unit, then the host record
    print("workload %s seed %d trace %d: %d passes, %d failed" %
          (a.workload, a.seed, a.trace, len(passes), failed))
    for p in passes:
        if p["error"]:
            print("  failed pass: " + p["error"])
    for name in sorted(metrics):
        v, unit = metrics[name]
        print("  %-40s %14.6g %s" % (name, v, unit))
    pps = [p["rows"] / p["wall_s"] for p in passes if p["wall_s"] > 0 and p["rows"] > 0]
    if pps:
        print("  pages_per_s over passes: %s" % json.dumps(bs.summary(pps)))
    for k, xs in raw["samples"].items():
        print("  samples %-30s %s" % (k, json.dumps(bs.summary(xs))))
    print("  setup: %s" % json.dumps(raw["setup"]))
    print("  live heap after the passes: %.3f MB" % raw["notes"]["live_heap_mb"])
    print("  host: %s" % json.dumps(noise))
    if noise["contention_suspected"]:
        print("  WARNING: outside contention suspected during this run")

    try:
        final = final_object(passes, metrics, spec["per_layer" if a.trace else "end_to_end"])
    except KeyError as e:
        fail(str(e), 6)
    print(json.dumps(final))


if __name__ == "__main__":
    main()
