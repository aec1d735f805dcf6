#!/usr/bin/env python3
"""Benchmark of the graft library: one workload per run, metrics as JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (offline), and generates the IMDB-shaped
fixtures of job_shuffle and the per-trigger files of stream_stateful;
later runs reuse both while the sources are unchanged. Everything the benchmark writes goes under
`.bench_build/` in the checkout.

One run is one JVM (`perfbench.Main`, local[nproc]) driven by a single
closed-loop client. It sets up several times, runs a warmup pass, then
timed passes for --seconds, and writes its raw samples. This script then
checks every output, reduces the samples to the metrics that
BENCHMARK.json names (end-to-end with --trace 0, per-layer with --trace 1)
and prints them as the last line of stdout.

The seed permutes the order of ops within each pass. The data does not
vary with it: the event and document tables are a fixed copy (seed 42) of
the sf0.01 fixtures under perfbench/data, and the IMDB generator uses
fixed per-column hash seeds.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build"
DATA_DIR = BENCH_DIR / "data" / "sf0.01"
RUN_LIMIT_S = 165  # the benchmark JVM's share of a run's 180 s, build excluded
BUILD_LIMIT_S = 800

WORKLOADS = ("job_shuffle", "stream_stateful")
# Spark 4 on JDK 17 outside spark-submit needs these (as the root build's
# forked runs do).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WARMUP = -1

# ---------------------------------------------------------------- statistics


def quantile(values, q):
    """Linear-interpolated quantile (numpy's default) of a non-empty list."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(values, p, min_beyond=10):
    """The p-th (integer) percentile, or None when fewer than `min_beyond`
    samples lie beyond it: a tail resting on a handful of points is noise."""
    if len(values) * (100 - p) < min_beyond * 100:
        return None
    return quantile(values, p / 100.0)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3

# ------------------------------------------------------------------- checks


def reference_fps(raw):
    """Expected fingerprint per op: the stream ops' registry drains (v08-v11),
    and the rule-off warmup result for job_shuffle, so that every rule-on
    result must equal rule-off."""
    if raw["workload"] == "stream_stateful":
        return {c["op"]: c["fp"] for c in raw["checks"] if c["kind"] == "drain"}
    return {e["op"]: e.get("fp") for e in raw["execs"]
            if e["pass"] == WARMUP and e["rule"] == "off"}


def account(raw):
    """(attempted, failed, reasons): every execution counts once; it fails
    if it threw or if its output differs from its op's reference."""
    ref = reference_fps(raw)
    failed, reasons = 0, []
    for e in raw["execs"]:
        why = None
        if not e["ok"]:
            why = e.get("err") or "threw"
        elif ref.get(e["op"]) is None:
            why = "no reference result"
        elif e.get("fp") != ref[e["op"]]:
            why = f"output {e.get('fp')} != reference {ref[e['op']]}"
        if why:
            failed += 1
            reasons.append(f"{e['op']} pass {e['pass']} rule {e['rule']}: {why}")
    return len(raw["execs"]), failed, reasons

# ------------------------------------------------------------------ metrics


def timed(raw):
    """Successful rule-on executions of the timed passes."""
    return [e for e in raw["execs"]
            if e["pass"] >= 0 and e["rule"] == "on" and e["ok"]]


def unit_samples(raw):
    """{op: latency samples}: one per query execution, or one per
    micro-batch trigger on the streaming workload."""
    out = {}
    for e in timed(raw):
        xs = [t["s"] for t in e["triggers"]] if "triggers" in e else [e["s"]]
        out.setdefault(e["op"], []).extend(xs)
    return out


def query_geo(raw):
    """Geomean over ops of each op's median latency: every op weighs the
    same, however many samples it has and however far apart ops lie."""
    return geomean([statistics.median(xs) for xs in unit_samples(raw).values()])


def pass_s(raw):
    return statistics.median(p["s"] for p in raw["passes"] if p["label"] == "on")


def speedup_geo(raw):
    """Geomean over ops of median(rule-off time) / median(rule-on time)."""
    on, off = {}, {}
    for e in raw["execs"]:
        if e["ok"] and e["pass"] >= 0:
            (on if e["rule"] == "on" else off).setdefault(e["op"], []).append(e["s"])
    ratios = [statistics.median(off[op]) / statistics.median(on[op])
              for op in on if op in off]
    return geomean(ratios) if ratios else None


END_TO_END = {
    "setup_s": ("s", lambda r: statistics.median(x["s"] for x in r["setups"])
                + r["warmup_s"]),
    "pass_s": ("s", pass_s),
    "query_s.geo": ("s", query_geo),
    "heap_retained_mb": ("MB", lambda r: r["heap_retained_mb"]),
}

PER_LAYER_UNITS = {
    "session.build_ms": "ms", "queries.construct_ms": "ms",
    "plan.optimize_ms": "ms", "plan.physical_ms": "ms", "plan.jobs": "count",
    "plan.fs_read_ops": "count", "plan.fs_read_bytes": "bytes",
    "rpt.rule_ms": "ms", "rpt.rule_effective": "count", "rpt.graph_ms": "ms",
    "rpt.schedule_ms": "ms", "rpt.units": "count", "rpt.edges": "count",
    "rpt.scheduled_ops": "count", "rpt.off_pass_s": "s",
    "rpt.speedup_geo": "x",
    "build.count": "count", "build.reused": "count", "build.collect_ms": "ms",
    "build.bytes": "bytes",
    "probe.count": "count", "probe.rows_in": "rows", "probe.rows_out": "rows",
    "probe.keep": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_ms": "ms", "exec.task_gc_ms": "ms",
    "exec.collect_ms": "ms", "exec.result_rows": "rows",
    "scan.bytes_read": "bytes", "scan.rows_read": "rows",
    "shuffle.bytes_written": "bytes", "shuffle.records_written": "rows",
    "shuffle.fetch_wait_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.get_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.state_commit_ms": "ms", "stream.state_rows": "rows",
    "stream.state_bytes": "bytes", "stream.late_rows_dropped": "rows",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "span.exec_jobs_ms": "ms", "span.unattributed_ms": "ms",
    "trace.overhead_s": "s",
}


def layer_values(raw):
    """Every per-layer metric; a layer a workload does not exercise is 0."""
    vals = {k: 0.0 for k in PER_LAYER_UNITS}
    vals.update({k: v for k, v in raw["layers"].items() if k in vals})
    vals["session.build_ms"] = statistics.median(
        x["session_s"] for x in raw["setups"]) * 1e3
    vals["rpt.speedup_geo"] = speedup_geo(raw) or 0.0
    off = [p["s"] for p in raw["passes"] if p["label"] == "off"]
    vals["rpt.off_pass_s"] = statistics.median(off) if off else 0.0
    # against the last timed pass: the JIT is still warming over the first
    # passes, and the traced pass comes right after the last one
    last_on = [p["s"] for p in raw["passes"] if p["label"] == "on"][-1]
    vals["trace.overhead_s"] = raw["traced_pass_s"] - last_on
    return vals


def metrics(raw, bench):
    """{name: {value, unit}} for the metric group BENCHMARK.json names for
    this run's mode, in its order."""
    if raw["trace"]:
        group, vals = bench["per_layer"], layer_values(raw)
        units = PER_LAYER_UNITS
    else:
        group = bench["end_to_end"]
        vals = {k: f(raw) for k, (_, f) in END_TO_END.items()}
        units = {k: u for k, (u, _) in END_TO_END.items()}
    return {m["name"]: {"value": vals[m["name"]], "unit": units[m["name"]]}
            for m in group}


def check_declared(bench):
    """The names and units this script computes must be exactly the ones
    BENCHMARK.json declares."""
    for group, units in (("end_to_end", {k: u for k, (u, _) in END_TO_END.items()}),
                         ("per_layer", PER_LAYER_UNITS)):
        declared = {m["name"]: m["unit"] for m in bench[group]}
        if declared != units:
            raise SystemExit(f"BENCHMARK.json {group} does not match run.py: "
                                 f"{sorted(set(declared.items()) ^ set(units.items()))}")
    names = [w["name"] for w in bench["workloads"]]
    if sorted(names) != sorted(WORKLOADS):
        raise SystemExit(f"BENCHMARK.json workloads {names} != {WORKLOADS}")

# -------------------------------------------------------------------- build


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH_DIR / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def tool_env():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    return env


def run_logged(cmd, cwd, logfile, timeout):
    """Runs `cmd` in its own process group, output to `logfile`; kills the
    whole group on timeout. Returns the exit code, or None on timeout."""
    with open(logfile, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=tool_env(),
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def java_cmd(classpath, work, args):
    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) \
        or shutil.which("java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return [java, *opens, "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main", *args]


def build():
    """Classpath of the harness built against this checkout's sources, and
    the generated inputs dir; rebuilt only when a source file changed."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            raise SystemExit(f"not a graft checkout: {need} is missing")
    BUILD_DIR.mkdir(exist_ok=True)
    stamp = BUILD_DIR / "build.json"
    digest = source_hash()
    inputs = BUILD_DIR / "inputs"
    if stamp.is_file():
        s = json.loads(stamp.read_text())
        if s.get("hash") == digest:
            return s["classpath"], inputs
    sbt = shutil.which("sbt")
    if not sbt:
        raise SystemExit("sbt not found on PATH")
    log("building library and harness with sbt")
    t0 = time.time()
    blog = BUILD_DIR / "sbt.log"
    code = run_logged([sbt, "--batch", "-Dsbt.log.noformat=true",
                       "export Runtime/fullClasspath"], BENCH_DIR, blog, BUILD_LIMIT_S)
    lines = blog.read_text(errors="replace").splitlines() if blog.exists() else []
    cps = [ln for ln in lines if "perfbench" in ln and ":" in ln
           and not ln.startswith("[")]
    if code != 0 or not cps:
        raise SystemExit(f"sbt build failed (exit {code}); see {blog}")
    classpath = cps[-1].strip()
    log(f"built in {time.time() - t0:.0f} s; generating inputs")
    shutil.rmtree(inputs, ignore_errors=True)
    work = BUILD_DIR / "gen"
    shutil.rmtree(work, ignore_errors=True)
    code = run_logged(java_cmd(classpath, work, ["--generate", str(inputs),
                                                 "--data", str(DATA_DIR)]),
                      work, BUILD_DIR / "inputs.log", BUILD_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise SystemExit(f"input generation failed; see {BUILD_DIR / 'inputs.log'}")
    stamp.write_text(json.dumps({"hash": digest, "classpath": classpath}))
    return classpath, inputs

# --------------------------------------------------------------------- main


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except OSError:
        return 0, 0


def summary(raw, reasons, steal):
    """Human-readable lines ahead of the result: run metadata, quartiles and
    the tail percentile when it has enough samples."""
    meta = raw["meta"]
    log(f"{raw['workload']} seed={raw['seed']} nproc={meta['nproc']} "
        f"cal_cpu_ms={meta['cal_cpu_ms']:.1f} steal={steal:.1%} "
        f"loadavg before='{meta['loadavg_before']}' after='{meta['loadavg_after']}'")
    xs = [x for v in unit_samples(raw).values() for x in v]
    if xs:
        q1, q2, q3 = quartiles(xs)
        tail = [(p, tail_percentile(xs, p)) for p in (99, 95, 90, 75, 50)]
        tail = [f"p{p}={v:.4f} s" for p, v in tail if v is not None][:1]
        log(f"latency n={len(xs)} q1={q1:.4f} median={q2:.4f} q3={q3:.4f} s; "
            f"highest percentile with 10 samples beyond: {(tail or ['none'])[0]}")
    for r in reasons[:10]:
        log(f"FAILED {r}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()

    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        raise SystemExit(f"{bench_file} is missing")
    bench = json.loads(bench_file.read_text())
    check_declared(bench)
    if not (DATA_DIR / "events.parquet").is_file():
        raise SystemExit(f"fixture tables missing under {DATA_DIR}")
    classpath, inputs = build()

    work = BUILD_DIR / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "raw.json"
    cmd = java_cmd(classpath, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(DATA_DIR), "--inputs", str(inputs),
        "--work", str(work), "--out", str(out)])
    steal0, total0 = cpu_times()
    code = run_logged(cmd, work, work / "jvm.log", RUN_LIMIT_S)
    steal1, total1 = cpu_times()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    if code != 0 or not out.is_file():
        raise SystemExit(f"benchmark JVM {'timed out' if code is None else f'exited {code}'};"
                         f" see {work / 'jvm.log'}")
    raw = json.loads(out.read_text())

    attempted, failed, reasons = account(raw)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics(raw, bench)}
    if raw["trace"]:
        spans = BUILD_DIR / "spans" / f"{args.workload}-s{args.seed}.json"
        spans.parent.mkdir(exist_ok=True)
        spans.write_text(json.dumps({"spans": raw["spans"], "layers": raw["layers"]}))
        log(f"spans written to {spans}")
    summary(raw, reasons, steal)
    log(f"run wall {time.time() - started:.1f} s")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
