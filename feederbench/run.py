"""Feeder benchmark: one workload, one seed, one run.

    python3 feederbench/run.py --workload feeder --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds graft and the
harness (feederbench/build.py); each run generates its inputs from the
seed (feederbench/gen.py), sets up a single JVM several times, runs
closed-loop batches for --seconds, checks the outputs against DuckDB
(feederbench/check.py), and prints the metrics. The last stdout line is
one JSON object: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("feeder", "registry_hot")
MIN_SETUPS = 3        # set-ups per run, the cold first one included; setup_s
MAX_SETUPS = 40       # is their median. Past the minimum, set-ups repeat
SETUP_SECONDS = 2     # until this long has gone into them
MIN_BATCHES = 2       # the timed loop runs at least this many batches
XMX = "2g"
DEADLINE_S = 170      # the whole run, build excluded
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
LAYER_COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
                  "shuffle_bytes", "spill_bytes")
COUNTER_LAYERS = ("sources.zipped", "sources.paged", "sources.jdbc", "operators.transforms",
                  "operators.dedup", "operators.repair", "queries")
QUERY_KEYS = ("q_hyperanf", "q_canonical_pick", "q_corpus_build", "q_gearys_c")


def psi():
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        return {k: float(v) for k, v in (x.split("=") for x in some[1:3] + some[3:4])}
    except OSError:
        return None


def tail_stat(times):
    """The highest percentile with at least 10 samples beyond it: the
    sample with exactly 10 samples above it, its percentile and the
    sample count. Below 21 samples that percentile would not exceed the
    median, so the maximum (p100) is reported instead."""
    n = len(times)
    s = sorted(times)
    if n > 20:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def median_by_batch(spans, batches, fn):
    vals = [fn([s for s in spans if s["batch"] == b]) for b in batches]
    vals = [v for v in vals if v is not None]
    return statistics.median(vals) if vals else 0.0


def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def layer_metrics(workload, manifest, result, spans):
    traced = [b for b in result["batches"] if b["traced"]]
    ids = [b["i"] for b in traced]
    m = {}

    def total(prefix, key):
        def f(bs):
            hit = [s for s in bs if s["name"] == prefix or s["name"].startswith(prefix + ".")]
            return sum(dur(s) if key == "time" else s[key] for s in hit) if hit else None
        return median_by_batch(spans, ids, f)

    def attr(name, key):
        def f(bs):
            hit = [s["attrs"][key] for s in bs if s["name"] == name and key in s["attrs"]]
            return sum(hit) if hit else None
        return median_by_batch(spans, ids, f)

    first = result["setups"][0]
    m["session.start_s"] = first["start_s"]
    m["session.warmup_s"] = first["warmup_s"]
    m["session.cold_setup_s"] = first["total_s"]
    feeder = workload == "feeder"
    m["sources.zipped.time_s"] = total("sources.zipped", "time")
    m["sources.zipped.archives"] = manifest["archives"] if feeder else 0
    m["sources.zipped.bytes"] = manifest["archive_bytes"] if feeder else 0
    m["sources.zipped.rows"] = attr("sources.zipped", "rows")
    m["sources.paged.time_s"] = total("sources.paged", "time")
    m["sources.paged.pages_planned"] = manifest["pages"] if feeder else 0
    m["sources.paged.pages"] = attr("sources.paged", "pages")
    m["sources.paged.bytes"] = manifest["page_bytes"] if feeder else 0
    m["sources.paged.rows"] = attr("sources.paged", "rows")
    m["sources.jdbc.lookup_s"] = total("sources.jdbc.lookup", "time")
    m["sources.jdbc.lookup_rows"] = attr("sources.jdbc.lookup", "rows")
    m["sources.jdbc.lookup_table_rows"] = manifest["recruits_rows"] if feeder else 0
    m["sources.jdbc.append_s"] = total("sources.jdbc.append", "time")
    m["sources.jdbc.append_rows"] = attr("sources.jdbc.append", "append_rows")
    m["sources.jdbc.merge_s"] = total("sources.jdbc.merge", "time")
    m["sources.jdbc.update_s"] = total("sources.jdbc.update", "time")
    m["sources.jdbc.upsert_rows"] = attr("sources.jdbc.update", "upsert_rows")
    m["operators.transforms.time_s"] = total("operators.transforms", "time")
    m["operators.transforms.rows_in"] = m["sources.zipped.rows"]
    m["operators.transforms.rows_out"] = attr("operators.transforms", "rows_out")
    m["operators.dedup.time_s"] = total("operators.dedup", "time")
    m["operators.dedup.rows_in"] = m["operators.transforms.rows_out"]
    m["operators.dedup.rows_new"] = attr("operators.dedup", "rows_new")
    m["operators.dedup.rows_skipped"] = attr("operators.dedup", "rows_skipped")
    m["operators.repair.time_s"] = total("operators.repair", "time")
    m["operators.repair.groups"] = attr("operators.repair", "groups")
    m["operators.repair.rows_changed"] = attr("operators.repair", "rows_changed")
    for k in QUERY_KEYS:
        m[f"queries.{k}.build_s"] = total(f"queries.{k}.build", "time")
        m[f"queries.{k}.action_s"] = total(f"queries.{k}.action", "time")
        m[f"queries.{k}.jobs_build"] = total(f"queries.{k}.build", "jobs")
        m[f"queries.{k}.jobs_action"] = total(f"queries.{k}.action", "jobs")
        m[f"queries.{k}.persisted_left"] = attr(f"queries.{k}.action", "persisted_left")
    for layer in COUNTER_LAYERS:
        for c in LAYER_COUNTERS:
            m[f"{layer}.{c}"] = total(layer, c)
    return m


def per_layer_units(name):
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-corruption", action="store_true",
                    help="corrupt one loaded row before the check (the check must fail)")
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        sys.stderr.write("feederbench: run from the graft repository root "
                         "(build.sbt and src/main/scala not found)\n")
        return 2
    import build
    import check
    import gen

    cp = build.ensure_built(root)
    t_start = time.monotonic()
    psi_start = psi()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_build", "feederbench")
    data = os.path.join(work, "data", f"{a.workload}-{a.seed}")
    manifest = gen.generate(a.workload, a.seed, data)
    out = os.path.join(work, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    conf = dict(manifest, **check.expectations(a.workload, data, manifest))
    conf.update(workload=a.workload, data=data, out=out, seconds=a.seconds,
                trace=a.trace, cores=nproc, min_setups=MIN_SETUPS, max_setups=MAX_SETUPS,
                setup_seconds=SETUP_SECONDS, min_batches=MIN_BATCHES,
                plant_corruption=int(a.plant_corruption))
    props = os.path.join(out, "run.properties")
    with open(props, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n".replace("\\", "\\\\"))
    # a fixed, pre-touched heap keeps VmHWM repeatable from run to run;
    # no perf-data file outside the checkout
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "feederbench.Main", props]
    log_path = os.path.join(out, "harness.log")
    # a SIGTERM to this script must not leave the JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"feederbench: harness exited with {code}\n")
        return 1
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(out, "spans.json")) as f:
        spans = json.load(f)
    checks = check.verify(a.workload, data, out, manifest)
    psi_end = psi()

    untraced = [b for b in result["batches"] if not b["traced"]]
    times = [b["s"] for b in untraced]
    ops = [(f"batch {b['i']}", b["ok"], "") for b in result["batches"]]
    ops += checks
    # probes of known program defects run every time but are not operations
    # of the workload: they are reported apart, so a fix shows as a change
    defects = {e["name"]: e["error"] for e in result["known_defects"]}
    attempted, failed = len(ops), sum(1 for _, ok, _ in ops if not ok)
    correct = all(ok for _, ok, _ in checks) and not result["batch_failures"]
    tail, tail_pct, n = tail_stat(times)
    e2e = {
        "setup_s": (statistics.median(s["total_s"] for s in result["setups"]), "s"),
        "batch_s_p50": (statistics.median(times), "s"),
        "batch_s_tail": (tail, "s"),
        "rows_per_s": (sum(b["rows"] for b in untraced if b["ok"]) / sum(times), "1/s"),
        "peak_rss_mb": (result["vm_hwm_kb"] / 1024.0, "MB"),
    }
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": nproc, "xmx": XMX, "psi_cpu_start": psi_start, "psi_cpu_end": psi_end,
        "setups_s": [s["total_s"] for s in result["setups"]],
        "phases_s": result["phases_s"],
        "batches": len(times), "batch_s_tail_percentile": round(tail_pct, 2),
        "failed_frac": failed / attempted, "attempted": attempted, "failed": failed,
        "failures": [f"{name}: {msg}" for name, ok, msg in ops if not ok]
        + result["batch_failures"],
        "checks": [f"{name}: {'ok' if ok else 'FAIL'} {msg}" for name, ok, msg in checks],
        "known_defects": defects,
    }
    for k, (v, unit) in e2e.items():
        print(f"{k} = {v:.6g} {unit}")
    print(f"batch_s_tail is p{tail_pct:.1f} of {n} batches")
    print(f"failed_frac = {failed / attempted:.6g} ({failed} of {attempted} operations)")
    for name, err in defects.items():
        print(f"known defect {name}: " + (f"still fails: {err}" if err else "now passes"))
    if a.trace:
        layers = layer_metrics(a.workload, manifest, result, spans)
        layers["sources.jdbc.known_defect_failures"] = sum(1 for e in defects.values() if e)
        traced_times = [b["s"] for b in result["batches"] if b["traced"]]
        layers["trace.batch_s_p50"] = statistics.median(traced_times)
        layers["trace.untraced_batch_s_p50"] = e2e["batch_s_p50"][0]
        layers["trace.overhead_ratio"] = layers["trace.batch_s_p50"] / e2e["batch_s_p50"][0]
        metrics = {k: {"value": v, "unit": "ratio" if k.endswith("ratio") else per_layer_units(k)}
                   for k, v in layers.items()}
        print(f"tracing overhead: traced batch p50 {layers['trace.batch_s_p50']:.4f} s vs "
              f"untraced {e2e['batch_s_p50'][0]:.4f} s "
              f"(ratio {layers['trace.overhead_ratio']:.3f})")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print("run: " + json.dumps(summary, ensure_ascii=False))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
