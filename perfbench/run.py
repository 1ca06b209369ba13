#!/usr/bin/env python3
"""Per-change benchmark of the graft engine.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload battery_sf01 --seed 1 --seconds 16 --trace 0

Builds the engine and the harness from source (once per source state),
generates the workload's inputs from the seed, runs the harness JVM on
local[nproc], checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

WORKLOADS = {
    # fixed-cost regime: single-file sf0.1 tables, one scan task per table
    "battery_sf01": dict(
        kind="batch", scale=0.1,
        rows=["q01_pricing_summary", "q05_topk_orders", "q13_mean_combine",
              "q17_fixed_windows", "d39_topk_per_key", "d61_tfidf",
              "d115_avro_roundtrip"]),
    # standing stream: two queries over one parquet file source
    "standing_stream": dict(
        kind="stream", tail=95, rows_per_file=200, period_ms=50.0,
        warm_bursts=4, files_warm=10, files2=240, max_files=30, window_ms=10_000,
        delay="5 seconds", late_share=0.1, late_ms=3000, file_span_ms=1000,
        n_keys=2000),
}

E2E = [("setup_s", "s"), ("pass_s", "s"), ("latency_ms", "ms"),
       ("latency_tail_ms", "ms"), ("peak_rss_mb", "MB")]

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

PROGRAM_FILES = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/compare_oracle.py"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_proc(cmd, cwd, timeout, stdout, env=None):
    """Run a child in its own process group; kill the group on timeout and
    always wait for it, so nothing outlives the benchmark."""
    with open(stdout, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    for pat in pats:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt (offline) unless this source state
    was already built; returns (runtime classpath, whether it built)."""
    bdir = os.path.join(HERE, ".build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    logf = os.path.join(bdir, "build.log")
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], HERE, deadline - time.time(), logf, env)
    if rc != 0:
        die(f"build failed (exit {rc}); see {logf}")
    with open(logf) as f:
        cps = [l.strip() for l in f if l.strip().startswith(HERE) and ".jar" in l]
    if not cps:
        die(f"build printed no classpath; see {logf}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1], True


# ----------------------------------------------------------------- JVM

def run_jvm(cp, work, out, kv, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap keeps the resident-set high-water mark from
    # following the collector's heap sizing; what moves it is memory
    # outside the heap (metaspace, code, threads, native buffers)
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", f"out={out}", f"local_dir={tmp}"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    logf = os.path.join(out, "jvm.log")
    rc = run_proc(cmd, work, deadline - time.time(), logf)
    if rc != 0:
        with open(logf) as f:
            tail = f.readlines()[-15:]
        sys.stderr.write("".join(tail))
        die(f"harness JVM exited with {rc}; see {logf}", 3)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def setup_seconds(meta):
    """Process start to first timed operation. The harness starts a cold
    session, then repeats the (warm) session bring-up; the repeats count
    once, at their median."""
    s = next(m for m in meta if m["kind"] == "setup")
    t = next(m for m in meta if m["kind"] == "timed")
    b = s["bringup_ms"]
    return (t["t0"] - s["jvm_start_ms"] - sum(b) + stats.median(b)) / 1000.0


# --------------------------------------------------------------- batch

def batch_metrics(timed, passes, meta):
    """End-to-end metrics of a batch run from its timed executions."""
    walls = [e["t1"] - e["t0"] for e in timed if e["ok"]]
    per_row = {}
    for e in timed:
        if e["ok"]:
            per_row.setdefault(e["row"], []).append(e["t1"] - e["t0"])
    # a mixed battery: typical latency is the geometric mean of the rows'
    # medians; a run has too few executions for a stable tail percentile,
    # so the tail is the geometric mean over the slowest third of rows
    # (rounded up)
    medians = sorted(stats.median(w) for w in per_row.values())
    slow = medians[-math.ceil(len(medians) / 3):]
    timed_meta = next(m for m in meta if m["kind"] == "timed")
    e2e = {
        "setup_s": setup_seconds(meta),
        "pass_s": stats.median([(p["t1"] - p["t0"]) / 1000.0 for p in passes]),
        "latency_ms": stats.geomean(medians),
        "latency_tail_ms": stats.geomean(slow),
        "peak_rss_mb": timed_meta["peak_rss_mb"],
    }
    info = dict(passes=len(passes), executions=len(walls), tail_rows=len(slow),
                p50_ms=stats.median(walls))
    p_rule = stats.tail_percentile(len(walls))
    if p_rule:
        info[f"p{p_rule}_ms"] = stats.percentile(walls, p_rule)
    return e2e, info


def run_batch(cfg, a, cp, work, out, deadline):
    data = os.path.join(work, "data")
    t0 = time.time()
    gen.write_corpus(data, a.seed, cfg["scale"])
    t1 = time.time()
    run_jvm(cp, work, out, dict(mode="batch", data=data, rows=",".join(cfg["rows"]),
                                seed=a.seed, seconds=a.seconds, trace=a.trace,
                                cpus=a.cpus), deadline)
    t2 = time.time()
    meta = read_jsonl(os.path.join(out, "meta.jsonl"))
    recs = read_jsonl(os.path.join(out, "execs.jsonl"))
    execs = [r for r in recs if r["kind"] == "exec"]
    passes = [r for r in recs if r["kind"] == "pass" and r["pass"] > 0]
    timed = [e for e in execs if e["pass"] > 0]
    failed_rows = {e["row"] for e in execs if not e["ok"]}
    # oracle compare of the post-run dump, by the repository's own tool
    dump = os.path.join(out, "dump")
    cmp_log = os.path.join(out, "oracle.log")
    run_proc([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"), data, dump]
             + cfg["rows"], ROOT, deadline - time.time(), cmp_log)
    with open(cmp_log) as f:
        verdict = {l.split()[1].rstrip(":"): l.split()[0] for l in f
                   if l.startswith(("ok ", "FAIL "))}
    bad = sorted(r for r in cfg["rows"] if verdict.get(r) != "ok")
    shutil.rmtree(dump, ignore_errors=True)
    a.phases = dict(gen_s=t1 - t0, jvm_s=t2 - t1, check_s=time.time() - t2)
    for r in bad:
        log(f"{r}: output does not match the oracle (see {cmp_log})")
    for r in sorted(failed_rows):
        log(f"{r}: threw during the run (see {out}/jvm.log)")
    attempted = len(execs) + len(cfg["rows"])
    failed = sum(1 for e in execs if not e["ok"]) + len(bad)
    if not any(e["ok"] for e in timed):
        die("every timed execution failed; see " + os.path.join(out, "jvm.log"), 3)
    e2e, info = batch_metrics(timed, passes, meta)
    per_layer, spans = None, None
    if a.trace:
        per_layer, spans = layers.batch_layers(
            execs, passes, read_jsonl(os.path.join(out, "trace.jsonl")), meta, a.cpus, a.run_id)
    return e2e, per_layer, spans, attempted, failed, info, recs


# -------------------------------------------------------------- stream

def run_stream(cfg, a, cp, work, out, deadline):
    t0 = time.time()
    staged, src = os.path.join(work, "staged"), os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    # enough steady files for p{tail} with 10 samples beyond it
    files1 = max(int(1000 / (100 - cfg["tail"])) + 20,
                 int(a.seconds * 1000 * 0.5 / cfg["period_ms"]))
    files_warm = cfg["warm_bursts"] * cfg["files_warm"]
    n_files = files_warm + files1 + cfg["files2"]
    gen.write_stream(staged, a.seed, n_files, cfg["rows_per_file"], cfg["n_keys"],
                     cfg["late_share"], cfg["late_ms"], cfg["file_span_ms"])
    t1 = time.time()
    run_jvm(cp, work, out, dict(
        mode="stream", src=src, staged=staged, work=work, seed=a.seed, seconds=a.seconds,
        trace=a.trace, cpus=a.cpus, warm_bursts=cfg["warm_bursts"],
        files_warm=cfg["files_warm"], files1=files1,
        files2=cfg["files2"], period_ms=cfg["period_ms"], max_files=cfg["max_files"],
        window_ms=cfg["window_ms"], delay=cfg["delay"], rows_per_file=cfg["rows_per_file"]),
        deadline)
    t2 = time.time()
    meta = read_jsonl(os.path.join(out, "meta.jsonl"))
    recs = read_jsonl(os.path.join(out, "stream.jsonl"))
    s = layers.stream_view(recs, os.path.join(work, "ckpt"))
    failed_files = layers.check_stream(src, os.path.join(out, "sink"), cfg["window_ms"])
    shutil.rmtree(os.path.join(out, "sink"), ignore_errors=True)
    a.phases = dict(gen_s=t1 - t0, jvm_s=t2 - t1, check_s=time.time() - t2)
    failed_files |= {f["name"] for f in s["files"] if f["name"] not in s["committed"]}
    for name in sorted(failed_files):
        log(f"{name}: its events are missing or wrong in a sink")
    lat = s["latency_ms"]
    p_tail = cfg["tail"]
    if stats.tail_percentile(len(lat), candidates=(p_tail,)) != p_tail:
        die(f"only {len(lat)} latency samples: too few for p{p_tail}", 4)
    timed_meta = next(m for m in meta if m["kind"] == "timed_end")
    e2e = {
        "setup_s": setup_seconds(meta),
        "pass_s": s["drain_s"],
        "latency_ms": stats.median(lat),
        "latency_tail_ms": stats.percentile(lat, p_tail),
        "peak_rss_mb": timed_meta["peak_rss_mb"],
    }
    info = dict(files=len(s["files"]), latency_samples=len(lat), tail_percentile=p_tail,
                drain_rows_per_s=s["drain_rows_per_s"], batches=len(s["progress"]))
    per_layer, spans = None, None
    if a.trace:
        per_layer, spans = layers.stream_layers(
            s, read_jsonl(os.path.join(out, "trace.jsonl")), meta, a.cpus, a.run_id)
    attempted = len(s["files"])
    return e2e, per_layer, spans, attempted, len(failed_files), info, recs


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        die("no program to benchmark here: missing " + ", ".join(missing))
    a.cpus = cpu_count()
    a.run_id = f"{a.workload}-seed{a.seed}-cpu{a.cpus}-trace{a.trace}"
    cp, built = build(started + BUILD_LIMIT_S)
    deadline = (time.time() if built else started) + RUN_LIMIT_S
    cfg = WORKLOADS[a.workload]
    work = os.path.join(HERE, ".work", a.run_id)
    out = os.path.join(HERE, "results", a.workload, f"seed{a.seed}-cpu{a.cpus}-trace{a.trace}")
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    try:
        runner = run_batch if cfg["kind"] == "batch" else run_stream
        e2e, per_layer, spans, attempted, failed, info, recs = runner(cfg, a, cp, work, out, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = ({k: {"value": v, "unit": u} for k, v, u in per_layer} if a.trace else
               {k: {"value": e2e[k], "unit": u} for k, u in E2E})
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(dict(result, run_id=a.run_id, info=info, e2e=e2e, harness=a.phases,
                       records=recs), f)
    if spans:
        setup = next(m for m in read_jsonl(os.path.join(out, "meta.jsonl")) if m["kind"] == "setup")
        t1 = max(sp["t1"] for sp in spans)
        spans = [dict(run=a.run_id, id=a.run_id, parent=None, kind="run", name=a.run_id,
                      t0=setup["jvm_start_ms"], t1=t1),
                 dict(run=a.run_id, id="workload", parent=a.run_id, kind="workload",
                      name=a.workload, t0=min(sp["t0"] for sp in spans), t1=t1)] + spans
        with open(os.path.join(out, "spans.jsonl"), "w") as f:
            f.writelines(json.dumps(sp) + "\n" for sp in spans)
    fail_ratio = failed / attempted
    shown = " ".join(f"{k}={e2e[k]:.4g}{u}" for k, u in E2E)
    extra = " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                     for k, v in info.items())
    print(f"[perfbench] {a.run_id} {shown} fail_ratio={fail_ratio:.4g} {extra} "
          f"records={os.path.relpath(out, ROOT)}", flush=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
