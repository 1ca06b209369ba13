"""Per-layer metrics and spans from the harness's raw records.

Batch: counts and times are per timed pass (mean over the traced passes),
row-group walls are medians over all timed passes. Stream: counts and
times are per steady-phase file, micro-batch phases are medians over data
batches. A metric that does not apply to a workload reads 0.
"""
import glob
import json
import os

import stats

ROW_GROUPS = {
    "plans.relational_s": ["q01_pricing_summary", "q02_filter_pushdown", "q03_join_revenue",
                           "q04_semi_join", "q05_topk_orders", "q06_distinct",
                           "q07_union_buckets", "q08_anti_join", "q09_window_rank",
                           "q10_rollup", "q11_nation_profile", "d39_topk_per_key"],
    "sources.roundtrip_s": ["d70_orc_roundtrip", "d82_csv_roundtrip", "d115_avro_roundtrip"],
    "api.beam_rows_s": ["q12_wordcount", "q13_mean_combine", "q14_side_input_dict",
                        "q15_tagged_outputs", "q16_cogroup", "q17_fixed_windows",
                        "q18_session_windows", "q19_sliding_windows", "q20_stateful_pardo"],
    "operators.graph_s": ["d169_pagerank", "d175_kcore", "d177_components", "d194_bfs"],
    "operators.dedup_s": ["d129_check_minhash_est", "d157_jaccard_join", "d163_cross_jaccard"],
    "operators.text_s": ["d61_tfidf", "d73_dup_ngrams"],
}

# every per-layer metric, in report order, with its unit
LAYER_METRICS = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plans.analysis_s", "s"), ("plans.optimizer_s", "s"), ("plans.planning_s", "s"),
    ("plans.graft_nodes", "count"), ("plans.object_nodes", "count"),
    ("plans.relational_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.task_launch_s", "s"), ("scheduler.driver_idle_s", "s"),
    ("scheduler.task_run_s", "s"), ("scheduler.task_cpu_s", "s"),
    ("scheduler.core_util", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_bytes", "bytes"),
    ("shuffle.reduce_skew", "ratio"),
    ("sources.scan_tasks", "count"), ("sources.input_rows", "count"),
    ("sources.input_bytes", "bytes"), ("sources.output_bytes", "bytes"),
    ("sources.roundtrip_s", "s"),
    ("api.beam_rows_s", "s"),
    ("operators.graph_s", "s"), ("operators.dedup_s", "s"), ("operators.text_s", "s"),
    ("streaming.batches", "count"), ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "bytes"), ("streaming.state_commit_ms", "ms"),
    ("streaming.rows_dropped_late", "count"), ("streaming.backlog_files", "count"),
    ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("gen.lag_ms_p50", "ms"), ("gen.lag_ms_max", "ms"),
    ("self.harness_s", "s"), ("self.queries_s", "s"), ("self.plans_s", "s"),
    ("self.execute_s", "s"), ("self.scheduler_s", "s"), ("self.tasks_s", "s"),
    ("trace.self_cover", "ratio"), ("trace.overhead_pct", "%"),
]


def _finish(values):
    return [(k, float(values.get(k, 0.0)), u) for k, u in LAYER_METRICS]


def _median0(xs):
    return stats.median(xs) if xs else 0.0


def _jvm(meta, values):
    timed = next(m for m in meta if m["kind"] in ("timed_end", "timed") and "gc_ms" in m)
    jvm = next(m for m in meta if m["kind"] == "jvm")
    values["jvm.gc_s"] = timed["gc_ms"] / 1000.0
    values["jvm.jit_s"] = timed["jit_ms"] / 1000.0
    values["jvm.heap_peak_mb"] = jvm["heap_peak_mb"]


class Scheduler:
    """Jobs, stages and tasks from the listener records, linked by id."""

    def __init__(self, trace):
        self.jobs = {r["job"]: dict(r) for r in trace if r["kind"] == "job"}
        for r in trace:
            if r["kind"] == "job_end" and r["job"] in self.jobs:
                self.jobs[r["job"]]["t1"] = r["t1"]
        self.stages = {r["stage"]: r for r in trace if r["kind"] == "stage"}
        self.tasks = [r for r in trace if r["kind"] == "task"]
        self.stage_job = {}
        for j in sorted(self.jobs.values(), key=lambda j: j["job"]):
            for s in j["stages"]:
                self.stage_job.setdefault(s, j["job"])

    def task_group(self, t):
        j = self.jobs.get(self.stage_job.get(t["stage"]))
        return j and j.get("group")

    def counters(self, tasks, stages, jobs, wall_ms, cpus):
        v = {}
        v["scheduler.jobs"] = len(jobs)
        v["scheduler.stages"] = len(stages)
        v["scheduler.tasks"] = len(tasks)
        launch = 0.0
        for t in tasks:
            if "run_ms" in t:
                delay = (t["t1"] - t["t0"]) - t["run_ms"] - t["deser_ms"] - t["ser_ms"] - t["get_ms"]
                launch += max(0.0, delay) + t["deser_ms"]
        v["scheduler.task_launch_s"] = launch / 1000.0
        v["scheduler.task_run_s"] = sum(t.get("run_ms", 0) for t in tasks) / 1000.0
        v["scheduler.task_cpu_s"] = sum(t.get("cpu_ns", 0) for t in tasks) / 1e9
        busy = sum(t["t1"] - t["t0"] for t in tasks)
        v["scheduler.core_util"] = busy / (wall_ms * cpus) if wall_ms > 0 else 0.0
        v["shuffle.write_bytes"] = sum(t.get("sw_bytes", 0) for t in tasks)
        v["shuffle.read_bytes"] = sum(t.get("sr_bytes", 0) for t in tasks)
        v["shuffle.fetch_wait_s"] = sum(t.get("fetch_ms", 0) for t in tasks) / 1000.0
        v["shuffle.spill_bytes"] = sum(t.get("spill_bytes", 0) for t in tasks)
        v["sources.scan_tasks"] = sum(1 for t in tasks if t.get("in_bytes", 0) > 0)
        v["sources.input_rows"] = sum(t.get("in_rows", 0) for t in tasks)
        v["sources.input_bytes"] = sum(t.get("in_bytes", 0) for t in tasks)
        v["sources.output_bytes"] = sum(t.get("out_bytes", 0) for t in tasks)
        return v

    def reduce_skew(self, tasks):
        """Median over reduce stages (>= 2 tasks reading shuffle data) of
        max / median shuffle bytes read per task."""
        by_stage = {}
        for t in tasks:
            if t.get("sr_bytes", 0) > 0:
                by_stage.setdefault(t["stage"], []).append(t["sr_bytes"])
        ratios = [max(b) / stats.median(b) for b in by_stage.values() if len(b) >= 2]
        return _median0(ratios)


# ---------------------------------------------------------------- batch

def batch_layers(execs, passes, trace, meta, cpus, run_id):
    """Per-layer metrics for a traced batch run, and its span tree."""
    sch = Scheduler(trace)
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    by_pass = {}
    for e in execs:
        by_pass.setdefault(e["pass"], []).append(e)
    exec_plans = {r["group"]: r for r in trace if r["kind"] == "exec"}
    actions = [r for r in trace if r["kind"] == "action"]
    tasks_by_group = {}
    for t in sch.tasks:
        tasks_by_group.setdefault(sch.task_group(t), []).append(t)
    values = {}
    spans = []
    sums = {}

    def add(k, x):
        sums[k] = sums.get(k, 0.0) + x

    for p in traced:
        pid = f"pass{p['pass']}"
        pass_spans = [dict(run=run_id, id=pid, parent="workload", kind="pass",
                           name=str(p["pass"]), t0=p["t0"], t1=p["t1"])]
        pass_execs = [e for e in by_pass.get(p["pass"], []) if "t_build" in e]
        groups_here = {e["group"] for e in pass_execs}
        jobs = [j for j in sch.jobs.values() if j.get("group") in groups_here]
        job_ids = {j["job"] for j in jobs}
        stage_ids = {s for s, j in sch.stage_job.items() if j in job_ids and s in sch.stages}
        tasks = [t for g in groups_here for t in tasks_by_group.get(g, [])]
        for k, v in sch.counters(tasks, stage_ids, jobs, p["t1"] - p["t0"], cpus).items():
            add(k, v)
        add("shuffle.reduce_skew", sch.reduce_skew(tasks))
        for e in pass_execs:
            add("queries.build_s", (e["t_build"] - e["t0"]) / 1000.0)
            add("queries.build_jobs", sum(1 for j in jobs
                                          if j["group"] == e["group"] and j["t0"] < e["t_build"]))
            plans = [exec_plans[e["group"]]] if e["group"] in exec_plans else []
            plans += [a for a in actions if e["t0"] <= a["t0"] <= e["t1"]]
            for r in plans:
                add("plans.analysis_s", r["analysis_ms"] / 1000.0)
                add("plans.optimizer_s", r["optimizer_ms"] / 1000.0)
                add("plans.planning_s", r["planning_ms"] / 1000.0)
                add("plans.graft_nodes", r["graft_nodes"])
                add("plans.object_nodes", r["object_nodes"])
            task_iv = [(t["t0"], t["t1"]) for t in tasks_by_group.get(e["group"], [])]
            add("scheduler.driver_idle_s",
                ((e["t1"] - e["t0"]) - stats.union_length(task_iv)) / 1000.0)
            pass_spans += _exec_spans(run_id, pid, e, sch, jobs)
        _self_times(pass_spans, p, add)
        spans += pass_spans
    n = max(1, len(traced))
    values.update({k: v / n for k, v in sums.items()})
    for metric, rows in ROW_GROUPS.items():
        per_pass = [sum(e["t1"] - e["t0"] for e in by_pass.get(p["pass"], []) if e["row"] in rows)
                    for p in passes]
        values[metric] = _median0(per_pass) / 1000.0
    tw = [p["t1"] - p["t0"] for p in traced]
    uw = [p["t1"] - p["t0"] for p in untraced]
    if tw and uw:
        values["trace.overhead_pct"] = 100.0 * (stats.median(tw) - stats.median(uw)) / stats.median(uw)
    _jvm(meta, values)
    return _finish(values), spans


def _exec_spans(run_id, pid, e, sch, pass_jobs):
    eid = e["group"]
    out = [dict(run=run_id, id=eid, parent=pid, kind="exec", name=e["row"], t0=e["t0"], t1=e["t1"]),
           dict(run=run_id, id=eid + "/build", parent=eid, kind="build", name=e["row"],
                t0=e["t0"], t1=e["t_build"]),
           dict(run=run_id, id=eid + "/plan", parent=eid, kind="plan", name=e["row"],
                t0=e["t_build"], t1=e["t_plan"]),
           dict(run=run_id, id=eid + "/execute", parent=eid, kind="execute", name=e["row"],
                t0=e["t_plan"], t1=e["t1"])]
    for j in pass_jobs:
        if j["group"] != eid or "t1" not in j:
            continue
        phase = "build" if j["t0"] < e["t_build"] else "plan" if j["t0"] < e["t_plan"] else "execute"
        jid = f"job{j['job']}"
        out.append(dict(run=run_id, id=jid, parent=f"{eid}/{phase}", kind="job",
                        name=str(j["job"]), t0=j["t0"], t1=j["t1"]))
        for s in j["stages"]:
            st = sch.stages.get(s)
            if st and sch.stage_job.get(s) == j["job"] and st["t0"] > 0:
                out.append(dict(run=run_id, id=f"stage{s}", parent=jid, kind="stage",
                                name=str(s), t0=st["t0"], t1=st["t1"]))
    return out


SELF_LAYER = {"pass": "self.harness_s", "exec": "self.harness_s", "build": "self.queries_s",
              "plan": "self.plans_s", "execute": "self.execute_s", "job": "self.scheduler_s",
              "stage": "self.tasks_s"}


def _self_times(spans, p, add):
    """Per-span self time (duration minus the union of its children) on
    every span of one pass. The per-layer split gives each instant of the
    pass to the deepest span covering it, so the layers add up to the pass
    wall even where jobs or stages overlap; trace.self_cover is the sum of
    the per-span self times over the pass wall, above 1 by the share of
    time in which sibling spans overlapped."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    depth = {}
    for s in spans:  # parents precede their children in `spans`
        depth[s["id"]] = depth.get(s["parent"], -1) + 1
    total = 0.0
    for s in spans:
        s["self_ms"] = stats.self_time((s["t0"], s["t1"]),
                                       [(c["t0"], c["t1"]) for c in children.get(s["id"], [])])
        total += s["self_ms"]
    split = stats.attribute([(s["t0"], s["t1"], depth[s["id"]], SELF_LAYER[s["kind"]])
                             for s in spans], p["t0"], p["t1"])
    for layer, ms in split.items():
        add(layer, ms / 1000.0)
    add("trace.self_cover", total / (p["t1"] - p["t0"]))


# --------------------------------------------------------------- stream

def _source_log(ckpt_query):
    """File name -> id of the micro-batch that consumed it, from a file
    source query's checkpoint. The source's metadata log numbers its own
    offsets (bumped only when new files arrive); the offset log maps each
    micro-batch to the source offset it read up to."""
    file_offset = {}
    for f in glob.glob(os.path.join(ckpt_query, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    file_offset[os.path.basename(e["path"])] = e["batchId"]
    batch_offset = []
    for f in glob.glob(os.path.join(ckpt_query, "offsets", "*")):
        name = os.path.basename(f)
        if name.isdigit():
            with open(f) as fh:
                last = fh.read().strip().splitlines()[-1]
            batch_offset.append((int(name), json.loads(last)["logOffset"]))
    batch_offset.sort()
    out = {}
    for name, off in file_offset.items():
        out[name] = next((b for b, o in batch_offset if o >= off), None)
    return out


def stream_view(recs, ckpt):
    """Files, progress and per-file latency of a stream run."""
    files = [r for r in recs if r["kind"] == "file"]
    progress = [r for r in recs if r["kind"] == "progress"]
    queries = sorted({p["query"] for p in progress})
    commit = {}
    for p in progress:
        # a batch commits at the end of its trigger execution
        commit[(p["query"], p["batch"])] = p["trigger_start_ms"] + p["durations"].get("triggerExecution", 0)
    batch_of = {q: _source_log(os.path.join(ckpt, q)) for q in queries}
    done = {}
    for f in files:
        ts = [commit.get((q, batch_of[q].get(f["name"]))) for q in queries]
        if queries and all(t is not None for t in ts):
            done[f["name"]] = max(ts)
    steady = [f for f in files if f["phase"] == "steady"]
    latency = [done[f["name"]] - f["due_ms"] for f in steady if f["name"] in done]
    # drain: the backlog batches after each query's first, timed as their
    # count times the median gap between consecutive commits (one stalled
    # batch moves a median less than a sum); the slower query counts
    backlog = {f["name"] for f in files if f["phase"] == "backlog"}
    drain_s, rates = 0.0, []
    for q in queries:
        bids = sorted({batch_of[q][n] for n in backlog if batch_of[q].get(n) is not None})
        rows = {p["batch"]: p["rows"] for p in progress if p["query"] == q}
        gaps = [(commit[(q, b)] - commit[(q, a)]) / 1000.0 for a, b in zip(bids, bids[1:])]
        if gaps:
            span = stats.median(gaps) * len(gaps)
            drain_s = max(drain_s, span)
            rates.append(sum(rows.get(b, 0) for b in bids[1:]) / span)
    return dict(files=files, progress=progress, queries=queries, committed=done,
                toggles=[r for r in recs if r["kind"] == "trace_toggle"],
                latency_ms=latency, drain_s=drain_s,
                drain_rows_per_s=min(rates) if rates else 0.0)


def check_stream(src, sink, window_ms):
    """Compares both sinks with a batch recomputation over the published
    events; returns the names of files whose events land in a wrong or
    missing output group."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW ev AS SELECT *, filename AS file,
        (epoch_ms(ts) // {window_ms}) * {window_ms} AS ws
        FROM read_parquet('{src}/f-*.parquet', filename = true)""")
    checks = {
        "windowed": (f"""SELECT event_type AS k, ws, COUNT(*) AS n, 0.0 AS s FROM ev GROUP BY 1, 2""",
                     f"""SELECT event_type AS k, epoch_ms(window_start) AS ws, n, 0.0 AS s
                         FROM read_parquet('{sink}/windowed/*.parquet')""", "event_type"),
        "stateful": (f"""SELECT user_id AS k, ws, COUNT(*) AS n, ROUND(SUM(value), 2) AS s
                         FROM ev GROUP BY 1, 2""",
                     f"""SELECT user_id AS k, window_start AS ws, n_events AS n,
                         ROUND(sum_value, 2) AS s FROM read_parquet('{sink}/stateful/*.parquet')""",
                     "user_id"),
    }
    bad = set()
    for name, (want, got, key) in checks.items():
        if not glob.glob(f"{sink}/{name}/*.parquet"):
            return {os.path.basename(f) for f in glob.glob(f"{src}/f-*.parquet")}
        con.execute(f"CREATE OR REPLACE VIEW want AS {want}")
        con.execute(f"CREATE OR REPLACE VIEW got AS {got}")
        diff = f"""(SELECT * FROM want EXCEPT ALL SELECT * FROM got)
                   UNION ALL (SELECT * FROM got EXCEPT ALL SELECT * FROM want)"""
        rows = con.execute(f"""SELECT DISTINCT ev.file FROM ev JOIN ({diff}) d
                               ON CAST(ev.{key} AS VARCHAR) = CAST(d.k AS VARCHAR)
                               AND ev.ws = d.ws""").fetchall()
        bad |= {os.path.basename(r[0]) for r in rows}
        extra = con.execute(f"SELECT COUNT(*) FROM ({diff})").fetchone()[0]
        if extra and not rows:
            bad.add(f"{name}-sink")
    return bad


def stream_layers(s, trace, meta, cpus, run_id):
    values = {}
    files = s["files"]
    steady = [f for f in files if f["phase"] == "steady"]
    n_files = max(1, len(steady))
    t0, t1 = steady[0]["due_ms"], max(s["committed"].get(f["name"], f["due_ms"]) for f in steady)
    data = [p for p in s["progress"] if p["rows"] > 0 and p["trigger_start_ms"] >= t0 - 1
            and p["trigger_start_ms"] <= t1]
    values["streaming.batches"] = len([p for p in s["progress"] if t0 <= p["trigger_start_ms"] <= t1])
    for metric, key in [("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                        ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                        ("commit_offsets_ms", "commitOffsets"), ("latest_offset_ms", "latestOffset")]:
        values["streaming." + metric] = _median0([p["durations"].get(key, 0) for p in data])
    for q in s["queries"]:
        mine = [p for p in data if p["query"] == q]
        values["streaming.state_rows"] = values.get("streaming.state_rows", 0) + \
            _median0([p["state_rows"] for p in mine])
        values["streaming.state_memory_bytes"] = values.get("streaming.state_memory_bytes", 0) + \
            _median0([p["state_memory_bytes"] for p in mine])
        values["streaming.state_commit_ms"] = values.get("streaming.state_commit_ms", 0) + \
            _median0([p["state_commit_ms"] for p in mine])
    values["streaming.rows_dropped_late"] = sum(p["dropped_late"] for p in s["progress"])
    # files published but not yet committed, at each steady publish instant
    done = sorted(s["committed"].get(f["name"], float("inf")) for f in steady)
    backlog = 0
    for f in steady:
        pub = f["published_ms"]
        waiting = sum(1 for g in steady if g["published_ms"] <= pub) - \
            sum(1 for d in done if d <= pub)
        backlog = max(backlog, waiting)
    values["streaming.backlog_files"] = backlog
    lag = [f["published_ms"] - f["due_ms"] for f in steady]
    values["gen.lag_ms_p50"] = _median0(lag)
    values["gen.lag_ms_max"] = max(lag) if lag else 0.0
    # scheduler-level counters from the traced blocks, per file published
    # inside them
    sch = Scheduler(trace)
    blocks = _traced_blocks(s, t1)
    wall = sum(b - a for a, b in blocks)
    n_traced = max(1, sum(1 for f in steady if any(a <= f["due_ms"] < b for a, b in blocks)))
    for k, v in sch.counters(sch.tasks, set(sch.stages), list(sch.jobs.values()),
                             wall, cpus).items():
        values[k] = v if k == "scheduler.core_util" else v / n_traced
    values["shuffle.reduce_skew"] = sch.reduce_skew(sch.tasks)
    # spans: query -> micro-batch -> progress phases; self time per layer
    spans = []
    phases = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"]
    layer_of = {"queryPlanning": "self.plans_s", "addBatch": "self.tasks_s"}
    cover = []
    for q in s["queries"]:
        qid = f"query/{q}"
        spans.append(dict(run=run_id, id=qid, parent="workload", kind="query", name=q, t0=t0, t1=t1))
        for p in [p for p in s["progress"] if p["query"] == q and t0 <= p["trigger_start_ms"] <= t1]:
            bid = f"{qid}/batch{p['batch']}"
            b0 = p["trigger_start_ms"]
            d = p["durations"]
            spans.append(dict(run=run_id, id=bid, parent=qid, kind="microbatch", name=str(p["batch"]),
                              t0=b0, t1=b0 + d.get("triggerExecution", 0)))
            named = 0.0
            for ph in phases:
                if d.get(ph):
                    spans.append(dict(run=run_id, id=f"{bid}/{ph}", parent=bid, kind="phase",
                                      name=ph, t0=b0, t1=b0 + d[ph]))
                    lay = layer_of.get(ph, "self.scheduler_s")
                    values[lay] = values.get(lay, 0.0) + d[ph] / 1000.0 / n_files
                    named += d[ph]
            total = d.get("triggerExecution", 0)
            values["self.execute_s"] = values.get("self.execute_s", 0.0) + \
                max(0.0, total - named) / 1000.0 / n_files
            if total:
                cover.append(min(named, total) / total)
    values["trace.self_cover"] = _median0(cover)
    on, off = _split_latency(s)
    if on and off:
        values["trace.overhead_pct"] = 100.0 * (stats.median(on) - stats.median(off)) / stats.median(off)
    _jvm(meta, values)
    return _finish(values), spans


def _traced_blocks(s, t_end):
    blocks, start = [], None
    for r in s.get("toggles", []):
        if r["on"]:
            start = r["t"]
        elif start is not None:
            blocks.append((start, r["t"]))
            start = None
    if start is not None:
        blocks.append((start, t_end))
    return blocks


def _split_latency(s):
    blocks = _traced_blocks(s, float("inf"))
    on, off = [], []
    for f in s["files"]:
        if f["phase"] != "steady" or f["name"] not in s["committed"]:
            continue
        lat = s["committed"][f["name"]] - f["due_ms"]
        (on if any(a <= f["due_ms"] < b for a, b in blocks) else off).append(lat)
    return on, off
