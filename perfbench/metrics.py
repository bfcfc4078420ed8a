"""Pure functions that turn the harness's records into metrics and spans.

Times in the records are epoch milliseconds; every metric is in the unit
its name says (`_s` seconds, `_mb` MiB, counts bare).
"""
import statistics

MB = 1048576.0


def tail(samples):
    """The value at the highest percentile that still has at least ten
    samples above it, as (value, percentile, n).

    With n sorted samples that is the one at 0-based rank n - 11, which
    is the percentile 100 * (n - 10) / n. Below 20 samples that
    percentile is under the median, so no tail qualifies; the median is
    returned, labelled 50.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 20:
        return statistics.median(xs), 50.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, each first
    clipped to [lo, hi] when those are given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover. Returns {span id: ms}."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_ms(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_of(frame):
    """Layer of a construct-phase job: the package of the first `graft.`
    frame of its call site, such as `graft.sources.Tables$.load(...)`,
    when that is sources, ops or ml; `entry` otherwise."""
    parts = frame.split(".")
    if len(parts) > 2 and parts[0] == "graft" and parts[1] in ("sources", "ops", "ml"):
        return parts[1]
    return "entry"


def pass_wall_s(p):
    return sum(q["s1"] - q["c0"] for q in p["queries"]) / 1000.0


def _plan_windows(p):
    """{query name: (plan start, plan end, planning ms)} from the planning
    phases of the write each query executed: the tracked plan whose phases
    start inside that query's execute window."""
    out = {}
    for plan in p["trace"]["plans"]:
        phases = [v for k, v in plan["phases"].items()
                  if k in ("analysis", "optimization", "planning")]
        if not phases:
            continue
        start = min(s for s, _ in phases)
        for q in p["queries"]:
            if q["c1"] - 1 <= start <= q["s1"] and q["name"] not in out:
                out[q["name"]] = (start, max(e for _, e in phases),
                                  sum(e - s for s, e in phases))
                break
    return out


def spans(p):
    """Spans of one traced pass: query, then its construct, plan and execute
    phases, then the jobs each phase caused and the stages of each job."""
    out = []
    tag = "p%d" % p["index"]
    plans = _plan_windows(p)
    for q in p["queries"]:
        qid = "%s:%s" % (tag, q["name"])
        out.append(dict(id=qid, name="query", query=qid, parent=None,
                        start=q["c0"], end=q["s1"]))
        out.append(dict(id=qid + "/construct", name="construct", query=qid,
                        parent=qid, start=q["c0"], end=q["c1"]))
        exec_start = q["c1"]
        if q["name"] in plans:
            ps, pe, _ = plans[q["name"]]
            exec_start = max(q["c1"], min(pe, q["s1"]))
            out.append(dict(id=qid + "/plan", name="plan", query=qid, parent=qid,
                            start=max(ps, q["c1"]), end=exec_start))
        out.append(dict(id=qid + "/execute", name="execute", query=qid,
                        parent=qid, start=exec_start, end=q["s1"]))
    known = {q["name"] for q in p["queries"]}
    for j in p["trace"]["jobs"]:
        if not j["query"] or not j["phase"]:
            continue
        pass_idx, name = j["query"].split(":", 1)
        if int(pass_idx) != p["index"] or name not in known:
            continue
        qid = "%s:%s" % (tag, name)
        out.append(dict(id="%s/job%d" % (qid, j["id"]), name="job", query=qid,
                        parent="%s/%s" % (qid, j["phase"]), layer=layer_of(j["frame"]),
                        start=j["start"], end=max(j["end"], j["start"])))
    job_span = {s["id"].rsplit("/job", 1)[1]: s for s in out if s["name"] == "job"}
    for st in p["trace"]["stages"]:
        js = job_span.get(str(st["job"]))
        if js is None:
            continue
        out.append(dict(id="%s/stage%d.%d" % (js["query"], st["id"], st["attempt"]),
                        name="stage", query=js["query"], parent=js["id"],
                        start=st["submit"], end=st["complete"]))
    return out


def layer_metrics(p, cores):
    """Per-layer metrics of one traced pass."""
    tr = p["trace"]
    sp = spans(p)
    selfs = self_times(sp)
    jobs = [s for s in sp if s["name"] == "job"]
    job_ids = {s["id"].rsplit("/job", 1)[1]: s for s in jobs}
    stages_by_phase = {"construct": [], "execute": []}
    for st in tr["stages"]:
        js = job_ids.get(str(st["job"]))
        if js is not None:
            stages_by_phase[js["parent"].rsplit("/", 1)[1]].append(st)
    construct_jobs = [j for j in jobs if j["parent"].endswith("/construct")]
    execute_jobs = [j for j in jobs if j["parent"].endswith("/execute")]

    def layer_jobs(layer):
        js = [j for j in construct_jobs if j["layer"] == layer]
        return len(js), union_ms([(j["start"], j["end"]) for j in js]) / 1000.0

    m = {}
    m["entry.construct_s"] = sum(s["end"] - s["start"] for s in sp
                                 if s["name"] == "construct") / 1000.0
    m["entry.construct_jobs"] = len(construct_jobs)
    m["entry.construct_stages"] = len(stages_by_phase["construct"])
    m["entry.no_job_s"] = sum(selfs[s["id"]] for s in sp
                              if s["name"] == "construct") / 1000.0
    m["entry.collect_mb"] = sum(st["result_bytes"]
                                for st in stages_by_phase["construct"]) / MB
    m["sources.jobs"], m["sources.busy_s"] = layer_jobs("sources")
    m["ml.jobs"], m["ml.busy_s"] = layer_jobs("ml")
    m["ops.staging_jobs"], m["ops.staging_busy_s"] = layer_jobs("ops")
    m["ops.staged_mb"] = tr["stored_bytes"] / MB
    m["ops.funnel_builds"] = p["funnel_builds"]
    m["ops.fit_builds"] = p["fit_builds"]
    m["ops.shared_builds"] = p["shared_builds"]
    m["plan.plan_s"] = sum(v[2] for v in _plan_windows(p).values()) / 1000.0

    ex = stages_by_phase["execute"]
    exec_s = sum(s["end"] - s["start"] for s in sp if s["name"] == "execute") / 1000.0
    run_s = sum(st["run_ms"] for st in ex) / 1000.0
    m["exec.exec_s"] = exec_s
    m["exec.jobs"] = len(execute_jobs)
    m["exec.stages"] = len(ex)
    m["exec.tasks"] = sum(st["tasks"] for st in ex)
    m["exec.task_cpu_s"] = sum(st["cpu_ns"] for st in ex) / 1e9
    m["exec.task_run_s"] = run_s
    m["exec.task_queue_s"] = sum(st["queue_ms"] for st in ex) / 1000.0
    m["exec.core_util"] = run_s / (exec_s * cores) if exec_s > 0 else 0.0
    m["exec.shuffle_read_mb"] = sum(st["shuffle_read"] for st in ex) / MB
    m["exec.shuffle_write_mb"] = sum(st["shuffle_write"] for st in ex) / MB
    m["exec.input_mb"] = sum(st["input"] for st in ex) / MB
    m["exec.spill_mb"] = sum(st["spill"] for st in ex) / MB
    m["exec.task_skew"] = task_skew(ex)
    m["exec.failed_tasks"] = sum(st["failed"] for st in tr["stages"])
    m["jvm.gc_s"] = p["gc_s"]
    # Task cpu of every phase, so what remains is the JVM's work outside
    # tasks: planning, fit loops, GC and JIT.
    m["jvm.non_task_cpu_s"] = p["cpu_s"] - sum(st["cpu_ns"] for st in tr["stages"]) / 1e9
    return m, sp, selfs


def task_skew(stages):
    """Max over median task run time per stage, averaged over the stages
    with at least two tasks and weighted by their run time; 1 is even."""
    num = den = 0.0
    for st in stages:
        if st["tasks"] >= 2 and st["run_median_ms"] > 0:
            num += st["run_ms"] * st["run_max_ms"] / st["run_median_ms"]
            den += st["run_ms"]
    return num / den if den else 1.0
