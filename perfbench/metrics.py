"""Turns the harness's raw run record into the benchmark's metrics.

Pure functions over the JSON record that `perfbench.Harness` writes, so the
arithmetic can be checked without a JVM (see selftest.py).
"""
import statistics

# The tail rule: report the highest percentile of this ladder that still has
# at least TAIL_BEYOND samples beyond it.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def quantile(xs, q):
    """Linear interpolation between closest ranks (q in [0, 1])."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest ladder percentile with at least TAIL_BEYOND of n samples
    beyond it, or None when not even the median qualifies."""
    best = None
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND - 1e-9:
            best = p
    return best


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_ms(children, start, end)


def latency_ms(op):
    return op["t2"] - op["t0"]


def steady_passes(raw):
    return [p for p in raw["passes"] if p["kind"] == "steady"]


def pass_s(p):
    """Sum of the pass's timed regions (fingerprints are outside them)."""
    return sum(latency_ms(o) for o in p["ops"]) / 1000.0


def check_outputs(raw, pins):
    """Failed operations, as (op id, reason): operations that threw, checked
    operations whose fingerprint differs from the pin, and table warm-ups
    that failed. Returns (attempted, failures)."""
    failures, attempted = [], 0
    for p in raw["passes"]:
        for o in p["ops"]:
            attempted += 1
            if not o["ok"]:
                failures.append((o["id"], o["error"]))
            elif p["checked"]:
                pin = pins.get(o["query"])
                if pin is None:
                    failures.append((o["id"], "no pinned fingerprint"))
                elif list(o["fingerprint"]) != list(pin):
                    failures.append((o["id"], "fingerprint %s != pinned %s"
                                     % (o["fingerprint"], pin)))
    attempted += raw["setup"]["tables"]
    for t in raw["setup"]["failed_tables"]:
        failures.append(("setup." + t, "table warm-up failed"))
    return attempted, failures


def setup_s(raw):
    """Time from JVM start until the session is built and all tables are
    warmed."""
    s = raw["setup"]
    return (s["call_ms"] - raw["jvm_start_ms"] + s["session_ms"] + s["warm_ms"]) / 1000.0


def end_to_end(raw):
    """The end-to-end metrics of an untraced run, plus the report that
    states their sample counts and every pass total."""
    cold = [p for p in raw["passes"] if p["kind"] == "cold"][0]
    steady = steady_passes(raw)
    lat = [latency_ms(o) for p in steady for o in p["ops"] if o["ok"]]
    tail = tail_percentile(len(lat))
    metrics = {
        "setup_s": (setup_s(raw), "s"),
        "cold_pass_s": (pass_s(cold), "s"),
        "pass_s": (statistics.median(pass_s(p) for p in steady), "s"),
        "latency_p50_ms": (quantile(lat, 0.5), "ms"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    report = {
        "seed": raw["seed"],
        "cores": raw["cores"],
        "pass_totals_s": [{"pass": p["pass"], "kind": p["kind"], "total_s": pass_s(p)}
                          for p in raw["passes"]],
        "latency_samples": len(lat),
        "latency_p95_ms": quantile(lat, 0.95),
        "latency_p95_supported": tail is not None and tail >= 95.0,
        "latency_tail": None if tail is None else
        {"percentile": tail, "value_ms": quantile(lat, tail / 100.0)},
    }
    return metrics, report


# ---------------------------------------------------------------- tracing

def timed_ops(passes):
    return [o for p in passes for o in p["ops"] if o["t2"] > 0]


def _window_op(ops, t):
    """The operation whose window holds time t (Spark's event times are
    whole milliseconds, so a window starts 1 ms early)."""
    best = None
    for o in ops:
        if o["t0"] - 1.0 <= t <= o["t2"] + 1.0 and (best is None or o["t0"] > best["t0"]):
            best = o
    return best


class Attribution:
    """Assigns recorded jobs, SQL executions and stream batches to the
    operation whose time window they started in. A job whose job group
    names a different operation is counted as misattributed: a pooled
    thread kept the group it inherited when it was created."""

    def __init__(self, raw):
        rec = raw["trace_records"]
        self.ops = timed_ops(raw["passes"])
        ids = {o["id"] for o in self.ops}
        # A stream's jobs run under its run id as job group; the stream
        # belongs to the operation that started it.
        owner = {}
        for st in rec.get("streams", []):
            op = _window_op(self.ops, st["start_ms"])
            if op is not None:
                owner[st["run_id"]] = op["id"]
        self.jobs, self.misattributed = {}, []
        for j in rec.get("jobs", []):
            g = j["group"]
            if g is not None and g.startswith("fp:"):
                continue
            op = _window_op(self.ops, j["start_ms"])
            if op is None:
                continue
            self.jobs.setdefault(op["id"], []).append(j)
            named = g if g in ids else owner.get(g)
            if named != op["id"]:
                self.misattributed.append((op["id"], j["job"], g))
        self.execs = {}
        for e in rec.get("executions", []):
            if "start_ms" not in e or (e.get("group") or "").startswith("fp:"):
                continue
            op = _window_op(self.ops, e["start_ms"])
            if op is not None:
                self.execs.setdefault(op["id"], []).append(e)
        self.batches = {}
        for b in rec.get("batches", []):
            oid = owner.get(b["run_id"])
            if oid is None:
                op = _window_op(self.ops, b["start_ms"])
                oid = op and op["id"]
            if oid is not None:
                self.batches.setdefault(oid, []).append(b)
        stage_map = {}
        for s in rec.get("stages", []):
            stage_map.setdefault(s["stage"], []).append(s)
        self.stages = {}
        for oid, js in self.jobs.items():
            seen = set()
            for j in js:
                for sid in j["stages"]:
                    if sid not in seen:
                        seen.add(sid)
                        self.stages.setdefault(oid, []).extend(
                            (j["job"], s) for s in stage_map.get(sid, []))


def build_spans(raw, att):
    """Spans of a traced run: run > pass > query > {build, analysis,
    optimization, planning, execute} > job > stage, with stream batches
    under the query (or its build). Spans of one query share its trace id.
    Returns (spans, unattributed ms per query)."""
    spans = []

    def add(trace, parent, kind, name, start, end):
        sid = len(spans)
        spans.append({"id": sid, "trace": trace, "parent": parent, "kind": kind,
                      "name": name, "start_ms": start, "end_ms": end})
        return sid

    passes = raw["passes"]
    run = add(None, None, "run", "run", min(p["start_ms"] for p in passes),
              max(p["end_ms"] for p in passes))
    remainder = {}
    for p in passes:
        ps = add(None, run, "pass", "pass%d" % p["pass"], p["start_ms"], p["end_ms"])
        for o in timed_ops([p]):
            tid = o["id"]
            q = add(tid, ps, "query", o["query"], o["t0"], o["t2"])
            b = add(tid, q, "build", "build", o["t0"], o["t1"]) if o["t1"] > 0 else None

            def parent_at(t):
                return b if b is not None and t < o["t1"] else q

            exec_span = {}
            for e in att.execs.get(tid, []):
                par = parent_at(e["start_ms"])
                phases = e.get("phases", {})
                for k in ("analysis", "optimization", "planning"):
                    if k in phases:
                        add(tid, parent_at(phases[k][0]), k, "%s#%d" % (k, e["exec"]),
                            *phases[k])
                if e["end_ms"] > 0:
                    x0 = max([e["start_ms"]] + ([phases["planning"][1]] if "planning" in phases else []))
                    exec_span[e["exec"]] = add(tid, par, "execute", "exec#%d" % e["exec"],
                                               x0, e["end_ms"])
            job_span = {}
            for j in att.jobs.get(tid, []):
                par = exec_span.get(j["exec"], parent_at(j["start_ms"]))
                end = j["end_ms"] if j["end_ms"] > 0 else j["start_ms"]
                job_span[j["job"]] = add(tid, par, "job", "job#%d" % j["job"], j["start_ms"], end)
            for job, s in att.stages.get(tid, []):
                if s["submit_ms"] > 0 and s["complete_ms"] > 0:
                    add(tid, job_span[job], "stage", "stage#%d.%d" % (s["stage"], s["attempt"]),
                        s["submit_ms"], s["complete_ms"])
            for bt in att.batches.get(tid, []):
                add(tid, parent_at(bt["start_ms"]), "batch", "batch#%d" % bt["batch"],
                    bt["start_ms"], bt["start_ms"] + bt["trigger_ms"])
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        s["self_ms"] = self_ms(s["start_ms"], s["end_ms"], children.get(s["id"], []))
        if s["kind"] == "query":
            remainder[s["trace"]] = s["self_ms"]
    return spans, remainder


def layer_sums(ops, att, cores, remainder):
    """Per-layer totals over the given operations, as (value, unit)."""
    jobs = [j for o in ops for j in att.jobs.get(o["id"], [])]
    stages = [s for o in ops for _, s in att.stages.get(o["id"], [])]
    execs = [e for o in ops for e in att.execs.get(o["id"], []) if "phases" in e]
    batches = [b for o in ops for b in att.batches.get(o["id"], [])]
    infer = [j for j in jobs if "Tables.scala" in (j["call_site"] or "")]
    mis = {(oid, job) for oid, job, _ in att.misattributed}
    tasks = sum(s["tasks"] for s in stages)
    wall_ms = sum(latency_ms(o) for o in ops)

    def ssum(k):
        return sum(s[k] for s in stages)

    def phase_ms(k):
        return sum(e["phases"][k][1] - e["phases"][k][0] for e in execs if k in e["phases"])

    def ratio(a, b):
        return a / b if b else 0.0

    return {
        "tables.infer_jobs": (len(infer), "count"),
        "tables.infer_ms": (sum(max(0, j["end_ms"] - j["start_ms"]) for j in infer), "ms"),
        "tables.files_listed": (sum(o["counters"][3] for o in ops), "count"),
        "build.ms": (sum(o["t1"] - o["t0"] for o in ops if o["t1"] > 0), "ms"),
        "build.jobs": (sum(1 for o in ops for j in att.jobs.get(o["id"], [])
                           if o["t1"] > 0 and j["start_ms"] < o["t1"]), "count"),
        "plan.analysis_ms": (phase_ms("analysis"), "ms"),
        "plan.optimization_ms": (phase_ms("optimization"), "ms"),
        "plan.planning_ms": (phase_ms("planning"), "ms"),
        "plan.actions": (len(execs), "count"),
        "plan.nodes": (sum(e.get("nodes", 0) for e in execs), "count"),
        "codegen.compiles": (sum(o["counters"][0] for o in ops), "count"),
        "codegen.compile_ms": (sum(o["counters"][1] for o in ops), "ms"),
        "codegen.source_kb": (sum(o["counters"][2] for o in ops) / 1024.0, "KB"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (len(stages), "count"),
        "exec.tasks": (tasks, "count"),
        "exec.task_ms": (ssum("run_ms"), "ms"),
        "exec.task_cpu_ms": (ssum("cpu_ms"), "ms"),
        "exec.deser_ms": (ssum("deser_ms"), "ms"),
        "exec.shuffle_read_mb": (ssum("shuffle_read_bytes") / 2**20, "MB"),
        "exec.shuffle_write_mb": (ssum("shuffle_write_bytes") / 2**20, "MB"),
        "exec.spill_mb": (ssum("spill_bytes") / 2**20, "MB"),
        "exec.failed_tasks": (ssum("failed_tasks"), "count"),
        "exec.empty_task_frac": (ratio(ssum("empty_tasks"), tasks), "frac"),
        "exec.sched_wait_ms": (ssum("sched_wait_ms"), "ms"),
        "exec.core_busy_frac": (ratio(ssum("task_wall_ms"), cores * wall_ms), "frac"),
        "exec.misattributed_jobs": (sum(1 for o in ops for j in att.jobs.get(o["id"], [])
                                        if (o["id"], j["job"]) in mis), "count"),
        "stream.batches": (len(batches), "count"),
        "stream.batch_ms": (sum(b["trigger_ms"] for b in batches), "ms"),
        "stream.add_batch_ms": (sum(b["add_batch_ms"] for b in batches), "ms"),
        "stream.commit_ms": (sum(b["commit_ms"] for b in batches), "ms"),
        "stream.state_commit_ms": (sum(b["state_commit_ms"] for b in batches), "ms"),
        "jvm.gc_ms": (sum(o["counters"][4] for o in ops), "ms"),
        "trace.unattributed_frac": (ratio(sum(remainder.get(o["id"], 0.0) for o in ops),
                                          wall_ms), "frac"),
    }


def per_layer(raw, untraced_pass_s):
    """Per-layer metrics of a traced run, each a per-pass total (median over
    the steady passes), plus the spans. The tracing overhead is this run's
    pass_s minus the median pass_s of the given untraced runs (0 when none
    are given)."""
    att = Attribution(raw)
    spans, remainder = build_spans(raw, att)
    steady = steady_passes(raw)
    per_pass = [layer_sums(timed_ops([p]), att, raw["cores"], remainder) for p in steady]
    metrics = {k: (statistics.median(pl[k][0] for pl in per_pass), unit)
               for k, (_, unit) in per_pass[0].items()}
    cold = [p for p in raw["passes"] if p["kind"] == "cold"][0]["ops"]
    metrics["codegen.cold_compiles"] = (sum(o["counters"][0] for o in cold), "count")
    metrics["codegen.cold_compile_ms"] = (sum(o["counters"][1] for o in cold), "ms")
    metrics["codegen.cold_source_kb"] = (sum(o["counters"][2] for o in cold) / 1024.0, "KB")
    metrics["tables.load_ms"] = (sum(raw["table_load_ms"].values()), "ms")
    traced_pass_s = statistics.median(pass_s(p) for p in steady)
    metrics["trace.overhead_s"] = (
        traced_pass_s - statistics.median(untraced_pass_s) if untraced_pass_s else 0.0, "s")
    return metrics, spans, remainder
