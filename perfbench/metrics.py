"""Turn one harness run record into the benchmark's metrics.

Pure functions over the JSON record `perfbench.Harness` writes; no Spark
here, so `perfbench/tests` can check the rules on hand-made records.
"""
import math
import statistics

# The op groups the workloads run, named by module, as the run record's
# call layers.
GROUPS = ["etl.Pipeline", "ops.Relational", "ops.DedupOps",
          "sources.Warehouse", "multimodal.Multimodal",
          "streaming.Sessionize"]
STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset"]
MB = 1e6
# Spark stamps stage submission in whole epoch milliseconds.
CLOCK_SLACK_MS = 2.0


def nearest_rank(values, pct):
    """The pct-th percentile by nearest rank: the smallest sample with at
    least pct % of the samples at or below it."""
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(values, min_beyond=10):
    """Highest whole percentile with at least `min_beyond` samples beyond
    it, as (percentile, value, sample count); None when even the median
    has fewer than that many samples beyond it."""
    n = len(values)
    for pct in range(99, 49, -1):
        if n - math.ceil(pct / 100.0 * n) >= min_beyond:
            return pct, nearest_rank(values, pct), n
    return None


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Span id -> self time (ms): its duration minus the part of it that
    its children cover, overlapping children counted once."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        lo, hi = sp["start_ms"], sp["end_ms"]
        covered = union_ms(
            (max(lo, c["start_ms"]), min(hi, c["end_ms"]))
            for c in kids.get(sp["id"], []) if c["end_ms"] > lo
            and c["start_ms"] < hi)
        out[sp["id"]] = (hi - lo) - covered
    return out


def attribute(items, spans, time_key):
    """Split stage or job records into (span id -> [records], unattributed).

    A record is attributed to the span named by its local property only if
    that span exists and was open when the record was submitted; no span,
    an unknown span, or a span that had already closed (work started by a
    thread that outlived its caller) leaves it unattributed."""
    by_id = {sp["id"]: sp for sp in spans}
    owned, lost = {}, []
    for it in items:
        sp = by_id.get(it.get("span"))
        t = it.get(time_key, -1)
        if sp is not None and (sp["start_ms"] - CLOCK_SLACK_MS <= t
                               <= sp["end_ms"] + CLOCK_SLACK_MS):
            owned.setdefault(sp["id"], []).append(it)
        else:
            lost.append(it)
    return owned, lost


def fail_counts(rec):
    """(attempted, failed): op calls and output checks attempted; failed
    calls, failed pass or check steps, and output mismatches."""
    steps = [f for f in rec["failures"] if f["phase"] in ("pass", "checks")]
    call_names = {(c["pass"], c["name"]) for c in rec["calls"]
                  if not c["ok"]}
    extra = len(steps) - len(call_names)
    attempted = len(rec["calls"]) + len(rec["checks"]) + max(0, extra)
    failed = (len(call_names) + max(0, extra)
              + sum(1 for c in rec["checks"] if not c["ok"]))
    return attempted, failed


def _med(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """Index over one record: passes, the spans under each pass, and the
    stages and jobs attributed to them."""

    def __init__(self, rec):
        self.rec = rec
        self.spans = rec["spans"]
        self.owned_stages, self.lost_stages = attribute(
            rec.get("stages", []), self.spans, "submit_ms")
        self.owned_jobs, _ = attribute(rec.get("jobs", []), self.spans,
                                       "time_ms")
        parent = {sp["id"]: sp["parent"] for sp in self.spans}
        self.pass_span = {}
        for sp in self.spans:
            if sp["layer"] == "pass":
                self.pass_span[int(sp["name"][4:])] = sp
        # every span id -> the pass span it sits under (if any)
        self.pass_of = {}
        pass_ids = {sp["id"]: p for p, sp in self.pass_span.items()}
        for sid in parent:
            cur = sid
            while cur is not None and cur not in pass_ids:
                cur = parent.get(cur)
            if cur is not None:
                self.pass_of[sid] = pass_ids[cur]
        self.passes = {p["pass"]: p for p in rec["passes"]}

    def stages_under(self, span_ids):
        return [st for sid in span_ids for st in self.owned_stages.get(sid, [])]

    def pass_stages(self, p):
        return self.stages_under(
            [sid for sid, q in self.pass_of.items() if q == p])

    def pass_jobs(self, p):
        return [j for sid, q in self.pass_of.items() if q == p
                for j in self.owned_jobs.get(sid, [])]

    def call_spans(self, p, pred=lambda sp: True):
        pid = self.pass_span[p]["id"]
        return [sp for sp in self.spans if sp["parent"] == pid and pred(sp)]

    def calls(self, p):
        return [c for c in self.rec["calls"] if c["pass"] == p]


def _sum(stages, key):
    return sum(st[key] for st in stages)


def end_to_end(rec):
    run = Run(rec)
    plain = [p for p, v in run.passes.items() if not v["detailed"]]
    walls = [run.passes[p]["wall_ms"] / 1e3 for p in plain]
    cpu = [run.passes[p]["cpu_ms"] / 1e3 for p in plain]
    return {
        "setup_s": (rec["phases"]["setup_s"], "s"),
        "pass_s": (_med(walls), "s"),
        "cpu_s": (_med(cpu), "s"),
        "storage_peak_mb": (rec["storage_peak_mb"], "MB"),
    }


def per_layer(rec):
    run = Run(rec)
    cores = rec["cores"]
    detailed = sorted(p for p, v in run.passes.items() if v["detailed"])
    plain = sorted(p for p, v in run.passes.items() if not v["detailed"])
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def per_pass(fn):
        return _med([fn(p) for p in detailed])

    phases = rec["phases"]
    for k in ("jvm", "session", "warmup", "settle"):
        put(f"setup.{k}_s", phases.get(f"{k}_s", 0.0), "s")

    def layer_spans(p, pred):
        return run.call_spans(p, lambda sp: pred(sp["layer"]))

    def dur(sps):
        return sum(sp["end_ms"] - sp["start_ms"] for sp in sps)

    # etl: the three layer calls and the Pipeline op group
    for k in ("stage", "dwh", "qa"):
        put(f"etl.{k}_s", per_pass(
            lambda p: dur(layer_spans(p, lambda l: l == f"etl.{k}")) / 1e3),
            "s")

    def etl_stages(p):
        return run.stages_under(
            sp["id"] for sp in layer_spans(p, lambda l: l.startswith("etl.")))

    def etl_jobs(p):
        return [j for sp in layer_spans(p, lambda l: l.startswith("etl."))
                for j in run.owned_jobs.get(sp["id"], [])]

    put("etl.task_s", per_pass(
        lambda p: _sum(etl_stages(p), "run_ms") / 1e3), "s")
    put("etl.jobs", per_pass(lambda p: len(etl_jobs(p))), "count")
    put("etl.tasks", per_pass(lambda p: _sum(etl_stages(p), "tasks")), "count")
    put("etl.shuffle_mb", per_pass(lambda p: (
        _sum(etl_stages(p), "shuffle_read")
        + _sum(etl_stages(p), "shuffle_write")) / MB), "MB")
    put("etl.write_mb", per_pass(
        lambda p: _sum(etl_stages(p), "bytes_written") / MB), "MB")

    def amp(p):
        read = _sum(etl_stages(p), "bytes_read")
        return _sum(etl_stages(p), "bytes_written") / read if read else 0.0
    put("etl.write_amp", per_pass(amp), "ratio")

    # sources: bytes read and written per pass
    put("sources.read_mb", per_pass(
        lambda p: _sum(run.pass_stages(p), "bytes_read") / MB), "MB")
    put("sources.write_mb", per_pass(
        lambda p: _sum(run.pass_stages(p), "bytes_written") / MB), "MB")

    # op groups
    for g in GROUPS:
        def gsp(p, g=g):
            return layer_spans(p, lambda l: l == g)
        put(f"{g}.wall_s", per_pass(lambda p: dur(gsp(p)) / 1e3), "s")
        put(f"{g}.task_s", per_pass(lambda p: _sum(
            run.stages_under(sp["id"] for sp in gsp(p)), "run_ms") / 1e3),
            "s")
        put(f"{g}.jobs", per_pass(lambda p: sum(
            len(run.owned_jobs.get(sp["id"], [])) for sp in gsp(p))),
            "count")
        put(f"{g}.tasks", per_pass(lambda p: _sum(
            run.stages_under(sp["id"] for sp in gsp(p)), "tasks")), "count")

    lat = [c["end_ms"] - c["start_ms"] for c in rec["calls"]]
    tail = tail_percentile(lat)
    put("ops.calls", len(lat), "count")
    put("ops.call_p50_ms", nearest_rank(lat, 50) if lat else 0.0, "ms")
    put("ops.call_tail_pct", tail[0] if tail else 0, "pct")
    put("ops.call_tail_ms", tail[1] if tail else 0.0, "ms")

    # streaming: progress events inside each pass's stream calls
    trig_by_pass = {}
    outside = {}
    for p in run.passes:
        ts, out = [], 0.0
        for c in run.calls(p):
            if c["layer"] != "streaming.Sessionize":
                continue
            inside = [t for t in rec.get("triggers", [])
                      if c["start_ms"] - CLOCK_SLACK_MS <= t["start_ms"]
                      <= c["end_ms"]]
            ts += inside
            out += (c["end_ms"] - c["start_ms"]) - sum(
                t["batch_ms"] for t in inside)
        trig_by_pass[p] = ts
        outside[p] = out
    every = [t for p in sorted(trig_by_pass) for t in trig_by_pass[p]]
    put("streaming.triggers", _med([len(v) for v in trig_by_pass.values()]),
        "count")
    for ph in STREAM_PHASES:
        put(f"streaming.{ph}_ms", _med(
            [t["durations"].get(ph, 0) for t in every]), "ms")
    put("streaming.state_commit_ms",
        _med([t["state_commit_ms"] for t in every]), "ms")
    put("streaming.input_rows", _med(
        [sum(t["input_rows"] for t in v) for v in trig_by_pass.values()]),
        "count")
    put("streaming.outside_trigger_ms", _med(list(outside.values())), "ms")
    batch = [t["batch_ms"] for t in every]
    put("streaming.trigger_p50_ms", nearest_rank(batch, 50) if batch else 0,
        "ms")
    ttail = tail_percentile(batch)
    put("streaming.trigger_tail_pct", ttail[0] if ttail else 0, "pct")
    put("streaming.trigger_tail_ms", ttail[1] if ttail else 0.0, "ms")

    # engine: the scheduler and executors, per detailed pass
    def pstages(p):
        return run.pass_stages(p)

    def wall_s(p):
        return run.passes[p]["wall_ms"] / 1e3
    put("engine.jobs", per_pass(lambda p: len(run.pass_jobs(p))), "count")
    put("engine.stages", per_pass(lambda p: len(pstages(p))), "count")
    put("engine.tasks", per_pass(lambda p: _sum(pstages(p), "tasks")),
        "count")
    put("engine.jobs_per_op", per_pass(
        lambda p: len(run.pass_jobs(p)) / max(1, len(run.calls(p)))), "ratio")

    def wait(p):
        total = 0.0
        for sp in run.call_spans(p):
            task = _sum(run.stages_under([sp["id"]]), "run_ms") / 1e3
            total += (sp["end_ms"] - sp["start_ms"]) / 1e3 - task / cores
        return total
    put("engine.wait_s", per_pass(wait), "s")
    put("engine.core_busy", per_pass(lambda p: _sum(pstages(p), "run_ms")
                                     / 1e3 / (wall_s(p) * cores)), "ratio")
    put("engine.task_s", per_pass(
        lambda p: _sum(pstages(p), "run_ms") / 1e3), "s")
    put("engine.driver_cpu_s", per_pass(lambda p: sum(
        c["driver_cpu_ms"] for c in run.calls(p)) / 1e3), "s")
    put("engine.cpu_s", per_pass(lambda p: _sum(pstages(p), "cpu_ns") / 1e9),
        "s")
    put("engine.gc_s", per_pass(lambda p: _sum(pstages(p), "gc_ms") / 1e3),
        "s")
    put("engine.shuffle_read_mb", per_pass(
        lambda p: _sum(pstages(p), "shuffle_read") / MB), "MB")
    put("engine.shuffle_write_mb", per_pass(
        lambda p: _sum(pstages(p), "shuffle_write") / MB), "MB")
    put("engine.spill_mb", per_pass(lambda p: _sum(pstages(p), "spill") / MB),
        "MB")
    put("engine.task_failures",
        sum(st["failed_tasks"] for st in rec.get("stages", [])), "count")
    put("engine.unattributed_task_s",
        _sum(run.lost_stages, "run_ms") / 1e3, "s")

    # storage after the last pass (the record keeps every pass's sample)
    last = run.passes[max(run.passes)]
    put("storage.mem_mb_end", last["mem_mb_end"], "MB")
    put("storage.disk_mb_end", last["disk_mb_end"], "MB")
    put("storage.rdds_end", last["rdds_end"], "count")
    first = run.passes[min(run.passes)]
    put("storage.drift_mb", (last["mem_mb_end"] + last["disk_mb_end"])
        - (first["mem_mb_end"] + first["disk_mb_end"]), "MB")

    # tracing health: overhead against the plain passes of the same run,
    # and how exactly self times account for each detailed pass's wall
    put("trace.overhead_s", _med([wall_s(p) for p in detailed])
        - _med([wall_s(p) for p in plain]), "s")
    selfs = self_times(run.spans)
    gap = 0.0
    for p in detailed:
        tree = [sid for sid, q in run.pass_of.items() if q == p]
        gap = max(gap, abs(sum(selfs[s] for s in tree)
                           - run.passes[p]["wall_ms"]))
    put("trace.self_gap_ms", gap, "ms")
    return m
