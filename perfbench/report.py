"""Metrics from one run's raw files (summary, passes, samples and, for a
traced run, spans, jobs and stages)."""
import json
import os

from stats import (gap_length, geomean, geomean_of_medians, median,
                   self_time, tail)

LAYERS = ["graphops", "analytics", "relational", "similarity", "dedup",
          "textops", "multimodal", "streams"]
LAYER_METRICS = [  # (suffix, unit)
    ("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
    ("construct_jobs", "count"), ("tasks", "count"), ("shuffle_mb", "MB"),
    ("spill_mb", "MB"), ("busy_s", "s"), ("driver_gap_s", "s"),
    ("gc_s", "s"), ("failed_tasks", "count")]
END_TO_END = [  # (name, unit)
    ("setup_s", "s"), ("pass_s", "s"), ("read_ms", "ms"), ("storage_mb", "MB")]
RUN_METRICS = [  # (name, unit), reported by the traced run
    ("first_pass_s", "s"), ("write_ms", "ms"), ("session.start_s", "s"),
    ("setup.jobs", "count"),
    ("model.graph_load_s", "s"), ("model.memo_builds", "count"),
    ("model.first_pass_memo_builds", "count"),
    ("streams.inputs_s", "s"),
    ("streams.bytes_written_mb", "MB"),
    ("streams.stored_mb", "MB"), ("streams.ingest_rows_per_s", "rows/s"),
    ("ops.failed_frac", "ratio"),
    ("host.sentinel_start_s", "s"), ("host.sentinel_end_s", "s"),
    ("host.steal_frac", "ratio"),
    ("trace.overhead_s", "s"), ("trace.harness_s", "s")]
PER_LAYER = [(f"{layer}.{m}", u) for layer in LAYERS
             for m, u in LAYER_METRICS] + RUN_METRICS
MB = 1e6


def _lines(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class RunFiles:
    def __init__(self, out_dir: str, ops: list):
        # input rows a commit op hands its sink
        self.rows_in = {o[0]: int(o[5][1]) for o in ops
                        if o[1] in ("ivm_commit", "cc_commit")}
        # ops with the same kind and arguments repeat one call
        self.call = {o[0]: (o[1], tuple(o[5])) for o in ops}
        with open(os.path.join(out_dir, "summary.json")) as f:
            self.summary = json.load(f)
        self.passes = _lines(os.path.join(out_dir, "passes.jsonl"))
        self.samples = _lines(os.path.join(out_dir, "samples.jsonl"))
        self.results = {r["op"]: r["result"]
                        for r in _lines(os.path.join(out_dir, "results.jsonl"))}
        self.spans = _lines(os.path.join(out_dir, "spans.jsonl"))
        self.jobs = _lines(os.path.join(out_dir, "jobs.jsonl"))
        self.stages = _lines(os.path.join(out_dir, "stages.jsonl"))

    def warm(self, traced: bool) -> set:
        return {p["pass"] for p in self.passes
                if p["pass"] > 1 and p["traced"] == traced}


def _timing(values):
    """(geometric mean, median, tail pct, tail value, n, beyond) of a
    list of ms walls."""
    pct, val, n, beyond = tail(values)
    return geomean(values), median(values), pct, val, n, beyond


def _warm_samples(rf: RunFiles, cls: str):
    warm = rf.warm(False)
    return [s for s in rf.samples if s["pass"] in warm and s["cls"] == cls]


def _latency(rf: RunFiles, cls: str):
    """Latencies of one op class over every untraced warm pass."""
    return _timing([s["wall_ms"] for s in _warm_samples(rf, cls)])


def _per_call(rf: RunFiles, cls: str):
    """The untraced warm walls of one op class, grouped by call: an op
    repeated in a pass or across passes is one group."""
    groups = {}
    for s in _warm_samples(rf, cls):
        groups.setdefault(rf.call[s["op"]], []).append(s["wall_ms"])
    return list(groups.values())


def end_to_end(rf: RunFiles):
    """Every end-to-end metric plus, per timing, its sample counts.

    Set-up runs to the end of the cold pass, so first-touch builds count
    in it. `pass_s` is the median wall of the untraced warm passes; the
    latencies pool those passes' samples, and `read_ms` first takes the
    median over each call's repeats."""
    walls = [p["wall_s"] for p in rf.passes if p["pass"] in rf.warm(False)]
    r = _latency(rf, "read")
    calls = _per_call(rf, "read")
    w = _latency(rf, "write")
    m = {
        "setup_s": rf.summary["setup"]["setup_s"] + rf.passes[0]["wall_s"],
        "pass_s": median(walls),
        "read_ms": geomean_of_medians(calls),
        # what graft still holds: cached or checkpointed blocks, plus
        # the sink versions it wrote to disk
        "storage_mb": (rf.summary["storage_bytes"]
                       + rf.summary["sink_stored_bytes"]) / MB,
    }

    def n(t):
        return (f"geometric mean of {t[4]} samples {t[0]:.6g} ms; median "
                f"{t[1]:.6g} ms; tail p{t[2]:g} = {t[3]:.6g} ms with "
                f"{t[5]} beyond")
    steal = max(p["steal_frac"] for p in rf.passes)
    counts = {"setup_s": f"set-up {rf.summary['setup']['setup_s']:.6g} s "
                         f"+ cold pass {rf.passes[0]['wall_s']:.6g} s",
              "pass_s": f"median of {len(walls)} warm passes: "
                        + ", ".join(f"{x:.4g}" for x in walls)
                        + f" s; max steal {steal:.3f}",
              "read_ms": f"geometric mean over {len(calls)} read calls of "
                         f"each call's median; " + n(r),
              "storage_mb": f"at run end: blocks "
                            f"{rf.summary['storage_bytes'] / MB:.6g} MB, "
                            f"sink files "
                            f"{rf.summary['sink_stored_bytes'] / MB:.6g} MB"}
    # printed, not gated: its run-to-run spread exceeds any allowed bound
    shown = {"write_ms": f"{w[0]:.6g} ms  ({n(w)})"}
    return m, counts, shown


def _ops_metrics(rf: RunFiles):
    warm = rf.warm(False) | rf.warm(True)
    commits = [s for s in rf.samples if s["pass"] in warm
               and s["kind"] in ("ivm_commit", "cc_commit")]
    rows = sum(rf.rows_in[s["op"]] for s in commits)
    commit_s = sum(s["wall_ms"] for s in commits) / 1e3
    failed = sum(1 for s in rf.samples if not s["ok"])
    return {
        "ops.failed_frac": failed / max(1, len(rf.samples)),
        "streams.ingest_rows_per_s": rows / commit_s if commit_s else 0.0,
        "streams.bytes_written_mb":
            (sum(s["bytes_written"] for s in commits) / len(commits) / MB)
            if commits else 0.0,
    }


def op_layer(sp: dict, jobs: list, stages: list) -> dict:
    """One op execution's layer metrics, by suffix. `sp` maps phase name
    to span, `jobs` are the jobs of the op's group, `stages` the stage
    attempts submitted under that group. A stage a job lists but skips,
    because an earlier op already wrote its shuffle output, is never
    submitted in this group, so its work counts only where it ran."""
    m = {suffix: 0.0 for suffix, _ in LAYER_METRICS}
    phases = [sp[k] for k in ("construct", "plan", "exec") if k in sp]
    for k in ("construct", "plan", "exec"):
        if k in sp:
            m[f"{k}_s"] = (sp[k]["end_ms"] - sp[k]["start_ms"]) / 1e3
    m["jobs"] = len(jobs)
    if "construct" in sp:
        c = sp["construct"]
        m["construct_jobs"] = sum(
            1 for j in jobs if c["start_ms"] <= j["start_ms"] <= c["end_ms"])
    busy = []
    for st in stages:
        m["tasks"] += st["tasks"]
        m["failed_tasks"] += st["failed_tasks"]
        m["shuffle_mb"] += st["shuffle_write_b"] / MB
        m["spill_mb"] += st["spill_b"] / MB
        m["busy_s"] += st["run_ms"] / 1e3
        m["gc_s"] += st["gc_ms"] / 1e3
        if st["submit_ms"] >= 0 and st["complete_ms"] >= 0:
            busy.append((st["submit_ms"], st["complete_ms"]))
    if phases:
        m["driver_gap_s"] = gap_length(
            phases[0]["start_ms"], phases[-1]["end_ms"], busy) / 1e3
    return m


def per_layer(rf: RunFiles):
    """Per-layer metrics: per warm traced pass, summed over the ops of
    each layer; plus the set-up and run-level metrics."""
    traced = rf.warm(True)
    npass = max(1, len(traced))
    m = {name: 0.0 for name, _ in PER_LAYER}
    spans_by_exec = {}
    for sp in rf.spans:
        if sp["op"]:
            spans_by_exec.setdefault(sp["op"], {})[sp["name"]] = sp
    jobs_by_group = {}
    for j in rf.jobs:
        jobs_by_group.setdefault(j["group"], []).append(j)
    stages_by_group = {}
    for st in rf.stages:
        stages_by_group.setdefault(st["group"], []).append(st)
    harness = 0.0
    for s in rf.samples:
        if s["pass"] not in traced:
            continue
        ex = f"{s['pass']}:{s['op']}"
        sp = spans_by_exec.get(ex, {})
        if "op" in sp:
            harness += self_time(
                (sp["op"]["start_ms"], sp["op"]["end_ms"]),
                [(sp[k]["start_ms"], sp[k]["end_ms"])
                 for k in ("construct", "plan", "exec") if k in sp]) / 1e3
        one = op_layer(sp, jobs_by_group.get(ex, []),
                       stages_by_group.get(ex, []))
        for suffix, v in one.items():
            m[f"{s['layer']}.{suffix}"] += v
    for L in LAYERS:
        for suffix, _ in LAYER_METRICS:
            m[f"{L}.{suffix}"] /= npass
    m["trace.harness_s"] = harness / npass
    m["first_pass_s"] = rf.passes[0]["wall_s"]
    m["write_ms"] = _latency(rf, "write")[0]
    for k in ("session.start_s", "model.graph_load_s",
              "streams.inputs_s"):
        m[k] = rf.summary["setup"].get(k, 0.0)
    m["setup.jobs"] = sum(len(v) for g, v in jobs_by_group.items()
                          if g.startswith("setup:"))
    m["model.memo_builds"] = sum(p["memo_builds"] for p in rf.passes
                                 if p["pass"] > 1)
    m["model.first_pass_memo_builds"] = rf.passes[0]["memo_builds"]
    m["streams.stored_mb"] = rf.summary["sink_stored_bytes"] / MB
    m["host.sentinel_start_s"] = rf.summary["sentinel_start_s"]
    m["host.sentinel_end_s"] = rf.summary["sentinel_end_s"]
    m["host.steal_frac"] = max(p["steal_frac"] for p in rf.passes)
    tw = [p["wall_s"] for p in rf.passes if p["pass"] in traced]
    uw = [p["wall_s"] for p in rf.passes if p["pass"] in rf.warm(False)]
    m["trace.overhead_s"] = (sum(tw) / len(tw) - sum(uw) / len(uw)
                             if tw and uw else 0.0)
    m.update(_ops_metrics(rf))
    return m
