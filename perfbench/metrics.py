"""Metric math for the benchmark.

Pure functions over the raw observations the JVM harness writes
(``Harness.scala``), so every rule here is testable without Spark:
``python3 -m unittest discover -s perfbench -p 'test_*.py'``.
"""

import math
import statistics

# Percentiles a tail metric may name, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


class MetricError(Exception):
    """The observations cannot support a metric (too few samples, a
    file no trigger took in, ...). The run then counts as failed."""


def supported_percentile(n, min_beyond=MIN_BEYOND):
    """Highest percentile on the ladder with at least ``min_beyond`` of
    ``n`` samples beyond it, or None when not even the median is."""
    best = None
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise MetricError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs) - 1e-9))
    return xs[rank - 1]


def tail(values, p):
    """``percentile`` that refuses a percentile the sample count cannot
    support under the at-least-ten-beyond rule."""
    top = supported_percentile(len(values))
    if top is None or top < p:
        raise MetricError(f"p{p:g} needs {math.ceil(MIN_BEYOND * 100 / (100 - p))} "
                          f"samples, have {len(values)}")
    return percentile(values, p)


def median(values):
    if not values:
        raise MetricError("median of no samples")
    return statistics.median(values)


def data_triggers(progress):
    """Progress events of triggers that read input, in batch order."""
    return sorted((t for t in progress if t["rows"] > 0),
                  key=lambda t: (t["batch"], t["ts_ms"]))


def trigger_end_ms(t):
    return t["ts_ms"] + t["dur"].get("triggerExecution", 0)


def map_files_to_triggers(file_lines, trigger_rows):
    """Index of the trigger whose input includes each file. Files are
    listed in arrival order and triggers in batch order; file i belongs
    to the first trigger whose cumulative input rows reach the
    cumulative lines written up to and including file i."""
    out = []
    j, seen = 0, 0
    written = 0
    for lines in file_lines:
        written += lines
        while seen < written:
            if j >= len(trigger_rows):
                raise MetricError(f"{written} lines written, triggers read {seen}")
            seen += trigger_rows[j]
            j += 1
        out.append(j - 1)
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span, intervals):
    """Length of ``span`` that ``intervals`` cover."""
    s0, e0 = span
    return union_length([(max(s, s0), min(e, e0)) for s, e in intervals])


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


# ---- end-to-end metrics -------------------------------------------------

def freshness_s(p):
    """Per change file: arrival (the rename into the log dir, or the
    stream start for a backlog) to the end of the trigger that read it."""
    trig = data_triggers(p["progress"])
    idx = map_files_to_triggers([f["lines"] for f in p["files"]],
                                [t["rows"] for t in trig])
    return [(trigger_end_ms(trig[i]) - f["arrive_ms"]) / 1000.0
            for f, i in zip(p["files"], idx)]


def read_latency_s(p):
    """Per read, start to end (the reads run closed loop)."""
    return [(r["end_ms"] - r["start_ms"]) / 1000.0 for r in p["reads"] if r["ok"]]


def apply_rows_per_s(p, ops_per_file):
    """Changes applied per second the pipeline was busy: the summed
    execution time of the triggers that read input, plus the drain of
    the background fold after the last one."""
    busy_ms = sum(t["dur"].get("triggerExecution", 0) for t in data_triggers(p["progress"]))
    busy_ms += p["drain_ms"]
    if busy_ms <= 0:
        raise MetricError("no busy time")
    return p["delivered_files"] * ops_per_file / (busy_ms / 1000.0)


def setup_s(raw):
    """Session build + warm-up + the median of the repeated snapshot
    loads (the benchmark's own input generation is not included)."""
    return raw["session_s"] + raw["warmup_s"] + median(raw["snapshot_reps_s"])


def end_to_end(raw, p):
    fresh = freshness_s(p)
    reads = read_latency_s(p)
    return {
        "setup_s": (setup_s(raw), "s"),
        "freshness_p50_s": (median(fresh), "s"),
        "freshness_p90_s": (tail(fresh, 90), "s"),
        "read_p50_s": (median(reads), "s"),
        "apply_rows_per_busy_s": (apply_rows_per_s(p, raw["ops_per_file"]), "changes/s"),
    }


# ---- per-layer metrics (traced pass) ------------------------------------

STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
FOLD_POOL = "graft-compact"


def _p50(xs):
    return median(xs) if xs else 0.0


def per_layer(raw, p, untraced):
    trig = data_triggers(p["progress"])
    rows = sum(t["rows"] for t in trig)
    krows = rows / 1000.0 if rows else 1.0
    spans = p["spans"]
    jobs = [j for j in p["jobs"] if j["end"] >= 0]
    stages = {s["id"]: s for s in p["stages"]}

    def job_sum(js, key):
        return sum(stages[s][key] for j in js for s in j["stages"] if s in stages)

    m = {}
    # Structured Streaming micro-batch host
    dur = lambda k: [t["dur"].get(k, 0) for t in trig]
    m["stream.triggers"] = (len(trig), "count")
    m["stream.trigger_p50_ms"] = (_p50(dur("triggerExecution")), "ms")
    m["stream.addBatch_p50_ms"] = (_p50(dur("addBatch")), "ms")
    m["stream.bookkeeping_p50_ms"] = (_p50([t["dur"].get("triggerExecution", 0) - t["dur"].get("addBatch", 0)
                                             for t in trig]), "ms")
    for k in STREAM_PHASES:
        m[f"stream.{k}_p50_ms"] = (_p50(dur(k)), "ms")
    m["stream.rows_per_trigger_p50"] = (_p50([t["rows"] for t in trig]), "rows")

    # cdc apply: the span around applyBatch and the jobs it launched
    applies = [s for s in spans if s["name"] == "apply"]
    apply_jobs = {s["id"]: [j for j in jobs if j["parent"] == s["id"] and j["pool"] != FOLD_POOL]
                  for s in applies}
    data_applies = [s for s in applies if apply_jobs[s["id"]]]
    all_apply_jobs = [j for s in data_applies for j in apply_jobs[s["id"]]]
    m["apply.p50_ms"] = (_p50([s["end"] - s["start"] for s in data_applies]), "ms")
    m["apply.jobs_per_trigger"] = (_p50([len(apply_jobs[s["id"]]) for s in data_applies]), "count")
    m["apply.stages_per_trigger"] = (_p50([sum(1 for j in apply_jobs[s["id"]] for st in j["stages"] if st in stages)
                                           for s in data_applies]), "count")
    m["apply.tasks_per_trigger"] = (_p50([job_sum(apply_jobs[s["id"]], "tasks") for s in data_applies]), "count")
    m["apply.job_gap_p50_ms"] = (_p50([self_time((s["start"], s["end"]),
                                                  [(j["start"], j["end"]) for j in apply_jobs[s["id"]]])
                                        for s in data_applies]), "ms")
    m["apply.task_s_per_krow"] = (job_sum(all_apply_jobs, "task_ms") / 1000.0 / krows, "s")
    m["apply.shuffle_bytes_per_krow"] = (job_sum(all_apply_jobs, "shuffle_bytes") / krows, "bytes")
    m["apply.bytes_written_per_krow"] = (job_sum(all_apply_jobs, "bytes_written") / krows, "bytes")
    written = [v for k, v in p["apply_files"].items()
               if any(t["batch"] == int(k) for t in trig)]
    m["apply.files_written_per_trigger"] = (_p50(written), "count")

    # cdc async fold: jobs in the fold pool, one fold per spawning apply
    fold_jobs = [j for j in jobs if j["pool"] == FOLD_POOL]
    folds = {}
    for j in fold_jobs:
        folds.setdefault(j["parent"], []).append(j)
    fold_stage_ids = {st for j in fold_jobs for st in j["stages"]}
    fold_tasks = [(t[1], t[2]) for t in p["tasks"] if int(t[0]) in fold_stage_ids]
    apply_intervals = [(j["start"], j["end"]) for j in all_apply_jobs]
    m["fold.count"] = (len(folds), "count")
    m["fold.p50_ms"] = (_p50([max(j["end"] for j in js) - min(j["start"] for j in js)
                              for js in folds.values()]), "ms")
    m["fold.task_s"] = (job_sum(fold_jobs, "task_ms") / 1000.0, "s")
    m["fold.bytes_rewritten"] = (job_sum(fold_jobs, "bytes_written"), "bytes")
    m["fold.overlap_task_s"] = (sum(covered(t, apply_intervals) for t in fold_tasks) / 1000.0, "s")
    m["fold.drain_ms"] = (p["drain_ms"], "ms")

    # cdc merge-on-read
    reads = [r for r in p["reads"] if r["ok"]]
    for kind in ("point", "count", "scan"):
        m[f"read.{kind}_p50_ms"] = (_p50([r["end_ms"] - r["start_ms"] for r in reads if r["kind"] == kind]), "ms")
    m["read.pending_deltas_p50"] = (_p50([r["deltas"] for r in reads]), "count")
    m["read.files_scanned_p50"] = (_p50([r["files"] for r in reads]), "count")
    m["read.bytes_scanned_p50"] = (_p50([r["bytes"] for r in reads]), "bytes")
    m["read.jobs_per_read"] = (_p50([sum(1 for j in jobs if j["parent"] == r["span"]) for r in reads]), "count")

    # self time of each layer's spans against the spans/jobs under them
    trig_spans = [(t["ts_ms"], trigger_end_ms(t)) for t in trig]
    apply_iv = [(s["start"], s["end"]) for s in data_applies]
    m["self.trigger_s"] = (sum(self_time(t, apply_iv) for t in trig_spans) / 1000.0, "s")
    m["self.apply_s"] = (sum(self_time((s["start"], s["end"]), [(j["start"], j["end"]) for j in apply_jobs[s["id"]]])
                             for s in data_applies) / 1000.0, "s")
    m["self.read_s"] = (sum(self_time((r["start_ms"], r["end_ms"]),
                                      [(j["start"], j["end"]) for j in jobs if j["parent"] == r["span"]])
                            for r in reads) / 1000.0, "s")

    # JVM
    m["jvm.gc_s"] = (p["gc_s"], "s")
    m["jvm.gc_count"] = (p["gc_count"], "count")
    m["jvm.heap_used_peak_mb"] = (p["heap_peak_mb"], "MB")

    # benchmark health
    late = [f["late_ms"] for f in p["files"]]
    m["gen.input_s"] = (raw["gen_input_s"], "s")
    m["gen.late_p95_ms"] = (percentile(late, 95) if late else 0.0, "ms")
    m["host.nproc"] = (raw["nproc"], "count")
    m["host.load1_start"] = (raw["load1_start"], "load")
    m["host.load1_end"] = (raw["load1_end"], "load")

    # tracing overhead: traced minus untraced pass, per end-to-end metric
    # of the timed phase (set-up is shared by both passes)
    traced_e2e = end_to_end(raw, p)
    for k, (v, unit) in untraced.items():
        if k != "setup_s":
            m[f"trace.overhead.{k}"] = (traced_e2e[k][0] - v, unit)
    return m


def result(raw, trace):
    """The benchmark's result line from one harness output."""
    passes = raw["passes"]
    problems = [q for p in passes for q in p["problems"]]
    attempted = sum(p["delivered_files"] + len(p["reads"]) for p in passes)
    failed = sum(sum(1 for r in p["reads"] if not r["ok"]) for p in passes)
    metrics = {}
    try:
        untraced = end_to_end(raw, next(p for p in passes if not p["traced"]))
        traced = [p for p in passes if p["traced"]]
        if trace and not traced:
            raise MetricError("no traced pass")
        metrics = per_layer(raw, traced[0], untraced) if trace else untraced
    except MetricError as e:
        problems.append(str(e))
    correct = not problems
    if not correct:
        # a correctness mismatch fails every operation of the run
        failed = attempted
    return {
        "correct": correct,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, problems
