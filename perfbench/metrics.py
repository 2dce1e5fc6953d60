"""Reduction of one run's raw samples (written by the JVM runner) into the
benchmark's metrics, plus the result-digest check against the DuckDB
oracle. Pure functions, so the math is unit-tested on its own
(test_metrics.py)."""
import hashlib
import math
import statistics

INT_TYPES = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"}
TAIL_BEYOND = 10
STREAM_STEPS = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")


# ------------------------------------------------------------ percentiles

def tail_rank(n, target=0.90):
    """0-based rank of the reported tail sample among `n` sorted samples:
    the target percentile if at least TAIL_BEYOND samples lie beyond it,
    else the highest rank that still has TAIL_BEYOND beyond it, never
    below the (upper) median rank."""
    if n <= 0:
        raise ValueError("no samples")
    want = math.ceil(target * n) - 1
    return max(n // 2, min(want, n - 1 - TAIL_BEYOND))


def tail(samples, target=0.90):
    """(value, percentile actually reported, sample count)."""
    s = sorted(samples)
    r = tail_rank(len(s), target)
    return s[r], 100.0 * (r + 1) / len(s), len(s)


def median(samples):
    return statistics.median(samples)


# ------------------------------------------------------------ stream

def due_times(interval_ms, starts_ms):
    """Due time of each paced micro-batch: the processing-time tick it was
    scheduled for. Batch 0 is due when it starts; batch k >= 1 is due on the
    first interval-aligned tick after batch k-1 started, as Spark's
    processing-time trigger schedules it, so a batch that starts late
    because the one before overran is charged the wait. The replay source
    polls once per trigger, so a missed tick queues no posts and later
    batches are not charged for it."""
    return starts_ms[:1] + [s - s % interval_ms + interval_ms for s in starts_ms[:-1]]


def due_latencies(interval_ms, starts_ms, done_ms):
    """Per-batch latency from due time to the return of the sink calls."""
    return [d - u for d, u in zip(done_ms, due_times(interval_ms, starts_ms))]


# ------------------------------------------------------------ digests

def norm_type(t):
    s = str(t)
    return "int" if s in INT_TYPES else s


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def table_digest(tbl):
    """md5 over column names, normalized Arrow types and every cell, in row
    order and sorted column order. Integer widths are folded (as the
    engine's oracle gate does); floats compare bit-exactly."""
    cols = sorted(tbl.column_names)
    h = hashlib.md5()
    h.update(repr([(c, norm_type(tbl.schema.field(c).type)) for c in cols]).encode())
    for row in tbl.select(cols).to_pylist():
        h.update(("|".join(_canon(row[c]) for c in cols) + "\n").encode())
    return f"{h.hexdigest()}:{tbl.num_rows}"


def check_digest(actual, expected):
    """(ok, reason) for one query's result digest against the expected one."""
    if actual == expected:
        return True, ""
    return False, f"digest {actual} != expected {expected}"


# ------------------------------------------------------------ failures

def failures(ops, oracle_ok, checks=()):
    """(attempted, failed) over the timed ops. An op fails if it threw, if
    its query's result failed the oracle, or if it was digested and its
    digest differs from its query's first one. Each end-of-run check
    (stream state) counts as one more attempted op."""
    first = {}
    for o in ops:
        if o["digest"] and o["query"] not in first:
            first[o["query"]] = o["digest"]
    failed = 0
    for o in ops:
        failed += bool(o["error"] is not None
                       or not oracle_ok.get(o["query"], False)
                       or o["digest"].startswith("error")
                       or (o["digest"] and o["digest"] != first[o["query"]]))
    failed += sum(not c["ok"] for c in checks)
    return len(ops) + len(checks), failed


# ------------------------------------------------------------ spans

def self_times(spans):
    """Per span name, the summed self time: a span's duration minus the part
    of it covered by its children. A span's parent is the shortest span of
    the same op that strictly contains it."""
    by_op = {}
    for name, s, e, op in spans:
        by_op.setdefault(op, []).append((name, s, e))
    out = {}
    for items in by_op.values():
        items.sort(key=lambda x: (x[1], -(x[2] - x[1])))
        children = {i: [] for i in range(len(items))}
        for j, (_, s, e) in enumerate(items):
            best = None
            for i, (_, ps, pe) in enumerate(items):
                if i != j and ps <= s and e <= pe and (pe - ps) > (e - s):
                    if best is None or (pe - ps) < (items[best][2] - items[best][1]):
                        best = i
            if best is not None:
                children[best].append((s, e))
        for i, (name, s, e) in enumerate(items):
            covered, end = 0.0, s
            for cs, ce in sorted(children[i]):
                cs, ce = max(cs, end), min(ce, e)
                if ce > cs:
                    covered += ce - cs
                    end = ce
            out[name] = out.get(name, 0.0) + (e - s) - covered
    return out


def stream_spans(progress):
    """Spans rebuilt from StreamingQueryProgress: one trigger span per batch
    with its engine steps laid out in execution order."""
    spans = []
    for p in progress:
        if p["phase"] not in ("paced", "drain"):
            continue
        op = (1_000_000 if p["phase"] == "paced" else 2_000_000) + p["id"]
        d, t = p["durations"], p["trigger_ms"]
        spans.append(["stream.trigger", t, t + d.get("triggerExecution", 0), op])
        for step in STREAM_STEPS:
            if step in d:
                spans.append([f"stream.{step}", t, t + d[step], op])
                t += d[step]
    return spans


# ------------------------------------------------------------ metrics

def _group(ops, key):
    out = {}
    for o in ops:
        out.setdefault(o[key], []).append(o)
    return out


def _op_ms(o):
    return o["build_ms"] + o["exec_ms"]


def end_to_end(raw, workload):
    """Every end-to-end metric of one untraced (or traced) run."""
    m = {"setup_s": (raw["ready_ms"] - raw["process_start_ms"]) / 1000.0}
    ops = raw["ops"]
    if workload == "stream_replay":
        paced = sorted((b for b in raw["batches"] if b["phase"] == "paced"),
                       key=lambda b: b["id"])
        drain = [b for b in raw["batches"] if b["phase"] == "drain"]
        prog = {(p["phase"], p["id"]): p for p in raw["progress"]}
        lat = due_latencies(raw["interval_ms"],
                            [prog[("paced", b["id"])]["trigger_ms"] for b in paced],
                            [b["done_ms"] for b in paced])
        drain_rows = sum(p["rows"] for p in raw["progress"] if p["phase"] == "drain")
        m["latency_p50_ms"] = median(lat)
        m["latency_tail_ms"] = tail(lat)[0]
        m["throughput_per_s"] = drain_rows / raw["drain_s"]
        m["cold_s"] = median(raw["cold_starts_ms"]) / 1000.0
        m["warm_s"] = median([b["done_ms"] - prog[("drain", b["id"])]["trigger_ms"]
                              for b in drain]) / 1000.0
        m["cached_mb"] = max(b["stored_mb"] for b in raw["batches"])
        m["_samples"] = lat
    else:
        warm = [o for o in ops if o["phase"].startswith("warm")]
        lat = [_op_ms(o) for o in warm]
        m["latency_p50_ms"] = median(lat)
        m["latency_tail_ms"] = tail(lat)[0]
        m["throughput_per_s"] = 1000.0 * len(lat) / sum(lat)
        m["cold_s"] = sum(_op_ms(o) for o in ops if o["phase"] == "cold") / 1000.0
        passes = _group(warm, "phase")
        m["warm_s"] = median([sum(_op_ms(o) for o in p) / 1000.0 for p in passes.values()])
        m["cached_mb"] = raw["cached_end_mb"]
        m["_samples"] = lat
    return m


def warm_medians(ops):
    """Median warm time (build + noop write) of each query, in ms."""
    return {q: median([_op_ms(o) for o in v])
            for q, v in sorted(_group([o for o in ops if o["phase"].startswith("warm")],
                                      "query").items())}


def _phase_ms(spans_by_op, op_id, name):
    return sum(e - s for n, s, e in spans_by_op.get(op_id, ()) if n == name)


def per_layer(raw, workload, names):
    """Every per-layer metric of one traced run. Query workloads sum, over
    their distinct queries, each query's median (times) or its first
    measured run (counts), i.e. the cost of one warm pass; stream metrics
    are medians over micro-batches. A layer the workload does not reach
    reports 0. `names` are the declared per-layer metrics."""
    spans_by_op = {}
    for n, s, e, op in raw["spans"]:
        spans_by_op.setdefault(op, []).append((n, s, e))
    out = dict.fromkeys(names, 0.0)
    out["tables.open_ms"] = raw.get("tables_open_ms", 0.0)
    out["jvm.gc_ms"] = float(raw["gc_ms"])
    ops = raw["ops"]
    measured = [o for o in ops if o["phase"].startswith("warm")]
    if measured:
        groups = _group(measured, "query")

        def per_query_median(f):
            return sum(median([f(o) for o in v]) for v in groups.values())

        def first_count(key):
            return float(sum(v[0][key] for v in groups.values()))

        for metric, phase in (("catalyst.analysis_ms", "catalyst.analysis"),
                              ("catalyst.optimization_ms", "catalyst.optimization"),
                              ("catalyst.planning_ms", "catalyst.planning")):
            out[metric] = per_query_median(lambda o: _phase_ms(spans_by_op, o["id"], phase))
        out["codegen.compile_ms"] = per_query_median(lambda o: o["codegen_ms"])
        out["op.build_ms"] = per_query_median(lambda o: o["build_ms"])
        out["exec.task_run_ms"] = per_query_median(lambda o: o["task_run_ms"])
        out["exec.task_cpu_ms"] = per_query_median(lambda o: o["task_cpu_ms"])
        out["exec.shuffle_read_bytes"] = first_count("shuffle_read")
        out["exec.shuffle_write_bytes"] = first_count("shuffle_write")
        out["exec.spill_bytes"] = first_count("spill")
        for metric, key in (("op.jobs", "jobs"), ("exec.tasks", "tasks"),
                            ("exec.stages", "stages"), ("exec.exchanges", "exchanges")):
            out[metric] = first_count(key)
        cold = {o["query"]: o for o in ops if o["phase"] == "cold"}
        out["op.first_touch_s"] = sum(
            _op_ms(cold[q]) - median([_op_ms(o) for o in v])
            for q, v in groups.items() if q in cold) / 1000.0
        out["op.build_jobs"] = float(sum(
            sum(1 for n, s, e in spans_by_op.get(o["id"], ())
                if n == "exec.job" and o["start_ms"] <= s <= o["start_ms"] + o["build_ms"])
            for o in cold.values()))
        out["op.cached_mb"] = max(o["stored_mb"] for o in cold.values())
    if workload == "stream_replay":
        paced = [p for p in raw["progress"] if p["phase"] == "paced"]
        drain = [p for p in raw["progress"] if p["phase"] == "drain"]
        for metric, step in (("stream.latest_offset_ms", "latestOffset"),
                             ("stream.query_planning_ms", "queryPlanning"),
                             ("stream.add_batch_ms", "addBatch"),
                             ("stream.wal_commit_ms", "walCommit"),
                             ("stream.commit_offsets_ms", "commitOffsets")):
            out[metric] = median([p["durations"].get(step, 0) for p in paced])
        pb = [b for b in raw["batches"] if b["phase"] == "paced"]
        db = [b for b in raw["batches"] if b["phase"] == "drain"]
        out["sink.snapshot_ms"] = median([b["snapshot_ms"] for b in pb])
        out["sink.alert_ms"] = median([b["alert_ms"] for b in pb])
        out["stream.enrich_ms"] = median([b["enrich_ms"] for b in db])
        out["stream.rows_per_batch"] = sum(p["rows"] for p in drain) / max(1, len(drain))
    return out

