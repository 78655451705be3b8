"""Arithmetic of the benchmark: percentiles, fingerprints, span self time,
recovery of the `graft-rate` clock origin, event latencies and the metrics
computed from one run's raw records. Pure Python; `test_harness.py` tests it.
"""
import bisect
import datetime
import hashlib
import math
import statistics

# ---------------------------------------------------------------- percentiles


def rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples."""
    return max(1, math.ceil(p * n - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p of the
    sample at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    return s[rank(p, len(s)) - 1]


def supported(p, n):
    """A percentile is reported only when at least ten samples lie beyond it."""
    return n - rank(p, n) >= 10


# ---------------------------------------------------------------- fingerprint

NULL = "\u0000"
SEP = "\u001f"
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DATE = datetime.date(1970, 1, 1)


def canon_double(x):
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    return str(round(x * 1e9))


def canon(v):
    """Canonical text of one value; must match Fingerprint.canon in Scala."""
    import decimal
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return canon_double(float(v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - EPOCH_DATE).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def row_hash(text):
    return int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")


def fingerprint(columns, rows):
    """(row count, 16-hex-digit hash, sorted column names) of a result given
    as column names and row tuples. Independent of row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total, n = 0, 0
    for r in rows:
        total = (total + row_hash(SEP.join(canon(r[i]) for i in order))) % (1 << 64)
        n += 1
    return n, format(total, "016x"), [columns[i] for i in order]


# ---------------------------------------------------------------- spans


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` maps id -> dict(parent, start, end)."""
    children = {}
    for sid, s in spans.items():
        children.setdefault(s.get("parent"), []).append((s["start"], s["end"]))
    return {sid: (s["end"] - s["start"]) - union_length(children.get(sid, []), s["start"], s["end"])
            for sid, s in spans.items()}


# ---------------------------------------------------------------- graft-rate clock


def parse_offset(text):
    """`graft-rate` offsets are `count:seconds`."""
    count, _, seconds = str(text).strip('"').partition(":")
    return int(count), int(seconds or 0)


def epoch_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


POLL_GAP_MS = 50.0


def recover_origin(samples):
    """Wall-clock origin (epoch ms) of a real-time `graft-rate` stream.

    The source reports `seconds = floor((t - origin) / 1000)` when its
    latestOffset is called at wall time t. Each progress sample is a dict
    with the trigger start `trigger_ms` (progress `timestamp`), the end
    offset's `seconds`, the `latest_offset_ms` duration, and the previous
    trigger's end `prev_end_ms` and `prev_seconds` (None for the first).

    Spark calls latestOffset after the trigger starts and within its
    duration, so origin lies in (trigger - (seconds+1)*1000,
    trigger + latest_offset_ms + 1 - seconds*1000]. When a trigger starts
    more than POLL_GAP_MS after the previous one ended, the engine polled
    in between without finding a new second (it re-polls every 10 ms), so
    at trigger - POLL_GAP_MS the source still reported prev_seconds: origin
    > trigger - POLL_GAP_MS - (prev_seconds+1)*1000. The estimate is the
    middle of the intersection. Returns (estimate, lo, hi)."""
    lo, hi = -math.inf, math.inf
    for x in samples:
        t, s = x["trigger_ms"], x["seconds"]
        lo = max(lo, t - (s + 1) * 1000.0)
        hi = min(hi, t + x["latest_offset_ms"] + 1.0 - s * 1000.0)
        if x["prev_end_ms"] is not None and t - x["prev_end_ms"] > POLL_GAP_MS:
            lo = max(lo, t - POLL_GAP_MS - (x["prev_seconds"] + 1) * 1000.0)
    if lo > hi:  # samples disagree by a clock tick: trust the lower bound
        return lo, lo, hi
    return (lo + hi) / 2.0, lo, hi


def origin_samples(rows):
    out, prev = [], None
    for x in sorted(rows, key=lambda x: x["trigger_ms"]):
        out.append({"trigger_ms": x["trigger_ms"], "seconds": x["seconds"],
                    "latest_offset_ms": x["duration"].get("latestOffset", 0),
                    "prev_end_ms": prev["commit_ms"] if prev else None,
                    "prev_seconds": prev["seconds"] if prev else None})
        prev = x
    return out


def cumulative(rates):
    out = [0]
    for r in rates:
        out.append(out[-1] + r)
    return out


def latency_segments(batches, rates, origin, limit):
    """Arithmetic runs of event latencies. `batches` are (start_count,
    end_count, commit_ms); an event with sequence number s, created in
    second u as the j-th event of that second, was due at origin + 1000u +
    j * floor(1e6 / rate_u) us, as the source stamps it. Only events with
    s < limit count. Yields (base_ms, step_ms, j0, j1): latency(j) =
    base - j * step."""
    cum = cumulative(rates)
    for a, b, commit in batches:
        b = min(b, limit)
        s = a
        while s < b:
            u = bisect.bisect_right(cum, s) - 1
            end = min(b, cum[u + 1])
            step = (1000000 // max(1, rates[u])) / 1000.0
            yield commit - origin - 1000.0 * u, step, s - cum[u], end - cum[u]
            s = end


def segments_quantile(segments, q):
    """Exact nearest-rank quantile of the latencies the segments describe."""
    segs = list(segments)
    n = sum(j1 - j0 for _, _, j0, j1 in segs)
    if n == 0:
        raise ValueError("no events")
    want = rank(q, n)

    def at_most(x):
        c = 0
        for base, step, j0, j1 in segs:
            jmin = j0 if step == 0 else max(j0, math.ceil((base - x) / step - 1e-9))
            if step == 0 and base > x:
                jmin = j1
            c += max(0, j1 - jmin)
        return c

    lo = min(base - (j1 - 1) * step for base, step, j0, j1 in segs if j1 > j0)
    hi = max(base - j0 * step for base, step, j0, j1 in segs if j1 > j0)
    for _ in range(60):
        mid = (lo + hi) / 2.0
        if at_most(mid) >= want:
            hi = mid
        else:
            lo = mid
    return hi, n


# ---------------------------------------------------------------- metrics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def batch_end_to_end(r):
    """End-to-end metrics of a batch run from its timed (untraced) passes."""
    timed = [e for e in r["executions"] if not e["traced"] and e["pass"] > 0]
    walls = [e["end"] - e["start"] for e in timed]
    return {
        "setup_s": (r["ready_ms"] - r["jvm_start_ms"]) / 1000.0,
        "pass_s": gate_pass_s(timed) / 1000.0,
        "latency_p50_ms": percentile(walls, 0.5),
        "rss_peak_mb": r["rss_peak_mb"],
    }, walls


def progress_rows(phase):
    out = []
    for p in phase["progress"]:
        src = p["sources"][0] if p.get("sources") else {}
        if src.get("endOffset") is None:
            continue
        a = parse_offset(src["startOffset"])[0] if src.get("startOffset") is not None else 0
        b, secs = parse_offset(src["endOffset"])
        d = p.get("durationMs", {})
        t = epoch_ms(p["timestamp"])
        out.append({"batch": p["batchId"], "start_count": a, "end_count": b, "seconds": secs,
                    "trigger_ms": t, "commit_ms": t + d.get("triggerExecution", 0),
                    "rows": p.get("numInputRows", 0), "duration": d,
                    "state": (p.get("stateOperators") or [{}])[0]})
    return out


def open_loop_latency(phase, window_seconds):
    """Event latency quantiles of the open-loop phase."""
    rows = progress_rows(phase)
    origin, lo, hi = recover_origin(origin_samples(rows))
    rates = phase["rates"]
    limit = cumulative(rates)[window_seconds]
    batches = [(x["start_count"], x["end_count"], x["commit_ms"]) for x in rows if x["end_count"] > x["start_count"]]
    segs = list(latency_segments(batches, rates, origin, limit))
    out = {"origin_ms": origin, "origin_uncertainty_ms": hi - lo}
    for name, q in (("p50", 0.5), ("p99", 0.99)):
        v, n = segments_quantile(segs, q)
        out[name] = v if supported(q, n) else None
        out["events"] = n
    cum = cumulative(rates)

    def available(t):
        return cum[min(len(cum) - 1, max(0, int((t - origin) // 1000)))]
    lags = [available(x["commit_ms"]) - x["end_count"] for x in rows]
    lags.append(available(phase["end"]) - phase["committed_count"])
    out["lag_rows"] = lags
    return out


def saturated_rows_per_s(phase):
    rows = [x for x in progress_rows(phase) if x["rows"] > 0]
    rows.sort(key=lambda x: x["batch"])
    if len(rows) < 3:
        raise ValueError("saturation phase committed fewer than 3 batches")
    n = sum(x["rows"] for x in rows[1:])
    return n / ((rows[-1]["commit_ms"] - rows[0]["commit_ms"]) / 1000.0)


def pipeline_end_to_end(r):
    phases = {p["phase"]: p for p in r["phases"]}
    lat = open_loop_latency(phases["open"], r["window_seconds"])
    rps = saturated_rows_per_s(phases["saturated"])
    return {
        "setup_s": (r["ready_ms"] - r["jvm_start_ms"]) / 1000.0,
        "pass_s": 1e6 / rps,
        "latency_p50_ms": lat["p50"],
        "rss_peak_mb": r["rss_peak_mb"],
    }, lat, rps


# ---------------------------------------------------------------- traced run

STREAM_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def build_spans(r):
    """The span tree of a traced run: id -> dict(kind, parent, start, end)."""
    spans = {}
    for e in r.get("executions", []):
        if not e["traced"]:
            continue
        q, b, a, rel = e["span_ids"]
        spans[q] = {"kind": "query", "gate": e["gate"], "parent": None, "start": e["start"], "end": e["end"]}
        spans[b] = {"kind": "build", "parent": q, "start": e["start"], "end": e["build_end"]}
        spans[a] = {"kind": "action", "parent": q, "start": e["build_end"], "end": e["action_end"]}
        spans[rel] = {"kind": "release", "parent": q, "start": e["action_end"], "end": e["end"]}
    for p in r.get("phases", []):
        if p.get("span_id") is not None:
            spans[p["span_id"]] = {"kind": "phase", "parent": None, "start": p["start"], "end": p["end"]}
    t = r["trace"]
    # One client, one query at a time: these spans never overlap.
    leaves = sorted((s["start"], s["end"], sid) for sid, s in spans.items()
                    if s["kind"] in ("build", "action", "release", "phase"))
    starts = [x[0] for x in leaves]

    def containing(ts):
        """The leaf span holding epoch-ms time ts (Spark's times are whole ms)."""
        i = bisect.bisect_right(starts, ts + 1.0) - 1
        return leaves[i][2] if i >= 0 and ts <= leaves[i][1] + 1.0 else None

    stage_job = {}
    for j in t["jobs"]:
        if not j["span"].isdigit() or int(j["span"]) not in spans:
            continue
        jid = "job-%d" % j["job"]
        spans[jid] = {"kind": "job", "parent": int(j["span"]), "start": j["start"], "end": j["end"]}
        for s in j["stages"]:
            stage_job[s] = jid
    for s in t["stages"]:
        if s["stage"] in stage_job and s["submit"] and s["complete"]:
            spans["stage-%d-%d" % (s["stage"], s["attempt"])] = dict(
                kind="stage", parent=stage_job[s["stage"]], start=s["submit"], end=s["complete"],
                **{k: s[k] for k in s if k not in ("stage", "attempt", "submit", "complete")})
    for i, qe in enumerate(t["query_executions"]):
        for phase, (a, b) in qe["phases"].items():
            parent = containing(a)
            if parent is not None and phase in ("analysis", "optimization", "planning"):
                spans["qe-%d-%s" % (i, phase)] = {"kind": "catalyst." + phase, "parent": parent,
                                                  "start": a, "end": b}
    for i, p in enumerate(t["progress"]):
        d = p.get("durationMs", {})
        t0 = epoch_ms(p["timestamp"])
        bid = "batch-%d" % i
        spans[bid] = {"kind": "streaming.batch", "parent": containing(t0), "start": t0,
                      "end": t0 + d.get("triggerExecution", 0)}
        cur = t0
        for part in STREAM_PARTS:
            if part in d:
                spans["%s-%s" % (bid, part)] = {"kind": "streaming." + part, "parent": bid,
                                                "start": cur, "end": cur + d[part]}
                cur += d[part]
    return spans


PER_LAYER = [
    ("queries.build_s", "s"), ("queries.action_s", "s"),
    ("cachescope.release_s", "s"), ("storage.persisted_rdds", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("catalyst.query_executions", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.driver_only_ms", "ms"), ("scheduler.task_delay_ms", "ms"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"), ("executor.gc_ms", "ms"),
    ("executor.utilization", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_ms", "ms"),
    ("shuffle.spill_bytes", "bytes"),
    ("streaming.batches", "count"), ("streaming.empty_batches", "count"),
    ("streaming.trigger_ms_p50", "ms"), ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.wal_commit_ms_p50", "ms"), ("streaming.query_planning_ms_p50", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_memory_bytes", "bytes"),
    ("streaming.state_commit_ms_p50", "ms"),
    ("sources.latest_offset_ms_mean", "ms"), ("sources.lag_rows", "count"),
    ("trace.overhead_ratio", "ratio"),
]

COUNT_FLAG = 3.0


def gate_pass_s(executions):
    """Sum over gates of each gate's median execution wall (ms)."""
    by_gate = {}
    for e in executions:
        by_gate.setdefault(e["gate"], []).append(e["end"] - e["start"])
    return sum(median(v) for v in by_gate.values())


def per_layer(r, spans):
    """Per-layer metrics of a traced run. Batch workloads report them per
    traced pass. The pipeline reports them per committed micro-batch of its
    traced phases, except the streaming and source medians, means and end
    values; a phase's query build and start, its run, and the
    `CacheScope.release()` after it stand in for a gate's build, action and
    release."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    kinds = {}
    for s in spans.values():
        kinds.setdefault(s["kind"], []).append(s)
    jobs, stages = kinds.get("job", []), kinds.get("stage", [])
    if "executions" in r:
        units = [e for e in r["executions"] if e["traced"]]
        untraced = [e for e in r["executions"] if not e["traced"] and e["pass"] > 0]
        norm = float(len({e["pass"] for e in units}))
        parts = [(e["start"], e["build_end"], e["action_end"], e["end"]) for e in units]
        m["storage.persisted_rdds"] = sum(e["persisted_rdds"] for e in units) / norm
        m["trace.overhead_ratio"] = gate_pass_s(units) / gate_pass_s(untraced) - 1.0
    else:
        units = [p for p in r["phases"] if p.get("span_id") is not None]
        norm = float(max(1, sum(len(progress_rows(p)) for p in units)))
        parts = [(p["start"], p["started"], p["stopping"], p["stopped"], p["end"]) for p in units]
        parts = [(a, b, c, c + (e - d)) for a, b, c, d, e in parts]
        phases = {p["phase"]: p for p in r["phases"]}
        m["trace.overhead_ratio"] = (saturated_rows_per_s(phases["saturated-untraced"])
                                     / saturated_rows_per_s(phases["saturated"]) - 1.0)
        progress = r["trace"]["progress"]
        d = [x.get("durationMs", {}) for x in progress]
        m["streaming.batches"] = float(len(progress))
        m["streaming.empty_batches"] = float(sum(1 for x in progress if x.get("numInputRows", 0) == 0))
        for name, keys in (("streaming.trigger_ms_p50", ("triggerExecution",)),
                           ("streaming.add_batch_ms_p50", ("addBatch",)),
                           ("streaming.wal_commit_ms_p50", ("walCommit", "commitOffsets")),
                           ("streaming.query_planning_ms_p50", ("queryPlanning",))):
            m[name] = median([sum(x.get(k, 0) for k in keys) for x in d])
        # latestOffset takes 0-1 ms, so a median would read 0 on every run
        m["sources.latest_offset_ms_mean"] = statistics.mean([x.get("latestOffset", 0) for x in d]) if d else 0.0
        states = [(x.get("stateOperators") or [{}])[0] for x in progress]
        if states:
            m["streaming.state_rows"] = float(states[-1].get("numRowsTotal", 0))
            m["streaming.state_memory_bytes"] = float(states[-1].get("memoryUsedBytes", 0))
            m["streaming.state_commit_ms_p50"] = median([x.get("commitTimeMs", 0) for x in states])
        m["sources.lag_rows"] = median(open_loop_latency(phases["open"], r["window_seconds"])["lag_rows"])
    m["queries.build_s"] = sum(b - a for a, b, _, _ in parts) / 1000.0 / norm
    m["queries.action_s"] = sum(c - b for _, b, c, _ in parts) / 1000.0 / norm
    m["cachescope.release_s"] = sum(e - c for _, _, c, e in parts) / 1000.0 / norm
    wall = sum(e - a for a, _, _, e in parts)
    job_iv = [(j["start"], j["end"]) for j in jobs]
    m["scheduler.driver_only_ms"] = sum((e - a) - union_length(job_iv, a, e) for a, _, _, e in parts) / norm
    for phase in ("analysis", "optimization", "planning"):
        m["catalyst.%s_ms" % phase] = sum(s["end"] - s["start"] for s in kinds.get("catalyst." + phase, [])) / norm
    m["catalyst.query_executions"] = len(kinds.get("catalyst.planning", [])) / norm
    m["scheduler.jobs"] = len(jobs) / norm
    m["scheduler.stages"] = len(stages) / norm
    m["scheduler.tasks"] = sum(s["tasks"] for s in stages) / norm
    m["scheduler.task_delay_ms"] = sum(s["task_wall_ms"] - s["run_ms"] - s["deser_ms"] for s in stages) / norm
    for field, name in (("run_ms", "executor.run_ms"), ("cpu_ms", "executor.cpu_ms"), ("gc_ms", "executor.gc_ms"),
                        ("shuffle_write_bytes", "shuffle.write_bytes"),
                        ("shuffle_read_bytes", "shuffle.read_bytes"),
                        ("fetch_wait_ms", "shuffle.fetch_wait_ms"), ("spill_bytes", "shuffle.spill_bytes")):
        m[name] = sum(s[field] for s in stages) / norm
    m["executor.utilization"] = sum(s["run_ms"] for s in stages) / (r["cpus"] * wall) if wall else 0.0
    return m


def count_report(r):
    """(gate, count() ms, median noop ms, flagged) for every gate of a batch
    traced run: flagged when materializing costs more than COUNT_FLAG x the
    count."""
    noop = {}
    for e in r["executions"]:
        if not e["traced"] and e["pass"] > 0:
            noop.setdefault(e["gate"], []).append(e["end"] - e["start"])
    out = []
    for c in r["counts"]:
        n = median(noop.get(c["gate"], []))
        out.append((c["gate"], c["count_ms"], n, n > COUNT_FLAG * c["count_ms"]))
    return out


def self_time_by_kind(spans, norm):
    st = self_times(spans)
    out = {}
    for sid, v in st.items():
        k = spans[sid]["kind"]
        out[k] = out.get(k, 0.0) + v / norm
    return out
