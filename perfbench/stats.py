"""Statistics of one benchmark run: turns the raw record the JVM driver
writes (ops, spans, counters, checks, facts) into the named end-to-end and
per-layer metrics listed in BENCHMARK.json."""

import statistics

# Percentiles considered for the tail, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

# Layers whose spans the benchmark records around calls into the engine.
LAYERS = ("op", "curation", "core.merge", "core.commit", "core.maintenance",
          "core.snapshot", "catalog", "streaming", "ext", "spark")

ROOT, BY_TIME, STREAM = 0, -1, -2


def percentile(xs, p):
    """Linear-interpolated percentile `p` (0-100) of `xs`."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """The highest ladder percentile with at least 10 of `n` samples beyond
    it. Below 20 samples no ladder step qualifies and the median is used."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        # samples beyond p, rounded so 100 * (1 - 0.9) counts as 10
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            best = p
    return best


def union_length(intervals):
    """Total length covered by possibly overlapping (t0, t1) intervals."""
    total, end = 0.0, None
    start = None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            if end is not None:
                total += end - start
            start, end = t0, t1
        else:
            end = max(end, t1)
    if end is not None:
        total += end - start
    return total


def clip(iv, lo, hi):
    return (max(iv[0], lo), min(iv[1], hi))


def resolve_parents(spans, slack_ms=1.0):
    """Return spans with every parent resolved to a span id (or 0).
    BY_TIME spans attach to the innermost benchmark-side span that encloses
    them (within `slack_ms`, since Spark stamps whole milliseconds); STREAM
    spans attach to the enclosing stream trigger."""
    client = [s for s in spans if s["parent"] >= 0 and s["layer"] != "spark"
              and not s["name"].startswith("plan.")
              and not (s["layer"] == "streaming")]
    triggers = [s for s in spans if s["layer"] == "streaming" and s["name"] == "trigger"]

    def enclosing(s, pool):
        best = None
        for c in pool:
            if c is s:
                continue
            if c["t0"] - slack_ms <= s["t0"] and s["t1"] <= c["t1"] + slack_ms:
                if best is None or c["t1"] - c["t0"] < best["t1"] - best["t0"]:
                    best = c
        return best["id"] if best else ROOT

    out = []
    for s in spans:
        p = s["parent"]
        if p == BY_TIME:
            p = enclosing(s, client)
        elif p == STREAM:
            p = enclosing(s, triggers)
        out.append(dict(s, parent=p))
    return out


def self_times(spans):
    """Seconds of each layer's spans not covered by their own child spans.
    Children may overlap each other; the covered part counts once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_length([clip((c["t0"], c["t1"]), s["t0"], s["t1"])
                              for c in kids.get(s["id"], [])
                              if c["t1"] > s["t0"] and c["t0"] < s["t1"]])
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["t1"] - s["t0"] - cover) / 1000.0
    return out


def latency_s(op):
    """An op's latency: from when it was due in an open loop, else from its
    start."""
    due = op.get("due")
    start = due if due is not None else op["t0"]
    return (op["t1"] - start) / 1000.0


def backlog_max(ops):
    """Most ops that were due but not yet done at any one time."""
    events = []
    for o in ops:
        events.append((o["due"] if o.get("due") is not None else o["t0"], 1))
        events.append((o["t1"], -1))
    depth = peak = 0
    for _, d in sorted(events, key=lambda e: (e[0], e[1])):
        depth += d
        peak = max(peak, depth)
    return peak


def accounting(ops, checks):
    """(attempted, failed): every op is attempted; an op fails when it
    raised, and each failed output check counts as one more failed op."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    failed += sum(1 for c in checks if not c["ok"])
    return attempted, min(failed, attempted)


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def is_ref(op):
    return op["kind"].startswith("ref.")


def busy_s(ops):
    """Time the ops kept the system busy: the sum of closed-loop op times,
    plus the span of each open-loop stretch from its first due time to its
    last completion (open-loop ops overlap; a stretch ends where a
    closed-loop op begins)."""
    total, stretch = 0.0, None
    for o in sorted(ops, key=lambda o: o["due"] if o.get("due") is not None else o["t0"]):
        if o.get("due") is None:
            if stretch:
                total += stretch[1] - stretch[0]
                stretch = None
            total += o["t1"] - o["t0"]
        elif stretch is None:
            stretch = [o["due"], o["t1"]]
        else:
            stretch[1] = max(stretch[1], o["t1"])
    if stretch:
        total += stretch[1] - stretch[0]
    return total / 1000.0


def requests(ops):
    """Ops as requests: an op on its own, or the ops sharing a group (a
    workload groups the ops that make up one request, so that percentiles
    do not fall between unlike op kinds)."""
    groups, out = {}, []
    for o in ops:
        if o.get("group"):
            groups.setdefault(o["group"], []).append(o)
        else:
            out.append([o])
    return out + list(groups.values())


def request_latencies(ops):
    """Latency of each request: its ops' latencies summed."""
    return [sum(latency_s(o) for o in r) for r in requests(ops)]


def cpu_per_op(ops):
    """Median over requests of a request's CPU (the process's Java threads)
    per op. The median
    keeps a burst of background work (a collection, a compile) that lands
    in one request from moving the figure."""
    return statistics.median(sum(o["cpu"] for o in r) / len(r) for r in requests(ops))


def end_to_end(raw):
    facts = raw["facts"]
    ops = [o for o in raw["ops"] if not is_ref(o) and not o["traced"]]
    lat = request_latencies(ops)
    span_s = busy_s(ops)
    return {
        # median of the repeated set-ups, plus the one warm-up
        "setup_s": (statistics.median(raw["setup_s"]) + facts.get("warm_s", 0.0), "s"),
        "op_p50_s": (percentile(lat, 50), "s"),
        "op_tail_s": (percentile(lat, tail_percentile(len(lat))), "s"),
        "ops_per_s": (len(ops) / span_s, "1/s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / span_s, "1/s"),
        "cpu_s_per_op": (cpu_per_op(ops), "s"),
        "live_heap_peak_mb": (facts["live_heap_peak_mb"], "MB"),
    }


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(raw):
    """Per-layer metrics of a traced run (the second half of its window)."""
    facts, c = raw["facts"], dict(raw["counters"])
    spans = resolve_parents(raw["spans"])
    by_id = {s["id"]: s for s in spans}
    untraced = [o for o in raw["ops"] if not is_ref(o) and not o["traced"]]
    traced = [o for o in raw["ops"] if not is_ref(o) and o["traced"]]

    def dur(layer, name=None, prefix=None):
        return sum((s["t1"] - s["t0"]) / 1000.0 for s in spans
                   if s["layer"] == layer and (name is None or s["name"] == name)
                   and (prefix is None or s["name"].startswith(prefix)))

    def count(layer):
        return sum(1 for s in spans if s["layer"] == layer)

    def ancestor_layer(s, layer):
        p = s["parent"]
        while p:
            a = by_id.get(p)
            if a is None:
                return None
            if a["layer"] == layer:
                return a
            p = a["parent"]
        return None

    jobs = [s for s in spans if s["layer"] == "spark"]
    job_iv = [(j["t0"], j["t1"]) for j in jobs]
    root_ops = [s for s in spans if s["layer"] == "op"]
    gap = 0.0
    for o in root_ops:
        inside = [clip(iv, o["t0"], o["t1"]) for iv in job_iv if iv[1] > o["t0"] and iv[0] < o["t1"]]
        gap += (o["t1"] - o["t0"] - union_length(inside)) / 1000.0
    ext_calls = count("ext")
    ext_jobs = sum(1 for j in jobs if ancestor_layer(j, "ext") is not None)
    nonempty = c.get("streaming.triggers", 0) - c.get("streaming.empty_triggers", 0)
    selfs = self_times(spans)
    # tracing overhead over the op kinds both halves ran
    u_kinds = {o["kind"] for o in untraced}
    t_lat = request_latencies([o for o in traced if o["kind"] in u_kinds])
    u_lat = request_latencies(untraced)
    sql = [latency_s(o) for o in raw["ops"] if o["kind"].startswith("sql.")]
    ref = [latency_s(o) for o in raw["ops"] if is_ref(o)]
    attempted, failed = accounting([o for o in raw["ops"] if not is_ref(o)], raw["checks"])
    m = {
        "curation.bulk_insert_s": dur("curation", "bulk_insert"),
        "curation.scd2_simple_s": dur("curation", "scd2_simple"),
        "curation.scd2_complex_s": dur("curation", "scd2_complex"),
        "curation.calls": count("curation"),
        "core.merge.busy_s": dur("core.merge"),
        "core.merge.rows_rewritten": c.get("core.merge.rows_rewritten", 0),
        "core.merge.useful_row_ratio": _ratio(c.get("core.merge.delta_rows", 0),
                                              c.get("core.merge.rows_rewritten", 0)),
        "core.commit.count": c.get("core.commit.count", 0),
        "core.commit.retries": c.get("core.commit.retries", 0),
        "core.commit.files_added": c.get("core.commit.files_added", 0),
        "core.commit.manifest_bytes": c.get("core.commit.manifest_bytes", 0),
        "core.maintenance.busy_s": dur("core.maintenance"),
        "core.maintenance.bytes_rewritten": c.get("core.maintenance.bytes_rewritten", 0),
        "core.maintenance.files_removed": c.get("core.maintenance.files_removed", 0),
        "core.snapshot.versions": facts.get("snapshot_versions", 0),
        "core.snapshot.manifest_files": facts.get("manifest_files", 0),
        "core.snapshot.time_travel_s": dur("core.snapshot", prefix="tt_"),
        "catalog.analysis_ms": c.get("catalog.analysis_ms", 0),
        "catalog.optimize_ms": c.get("catalog.optimize_ms", 0),
        "catalog.physical_ms": c.get("catalog.physical_ms", 0),
        "scan.files_planned": c.get("scan.files_planned", 0),
        "scan.files_total": c.get("scan.files_total", 0),
        "scan.prune_ratio": 1 - _ratio(c.get("scan.files_planned", 0), c.get("scan.files_total", 0))
        if c.get("scan.files_total", 0) else 0.0,
        "scan.delete_files": c.get("scan.delete_files", 0),
        "scan.bytes_read": c.get("scan.bytes_read", 0),
        "scan.runtime_pruned": c.get("scan.runtime_pruned", 0),
        "streaming.triggers": c.get("streaming.triggers", 0),
        "streaming.empty_trigger_ratio": _ratio(c.get("streaming.empty_triggers", 0),
                                                c.get("streaming.triggers", 0)),
        "streaming.add_batch_ms": c.get("streaming.addBatch_ms", 0),
        "streaming.query_planning_ms": c.get("streaming.queryPlanning_ms", 0),
        "streaming.wal_commit_ms": c.get("streaming.walCommit_ms", 0),
        "streaming.commit_offsets_ms": c.get("streaming.commitOffsets_ms", 0),
        "streaming.latest_offset_ms": c.get("streaming.latestOffset_ms", 0),
        "streaming.rows_per_trigger": _ratio(c.get("streaming.rows", 0), nonempty),
        "streaming.backlog_max": backlog_max(traced) if any(
            o.get("due") is not None for o in traced) else 0,
        "streaming.generator_late_ms": facts.get("generator_late_ms_max", 0),
        "ext.page_rank_s": dur("ext", "page_rank"),
        "ext.minhash_lsh_s": dur("ext", "minhash_lsh"),
        "ext.jobs_per_call": _ratio(ext_jobs, ext_calls),
        "spark.jobs": c.get("spark.jobs", 0),
        "spark.stages": c.get("spark.stages", 0),
        "spark.tasks": c.get("spark.tasks", 0),
        "spark.job_busy_s": union_length(job_iv) / 1000.0,
        "spark.driver_gap_s": gap,
        "spark.executor_cpu_s": c.get("spark.executor_cpu_s", 0),
        "spark.shuffle_write_bytes": c.get("spark.shuffle_write_bytes", 0),
        "spark.spill_bytes": c.get("spark.spill_bytes", 0),
        "jvm.gc_s": c.get("jvm.gc_s", 0),
        "jvm.heap_after_gc_mb": c.get("jvm.heap_after_gc_mb", 0),
        "write_amp": _ratio(facts.get("table_bytes_written", 0), facts.get("user_bytes", 0)),
        "space_amp": _ratio(facts.get("warehouse_bytes", 0), facts.get("live_bytes", 0)),
        "format_overhead": _ratio(percentile(sql, 50), percentile(ref, 50)) if sql and ref else 0.0,
        "failed_frac": failed_frac(attempted, failed),
        "op.tail_pct": tail_percentile(len(u_lat)),
        "op.samples": len(u_lat),
        "trace.overhead": _ratio(percentile(t_lat, 50), percentile(u_lat, 50))
        if t_lat and u_lat else 0.0,
    }
    for layer in LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    return m


# Units of the per-layer metrics, by name suffix or exact name.
def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name == "scan.bytes_read":
        return "bytes"
    if name.endswith(("ratio", "_amp", "overhead", "_frac")):
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    return "count"
