"""Metric arithmetic: percentiles, the tail rule, interval coverage and
self time, and the per-layer numbers of a traced run."""
import statistics

TAIL_BEYOND = 10
MIB = 1048576.0


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample_count), or None when there are
    too few samples to leave `beyond` above any of them."""
    xs = sorted(values)
    k = len(xs) - beyond
    if k < 1:
        return None
    return xs[k - 1], 100.0 * k / len(xs), len(xs)


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    total, cur_s, cur_e = 0, None, None
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


def layer_times(start, end, layers):
    """Self time of each layer within [start, end].

    `layers` lists (name, intervals) from the innermost layer outwards.
    A layer's self time is the part of [start, end] its intervals cover
    minus the part its inner layers cover, so each instant counts once,
    for the innermost layer that covers it. Instants no layer covers
    count for none: the self times sum to the covered part only."""
    out, inner = {}, []
    for name, intervals in layers:
        both = inner + list(intervals)
        out[name] = covered(start, end, both) - covered(start, end, inner)
        inner = both
    return out


# ------------------------------------------------------------- end to end
# The host probe's time (ms) on a host that runs at the reference speed.
# Times are reported on that host's scale: each is multiplied by the
# reference over the run's median probe time.
PROBE_REF_MS = 27.0


def host_scale(report):
    """The reference probe time over the median of the run's probes,
    which are taken between the window's ops and right after it."""
    return PROBE_REF_MS / (statistics.median(ns for _, _, ns in report["probes"]) / 1e6)


def end_to_end(report, setup_s, passed, scaled=True, passes=None):
    """End-to-end metrics, on the reference host's scale unless `scaled`
    is false. The probes inside the window are not counted in its time.
    `passed` is the set of op ids whose output check passed; only they
    count as done. `passes` lists the op ids of each pass of a window
    made of passes of the same mix (None: one pass of all ops); the tail
    is taken in each pass at its op count, the maximum of a pass too
    small for the tail rule, and the median of the passes reported.
    Also returns (tail percentile, ops per pass, passes)."""
    ops = report["ops"]
    scale = host_scale(report) if scaled else 1.0
    ws, we = report["window_start"], report["window_end"]
    in_window = sum(e - s for s, e, _ in report["probes"] if s >= ws and e <= we)
    lat = {o["id"]: (o["end"] - o["start"]) / 1e6 * scale for o in ops}
    window_s = (we - ws - in_window) / 1e9 * scale
    groups = [[lat[i] for i in ids] for ids in passes or [list(lat)]]
    tails = [tail(g) or (max(g), 100.0, len(g)) for g in groups]
    return {
        "setup_s": (setup_s * scale, "s"),
        "ops_per_s": (sum(1 for o in ops if o["id"] in passed) / window_s, "1/s"),
        "latency_p50_ms": (statistics.median(lat.values()), "ms"),
        "latency_tail_ms": (statistics.median(x[0] for x in tails), "ms"),
        "live_heap_mb": (report["live_heap_mb"], "MiB"),
    }, (tails[0][1], tails[0][2], len(tails))


# -------------------------------------------------------------- per layer
PER_LAYER = [
    ("api.start_rtt_ms", "ms"), ("api.details_rtt_ms", "ms"),
    ("api.admission_wait_ms", "ms"),
    ("runner.run_ms", "ms"), ("runner.self_ms", "ms"),
    ("blocks.driver_ms", "ms"), ("blocks.expr_ms", "ms"),
    ("blocks.distributed_ms", "ms"),
    ("checkpoint.save_output_ms", "ms"), ("checkpoint.save_output_calls", "count"),
    ("checkpoint.files_written", "count"), ("checkpoint.bytes_written", "bytes"),
    ("checkpoint.save_document_ms", "ms"), ("checkpoint.load_output_ms", "ms"),
    ("checkpoint.read_documents_ms", "ms"),
    ("tables.load_jobs", "count"), ("tables.load_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
    ("spark.planning_ms", "ms"), ("spark.driver_gap_ms", "ms"),
    ("spark.shuffle_write_mb", "MiB"), ("spark.shuffle_read_mb", "MiB"),
    ("spark.spill_mb", "MiB"),
    ("queries.relational_ms", "ms"), ("functions.text_ms", "ms"),
    ("functions.dedup_ms", "ms"), ("functions.similarity_ms", "ms"),
    ("functions.multimodal_ms", "ms"), ("pipeline.queries_ms", "ms"),
    ("bulkrunner.run_ms", "ms"), ("bulkrunner.materialize_ms", "ms"),
    ("bulkrunner.checkpoint_write_ms", "ms"), ("bulkrunner.checkpoint_mb", "MiB"),
    ("bulkrunner.stages_hydrated", "count"), ("bulkrunner.stages_total", "count"),
    ("trace.latency_p50_ms", "ms"), ("trace.ops_per_s", "1/s"),
    ("trace.self_share_min", "ratio"), ("trace.self_share_median", "ratio"),
    ("host.probe_ms", "ms"),
]

# query name prefix -> per-pass family metric
FAMILIES = [("q", "queries.relational_ms"), ("ta_", "functions.text_ms"),
            ("dd_", "functions.dedup_ms"), ("ss_", "functions.similarity_ms"),
            ("mm_", "functions.multimodal_ms"), ("pl_", "pipeline.queries_ms")]


def family(query):
    for prefix, metric in FAMILIES[1:]:
        if query.startswith(prefix):
            return metric
    return FAMILIES[0][1]


def ms(ns):
    return ns / 1e6


def attribute(report, spans):
    """Group trace spans by the window op they belong to.

    Spans name their op directly (`<op id>`), by processing id
    (`pid:<id>`, resolved to the op of that pid whose interval from
    start to its details call contains the span's start) or by run
    (`run:<n>`, resolved through the `runner.run` span with id n)."""
    ops = {o["id"]: o for o in report["ops"]}
    by_pid = {}
    for o in report["ops"]:
        if "pid" in o:
            by_pid.setdefault(o["pid"], []).append(o)

    def of_pid(pid, at):
        for o in by_pid.get(pid, []):
            if o["start"] <= at <= o.get("details_end", o["end"]):
                return o["id"]
        return None

    run_op = {}
    for s in spans:
        if s["name"] == "runner.run" and s["op"].startswith("pid:"):
            run_op[s["id"]] = of_pid(s["op"][4:], s["start"])
    out = {oid: [] for oid in ops}
    for s in spans:
        key = s["op"]
        if key.startswith("pid:"):
            oid = of_pid(key[4:], s["start"])
        elif key.startswith("run:"):
            oid = run_op.get(int(key[4:]))
        else:
            oid = key if key in ops else None
        if oid is not None:
            out[oid].append(s)
    # SQL executions resolve through the jobs that share their id, or,
    # when they ran no job, by the op whose interval holds their start
    exec_op = {}
    for oid, ss in out.items():
        for s in ss:
            if s["name"] == "spark.job" and s["attrs"]["exec"] >= 0:
                exec_op[s["attrs"]["exec"]] = oid
    for s in spans:
        if s["name"] != "spark.plan":
            continue
        oid = exec_op.get(s["attrs"]["exec"])
        if oid is None:
            holders = [o["id"] for o in report["ops"] if o["start"] <= s["start"] <= o["end"]]
            oid = holders[0] if len(holders) == 1 else None
        if oid is not None:
            out[oid].append(s)
    return out


def op_layers(op, ss):
    """The spans of one pipeline_service op's blocking path, innermost
    layer first, as measured: block and checkpoint calls of the op's run,
    the run itself (`runner.run`), the admission wait, and the start
    request's round trip (`api.start_rtt`). None if the op has no run."""
    run = next((s for s in ss if s["name"] == "runner.run"), None)
    if run is None:
        return None

    def spans(*names):
        return [(s["start"], s["end"]) for s in ss if s["name"] in names]
    return [
        ("blocks", [(s["start"], s["end"]) for s in ss if s["name"].startswith("blocks.")]),
        ("checkpoint", [(s["start"], s["end"]) for s in ss
                        if s["name"].startswith("checkpoint.") and s["parent"] == run["id"]]),
        ("runner", [(run["start"], run["end"])]),
        ("admission", spans("api.admission_wait")),
        ("api", spans("api.start_rtt")),
    ]


def per_layer(workload, report, spans, passed):
    """Per-layer metrics of a traced run: per-op means unless noted.
    `passed` is the set of op ids whose output check passed."""
    ops = report["ops"]
    n = max(1, len(ops))
    groups = attribute(report, spans)
    m = {name: 0.0 for name, _ in PER_LAYER}

    def add(name, v):
        m[name] += v / n

    shares = []
    for o in ops:
        ss = groups[o["id"]]
        stages = [s for s in ss if s["name"] == "spark.stage"]
        for s in ss:
            name, d, a = s["name"], s["end"] - s["start"], s["attrs"]
            if name in ("api.start_rtt", "api.details_rtt", "api.admission_wait"):
                add(name + "_ms", ms(d))
            elif name.startswith("blocks."):
                add(name + "_ms", ms(d))
            elif name.startswith("checkpoint."):
                add(name + "_ms", ms(d))
                if name == "checkpoint.save_output":
                    add("checkpoint.save_output_calls", 1)
                if name in ("checkpoint.save_output", "checkpoint.save_document"):
                    add("checkpoint.files_written", a["files"])
                    add("checkpoint.bytes_written", a["bytes"])
            elif name == "runner.run":
                kids = [(c["start"], c["end"]) for c in ss
                        if c["name"].startswith("blocks.") or
                        (c["name"].startswith("checkpoint.") and c["parent"] == s["id"])]
                add("runner.run_ms", ms(d))
                add("runner.self_ms", ms(d - covered(s["start"], s["end"], kids)))
            elif name == "spark.job":
                add("spark.jobs", 1)
                if a["tables"]:
                    add("tables.load_jobs", 1)
                    add("tables.load_ms", ms(d))
                if any(st["attrs"].get("job") == a["job"] and st["attrs"].get("output_b", 0) > 0
                       for st in stages):
                    add("bulkrunner.checkpoint_write_ms", ms(d))
            elif name == "spark.stage":
                add("spark.stages", 1)
                add("spark.tasks", a["tasks"])
                add("spark.executor_run_ms", a.get("run_ms", 0))
                add("spark.executor_cpu_ms", a.get("cpu_ms", 0))
                add("spark.shuffle_write_mb", a.get("shuffle_write_b", 0) / MIB)
                add("spark.shuffle_read_mb", a.get("shuffle_read_b", 0) / MIB)
                add("spark.spill_mb", a.get("spill_b", 0) / MIB)
                # only BulkRunner's stage checkpoints write output here
                add("bulkrunner.checkpoint_mb", a.get("output_b", 0) / MIB)
            elif name == "spark.plan":
                add("spark.planning_ms", a["planning_ms"])
            elif name in ("bulkrunner.run", "bulkrunner.materialize"):
                add(name + "_ms", ms(d))
        add("spark.driver_gap_ms", ms((o["end"] - o["start"]) -
                                      covered(o["start"], o["end"],
                                              [(s["start"], s["end"]) for s in stages])))
        layers = op_layers(o, ss) if workload == "pipeline_service" else None
        if layers is not None:
            own = layer_times(o["start"], o["end"], layers)
            shares.append(sum(own.values()) / max(1, o["end"] - o["start"]))
    if workload == "query_battery":
        passes = len(ops) / len({o["query"] for o in ops})
        for o in ops:
            m[family(o["query"])] += ms(o["end"] - o["start"]) / passes
    resumes = [o for o in ops if o["kind"] == "resume" and "stages_total" in o]
    if workload == "bulk_pipeline" and resumes:
        m["bulkrunner.stages_hydrated"] = statistics.mean(o["stages_hydrated"] for o in resumes)
        m["bulkrunner.stages_total"] = statistics.mean(o["stages_total"] for o in resumes)
    # layer times go on the reference host's scale like the end-to-end ones
    scale = host_scale(report)
    for name, unit in PER_LAYER:
        if unit == "ms":
            m[name] *= scale
    e2e, _ = end_to_end(report, 0.0, passed)
    m["trace.latency_p50_ms"] = e2e["latency_p50_ms"][0]
    m["trace.ops_per_s"] = e2e["ops_per_s"][0]
    m["host.probe_ms"] = PROBE_REF_MS / scale
    if shares:
        m["trace.self_share_min"] = min(shares)
        m["trace.self_share_median"] = statistics.median(shares)
    return m
