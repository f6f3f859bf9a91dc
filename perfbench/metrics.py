"""Turns the raw record of one benchmark run into its metrics.

The JVM side (perfbench.Main) writes what it observed: op records,
set-up times and, in a traced run, spans and per-op Spark counters.
Everything derived from them lives here, so the result line, the
trace reader and the tests share one definition of each metric.
"""
import math
import statistics

LAYERS = ["construct", "plan", "exec", "snapshot", "index"]
WRITE_KINDS = ["snapshot.commit", "snapshot.merge", "snapshot.delete",
               "snapshot.compact", "index.ingest"]
READ_KINDS = ["snapshot.read", "snapshot.point", "index.search"]
# an op's layer spans must cover this share of its wall
COVERAGE_TOLERANCE = 0.10
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """How many of n samples lie strictly above the q nearest-rank
    percentile."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(values, q=0.9, min_beyond=MIN_BEYOND):
    """The q percentile when at least `min_beyond` samples lie beyond
    it; otherwise the highest percentile that has that many beyond it.
    Returns (value, percentile used)."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    if n <= min_beyond:
        return percentile(values, 0.5), 0.5
    used = q
    if beyond(n, q) < min_beyond:
        used = (n - min_beyond) / n
    return percentile(values, used), used


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def layer_of(name):
    """The layer a span's self time belongs to (None for the op and
    action spans, whose self time no layer claims)."""
    head = name.split(".")[0]
    return head if head in LAYERS else None


def op_layers(spans):
    """op id -> {layer: seconds}. Each instant of an op counts once, for
    the layer of the deepest span that covers it (a span is clipped to
    its parent), so overlapping jobs are not counted twice; an instant
    whose deepest span has no layer (the op and action wrappers) counts
    for none."""
    by_id = {s["id"]: s for s in spans}
    eff = {}

    def clipped(s):
        """(start, end, depth) of s within its ancestors."""
        if s["id"] not in eff:
            p = by_id.get(s["parent"])
            if p is None:
                eff[s["id"]] = (s["start"], s["end"], 0)
            else:
                a, b, d = clipped(p)
                eff[s["id"]] = (max(a, s["start"]), min(b, s["end"]), d + 1)
        return eff[s["id"]]

    per_op = {}
    for s in spans:
        a, b, d = clipped(s)
        if b > a:
            per_op.setdefault(s["op"], []).append((a, b, d, layer_of(s["name"])))
    out = {}
    for op, ss in per_op.items():
        acc = out.setdefault(op, {})
        cuts = sorted({t for a, b, _, _ in ss for t in (a, b)})
        for lo, hi in zip(cuts, cuts[1:]):
            cover = [x for x in ss if x[0] <= lo and x[1] >= hi]
            if cover:
                layer = max(cover, key=lambda x: x[2])[3]
                if layer is not None:
                    acc[layer] = acc.get(layer, 0.0) + (hi - lo) / 1e6
    return out


def wall(op):
    """An op's time: construction plus action, without the interval in
    between where the harness wraps the query for its output check."""
    return ((op["split"] - op["start"]) + (op["end"] - op["act"])) / 1e6


def whole_passes(raw):
    """The measured ops of the passes that ran in full (every op of the
    pass was issued before the deadline), so that every run's
    statistics cover the same ops whatever the seed. Falls back to
    every measured op when not one pass completed."""
    size = raw["pass_size"]
    measured = [o for o in raw["ops"] if o["pass"] >= raw.get("first_pass", 0)]
    count = {}
    for o in measured:
        count[o["pass"]] = count.get(o["pass"], 0) + 1
    full = {p for p, n in count.items() if n == size}
    return [o for o in measured if o["pass"] in full] or measured


def missing_evidence(op, group):
    """What the listeners failed to record for an op, given its entry
    in the run record's `groups`: a query op needs the planning record
    of its action; every op needs at least one Spark job in its action
    and an end for every job it started. Without them a layer's time is
    only what the span arithmetic leaves over (exec absorbs a missing
    plan), not a measurement."""
    missing = []
    if op["kind"] == "query" and not group.get("planned"):
        missing.append("no plan record")
    action = group.get("action", {})
    if action.get("jobs", 0) == 0:
        missing.append("no job record")
    for phase in ("construct", "action"):
        g = group.get(phase, {})
        if g.get("jobs_ended", 0) < g.get("jobs", 0):
            missing.append(f"{phase} job without an end")
    return missing


def covered(op, layers, group, tol=COVERAGE_TOLERANCE):
    """Whether the listeners recorded the op's plan and jobs, and its
    layer self times sum to within tol of its wall."""
    w = wall(op)
    return (w > 0 and not missing_evidence(op, group)
            and abs(sum(layers.values()) - w) <= tol * w)


def median(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return sum(values) / len(values) if values else default


def geomean(values, default=0.0):
    return math.exp(mean([math.log(v) for v in values])) if values else default


def end_to_end(raw):
    """The end-to-end metrics of a run (taken from an untraced run),
    over its whole passes, and a summary that states the sample count,
    the median and the tail percentile the count supports.

    The latency metric is the geometric mean of the op times, not their
    median: an op set mixes ops whose times differ severalfold, so the
    median is one op's sample and moves with which op lands in the
    middle. In two trial sets of ten olap runs the median spread 0.20
    and 0.21 of itself between its quartiles where the geometric mean
    spread 0.15 and 0.14. A change of x% in any one op moves the
    geometric mean alike."""
    ops = whole_passes(raw)
    done = [wall(o) for o in ops if o["ok"]]
    # the passes' span of wall time: from the loop start to the end of
    # their last op
    measured = (max(o["end"] for o in ops) - raw["measure_start"]) / 1e6
    tail, used = tail_percentile(done) if done else (0.0, 0.9)
    return {
        "setup_s": median([s["total_s"] for s in raw["setup"]]),
        "latency_gmean_s": geomean(done),
        "throughput_ops_per_s": len(done) / measured if measured > 0 else 0.0,
    }, {"samples": len(done), "passes": len({o["pass"] for o in ops}),
        "p50_s": median(done), "tail_percentile": used, "tail_s": tail}


def failures(raw):
    """(attempted, failed): every op, plus the ingest final-table check."""
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    final = raw.get("extra", {}).get("final_table_ok")
    if final is not None:
        attempted += 1
        failed += 0 if final else 1
    return attempted, failed


def per_layer(raw):
    """The per-layer metrics of a traced run, over its whole passes."""
    ops = whole_passes(raw)
    layers = op_layers(raw.get("spans", []))
    groups = raw.get("groups", {})
    cores = raw["meta"]["nproc"]
    n = max(1, len(ops))
    m = {}

    setups = raw["setup"]
    m["setup.session_s"] = median([s["session_s"] for s in setups])
    m["setup.tables_s"] = median([s["tables_s"] for s in setups])
    m["setup.warm_s"] = median([s["warm_s"] for s in setups])
    m["setup.warm_jobs"] = setups[-1]["warm_jobs"]
    # the warm-up pass: first use of every op in a fresh session
    warm = [o for o in raw["ops"] if o["pass"] < raw.get("first_pass", 0)]
    m["setup.warmup_s"] = ((max(o["end"] for o in warm) - raw["warmup_start"]) / 1e6
                           if warm else 0.0)

    def lsum(layer, subset=ops):
        return sum(layers.get(o["id"], {}).get(layer, 0.0) for o in subset)

    def gsum(phase, key, subset=ops):
        return sum(groups.get(str(o["id"]), {}).get(phase, {}).get(key, 0)
                   for o in subset)

    m["construct.s"] = lsum("construct") / n
    m["construct.jobs"] = gsum("construct", "jobs") / n
    m["plan.s"] = lsum("plan") / n
    exec_s = lsum("exec")
    m["exec.s"] = exec_s / n
    # time inside Spark jobs: the rest of exec is work on the Spark
    # driver between them (adaptive re-planning, code generation)
    ids = {o["id"] for o in ops}
    jobs = {}
    for x in raw.get("spans", []):
        if x["name"] == "exec.job" and x["op"] in ids:
            jobs.setdefault(x["op"], []).append((x["start"], x["end"]))
    m["exec.job_s"] = sum(union_length(v) for v in jobs.values()) / 1e6 / n
    for key, name, scale in [
            ("jobs", "exec.jobs", 1), ("stages", "exec.stages", 1),
            ("tasks", "exec.tasks", 1), ("task_run_ms", "exec.task_run_s", 1e-3),
            ("task_cpu_ns", "exec.task_cpu_s", 1e-9), ("gc_ms", "exec.gc_s", 1e-3),
            ("task_wait_ms", "exec.task_wait_s", 1e-3),
            ("input_bytes", "exec.input_bytes", 1),
            ("shuffle_read_bytes", "exec.shuffle_read_bytes", 1),
            ("shuffle_write_bytes", "exec.shuffle_write_bytes", 1),
            ("spill_bytes", "exec.spill_bytes", 1)]:
        m[name] = gsum("action", key) * scale / n
    m["exec.task_failed"] = gsum("action", "task_failed") + gsum("construct", "task_failed")
    cpu = gsum("action", "task_cpu_ns") * 1e-9
    m["exec.cpu_util"] = cpu / (exec_s * cores) if exec_s > 0 else 0.0

    for mod in raw["modules"]:
        sub = [o for o in ops if o["module"] == mod]
        k = max(1, len(sub))
        m[f"{mod}.construct_s"] = lsum("construct", sub) / k
        m[f"{mod}.plan_s"] = lsum("plan", sub) / k
        m[f"{mod}.exec_s"] = lsum("exec", sub) / k
        m[f"{mod}.construct_jobs"] = gsum("construct", "jobs", sub) / k

    def kind_median(kind):
        return median([wall(o) for o in ops if o["kind"] == kind and o["ok"]])

    for kind in WRITE_KINDS + READ_KINDS:
        m[kind + "_s"] = kind_median(kind)
    m["latency_p50_s"] = median([wall(o) for o in ops if o["ok"]])
    writes = [wall(o) for o in ops if o["kind"] in WRITE_KINDS and o["ok"]]
    reads = [wall(o) for o in ops if o["kind"] in READ_KINDS and o["ok"]]
    m["write_p50_s"] = median(writes)
    m["read_p50_s"] = median(reads)

    extra = raw.get("extra", {})
    facts = extra.get("facts", {})
    written = sum(f.get("bytes_written", 0) for f in facts.values())
    changed = sum(f.get("rows_changed", 0) for f in facts.values())
    m["snapshot.bytes_written_per_row"] = written / changed if changed else 0.0
    live = extra.get("final_rows", 0)
    m["snapshot.table_bytes_per_live_row"] = extra.get("table_bytes", 0) / live if live else 0.0
    m["snapshot.files"] = extra.get("files", 0)
    point = [o for o in ops if o["kind"] == "snapshot.point"]
    read_bytes = gsum("action", "input_bytes", point)
    table_bytes = sum(facts.get(str(o["id"]), {}).get("table_bytes", 0) for o in point)
    m["snapshot.point_read_frac"] = read_bytes / table_bytes if table_bytes else 0.0

    # peak resident memory follows the JVM's adaptive heap sizing; its
    # run-to-run spread is too wide for an end-to-end bound
    m["rss_peak_mb"] = raw["rss_peak_mb"]
    attempted, failed = failures(raw)
    m["failed_frac"] = failed / attempted if attempted else 0.0
    m["trace.coverage"] = mean([
        1.0 if covered(o, layers.get(o["id"], {}), groups.get(str(o["id"]), {})) else 0.0
        for o in ops])
    return m
