"""Turns one run's raw record (written by perfbench.BenchMain) into metrics.

Pure functions only, so that the rules are testable without Spark:
percentiles, call-site attribution, error accounting and the per-layer
aggregation of a traced run.
"""
import math
import re

# The packs and stored artifacts the query-mix pool reaches.
PACKS = ["Relational", "Etl", "Pack", "Ann", "Jx", "Multimodal", "Bpe", "StreamOps"]
ARTIFACTS = ["nested_orders", "bpe_merges"]

# Counters that are fixed for a given plan and input: a change between two
# result files of the same workload and seed is a plan change. Shuffle bytes
# are left out (the sink's rows carry time-derived generation numbers, so
# compressed sizes move by a few hundred bytes), and so are generated
# classes (compiles on concurrent threads race for the codegen cache).
EXACT_COUNTERS = ["exec.jobs", "exec.stages", "exec.tasks",
                  "exec.shuffle_records", "hierarchy.rounds"]

# a stack frame as StackTraceElement prints it, class-loader prefix
# ("app//") optional
_FRAME = re.compile(r"^\s*(?:at\s+)?(?:[\w.$@-]*/+)?graft\.[\w.$]+\(([\w$]+\.scala):\d+\)")


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(values, beyond=10):
    """The highest whole percentile that still has at least `beyond` samples
    above it, with its value; None when there are too few samples."""
    n = len(values)
    for p in range(99, 49, -1):
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= beyond:
            return p, percentile(values, p)
    return None


def graft_file(call_site):
    """The first `graft` source file in a Spark call site (long form), or
    None when no frame of the engine is on it."""
    for line in (call_site or "").splitlines():
        m = _FRAME.match(line)
        if m:
            return m.group(1)
    return None


def error_counts(raw):
    """(attempted, failed): every timed operation and every output check is
    attempted once; an operation fails when it raised or its own output
    check failed, a check fails when its answer differs."""
    ops = [s for s in raw.get("samples", []) if s["kind"] in ("mode", "query")]
    checks = raw.get("checks", [])
    failed = sum(1 for s in ops if not s.get("ok") or s.get("check") is False)
    failed += sum(1 for c in checks if not c.get("ok"))
    return len(ops) + len(checks), failed


def best_per_query(raw):
    """Each query's least latency over the run's passes: the samples are all
    cold with respect to persisted data, and the least of them is the one a
    burst of load on the machine did not slow down."""
    best = {}
    for s in raw["samples"]:
        if s["kind"] == "query" and s.get("ok"):
            best[s["name"]] = min(best.get(s["name"], s["s"]), s["s"])
    return best


def _ops(raw):
    """Latency of each operation: a delta batch, or a query (its best)."""
    batches = [s["s"] for s in raw["samples"] if s["kind"] == "batch"]
    return batches or list(best_per_query(raw).values())


def end_to_end(raw):
    """The metrics a user of the system sees, the same names for every
    workload. `unit_s` is the time of one unit of work: a delta batch
    (median), or a pass over the query pool (sum of each query's best)."""
    ops = _ops(raw)
    batched = any(s["kind"] == "batch" for s in raw["samples"])
    return {
        "setup_s": (median(raw["setups"]), "s"),
        "unit_s": (median(ops) if batched else sum(ops), "s"),
        "retained_heap_mb": (raw["counters"]["retained_heap_mb"], "MB"),
    }


def report(raw):
    """Every figure of the run, workload-specific ones included, for the
    human-readable line and the result file."""
    out = {k: v for k, (v, _) in end_to_end(raw).items()}
    out["op_p50_s"] = median(_ops(raw))
    attempted, failed = error_counts(raw)
    out["error_rate"] = failed / max(1, attempted)
    out["storage_mb"] = raw["counters"]["storage_mb"]
    ph = raw["phases"]
    if raw["workload"] == "etl-closure":
        for mode in ("closure", "closure-deletes", "replicate"):
            xs = [s["s"] for s in raw["samples"]
                  if s["kind"] == "mode" and s["name"] == mode]
            out[mode.replace("-", "_") + "_batch_s"] = median(xs)
        out["initial_load_s"] = ph["initial_load_s"]
        out["vacuum_s"] = ph["vacuum_s"]
        out["batches"] = ph["batches"]
        out["store_bytes_per_pair"] = ph["closure_dest_bytes"] / max(1, ph["live_pairs"])
    else:
        out["artifact_build_s"] = sum(ph["artifact_build"].values())
        out["passes"] = ph["passes"]
        queries = [s for s in raw["samples"] if s["kind"] == "query"]
        out["cold_pass_s"] = sum(s["s"] for s in queries if s["pass"] == 1)
        for name, pick in (("jx", lambda s: s["pack"] == "Jx"),
                           ("pack", lambda s: s["pack"] != "Jx")):
            xs = [s["s"] for s in queries if pick(s)]
            out["%s_query_s.p50" % name] = median(xs)
            out["%s_query_samples" % name] = len(xs)
            tail = tail_percentile(xs)
            if tail:
                out["%s_query_s.p%d" % (name, tail[0])] = tail[1]
    out["checks"] = raw["checks"]
    return out


def _timed(job):
    """A job of the measured part: not set-up, not an output check."""
    span = job.get("span") or ""
    return span != "" and not span.startswith(("setup", "check", "vacuum"))


def per_layer(raw):
    """Per-layer metrics of a traced run (every name, zero where the
    workload does not reach the layer)."""
    sites = raw.get("sites", [])
    stages = {st["id"]: st for st in raw.get("stages", [])}
    jobs = []
    owned = set()
    # A stage is listed by every later job that reuses its shuffle output
    # (as a skipped stage); it belongs to the first job that lists it.
    # A job belongs to the action that started its SQL execution: query
    # stages run as jobs on Spark's own threads, whose stacks never reach
    # the engine. A job outside SQL has its own call site.
    sql_sites = raw.get("sql_sites", {})
    for j in sorted(raw.get("jobs", []), key=lambda j: j["id"]):
        j = dict(j)
        site = sql_sites.get(j.get("sql"), j["site"])
        j["file"] = graft_file(sites[site]) if site < len(sites) else None
        j["st"] = [stages[i] for i in j["stages"] if i in stages and i not in owned]
        owned.update(j["stages"])
        jobs.append(j)
    timed = [j for j in jobs if _timed(j)]
    spans = raw.get("spans", [])
    ctr = raw["counters"]
    cores = raw.get("cores", 1)

    def job_s(js):
        return sum((j["t1"] - j["t0"]) / 1000.0 for j in js)

    def shuffle(js):
        return sum(st["shuffle_read"] + st["shuffle_write"] for j in js for st in j["st"])

    def span_s(pred):
        return sum(s["s"] for s in spans if pred(s["name"]))

    tstages = [st for j in timed for st in j["st"]]
    m = {
        "jx.build_s": span_s(lambda n: n.startswith("query.Jx.") and n.endswith("/build")),
        "plan.s": span_s(lambda n: n.startswith("query.") and n.endswith("/plan")),
        "codegen.compile_s": ctr.get("codegen.compile_s", 0.0),
        "codegen.classes": ctr.get("codegen.classes", 0.0),
        "exec.jobs": len(timed),
        "exec.stages": len(tstages),
        "exec.tasks": sum(st["tasks"] for st in tstages),
        "exec.shuffle_read_bytes": sum(st["shuffle_read"] for st in tstages),
        "exec.shuffle_write_bytes": sum(st["shuffle_write"] for st in tstages),
        "exec.shuffle_records": sum(st["shuffle_write_records"] for st in tstages),
        "exec.spill_bytes": sum(st["spill"] for st in tstages),
    }
    units = [s for s in raw["samples"] if s["kind"] in ("batch", "query")]
    wall = sum(s["s"] for s in units)
    run_ms = sum(st["run_ms"] for st in tstages)
    m["exec.core_busy"] = run_ms / 1000.0 / (wall * cores) if wall else 0.0
    m["exec.driver_gap_s"] = driver_gap(units, timed)
    skews = [st["task_max_ms"] / st["task_med_ms"] for st in tstages
             if st["tasks"] >= 2 and st["task_med_ms"] > 0]
    m["exec.task_skew"] = max(skews) if skews else 1.0
    for p in PACKS:
        mine = [j for j in timed if (j.get("span") or "").startswith("query.%s." % p)]
        m["operators.%s.s" % p] = span_s(
            lambda n, p=p: n.startswith("query.%s." % p) and "/" not in n)
        m["operators.%s.shuffle_bytes" % p] = shuffle(mine)
    for a in ARTIFACTS:
        m["build.%s_s" % a] = span_s(lambda n, a=a: n.endswith("build." + a))
    hier = [j for j in timed if j["file"] == "Hierarchy.scala"]
    sink = [j for j in timed if j["file"] == "ParquetUpsertSink.scala"]
    m["hierarchy.job_s"] = job_s(hier)
    m["hierarchy.rounds"] = len(hier)
    m["hierarchy.shuffle_bytes"] = shuffle(hier)
    m["sink.job_s"] = job_s(sink)
    m["sink.bytes_written"] = ctr.get("sink.bytes_written", 0.0)
    m["sink.files_written"] = ctr.get("sink.files_written", 0.0)
    pushed = ctr.get("sink.pushed_rows", 0.0)
    m["sink.bytes_per_pushed_row"] = m["sink.bytes_written"] / pushed if pushed else 0.0
    m["sink.vacuum_s"] = raw["phases"].get("vacuum_s", 0.0)
    m["bookmark.job_s"] = job_s([j for j in timed if j["file"] == "ExtractBookmark.scala"])
    m["extract.rows"] = ctr.get("extract.rows", 0.0)
    m["pipeline.job_s"] = job_s([j for j in timed
                                 if j["file"] in ("EtlPipeline.scala", "Main.scala")])
    m["storage.persisted_rdds"] = ctr.get("storage.persisted_rdds", 0.0)
    m["storage_mb"] = ctr.get("storage_mb", 0.0)
    attempted, failed = error_counts(raw)
    m["error_rate"] = failed / max(1, attempted)
    return m


def driver_gap(units, jobs):
    """Seconds of unit wall time not covered by any job."""
    gap = 0.0
    for u in units:
        t0 = u["t0"]
        t1 = t0 + u["s"] * 1000.0
        spans = sorted((max(t0, j["t0"]), min(t1, j["t1"])) for j in jobs
                       if j["t1"] > t0 and j["t0"] < t1)
        covered, end = 0.0, t0
        for a, b in spans:
            if b > end:
                covered += b - max(a, end)
                end = b
        gap += max(0.0, (t1 - t0) - covered) / 1000.0
    return gap
