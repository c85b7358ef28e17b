"""Turns the harness's JSON records into end-to-end and per-layer metrics.

Pure functions only; `run.py` does the I/O. Layers are the program's
modules, recognised on the call-site stack of each Spark job (see
`Trace.records`).
"""
import statistics

# Module of a `graft.` stack frame, by class-name prefix.
MODULES = (
    ("graft.co2.", "co2"),
    ("graft.storage.", "storage"),
    ("graft.changefeed.", "changefeed"),
    ("graft.operators.", "operators"),
    ("graft.sql.", "sql"),
    ("graft.Queries", "catalog"),
    ("graft.plans.", "catalog"),
    ("graft.functions.", "catalog"),
)
PHASES = ("load", "harmonize", "analytics", "runlog")
PIPELINE = "graft.co2.Co2Pipeline."


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percent, value) or None when there are too few samples. The
    percentile is the nearest-rank one on a 5-point grid (50, 55, ..., 95).
    """
    xs = sorted(samples)
    best = None
    for p in range(50, 100, 5):
        rank = -(-p * len(xs) // 100)  # ceil(p * n / 100), 1-based
        if rank >= 1 and len(xs) - rank >= beyond:
            best = (p, xs[rank - 1])
    return best


def frames(site):
    """Class.method names of the stack, innermost first."""
    out = []
    for line in (site or "").splitlines():
        line = line.strip()
        if line.startswith("at "):
            line = line[3:]
        # drop a "loader/module/" prefix, as in "app//graft.Foo.bar(Foo.scala:1)"
        out.append(line.split("(", 1)[0].rsplit("/", 1)[-1])
    return out


def modules_of(site):
    """Every program module with a frame on the stack."""
    found = set()
    for f in frames(site):
        for prefix, mod in MODULES:
            if f.startswith(prefix):
                found.add(mod)
    return found


def phase_of(site):
    """Pipeline phase that issued a job: the innermost Co2Pipeline frame
    naming load, harmonize or analytics; a job issued by runPipeline
    itself is the run-log append. None when no Co2Pipeline frame."""
    seen_run = False
    for f in frames(site):
        if not f.startswith(PIPELINE):
            continue
        method = f[len(PIPELINE):]
        if "ingest" in method or "load" in method:
            return "load"
        if "harmonize" in method:
            return "harmonize"
        if "analytics" in method:
            return "analytics"
        if "runPipeline" in method:
            seen_run = True
    return "runlog" if seen_run else None


def has_frame(site, prefix):
    return any(f.startswith(prefix) for f in frames(site))


def covered_ms(intervals):
    """Length of the union of [start, end] intervals."""
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


def _index(records):
    by = {}
    for r in records:
        by.setdefault(r["type"], []).append(r)
    return by


def _jobs_in(jobs, t0, t1):
    return [j for j in jobs if t0 <= j["submit_ms"] <= t1]


def failures(records):
    """(attempted, failed): measured units, and units with a failed check."""
    units = {r["unit"] for r in records if r["type"] in ("op", "query")}
    bad = {r["unit"] for r in records if r["type"] == "check"}
    return max(1, len(units | bad)), len(bad)


def read_p50(reads):
    """Median over read kinds (or catalog queries) of each kind's median time.

    A plain median over all samples would fall on the gap between two kinds
    and move with the number of samples per run.
    """
    by_name = {}
    for r in reads:
        by_name.setdefault(r["name"], []).append(r["s"])
    return median([median(xs) for xs in by_name.values()])


def end_to_end(records):
    by = _index(records)
    # a cdc day without a new feed line skips harmonize and analytics: it is
    # a different code path, reported in the diagnostics, not in op_p50_s
    ops = [r["s"] for r in by.get("op", []) if r.get("loaded", 1) != 0]
    reads = by.get("read", []) + by.get("query", [])
    return {
        "op_p50_s": (median(ops), "s"),
        "read_p50_s": (read_p50(reads), "s"),
        "setup_s": (by["setup"][0]["setup_s"], "s"),
    }, {"ops": len(ops), "reads": len(reads),
        "op_tail": tail_percentile(ops), "read_tail": tail_percentile([r["s"] for r in reads])}


def _phase_split(op, js):
    """A pipeline run's wall time split at the end of each phase's last job.

    Returns (seconds per phase, jobs per phase, driver seconds: the part of
    each phase's span that none of its jobs covers).
    """
    prev_end, driver = op["t0_ms"], 0.0
    spans, counts = {}, {}
    for p in PHASES:
        pj = [j for j in js if phase_of(j["site"]) == p]
        end = op["t1_ms"] if p == "runlog" else max((j["end_ms"] for j in pj), default=prev_end)
        span = max(0, end - prev_end)
        busy = covered_ms([(max(j["submit_ms"], prev_end), j["end_ms"]) for j in pj])
        spans[p], counts[p] = span / 1e3, len(pj)
        driver += max(0, span - busy) / 1e3
        prev_end = max(prev_end, end)
    return spans, counts, driver


def per_layer(records, cores):
    by = _index(records)
    jobs = by.get("job", [])
    ops = by.get("op", [])
    reads = by.get("read", []) + by.get("query", [])
    m = {}

    phase = {p: [] for p in PHASES}
    phase_jobs = {p: [] for p in PHASES}
    driver, unattributed, run_jobs = [], [], []
    store = {k: [] for k in ("jobs", "write_s", "commits", "files", "mb")}
    feed_jobs, consumed = [], []
    merge_s, merge_jobs, lag_s = [], [], []
    # per unit: a cdc day with a new line, or a catalog pass
    for op in (o for o in ops if o.get("loaded", 1) != 0):
        js = _jobs_in(jobs, op["t0_ms"], op["t1_ms"])
        if op["kind"] == "cdc_run":
            spans, counts, drv = _phase_split(op, js)
            for p in PHASES:
                phase[p].append(spans[p])
                phase_jobs[p].append(counts[p])
            driver.append(drv)
            run_jobs.append(len(js))
            unattributed.append(len(js) - sum(counts.values()))
        sj = [j for j in js if "storage" in modules_of(j["site"])]
        store["jobs"].append(len(sj))
        store["write_s"].append(covered_ms([(j["submit_ms"], j["end_ms"]) for j in sj if j["output_b"] > 0]) / 1e3)
        st = op.get("storage") or {}
        store["commits"].append(st.get("commits", 0))
        store["files"].append(st.get("files", 0))
        store["mb"].append(st.get("bytes", 0) / 2**20)
        feed_jobs.append(sum(1 for j in js if "changefeed" in modules_of(j["site"])))
        consumed.append(op.get("consumed", 0))
        mj = [j for j in js if has_frame(j["site"], "graft.operators.MergeInto")]
        merge_jobs.append(len(mj))
        merge_s.append(covered_ms([(j["submit_ms"], j["end_ms"]) for j in mj]) / 1e3)
        lag_s.append(covered_ms([(j["submit_ms"], j["end_ms"]) for j in js
                                 if has_frame(j["site"], "graft.operators.OrderedLag")]) / 1e3)

    for p in ("load", "harmonize", "analytics"):
        m[f"co2.{p}_s"] = (median(phase[p]), "s")
    for p in PHASES:
        m[f"co2.{p}_jobs"] = (median(phase_jobs[p]), "count")
    m["co2.driver_s"] = (median(driver), "s")
    m["co2.run_jobs"] = (median(run_jobs), "count")
    m["co2.unattributed_jobs"] = (median(unattributed), "count")
    backfill = by.get("backfill", [])
    m["co2.backfill_s"] = (median([b["s"] for b in backfill]), "s")
    m["co2.backfill_jobs"] = (median([len(_jobs_in(jobs, b["t0_ms"], b["t1_ms"])) for b in backfill]), "count")
    m["storage.commits"] = (median(store["commits"]), "count")
    m["storage.jobs"] = (median(store["jobs"]), "count")
    m["storage.write_s"] = (median(store["write_s"]), "s")
    m["storage.files_written"] = (median(store["files"]), "count")
    m["storage.bytes_written_mb"] = (median(store["mb"]), "MB")
    m["changefeed.jobs"] = (median(feed_jobs), "count")
    m["changefeed.rows_consumed"] = (median(consumed), "count")
    m["operators.merge_s"] = (median(merge_s), "s")
    m["operators.merge_jobs"] = (median(merge_jobs), "count")
    m["operators.lag_s"] = (median(lag_s), "s")

    sql_reads = [r for r in reads if r["type"] == "read"]
    m["sql.plan_s"] = (median([r["plan_s"] for r in sql_reads]), "s")
    m["sql.exec_s"] = (median([r["exec_s"] for r in sql_reads]), "s")
    m["sql.jobs_per_read"] = (statistics.fmean(
        [len(_jobs_in(jobs, r["t0_ms"], r["t1_ms"])) for r in sql_reads]) if sql_reads else 0.0, "count")

    passes = {}
    for q in (r for r in reads if r["type"] == "query"):
        passes.setdefault(q["unit_pass"], []).append(q)
    m["catalog.plan_s"] = (median([sum(q["plan_s"] for q in qs) for qs in passes.values()]), "s")
    m["catalog.exec_s"] = (median([sum(q["exec_s"] for q in qs) for qs in passes.values()]), "s")
    m["catalog.build_s"] = (by["setup"][0].get("build_s", 0.0), "s")

    # Spark engine totals over every traced window, per traced unit
    windows = [(r["t0_ms"], r["t1_ms"]) for r in ops + reads]
    units = len(ops) or 1  # a cdc day (run and reads) or a catalog pass
    ws = [j for j in jobs if any(t0 <= j["submit_ms"] <= t1 for t0, t1 in windows)]
    wall_s = covered_ms(windows) / 1e3  # a catalog pass contains its queries
    run_s = sum(j["run_ms"] for j in ws) / 1e3
    m["spark.jobs"] = (len(ws) / units, "count")
    m["spark.stages"] = (sum(j["stages"] for j in ws) / units, "count")
    m["spark.tasks"] = (sum(j["tasks"] for j in ws) / units, "count")
    m["spark.executor_run_s"] = (run_s / units, "s")
    m["spark.executor_cpu_s"] = (sum(j["cpu_ns"] for j in ws) / 1e9 / units, "s")
    m["spark.shuffle_read_mb"] = (sum(j["shuffle_read_b"] for j in ws) / 2**20 / units, "MB")
    m["spark.shuffle_write_mb"] = (sum(j["shuffle_write_b"] for j in ws) / 2**20 / units, "MB")
    m["spark.spill_mb"] = (sum(j["spill_b"] for j in ws) / 2**20 / units, "MB")
    m["spark.max_task_s"] = (max((j["max_task_ms"] for j in ws), default=0) / 1e3, "s")
    m["spark.gc_s"] = (sum(j["gc_ms"] for j in ws) / 1e3 / units, "s")
    m["spark.slot_util"] = (run_s / (wall_s * cores) if wall_s else 0.0, "ratio")
    setup, end = by["setup"][0], by["end"][0]
    m["spark.codegen_compiles"] = (
        (end["codegen_compiles"] - setup["setup_codegen_compiles"]) / units, "count")
    m["spark.codegen_compile_s"] = (
        (end["codegen_compile_s"] - setup["setup_codegen_compile_s"]) / units, "s")
    m["setup.codegen_compile_s"] = (setup["setup_codegen_compile_s"], "s")
    m["driver.heap_peak_mb"] = (end["heap_peak_mb"], "MB")
    # the same end-to-end medians under tracing: minus the untraced run's
    # op_p50_s / read_p50_s on the same seed, they give the tracing overhead
    e2e, _ = end_to_end(records)
    m["trace.op_p50_s"] = e2e["op_p50_s"]
    m["trace.read_p50_s"] = e2e["read_p50_s"]
    return m
