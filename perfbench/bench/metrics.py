"""From one JVM's raw samples (result.json) to the benchmark's metrics.

End-to-end metrics (untraced runs) share their names across workloads; what
an operation and a pass are differs per workload:

  workload   operation                       pass
  dashboard  one HTTP request                one client's round of 10
                                             requests; the cold pass is one
                                             request per route
  batch      a gate (construct + execute),   every gate once, then one
             one unified or one staged       unified and one staged run
             pipeline run

Per-layer metrics (traced runs) come from the benchmark's spans and the
engine listener; `layer_report` also names every layer metric by the
module it measures."""
from . import stats


def rows_of(block, cols_key="cols", rows_key="samples"):
    """A column list plus row arrays, as a list of dicts."""
    cols = block[cols_key]
    return [dict(zip(cols, r)) for r in block[rows_key]]


def passes(workload, res):
    """(pass wall ms list, warm operation latencies, n operations,
    rate over the warm passes, operation latencies over the whole run)."""
    m = res["measured"]
    if workload == "dashboard":
        walls = [m["cold_end"] - m["cold_start"]] + \
            [r["end"] - r["start"] for r in rows_of(m, "rounds_cols", "rounds")]
        lat = [s["end"] - s["start"] if s["status"] == 200 else float("inf")
               for s in rows_of(m)]
        rate = len(lat) / ((m["t1"] - m["t0"]) / 1000.0)
        return walls, lat, len(lat), rate, lat
    ops = _gate_ops(m["gates"])
    for p in m["etl"]["passes"]:
        ops.setdefault(p["pass"], []).extend([p["unified_ms"], p["staged_ms"]])
    order = sorted(ops)
    walls = [sum(ops[p]) for p in order]
    warm = [t for p in order[1:] for t in ops[p]]
    every = [t for p in order for t in ops[p]]
    return walls, warm, len(every), len(warm) / (sum(warm) / 1000.0), every


def _gate_ops(g):
    """{pass: [gate construct + execute ms, ...]}"""
    ops = {}
    for r in rows_of(g):
        ops.setdefault(r["pass"], []).append(r["end"] - r["start"])
    return ops


# the end-to-end metrics the last JSON line carries: CPU time and memory,
# which hold still while the box's hypervisor takes a share of its CPUs;
# wall-clock metrics move with that share and are reported, not bounded
BOUNDED = ("setup_s", "peak_rss_mb", "cold_cpu_s", "warm_cpu_s")


def pass_cpu(workload, res):
    """CPU ms of the cold pass and of each warm pass; on dashboard each
    client round gets an equal share of the rounds' CPU."""
    m = res["measured"]
    if workload == "dashboard":
        n = len(m["rounds"])
        return m["cold_cpu_ms"], [m["rounds_cpu_ms"] / n] * n
    cpu = m["pass_cpu_ms"]
    return cpu[0], cpu[1:]


def end_to_end(workload, res):
    """{metric: (value, unit, n samples)} for every end-to-end metric, the
    bounded ones and the wall-clock ones."""
    walls, warm_ops, n_ops, rate, all_ops = passes(workload, res)
    ops = all_ops if workload == "dashboard" else warm_ops
    setups = res["setup_s"]
    cold_cpu, warm_cpu = pass_cpu(workload, res)
    return {
        "setup_s": (stats.median(setups), "s", len(setups)),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
        "cold_cpu_s": (cold_cpu / 1000.0, "s", 1),
        "warm_cpu_s": (stats.median(warm_cpu) / 1000.0, "s", len(warm_cpu)),
        "cold_s": (walls[0] / 1000.0, "s", 1),
        "warm_s": (stats.median(walls[1:]) / 1000.0, "s", len(walls) - 1),
        "p50_ms": (stats.median(ops), "ms", len(ops)),
        "rate_per_s": (rate, "1/s", n_ops),
    }


def named_metrics(workload, res, failed, attempted):
    """The workload's metrics under the names the benchmark's README uses:
    {name: (value, unit, n, note)}."""
    e = end_to_end(workload, res)
    out = {"setup_s": e["setup_s"] + ("median of the run's set-ups",),
           "peak_rss_mb": e["peak_rss_mb"] + ("VmHWM",),
           "error_rate": (failed / attempted, "ratio", attempted,
                          f"{failed} of {attempted} failed")}
    m = res["measured"]
    if workload == "dashboard":
        _, _, _, rate, lat = passes(workload, res)
        p, v, n, beyond = stats.percentile_rule(lat)
        out["dash_p50_ms"] = (stats.median(lat), "ms", len(lat), "all routes")
        out["dash_p95_ms"] = (v if p == 95 else stats.nearest_rank(lat, 95), "ms",
                              len(lat), f"p{p} rule, {beyond} samples beyond"
                              if p else "fewer than 10 samples beyond p50")
        out["dash_rps"] = (rate, "req/s", len(lat), f"{res['clients']} clients")
        samples = rows_of(m)
        for r in sorted({s["route"] for s in samples}):
            lr = [s["end"] - s["start"] for s in samples if s["route"] == r]
            out[f"route.{r}.p50_ms"] = (stats.median(lr), "ms", len(lr), "client latency")
    else:
        rows = res["inputs"]["rows"]
        u = [p["unified_ms"] for p in m["etl"]["passes"]]
        st = [p["staged_ms"] for p in m["etl"]["passes"]]
        out["etl_unified_rows_per_s"] = (rows / (stats.median(u) / 1000.0), "rows/s",
                                         len(u), "median unified run")
        out["etl_staged_rows_per_s"] = (rows / (stats.median(st) / 1000.0), "rows/s",
                                        len(st), "median init→load")
        ops = _gate_ops(m["gates"])
        walls = [sum(ops[p]) for p in sorted(ops)]
        out["gates_cold_s"] = (walls[0] / 1000.0, "s", 1, "first pass")
        out["gates_warm_s"] = (stats.median(walls[1:]) / 1000.0, "s",
                               len(walls) - 1, "median of later passes")
    return out


# ---- per-layer -------------------------------------------------------------

PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.construct_jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.job_overhead_ms": "ms", "spark.plan_ms": "ms",
    "spark.codegen_compile_ms": "ms", "spark.codegen_compiles": "count",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.deser_ms": "ms", "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.task_failures": "count",
    "op.build_ms": "ms", "op.exec_ms": "ms",
}

BUILD_SUFFIXES = (".build", ".construct")


def engine(res):
    """Jobs, tasks (each with its job), stages and queries as dicts, plus the
    job → (span, top-level span) attribution."""
    eng = res["engine"]
    jobs = [dict(zip(eng["jobs_cols"], j)) for j in eng["jobs"]]
    stage_job = {}
    for j in jobs:
        for s in str(j["stages"]).split(","):
            if s:
                stage_job[int(s)] = j["id"]
    tasks = [dict(zip(eng["tasks_cols"], t)) for t in eng["tasks"]]
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    stages = [dict(zip(eng["stages_cols"], s)) for s in eng["stages"]]
    queries = [dict(zip(eng["queries_cols"], q)) for q in eng["queries"]]
    attr = stats.attribute_jobs(jobs, res["spans"])
    return jobs, tasks, stages, queries, attr


def _spark(jobs, tasks, stages, queries, span_by_id, attr, n_ops, wall_ms,
           cores, codegen_ns, codegen_n):
    job_ids = {j["id"] for j in jobs}
    tasks = [t for t in tasks if t["job"] in job_ids]
    stage_ids = {int(s) for j in jobs for s in str(j["stages"]).split(",") if s}
    execs = {str(j["exec"]) for j in jobs}
    by_job = {}
    for t in tasks:
        by_job.setdefault(t["job"], []).append(t)
    done = [j for j in jobs if j["end"] >= 0]
    overheads = [stats.job_overhead(j, by_job.get(j["id"], [])) for j in done]
    construct = sum(1 for j in jobs if attr[j["id"]][0] is not None and
                    span_by_id[attr[j["id"]][0]]["name"].endswith(BUILD_SUFFIXES))
    run_ms = sum(t["run_ms"] for t in tasks)
    per = 1.0 / max(n_ops, 1)
    return {
        "spark.jobs": len(jobs) * per,
        "spark.construct_jobs": construct * per,
        "spark.stages": sum(1 for s in stages if s["id"] in stage_ids) * per,
        "spark.tasks": len(tasks) * per,
        "spark.job_overhead_ms": stats.median(overheads) if overheads else 0.0,
        "spark.plan_ms": sum(q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]
                             for q in queries if str(q["exec"]) in execs) * per,
        "spark.codegen_compile_ms": codegen_ns / 1e6 * per,
        "spark.codegen_compiles": codegen_n * per,
        "spark.task_run_ms": run_ms * per,
        "spark.task_cpu_ms": sum(t["cpu_ms"] for t in tasks) * per,
        "spark.gc_ms": sum(t["gc_ms"] for t in tasks) * per,
        "spark.deser_ms": sum(t["deser_ms"] for t in tasks) * per,
        "spark.core_util": run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) * per,
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) * per,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) * per,
        "spark.input_bytes": sum(t["input_bytes"] for t in tasks) * per,
        "spark.output_bytes": sum(t["output_bytes"] for t in tasks) * per,
        "spark.task_failures": sum(1 for t in tasks if not t["ok"]),
    }


def _dur(s):
    return s["end"] - s["start"]


def per_layer(workload, res):
    """{metric: value} for every per-layer metric, from a traced run.

    spark.* are per operation: per request on dashboard (jobs of the
    in-process replays), per pipeline run or gate on batch (every job but
    the io probe's). op.build_ms / op.exec_ms are medians of the plan-build
    and execute spans: Facade.handle and the collect on dashboard,
    pipeline.build and pipeline.run for the pipeline, a gate's construct
    and execute for the gates."""
    spans = res["spans"]
    span_by_id = {s["id"]: s for s in spans}
    jobs, tasks, stages, queries, attr = engine(res)
    wall = res["measure_end_ms"] - res["measure_start_ms"]
    codegen_ns, codegen_n = res["codegen_ns"], res["codegen_n"]
    if workload == "dashboard":
        n_req = len(res["measured"]["samples"])
        keep = [j for j in jobs if attr[j["id"]][1] is not None and
                span_by_id[attr[j["id"]][1]]["name"].startswith("inproc.")]
        # the JVM-wide compile counters see the HTTP call and its replay
        codegen_ns, codegen_n = codegen_ns / 2.0, codegen_n / 2.0
        n_ops = n_req
        build = [_dur(s) for s in spans if s["name"].startswith("query.")
                 and s["name"].endswith(".build")]
        execute = [_dur(s) for s in spans if s["name"].startswith("query.")
                   and s["name"].endswith(".exec")]
    else:
        keep = [j for j in jobs if attr[j["id"]][1] is None or
                span_by_id[attr[j["id"]][1]]["name"] != "io.probe"]
        n_ops = passes(workload, res)[2]
        build = [_dur(s) for s in spans if s["name"] == "pipeline.build"
                 or s["name"].endswith(".construct")]
        execute = [_dur(s) for s in spans if s["name"] == "pipeline.run"
                   or s["name"].endswith(".execute")]
    out = _spark(keep, tasks, stages, queries, span_by_id, attr, n_ops, wall,
                 res["cores"], codegen_ns, codegen_n)
    out["op.build_ms"] = stats.median(build)
    out["op.exec_ms"] = stats.median(execute)
    return out


def layer_report(workload, res, untraced_e2e):
    """Every layer metric by name, the spark counters per top-level span
    group, the top-level self-time accounting and the tracing overhead, as
    printable (name, value, unit, n) rows."""
    spans = res["spans"]
    rows = []

    def add(name, vals, unit, agg="p50"):
        vals = [v for v in vals if v is not None]
        if not vals:
            return
        if agg == "p50":
            v = stats.median(vals)
        elif agg == "p95":
            p, v, n, beyond = stats.percentile_rule(vals)
            if v is None:
                v = stats.nearest_rank(vals, 95)
        elif agg == "mean":
            v = sum(vals) / len(vals)
        else:
            v = vals[0]
        rows.append((name, v, unit, len(vals)))

    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    durs = {k: [_dur(s) for s in v] for k, v in by_name.items()}
    jobs, tasks, stages, queries, attr = engine(res)
    span_by_id = {s["id"]: s for s in spans}
    if workload == "dashboard":
        m = res["measured"]
        samples = rows_of(m)
        routes = sorted({s["route"] for s in samples})
        for r in routes:
            add(f"service.{r}.p50_ms", durs.get(f"http.{r}", []), "ms")
            add(f"service.{r}.p95_ms", durs.get(f"http.{r}", []), "ms", "p95")
        for r in routes:
            http = durs.get(f"http.{r}", [])
            inproc = durs.get(f"inproc.{r}", [])
            if http and inproc:
                rows.append((f"service.{r}.overhead_ms",
                             stats.median(http) - stats.median(inproc), "ms", len(http)))
        http_all = [d for r in routes for d in durs.get(f"http.{r}", [])]
        inproc_all = [d for r in routes for d in durs.get(f"inproc.{r}", [])]
        if http_all and inproc_all:
            rows.append(("service.overhead_ms",
                         stats.median(http_all) - stats.median(inproc_all), "ms",
                         len(http_all)))
        gaps = [s["end"] - s["start"] - s["query_time_ms"] for s in samples
                if s["status"] == 200 and s["query_time_ms"] >= 0]
        add("service.envelope_gap_ms", gaps, "ms")
        add("service.response_bytes", [s["bytes"] for s in samples], "bytes", "mean")
        for r in routes:
            add(f"query.{r}.build_ms", durs.get(f"query.{r}.build", []), "ms")
            add(f"query.{r}.exec_ms", durs.get(f"query.{r}.exec", []), "ms")
        replay_jobs = [j for j in jobs if attr[j["id"]][1] is not None and
                       span_by_id[attr[j["id"]][1]]["name"].startswith("inproc.")]
        n_replays = sum(len(durs.get(f"inproc.{r}", [])) for r in routes)
        if n_replays:
            rows.append(("query.jobs_per_request", len(replay_jobs) / n_replays,
                         "count", n_replays))
        ids = {j["id"] for j in replay_jobs}
        read = sum(t["input_records"] for t in tasks if t["job"] in ids)
        returned = sum(r[1] for r in res["check"]["rows_returned"])
        if returned:
            rows.append(("query.rows_read_per_row_returned", read / returned,
                         "ratio", n_replays))
    else:
        e = res["measured"]["etl"]
        add("pipeline.build_ms", durs.get("pipeline.build", []), "ms")
        add("pipeline.unified.run_ms", durs.get("pipeline.run", []), "ms")
        add("service.unified.p50_ms", durs.get("service.unified", []), "ms")
        for st in ("extract", "transform", "load"):
            add(f"pipeline.staged.{st}_ms", durs.get(f"pipeline.staged.{st}", []), "ms")
        add("io.source_read_ms", durs.get("io.source_read", []), "ms")
        for k in ("parquet", "jsonl"):
            probe = [_dur(s) for s in by_name.get(f"io.sink.{k}", [])
                     if s["req"] == "probe"]
            add(f"io.sink.{k}_ms", probe, "ms")
        add("io.store.save_ms", durs.get("io.store.save", []), "ms")
        add("io.store.load_ms", durs.get("io.store.load", []), "ms")
        in_bytes = res["inputs"]["bytes"]
        written = [p["unified_bytes"] + p["staged_sink_bytes"] + p["store_bytes"]
                   for p in e["passes"]]
        add("io.bytes_written_per_input_byte", [w / in_bytes for w in written],
            "ratio", "mean")
        keep = {j["id"] for j in jobs if attr[j["id"]][1] is None or
                span_by_id[attr[j["id"]][1]]["name"] == "etl.pass"}
        read = sum(t["input_bytes"] for t in tasks if t["job"] in keep)
        rows.append(("io.bytes_read_per_input_byte",
                     read / in_bytes / max(len(e["passes"]), 1), "ratio",
                     len(e["passes"])))
        samples = rows_of(res["measured"]["gates"])
        warm = [s for s in samples if s["pass"] > 1]
        for gate in sorted({s["gate"] for s in samples}):
            add(f"gate.{gate}.construct_s", [(s["built"] - s["start"]) / 1000.0
                                             for s in warm if s["gate"] == gate], "s")
            add(f"gate.{gate}.execute_s", [(s["end"] - s["built"]) / 1000.0
                                           for s in warm if s["gate"] == gate], "s")
        for kind, sel in (("cold", lambda s: s["pass"] == 1),
                          ("warm", lambda s: s["pass"] > 1)):
            ps = sorted({s["pass"] for s in samples if sel(s)})
            con = [sum(s["built"] - s["start"] for s in samples if s["pass"] == p) / 1000.0
                   for p in ps]
            exe = [sum(s["end"] - s["built"] for s in samples if s["pass"] == p) / 1000.0
                   for p in ps]
            add(f"gates.{kind}.construct_s", con, "s")
            add(f"gates.{kind}.execute_s", exe, "s")
    for k, v in per_layer(workload, res).items():
        rows.append((k, v, PER_LAYER_UNITS[k], 1))
    # spark counters per top-level span group
    groups = {}
    for j in jobs:
        top = attr[j["id"]][1]
        g = span_by_id[top]["name"] if top is not None else "(server threads)"
        groups.setdefault(g, []).append(j)
    for g, js in sorted(groups.items()):
        ids = {j["id"] for j in js}
        ts = [t for t in tasks if t["job"] in ids]
        rows.append((f"spark[{g}].jobs", len(js), "count", 1))
        rows.append((f"spark[{g}].task_run_ms", sum(t["run_ms"] for t in ts), "ms", 1))
        rows.append((f"spark[{g}].shuffle_bytes",
                     sum(t["shuffle_write"] for t in ts), "bytes", 1))
    # top-level spans account for the measured wall time
    self_t = stats.self_times(spans)
    tops = [s for s in spans if s["parent"] == 0]
    wall = res["measure_end_ms"] - res["measure_start_ms"]
    covered = stats.union_length([(s["start"], s["end"]) for s in tops])
    rows.append(("trace.top_level_coverage", covered / wall, "ratio", len(tops)))
    layer_self = {}
    for s in spans:
        layer_self[s["name"].split(".")[0]] = \
            layer_self.get(s["name"].split(".")[0], 0.0) + self_t[s["id"]]
    for k, v in sorted(layer_self.items()):
        rows.append((f"trace.self_ms[{k}]", v, "ms", 1))
    traced = end_to_end(workload, res)
    for k, (v, unit, n) in traced.items():
        if k in untraced_e2e:
            rows.append((f"trace.overhead.{k}", v - untraced_e2e[k][0], unit, n))
    return rows
