#!/usr/bin/env python3
"""graft's benchmark: one workload per run, in a fresh JVM.

  python3 perfbench/run.py --workload {dashboard,batch} --seed N \
      --seconds S --trace {0,1}

Run from the repository root. The first run builds the harness and graft
with sbt (offline) into the checkout; later runs reuse the build while the
sources are unchanged. The run generates its inputs from the seed, does the
amount of work S seconds stand for, checks every output against DuckDB
outside the timed window, prints a report, and prints as its last line one
JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the run measures the workload untraced
and then traced on the same inputs, prints every layer metric, writes the
spans under .bench_build/perfbench/traces/, and the JSON carries the
per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLIENTS = 4
SETUP_REPS = 5
DASH_SF = 0.01
GATES_SF = 0.005
ETL_ROWS = 20000
GATES = ["q_doc_minhash_clusters", "q_exact_kth", "q_ref_integrity",
         "q_session_baskets", "q_agg_dashboard"]
# --seconds fixes the amount of work, so every run of a seed does the same
# work. Nominal durations on a 4-core box at the commit that defined the
# benchmark turn seconds into rounds and passes:
DASH_ROUND_S = 7.5  # one round = each client's next 10 requests
DASH_MIN_ROUNDS = 4  # 160 requests: 10 beyond the p93
BATCH_PASS_S = 15.0  # every gate once, one unified and one staged ETL run
JVM_HEAP, JVM_YOUNG = "3g", "512m"
DEADLINE_S = 170  # every run, traced ones too, ends before 180 s
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


BUILD_FILES = [os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]


def source_files():
    out = list(BUILD_FILES)
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(tree):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def build():
    """Compile graft and the harness; return the runtime classpath. Cached
    in the checkout, keyed by a hash of every source and build file."""
    missing = [f for f in BUILD_FILES if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft's sources are not next to perfbench/; run from a full checkout")
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    cp_file = os.path.join(STATE, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == key:
            return lines[1]
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    cp = [ln for ln in p.stdout.splitlines()
          if not ln.startswith("[") and "perfbench" in ln and ":" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(key + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def git_sha():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unavailable (not a git checkout)"


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def cpu_times():
    """(steal, total) jiffies of the box from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def steal_share(before, after):
    """Share of CPU time the hypervisor took between two cpu_times()."""
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 4) if total > 0 else 0.0


# ---- inputs ----------------------------------------------------------------

def work_amount(workload, seconds):
    """The run's fixed amount of work for --seconds."""
    if workload == "dashboard":
        return {"rounds": max(DASH_MIN_ROUNDS, math.ceil(seconds / DASH_ROUND_S))}
    return {"passes": max(2, round(seconds / BATCH_PASS_S))}


def make_inputs(workload, seed, seconds, work):
    """Generate the run's inputs; returns (params, inputs summary)."""
    from bench import gen
    params, info = work_amount(workload, seconds), {}
    if workload == "dashboard":
        tdir = os.path.join(work, "tables")
        info["tables"] = gen.tables(seed, DASH_SF, tdir)
        reqs = gen.dashboard_requests(seed, CLIENTS, (params["rounds"] + 1) // 2, DASH_SF)
        cold = gen.cold_requests(seed, DASH_SF)
        keys, cold_keys = {}, {}
        write_requests(os.path.join(work, "requests.tsv"), reqs, keys)
        write_requests(os.path.join(work, "cold.tsv"), cold, cold_keys, key_base=-1)
        params.update(tables=tdir, clients=CLIENTS,
                      requests=os.path.join(work, "requests.tsv"),
                      cold=os.path.join(work, "cold.tsv"))
        info["requests_by_key"] = {v: k for k, v in list(keys.items())
                                   + list(cold_keys.items())}
    else:
        csv = os.path.join(work, "input.csv")
        info.update(gen.etl_csv(seed, ETL_ROWS, csv))
        params["csv"] = csv
        tdir = os.path.join(work, "sf" + str(GATES_SF))
        info["tables"] = gen.tables(seed, GATES_SF, tdir)
        params.update(tables=tdir, gates=",".join(GATES))
    return params, info


def write_requests(path, reqs, keys, key_base=0):
    """One tab-separated line per request; equal requests share a key."""
    from bench import gen
    from urllib.parse import urlencode
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for c, lst in enumerate(reqs["clients"]):
            for i, r in enumerate(lst):
                k = gen.request_key(r)
                if key_base >= 0:
                    kid = keys.setdefault(k, len(keys))
                else:
                    kid = key_base - i
                    keys[k] = kid
                path_q = r["path"] + ("?" + urlencode(r["query"]) if "query" in r else "")
                body = json.dumps(r["body"], sort_keys=True, separators=(",", ":")) \
                    if "body" in r else ""
                f.write("\t".join([str(c), str(i // gen.ROUND_LEN), r["route"],
                                   str(kid), r["method"], path_q, body]) + "\n")


# ---- one JVM ---------------------------------------------------------------

def run_jvm(cp, workload, work, trace, params, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = dict(params, workload=workload, trace=int(trace),
                 cores=cores(), setup_reps=SETUP_REPS)
    with open(os.path.join(work, "params.properties"), "w") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    # a fixed heap and young generation keep the resident set comparable
    # from run to run
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main", work])
    err_path = os.path.join(work, "jvm.err")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=err, stderr=err)
        try:
            p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            tail(err_path)
            fail("the JVM ran past the run's deadline")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res_path = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(res_path):
        tail(err_path)
        fail(f"the JVM exited with {p.returncode}")
    with open(res_path) as f:
        return json.load(f)


def tail(path, n=40):
    with open(path, errors="replace") as f:
        lines = f.readlines()[-n:]
    sys.stderr.write("".join(lines))


def cores():
    return len(os.sched_getaffinity(0))


# ---- checks ----------------------------------------------------------------

def check(workload, res, info, params):
    """(attempted, failed, details) — a wrong output counts as failed."""
    from bench import checks, metrics
    m = res["measured"]
    if workload == "dashboard":
        samples = metrics.rows_of(m)
        cold = [{"route": r, "status": c, "key": -1 - i}
                for i, (r, c, _) in enumerate(m["cold"])]
        routes = {s["key"]: s["route"] for s in samples + cold if s["status"] == 200}
        reqs = {}
        for k, route in routes.items():
            reqs[k] = dict(json.loads(info["requests_by_key"][k]), route=route)
        bad = checks.dashboard(params["tables"], res["check"]["responses_dir"], reqs)
        failed = sum(1 for s in samples
                     if s["status"] != 200 or not s["same_as_first"] or s["key"] in bad)
        failed += sum(1 for s in cold if s["status"] != 200 or s["key"] in bad)
        return len(samples) + len(cold), failed, {"wrong_requests": bad,
                                      "errors": m.get("errors", []),
                                      "distinct_requests": len(routes)}
    g, e, gc = m["gates"], m["etl"], res["check"]["gates"]
    # every pass's unified (u) and staged (s) run writes both sinks
    runs = [os.path.join(e["out_dir"], f"{kind}{p}")
            for p in range(1, params["passes"] + 1) for kind in ("u", "s")]
    expected = checks.etl_expected(params["csv"])
    bad = checks.etl_outputs([os.path.join(r, sink) for r in runs
                              for sink in ("parquet", "jsonl")], expected)
    wrong_runs = {os.path.dirname(d) for d in bad}
    samples = metrics.rows_of(g)
    status = checks.gates(ROOT, params["tables"], gc["out_dir"], gc["oracle_sql"], GATES)
    wrong_gates = {k for k, s in status.items() if s not in ("pass", "rows-only")}
    wrong_gates |= set(gc["failed"])
    attempted = len(runs) + len(samples)
    failed = len(wrong_runs) + sum(1 for s in samples if s["gate"] in wrong_gates)
    details = {"wrong_outputs": bad, "outputs_checked": 2 * len(runs),
               "expected": list(expected), "gate_checks": status,
               "check_failures": gc["failed"]}
    return attempted, failed, details


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    started = time.time()
    cp = build()
    deadline = time.time() + DEADLINE_S
    from bench import metrics
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "nproc": cores(), "loadavg_start": loadavg(), "git_sha": git_sha()}
    work = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        params, info = make_inputs(a.workload, a.seed, a.seconds, work)
        inputs_s = time.time() - t0
        t0, c0 = time.time(), cpu_times()
        res = run_jvm(cp, a.workload, work, False, params, deadline)
        jvm_s, steal = time.time() - t0, steal_share(c0, cpu_times())
        res["inputs"], res["clients"] = info, CLIENTS
        t0 = time.time()
        attempted, failed, details = check(a.workload, res, info, params)
        stamp.update(jvm_s=round(jvm_s, 1), steal_share=steal,
                     check_s=round(time.time() - t0, 1))
        e2e = metrics.end_to_end(a.workload, res)
        named = metrics.named_metrics(a.workload, res, failed, attempted)
        stamp.update(java=res["java_version"], spark=res["spark_version"],
                     inputs_s=round(inputs_s, 3), setup_runs_s=res["setup_s"],
                     warmup_s=res["warmup_s"], first_op_s=round(res["first_op_s"], 3),
                     work=work_amount(a.workload, a.seconds))
        if a.workload == "dashboard":
            samples = metrics.rows_of(res["measured"])
            stamp["repeat_share"] = sum(s["repeat_sent"] for s in samples) / len(samples)
        else:
            stamp.update({k: info[k] for k in ("rows", "duplicate_share",
                                                "empty_field_share",
                                                "rows_with_empty_share")})
            stamp["passes"] = len(metrics.passes(a.workload, res)[0])
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u, n) in e2e.items()
                       if k in metrics.BOUNDED}
        layer_rows = None
        if a.trace:
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            params, info = make_inputs(a.workload, a.seed, a.seconds, work)
            tres = run_jvm(cp, a.workload, work, True, params, deadline)
            tres["inputs"], tres["clients"] = info, CLIENTS
            t_att, t_failed, t_details = check(a.workload, tres, info, params)
            attempted, failed = attempted + t_att, failed + t_failed
            details["traced"] = t_details
            layer_rows = metrics.layer_report(a.workload, tres, e2e)
            pl = metrics.per_layer(a.workload, tres)
            out_metrics = {k: {"value": v, "unit": metrics.PER_LAYER_UNITS[k]}
                           for k, v in pl.items()}
            tdir = os.path.join(STATE, "traces")
            os.makedirs(tdir, exist_ok=True)
            tpath = os.path.join(tdir, f"{a.workload}-seed{a.seed}.json")
            with open(tpath, "w") as f:
                json.dump({"stamp": stamp, "spans": tres["spans"],
                           "engine": tres["engine"],
                           "layer_metrics": [list(r) for r in layer_rows]}, f)
            stamp["trace_file"] = os.path.relpath(tpath, ROOT)
        stamp["loadavg_end"] = loadavg()
        stamp["wall_s"] = round(time.time() - started, 1)
        report(a, stamp, named, e2e, layer_rows, attempted, failed, details)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out_metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, stamp, named, e2e, layer_rows, attempted, failed, details):
    from bench import metrics
    print(f"== graft perfbench: {a.workload}, seed {a.seed}, {a.seconds:g} s"
          f"{', traced' if a.trace else ''}")
    print("run: " + json.dumps(stamp, sort_keys=True))
    print(f"output check: {'PASS' if failed == 0 else 'FAIL'} "
          f"({failed} of {attempted} operations failed)")
    for k, v in details.items():
        if v:
            print(f"  {k}: {json.dumps(v, sort_keys=True, default=str)[:2000]}")
    print("end-to-end (untraced):")
    for name, (v, unit, n, note) in named.items():
        print(f"  {name:<26} {v:>14.4f} {unit:<7} n={n:<6} {note}")
    for name, (v, unit, n) in e2e.items():
        print(f"  {name:<26} {v:>14.4f} {unit:<7} n={n:<6} "
              f"{'bounded' if name in metrics.BOUNDED else 'reported'}")
    if layer_rows:
        print("per-layer (traced):")
        for name, v, unit, n in layer_rows:
            print(f"  {name:<44} {v:>16.4f} {unit:<6} n={n}")


if __name__ == "__main__":
    main()
