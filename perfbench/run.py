#!/usr/bin/env python3
"""Benchmark of the graft engine: theta joins, LLM curation, table ingest.

Run from the repository root:

    python3 perfbench/run.py --workload theta_join --seed 1 --seconds 15 --trace 0

One run builds the engine plus the harness once (sbt, cached by source
hash), generates the seeded inputs, launches one JVM with a fixed Spark
configuration (local[nproc]), runs two untimed warm-up rounds of every op
type, then whole rounds of the workload's ops as a closed loop with one
client until --seconds have passed.  Every result is checked against a
DuckDB twin (oracle.py).  The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see README.md).

--corrupt OP corrupts OP's first (warm-up) result before the check: the
run must then report correct=false (the oracle self-test).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("theta_join", "llm_curation", "table_ingest")
HELDOUT_SEED = 20261017  # held-out seed for validating later claims
RUN_LIMIT_S = 175        # a run must end within 180 s
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# summary metric name of each op class
CLASS_METRIC = {"band": "band_p50_s", "ineq": "ineq_p50_s", "interval": "interval_p50_s",
                "asof": "asof_p50_s", "theta1b": "theta1b_p50_s", "dedup": "dedup_p50_s",
                "ann": "ann_p50_s", "commit": "commit_p50_s", "read": "read_p50_s"}
THETA_OPS = ("band", "band_sql", "ineq", "interval", "point_in_interval", "asof", "theta1b")
def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build
def source_hash(repo):
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (repo / "src" / "main" / "scala", HERE / "scala"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(repo)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(repo):
    """Compile the engine sources with the harness (perfbench/build.sbt) and
    resolve the runtime classpath once, so every run launches `java`
    directly; later runs reuse it."""
    cache = HERE / ".build"
    cp_file = cache / f"classpath-{source_hash(repo)}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    shutil.rmtree(cache, ignore_errors=True)
    cache.mkdir(parents=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    log("building engine + harness with sbt (first run only)")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if not cp:
        raise SystemExit("build produced no classpath")
    cp_file.write_text(cp[-1].strip())
    log(f"build done in {time.time() - t:.0f} s")
    return cp[-1].strip()


def jvm_args(workload, seed, seconds, trace, cpus, run_dir, out, spans, params):
    """The harness's key=value arguments; every path is inside `run_dir`
    except the span file."""
    return {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "cpus": cpus, "in": run_dir / "in", "stage": run_dir / "stage",
            "local": run_dir / "local", "warehouse": run_dir / "warehouse",
            "table": run_dir / "table", "baseline": run_dir / "baseline",
            "out": out, "spans": spans, **params}


def java_cmd(cp, cpus):
    mem_gb = max(2, min(6, host_record(cpus)["mem_total_mb"] // 4096))
    cmd = ["java", f"-Xmx{mem_gb}g", "-XX:+UseG1GC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main"]


# ------------------------------------------------------------- utilities
def median(xs):
    return statistics.median(xs) if xs else None


def p90(xs):
    """p90 only where at least ten samples lie beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[-1]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def host_record(cpus):
    mem = 0
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                mem = int(ln.split()[1]) // 1024
    return {"nproc": cpus, "mem_total_mb": mem}


# ------------------------------------------------------------------ check
def check(workload, res, in_dir, table, seed, p, corrupt):
    """Compare every op result with the oracle.  Returns (attempted,
    failed, extra end-to-end figures, oracle-side trace figures)."""
    import oracle

    recs = [r for r in res["records"] if r["phase"] != "setup" or workload == "table_ingest"]
    if corrupt:
        victim = next((r for r in recs if r["op"] == corrupt and r["phase"] != "setup"), None)
        if victim is None:
            raise SystemExit(f"--corrupt: no result of op {corrupt}")
        victim["chk"] = (victim["chk"] or 0) + 1
        victim["rows"] = [[q, q] for q, _ in victim["rows"]]
    bad = []
    extra, oracle_trace = {}, {}
    if workload == "theta_join":
        exp = oracle.theta_expected(in_dir, p)
        for r in recs:
            if r["error"] or (r["count"], r["chk"]) != exp[r["op"]]:
                bad.append(r)
    elif workload == "llm_curation":
        sql = res["finish"]["oracle_sql"]
        cols = {r["op"]: r["chk_cols"] for r in recs if "chk_cols" in r}
        exp, exact, n_vec = oracle.llm_expected(in_dir, sql, cols)
        recalls = []
        for r in recs:
            if r["error"]:
                bad.append(r)
            elif r["op"] in exp:
                if (r["count"], r["chk"]) != exp[r["op"]]:
                    bad.append(r)
            else:
                rec = oracle.ann_check(r["rows"], exact, n_vec)
                if rec is None or rec < 0.5:
                    bad.append(r)
                elif r["phase"] != "warmup":
                    recalls.append(rec)
        extra["ann_recall"] = (mean(recalls), "ratio", len(recalls))
    else:
        fin = res["finish"]
        replay = oracle.IngestReplay(seed, recs, fin["head"])
        expected = replay.run()
        for r, e in zip(recs, expected):
            if r["error"] or (e is not None and (r["count"], r["chk"]) != e):
                bad.append(r)
        # the final relation is one more check
        if (fin["final_count"], fin["final_chk"]) != replay.head(fin["head"]):
            bad.append({"op": "final_relation"})
        written = oracle.tree_bytes(table)
        once = oracle.tree_bytes(res["baseline"])
        extra["write_amp"] = (written / once, "ratio", 1)
        rec, size = oracle.log_record(table, fin["head"])
        ranges = [r for r in recs if r["op"] == "range" and r["traced"]]
        oracle_trace.update({
            "log_bytes": size, "dirs_per_version": len(rec["dirs"]),
            "prune_ratio": mean([oracle.prune_ratio(table, r["read_version"], r["lo"], r["hi"])
                                 for r in ranges])})
        return len(recs) + 1, bad, extra, oracle_trace
    return len(recs), bad, extra, oracle_trace


# ---------------------------------------------------------------- metrics
def end_to_end(res, setup_s, extra, phase):
    """End-to-end figures of the untraced timed rounds (`phase`)."""
    timed = [r for r in res["records"] if r["phase"] == phase]
    rounds = [x["s"] for x in res["rounds"] if x["phase"] == phase]
    by_cls, by_op = {}, {}
    for r in timed:
        by_op.setdefault(r["op"], []).append(r["lat_s"])
        if r["cls"] in CLASS_METRIC:
            by_cls.setdefault(r["cls"], []).append(r["lat_s"])
    metrics = {
        "setup_s": (setup_s, "s", 1),
        "round_s": (median(rounds), "s", len(rounds)),
        "op_p50_s": (geomean([median(v) for v in by_op.values()]), "s", len(timed)),
    }
    summary = {f"wall_s.{ph}": (w, "s", 1) for ph, w in res["phase_wall_s"].items()}
    for cls, lat in sorted(by_cls.items()):
        summary[CLASS_METRIC[cls]] = (median(lat), "s", len(lat))
        if cls in ("commit", "read"):
            summary[CLASS_METRIC[cls].replace("p50", "p90")] = (p90(lat), "s", len(lat))
    summary.update(extra)
    return metrics, summary


def per_layer(res, oracle_trace, names):
    """Per-layer metrics of the traced rounds; a layer the workload does not
    exercise reports 0."""
    recs = res["records"]
    traced = [r for r in recs if r["traced"]]
    rounds = {ph: [x["s"] for x in res["rounds"] if x["phase"] == ph]
              for ph in ("untraced", "traced")}
    n_rounds = len(rounds["traced"])
    m = {k: 0.0 for k in names}

    def of(ops):
        return [r for r in traced if r["op"] in ops and not r["error"]]

    theta = of(THETA_OPS)
    if theta:
        rep_rows = {"band": 1, "band_sql": 1, "interval": 2, "point_in_interval": 1}
        n = res["params"]["rows"]
        rep_in = {op: k * n for op, k in rep_rows.items()}
        rep_in["theta1b"] = 2 * res["params"]["theta_rows"]
        reps = [r for r in theta if r["op"] in rep_in]
        ineq = [r for r in theta if r["op"] == "ineq"]
        routes = list(res["extras"]["routes"].values())
        m.update({
            "joins.call_s": sum(r["call_s"] for r in theta) / n_rounds,
            "joins.exec_s": sum(r["exec_s"] for r in theta) / n_rounds,
            "joins.jobs_per_op": mean([r["jobs"] for r in theta]),
            "joins.replication": sum(r.get("gen_rows", 0) for r in reps)
            / sum(rep_in[r["op"]] for r in reps),
            "joins.shuffle_bytes": mean([r.get("shuffle_bytes", 0) for r in theta]),
            "joins.task_skew": mean([r.get("task_skew", 1.0) for r in ineq]),
            "joins.spill_bytes": mean([r.get("spill_bytes", 0) for r in theta]),
            "plans.route_static": routes.count("static"),
            "plans.route_quantile": routes.count("quantile"),
            "plans.route_iejoin": routes.count("iejoin"),
            "plans.iejoin_exec_s": mean([r["exec_s"] for r in ineq])
            if res["extras"]["routes"]["skewed"] == "iejoin" else 0.0,
            "plans.rewrite_hits": sum(1 for r in theta if r["op"] == "band_sql"
                                      and r.get("rewrite")) / n_rounds,
        })
    llm = of(("dedup_exact", "dedup_near", "dedup_simhash", "similarity_topk", "ann_ivf"))
    if llm:
        first = min(r["round"] for r in recs if r["phase"] == "warmup")
        warm = sum(r["lat_s"] for r in recs if r["phase"] == "warmup" and r["round"] == first)
        an = [r for r in llm if r["cls"] == "ann"]
        m.update({
            "llm.stage_s": warm - median(rounds["untraced"]),
            "llm.ann_candidates_per_query": mean([r["join_rows"] / 10 for r in an]),
            "llm.jobs_per_op": mean([r["jobs"] for r in llm]),
            "fns.shingle_s": res["extras"]["shingle_s"],
            "fns.vecdot_s": res["extras"]["vecdot_s"],
        })
    io = of(("append", "merge", "range", "time_travel", "optimize"))
    if io:
        commits = [r for r in io if r["cls"] == "commit"]
        reads = [r for r in io if r["cls"] == "read"]
        opt = [r["lat_s"] for r in recs if r["op"] == "optimize"
               and r["phase"] in ("untraced", "traced")]
        m.update({
            "io.commit_jobs": mean([r["jobs"] for r in commits]),
            "io.bytes_per_commit": mean([r["bytes_written"] for r in commits]),
            "io.files_per_commit": mean([r["files_written"] for r in commits]),
            "io.log_bytes": oracle_trace["log_bytes"],
            "io.dirs_per_version": oracle_trace["dirs_per_version"],
            "io.prune_ratio": oracle_trace["prune_ratio"],
            "io.files_scanned_per_read": mean([r.get("files_read", 0) for r in reads]),
            "io.optimize_s": mean(opt),
        })
    def per_round(key):
        return sum(r.get(key, 0) for r in traced) / n_rounds

    m.update({
        "plans.nested_loop_nodes": res["plans"]["nested_loops"] / len(res["rounds"]),
        "spark.jobs": per_round("jobs"), "spark.tasks": per_round("tasks"),
        "spark.cpu_util": per_round("cpu_s") / (median(rounds["traced"]) * res["host"]["cpus"]),
        "spark.gc_s": per_round("gc_s"), "spark.sched_delay_s": per_round("sched_delay_s"),
        "spark.shuffle_write_bytes": per_round("shuffle_bytes"),
        "spark.spill_bytes": per_round("spill_bytes"),
        "trace.untraced_round_s": median(rounds["untraced"]),
        "trace.traced_round_s": median(rounds["traced"]),
    })
    m["trace.overhead_s"] = m["trace.traced_round_s"] - m["trace.untraced_round_s"]
    return m


# ------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default=None, help="self-test: corrupt this op's result")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    repo = Path.cwd()
    if not all((repo / f).exists() for f in ("BENCHMARK.json", "build.sbt", "src/main/scala")):
        raise SystemExit("run from the repository root: BENCHMARK.json, build.sbt and "
                         "src/main/scala are needed")
    spec = json.loads((repo / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    cpus = len(os.sched_getaffinity(0))
    cp = build(repo)
    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S

    import gen

    run_dir = HERE / ".runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = HERE / "out"
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = run_dir / "in"
    in_dir.mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    proc = None
    try:
        if args.workload == "theta_join":
            params = dict(gen.THETA)
            counts, fp = gen.theta(in_dir, args.seed)
        elif args.workload == "llm_curation":
            params = dict(gen.LLM)
            counts, fp = gen.llm(in_dir, args.seed)
        else:
            params = dict(gen.INGEST)
            counts, fp = gen.fingerprint_ingest(args.seed)
        gen_s = time.time() - t0
        print(f"inputs: workload={args.workload} seed={args.seed} rows={counts} "
              f"fingerprint={fp} generated_in={gen_s:.2f}s heldout_seed={HELDOUT_SEED}")
        res_file = run_dir / "result.json"
        spans = out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl"
        kv = jvm_args(args.workload, args.seed, args.seconds, args.trace, cpus, run_dir,
                      res_file, spans, params)
        cmd = java_cmd(cp, cpus) + [f"{k}={v}" for k, v in kv.items()]
        with open(run_dir / "jvm.log", "w") as jlog:
            proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(10.0, deadline - time.time() - 8))
            except subprocess.TimeoutExpired:
                raise SystemExit("harness JVM exceeded the run time limit")
        if proc.returncode != 0 or not res_file.exists():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
            raise SystemExit(f"harness JVM failed with code {proc.returncode}")
        res = json.loads(res_file.read_text())
        res["params"] = params
        res["baseline"] = str(run_dir / "baseline")
        setup_s = res["first_timed_ms"] / 1000.0 - t0
        attempted, bad, extra, oracle_trace = check(
            args.workload, res, in_dir, run_dir / "table", args.seed, params, args.corrupt)
        for r in bad:
            log(f"FAILED {r.get('op')} ({r.get('phase')}): {r.get('error') or 'result mismatch'}")
        e2e, summary = end_to_end(res, setup_s, extra, "untraced" if args.trace else "timed")
        warm = [r for r in res["records"] if r["phase"] in ("setup", "warmup")]
        print(f"setup parts: inputs={gen_s:.2f}s jvm+session={res['session_s']:.2f}s "
              f"first_op_at={min(r['start_s'] for r in warm):.2f}s "
              f"setup+warmup_ops={sum(r['lat_s'] for r in warm):.2f}s")
        summary["error_rate"] = (len(bad) / attempted, "ratio", attempted)
        host = dict(host_record(cpus), **res["host"])
        print(f"host: {json.dumps(host)}")
        for k, (v, unit, n) in {**e2e, **summary}.items():
            shown = "n/a (too few samples)" if v is None else f"{v:.6g}"
            print(f"  {k:<16} {shown} {unit} (n={n})")
        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            metrics = per_layer(res, oracle_trace, names)
            for k in names:
                print(f"  {k:<30} {metrics[k]:.6g} {units[k]}")
            print(f"spans: {spans.relative_to(repo)}")
        else:
            metrics = {k: v for k, (v, _, _) in e2e.items()}
        out_metrics = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                       for m in spec["per_layer" if args.trace else "end_to_end"]}
        (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
            json.dumps({"host": host, "fingerprint": fp, "rows": counts,
                        "end_to_end": e2e, "summary": summary, "metrics": out_metrics,
                        "records": res["records"]}, indent=1))
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                          "metrics": out_metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
