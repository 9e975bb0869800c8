#!/usr/bin/env python3
"""Readmission benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness if
their sources changed (see build.py), makes the workload's inputs from the
seed, runs whole rounds of the workload's fixed work until --seconds have
passed (at least one), checks every output, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see README.md). Everything the run writes stays under the build dir.
"""
import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("readmit_train", "analyst_queries")
JVM_TIMEOUT_S = 150  # leaves room for the output checks within 180 s
HEAP = "4g"

# per-layer spans of readmit_train in call order (the first four run in
# set-up); † spans also report rows_out
READMIT_SPANS = ["sources.generate", "ops.cohort", "pipeline.matrix", "pipeline.mi_rank",
                 "ml.resample", "ml.cv_grid", "ml.fit_lr", "ml.fit_rf", "ml.smote", "ml.metrics"]
ROWS_OUT_SPANS = ["sources.generate", "ops.cohort", "pipeline.matrix", "pipeline.mi_rank",
                  "ml.resample", "ml.smote"]
REGISTRY_SPANS = ["registry.build", "registry.plan", "registry.exec"]
SPAN_METRICS = [("busy_s", "s", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
                ("task_s", "s", "lower"), ("util", "ratio", "higher"),
                ("shuffle_mb", "MB", "lower"), ("spill_mb", "MB", "lower"), ("gc_s", "s", "lower")]
MODULES = ["ops", "text", "dedup", "sim", "sketch"]

# analyst_queries: the fixed multiset of one round (query -> (module, copies));
# the seed shuffles the order and makes the tables. 100 ops, so 10 lie
# beyond p90; the 15 writes and 2 MIMIC queries are the slowest 17, so
# p90 falls inside that group rather than on the fast queries' outliers.
MIX = {
    # relational and MIMIC-analyst queries
    "e11_dict_decode": ("ops", 16), "w4_topk": ("ops", 16), "w1_lead_next": ("ops", 15),
    "mimic_adm_profile": ("ops", 2),
    "t_normalize": ("text", 10), "t_fingerprint": ("text", 10),
    "d_exact_groups": ("dedup", 6),
    "sim_centroids": ("sim", 5),
    "sk_kmv_distinct": ("sketch", 5),
    # writes: Sinks.compact of a many-small-files slice; partitioned dynamic overwrite
    "s13_compact_roundtrip": ("core", 5), "s16_dynamic_overwrite": ("core", 10),
}
TABLES_SF = 0.002


def per_layer_names():
    names = []
    for span in READMIT_SPANS + REGISTRY_SPANS:
        names += [(f"{span}.{m}", u, b) for m, u, b in SPAN_METRICS]
        if span in ROWS_OUT_SPANS:
            names.append((f"{span}.rows_out", "rows", "higher"))
    names += [(f"{m}.exec_p50_s", "s", "lower") for m in MODULES]
    names += [("core.write_p50_s", "s", "lower"), ("core.write.output_mb", "MB", "lower"),
              ("cache_mb", "MB", "lower"), ("cached_rdds", "count", "lower"),
              ("fail_frac", "ratio", "lower"), ("trace.run_s", "s", "lower"),
              ("trace.listener_s", "s", "lower"), ("trace.span_cover", "ratio", "higher")]
    return names


END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
              ("op_p90_s", "s"), ("cpu_s", "s"), ("live_heap_mb", "MB")]


def analyst_plan(seed):
    seq = [(q, m) for q, (m, k) in MIX.items() for _ in range(k)]
    random.Random(seed).shuffle(seq)
    return seq


def cpu_stat():
    """(busy, steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    return sum(v) - idle - v[7], v[7], sum(v)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except Exception:
        return None


# ---- output checks against the DuckDB oracles ---------------------------

def _kind(t):
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    return "decimal" if t.startswith("DECIMAL") or "HUGEINT" in t else "other"


def _norm(x):
    if isinstance(x, float):
        return "nan" if x != x else (0.0 if x == 0 else x)
    if isinstance(x, (list, tuple)):
        return tuple(_norm(y) for y in x)
    return x


def canonical(con, sql):
    """sha256 of a result with columns sorted by name and rows sorted, plus
    its row count; floats must match exactly (as in tools/verify_local.py).
    """
    rel = con.sql(sql)
    cols, kinds = rel.columns, [_kind(str(t)) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(repr(_norm(r[i])) for i in order) for r in rel.fetchall()))
    h = hashlib.sha256(repr(([cols[i] for i in order], [kinds[i] for i in order])).encode())
    for r in rows:
        h.update(repr(r).encode())
    return {"sha": h.hexdigest(), "rows": len(rows), "kinds": [kinds[i] for i in order]}


def oracle_checks(out_dir, data_dir):
    import duckdb
    res_dir = os.path.join(out_dir, "results")
    names = sorted(os.listdir(res_dir)) if os.path.isdir(res_dir) else []
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if data_dir:
        for t in sorted(os.listdir(data_dir)):
            con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM '{data_dir}/{t}'")
    checks = []
    for q in names:
        if q not in oracles:
            checks.append({"name": f"oracle.{q}", "ok": False, "detail": "no oracle SQL"})
            continue
        mine = canonical(con, f"SELECT * FROM read_parquet('{res_dir}/{q}/*.parquet')")
        theirs = canonical(con, oracles[q])
        ok = mine["sha"] == theirs["sha"] and "decimal" not in mine["kinds"]
        checks.append({"name": f"oracle.{q}", "ok": ok,
                       "detail": f"rows {mine['rows']} vs oracle {theirs['rows']}"})
    return checks


# ---- metrics ----------------------------------------------------------

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def end_to_end(res, setup_start_ns):
    rounds = res["rounds"]
    run_s = statistics.median(r["wall_s"] for r in rounds)
    lat = [o["s"] for o in res["ops"] if o["ok"]] or [0.0]
    return {
        "setup_s": (res["first_op_epoch_ns"] - setup_start_ns) / 1e9,
        "run_s": run_s,
        "ops_per_s": len(res["ops"]) / sum(r["wall_s"] for r in rounds),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": quantile(lat, 0.9),
        "cpu_s": statistics.median(r["cpu_s"] for r in rounds),
        "live_heap_mb": res["live_heap_mb"],
    }


def per_layer(res):
    n_rounds = len(res["rounds"])
    cores = res["cores"]
    out = {}
    for span in READMIT_SPANS + REGISTRY_SPANS:
        layer = res["layers"].get(span)
        for m, _, _ in SPAN_METRICS:
            if layer is None:
                v = 0.0
            elif m == "util":
                v = layer["task_s"] / (layer["busy_s"] * cores) if layer["busy_s"] > 0 else 0.0
            else:
                v = layer[m] / n_rounds
            out[f"{span}.{m}"] = v
        if span in ROWS_OUT_SPANS:
            out[f"{span}.rows_out"] = max(0, layer["rows_out"]) if layer else 0
    ok_ops = [o for o in res["ops"] if o["ok"]]
    for m in MODULES:
        xs = [o["parts"].get("registry.exec", 0.0) for o in ok_ops if o["module"] == m]
        out[f"{m}.exec_p50_s"] = statistics.median(xs) if xs else 0.0
    writes = [o for o in ok_ops if o["module"] == "core"]
    out["core.write_p50_s"] = statistics.median(o["s"] for o in writes) if writes else 0.0
    written = {q for q, (m, _) in MIX.items() if m == "core"}
    out["core.write.output_mb"] = sum(v for q, v in res["op_output_mb"].items() if q in written) / n_rounds
    out["cache_mb"] = res["cache_mb"]
    out["cached_rdds"] = res["cached_rdds"]
    attempted = len(res["ops"])
    out["fail_frac"] = sum(1 for o in res["ops"] if not o["ok"]) / max(1, attempted)
    out["trace.run_s"] = statistics.median(r["wall_s"] for r in res["rounds"])
    out["trace.listener_s"] = res["listener_s"] / n_rounds
    out["trace.span_cover"] = res["layer_cover_s"] / sum(r["wall_s"] for r in res["rounds"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    setup_start_ns = time.time_ns()
    bdir = build.build_dir()
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    out_dir, tmp_dir, data_dir = (os.path.join(run_dir, d) for d in ("out", "tmp", "data"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (out_dir, tmp_dir):
        os.makedirs(d)
    cores = len(os.sched_getaffinity(0))
    load_before, stat_before = loadavg(), cpu_stat()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out_dir, "--tmp", tmp_dir, "--cores", str(cores)]
    if a.workload == "analyst_queries":
        import tables
        os.makedirs(data_dir)
        tables.generate(data_dir, a.seed, TABLES_SF)
        plan = os.path.join(run_dir, "plan.txt")
        with open(plan, "w") as f:
            f.writelines(f"{q} {m}\n" for q, m in analyst_plan(a.seed))
        args += ["--data", data_dir, "--plan", plan]
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp_dir}",
           f"-Dderby.system.home={tmp_dir}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           *opens, "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
           "perfbench.Main", *args]
    jvm = subprocess.Popen(cmd, cwd=tmp_dir, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = jvm.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
        raise SystemExit(f"workload did not finish within {JVM_TIMEOUT_S} s")
    stat_after, load_after = cpu_stat(), loadavg()
    if rc != 0:
        raise SystemExit(f"harness exited with {rc}")
    with open(os.path.join(out_dir, "result.json")) as f:
        res = json.load(f)
    if not res["rounds"]:
        raise SystemExit(f"set-up failed: {res['aborted']}")

    checks = res["checks"] + oracle_checks(out_dir, data_dir if os.path.isdir(data_dir) else None)
    if res["aborted"]:
        checks.append({"name": "round", "ok": False, "detail": res["aborted"]})
    if a.trace:
        values = per_layer(res)
        units = {n: u for n, u, _ in per_layer_names()}
        if values["trace.span_cover"] < 0.9:
            checks.append({"name": "trace.span_cover", "ok": False,
                           "detail": f"layer spans cover {values['trace.span_cover']:.1%} of run_s"})
    else:
        values = end_to_end(res, setup_start_ns)
        units = dict(END_TO_END)
    for c in checks:
        if not c["ok"]:
            print(f"[perfbench] check failed: {c['name']}: {c['detail']}", file=sys.stderr)

    # external load: CPU this run's processes did not use, and hypervisor steal
    ours = resource.getrusage(resource.RUSAGE_CHILDREN)
    own = resource.getrusage(resource.RUSAGE_SELF)
    hz = os.sysconf("SC_CLK_TCK")
    d_busy, d_steal, d_total = (x - y for x, y in zip(stat_after, stat_before))
    other = max(0.0, d_busy / hz - (ours.ru_utime + ours.ru_stime + own.ru_utime + own.ru_stime))
    env = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cores,
        "heap": HEAP, "git_commit": git_commit(),
        "source_stamp": open(os.path.join(classes, ".stamp")).read(),
        "jvm": res["env"]["jvm"], "spark": res["env"]["spark"],
        "spark_conf": res["env"]["spark_conf"],
        "loadavg_before": load_before, "loadavg_after": load_after,
        "other_cpu_share": round(other * hz / max(1, d_total), 4),
        "steal_share": round(d_steal / max(1, d_total), 4),
        "checks": checks,
    }
    env["external_load"] = env["other_cpu_share"] > 0.25 or env["steal_share"] > 0.05
    if env["external_load"]:
        print("[perfbench] WARNING: run taken under external load "
              f"(other CPU {env['other_cpu_share']:.0%}, steal {env['steal_share']:.0%})",
              file=sys.stderr)
    with open(os.path.join(run_dir, "env.json"), "w") as f:
        json.dump(env, f, indent=1)
    # spans, from memory at exit
    with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
        run_id = os.path.basename(run_dir)
        for s in res["spans"]:
            f.write(json.dumps({"run": run_id, **s}) + "\n")
    shutil.rmtree(tmp_dir, ignore_errors=True)
    shutil.rmtree(data_dir, ignore_errors=True)

    failed = sum(1 for o in res["ops"] if not o["ok"])
    print(json.dumps({"env": {k: v for k, v in env.items() if k != "checks"}}))
    print(json.dumps({
        "correct": all(c["ok"] for c in checks) and failed == 0,
        "attempted": max(1, len(res["ops"])),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))


if __name__ == "__main__":
    main()
