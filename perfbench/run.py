#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 20 --trace 0

Builds graft and the JVM harness from source (build.py), generates the
seed's inputs (gen.py, lake.py; cached per seed), runs one JVM with one
SparkSession, checks every output, and prints one JSON object as the last
line of stdout. With --trace 0 it carries the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run. A per-layer table of self
times goes to stderr in traced runs. See README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import lake  # noqa: E402
import stats  # noqa: E402

# light keys of distinct plan shapes, where fixed per-query cost dominates
OLAP_KEYS = ["text_lang_stats", "vec_cosine_topk", "text_exact_dedup",
             "join_left_anti", "graph_triangle_count", "agg_count_distinct",
             "topk_per_key", "stream_tumbling_1h", "text_wordcount_topk",
             "report_funnel"]
WORKLOADS = ["olap_sf01", "lake_cycle"]
LAKE_CYCLES = 4
LAKE_WARM_CYCLES = 1
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io",
              "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]
# a run ends within 180 s of its start, not counting compilation
RUN_LIMIT_S = 172
T_START = time.time()


def note(msg):
    print(f"[perfbench {time.time() - T_START:6.1f}s] {msg}", file=sys.stderr)


def cpus():
    return len(os.sched_getaffinity(0))


def java_cmd(cp, main, *args, heap="4g", tmp=None):
    # no hsperfdata file: a run writes nothing outside its checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    return cmd + ["-cp", cp, main] + list(args)


def oracle_sql(cp, keys, out_dir):
    """SparkEntry.oracleSql for `keys`, cached next to the classes."""
    path = os.path.join(out_dir, "oracle_sql.json")
    stamp = open(os.path.join(out_dir, "classes.stamp")).read()
    if os.path.exists(path):
        cached = json.load(open(path))
        if cached.get("stamp") == stamp and set(keys) <= set(cached["sql"]):
            return cached["sql"]
    r = subprocess.run(java_cmd(cp, "perfbench.OracleSql", *keys, heap="512m"),
                       stdout=subprocess.PIPE, text=True, check=True, timeout=120)
    sql = json.loads(r.stdout.strip().splitlines()[-1])
    gen.write_json(path, {"stamp": stamp, "sql": sql})
    return sql


def expected_results(inputs, keys, sql):
    """DuckDB results of the oracle SQL on the given inputs, computed once
    per input content and oracle query, and cached as parquet."""
    import duckdb
    import pyarrow.parquet as pq
    out_dir = os.path.join(build.build_dir(), "expected", gen.checksum(inputs)[:16])
    os.makedirs(out_dir, exist_ok=True)
    con = None
    out = {}
    for k in keys:
        # keyed by the query text: an edited oracle query is run afresh
        h = hashlib.sha256(sql[k].encode()).hexdigest()[:16]
        path = os.path.join(out_dir, f"{k}-{h}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET threads TO {cpus()}")
                for t in gen.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{inputs}/{t}.parquet')")
            pq.write_table(stats.canonical(con.execute(sql[k]).fetch_arrow_table()),
                           path + ".tmp")
            os.rename(path + ".tmp", path)
        out[k] = pq.read_table(path)
    return out


def dumped_result(path):
    """A result the harness dumped with Spark, its part files in order."""
    import duckdb
    return stats.canonical(duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").fetch_arrow_table())


def failed_keys(keys, expected, got, warm_failed):
    """Keys whose warm run threw or whose result differs from the oracle's;
    every timed op of such a key counts as failed."""
    return {k for k in keys if k in warm_failed or k not in got
            or not stats.same_result(expected[k], got[k])}


def parse_records(path):
    recs = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            f = line.rstrip("\n").split("\t")
            recs.setdefault(f[0], []).append(f[1:])
    return recs


def run_jvm(cp, job, work, deadline):
    job_path = os.path.join(work, "job.txt")
    with open(job_path, "w") as fh:
        for k, v in job:
            fh.write(f"{k}={v}\n")
    cmd = java_cmd(cp, "perfbench.Harness", job_path, tmp=os.path.join(work, "tmp"))
    launched = time.time()
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("the harness JVM did not finish in time")
    finally:
        log.close()
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-3000:])
        raise SystemExit(f"the harness JVM exited with {rc}")
    recs = parse_records(dict(job)["out"])
    for name, t in recs.get("mark", []):
        note(f"jvm {name} at {int(t) / 1e6 - launched:.1f}s")
    return launched, recs


def fresh_work(name):
    import shutil
    work = os.path.join(build.build_dir(), "work", name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    return work


# ---- workloads ---------------------------------------------------------------

def run_olap(args, cp):
    keys = OLAP_KEYS
    sql = oracle_sql(cp, keys, build.build_dir())
    inputs = (os.path.abspath(args.tables) if args.tables else
              gen.olap_inputs(os.path.join(build.build_dir(), "inputs"), args.seed))
    note("inputs ready")
    expected = expected_results(inputs, keys, sql)
    note("expected results ready")
    rng = np.random.default_rng([args.seed, 4])
    work = fresh_work(args.workload)
    job = [("workload", args.workload), ("inputs", inputs), ("work", work),
           ("out", os.path.join(work, "records.tsv")), ("cpus", cpus()),
           ("seconds", args.seconds), ("trace", args.trace),
           ("keys", ",".join(rng.permutation(keys)))]
    job += [("pass", ",".join(rng.permutation(keys))) for _ in range(64)]
    launched, recs = run_jvm(cp, job, work, args.deadline)
    note("jvm done")
    warm_failed = {k for k, ok, *_ in recs.get("warm", []) if ok != "1"}
    got = {k: dumped_result(os.path.join(work, "dump", k))
           for k in keys if k not in warm_failed}
    bad = failed_keys(keys, expected, got, warm_failed)
    result_rows = {k: v.num_rows for k, v in got.items()}
    ops = []
    for seq, kind, name, t0, t1, ok, info in recs["op"]:
        ops.append({"seq": seq, "kind": kind, "name": name, "t0": int(t0),
                    "t1": int(t1), "ok": ok == "1" and name not in bad,
                    "rows": result_rows.get(name, 0)})
    return launched, recs, ops, {"failed_checks": sorted(bad), "result_rows": result_rows}


def run_lake(args, cp):
    def build_inputs(tmp):
        gen.write_json(os.path.join(tmp, "plan.json"),
                       lake.generate(tmp, args.seed, LAKE_CYCLES))
    inputs = gen.cached(os.path.join(build.build_dir(), "inputs",
                                     f"lake_seed{args.seed}_{gen.source_hash(lake)}"),
                        build_inputs)
    plan = json.load(open(os.path.join(inputs, "plan.json")))
    note("inputs ready")
    work = fresh_work(args.workload)
    job = [("workload", args.workload), ("inputs", inputs), ("work", work),
           ("out", os.path.join(work, "records.tsv")), ("cpus", cpus()),
           ("seconds", args.seconds), ("trace", args.trace),
           ("warm_cycles", LAKE_WARM_CYCLES)]
    job += [("op", l) for l in plan]
    launched, recs = run_jvm(cp, job, work, args.deadline)
    note("jvm done")
    setup = [(ok == "1", r) for _, _, ok, r, *_ in recs["setupop"]]
    timed = recs["op"]
    finals = {r[0]: r for r in recs["final"]}
    flags, final_ok, changed = lake.check(
        inputs, plan, setup + [(ok == "1", info) for *_, ok, info in timed],
        {t: r[1] for t, r in finals.items()})
    ops = []
    for (seq, kind, name, t0, t1, _, info), good, n in zip(
            timed, flags[len(setup):], changed[len(setup):]):
        ops.append({"seq": seq, "kind": kind, "name": name, "t0": int(t0),
                    "t1": int(t1), "ok": good, "changed": n,
                    "rows": int(info.split("|")[-1].split(":")[0])
                    if kind == "read" and good else 0})
    extra = {"setup_ok": all(flags[:len(setup)]), "final_ok": final_ok,
             "space_amp": stats.space_amp([int(finals[t][3]) for t in lake.TABLES],
                                          [int(finals[t][4]) for t in lake.TABLES]),
             "bytes_per_row": sum(int(finals[t][4]) for t in lake.TABLES) /
             sum(int(finals[t][1].split(":")[0]) for t in lake.TABLES)}
    return launched, recs, ops, extra


# ---- metrics -----------------------------------------------------------------

def end_to_end(launched, recs, ops):
    setup_us = int(recs["setup"][0][0])
    t0, t1, _ = (int(x) for x in recs["timed"][0])
    lat = [(o["t1"] - o["t0"]) / 1e6 for o in ops]
    done = sum(1 for o in ops if o["ok"])
    return {
        "setup_s": (setup_us / 1e6 - launched, "s"),
        "ops_per_s": (done / ((t1 - t0) / 1e6), "1/s"),
        "op_p50_s": (stats.median(lat), "s"),
    }


def latency_summary(ops):
    """Median latency of each op kind (read, commit), and p90 where at least
    10 samples lie beyond it: reported on stderr, not gated (see README)."""
    out = {"op_p90_s": stats.percentile([(o["t1"] - o["t0"]) / 1e6 for o in ops], 0.9)}
    for kind in ("read", "commit"):
        lat = [(o["t1"] - o["t0"]) / 1e6 for o in ops if o["kind"] == kind]
        if lat:
            out[f"{kind}_p50_s"] = stats.median(lat)
    return out


LAKE_OPS = {"idx": ["append", "merge", "update", "delete", "point", "range",
                    "tt", "maintain"],
            "mor": ["append", "merge", "update", "delete", "point", "range",
                    "tt", "purge", "maintain"]}


def op_spans(recs, ops):
    """Per timed op: its interval and the intervals of its child spans
    (build, action, planning phases by name, jobs, stages), in µs."""
    byseq = {o["seq"]: o for o in ops}
    jobs, job_op = {}, {}
    for op, jid, what, t in recs.get("job", []):
        jobs.setdefault(jid, [0, 0])[0 if what == "start" else 1] = int(t)
        if what == "start":
            job_op[jid] = op
    out = {s: {"op": (o["t0"], o["t1"]), "build": [], "action": [], "job": [],
               "stage": [], "analysis": [], "optimization": [], "planning": []}
           for s, o in byseq.items()}
    for jid, iv in jobs.items():
        if job_op.get(jid) in out:
            out[job_op[jid]]["job"].append(tuple(iv))
    for op, _, _, a, b in recs.get("stage", []):
        if op in out:
            out[op]["stage"].append((int(a), int(b)))
    for seq, name, a, b in recs.get("span", []):
        if seq in out:
            out[seq][name].append((int(a), int(b)))
    phases = sorted((int(a), int(b), name) for name, a, b in recs.get("phase", []))
    for sp in out.values():
        lo, hi = sp["op"]
        for a, b, name in phases:
            if name in sp and a < hi and b > lo:
                sp[name].append((max(a, lo), min(b, hi)))
    return out


def self_times(spans):
    """Total self time (s) of each span kind over all ops: a span's
    duration minus what its children cover. The tree is op -> build,
    action; build, action -> planning phases, jobs; phase -> jobs;
    job -> stages."""
    tot = dict.fromkeys(["op", "build", "action", "analysis", "optimization",
                         "planning", "job", "stage"], 0.0)
    for sp in spans.values():
        phases = sp["analysis"] + sp["optimization"] + sp["planning"]
        tot["op"] += stats.self_time(sp["op"], sp["build"] + sp["action"])
        for k in ("build", "action"):
            tot[k] += sum(stats.self_time(s, phases + sp["job"]) for s in sp[k])
        for k in ("analysis", "optimization", "planning"):
            tot[k] += stats.union_length(sp[k]) - stats.union_length(
                [iv for s in sp[k] for iv in stats.clip(sp["job"], *s)])
        tot["job"] += stats.union_length(sp["job"]) - stats.union_length(
            [iv for j in sp["job"] for iv in stats.clip(sp["stage"], *j)])
        tot["stage"] += stats.union_length(
            [iv for j in sp["job"] for iv in stats.clip(sp["stage"], *j)])
    return {k: v / 1e6 for k, v in tot.items()}


def print_layer_table(workload, spans, ops, recs):
    wall = sum(o["t1"] - o["t0"] for o in ops) / 1e6
    names = {"op": "harness (op self)", "build": "ops (DataFrame build)",
             "action": "plans/exec driver (action self)",
             "analysis": "plans: analysis", "optimization": "plans: optimization",
             "planning": "plans: physical planning",
             "job": "exec: scheduling (job self)", "stage": "exec: stages"}
    print(f"per-layer self time, {workload}, {len(ops)} timed ops, "
          f"{wall:.2f}s op wall", file=sys.stderr)
    for k, v in self_times(spans).items():
        print(f"  {names[k]:<34} {v:8.3f}s {v / wall:6.1%}", file=sys.stderr)


def per_layer(workload, recs, ops, extra):
    """Per-op means of each layer's counters and times over the timed ops
    of a traced run. Analysis has no metric of its own: DataFrame-API
    queries are analysed eagerly while they are built, so it is part of
    `ops.build_s`. `sources.*` covers the graft table ops of lake_cycle
    and reads 0 on the OLAP workloads, which never reach them."""
    n = len(ops)
    spans = op_spans(recs, ops)
    print_layer_table(workload, spans, ops, recs)
    m = dict.fromkeys(["ops.build_s", "plans.optimize_s", "plans.physical_s",
                       "exec.job_s", "exec.driver_gap_s"], 0.0)
    for sp in spans.values():
        phases = sp["analysis"] + sp["optimization"] + sp["planning"]
        m["ops.build_s"] += sum(stats.self_time(b, phases + sp["job"])
                                for b in sp["build"])
        m["plans.optimize_s"] += stats.union_length(sp["optimization"])
        m["plans.physical_s"] += stats.union_length(sp["planning"])
        jobs = stats.clip(sp["job"], *sp["op"])
        m["exec.job_s"] += stats.union_length(jobs)
        m["exec.driver_gap_s"] += stats.driver_gap(sp["op"], jobs)
    m = {k: v / 1e6 / n for k, v in m.items()}
    m["exec.jobs"] = sum(len(sp["job"]) for sp in spans.values()) / n
    m["exec.stages"] = sum(len(sp["stage"]) for sp in spans.values()) / n
    m["exec.stage_retries"] = sum(1 for r in recs.get("stage", [])
                                  if r[0] in spans and r[2] != "0")
    tasks = [(r[0], list(map(int, r[1:]))) for r in recs.get("task", []) if r[0] in spans]
    col = list(zip(*(t for _, t in tasks))) if tasks else [[0]] * 10
    m["exec.tasks"] = len(tasks) / n
    m["exec.failed_tasks"] = sum(col[0])
    m["exec.task_run_s"] = sum(col[1]) / 1e3 / n
    m["exec.task_cpu_s"] = sum(col[2]) / 1e9 / n
    m["exec.task_gc_s"] = sum(col[3]) / 1e3 / n
    m["exec.input_bytes"] = sum(col[4]) / n
    m["exec.input_rows"] = sum(col[5]) / n
    m["exec.shuffle_read_bytes"] = sum(col[6]) / n
    m["exec.shuffle_write_bytes"] = sum(col[8]) / n
    m["exec.spill_bytes"] = sum(col[9]) / n
    reads = {o["seq"] for o in ops if o["kind"] == "read"}
    m["exec.rows_per_result_row"] = (
        sum(t[5] for s, t in tasks if s in reads) /
        max(1, sum(o["rows"] for o in ops if o["kind"] == "read")))
    m["exec.codegen_compiles"] = sum(int(c) for s, c in recs.get("codegen", [])
                                     if s in spans) / n
    gc_ms, jit_ms, heap = (int(x) for x in recs["jvm"][0])
    m["jvm.gc_s"], m["jvm.jit_s"] = gc_ms / 1e3, jit_ms / 1e3
    m["jvm.heap_peak_mb"] = heap / 2**20
    t0, t1, _ = (int(x) for x in recs["timed"][0])
    m["trace.ops_per_s"] = sum(o["ok"] for o in ops) / ((t1 - t0) / 1e6)
    m.update(sources_metrics(recs, ops, spans, extra, (t1 - t0)))
    unit = {"ops_per_s": "1/s", "_s": "s", "_bytes": "bytes", "_mb": "MB",
            "_share": "fraction", "_amp": "ratio", "_row": "ratio"}
    return {k: (v, next((u for sfx, u in unit.items() if k.endswith(sfx)), "count"))
            for k, v in m.items()}


def sources_metrics(recs, ops, spans, extra, timed_us):
    """graft table layer of lake_cycle: each op type's share of the timed
    wall and its jobs per op, per table; and what the commits wrote."""
    m = {}
    for t, names in LAKE_OPS.items():
        for name in names:
            mine = [o for o in ops if o["name"] == f"{t}.{name}"]
            m[f"sources.{t}.{name}_share"] = sum(o["t1"] - o["t0"] for o in mine) / timed_us
            m[f"sources.{t}.{name}_jobs"] = (sum(len(spans[o["seq"]]["job"]) for o in mine)
                                            / max(1, len(mine)))
    commits = [o for o in ops if o["kind"] == "commit"]
    m["sources.write_share"] = sum(o["t1"] - o["t0"] for o in commits) / timed_us
    recs_by_seq = {r[0]: r for r in recs.get("commitrec", [])}
    added = [recs_by_seq[o["seq"]] for o in commits if o["seq"] in recs_by_seq]
    nc = max(1, len(added))
    m["sources.commit_bytes"] = sum(int(r[4]) for r in added) / nc
    m["sources.commit_files"] = sum(int(r[5]) for r in added) / nc
    logical = sum(o.get("changed", 0) for o in commits) * extra.get("bytes_per_row", 0)
    m["sources.write_amp"] = sum(int(r[4]) for r in added) / logical if logical else 0.0
    m["sources.chain_dirs"] = (sum(int(r[3]) for r in added) / nc)
    m["sources.space_amp"] = extra.get("space_amp", 0.0)
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", help="olap_sf01 only: read the sf0.1 tables from "
                    "this directory instead of generating them (to compare the "
                    "generated inputs with a fixture; see README.md)")
    args = ap.parse_args(argv)
    cp = build.ensure()
    args.deadline = time.time() + RUN_LIMIT_S
    note("build ready")
    if args.workload == "lake_cycle":
        launched, recs, ops, extra = run_lake(args, cp)
    else:
        launched, recs, ops, extra = run_olap(args, cp)
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and extra.get("final_ok", True) and extra.get("setup_ok", True)
    metrics = (per_layer(args.workload, recs, ops, extra) if args.trace
               else end_to_end(launched, recs, ops))
    summary = {"workload": args.workload, "seed": args.seed, "ops": len(ops),
               "failed": failed, "error_rate": stats.error_rate(len(ops), failed),
               **latency_summary(ops), **extra}
    print(json.dumps(summary), file=sys.stderr)
    print(json.dumps({"correct": bool(correct), "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
