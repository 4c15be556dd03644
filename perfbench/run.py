#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. The first run builds the
engine and the benchmark from source with sbt (into ``target/`` and
``perfbench/target/``); later runs start the JVM directly. Inputs are
generated from the seed into ``perfbench-work/``, which each run replaces.

With ``--trace 0`` the last line carries the end-to-end metrics of an
untraced timed phase. With ``--trace 1`` it carries the per-layer metrics
of a traced phase, which follows an untraced phase on the same seed; the
difference between the two is reported as the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170  # every run must end within 180 s; the JVM is killed past this
HEAP = "3g"

# The probe workload runs passes over two probe families that use Lifecycle
# in opposite ways: iterative graph loops that materialize rounds, and the
# ordered-prefix operators that stage one cache with deferRelease.
GRAPH_LOOP = ["q78_pagerank"]
ORDERED_PREFIX = ["q153_auc"]

# per-workload sizes; see README.md for why each was chosen. `pass_s` is
# the measured length of one pass on 4 cores (seconds); `writes` names the
# op labels whose latency is `write_p50_ms`, every other op is a read.
WORKLOADS = {
    "pipeline": {"cities": 50, "days": 14, "warmup": 3, "pass": 12, "pass_s": 16.0,
                 "writes": ["current", "forecast"]},
    "probe-loop": {"probes": GRAPH_LOOP + ORDERED_PREFIX, "sf": 0.002,
                   "warmup": GRAPH_LOOP + ORDERED_PREFIX, "pass_s": 8.0,
                   "writes": GRAPH_LOOP},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(read(f).encode())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark unless the sources are unchanged
    since the last build in this checkout; return (classpath, jvm options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to the benchmark (expected build.sbt and "
             f"src/main/scala/graft under {ROOT})")
    tgt = os.path.join(HERE, "target")
    stamp_file = os.path.join(tgt, "perfbench-stamp.txt")
    stamp = source_stamp()
    cp_file = os.path.join(tgt, "classpath.txt")
    fresh = (os.path.isfile(stamp_file) and read(stamp_file) == stamp
             and os.path.isfile(cp_file))
    if not fresh:
        with open(os.path.join(ROOT, "perfbench-build.log"), "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                               cwd=HERE, stdout=log, stderr=subprocess.STDOUT, timeout=840,
                               env=build_env())
            if r.returncode != 0:
                fail("build failed; see perfbench-build.log")
            r = subprocess.run(["java", "-cp", read(cp_file).strip(), "graft.perfbench.DumpOracle",
                                os.path.join(tgt, "oracle_sql.json")] + GRAPH_LOOP + ORDERED_PREFIX,
                               stdout=log, stderr=subprocess.STDOUT, timeout=120)
            if r.returncode != 0:
                fail("oracle SQL export failed; see perfbench-build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    opts = [x for x in read(os.path.join(tgt, "java-options.txt")).split("\n") if x]
    return read(cp_file).strip(), opts


def build_env():
    """The build resolves only from the local caches, as the engine's own
    test command does, unless the caller set its own sbt options."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx4g"]
        + (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
           if os.path.isfile(repos) else [])))
    return env


def read(path):
    with open(path) as f:
        return f.read()


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return os.path.getsize(path)


def pipeline_inputs(work, seed, cfg, passes):
    w = gen.Weather(seed, cfg["cities"])
    hours = cfg["days"] * 24
    payloads, rows = w.history(hours)
    write_lines(os.path.join(work, "history", "part-00000.json"), payloads)
    w.apply("current", rows)
    # enough ops for the warm-up and three timed phases (a traced run)
    ops, batches = w.pipeline_ops(hours, cfg["warmup"] + 3 * passes * cfg["pass"])
    m = {"history_dir": os.path.join(work, "history"), "ops": ops, "batches": [],
         "warmup_ops": cfg["warmup"], "pass": cfg["pass"]}
    for i, b in enumerate(batches):
        d = os.path.join(work, "batches", f"{i:04d}")
        size = write_lines(os.path.join(d, "part-00000.json"), b["payloads"])
        m["batches"].append({"kind": b["kind"], "dir": d, "ok": b["ok"], "bad": b["bad"],
                             "bytes": size})
    return m, {"weather": w, "batches": batches}


def probe_inputs(work, seed, cfg):
    corpus = os.path.join(work, "corpus")
    gen.write_corpus(seed, cfg["sf"], corpus)
    rnd = random.Random(seed)
    order = []
    for _ in range(50):
        p = list(cfg["probes"])
        rnd.shuffle(p)
        order.append(p)
    return {"corpus_dir": corpus, "order": order, "warmup": cfg["warmup"]}, {"corpus": corpus}


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def check_pipeline(out, phases, results, manifest, state):
    """Replay the op sequence on the model: apply each batch, check each
    timed widget query against the model state at its turn and each timed
    batch against its gate counts, then compare the final stored tables.
    Return (attempted, failed, first failure reason)."""
    import duckdb
    w = state["weather"]
    model = check.DashboardModel(w)
    timed = {op["seq"]: op for ph in phases for op in ph["ops"] if op["seq"] >= 0}
    failed, reason = 0, None
    for seq in range(out["workload"]["ops_done"]):
        spec = manifest["ops"][seq]
        op = timed.get(seq)
        why = None
        if spec["kind"] == "batch":
            b = state["batches"][spec["batch"]]
            if op is not None:
                got = results[op["result"]]
                if (got["ok"], got["bad"]) != (b["ok"], b["bad"]):
                    why = f"batch {spec['batch']}: ok/bad {got['ok']}/{got['bad']} " \
                          f"!= {b['ok']}/{b['bad']}"
            w.apply(b["kind"], b["rows"])
            if b["kind"] == "current":
                model.apply(b["rows"])
        elif op is not None:
            why = model.check(spec, results[op["result"]])
        if op is not None:
            op["wrong"] = why
    all_ops = [op for ph in phases for op in ph["ops"]]
    for op in all_ops:
        op["wrong"] = op.get("error") or op.get("wrong")
        if op["wrong"] is not None:
            failed += 1
            reason = reason or f"{op['label']}@{op['seq']}: {op['wrong']}"
    attempted = len(all_ops)
    rep = out["workload"]
    con = duckdb.connect()
    bad_store = (
        check.stored_table_diff(con, rep["fact_path"], gen.FACT_COLS, list(w.fact.values()))
        or check.stored_table_diff(con, rep["forecast_path"], gen.FORECAST_COLS,
                                   list(w.forecast.values()))
        or check.stored_table_diff(con, rep["cities_path"], gen.DIM_COLS, list(w.dim.values())))
    if bad_store:
        # the stored state cannot be pinned on one op: count them all
        failed, reason = attempted, f"stored tables: {bad_store}"
        for op in all_ops:
            op["wrong"] = reason
    return attempted, failed, reason


def check_probes(phases, results, answers):
    failed, reason, attempted = 0, None, 0
    for ph in phases:
        for op in ph["ops"]:
            attempted += 1
            why = op.get("error") or check.diff(results[op["result"]], answers[op["label"]])
            op["wrong"] = why
            if why is not None:
                failed += 1
                reason = reason or f"{op['label']}: {why}"
    return attempted, failed, reason


def oracle_answers(corpus, probes):
    import duckdb
    sqls = json.loads(read(os.path.join(HERE, "target", "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("lineitem", "orders", "part", "documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return {p: check.duck_answer(con, sqls[p]) for p in probes}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def run_jvm(cp, opts, work, workload, passes, trace, cpus):
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opts
           + ["-cp", cp, "graft.perfbench.Main", work, workload, str(passes), str(trace),
              str(cpus)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=DEADLINE_S - (time.time() - T0))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("workload did not finish in time; see perfbench-work/jvm.log")
    if p.returncode != 0:
        fail(f"JVM exited with {p.returncode}; see perfbench-work/jvm.log")
    return json.loads(read(os.path.join(work, "out.json")))


def end_to_end(phase, setup_s, writes):
    """End-to-end metrics of one checked phase; ops_per_s counts correct ops
    only. Read and write ops get a latency median each, so neither depends
    on the workload's mix of the two."""
    ok = sum(1 for op in phase["ops"] if op["wrong"] is None)
    tail_p, tail_v = check.tail([op["ms"] for op in phase["ops"]])
    return {
        "setup_s": setup_s,
        "ops_per_s": ok / phase["wall_s"],
        "read_p50_ms": check.median([op["ms"] for op in phase["ops"]
                                     if op["label"] not in writes]),
        "write_p50_ms": check.median([op["ms"] for op in phase["ops"]
                                      if op["label"] in writes]),
        "heap_peak_mb": phase["heap_peak_mb"],
    }, (tail_p, tail_v)


def main():
    global T0
    T0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))
    cp, opts = build()

    cfg = WORKLOADS[a.workload]
    work = os.path.join(ROOT, "perfbench-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a run measures whole passes, as many as fit in --seconds at the
    # workload's measured pass time (at least one), so every run of a
    # workload measures the same ops however fast the machine is
    passes = max(1, int(a.seconds // cfg["pass_s"]))
    if a.trace:
        # a traced run measures three phases; half the passes each keeps it short
        passes = max(1, passes // 2)
    if a.workload == "pipeline":
        manifest, state = pipeline_inputs(work, a.seed, cfg, passes)
    else:
        manifest, state = probe_inputs(work, a.seed, cfg)
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    cpus = len(os.sched_getaffinity(0))

    out = run_jvm(cp, opts, work, a.workload, passes, a.trace, cpus)

    results = out["results"]
    phases = [out["untraced"]] + ([out["traced"], out["untraced_after"]] if a.trace else [])
    if a.workload == "pipeline":
        attempted, failed, reason = check_pipeline(out, phases, results, manifest, state)
    else:
        answers = oracle_answers(state["corpus"], cfg["probes"])
        attempted, failed, reason = check_probes(phases, results, answers)

    err = failed / max(1, attempted)
    e2e, (tail_p, tail_v) = end_to_end(out["untraced"], out["setup_s"], cfg["writes"])
    if a.trace:
        metrics = layer_metrics(a.workload, out, state, e2e, cfg["writes"])
    else:
        metrics = e2e
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if a.trace else spec["end_to_end"])]
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "ops": len(out["untraced"]["ops"]),
        "op_tail_ms": tail_v, "tail_percentile": tail_p, "error_rate": err,
        "first_failure": reason,
        "wall_s": out["untraced"]["wall_s"]}), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": units[k]} for k in wanted}}))


def layer_metrics(workload, out, state, e2e_untraced, writes):
    m = dict(out["layers"])
    traced, _ = end_to_end(out["traced"], out["setup_s"], writes)
    after, _ = end_to_end(out["untraced_after"], out["setup_s"], writes)
    # traced throughput against the untraced phases on either side of it
    base = (e2e_untraced["ops_per_s"] + after["ops_per_s"]) / 2
    m["perfbench.trace_overhead_pct"] = \
        100.0 * (base / traced["ops_per_s"] - 1) if traced["ops_per_s"] else 0.0
    if workload == "pipeline":
        w = state["weather"]
        rows = len(w.fact) + len(w.forecast)
        m["weather.Store.stored_bytes_per_row"] = out["workload"]["stored_bytes"] / rows
    return m


if __name__ == "__main__":
    main()
