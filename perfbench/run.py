#!/usr/bin/env python3
"""Benchmark of the bank-sync engine: the `nightly` sync and the `reports`
queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is built from source into
`.bench_build/` (once per source state), the inputs are generated from the
seed, one JVM runs the workload as a closed loop with one client for
`--seconds`, and every op's output is checked against a reference computed
in DuckDB. The last line of stdout is one JSON object; with `--trace 0` it
holds the end-to-end metrics, with `--trace 1` the per-layer metrics. The
exit code is 0 only if every op ran and passed its check.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import reference  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HEAP = "4g"
JVM_TIMEOUT_S = 170

# Inputs per workload: sales rows at sf0.1 (150k orders) and at the warm-up
# scale sf0.001 (1.5k).
SF01, SF0001 = 150_000, 1_500
NIGHTS = 60
# Warm-up nights at sf0.001: with fewer, the first timed nights run slower
# than the later ones (the JIT is still settling).
WARM_NIGHTS = 8
CORE_QUERY = re.compile(r"^[pscjda][0-9]+_")
# Streaming-layer query that rides along in `reports`: the stream-stream
# attribution join of `StreamingSync`, in batch form.
STREAMING_QUERIES = ["x_attribution"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "ops_per_s": "1/s", "rows_per_s": "1/s", "peak_heap_mb": "MB"}


def log(msg):
    print(msg, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files) + [os.path.join(HERE, "build.sh")]


def build():
    """Compile program + harness unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources (src/main/scala) in this checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    oracle = os.path.join(BUILD, "oracle_sql.json")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.exists(oracle):
        return
    os.makedirs(BUILD, exist_ok=True)
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), CLASSES],
                   check=True, stdout=sys.stderr)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    subprocess.run(java_cmd("org.apache.spark.sql.perfbench.OracleDump",
                            [oracle], tmp, heap="1g"), check=True, timeout=120)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def java_cmd(main, args, tmp, heap=HEAP):
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData", *ADD_OPENS,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.level=error", f"-Djava.io.tmpdir={tmp}",
             "-cp", f"{CLASSES}:{JARS}/*", main, *args])


# ----------------------------------------------------------------- inputs

def report_order(names, seed):
    """One pass over the queries, stratified by family (the name's first
    letter): families take turns, in a seeded order within each family, so
    every prefix of the pass mixes the families in proportion."""
    rnd = random.Random(seed)
    families = {}
    for n in names:
        families.setdefault(n[0], []).append(n)
    queues = [rnd.sample(qs, len(qs)) for _, qs in sorted(families.items())]
    rnd.shuffle(queues)
    # a family's k-th query sits at (k + 1/2) / (family size) of the pass
    slots = [((k + 0.5) / len(q), i, name)
             for i, q in enumerate(queues) for k, name in enumerate(q)]
    return [name for _, _, name in sorted(slots)]


def warm_inputs(workload, seed, work):
    """The warm-up inputs (sf0.001) and the harness arguments that do not
    depend on the main inputs."""
    rng = np.random.default_rng([seed, 1])
    warm = os.path.join(work, "warm")
    args = {"data": os.path.join(work, "data"), "warm": warm}
    if workload == "nightly":
        gen.nightly(rng, SF0001, WARM_NIGHTS, warm)
        args.update(first_day=gen.NIGHTLY_FIRST_DAY.isoformat(),
                    lookback=gen.LOOKBACK_DAYS, nights=NIGHTS,
                    warm_nights=WARM_NIGHTS)
    else:
        gen.tpch(rng, SF0001, warm)
        with open(os.path.join(BUILD, "oracle_sql.json")) as fh:
            oracle_sql = json.load(fh)
        order = report_order(sorted(n for n in oracle_sql if CORE_QUERY.match(n))
                             + STREAMING_QUERIES, seed)
        with open(os.path.join(work, "ops.txt"), "w") as fh:
            fh.write("\n".join(order) + "\n")
        args["ops"] = os.path.join(work, "ops.txt")
        args["oracle"] = os.path.join(work, "oracle")
    return args


def main_inputs(workload, seed, args):
    """The seeded sf0.1 inputs, plus the oracle results of query workloads."""
    rng = np.random.default_rng(seed)
    data = args["data"]
    if workload == "nightly":
        gen.nightly(rng, SF01, NIGHTS, data)
    else:
        gen.tpch(rng, SF01, data)
        with open(os.path.join(BUILD, "oracle_sql.json")) as fh:
            oracle_sql = json.load(fh)
        with open(args["ops"]) as fh:
            names = sorted(set(fh.read().split()))
        return reference.oracle_results(data, oracle_sql, names, args["oracle"])
    return None


# ----------------------------------------------------------------- checks

def check_sync(args, res, problems):
    """Replay the nights in DuckDB and compare counts and states. Returns
    the expected outcome of each timed op."""
    ops, chk, data = res["ops"], res["checks"], args["data"]
    settle = chk["settle"]
    replay = reference.SyncReplay(f"{data}/state0.parquet")
    first = gen.day(gen.NIGHTLY_FIRST_DAY)

    def night(k):
        return replay.step(f"{data}/truth/night-{k:03d}.parquet",
                           gen.date_of(first + k - gen.LOOKBACK_DAYS),
                           gen.date_of(first + k))
    # (op index, or the label of an untimed run; expected; actions; rejected)
    expected = [("night 0", night(0), settle["actions"], chk["rejected"][0])]
    before = replay.state_summary()
    rerun = night(0)
    expected.append(("re-run of night 0", rerun, settle["rerun_actions"], chk["rejected"][0]))
    # A re-run must append and commit what the replay of the same re-run
    # does. Whether that is nothing (an idempotent re-run) is reported, not
    # gated: at the seed commit a re-run re-inserts the rows its first run
    # sent to the conflict queue and logs deletions and duplicates again.
    got = {"audit_rows": settle["rerun_audit_appended"],
           "conflict_rows": settle["rerun_conflicts_appended"],
           "state": reference.program_state_summary(settle["rerun_state_dir"])}
    want = {"audit_rows": rerun["audit_rows"], "conflict_rows": rerun["conflict_rows"],
            "state": replay.state_summary()}
    if got != want:
        problems.append(("re-run of night 0", f"appended rows and state {got} != {want}"))
    log(f"[check] re-run of night 0: state {'unchanged' if want['state'] == before else 'changed'},"
        f" {want['audit_rows']} audit and {want['conflict_rows']} conflict rows appended"
        " (checked against the replay; idempotence itself is not gated)")
    for o in ops:
        k = int(o["name"].split("-")[1])
        expected.append((o["i"], night(k), o["out"].get("actions"), chk["rejected"][k]))
    for i, exp, got, rej in expected:
        if got is None:
            continue  # the op failed; already counted
        got = {a: got.get(a, 0) for a in reference.ACTIONS}
        if got != exp["actions"]:
            problems.append((i, f"actions {got} != {exp['actions']}"))
        if rej != exp["rejected"]:
            problems.append((i, f"rejected {rej} != {exp['rejected']}"))
    last = ops[-1]["i"]
    want = (sum(x[1]["audit_rows"] for x in expected),
            sum(x[1]["conflict_rows"] for x in expected))
    got = (chk["audit_rows"], chk["conflict_rows"])
    if got != want:
        problems.append((last, f"audit/conflict rows {got} != {want}"))
    got = reference.program_state_summary(chk["state_dir"])
    want = replay.state_summary()
    if got != want:
        problems.append((last, f"final state {got} != {want}"))
    return [x[1] for x in expected if isinstance(x[0], int)]


def check_queries(meta, res, problems):
    chk = res["checks"]
    for o in res["ops"]:
        if o["error"]:
            continue
        name = o["name"]
        m, c = meta.get(name, {}), chk.get(name, {})
        exp = c.get("expected", {})
        if "error" in m or "error" in exp:
            problems.append((o["i"], f"{name}: oracle {m.get('error') or exp.get('error')}"))
            continue
        if sorted(c["cols"]) != sorted(m["cols"]):
            problems.append((o["i"], f"{name}: cols {sorted(c['cols'])} != {sorted(m['cols'])}"))
            continue
        want_types = dict(zip(m["cols"], m["types"]))
        got_types = dict(zip(c["cols"], c["types"]))
        if got_types != want_types:
            problems.append((o["i"], f"{name}: types {got_types} != {want_types}"))
        elif (o["out"]["rows"], o["out"]["hash"]) != (m["rows"], exp["hash"]) \
                or exp["rows"] != m["rows"]:
            problems.append((o["i"], f"{name}: rows/hash {o['out']['rows']}/{o['out']['hash']}"
                             f" != {m['rows']}/{exp['hash']}"))


# ---------------------------------------------------------------- metrics

def is_sync(ops):
    return "actions" in ops[0]["out"]


def tail(values):
    """Highest whole percentile with at least ten ops beyond it; when that
    percentile would not reach the median (fewer than 20 ops), the
    maximum."""
    n = len(values)
    v = sorted(values)
    p = int(100 * (n - 10) / n)
    if p < 50:
        return v[-1], 100, n
    k = max(0, int(np.ceil(p / 100 * n)) - 1)
    return v[k], p, n


def delta_classes(ops, expected):
    """Rows per delta class over the timed ops: the program's action
    counts, plus duplicate and rejected rows (checked against the
    reference through the audit and rejected counts)."""
    counts = {a: 0 for a in reference.ACTIONS}
    for o in ops:
        for a, n in o["out"].get("actions", {}).items():
            counts[a] = counts.get(a, 0) + n
    counts["DUPLICADO EN ORIGEN"] = sum(x["duplicates"] for x in expected)
    counts["RECHAZADO"] = sum(x["rejected"] for x in expected)
    return counts


def self_times(spans):
    """Per op: {layer: self seconds}. Each instant of the op belongs to the
    deepest span open at that instant (the latest started one among
    equals, e.g. parallel jobs), so the layers' self times add up to the
    op's wall time; listener spans are clipped to the op when recorded."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for op, ss in by_op.items():
        parent = {s["id"]: s["parent"] for s in ss}

        def depth(i):
            d = 0
            while i in parent and parent[i] != 0:
                i, d = parent[i], d + 1
            return d
        ranked = [(depth(s["id"]), s["start_us"], s) for s in ss]
        cuts = sorted({t for s in ss for t in (s["start_us"], s["end_us"])})
        layers = {}
        for a, b in zip(cuts, cuts[1:]):
            open_ = [r for r in ranked if r[2]["start_us"] <= a and b <= r[2]["end_us"]]
            if open_:
                layer = max(open_, key=lambda r: (r[0], r[1]))[2]["layer"]
                layers[layer] = layers.get(layer, 0.0) + (b - a) / 1e6
        out[op] = layers
    return out


def end_to_end(res, t_start):
    ops, ph = res["ops"], res["phases"]
    walls = [(o["end_us"] - o["start_us"]) / 1e6 for o in ops]
    region = (ops[-1]["end_us"] - ops[0]["start_us"]) / 1e6
    if is_sync(ops):
        rows = sum(sum(n for a, n in o["out"].get("actions", {}).items()
                       if a not in ("ELIMINACIÓN DETECTADA", "FUERA_VENTANA"))
                   for o in ops)
    else:
        rows = sum(o["out"].get("rows", 0) for o in ops)
    t, p, n = tail(walls)
    log("[e2e] op wall times (s): " + " ".join(f"{w:.3f}" for w in walls))
    log(f"[e2e] op_tail_s is p{p} of {n} ops" + (" (the maximum: fewer than 20 ops)" if p == 100 else ""))
    return {
        "setup_s": ph["first_op_us"] / 1e6 - t_start,
        "op_p50_s": statistics.median(walls),
        "op_tail_s": t,
        "ops_per_s": len(ops) / region,
        "rows_per_s": rows / region,
        "peak_heap_mb": ph["peak_heap_bytes"] / 2**20,
    }


PER_LAYER_OPS = {  # per-op trace field -> per-layer metric
    "sql_execs": "app.sql_execs", "jobs": "app.sync_jobs",
    "construct_s": "operators.construct_s",
    "construct_jobs": "operators.construct_jobs",
    "classify_s": "operators.classify_s", "exec_s": "operators.exec_s",
    "plan_s": "plans.plan_s", "exchanges": "plans.exchanges",
    "commit_s": "sources.commit_s", "bytes_written": "sources.bytes_written",
    "shuffle_bytes": "exec.shuffle_bytes", "spill_bytes": "exec.spill_bytes",
    "stages": "exec.stages", "tasks": "exec.tasks", "gc_s": "exec.gc_s",
    "task_busy_ratio": "exec.task_busy_ratio",
}
LAYERS = ["app", "operators", "plans", "sources", "exec"]


def per_layer(res, inputs_s):
    ops, ph = res["ops"], res["phases"]
    traced = [o for o in ops if o["trace"].get("traced")]
    plain = [o for o in ops if not o["trace"].get("traced")]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m = {metric: med([o["trace"][k] for o in traced])
         for k, metric in PER_LAYER_OPS.items()}
    m["exec.jobs"] = m["app.sync_jobs"]
    if is_sync(ops):
        def changed(o):
            a = o["out"]["actions"]
            return sum(a.get(k, 0) for k in ("NUEVO", "ACTUALIZACIÓN",
                       "CAMBIO MÉTODO PAGO", "CONFLICTO → REVISIÓN"))

        def window(o):
            return sum(n for k, n in o["out"]["actions"].items()
                       if k not in ("ELIMINACIÓN DETECTADA", "FUERA_VENTANA"))
        m["sources.write_amp"] = med([o["trace"]["state_rows_written"] / max(1, changed(o))
                                      for o in traced])
        m["sources.scan_amp"] = med([sum(o["out"]["actions"].values()) / max(1, window(o))
                                     for o in traced])
    else:
        m["sources.write_amp"] = 0.0
        m["sources.scan_amp"] = 0.0
    selfs = self_times(res["spans"])
    wall_of = {o["i"]: (o["end_us"] - o["start_us"]) / 1e6 for o in traced}
    for layer in LAYERS:
        m[f"{layer}.self_s"] = med([selfs[o["i"]].get(layer, 0.0) for o in traced
                                    if o["i"] in selfs])
    self_sum = med([sum(selfs[i].values()) / wall_of[i] for i in wall_of if i in selfs])
    st = ph["setup_times"]
    m["setup.session_s"] = (ph["session_ready_us"] - ph["jvm_start_us"]) / 1e6
    m["setup.inputs_s"] = inputs_s
    m["setup.warmup_s"] = (ph["warm_done_us"] - ph["session_ready_us"]) / 1e6
    m["setup.store_build_s"] = st["store_build_s"]
    walls = lambda xs: [(o["end_us"] - o["start_us"]) / 1e6 for o in xs]  # noqa: E731
    if is_sync(ops):
        m["trace.overhead_ratio"] = med(walls(traced)) / med(walls(plain)) if plain else 1.0
    else:
        # each query ran twice in a row, traced first in every other pair:
        # the geometric mean cancels what the first of two runs pays extra
        by_pair = {}
        for o in ops:
            by_pair.setdefault(o["i"] // 2, {})[o["trace"].get("traced")] = o
        logs = [np.log(walls([p[True]])[0] / walls([p[False]])[0])
                for p in by_pair.values() if len(p) == 2]
        m["trace.overhead_ratio"] = float(np.exp(np.mean(logs))) if logs else 1.0
    log("[trace] layer self time per op (median s): " + ", ".join(
        f"{layer}={m[f'{layer}.self_s']:.4f}" for layer in LAYERS)
        + f"; layer self-time sum / op wall = {self_sum:.4f}")
    return m


PER_LAYER_UNITS = {
    "app.sync_jobs": "count", "app.sql_execs": "count", "app.self_s": "s",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "operators.classify_s": "s", "operators.exec_s": "s",
    "operators.self_s": "s",
    "plans.plan_s": "s", "plans.exchanges": "count", "plans.self_s": "s",
    "sources.commit_s": "s", "sources.bytes_written": "bytes",
    "sources.write_amp": "ratio", "sources.scan_amp": "ratio",
    "sources.self_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.gc_s": "s", "exec.task_busy_ratio": "ratio", "exec.self_s": "s",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "setup.store_build_s": "s", "trace.overhead_ratio": "ratio",
}


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["nightly", "reports"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    t_start = time.time()  # set-up time starts after the build
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        args = warm_inputs(a.workload, a.seed, work)
        ready = os.path.join(work, "inputs.ready")
        cores = os.cpu_count() or 1
        jargs = [f"workload={a.workload}", f"work={work}", f"ready={ready}",
                 f"seconds={a.seconds}", f"trace={a.trace}", f"cores={cores}"]
        jargs += [f"{k}={v}" for k, v in args.items()]
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as logf:
            jvm = subprocess.Popen(
                java_cmd("org.apache.spark.sql.perfbench.Harness", jargs, tmp),
                stdout=logf, stderr=subprocess.STDOUT)
        try:
            # the main inputs are generated while the JVM starts and warms up
            t0 = time.time()
            oracle_meta = main_inputs(a.workload, a.seed, args)
            inputs_s = time.time() - t0
            open(ready, "w").close()
            rc = jvm.wait(timeout=max(1.0, JVM_TIMEOUT_S - (time.time() - t_start)))
        finally:
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
        if rc != 0:
            with open(jvm_log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"harness JVM exited with {rc}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        ops = res["ops"]
        if not ops:
            raise SystemExit("no op completed")

        problems = []
        for o in ops:
            if o["error"]:
                problems.append((o["i"], f"{o['name']} failed: {o['error']}"))
        if a.workload == "nightly":
            counts = delta_classes(ops, check_sync(args, res, problems))
            total = sum(counts.values()) or 1
            log("[inputs] delta classes over all ops (rows, share): " + ", ".join(
                f"{k}={v} ({v / total:.4f})" for k, v in counts.items()))
        else:
            check_queries(oracle_meta, res, problems)
        for i, p in problems:
            log(f"[check] op {i}: {p}")
        # problems of the untimed runs (labelled, not numbered) fail the run
        failed = len({i for i, _ in problems if isinstance(i, int)})
        correct = not problems

        if a.trace:
            metrics = per_layer(res, inputs_s)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces",
                                   f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump({"spans": res["spans"], "ops": ops}, fh)
            out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = end_to_end(res, t_start)
            log(f"[e2e] fail_ratio = {failed}/{len(ops)}")
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        print(json.dumps({"correct": correct, "attempted": len(ops),
                          "failed": failed, "metrics": out}), flush=True)
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
