#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles graft
and the harness (perfbench/build.py), generates the fixed star-schema
dataset and fills the benchmark's own FrameCache artifact store; all of
that lives under .bench_build/ and is reused by later runs.

Workloads (see BENCHMARK.json for why each was chosen):
  coord_api   closed-loop CoordinationApi calls over a seeded changelog
  batch_mix   a fixed list of registered queries (batch and stream twins),
              in seeded order

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(listeners, spans, table-resolution and kernel probes). Every answer is
checked outside the timed window: coordination reads against a
driver-side replay (model.py), queries against their DuckDB oracle.
"""
import argparse
import glob
import json
import math
import os
import pickle
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402
import model  # noqa: E402
import oracle_compare  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA_SEED = 7          # the star dataset is fixed; the run seed orders the ops
# sf0.05: the largest scale whose runs, two first-run preparations (the
# DuckDB oracle of dedup_winnow_clusters grows with the square of the
# document count: 56 s here, 176 s at sf0.1) and 48 runs fit the budget
STAR_SF = 0.05
COORD_ROWS, COORD_KEYS = 100_000, 1_500
# untimed rounds after the warm-up block: the JIT is still compiling the
# API's plans through the first rounds, which spread cpu_s_per_op by ~0.24
COORD_WARM_ROUNDS = 2
# The timed window ends once --seconds, MIN_OPS and a whole pass (a round of
# API calls, or the query list) are reached, so every run measures the same
# mix. MIN_OPS is what fits the benchmark's budget of 48 runs in 3420 s; batch_mix's
# 15 samples support no percentile above the median with stats.MIN_BEYOND
# beyond it, so latency is the median alone.
MIN_OPS = {"coord_api": 60, "batch_mix": 15}
# lower bounds on the wall time of one pass, used only to size the op list
# so that a longer --seconds still has ops left to run
PASS_FLOOR_S = {"coord_api": 1.0, "batch_mix": 5.0}
# coverage check: the most of an op's wall time its layer spans may leave
# uncovered (the harness's own bookkeeping between the calls it times)
SPAN_TOLERANCE = 0.05

with open(os.path.join(HERE, "workloads.json")) as fh:
    QUERY_LISTS = json.load(fh)
# stream twin -> batch twin, for stream twins without an oracle
TWINS = QUERY_LISTS.pop("twins")

JVM_OPTS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]

END_TO_END = {  # name -> unit; every workload reports all of them untraced
    "setup_s": "s", "latency_p50_s": "s",
    "throughput_ops_s": "1/s", "cpu_s_per_op": "s", "heap_retained_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "framecache.load_s": "s", "framecache.build_s": "s",
    "framecache.artifacts_loaded": "count", "framecache.artifacts_built": "count",
    "tables.resolve_ms": "ms", "execution.jobs_per_op": "count",
    "queries.construct_s_per_op": "s", "queries.construct_share": "ratio",
    "planning.s_per_op": "s", "planning.analysis_ms": "ms",
    "planning.optimization_ms": "ms", "planning.physical_ms": "ms",
    "execution.s_per_op": "s", "execution.tasks_per_op": "count",
    "execution.executor_cpu_s_per_op": "s", "execution.shuffle_bytes_per_op": "B",
    "execution.input_bytes_per_op": "B", "execution.spill_bytes": "B",
    "streaming.triggers_per_op": "count", "streaming.add_batch_s_per_op": "s",
    "streaming.query_planning_s_per_op": "s", "streaming.wal_commit_s_per_op": "s",
    "streaming.commit_offsets_s_per_op": "s", "streaming.outside_trigger_s_per_op": "s",
    "streaming.state_rows_max": "count", "streaming.state_mem_mb_max": "MB",
    "kernels.minhash_rows_s": "1/s", "kernels.simhash64_rows_s": "1/s",
    "kernels.srp_sig_rows_s": "1/s", "kernels.cosine_ff_rows_s": "1/s",
    "kernels.fingerprint64_rows_s": "1/s",
    "api.fetch_p50_s": "s", "api.fetch_cas_p50_s": "s", "api.is_member_p50_s": "s",
    "api.get_leader_p50_s": "s", "api.membership_list_p50_s": "s",
    "api.append_p50_s": "s", "api.read_p50_s": "s",
    "api.changelog_files_end": "count", "api.repeat_read_share": "ratio",
    "jvm.gc_s_per_op": "s",
    "trace.latency_p50_s": "s", "trace.cpu_s_per_op": "s",
    "trace.span_gap_max": "ratio", "trace.spans_reconciled": "bool"}
API_P50 = {"fetch": "fetch", "fetchCas": "fetch_cas", "isMember": "is_member",
           "getLeader": "get_leader", "membershipList": "membership_list"}
WRITE_OPS = {"put", "update", "delete", "joinGroup", "leaveGroup"}


# ---- preparation -----------------------------------------------------------

def star_dir():
    d = os.path.join(BUILD, f"star-sf{STAR_SF}-seed{DATA_SEED}")
    for old in glob.glob(os.path.join(BUILD, "star-*")):  # other scales'
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.star(d, DATA_SEED, STAR_SF)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def java(classes, args, tmp, env=None, log=None, timeout=None):
    """Run the harness; tmp takes the JVM's and Spark's scratch files."""
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                                 "-cp", cp, "graft.perfbench.Harness"] + args
    # the store is the benchmark's own, never one inherited from the caller
    full_env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_INDEX_DIR"}
    full_env.update(env or {})
    with open(log or os.devnull, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=full_env)
        try:
            return p.wait(timeout=timeout)
        finally:  # a timeout or a SIGTERM to this process also ends the JVM
            if p.poll() is None:
                p.kill()
                p.wait()


def prepare(classes):
    """Once per build: the star dataset, the benchmark's own artifact store
    (filled by a cold build) and the oracle answers for batch_mix's list.
    Returns the data dir, the store dir and the answers by query name.
    """
    data = star_dir()
    # artifacts depend on both the code and the data they were staged from
    store = os.path.join(BUILD, f"store-{os.path.basename(data)}-{os.path.basename(classes)}")
    for old in glob.glob(os.path.join(BUILD, "store-*")):  # earlier builds'
        if os.path.isdir(old) and old != store:
            shutil.rmtree(old, ignore_errors=True)
        elif not old.startswith(store):
            os.remove(old)
    meta = store + ".json"
    if not os.path.exists(meta):
        shutil.rmtree(store, ignore_errors=True)
        rc = java(classes, ["workload=populate", f"data={data}", f"out={meta}.tmp"],
                  store + ".tmp", env={"SPARK_GRAFT_INDEX_DIR": store}, log=store + ".log",
                  timeout=900)
        shutil.rmtree(store + ".tmp", ignore_errors=True)
        if rc != 0:
            raise SystemExit(f"perfbench: populating the artifact store failed, see {store}.log")
        os.rename(meta + ".tmp", meta)
    with open(meta) as fh:
        sql = json.load(fh)["oracles"]
    cache = store + ".oracles.pkl"
    answers = {}
    if os.path.exists(cache):
        with open(cache, "rb") as fh:
            answers = pickle.load(fh)
    missing = [n for n in QUERY_LISTS["batch_mix"] if n in sql and n not in answers]
    if missing:
        con = duckdb_views(data)
        answers.update({n: oracle_compare.oracle(con, sql[n]) for n in missing})
        with open(cache + ".tmp", "wb") as fh:
            pickle.dump(answers, fh)
        os.rename(cache + ".tmp", cache)
    return data, store, answers


def duckdb_views(data):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in oracle_compare.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ---- plans -------------------------------------------------------------------

def passes(workload, seconds, pass_ops):
    """Timed passes the window can consume, plus one of headroom."""
    return math.ceil(max(seconds / PASS_FLOOR_S[workload], MIN_OPS[workload] / pass_ops)) + 1


def query_plan(workload, seed, seconds=1):
    """Seeded shuffled passes over the workload's list; the first is the
    untimed warm-up, so every timed query has run once in this JVM."""
    names = QUERY_LISTS[workload]
    rng = random.Random(seed)
    rows = []
    for p in range(passes(workload, seconds, len(names)) + 1):
        order = names[:]
        rng.shuffle(order)
        rows += [("warm" if p == 0 else "timed", str(p), n) for n in order]
    return rows


def coord_inputs(seed, run_dir, seconds=1):
    cols = gen.changelog(seed, COORD_ROWS, COORD_KEYS)
    gen.write_changelog(run_dir, cols)
    end_us = int(cols["ts"].cast("int64").to_numpy()[-1])
    n_rounds = COORD_WARM_ROUNDS + passes("coord_api", seconds, gen.ROUND_OPS)
    return cols, gen.coord_ops(seed, n_rounds, COORD_KEYS, end_us)


def write_plan(path, rows):
    with open(path, "w") as fh:
        fh.writelines("\t".join(map(str, r)) + "\n" for r in rows)


def coord_row(op):
    phase = "warm" if op["round"] <= COORD_WARM_ROUNDS else "timed"
    return (phase, op["round"], op["op"], op["ns"], op.get("key", ""),
            op.get("value", ""), op.get("ts_us", ""))


# ---- checks ------------------------------------------------------------------

def check_coord(cols, ran_ops, answers):
    """Replay every op that ran; return the set of op indices that disagree."""
    log = model.Log({"event_id": cols["event_id"].to_pylist(),
                     "us": cols["ts"].cast("int64").to_pylist(),
                     "user_id": cols["user_id"].to_pylist(),
                     "event_type": cols["event_type"].to_pylist(),
                     "value": cols["value"].to_pylist()})
    bad = set()
    for i, (op, got) in enumerate(zip(ran_ops, answers)):
        want = model.expected(log, op)
        if got != want:
            bad.add(i)
    return bad


def check_queries(checks, answers):
    """Names whose written output disagrees with their oracle's answer or,
    for a stream twin without one, with its batch twin's output."""
    bad = set()
    for n, path in checks.items():
        if n in answers:
            want = answers[n]
        elif n in TWINS:
            want = oracle_compare.output(checks.get(TWINS[n], ""))
        else:
            continue
        if want is None or not oracle_compare.same(oracle_compare.output(path), want):
            bad.add(n)
    return bad


def span_tree(spans, triggers):
    """Each op's spans as dicts with their parent and self time.

    Per op: "op" is the root; the layer spans the harness timed (construct,
    plan, execute, or one api.* call) are its children; each streaming
    trigger is a child of the construct span that drained it. Self time is
    a span's time minus its children's.
    """
    tree = {}
    for op, name, t0, t1 in spans:
        tree.setdefault(op, []).append(
            {"op": op, "span": name, "parent": None if name == "op" else "op",
             "start_ns": t0, "end_ns": t1})
    for op, ts in triggers.items():
        for t in ts:
            start = t["start_ns"]
            tree.setdefault(int(op), []).append(
                {"op": int(op), "span": "trigger", "parent": "construct", "start_ns": start,
                 "end_ns": start + t["durations_ms"].get("triggerExecution", 0) * 10**6})
    for ss in tree.values():
        child = {}
        for x in ss:
            if x["parent"]:
                child[x["parent"]] = child.get(x["parent"], 0) + x["end_ns"] - x["start_ns"]
        for x in ss:
            x["self_ns"] = x["end_ns"] - x["start_ns"] - child.get(x["span"], 0)
    return tree


# ---- summary -----------------------------------------------------------------

def end_to_end(res, timed):
    walls = [o["wall_s"] for o in timed]
    return {
        "setup_s": res["setup"]["cold_s"],
        "latency_p50_s": stats.percentile(walls, 50),
        "throughput_ops_s": len(walls) / sum(walls),
        "cpu_s_per_op": sum(o["cpu_s"] for o in timed) / len(timed),
        "heap_retained_mb": res["heap_retained_mb"],
    }


def per_layer(res, timed, workload, data):
    tr = res["trace"]
    n = len(timed)
    idx = {o["i"] for o in timed}
    setup = res["setup"]
    tree = {op: ss for op, ss in span_tree(tr["spans"], tr["triggers"]).items() if op in idx}
    spans, self_s = {}, {}  # op -> span name -> total (or self) seconds
    for op, ss in tree.items():
        for x in ss:
            spans.setdefault(op, {}).setdefault(x["span"], 0.0)
            spans[op][x["span"]] += (x["end_ns"] - x["start_ns"]) / 1e9
            self_s.setdefault(op, {}).setdefault(x["span"], 0.0)
            self_s[op][x["span"]] += x["self_ns"] / 1e9

    def span_mean(name):
        return sum(s.get(name, 0.0) for s in spans.values()) / n

    ex = {int(k): v for k, v in tr["exec"].items() if int(k) in idx}
    trig = {int(k): v for k, v in tr["triggers"].items() if int(k) in idx}
    plan_ms = {int(k): v for k, v in tr["planning_ms"].items() if int(k) in idx}

    # streaming figures are per drained twin (ops that ran triggers)
    stream_ops = [i for i in idx if trig.get(i)]
    n_drains = max(len(stream_ops), 1)

    def trig_s(key):
        return sum(t["durations_ms"].get(key, 0) for ts in trig.values() for t in ts) / 1e3 / n_drains

    all_trig = [t for ts in trig.values() for t in ts]
    # coverage: the share of each op's wall time that none of its layer
    # spans covers (the op span's self time); the layer spans wrap whole
    # calls, so this checks that no timed call was missed, not how the
    # time divides between layers
    gaps = [s["op"] / spans[op]["op"] for op, s in self_s.items()]
    m = {
        "session.start_s": setup["session_s"],
        "framecache.load_s": setup["framecache_s"],
        "framecache.build_s": tr.get("framecache_build_s", 0.0),
        "framecache.artifacts_loaded": setup["loaded"],
        "framecache.artifacts_built": tr.get("framecache_built", 0),
        "tables.resolve_ms": statistics.fmean(tr["tables_resolve_ms"].values()),
        "execution.jobs_per_op": sum(v[0] for v in ex.values()) / n,
        "queries.construct_s_per_op": span_mean("construct"),
        "queries.construct_share": (sum(s.get("construct", 0.0) for s in spans.values()) /
                                    sum(s["op"] for s in spans.values())),
        "planning.s_per_op": span_mean("plan"),
        "planning.analysis_ms": sum(p.get("analysis", 0) for p in plan_ms.values()) / n,
        "planning.optimization_ms": sum(p.get("optimization", 0) for p in plan_ms.values()) / n,
        "planning.physical_ms": sum(p.get("planning", 0) for p in plan_ms.values()) / n,
        "execution.s_per_op": span_mean("execute"),
        "execution.tasks_per_op": sum(v[1] for v in ex.values()) / n,
        "execution.executor_cpu_s_per_op": sum(v[2] for v in ex.values()) / 1e9 / n,
        "execution.shuffle_bytes_per_op": sum(v[3] for v in ex.values()) / n,
        "execution.input_bytes_per_op": sum(v[4] for v in ex.values()) / n,
        "execution.spill_bytes": tr["spill_bytes"],
        "streaming.triggers_per_op": len(all_trig) / n_drains,
        "streaming.add_batch_s_per_op": trig_s("addBatch"),
        "streaming.query_planning_s_per_op": trig_s("queryPlanning"),
        "streaming.wal_commit_s_per_op": trig_s("walCommit"),
        "streaming.commit_offsets_s_per_op": trig_s("commitOffsets"),
        # the drain's construct time outside its triggers: its self time
        "streaming.outside_trigger_s_per_op":
            sum(self_s[i].get("construct", 0.0) for i in stream_ops) / n_drains,
        "streaming.state_rows_max": max([t["state_rows"] for t in all_trig], default=0),
        "streaming.state_mem_mb_max": max([t["state_mem_bytes"] for t in all_trig],
                                          default=0) / 2**20,
        "jvm.gc_s_per_op": sum(o["gc_s"] for o in timed) / n,
        "trace.latency_p50_s": stats.percentile([o["wall_s"] for o in timed], 50),
        "trace.cpu_s_per_op": sum(o["cpu_s"] for o in timed) / n,
        "trace.span_gap_max": max(gaps),
        "trace.spans_reconciled": int(max(gaps) <= SPAN_TOLERANCE),
    }
    for k, v in tr["kernels"].items():
        m["kernels." + k] = v
    reads = [o for o in timed if o["name"] not in WRITE_OPS]
    writes = [o for o in timed if o["name"] in WRITE_OPS]
    for op, key in API_P50.items():
        xs = [o["wall_s"] for o in timed if o["name"] == op]
        m[f"api.{key}_p50_s"] = stats.percentile(xs, 50) if xs else 0.0
    # every write is an append; a minimal run has 48 reads and 12 writes
    m["api.append_p50_s"] = stats.percentile([o["wall_s"] for o in writes], 50) if writes else 0.0
    m["api.read_p50_s"] = stats.percentile([o["wall_s"] for o in reads], 50) \
        if workload == "coord_api" else 0.0
    m["api.changelog_files_end"] = (
        len([f for f in os.listdir(os.path.join(data, "events.parquet"))
             if f.endswith(".parquet")]) if workload == "coord_api" else 0)
    m["api.repeat_read_share"] = repeat_read_share(res["plan_ops"], timed) \
        if workload == "coord_api" else 0.0
    return m


def repeat_read_share(plan_ops, timed):
    """Share of timed reads whose (namespace, key) was read earlier in the run."""
    seen, repeats, reads = set(), 0, 0
    timed_idx = {o["i"] for o in timed}
    last = max(timed_idx)
    for i, op in enumerate(plan_ops[:last + 1]):
        if op["op"] in WRITE_OPS:
            continue
        k = (op["ns"], op.get("key"))
        if i in timed_idx:
            reads += 1
            repeats += k in seen
        seen.add(k)
    return repeats / reads if reads else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(MIN_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    wl = args.workload
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    if wl != "coord_api":
        star, store, answers = prepare(classes)
    t_ready = time.time()
    run_dir = os.path.join(BUILD, "run", wl)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = {}
    if wl == "coord_api":
        data = run_dir
        cols, plan_ops = coord_inputs(args.seed, run_dir, args.seconds)
        write_plan(os.path.join(run_dir, "plan.tsv"), [coord_row(o) for o in plan_ops])
        sf = None
    else:
        data = star
        env["SPARK_GRAFT_INDEX_DIR"] = store
        write_plan(os.path.join(run_dir, "plan.tsv"), query_plan(wl, args.seed, args.seconds))
        sf = STAR_SF

    load = {"max": 0.0}
    done = threading.Event()

    def sample_load():
        while not done.is_set():
            with open("/proc/loadavg") as fh:
                load["max"] = max(load["max"], float(fh.read().split()[0]))
            done.wait(0.5)

    sampler = threading.Thread(target=sample_load, daemon=True)
    sampler.start()
    out = os.path.join(run_dir, "result.json")
    jargs = [f"workload={wl}", f"data={data}", f"plan={run_dir}/plan.tsv",
             f"seconds={args.seconds}", f"trace={args.trace}", f"seed={args.seed}",
             f"min_ops={MIN_OPS[wl]}", f"cpus={min(os.cpu_count() or 4, 4)}",
             f"out={out}",
             "twins=" + ",".join(f"{k}:{v}" for k, v in TWINS.items()),
             f"results={run_dir}/results", f"scratch={run_dir}"]
    try:
        rc = java(classes, jargs, os.path.join(run_dir, "tmp"), env=env,
                  log=os.path.join(run_dir, "jvm.log"),
                  timeout=160 - (time.time() - t_ready))
    finally:
        done.set()
        sampler.join()
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited {rc}, see {run_dir}/jvm.log")
    with open(out) as fh:
        res = json.load(fh)

    # FrameCache stage mode, as graft.Bench labels it
    built = res["setup"]["built"] + res["op_artifacts"]["built"]
    loaded = res["setup"]["loaded"] + res["op_artifacts"]["loaded"]
    stage_mode = "cold-build" if built else "warm-load" if loaded else "none"
    ran = res["ops"]
    timed = [o for o in ran if o["phase"] == "timed"]
    failed = {o["i"] for o in ran if o["error"]}
    if wl == "coord_api":
        res["plan_ops"] = plan_ops
        failed |= check_coord(cols, plan_ops[:len(ran)], [o["answer"] for o in ran])
    else:
        bad = check_queries(res["checks"], answers)
        rows = {}
        for o in ran:  # every run of a query, warm-up too, returns the same row count
            if o["answer"] is not None and rows.setdefault(o["name"], o["answer"]) != o["answer"]:
                failed.add(o["i"])
        failed |= {o["i"] for o in ran if o["name"] in bad}
    record, line = summarize(res, wl, args.trace, failed, data)
    record.update({"seed": args.seed, "sf": sf, "stage_mode": stage_mode,
                   "nproc": os.cpu_count(), "loadavg_max": load["max"],
                   "peak_rss_mb": res["rss_peak_mb"]})
    if args.trace:
        with open(os.path.join(BUILD, f"spans-{wl}.jsonl"), "w") as fh:
            tree = span_tree(res["trace"]["spans"], res["trace"]["triggers"])
            for op in sorted(tree):
                fh.writelines(json.dumps(x) + "\n" for x in tree[op])
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(line))


def summarize(res, wl, trace, failed, data):
    """The run's provenance record and its result line (the last stdout line)."""
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    warm_failed = any(o["i"] in failed for o in res["ops"] if o["phase"] == "warm")
    n_failed = sum(o["i"] in failed for o in timed)
    # failed ops keep their measured times: correct=false already flags the run
    if trace:
        metrics, units = per_layer(res, timed, wl, data), PER_LAYER
    else:
        metrics, units = end_to_end(res, timed), END_TO_END
    record = {"workload": wl, "trace": trace, "ops_attempted": len(timed),
              "ops_failed": n_failed, "warmup_failed": warm_failed,
              "checked": len(res.get("checks", {})), "latency_samples": len(timed)}
    line = {"correct": n_failed == 0 and not warm_failed, "attempted": len(timed),
            "failed": n_failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    return record, line

if __name__ == "__main__":
    main()
