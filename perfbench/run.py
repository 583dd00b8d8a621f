#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (once per source state),
generates the inputs from the seed, runs one workload, checks the outputs
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A human summary goes to stderr.
--out DIR keeps the run's records (per-query rows, per-trigger progress,
spans, the raw harness result) in DIR.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM = os.path.join(HERE, "jvm")
WORK = os.path.join(HERE, ".work")

HEAP = {"batch_surface": "3g", "entity_stream": "2g", "dedup_takedown": "2g", "crosscheck": "2g"}
# Batch panel: a fixed set of registered queries spanning the families;
# every pass runs each once, in an order shuffled by seed and pass.
PANEL = ("p01_entity_count,q01_pricing_summary,q03_region_revenue,q21_order_gaps,"
         "e01_tumbling,e26_watermark_audit,d01_exact_dups,m02_media_stats,"
         "s05_knn_multiprobe,t55_weighted_sample")
# An event counts as failed when it is not committed within this limit.
LATENCY_LIMIT_MS = {"entity_stream": 5000.0, "dedup_takedown": 5000.0}

# Metric names and units are BENCHMARK.json's; measure() computes them.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for p in paths:
        for f in sorted(glob.glob(p, recursive=True)):
            if os.path.isfile(f):
                h.update(f.encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless this source state is built."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources beside the benchmark (build.sbt, src/main/scala)")
    digest = tree_digest([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "*.properties"),
                          os.path.join(ROOT, "src", "main", "**", "*"),
                          os.path.join(JVM, "build.sbt"), os.path.join(JVM, "src", "**", "*")])
    launch = os.path.join(JVM, "target", "launch.json")
    stamp = os.path.join(JVM, "target", "launch.digest")
    if os.path.isfile(launch) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return dict(json.load(open(launch)), digest=digest)
    log("building engine and harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=JVM, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True)
    if r.returncode != 0 or not os.path.isfile(launch):
        sys.stderr.write(r.stdout[-4000:])
        die("build failed", 3)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return dict(json.load(open(launch)), digest=digest)


def corpus_dir(name="corpus", *opts):
    d = os.path.join(WORK, name)
    digest = tree_digest([os.path.join(HERE, "gen.py")])
    stamp = os.path.join(d, ".digest")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return d
    shutil.rmtree(d, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "corpus", "--out", d, *opts], check=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return d


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * q / 100.0
    i = int(k)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (k - i)


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---- reading a checkpoint from outside ------------------------------------

def read_checkpoint(ckpt):
    """{batch_id: {"files": [...], "start_ns": offsets mtime, "commit_ns": commits mtime}}"""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], {"files": set()})["files"].add(os.path.basename(e["path"]))
    for b, rec in out.items():
        for kind, key in (("offsets", "start_ns"), ("commits", "commit_ns")):
            p = os.path.join(ckpt, kind, str(b))
            rec[key] = os.stat(p).st_mtime_ns if os.path.exists(p) else None
    return out


def file_latencies(batches, files, limit_ms):
    """Latencies in ms of the manifest files, from due time to the commit of
    the batch that read them, and how many were late or never committed."""
    committed = {}
    for rec in batches.values():
        if rec["commit_ns"] is None:
            continue
        for f in rec["files"]:
            committed[f] = min(committed.get(f, rec["commit_ns"]), rec["commit_ns"])
    lat, late = [], 0
    for m in files:
        c = committed.get(m["file"])
        if c is None:
            late += 1
            continue
        ms = (c - m["due_ns"]) / 1e6
        lat.append(ms)
        if ms > limit_ms:
            late += 1
    return lat, late


# ---- correctness checks ---------------------------------------------------

def check_entity_state(work):
    """Final state read through Spark's state source == DuckDB count over the
    generated text, with the rule in EntityPipeline.oracle."""
    import duckdb
    texts = []
    for f in sorted(glob.glob(os.path.join(work, "in", "articles", "*.json"))):
        for line in open(f).read().splitlines():
            d = json.loads(line)
            texts.append(" ".join(x for x in (d.get("title"), d.get("description"), d.get("content"))
                                  if isinstance(x, str)))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)", [(t,) for t in texts])
    want = dict(con.execute(open(os.path.join(work, "oracle.sql")).read()).fetchall())
    got = dict(con.execute(
        f"SELECT entity, n FROM read_parquet('{work}/final_state/*.parquet')").fetchall())
    n_entities = sum(got.values())
    return want == got, len(texts), n_entities, len(got)


def check_dedup(res, manifest):
    """The takedown checks. Returns (errors, flagged ratio, final audit
    total, per-wave takedown latencies in ms, number of checks)."""
    import duckdb
    errors = []
    deletes = [m for m in manifest["files"] if m["stream"] == "deletes"]
    wave_ids = {m["file"]: [json.loads(x)["doc_id"] for x in m["lines"]] for m in deletes}
    ids_sent = {i for ids in wave_ids.values() for i in ids}
    wave_commit = {f: rec["commit_ns"] for rec in read_checkpoint(res["takedown_ckpt"]).values()
                   if rec["commit_ns"] is not None for f in rec["files"]}
    tomb_commit = {}
    for f, ids in wave_ids.items():
        for i in ids if f in wave_commit else ():
            tomb_commit[i] = min(tomb_commit.get(i, wave_commit[f]), wave_commit[f])
    tomb_lat = [(wave_commit[m["file"]] - m["due_ns"]) / 1e6 for m in deletes if m["file"] in wave_commit]
    dd = read_checkpoint(res["dedup_ckpt"])
    con = duckdb.connect()
    flagged = con.execute(
        f"SELECT doc_id, best_match, batch_id FROM read_parquet('{res['dedup_out']}/*/*.parquet',"
        " hive_partitioning=1)").fetchall()
    bad = 0
    for doc_id, best, b in flagged:
        start = (dd.get(int(b)) or {}).get("start_ns")
        t = tomb_commit.get(best)
        if start is not None and t is not None and t < start:
            bad += 1
    if bad:
        errors.append(f"{bad} flagged rows name a document tombstoned before their batch started")
    audit = con.execute(
        f"SELECT n_tombstones_total FROM read_parquet('{res['takedown_out']}/*/*.parquet',"
        " hive_partitioning=1) ORDER BY batch_id DESC LIMIT 1").fetchall()
    total = audit[0][0] if audit else 0
    if total != len(ids_sent):
        errors.append(f"final audit n_tombstones_total={total} != {len(ids_sent)} distinct ids sent")
    if res.get("probe_equal") is not True:
        errors.append("post-run probe != rebuilt index minus deleted documents")
    probes_sent = sum(m["rows"] for m in manifest["files"] if m["stream"] == "probes")
    return errors, len(flagged) / max(1, probes_sent), total, tomb_lat, 3


# ---- one run --------------------------------------------------------------

def run(args):
    t_start = time.time()
    launch = build()
    corpus = corpus_dir()
    # warm-up data for the batch panel: sf0.01 of another seed, never the corpus
    warm = corpus_dir("warm", "--scale", "0.01", "--seed", "7")
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = args.cores or os.cpu_count()
    procs = []
    try:
        gen_proc = None
        if args.workload in ("entity_stream", "dedup_takedown"):
            gen_proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "stream", "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds), "--corpus", corpus,
                 "--work", work], stdin=subprocess.DEVNULL)
            procs.append(gen_proc)
        # soft references are cleared at every GC, so heap_retained_mb counts
        # only what the run keeps strongly reachable
        cmd = (["java"] + launch["java_options"] + [
               f"-Xmx{args.heap or HEAP[args.workload]}", "-XX:SoftRefLRUPolicyMSPerMB=0", "-cp",
               os.pathsep.join(launch["classpath"]), "perfbench.Harness", args.workload,
               f"corpus={corpus}", f"warm={warm}", f"work={work}", f"seed={args.seed}", f"cores={cores}",
               f"trace={args.trace}", f"setups={args.setups}",
               f"panel={args.panel or PANEL}", f"golden={os.path.join(HERE, 'golden', 'fingerprints.json')}"])
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            jvm = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            procs.append(jvm)
            deadline = t_start + args.limit
            while jvm.poll() is None:
                if time.time() > deadline or (gen_proc and gen_proc.poll() not in (None, 0)):
                    break
                time.sleep(0.05)
        if jvm.poll() is None or jvm.returncode != 0:
            tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
            sys.stderr.write(tail)
            die(f"harness did not finish cleanly (exit {jvm.poll()})", 4)
        if gen_proc:
            gen_proc.wait(timeout=30)
            if gen_proc.returncode != 0:
                die("generator failed", 4)
        res = json.load(open(os.path.join(work, "jvm_result.json")))
        out, details = (res, {}) if args.workload == "crosscheck" else measure(args, work, res)
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            for f in ("jvm_result.json", "queries.jsonl", "progress.jsonl", "spans.jsonl", "manifest.json"):
                if os.path.exists(os.path.join(work, f)):
                    shutil.copy(os.path.join(work, f), os.path.join(args.out, f))
            with open(os.path.join(args.out, "result.json"), "w") as f:
                json.dump({"result": out, "all_metrics": details,
                           "provenance": provenance(args, launch, cores, res)}, f, indent=1)
        return out
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)


def provenance(args, launch, cores, res):
    """Where and how a run was made."""
    git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return {"commit": git.stdout.strip() if git.returncode == 0 else None,
            "source_digest": launch["digest"], "nproc": os.cpu_count(), "cores": cores,
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "heap_max_mb": res["heap_max_mb"],
            "spark_conf": res["spark_conf"],
            "probe_s": {"start": res["probe_start_s"], "end": res["probe_end_s"]}}


def measure(args, work, res):
    w = args.workload
    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    e2e = {"setup_s": statistics.median(res["setup_s"]),
           "heap_retained_mb": res["heap_retained_mb"]}
    layer = {k: 0.0 for k in PER_LAYER}
    info = {}
    progress = []
    if os.path.exists(os.path.join(work, "progress.jsonl")):
        progress = [json.loads(x) for x in open(os.path.join(work, "progress.jsonl")).read().splitlines() if x]
    if w == "batch_surface":
        # one timed pass per set-up session; per-layer numbers are per pass
        passes = len(res["timed_s"])
        qs = [q for q in res["queries"] if q.get("ok")]
        lat = [q["latency_s"] * 1000 for q in qs]
        # a query's latency is the median of its passes; the percentiles
        # run over the panel
        by_query = {}
        for q in qs:
            by_query.setdefault(q["query"], []).append(q["latency_s"] * 1000)
        per_query = [statistics.median(v) for v in by_query.values()]
        e2e["total_s"] = statistics.median(res["timed_s"])
        e2e["latency_p50_ms"] = pct(per_query, 50)
        e2e["latency_p95_ms"] = pct(per_query, 95)
        info.update(queries=len(res["queries"]), passes=passes, pass_s=res["timed_s"],
                    golden_checked=sum(q.get("golden_checked", False) for q in qs),
                    query_p50_s=pct(lat, 50) / 1000, query_p95_s=pct(lat, 95) / 1000)
        counters = {k: sum(q["total"][k] for q in qs) / passes for k in qs[0]["total"]} if qs else {}
        wall_ms = sum(res["timed_s"]) * 1000 / passes
        layer["sparkentry.construct_ms"] = sum(q["construct_ms"] for q in qs) / passes
        layer["sparkentry.construct_jobs"] = sum(q["construct"]["jobs"] for q in qs) / passes
    else:
        manifest = json.load(open(os.path.join(work, "manifest.json")))
        main_stream = "articles" if w == "entity_stream" else "probes"
        files = [m for m in manifest["files"] if m["stream"] == main_stream]
        ckpt = res["stream_ckpt"] if w == "entity_stream" else res["dedup_ckpt"]
        batches = read_checkpoint(ckpt)
        lat, late = file_latencies(batches, files, LATENCY_LIMIT_MS[w])
        attempted += len(files) + len(batches)
        failed += late
        if late:
            errors.append(f"{late} of {len(files)} files not committed within {LATENCY_LIMIT_MS[w]} ms")
        e2e["latency_p50_ms"] = pct(lat, 50)
        e2e["latency_p95_ms"] = pct(lat, 95)
        e2e["total_s"] = res["drain_s"]
        info["drain_rows_per_s"] = manifest["backlog_rows"] / res["drain_s"]
        info["events"] = len(lat)
        layer["generator.lag_ms"] = max((m["written_ns"] - m["due_ns"]) / 1e6 for m in manifest["files"])
        layer["streaming.backlog_files_max"] = max((len(r["files"]) for r in batches.values()), default=0)
        counters = res.get("counters", {})
        wall_ms = res["counted_s"] * 1000
        qname = "entity_stream" if w == "entity_stream" else "dedup"
        prog = [p for p in progress if p["query"] == qname]
        if prog:
            dm = lambda k: mean(p["duration_ms"].get(k, 0) for p in prog)
            layer.update({
                "streaming.triggers": len(prog),
                "streaming.rows_per_trigger": mean(p["num_input_rows"] for p in prog),
                "streaming.latest_offset_ms": dm("latestOffset"),
                "streaming.query_planning_ms": dm("queryPlanning"),
                "streaming.add_batch_ms": dm("addBatch"),
                "streaming.wal_commit_ms": dm("walCommit"),
                "streaming.trigger_ms": dm("triggerExecution")})
            jobs = [j["jobs"] for j in res.get("stream_jobs", []) if j["query"] == qname]
            layer["streaming.jobs_per_trigger"] = mean(jobs)
            if w == "entity_stream":
                layer.update({
                    "state.rows_total": prog[-1]["state_rows_total"],
                    "state.rows_updated": mean(p["state_rows_updated"] for p in prog),
                    "state.memory_bytes": prog[-1]["state_memory_bytes"],
                    "state.commit_ms": mean(p["state_commit_ms"] for p in prog)})
        if w == "entity_stream":
            attempted += 1
            ok, n_articles, n_entities, n_keys = check_entity_state(work)
            if not ok:
                failed += 1
                errors.append("final entity state != DuckDB oracle over the generated articles")
            layer["entitypipeline.entities_per_article"] = n_entities / max(1, n_articles)
            info.update(articles=n_articles, entity_keys=n_keys)
        else:
            errs, flagged_ratio, tombs, tomb_lat, n_checks = check_dedup(res, manifest)
            attempted += n_checks
            failed += len(errs)
            errors += errs
            info["takedown_p50_ms"] = pct(tomb_lat, 50)
            tk = [p for p in progress if p["query"] == "takedown"]
            tjobs = [j["jobs"] for j in res.get("stream_jobs", []) if j["query"] == "takedown"]
            # dedup_takedown is not a BENCHMARK.json workload (see
            # perfbench/README.md), so its layer numbers go to the summary
            info.update({
                "dedup.index_build_ms": statistics.median(res["setup_extra_ms"]),
                "dedup.flagged_ratio": flagged_ratio,
                "dedup.output_bytes": res["dedup_output_bytes"],
                "takedown.add_batch_ms": mean(p["duration_ms"].get("addBatch", 0) for p in tk),
                "takedown.jobs_per_batch": mean(tjobs),
                "takedown.tombstones_total": tombs,
                "takedown.latency_p50_ms": pct(tomb_lat, 50)})
    if counters:
        layer.update({
            "exec.jobs": counters["jobs"], "exec.stages": counters["stages"],
            "exec.tasks": counters["tasks"], "exec.failed_tasks": counters["failed_tasks"],
            "exec.task_run_ms": counters["task_run_ms"], "exec.task_cpu_ms": counters["task_cpu_ms"],
            "exec.jvm_gc_ms": counters["jvm_gc_ms"],
            "exec.shuffle_read_bytes": counters["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": counters["shuffle_write_bytes"],
            "exec.spill_bytes": counters["spill_bytes"],
            "catalyst.analysis_ms": counters["analysis_ms"],
            "catalyst.optimization_ms": counters["optimization_ms"],
            "catalyst.planning_ms": counters["planning_ms"],
            "tables.input_rows": counters["input_rows"], "tables.input_bytes": counters["input_bytes"],
            "exec.busy_core_fraction": counters["task_run_ms"] / (wall_ms * res["cores"]),
            "exec.per_job_overhead_ms": (wall_ms - counters["task_run_ms"] / res["cores"])
            / max(1, counters["jobs"])})
    layer["corpusindexes.memo_storage_bytes"] = res["memo_storage_bytes"]
    info.update(error_rate=failed / max(1, attempted), probe_start_s=res["probe_start_s"],
                probe_end_s=res["probe_end_s"], setup_s_all=res["setup_s"])
    if errors:
        log("errors:\n  " + "\n  ".join(errors[:20]))
    for k, u in END_TO_END.items():
        log(f"{k:<18} {e2e[k]:>14.4f} {u}")
    for k, v in info.items():
        log(f"{k:<18} {v}")
    log(f"correct={failed == 0} attempted={attempted} failed={failed}")
    names = PER_LAYER if args.trace else END_TO_END
    vals = layer if args.trace else e2e
    result = {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
              "metrics": {k: {"value": float(vals[k]), "unit": u} for k, u in names.items()}}
    return result, {"end_to_end": e2e, "per_layer": layer, "summary": info, "errors": errors}


def main():
    # a terminated run still stops its generator and JVM (run's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["batch_surface", "entity_stream", "dedup_takedown", "crosscheck"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=0, help="local[N]; default: every core")
    p.add_argument("--setups", type=int, default=3, help="set-ups per run; setup_s is their median")
    p.add_argument("--panel", default="", help='batch queries (comma list or "all")')
    p.add_argument("--out", default="", help="keep the run's records in this directory")
    p.add_argument("--heap", default="", help="JVM heap, e.g. 6g (default: per workload)")
    p.add_argument("--limit", type=int, default=170, help="seconds before the run is abandoned")
    args = p.parse_args()
    result = run(args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
