"""Benchmark command: runs one workload of graft in Spark local mode, checks
its outputs, and prints the metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the benchmark from source
(perfbench/build.py). Each run then starts one JVM (perfbench.Main) with
min(nproc, 4) task threads, which sets up the workload's inputs, times whole
rounds of its operations in a closed loop for --seconds, and writes what it
measured into a work directory under .bench_work/. This script checks the
outputs apart from the program (checks.py), prints a readable report, and as
its last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
also traces each layer call and the metrics are the per-layer ones.
The exit code is 0 only when every check passed.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_tables  # noqa: E402

JVM_TIMEOUT_S = 160
CORPUS_SF = 0.2
TABLES_SF = 0.01

# The session the benchmark measures: the 6 of the 23 queries graft.Bench
# times that read only `documents` — the pair-spine queries, the exact and
# simhash channels and two per-document text queries. A pass of all 23 takes
# ~20 s warm and ~38 s cold here, too long for a run's time budget.
SESSION_QUERIES = ["q_exact_dedup_groups", "q_token_count", "q_minhash_pairs",
                   "q_minhash_clusters", "q_simhash", "q_split_assign"]

# Workload -> parameters passed to perfbench.Main.
WORKLOADS = {
    "batch_dedup": {"sf": CORPUS_SF, "setup_reps": 3, "min_rounds": 2},
    "query_session": {"queries": ",".join(SESSION_QUERIES), "min_rounds": 2},
    "incremental_probe": {"sf": 0.05, "setup_reps": 1, "batches": 2,
                          "batch_per_mille": 100, "compact_every": 2},
}

STAGES = ["extract", "signatures", "audit", "exact", "bands", "candidates", "verify", "assign"]


def span_metrics(span):
    """(name, unit) of what a traced span reports: its time, the summed task
    time, shuffle write and skew of its Spark jobs."""
    return [(span + "_s", "s"), (span + "_task_s", "s"), (span + "_shuffle_mb", "MB"),
            (span + "_skew", "ratio")]


# (name, unit) of every end-to-end and per-layer metric, in BENCHMARK.json order.
END_TO_END = [("setup_s", "s"), ("step_s", "s"), ("shuffle_mb", "MB")]
PER_LAYER = (
    [("kernel.us_per_doc", "us")]
    + [m for s in STAGES for m in span_metrics(f"pipeline.{s}")]
    + [(f"pipeline.{n}", "count") for n in
       ["exact_reps", "band_postings", "candidate_pairs", "verified_pairs"]]
    + [("pipeline.verify_yield", "ratio")]
    + span_metrics("cluster.cc")
    + [("cluster.edges_in", "count"), ("cluster.components", "count")]
    + [(f"query.{q}_s", "s") for q in SESSION_QUERIES]
    + [("session.jobs", "count"), ("session.retained_rdds", "count"),
       ("session.retained_mb", "MB")]
    + [m for s in ["index_read", "sweep", "sign", "probe"]
       for m in span_metrics(f"incremental.{s}")]
    + [("incremental.index_read_mb", "MB"), ("incremental.pairs", "count"),
       ("incremental.jobs", "count")]
    + span_metrics("storage.delta_write")
    + [("storage.delta_mb", "MB"), ("storage.compact_batch_s", "s"), ("storage.index_mb", "MB")]
    + [("jvm.gc_s", "s"), ("jvm.peak_heap_mb", "MB")]
    + [(f"{layer}.self_s", "s") for layer in
       ["pipeline", "cluster", "query", "session", "incremental", "storage"]]
    + [("trace.overhead_s", "s")]
)


def median(xs):
    return statistics.median(xs) if xs else None


def readme_figures():
    """Input fingerprints recorded in perfbench/README.md, by input key."""
    rows = {}
    pat = re.compile(r"^\| `([^`]+)` \| ([\d,]+) \| ([\d,]+|-) \| `([0-9a-f]{16})` \|")
    with open(os.path.join(HERE, "README.md")) as fh:
        for line in fh:
            m = pat.match(line)
            if m:
                gold = None if m.group(3) == "-" else int(m.group(3).replace(",", ""))
                rows[m.group(1)] = (int(m.group(2).replace(",", "")), gold, m.group(4))
    return rows


def fingerprint(key, rows, gold, digest, fails):
    """Prints the input's make-up and fails the run if it differs from the
    README's figures (a changed generator would silently change the workload)."""
    print(f"input {key}: rows={rows} gold_clusters={gold if gold is not None else '-'} "
          f"content_hash={digest}")
    want = readme_figures().get(key)
    if want != (rows, gold, digest):
        fails.append(f"input {key} is ({rows}, {gold}, {digest}); README records {want}")


def read_parquet(path, columns=None):
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=columns).to_pandas()


def run_jvm(cp, args, work, params, cores):
    java = shutil.which("java") or sys.exit("java not found")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = [java] + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores), "--work", work]
    for k, v in params.items():
        cmd += ["--param", f"{k}={v}"]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    result = f"{work}/result.json"
    if code != 0 or not os.path.exists(result):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"the benchmark JVM ended with {code}")
    with open(result) as fh:
        return json.load(fh)


def steps(res, kinds):
    """(seconds, shuffle MB) of each step whose operations all succeeded. A
    step is one op, except in query_session, where it is one pass: all
    queries of a round."""
    by_round, failed = {}, set()
    for o in res["ops"]:
        if o["kind"] in kinds:
            per_round = o["kind"] in ("pass", "traced_pass")
            key = (o["round"],) if per_round else (o["round"], o["name"])
            if not o["ok"]:
                failed.add(key)
            s, mb = by_round.get(key, (0.0, 0.0))
            by_round[key] = (s + o["s"], mb + o["shuffle_mb"])
    return [v for k, v in by_round.items() if k not in failed]


def check_outputs(workload, work, res, fails):
    facts = {}
    if workload == "batch_dedup":
        corpus = read_parquet(f"{work}/corpus", ["url", "text", "cluster_gold"])
        fingerprint(f"corpus@{CORPUS_SF}", len(corpus), corpus.cluster_gold.nunique(),
                    checks.content_hash(corpus[["url", "text"]]), fails)
        facts, f = checks.check_batch(read_parquet(f"{work}/out/batch"), corpus)
        fails += f
        facts["docs"] = len(corpus)
    elif workload == "incremental_probe":
        corpus = read_parquet(f"{work}/corpus", ["url", "text", "cluster_gold", "is_dup_member"])
        sf = WORKLOADS[workload]["sf"]
        fingerprint(f"corpus@{sf}", len(corpus), corpus.cluster_gold.nunique(),
                    checks.content_hash(corpus[["url", "text"]]), fails)
        n = WORKLOADS[workload]["batches"]
        batches = [read_parquet(f"{work}/batches/b{k}", ["url"]).url for k in range(n)]
        pairs = [read_parquet(f"{work}/out/inc/b{k}", ["src", "dst"]) for k in range(n)]
        facts, f = checks.check_incremental(
            batches, pairs, read_parquet(f"{work}/ids"), corpus,
            read_parquet(f"{work}/base", ["url"]).url)
        fails += f
        facts["batch_docs"] = sum(len(b) for b in batches) / n
    else:
        import duckdb
        con = duckdb.connect()
        for f in os.listdir(f"{work}/tables"):
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{work}/tables/{f}'")
        with open(f"{work}/oracle_sql.json") as fh:
            oracles = json.load(fh)
        results = {q: read_parquet(f"{work}/out/{q}") for q in SESSION_QUERIES
                   if os.path.isdir(f"{work}/out/{q}")}
        fails += checks.check_oracles(results, oracles, lambda sql: con.execute(sql).fetchdf())
        props = checks.check_properties(
            results, read_parquet(f"{work}/tables/documents.parquet"), SESSION_QUERIES)
        for q, msgs in props.items():
            fails += [f"{q}: {m}" for m in msgs]
        facts = {"oracle_checked": len(oracles), "property_checked": len(props)}
    return facts


def end_to_end(workload, res, facts):
    st = steps(res, {"step", "pass"})
    secs, mb = [s for s, _ in st], [m for _, m in st]
    m = {"setup_s": median(res["setup"]["setup_s"]), "step_s": median(secs),
         "shuffle_mb": median(mb)}
    n = len(st)
    print(f"setup_s        {m['setup_s']:.3f} s   median of {len(res['setup']['setup_s'])} set-ups")
    print(f"step_s         {m['step_s']:.3f} s   median of {n} steps")
    print(f"shuffle_mb     {m['shuffle_mb']:.3f} MB  median shuffle write per step, {n} steps")
    if workload == "batch_dedup":
        print(f"batch_docs_per_s {facts['docs'] / m['step_s']:.1f} docs/s  "
              f"({facts['docs']} docs / median step, {n} steps)")
    elif workload == "incremental_probe":
        print(f"probe_batch_s  {m['step_s']:.3f} s   median of {n} batches "
              f"(~{facts['batch_docs']:.0f} docs each)")
        print(f"index_mb       {res['values']['storage.index_mb']:.3f} MB  index plus rolling "
              "state at run end")
    else:
        print(f"session_pass_s {m['step_s']:.3f} s   median of {n} warm passes of "
              f"{len(WORKLOADS[workload]['queries'].split(','))} queries")
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END}


def per_layer(workload, res):
    v = dict(res.get("values", {}))
    for kind in ("pass", "traced_pass"):
        for k in ("session.jobs", "session.retained_rdds", "session.retained_mb"):
            if k in res.get(kind, {}):
                v[k] = res[kind][k]
    for layer, s in res.get("self_s", {}).items():
        v[f"{layer.split('.', 1)[1]}.self_s"] = s
    untraced = median([s for s, _ in steps(res, {"step", "pass"})])
    traced = median([s for s, _ in steps(res, {"traced_step", "traced_pass"})])
    if traced is not None and untraced is not None:
        v["trace.overhead_s"] = traced - untraced
        print(f"trace overhead {traced - untraced:+.3f} s per step "
              f"(traced {traced:.3f} s, untraced {untraced:.3f} s)")
    for layer, s in sorted(res.get("self_s", {}).items()):
        print(f"self time {layer.split('.', 1)[1]:<12} {s:.3f} s per traced round")
    if workload == "incremental_probe":
        v["incremental.pairs"] = median(list(res.get("batch_pairs", {}).values()))
        v["storage.delta_mb"] = median(list(res.get("delta_mb", {}).values()))
        batch_ops = [o for o in res["ops"] if o["kind"] == "step" and o["ok"]]
        fold = int(WORKLOADS[workload]["compact_every"])
        folds = [o["s"] for o in batch_ops if (int(o["name"][1:]) + 1) % fold == 0]
        v["incremental.jobs"] = median([o["jobs"] for o in batch_ops])
        v["storage.compact_batch_s"] = median(folds)
        print(f"incremental.jobs median of {len(batch_ops)} untraced batches; "
              f"storage.compact_batch_s median of {len(folds)} folding batches")
    metrics = {}
    for name, unit in PER_LAYER:
        val = v.get(name) or 0.0  # 0: the layer does no work in this workload
        metrics[name] = {"value": val, "unit": unit}
        print(f"{name:<34} {val:.6g} {unit}")
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    args = ap.parse_args()

    cp = build.build()
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fails = []
    try:
        t0 = time.time()
        if args.workload == "query_session":
            tables = gen_tables.write(f"{work}/tables", TABLES_SF, args.seed)
            for name, t in tables.items():
                fingerprint(f"{name}@{TABLES_SF}", t.num_rows, None,
                            checks.content_hash(t.to_pandas()), fails)
        res = run_jvm(cp, args, work, WORKLOADS[args.workload], cores)
        print(f"workload {args.workload} seed {args.seed}: local[{cores}], "
              f"set-up {res['values']['setup_wall_s']:.1f} s, measured "
              f"{res['values']['measure_s']:.1f} s, wall {time.time() - t0:.1f} s")
        facts = check_outputs(args.workload, work, res, fails)
        print("facts " + json.dumps(facts))
        # an operation that throws leaves no output to check and no time: the
        # workloads here fail none, so any failure is a fault of the program
        failed_ops = [o for o in res["ops"] if not o["ok"]]
        fails += [f"{o['kind']} {o['name']} (round {o['round']}) failed: {o['error']}"
                  for o in failed_ops]
        metrics = per_layer(args.workload, res) if args.trace else \
            end_to_end(args.workload, res, facts)
        if args.trace:
            spans = os.path.join(ROOT, ".bench_spans")
            os.makedirs(spans, exist_ok=True)
            run_id = f"{args.workload}-s{args.seed}-{int(t0)}-{os.getpid()}"
            with open(os.path.join(spans, f"{run_id}.json"), "w") as fh:
                json.dump([dict(s, run_id=run_id) for s in res.get("spans", [])], fh)
        for f in fails:
            print(f"CHECK FAILED: {f}")
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not fails, "attempted": len(res["ops"]),
                      "failed": len(failed_ops), "metrics": metrics}))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
