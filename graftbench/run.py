#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 graftbench/run.py --workload {inventory,crawl} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine and the
harness from source with sbt (Spark comes from $SPARK_HOME/jars); later
runs reuse the build while the sources are unchanged. Inputs are generated
from the seed into a temporary directory under graftbench/.work, which is
removed at exit. One JVM (Spark local[4], one closed-loop client) runs the
workload; this script then checks the outputs and prints every metric,
ending with one JSON line:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. The exit code is non-zero on any failed check.
"""
import argparse
import collections
import fractions
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("inventory", "crawl")
DEADLINE_S = 170
HEAP = "3g"
# The inventory runs on one fixed star schema, like the graded corpus; the
# seed shuffles the query order.
INVENTORY_DATA_SEED = 42
# The graded queries the inventory workload runs, see README.md.
INVENTORY_QUERIES = [
    "q01_scan_project", "q03_str_funcs", "q10_join_semi", "q14_join_cross",
    "q17_agg_having", "q22_win_lag_lead", "q26_sort_multi",
    "q34_tok_stats", "q52_token_count", "q55_multimodal_meta",
    "q106_normalize_text", "q37_jaccard_rs_join", "q44_tumbling_window",
    "q74_stateful_sessionize", "q104_schema_evolution", "q150_atomic_commit",
]

END_TO_END = {
    "setup_s": "s", "items_per_s": "1/s", "heap_peak_mb": "MB", "recall": "ratio",
    "stored_bytes_per_user_byte": "ratio",
}
PER_LAYER = {
    "trace.items_per_s": "1/s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "jvm.gc_s": "s",
    "ops.tokenize_s": "s", "ops.skew_probe_s": "s", "ops.jaccard_s": "s",
    "ops.jaccard.index_rows": "count", "ops.jaccard.candidates": "count",
    "ops.jaccard.pairs": "count", "ops.jaccard.verified": "count",
    "ops.jaccard.yield": "ratio", "ops.jaccard.shuffle_bytes": "bytes",
    "ops.minhash_s": "s", "ops.minhash.candidates": "count",
    "ops.embed_s": "s", "ops.embed.candidates": "count",
    "ops.cc_s": "s", "ops.cc.jobs": "count",
    "sources.commit_s": "s", "sources.files_written": "count",
    "sources.bytes_written": "bytes", "sources.read_s": "s",
    "sources.bytes_scanned": "bytes", "sources.compact_s": "s",
    "sources.live_files": "count",
}
# The crawl's Jaccard threshold, as CrawlWorkload.Tau.
TAU = 0.8
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read() + b"\0")
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    cp_file = os.path.join(HERE, "target", "graftbench.classpath")
    stamp_file = os.path.join(HERE, "target", "graftbench.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def generate(workload, seed, inp):
    """Writes the workload's inputs; returns what the checks need."""
    if workload == "inventory":
        ub = gen.tables(INVENTORY_DATA_SEED, os.path.join(inp, "tables"))
        order = gen.inventory_order(seed, INVENTORY_QUERIES)
        with open(os.path.join(inp, "inventory_order.txt"), "w") as f:
            f.write("\n".join(order) + "\n")
        return {"user_bytes": ub}
    return {"shards": gen.crawl(seed, inp)}


def run_jvm(cp, workload, seconds, trace, inp, work, deadline):
    out = os.path.join(work, "result.json")
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp)
    cmd = (["java"] + [a for p in JDK_OPENS
                       for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={jtmp}", "-cp", cp,
              "graftbench.Main", workload, str(seconds), str(trace), inp,
              work, out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, cwd=work, start_new_session=True)
        rc = "timeout"
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"workload JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def oracle_counts(tables_dir, sqls):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    return {q: con.execute(f"SELECT count(*) FROM ({sql.rstrip().rstrip(';')})")
            .fetchone()[0] for q, sql in sqls.items()}


def check_inventory(r, inp):
    """Each query's count matches DuckDB's on the oracle SQL, or, where no
    oracle exists, the set-up pass. Returns (failures, recall)."""
    fails = []
    oracle = oracle_counts(os.path.join(inp, "tables"), r["oracle_sql"])
    good = 0
    for q in r["queries"]:
        seen = r["rows"].get(q, [])
        want = oracle.get(q, r["first_pass_rows"].get(q))
        if len(seen) == 1 and seen[0] == want:
            good += 1
        else:
            src = "oracle" if q in oracle else "first pass"
            fails.append(f"{q}: rows {seen} != {src} {want}")
    return fails, good / len(r["queries"])


def reference_pairs(rows, tau):
    """Exact token-set Jaccard self-join within each lang: every pair
    (a < b) with |A & B| / |A | B| >= tau, by prefix filtering (two sets
    that reach tau share a token among their rarest |A| - ceil(tau|A|) + 1).
    """
    sets = {doc: set(text.split(" ")) for doc, _, _, text in rows}
    df = collections.Counter(t for s in sets.values() for t in s)
    t = fractions.Fraction(tau).limit_denominator()
    index = collections.defaultdict(list)
    cands = set()
    for doc, lang, _, _ in rows:
        toks = sorted(sets[doc], key=lambda x: (df[x], x))
        n = len(toks)
        prefix = n - math.ceil(t * n) + 1
        for tok in toks[:prefix]:
            for other in index[(lang, tok)]:
                cands.add((min(doc, other), max(doc, other)))
            index[(lang, tok)].append(doc)
    return {(a, b) for a, b in cands
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= tau}


def keep_one(pairs):
    """Ids a keep-one pass drops: every connected component of the pair
    graph keeps its minimum id."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


def checksum(state):
    return sum(int(hashlib.sha256(f"{d}|{v[2]}".encode()).hexdigest()[:10], 16)
               for d, v in state.items())


def check_crawl(r, shards):
    """Replays the shards: each pass's exact join and keep-one must match
    the reference, its time-travel read must see the previous table, and
    the final table must hold exactly the replayed rows. Returns
    (failures, recall, replayed table)."""
    fails = list(r["failures"])
    state = {d: (lang, src, text) for d, lang, src, text in shards[0]}
    for p in r["passes"]:
        i, rows = p["shard"], shards[p["shard"]]
        ref = reference_pairs(rows, TAU)
        got = {tuple(x) for x in p["jaccard_pairs"]}
        if got != ref:
            fails.append(f"shard {i}: exact join missed {len(ref - got)} and "
                         f"added {len(got - ref)} of {len(ref)} pairs")
        drop = keep_one(ref)
        if set(p["dropped"]) != drop:
            fails.append(f"shard {i}: keep-one dropped {len(p['dropped'])} ids, "
                         f"expected {len(drop)}")
        if p.get("previous_rows") != len(state):
            fails.append(f"shard {i}: the previous version holds "
                         f"{p.get('previous_rows')} rows, expected {len(state)}")
        live = {v[2] for v in state.values()}
        state.update({d: (lang, src, text) for d, lang, src, text in rows
                      if d not in drop and text not in live})
    if r["final_rows"] != len(state) or r["final_distinct"] != len(state):
        fails.append(f"final table holds {r['final_rows']} rows "
                     f"({r['final_distinct']} ids), expected {len(state)}")
    elif r["final_checksum"] != str(checksum(state)):
        fails.append("final table content differs from the replayed rows")
    timed = r["passes"][1:]
    recall = stats.ratio(sum(p["recalled"] for p in timed),
                         sum(p["planted"] for p in timed))
    return fails, recall, state


# Per-operation latency percentiles: printed with every run, but not part
# of the result line, because their seed-to-seed spread (up to 28% over 10
# seeds on a shared 4-core VM) is wider than a regression bound can be.
LATENCY = {"latency_p50_s": 50, "latency_p90_s": 90}


def end_to_end(workload, r, setup_s, extra):
    if workload == "inventory":
        items, user = len(r["op_latency_s"]), extra["user_bytes"]
    else:
        items = r["items"]
        user = sum(8 + len(lang) + len(src) + len(text)
                   for lang, src, text in extra["state"].values())
    return {
        "setup_s": setup_s,
        "items_per_s": items / r["elapsed_s"],
        "heap_peak_mb": r["heap_peak_mb"],
        "recall": extra["recall"],
        "stored_bytes_per_user_byte": stats.ratio(r["stored_bytes"], user),
    }


def per_layer(workload, r):
    out = {k: 0.0 for k in PER_LAYER}
    out.update(r.get("layers", {}))
    if workload == "crawl":
        # the counts repeat exactly; report the first timed pass's
        p = r["passes"][1]
        for k in ("jaccard.index_rows", "jaccard.candidates", "jaccard.pairs",
                  "jaccard.verified", "minhash.candidates", "embed.candidates"):
            out["ops." + k] = float(p[k])
        out["ops.jaccard.yield"] = stats.ratio(p["jaccard.verified"],
                                               p["jaccard.pairs"])
    return out


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found: run from a checkout of "
                         "the repository root")
    cp = build()
    deadline = time.time() + DEADLINE_S
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(HERE, ".work"))
    try:
        inp = os.path.join(work, "in")
        t0 = time.time()
        extra = generate(a.workload, a.seed, inp)
        gen_s = time.time() - t0
        r = run_jvm(cp, a.workload, a.seconds, a.trace, inp, work, deadline)
        if a.workload == "inventory":
            fails, extra["recall"] = check_inventory(r, inp)
        else:
            fails, extra["recall"], extra["state"] = check_crawl(r, extra["shards"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass
    # all set-up wall time, with the repeated bootstrap counted once at its
    # median
    reps = r["setup_reps_s"]
    setup_s = gen_s + r["setup_wall_s"] - sum(reps) + stats.median(reps)
    # every timed operation, plus the correctness check as one more
    ops = len(r["op_latency_s"])
    attempted = ops + 1
    failed = r["failed_ops"] + (1 if fails else 0)
    e2e = end_to_end(a.workload, r, setup_s, extra)
    if a.trace:
        metrics = per_layer(a.workload, r)
        metrics["trace.items_per_s"] = e2e["items_per_s"]
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    for f in fails:
        log(f"CHECK FAILED: {f}")
    log(f"workload={a.workload} seed={a.seed} cores={r['cores']} "
        f"heap_max_mb={r['heap_max_mb']:.0f} load1={r['load1_start']:.2f}->"
        f"{r['load1_end']:.2f} ops={ops} "
        f"fail_ratio={stats.ratio(failed, attempted):.4f} "
        f"wall={time.time() - start:.1f}s")
    n = len(r["latency_s"])
    log(f"latency percentiles rest on {n} samples ({stats.beyond(n, 90)} "
        "beyond p90): " + " ".join(f"{x:.3f}" for x in sorted(r["latency_s"])))
    if a.trace:
        log("self seconds per span: " + " ".join(
            f"{k}={v:.3f}" for k, v in sorted(r["self_s"].items())))
    for k, q in LATENCY.items():
        print(f"{k} = {stats.percentile(r['latency_s'], q):.6g} s")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not fails, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if not fails and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
