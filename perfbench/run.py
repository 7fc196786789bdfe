#!/usr/bin/env python3
"""perfbench: the graft benchmark, one command for every workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(``src/main/scala``) and the benchmark's Scala harness (``perfbench/scala``)
with the Scala compiler that ships in the Spark jars into a jar under
``.bench_build/``; later runs reuse it while the sources are unchanged. The
timed path runs the JVM directly (no sbt).

A run generates its inputs from ``--seed``, sets up the session several
times (median reported as ``setup_s``), runs the number of whole passes of
the workload that fills ``--seconds`` on a 4-core box, in a closed loop with
one client, checks every output against an oracle outside the timed window,
and prints the metrics. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed``, ``metrics`` (the end-to-end metrics
of BENCHMARK.json, or with ``--trace 1`` its per-layer metrics). A wrong or
failed output makes the exit code nonzero.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
OOH_FIXTURE = os.path.join(ENGINE_RES, "ooh", "xml-compilation.xml")
BUILD = os.path.join(ROOT, ".bench_build")
# the Spark distribution: SPARK_HOME, else the one spark-submit on PATH is in
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
CORES = max(1, min(4, os.cpu_count() or 1))
SETUPS = 5
HEAP = "1536m"

# The batch workload: SparkEntry entry name -> span (<layer>.<family>.<query>);
# the layer is what the trace attributes the query's time to. Relational
# operators, plans and engine paths first, then the one-shot curation
# operators.
BATCH = [
    ("q1_pricing_summary", "operators.q1_pricing_summary"),
    ("q5_local_supplier", "operators.q5_local_supplier"),
    ("q31_topk_per_key", "plans.topk.q31_topk_per_key"),
    ("q19_sql_pricing", "engine.sql.q19_sql_pricing"),
    ("q52_bucketed_join", "engine.bucketed.q52_bucketed_join"),
    ("d1_exact_dedup", "ops.dedup.d1_exact_dedup"),
    ("d7_dup_clusters", "ops.dedup.d7_dup_clusters"),
    ("d4_simhash_sig", "exprs.signature.d4_simhash_sig"),
    ("s1_cosine_topk", "ops.similarity.s1_cosine_topk"),
    ("t3_quality_scores", "ops.text.t3_quality_scores"),
]

# Input sizes per workload (MANIFEST.json records why).
SIZES = {
    "ooh_extract": dict(shards=8, occupations_per_shard=50, warm_occupations=20),
    "batch": dict(sf=0.005, corpus_docs=1500, warm_sf=0.001, warm_docs=200),
    "trickle_ingest": dict(base_docs=1500, batches=2, batch_docs=50, delete_every=2,
                           delete_ids=30, max_live=3, warm_docs=100),
}
# A run does a fixed amount of work: --seconds / PASS_S whole passes, where
# PASS_S is a workload's pass time on a 4-core box. A pass count that
# followed the clock would change with the box's speed and move the
# medians with it.
PASS_S = {"ooh_extract": 4.5, "batch": 9.0, "trickle_ingest": 12.0}
# one set-up (session, warm-up, base load) on a 4-core box
SETUP_S = {"ooh_extract": 1.2, "batch": 2.3, "trickle_ingest": 5.0}


def pass_count(workload, seconds, trace):
    """Whole passes in a run. A traced run adds an untimed warm-up pass and
    then alternates untraced and traced passes as U T T U, so drift over the
    run cancels out of the tracing overhead."""
    n = max(1, round(seconds / PASS_S[workload]))
    return 1 + 4 * math.ceil(n / 4) if trace else n


JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def sources():
    out = []
    for base in (ENGINE_SRC, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile engine + harness once per source state into a jar.

    Returns the classpath.
    """
    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(OOH_FIXTURE):
        die("engine sources (src/main) not found: run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    srcs = sources()
    h = hashlib.sha256()
    for base in (ENGINE_SRC, ENGINE_RES, os.path.join(HERE, "scala")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "graft-perfbench.jar")
    cp = os.pathsep.join([jar, os.path.join(SPARK_JARS, "*")])
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp and os.path.isfile(jar):
        return cp
    for f in (stamp_file, jar):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes, "-nowarn",
           "-d", classes, f"@{argfile}"]
    r = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compilation failed")
    subprocess.run(["jar", "cf", jar, "-C", classes, ".", "-C", ENGINE_RES, "."], check=True)
    shutil.rmtree(classes, ignore_errors=True)
    log(f"compiled in {time.time() - t0:.1f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------------ inputs

def prepare(workload, seed, run_dir):
    """Write the seeded inputs; returns (params for the JVM, checker context)."""
    import gen
    size = SIZES[workload]
    inp, warm = os.path.join(run_dir, "input"), os.path.join(run_dir, "warm")
    params, ctx = {"input": inp, "warm": warm}, {}
    if workload == "ooh_extract":
        templates = gen.ooh_templates(OOH_FIXTURE)
        shards, planted = [], []
        n = size["occupations_per_shard"]
        for i in range(size["shards"]):
            xml, plan = gen.ooh_compilation(seed, n, templates, id_base=i * n)
            path = os.path.join(inp, f"shard{i}.xml")
            os.makedirs(inp, exist_ok=True)
            with open(path, "w", encoding="utf-8") as f:
                f.write(xml)
            shards.append(path)
            planted.append(plan)
        xml, _ = gen.ooh_compilation(seed + 1_000_000, size["warm_occupations"], templates)
        os.makedirs(warm, exist_ok=True)
        with open(os.path.join(warm, "warm.xml"), "w", encoding="utf-8") as f:
            f.write(xml)
        params.update(shards=shards, warm_shards=[os.path.join(warm, "warm.xml")],
                      records=size["shards"] * n)
        ctx["planted"] = planted
    elif workload == "batch":
        rows = gen.write_tables(seed, size["sf"], inp, size["corpus_docs"])
        gen.write_tables(seed + 1_000_000, size["warm_sf"], warm, size["warm_docs"])
        params.update(queries=[{"name": q, "span": s} for q, s in BATCH],
                      warm_queries=["q1_pricing_summary", "q31_topk_per_key", "d1_exact_dedup",
                                    "t3_quality_scores"],
                      records=sum(rows.values()))
        ctx["tables"] = inp
    elif workload == "trickle_ingest":
        t = gen.trickle(seed, size["base_docs"], size["batches"], size["batch_docs"],
                        size["delete_every"], size["delete_ids"], inp)
        gen.write_corpus(seed + 1_000_000, size["warm_docs"], warm)
        check_dir = os.path.join(run_dir, "survivors")
        docs, emb = t["survivors"]
        gen.write_parquet(docs, os.path.join(check_dir, "documents.parquet"))
        gen.write_parquet(emb, os.path.join(check_dir, "embeddings.parquet"))
        params.update(base=os.path.join(inp, "base"),
                      batches=[os.path.join(inp, f"batch{b}") for b in range(size["batches"])],
                      deletes={k: os.path.join(inp, f"delete{k}") for k in t["deletes"]},
                      max_live=size["max_live"], state=os.path.join(run_dir, "state"),
                      records=size["batches"] * size["batch_docs"])
        ctx.update(tables=check_dir, text_bytes=t["text_bytes"])
    else:
        die(f"unknown workload '{workload}' (known: {', '.join(SIZES)})")
    return params, ctx


# ------------------------------------------------------------------ metrics

def tail_percentile(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, sample count). Nearest rank; with fewer than
    20 samples that percentile would sit below the median, so the median is
    reported (as p50) instead.
    """
    s = sorted(xs)
    n = len(s)
    p = math.floor(1000.0 * (n - 10) / n) / 10.0 if n > 10 else 0.0
    if p <= 50.0:
        return statistics.median(s), 50.0, n
    return s[math.ceil(p / 100.0 * n) - 1], p, n


def dir_bytes(d):
    total = 0
    for base, _, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ main

def run_jvm(cp, args, run_dir, deadline):
    """Run perfbench.Main in its own process group; None on timeout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
               SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(run_dir, "checkpoint"),
               SPARK_LOCAL_DIRS=tmp)
    # -Xmx is only a ceiling: the heap grows with what the engine touches,
    # so resident memory follows it
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:+UseG1GC"] + JDK_OPENS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={run_dir}", "-cp", cp, "perfbench.Main"] + list(args))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        CHILDREN.append(proc)
        try:
            return proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            stop(proc)
            CHILDREN.remove(proc)


CHILDREN = []


def stop(proc):
    """Kill a child's whole process group and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def on_signal(signum, _frame):
    for proc in list(CHILDREN):
        stop(proc)
    raise SystemExit(128 + signum)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in SIZES:
        die(f"unknown workload '{a.workload}' (known: {', '.join(SIZES)})")
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    t_start = time.time()
    cp = build()
    # a safety stop, not a measuring limit: three times the planned work,
    # and never less than a default run may take
    passes = pass_count(a.workload, a.seconds, a.trace)
    planned = SETUPS * SETUP_S[a.workload] + passes * PASS_S[a.workload]
    deadline = time.time() + max(150.0, 3 * planned)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    try:
        return measure(a, cp, passes, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, cp, passes, run_dir, deadline):
    import check
    params, ctx = prepare(a.workload, a.seed, run_dir)
    out = os.path.join(run_dir, "out")
    params.update(workload=a.workload, seed=a.seed, trace=bool(a.trace), cores=CORES,
                  setups=SETUPS, out=out, passes=passes)
    params_path = os.path.join(run_dir, "params.json")
    with open(params_path, "w") as f:
        json.dump(params, f)
    rc = run_jvm(cp, [params_path], run_dir, deadline)
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die("the JVM timed out" if rc is None else f"the JVM exited with {rc}", 1)
    with open(result_path) as f:
        res = json.load(f)

    # ---- correctness, outside the timed window
    if a.workload == "ooh_extract":
        bad = {f"shard{i}": m for i, m in
               check.ooh_checks(os.path.join(res["results"], "ooh"), ctx["planted"]).items()}
        wrong_of = lambda op: bad.get("shard" + op["name"].split(".", 1)[1])
    else:
        oracles = res["oracles"]
        bad = check.oracle_checks(ctx["tables"], res["results"], oracles,
                                  os.path.join(run_dir, "tmp"))
        if a.workload == "trickle_ingest":
            wrong_of = lambda op: bad.get("trickle_" + op["name"].split(".", 1)[1])
        else:
            wrong_of = lambda op: bad.get(op["name"])
    ops = res["ops"]
    failed_ops = [o for o in ops if not o["ok"] or wrong_of(o)]
    attempted = len(ops)
    failed = len(failed_ops)
    wrong = {k: v for k, v in bad.items() if v}
    correct = failed == 0 and not wrong and not res["errors"]

    # ---- end-to-end metrics (untraced passes, not a traced run's warm-up)
    passes = [p for p in res["passes"] if not p["traced"] and not p["warmup"]]
    timed = {p["pass"] for p in passes}
    untraced = [o for o in ops if o["pass"] in timed]
    wall = statistics.median(p["wall_s"] for p in passes)
    lat = [o["s"] for o in untraced]
    tail, tail_p, tail_n = tail_percentile(lat)
    e2e = {
        "setup_s": (statistics.median(s["total_s"] for s in res["setups"]), "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "records_per_s": (res["records_per_pass"] / wall, "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
        "failed_ratio": (failed / attempted, "ratio"),
    }
    if a.workload == "trickle_ingest":
        by = lambda k: [o["s"] for o in untraced if o["kind"] == k]
        ing_tail, ing_p, ing_n = tail_percentile(by("ingest"))
        e2e.update({
            "ingest_p50_s": (statistics.median(by("ingest")), "s"),
            "ingest_tail_s": (ing_tail, "s"),
            "serve_p50_s": (statistics.median(by("serve")), "s"),
            "delete_p50_s": (statistics.median(by("delete")), "s"),
            "state_bytes_per_input_byte": (
                dir_bytes(os.path.join(run_dir, "state", "live")) / ctx["text_bytes"], "ratio"),
        })

    spec = benchmark_spec()
    print(f"workload {a.workload} seed {a.seed}: {len(res['passes'])} passes, {attempted} operations, "
          f"{len(res['setups'])} set-ups, {CORES} cores")
    print("  set-ups (s): " + " ".join(f"{x['total_s']:.3f}" for x in res["setups"]))
    for name, (v, unit) in e2e.items():
        extra = ""
        if name == "op_tail_s":
            extra = f"  (p{tail_p:g} of {tail_n} operations)"
        elif name == "ingest_tail_s":
            extra = f"  (p{ing_p:g} of {ing_n} merges)"
        print(f"  {name:28s} {v:.6g} {unit}{extra}")
    for k, v in wrong.items():
        print(f"  WRONG {k}: {v}")
    for k, v in res["errors"].items():
        print(f"  FAILED {k}: {v}")

    if a.trace:
        # the spans of the traced passes outlive the run directory
        shutil.copy(os.path.join(out, "spans.json"), os.path.join(BUILD, f"spans-{a.workload}.json"))
        layers = res["layers"]
        print("per-layer (traced passes, median per pass):")
        for k in sorted(layers):
            print(f"  {k:34s} {layers[k]:.6g}")
        walls = [p["wall_s"] for p in res["passes"] if p["traced"]]
        print(f"  tracing overhead: traced wall_s {statistics.median(walls):.4f} - untraced wall_s "
              f"{wall:.4f} = {layers['tracing.overhead_s']:+.4f} s (warm-up pass excluded)")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
