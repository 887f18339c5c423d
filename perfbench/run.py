#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <query|pipeline>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark main from source (once per source
state, into .bench_build/), generates the base tables (once), then runs
one fresh JVM on local[nproc] that sets up, runs a cold pass, warm-up
passes and timed passes, and writes every query's result. Those results
are compared here with each query's DuckDB oracle answer. The last stdout
line is one JSON object: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Everything is written under .bench_build/, and
each run's scratch (java.io.tmpdir, warehouse, spark.local.dir) is its
own directory, deleted at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = "/opt/spark/jars"

# base tables: fixed scale and seed, so every run and every commit reads
# the same inputs; the run's --seed drives the query workload's near-dup
# mutation stream and the per-pass query order
BASE_SF = 0.01
BASE_SEED = 42
DATAGEN_VERSION = 1

# metric names and units come from BENCHMARK.json at the checkout root
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]
# trace table only: the first three are zero on one of the workloads, and
# busy_s is the complement of scheduler.driver_gap_s
TABLE_ONLY = [("sources.commit_s", "s"), ("streaming.query_s", "s"),
              ("pipelines.query_s", "s"), ("scheduler.busy_s", "s")]
# the tail percentile is chosen from this many timed passes' samples, so
# it is the same percentile in every run of a workload
MIN_TIMED_PASSES = 3
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with the benchmark's own sbt build,
    unless the sources are unchanged since the last build."""
    stamp = os.path.join(BUILD, "build.stamp")
    digest = sources_digest()
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")))
    log("building engine and benchmark (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


# ------------------------------------------------------------------- data

def base_data():
    out = os.path.join(BUILD, "data", f"sf{BASE_SF}_seed{BASE_SEED}_v{DATAGEN_VERSION}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        sys.path.insert(0, HERE)
        import datagen
        shutil.rmtree(out, ignore_errors=True)
        datagen.generate(out, BASE_SF, BASE_SEED)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


# ----------------------------------------------------------------- oracle

def oracle_compare(results_dir, input_dir, input_key, queries):
    """Compare each written result with its DuckDB oracle answer in the
    canonical form of tools/oracle_check.py. Oracle answers depend only on
    the inputs, so they are cached per input key. Returns name -> problem
    for every query whose output is wrong or missing."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import oracle_check

    cache_path = os.path.join(BUILD, "oracle", f"{input_key}.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    oracles = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")  # the JVM has exited

    def views(con):
        for t in oracle_check.TABLES:
            p = os.path.join(input_dir, f"{t}.parquet")
            if os.path.isdir(p):
                p = os.path.join(p, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def digest(rows, cols):
        canon = oracle_check.canon(rows, cols)
        return {"cols": sorted(cols), "rows": len(canon),
                "sha": hashlib.sha256("\n".join(canon).encode()).hexdigest()}

    def spark_answer(leaf):
        files = sorted(os.path.join(results_dir, leaf, f)
                       for f in os.listdir(os.path.join(results_dir, leaf))
                       if f.endswith(".parquet"))
        df = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        return digest(list(df.itertuples(index=False, name=None)), list(df.columns))

    views(con)
    problems = {}
    dirty = False
    for name in queries:
        try:
            got = spark_answer(name)
            if name in oracles:
                key = hashlib.sha256(oracles[name].encode()).hexdigest()
                if key not in cache:
                    df = con.execute(oracles[name]).df()
                    cache[key] = digest(list(df.itertuples(index=False, name=None)),
                                        list(df.columns))
                    dirty = True
                want = cache[key]
            else:
                want = spark_answer(f"{name}~2")
            if got != want:
                problems[name] = (f"spark {got['rows']} rows {got['cols']}, "
                                  f"expected {want['rows']} rows {want['cols']}")
        except Exception as e:  # a missing or unreadable result is wrong output
            problems[name] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    if dirty:
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = cache_path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return problems


# ---------------------------------------------------------------- metrics

def tail_percentile(n_min):
    """Highest of these percentiles with at least 10 samples beyond it."""
    for p in (99, 95, 90, 80, 75, 50):
        if n_min * (100 - p) / 100 >= 10:
            return p
    return 50


def percentile(xs, p):
    xs = sorted(xs)
    k = max(0, min(len(xs) - 1, -(-len(xs) * p // 100) - 1))  # nearest rank
    return xs[int(k)]


def end_to_end(res):
    timed = [p for p in res["passes"] if p["counted"] and not p["traced"]]
    walls = [q["wall_s"] for p in timed for q in p["queries"]]
    p = tail_percentile(MIN_TIMED_PASSES * len(res["queries"]))
    cold = [p_["wall_s"] for p_ in res["passes"] if p_["kind"] == "cold"][0]
    return {
        "batch_s": statistics.median(p_["wall_s"] for p_ in timed),
        "query_p50_s": statistics.median(walls),
        "query_tail_s": percentile(walls, p),
        "cold_s": cold,
        "setup_s": statistics.median(s["setup_s"] for s in res["setups"]),
        "peak_heap_mb": res["peak_heap_mb"],
    }, {"tail_percentile": p, "tail_samples": len(walls), "timed_passes": len(timed)}


def per_layer(res):
    traced = [p for p in res["passes"] if p["counted"] and p["traced"]]
    plain = [p for p in res["passes"] if p["counted"] and not p["traced"]]
    out = {k: statistics.median(p["layers"][k] for p in traced)
           for k, _ in PER_LAYER + TABLE_ONLY if k in traced[0]["layers"]}
    out["core.session_s"] = statistics.median(s["session_s"] for s in res["setups"])
    out["core.input_gen_s"] = statistics.median(s["input_gen_s"] for s in res["setups"])
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(p["wall_s"] for p in plain))
    counts = {k: sorted({p["layers"][k] for p in traced})
              for k in ("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                        "sources.files_written", "queries.rows_out")}
    return out, counts


# ------------------------------------------------------------------- main

def jvm_command(classes, args, run_dir, base, out_dir, cores):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the heap the repository's tests give Spark: half the RAM, 2..8 GiB
    mem_gb = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_gb = min(8, max(2, int(line.split()[1]) // 2097152))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cp = classes + os.pathsep + os.path.join(SPARK_JARS, "*")
    # C1 only: C2 keeps compiling for ten-plus passes on four cores, so
    # the timed passes would measure the JIT rather than the engine. And
    # C1 at a tenth of its usual call counts: planner code runs tens of
    # times a pass, so at the default 200-2000 calls it kept compiling,
    # and passes kept getting faster, for six or more timed passes
    jit = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
           "-XX:Tier0InvokeNotifyFreqLog=3", "-XX:Tier0BackedgeNotifyFreqLog=6",
           "-XX:Tier3InvocationThreshold=20", "-XX:Tier3MinInvocationThreshold=10",
           "-XX:Tier3CompileThreshold=200", "-XX:Tier3BackEdgeThreshold=6000"]
    # room for every generated class of a workload in Spark's codegen
    # cache (default 100 entries). A `query` pass generates ~140 classes,
    # so with the default each warm pass recompiles 100-125 of them with
    # Janino, a count that differs from run to run with the cache's
    # eviction order and moved batch_s by up to 20%. Code generation is
    # still paid, and counted, in the cold and warm-up passes.
    codegen = ["-Dspark.sql.codegen.cache.maxEntries=1000"]
    # a 1 GiB floor under the heap: G1 otherwise kept it at 140-300 MB,
    # shrank it again at each between-pass collection, and ran a young
    # collection every few hundred ms and a marking cycle every second,
    # whose threads took cores from the engine's
    heap = [f"-Xms{min(mem_gb, 1)}g", f"-Xmx{mem_gb}g"]
    return ["java", *opens, *jit, *codegen, *heap, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.PerfBench", args.workload,
            str(args.seed), base, out_dir, str(args.seconds),
            str(args.trace), str(cores)]


def main():
    # a terminated run still stops its JVM and deletes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in _SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seed < 0:
        fail("--seed must be >= 0")
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the engine")
    classes = build()
    base = base_data()
    t_start = time.time()  # the run limit excludes a first-run build
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    proc = None
    try:
        cmd = jvm_command(classes, args, run_dir, base, out_dir, cores)
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as jlog:
            spawn_ms = int(time.time() * 1000)
            proc = subprocess.Popen(cmd + [str(spawn_ms)], cwd=run_dir, env=env,
                                    stdout=jlog, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                # a thread dump into the JVM's log says where it hung
                proc.send_signal(signal.SIGQUIT)
                time.sleep(2)
                jlog.flush()
                sys.stderr.write(open(log_path).read()[-20000:])
                fail("benchmark JVM timed out")
        if proc.returncode != 0:
            sys.stderr.write(open(log_path).read()[-4000:])
            fail(f"benchmark JVM exited with {proc.returncode}")
        res = json.load(open(os.path.join(out_dir, "result.json")))
        t_jvm = time.time()

        input_key = f"sf{BASE_SF}_seed{BASE_SEED}_v{DATAGEN_VERSION}"
        if args.workload == "query":
            input_key += f"_neardup{args.seed}"
        problems = oracle_compare(os.path.join(out_dir, "results"),
                                  os.path.join(run_dir, "tmp", "inputs0"),
                                  input_key, res["queries"])
        log(f"jvm {t_jvm - t_start:.1f} s, oracle compare {time.time() - t_jvm:.1f} s")
        keep = os.path.join(BUILD, "results")
        os.makedirs(keep, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        shutil.copy(os.path.join(out_dir, "result.json"),
                    os.path.join(keep, f"{stem}.json"))
        if args.trace:
            shutil.copy(os.path.join(out_dir, "spans.jsonl"),
                        os.path.join(keep, f"{stem}.spans.jsonl"))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    executions = [q for p in res["passes"] for q in p["queries"]]
    exec_failed = {q["name"]: q["failure"] for q in executions if q["failure"]}
    attempted = len(executions)
    failed = sum(1 for q in executions if q["failure"]) + len(problems)
    for name, why in sorted({**exec_failed, **problems}.items()):
        print(f"WRONG {name}: {why}")

    e2e, tail = end_to_end(res)
    host = res["host"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"queries {len(res['queries'])}  timed passes {tail['timed_passes']} counted "
          f"of {sum(p_['kind'] == 'timed' for p_ in res['passes'])} (set aside: host steal)  "
          f"local[{host['cores']}]  heap {host['max_heap_mb']:.0f} MB")
    cg = {p_["kind"]: p_["codegen_compiles"] for p_ in res["passes"]}
    print(f"codegen compiles per pass: cold {cg['cold']}  warm-up {cg['warmup']}  "
          f"last timed {cg['timed']}")
    print(f"host: nproc {host['nproc']}  loadavg {host['loadavg_pre']} -> "
          f"{host['loadavg_post']}  floor probe {host['floor_probe_s']:.4f} s")
    units = dict(END_TO_END, query_p50_s="s", query_tail_s="s")
    for k, v in e2e.items():
        note = (f"  (p{tail['tail_percentile']} of {tail['tail_samples']} query runs)"
                if k == "query_tail_s" else "")
        print(f"  {k:<16} {v:12.4f} {units[k]}{note}")
    print(f"  {'error_rate':<16} {failed / attempted:12.4f} ({failed}/{attempted})")

    if args.trace:
        layers, counts = per_layer(res)
        lunits = dict(PER_LAYER + TABLE_ONLY)
        print("per-layer (median of traced passes):")
        for k in sorted(layers):
            print(f"  {k:<28} {layers[k]:12.4f} {lunits[k]}")
        print(f"  residual share of traced pass wall: "
              f"{layers['trace.residual_s'] / (layers['queries.build_s'] + layers['queries.sink_s'] + layers['core.release_s']):.3f}")
        for k, vs in counts.items():
            if len(vs) != 1:
                print(f"  WARNING {k} differs between traced passes: {vs}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
