#!/usr/bin/env python3
"""perfbench: the repo benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload suite-sf0.01 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload etl-ingest --seed 7 --seconds 20 --trace 1
    python3 perfbench/run.py --smoke

One run builds the program if needed (scalac), makes the inputs,
starts one fresh JVM (perfbench.Driver) with its own temp (which holds
SessionCache's checkpoints), Spark-local and demo directories, checks
the outputs, prints every metric with its unit, deletes the run's
directories and prints one JSON result line last. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import etlgen  # noqa: E402

DRIVER_TIMEOUT_S = 170  # stop a hung run well inside three minutes
BASE_SF = HERE / "data" / "sf0.001"

# Suite sample: one query from each of the ten query modules, taken from
# the cheapest quarter of the module by in-suite warm time (the fixed
# per-query cost regime). README.md gives the selection and its sizing.
SUITE_OPS = ["q09", "q41", "q23", "q30", "q56", "q36", "q38", "q112", "q61", "q70"]

WORKLOADS = {
    "suite-sf0.01": {"kind": "suite", "reps": 10, "min_warm": 3,
                     "goldens": "suite-sf0.01.json"},
    "etl-ingest": {"kind": "etl", "matches": 40, "min_warm": 2},
}
SMOKE = {
    "suite-sf0.01": {"reps": 1, "min_warm": 1, "goldens": "suite-sf0.001.json"},
    "etl-ingest": {"matches": 16, "min_warm": 1},
}

MODULES = ["Relational", "EventOps", "GraphOps", "TextOps", "SimilarityOps",
           "MultimodalOps", "ScaleOps", "CurationOps", "CricketDemo",
           "StreamingOps", "CricketEtl"]
ANALYTICS = ["runs_by_batter", "wickets_by_bowler", "head_to_head",
             "toughest_bowlers", "partnerships", "pagerank_players"]
E2E_UNITS = {"setup_s": "s", "first_s": "s", "warm_s": "s", "live_heap_mb": "MB"}


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sha256_files(files, base):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(base)).encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def tree_files(d):
    return sorted(p for p in Path(d).rglob("*") if p.is_file())


def parquet_files(d):
    return [f for f in tree_files(d) if f.suffix == ".parquet"]


def dir_mb(d):
    return sum(p.stat().st_size for p in tree_files(d)) / 1048576 if Path(d).exists() else 0.0


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """The Tier-1 heap rule (SPARK_DRIVER_MEM): MemTotal/2, at least 2g, at most 8g."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


CHILDREN = []


def run_proc(cmd, timeout, **kw):
    """Run to completion in its own process group; on timeout, or when this
    script is terminated, kill the whole group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        CHILDREN.remove(p)


def on_terminate(signum, _frame):
    for p in CHILDREN:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    sys.exit(128 + signum)


def loadavg():
    return Path("/proc/loadavg").read_text().split()[:3]


def cpu_jiffies():
    """(steal, total) from the first line of /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return f[7], sum(f)


# ---- build -----------------------------------------------------------------

def build_setting(key):
    """A `key := "value"` or `key := file("value")` setting of the repo's build.sbt."""
    m = re.search(rf'^\s*(?:ThisBuild\s*/\s*)?{key}\s*:=\s*(?:file\()?"([^"]+)"',
                  (ROOT / "build.sbt").read_text(), re.M)
    if not m:
        fail(f"build.sbt sets no {key}")
    return m.group(1)


def build(work):
    """Compile the program (src/main/scala) and the driver with the Scala
    compiler of the jar directory the repo's build.sbt compiles against
    (its unmanagedBase), into the work dir. A plain compiler run, so the
    build needs no build tool state outside the checkout. Returns the
    runtime classpath."""
    jars = Path(build_setting("unmanagedBase"))
    version = build_setting("scalaVersion")
    classes = work / "classes"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    compiler = [jars / f"scala-{m}-{version}.jar" for m in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.is_file()]
    if missing:
        fail(f"no Scala {version} compiler in {jars}: {missing}")
    srcs = [f for f in tree_files(ROOT / "src" / "main" / "scala") + tree_files(HERE / "src")
            if f.suffix == ".scala"]
    stamp = sha256_files([ROOT / "build.sbt", *srcs], ROOT) + f" {jars}"
    stamp_file = work / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath
    stamp_file.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    tmp = work / "build-tmp"
    tmp.mkdir(exist_ok=True)
    argfile = work / "scalac.args"
    argfile.write_text("\n".join([
        "-d", str(classes), "-classpath", os.pathsep.join(map(str, sorted(jars.glob("*.jar")))),
        *map(str, srcs)]) + "\n")
    log = work / "build.log"
    t = time.time()
    with open(log, "w") as out:
        rc = run_proc(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g",
                       f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(map(str, compiler)),
                       "scala.tools.nsc.Main", f"@{argfile}"], 880,
                      stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed ({rc}), see {log}")
    stamp_file.write_text(stamp)
    print(f"build: {len(srcs)} sources in {time.time() - t:.1f} s", file=sys.stderr)
    return classpath


def java_cmd(classpath, state, main, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # no hsperfdata file in the system temp dir: a run writes only in its checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Xmx{heap()}", f"-Djava.io.tmpdir={state}/tmp", "-cp", classpath,
                  main, *args]


def java_env(state):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=f"{state}/local",
                GRAFT_CRICKET_DEMO_DIR=f"{state}/cricket_demo")


def fresh_state(path):
    shutil.rmtree(path, ignore_errors=True)
    for d in ("tmp", "local"):
        (path / d).mkdir(parents=True)
    return path


# ---- inputs ----------------------------------------------------------------

def star_corpus(work, classpath, reps):
    """graft.DataGen `reps`x replication of the committed sf0.001 tables,
    made once per checkout. Returns (dir, {table: sha256}, seconds).

    Hashes are of table content (perfbench.InputHash): parquet footers of
    identical data differ in byte order between generations. The bytes
    are re-checked against the manifest on every use."""
    if reps == 1:
        return BASE_SF, {f.stem: sha256_files([f], BASE_SF) for f in parquet_files(BASE_SF)}, 0.0
    out = work / "inputs" / f"sf0.001x{reps}"
    manifest = out / "MANIFEST.json"
    t = time.time()
    if not manifest.exists():
        shutil.rmtree(out, ignore_errors=True)
        state = fresh_state(work / "inputs" / "gen")
        hashes = state / "hash.json"
        with open(work / "datagen.log", "w") as log, open(hashes, "w") as h:
            rc = run_proc(java_cmd(classpath, state, "graft.DataGen",
                                   [str(BASE_SF), str(out), str(reps)]), 600,
                          env=java_env(state), stdout=log, stderr=log)
            if rc == 0:
                rc = run_proc(java_cmd(classpath, state, "perfbench.InputHash", [str(out)]),
                              600, env=java_env(state), stdout=h, stderr=log)
        content = json.loads(hashes.read_text().splitlines()[-1]) if rc == 0 else {}
        shutil.rmtree(state, ignore_errors=True)
        if rc != 0:
            fail(f"input generation failed, see {work / 'datagen.log'}")
        manifest.write_text(json.dumps(
            {"bytes": sha256_files(parquet_files(out), out), "content": content}, indent=1))
    m = json.loads(manifest.read_text())
    if sha256_files(parquet_files(out), out) != m["bytes"]:
        fail(f"generated corpus {out} does not match its manifest")
    return out, m["content"], time.time() - t


# ---- checks ----------------------------------------------------------------

def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def check_suite(checks, goldens_file, regen):
    if regen:
        lines = [f"{json.dumps(op)}: {json.dumps(fp, sort_keys=True)}"
                 for op, fp in sorted(checks.items())]
        goldens_file.write_text("{\n" + ",\n".join(lines) + "\n}\n")
        print(f"goldens written: {goldens_file}", file=sys.stderr)
    gold = json.loads(goldens_file.read_text()) if goldens_file.exists() else {}
    return {op for op in checks if gold.get(op) != checks[op]}


def check_etl(checks, exp):
    """Round-1 outputs against what the generator says they must be."""
    bad = set()
    for op in ["write_tables", "upsert_full", "upsert_delta"] + ANALYTICS:
        got = checks.get(op)
        if got is None or "error" in got:
            bad.add(op)
        elif op == "pagerank_players":
            if not etlgen.pagerank_ok(got, exp[op]):
                bad.add(op)
        elif not same(got, exp[op]):
            bad.add(op)
    return bad


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def wall(e):
    return e["construct_s"] + e["execute_s"]


def summarize(res, traced, min_warm):
    ex = res["execs"]
    ops = list(dict.fromkeys(e["op"] for e in ex))
    first = {e["op"]: e for e in ex if e["round"] == 0}
    warm = {op: [e for e in ex if e["op"] == op and e["round"] >= 1 and e["traced"] == traced]
            for op in ops}
    best = {op: min(wall(e) for e in warm[op]) for op in ops if warm[op]}
    pooled = sorted(wall(e) * 1e3 for op in ops for e in warm[op])
    # the highest percentile with at least ten samples above it at the
    # run's minimum sample count, taken at that fixed level
    # (the maximum when there are fewer than eleven)
    n_min = len(ops) * min_warm
    level = (n_min - 11) / n_min if n_min >= 11 else 1.0
    tail = pooled[min(len(pooled) - 1, int(level * len(pooled)))] if pooled else 0.0
    m = {"setup_s": res["setup_s"],
         "first_s": sum(wall(first[op]) for op in ops if op in first),
         "warm_s": sum(best.values()),
         "live_heap_mb": res["live_heap_mb"]}
    info = {"ops": ops, "warm_n": len(pooled), "ptail_level": level, "ptail_ms": tail,
            "p50_ms": median(list(best.values())) * 1e3,
            "failed_execs": sorted({e["op"] for e in ex if e["error"]})}
    return m, info, first, warm


def union_s(intervals, lo, hi):
    tot, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            tot += b - max(a, end)
            end = b
    return tot / 1e6


def self_times(spans_file):
    """Self time per span kind over the second executions (keys `*#1`):
    duration minus the part its children cover."""
    spans = [json.loads(l) for l in open(spans_file)]
    driver = [s for s in spans if s["kind"] in ("op", "construct", "execute")]
    jobs = {s["name"].split()[1]: s for s in spans if s["kind"] == "job"}

    batches = [s for s in spans if s["kind"] == "batch"]

    def enclosing(s, kinds=("batch", "construct", "execute", "op")):
        """The innermost span of the same operation, by kind, that was
        open when `s` started."""
        for kind in kinds:
            for d in (batches if kind == "batch" else driver):
                if (d["kind"] == kind and d["key"] == s["key"]
                        and d["start_us"] <= s["start_us"] <= d["end_us"]):
                    return d["id"]
        return 0

    children = {}
    for s in spans:
        if s["kind"] == "stage":
            j = jobs.get(s["name"].split()[-1])
            p = j["id"] if j else enclosing(s)
        elif s["kind"] == "job":
            p = enclosing(s)
        elif s["kind"] == "batch":
            p = enclosing(s, ("construct", "execute", "op"))
        else:
            p = s["parent"]
        children.setdefault(p, []).append(s)
    out = {k: 0.0 for k in ("op", "construct", "execute", "job", "stage", "batch")}
    for s in spans:
        if s["kind"] in out and s["key"].endswith("#1"):
            kids = [(c["start_us"], c["end_us"]) for c in children.get(s["id"], [])]
            out[s["kind"]] += (s["end_us"] - s["start_us"]) / 1e6 - union_s(
                kids, s["start_us"], s["end_us"])
    return out


# Per-layer metrics that only some workloads exercise (they read 0 on the
# others): printed by a traced run, not part of its JSON result.
WORKLOAD_SPECIFIC = ("construct_s.", "execute_s.", "stream.", "etl.", "self_s.batch")


def layer_metrics(res, first, warm, ctx):
    """Per-layer metrics of a traced run (see README.md, "Layers")."""
    tr = res["trace"]
    cores = res["cpus"]
    warm1 = {k: v for k, v in tr["stats"].items() if k.endswith("#1")}

    def tot(name, scale=1.0):
        return sum(s.get(name, 0.0) for s in warm1.values()) * scale

    best = {op: min(es, key=wall) for op, es in warm.items() if es}
    m = {"construct_s": (sum(e["construct_s"] for e in best.values()), "s"),
         "execute_s": (sum(e["execute_s"] for e in best.values()), "s")}
    for mod in MODULES:
        ops = [op for op in best if best[op]["module"] == mod]
        m[f"construct_s.{mod}"] = (sum(best[op]["construct_s"] for op in ops), "s")
        m[f"execute_s.{mod}"] = (sum(best[op]["execute_s"] for op in ops), "s")
    m["construct_first_s"] = (sum(e["construct_s"] for e in first.values()), "s")
    m["execute_first_s"] = (sum(e["execute_s"] for e in first.values()), "s")
    m["stream.drains"] = (tot("stream_drains"), "count")
    m["stream.batches"] = (tot("stream_batches"), "count")
    m["stream.trigger_s"] = (tot("stream_trigger_ms", 1e-3), "s")
    m["stream.add_batch_s"] = (tot("stream_add_batch_ms", 1e-3), "s")
    m["stream.plan_s"] = (tot("stream_plan_ms", 1e-3), "s")
    m["stream.log_commit_s"] = (tot("stream_log_commit_ms", 1e-3), "s")
    m["stream.state_commit_s"] = (tot("stream_state_commit_ms", 1e-3), "s")
    m["stream.state_rows_max"] = (max([s.get("stream_state_rows_max", 0.0)
                                       for s in warm1.values()] or [0.0]), "rows")
    etl_warm = lambda op: wall(best[op]) if op in best else 0.0
    m["etl.write_tables_s"] = (etl_warm("write_tables"), "s")
    m["etl.upsert_full_s"] = (etl_warm("upsert_full"), "s")
    m["etl.upsert_delta_s"] = (etl_warm("upsert_delta"), "s")
    m["etl.analytics_s"] = (sum(etl_warm(op) for op in ANALYTICS), "s")
    m["etl.json_mb"] = (ctx.get("json_mb", 0.0), "MB")
    m["etl.rows_out"] = (sum(tr["stats"].get(f"{op}#1", {}).get("output_rows", 0.0)
                             for op in ("write_tables", "upsert_full", "upsert_delta")), "rows")
    m["mat.storage_mb_max"] = (tr["storage_mb_max"], "MB")
    m["mat.storage_mb_end"] = (tr["storage_mb_end"], "MB")
    m["mat.persisted_rdds_end"] = (tr["persisted_rdds_end"], "count")
    m["mat.tmp_mb_left"] = (ctx["tmp_mb_left"], "MB")
    m["catalyst.executions"] = (tot("sql_executions"), "count")
    m["catalyst.analysis_ms"] = (tot("analysis_ms"), "ms")
    m["catalyst.optimization_ms"] = (tot("optimization_ms"), "ms")
    m["catalyst.planning_ms"] = (tot("planning_ms"), "ms")
    m["codegen.compiles"] = (res["jvm"]["codegen_compiles"], "count")
    stages = tot("stages")
    op_wall = sum(wall(e) for es in warm.values() for e in es if e["round"] == 1)
    m["sched.jobs"] = (tot("jobs"), "count")
    m["sched.stages"] = (stages, "count")
    m["sched.tasks"] = (tot("tasks"), "count")
    m["sched.tasks_per_stage"] = (tot("tasks") / stages if stages else 0.0, "ratio")
    m["sched.task_run_s"] = (tot("task_run_ms", 1e-3), "s")
    m["sched.task_cpu_s"] = (tot("task_cpu_ns", 1e-9), "s")
    m["sched.task_deser_s"] = (tot("task_deser_ms", 1e-3), "s")
    m["sched.core_util"] = (tot("task_run_ms", 1e-3) / (op_wall * cores) if op_wall else 0.0,
                            "ratio")
    mb = 1 / 1048576
    m["shuffle.write_mb"] = (tot("shuffle_write_b", mb), "MB")
    m["shuffle.read_mb"] = (tot("shuffle_read_b", mb), "MB")
    m["shuffle.records"] = (tot("shuffle_records"), "count")
    m["spill.mem_mb"] = (tot("spill_mem_b", mb), "MB")
    m["spill.disk_mb"] = (tot("spill_disk_b", mb), "MB")
    m["scan.mb"] = (tot("scan_b", mb), "MB")
    m["scan.rows"] = (tot("scan_rows"), "rows")
    m["output.mb"] = (tot("output_b", mb), "MB")
    m["output.rows"] = (tot("output_rows"), "rows")
    m["jvm.gc_s"] = (res["jvm"]["gc_s"], "s")
    m["jvm.jit_ms"] = (res["jvm"]["jit_ms"], "ms")
    m["jvm.classes"] = (res["jvm"]["classes"], "count")
    for kind, v in self_times(tr["spans"]).items():
        m[f"self_s.{kind}"] = (v, "s")
    del m["self_s.op"]  # an operation is exactly its construct + execute
    # the last traced round against the one untraced round after it
    untraced = [e for e in res["execs"] if e["round"] >= 1 and not e["traced"]]
    last = max(e["round"] for es in warm.values() for e in es)
    traced_last = [e for es in warm.values() for e in es if e["round"] == last]
    m["trace.overhead_s"] = (sum(map(wall, traced_last)) - sum(map(wall, untraced)), "s")
    return m


# ---- one run ---------------------------------------------------------------

def run(args, work, classpath, spec):
    kind = spec["kind"]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    state = fresh_state(work / "runs" / tag)
    ctx = {}
    t = time.time()
    if kind == "suite":
        data, tables, gen_s = star_corpus(work, classpath, spec["reps"])
        extra = ["--ops", ",".join(SUITE_OPS)]
        ctx["inputs"] = {f"sf0.001x{spec['reps']}/{name}": h for name, h in sorted(tables.items())}
    else:
        data = state / "corpus"
        params, exp = etlgen.generate(data, args.seed, spec["matches"])
        extra = [x for k, v in params.items() for x in (f"--{k}", v)]
        digest = sha256_files(tree_files(data), data)
        ctx["inputs"] = {f"cricsheet-{spec['matches']}m-seed{args.seed}": digest}
        ctx["json_mb"] = dir_mb(data)
        gen_s = time.time() - t
    load_before, jiffies_before = loadavg(), cpu_jiffies()
    result_file = state / "result.json"
    spans_file = work / "traces" / f"{tag}.spans.jsonl"
    spans_file.parent.mkdir(exist_ok=True)
    cmd = java_cmd(classpath, state, "perfbench.Driver", [
        "--kind", kind, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", str(data), "--state", str(state),
        "--out", str(result_file), "--spans", str(spans_file), "--cpus", str(cpus()),
        "--min-warm", str(spec["min_warm"]), *extra])
    log = work / "logs" / f"{tag}.log"
    log.parent.mkdir(exist_ok=True)
    try:
        with open(log, "w") as err:
            rc = run_proc(cmd, DRIVER_TIMEOUT_S, env=java_env(state), stdout=err, stderr=err)
    except subprocess.TimeoutExpired:
        shutil.rmtree(state, ignore_errors=True)
        fail(f"driver timed out after {DRIVER_TIMEOUT_S} s, see {log}")
    load_after, jiffies_after = loadavg(), cpu_jiffies()
    steal = ((jiffies_after[0] - jiffies_before[0])
             / max(1, jiffies_after[1] - jiffies_before[1]))
    if rc != 0 or not result_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        shutil.rmtree(state, ignore_errors=True)
        fail(f"driver exited with {rc}, see {log}")
    res = json.loads(result_file.read_text())
    shutil.copy(result_file, log.with_suffix(".result.json"))
    ctx["tmp_mb_left"] = sum(dir_mb(state / d) for d in ("tmp", "local"))
    shutil.rmtree(state, ignore_errors=True)

    traced = args.trace == 1
    m, info, first, warm = summarize(res, traced, spec["min_warm"])
    if kind == "suite":
        bad = check_suite(res["checks"], HERE / "goldens" / spec["goldens"], args.regen_goldens)
    else:
        bad = check_etl(res["checks"], exp)
    failed_ops = set(info["failed_execs"]) | bad
    ops = info["ops"]
    attempted, failed = len(ops), len([op for op in ops if op in failed_ops])
    if traced:
        layers = layer_metrics(res, first, warm, ctx)
        metrics = {k: v for k, v in layers.items() if not k.startswith(WORKLOAD_SPECIFIC)}
        printed = {k: v for k, v in layers.items() if k.startswith(WORKLOAD_SPECIFIC)}
    else:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in m.items()}
        printed = {}

    # ---- report ----
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={res['cpus']} heap={heap()} ops={attempted} "
          f"warm_rounds>={spec['min_warm']} measured={res['measure_s']:.1f}s")
    print(f"  inputs (sha256), made or verified in {gen_s:.1f} s:")
    for name, digest in ctx["inputs"].items():
        print(f"    {name} {digest}")
    print(f"  host loadavg before={' '.join(load_before)} after={' '.join(load_after)}"
          f" cpu steal during run={steal:.3f}")
    print(f"  sentinel pre={json.dumps(res['sentinel_pre'])} post={json.dumps(res['sentinel_post'])}")
    for name, (v, unit) in metrics.items():
        print(f"  {name:28s} {v:14.4f} {unit}")
    for name, (v, unit) in printed.items():
        print(f"  {name:28s} {v:14.4f} {unit}  (workload-specific; printed only)")
    if not traced and kind == "suite":
        # printed, not result metrics, and not on etl-ingest, which has too
        # few operations: see README.md, "End-to-end metrics"
        print(f"  {'warm_p50_ms':28s} {info['p50_ms']:14.4f} ms  "
              f"(n={len(ops)} operations; informational)")
        print(f"  {'warm_ptail_ms':28s} {info['ptail_ms']:14.4f} ms  "
              f"(n={info['warm_n']}, p{100 * info['ptail_level']:.0f}; informational)")
    print(f"  {'fail_frac':28s} {failed / attempted:14.4f} ratio  ({failed} of {attempted} operations)")
    if traced:
        print(f"  spans: {res['trace']['spans']}")
    for op in sorted(failed_ops):
        print(f"  FAILED {op}", file=sys.stderr)
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "inputs": ctx["inputs"], "loadavg": [load_before, load_after], "steal": steal,
               "sentinel": [res["sentinel_pre"], res["sentinel_post"]],
               "metrics": {k: v for k, (v, _) in metrics.items()},
               "attempted": attempted, "failed": failed}
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def smoke(args, work, classpath):
    """Every workload, untraced and traced, on the smallest inputs: every
    metric BENCHMARK.json names is printed, with its unit, and finite,
    and no operation fails."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if set(WORKLOADS) != {w["name"] for w in spec["workloads"]}:
        fail("BENCHMARK.json names other workloads than run.py runs")
    for wl, small in SMOKE.items():
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            a = argparse.Namespace(**{**vars(args), "workload": wl, "trace": trace,
                                      "seconds": 0.0, "seed": 1, "out": None})
            r = run(a, work, classpath, {**WORKLOADS[wl], **small})
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            bad = [k for k, v in r["metrics"].items() if not math.isfinite(v["value"])]
            if got != want or bad or r["failed"]:
                fail(f"smoke {wl} trace={trace}: {r['failed']} failed, non-finite {bad}, "
                     f"unlisted {sorted(got.items() - want.items())}, "
                     f"missing {sorted(want.items() - got.items())}")
    print(json.dumps({"smoke": "ok"}))


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="all workloads on tiny inputs")
    p.add_argument("--out", help="also write the run's summary (metrics, input hashes) here")
    p.add_argument("--regen-goldens", action="store_true",
                   help="rewrite the suite goldens from this run's outputs")
    args = p.parse_args()
    signal.signal(signal.SIGTERM, on_terminate)
    signal.signal(signal.SIGINT, on_terminate)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources at {ROOT} (run from the root of a checkout)", 2)
    if not args.smoke and not args.workload:
        p.error("--workload or --smoke is required")
    work = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench").resolve()
    work.mkdir(parents=True, exist_ok=True)
    try:
        classpath = build(work)
        if args.smoke:
            smoke(args, work, classpath)
            return
        print(json.dumps(run(args, work, classpath, WORKLOADS[args.workload])))
    except subprocess.TimeoutExpired as e:  # the build or input generation
        fail(f"timed out after {e.timeout} s: {' '.join(map(str, e.cmd[-2:]))}")


if __name__ == "__main__":
    main()
