#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload curate|serve --seed N \
        --seconds S --trace 0|1 [--passes 2]

Run from the repository root. The first run builds graft together
with the harness (perfbench/build.sbt, output in perfbench/target/);
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from the seed (perfbench/gen.py), runs the
workload in one fresh JVM (perfbench/src/main/scala/graftbench/),
checks every timed output outside the timed part, prints every metric
with its unit, and prints one JSON object as the last line of stdout.
With --trace 1 the metrics are the per-layer ones, and the spans go to
perfbench/target/traces/. The timed part is a fixed amount of work;
--seconds is accepted for the calling convention and printed next to
the time the work took. --passes 2 (curate) adds a second timed pass
over a second fresh corpus of the same size, to show that the first
pass is warm; only the first pass is measured and checked.
perfbench/NOTES.md says what each workload and metric is for.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CDS = os.path.join(TARGET, "cds")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
ORACLE_TOOL = os.path.join(ROOT, "tools", "check_oracle.py")

WORKLOADS = ("curate", "serve")

# curate: the timed corpus, and the set-up corpus (sf0.1 multiples)
CURATE_SCALE = 1.0
WARM_SCALE = 0.1
CURATE_TABLES = ("documents", "events")
# serve: an sf0.1-sized corpus, nproc / 2 clients, fixed request counts
SERVE_SCALE = 1.0
SERVE_ROUNDS = 3         # timed rounds; run_s is the median round's
SERVE_REQUESTS = 18      # per round: 3 blocks of the 6 request kinds
SERVE_WARMUP = 24        # 4 blocks

RUN_LIMIT_S = 170          # a run's time limit once the build exists
FIRST_RUN_LIMIT_S = 880    # the same for the run that builds
BUILD_LIMIT_S = 700

MB = 1024.0 * 1024.0

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    files = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft plus the harness unless the last build is current;
    return the runtime classpath."""
    stamp_file = os.path.join(TARGET, "bench_stamp")
    cp_file = os.path.join(TARGET, "bench_classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building graft and the harness (sbt)")
    shutil.rmtree(CDS, ignore_errors=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def heap():
    """The tier-1 tests' heap: half the machine's memory, 2g to 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def serve_clients():
    """serve's closed-loop clients: half the cores. Each request's jobs
    run on all the cores, and the JIT compiler threads take one to two
    more; with one client per core the JVM kept every core busy and its
    runs measured the host's scheduler more than the program (and
    served fewer requests per second than with half as many)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def run_harness(cp, harness_args, data, out, deadline):
    """Runs the harness JVM; returns its result and the DuckDB side of
    the checks (an Oracle)."""
    scratch = os.path.join(out, "jvm")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    # a class-data-sharing archive: the classes the first run of this
    # build loaded, mapped by later runs instead of loaded and verified
    # again (about 8 s of JVM and Spark start-up)
    archive = os.path.join(CDS, "graft.jsa")
    os.makedirs(CDS, exist_ok=True)
    dump = None
    if os.path.exists(archive):
        cmd = ["java", f"-XX:SharedArchiveFile={archive}"]
    else:
        dump = f"{archive}.{os.getpid()}"
        cmd = ["java", f"-XX:ArchiveClassesAtExit={dump}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed-size heap: no resizing, so what a collection leaves
    # (heap_mb) follows the program's allocations, not the heap's growth
    cmd += [f"-Xms{heap()}", f"-Xmx{heap()}",
            # the throughput collector: G1 keeps resizing its young
            # generation through a run's first minutes, which made
            # serve's requests 20-30% faster from the first half of the
            # timed part to the second
            "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            # Spark's status store keeps the last N jobs, stages and SQL
            # executions on the heap; small caps keep that bookkeeping
            # from growing with the number of calls a run makes
            "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
            "-Dspark.sql.ui.retainedExecutions=10",
            f"-Dspark.local.dir={scratch}/local",
            f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
            f"-Djava.io.tmpdir={scratch}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "graftbench.Harness"] + harness_args
    with open(os.path.join(out, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        oracle = Oracle(data, out, p)
        oracle.start()
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"harness timed out; log in {out}/harness.log")
        except BaseException:   # interrupted: the JVM goes with this run
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if dump and os.path.exists(dump):
        os.replace(dump, archive)
    if p.returncode != 0:
        with open(os.path.join(out, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"harness exited with {p.returncode}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), oracle


class Oracle(threading.Thread):
    """The DuckDB side of the correctness pass. It waits for the
    harness's `oracle_sql.json` (written when the timed part is over),
    runs each oracle SQL on the same inputs while the harness runs its
    own checks, and then compares with the harness's outputs by
    tools/check_oracle.py's rule: normalized frames with equal columns,
    shape and values."""

    def __init__(self, data, out, harness):
        super().__init__(daemon=True)
        self.data, self.out, self.harness = data, out, harness
        self.expected, self.sql = {}, {}

    def run(self):
        path = os.path.join(self.out, "oracle_sql.json")
        while not os.path.exists(path):
            if self.harness.poll() is not None:
                return
            time.sleep(0.2)
        with open(path) as f:
            self.sql = json.load(f)
        if not self.sql:
            return
        import duckdb
        spec = importlib.util.spec_from_file_location("check_oracle", ORACLE_TOOL)
        self.tool = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.tool)
        self.con = duckdb.connect()
        for t in glob.glob(os.path.join(self.data, "*.parquet")):
            name = os.path.basename(t)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        for label, o in self.sql.items():
            try:
                self.expected[label] = self.tool.normalize(self.con.execute(o["sql"]).fetchdf())
            except Exception as e:  # noqa: BLE001 - any failure is a mismatch
                self.expected[label] = e

    def mismatches(self):
        """{label: why} for the timed labels whose checked output
        differs from its oracle."""
        self.join()
        bad = {}
        for label, o in self.sql.items():
            exp = self.expected.get(label)
            try:
                if isinstance(exp, Exception):
                    raise exp
                got = self.tool.normalize(self.con.execute(
                    f"SELECT * FROM read_parquet('{self.out}/results/{o['result']}/*.parquet')"
                ).fetchdf())
            except Exception as e:  # noqa: BLE001 - any failure is a mismatch
                bad[label] = f"oracle compare failed: {str(e)[:300]}"
                continue
            if list(exp.columns) != list(got.columns):
                bad[label] = f"columns {list(got.columns)} != oracle {list(exp.columns)}"
            elif exp.shape != got.shape:
                bad[label] = f"shape {got.shape} != oracle {exp.shape}"
            elif not exp.equals(got):
                diff = (exp != got) & ~(exp.isna() & got.isna())
                col = next(c for c in exp.columns if diff[c].any())
                i = diff[col].idxmax()
                bad[label] = (f"{o['result']} differs from its oracle: row {i} {col} "
                              f"oracle={exp[col][i]!r} spark={got[col][i]!r}")
        return bad


def percentile(values, q):
    """The q-th percentile, interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(res, inputs):
    """run_s is the median of serve's rounds (each the same mix of
    requests), or curate's first pass. A request is one of serve's
    calls, or curate's pass: its one client waits for the whole pass."""
    if res["workload"] == "serve":
        rounds = res["pass_s"]
        lat = [t["seconds"] for t in res["timed"]]
    else:
        rounds = lat = res["pass_s"][:1]
    run_s = statistics.median(rounds)
    return {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (run_s, "s"),
        "docs_per_s": (inputs["docs"] / run_s, "1/s"),
        "ops_per_s": (len(lat) / len(rounds) / run_s, "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (percentile(lat, 90), "s"),
        "heap_mb": (res["heap_bytes"] / MB, "MB"),
        "write_amp": (res["output_bytes"] / inputs["bytes"], "ratio"),
    }


def generate(args, work):
    """The run's inputs, from the seed: the timed corpora, and for
    curate the set-up corpus, each from its own derived seed
    ([seed, 1000 + k]; numpy's [seed, 0] would equal seed itself)."""
    sys.path.insert(0, HERE)
    import gen
    if args.workload == "serve":
        corpora = [gen.generate(os.path.join(work, "data"), args.seed, SERVE_SCALE)]
        return corpora, None
    corpora = [gen.generate(os.path.join(work, "data" if k == 0 else f"data{k}"),
                            args.seed if k == 0 else [args.seed, 1000 + k], CURATE_SCALE, CURATE_TABLES)
               for k in range(args.passes)]
    warm = gen.generate(os.path.join(work, "warm"), [args.seed, 1000], WARM_SCALE, CURATE_TABLES)
    return corpora, warm


def cleanup_tmp(app_id, work, before):
    """The program keeps its artifacts under /tmp/graft_*, named by the
    Spark application id or by the input directory; delete the ones
    this run created."""
    token = work.replace("/", "_")
    for p in set(glob.glob("/tmp/graft_*")) - before:
        if (app_id and app_id in p) or token in p.replace("/", "_"):
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--passes", type=int, default=1, help="curate's timed passes")
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and this
    # run's /tmp/graft_* artifacts are deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    if not os.path.isdir(PROGRAM_SRC) or not os.path.exists(ORACLE_TOOL):
        die(f"graft's sources are not here ({PROGRAM_SRC}); run from a full checkout")
    built_before = os.path.exists(os.path.join(TARGET, "bench_stamp"))
    cp = build()
    deadline = time.time() + RUN_LIMIT_S if built_before else t_start + FIRST_RUN_LIMIT_S

    tag = f"{args.workload}-{args.seed}-{args.trace}"
    work = os.path.join(TARGET, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    t_gen = time.time()
    corpora, warm = generate(args, work)
    data = os.path.join(work, "data")
    inputs = corpora[0]
    input_bytes = sum(c["bytes"] for c in corpora) + (warm["bytes"] if warm else 0)
    harness_args = [
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace), "--out", work,
        "--data", ",".join([data] + [os.path.join(work, f"data{k}")
                                     for k in range(1, len(corpora))]),
        "--requests", str(SERVE_REQUESTS), "--rounds", str(SERVE_ROUNDS),
        "--warmup", str(SERVE_WARMUP),
        "--clients", str(serve_clients())]
    if warm:
        harness_args += ["--warm", os.path.join(work, "warm")]

    tmp_before = set(glob.glob("/tmp/graft_*"))
    try:
        t_jvm = time.time()
        res, oracle = run_harness(cp, harness_args, data, work, deadline)
        mismatches = oracle.mismatches()
        t_end = time.time()
    finally:
        app_id = None
        if os.path.exists(os.path.join(work, "app_id")):
            with open(os.path.join(work, "app_id")) as f:
                app_id = f.read().strip()
        cleanup_tmp(app_id, work, tmp_before)

    # an operation is a call; a timed call fails when it threw, or its
    # output failed its check, or its label's checked output differs
    # from the oracle
    failures = [(s["label"], f"untimed call failed: {s['error']}")
                for s in res["setup_calls"] + res["fillers"] if s["error"]]
    for i, t in enumerate(res["timed"]):
        why = t["failure"] or mismatches.get(t["label"])
        if why:
            failures.append((f"{t['label']}#{i}", why))
    attempted = len(res["setup_calls"]) + len(res["fillers"]) + len(res["timed"])
    failed = len(failures)
    e2e = end_to_end(res, dict(inputs, bytes=input_bytes))

    lat = [t["seconds"] for t in res["timed"]]
    half = len(lat) // 2
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={res['nproc']} heap={res['heap_max_bytes'] / MB:.0f}MB "
          f"spark={res['spark_version']}")
    for name, c in [("timed", inputs)] + [(f"timed{k}", c) for k, c in enumerate(corpora[1:], 1)] \
            + ([("set-up", warm)] if warm else []):
        print(f"inputs ({name}): scale={c['scale']} docs={c['docs']} bytes={c['bytes']} "
              f"dup_rate={c['dup_rate']} max_cluster={c['max_cluster']} "
              + " ".join(f"{t}={v['rows']}rows/{v['bytes']}B" for t, v in c["tables"].items()))
    print(f"timed part: {len(lat)} calls, run_s {e2e['run_s'][0]:.2f} s "
          f"(--seconds {args.seconds:g}); set-up {res['setup_s']:.2f} s, "
          f"of which JVM and session start {res['session_s']:.2f} s")
    if len(res["pass_s"]) > 1:
        print(("round" if args.workload == "serve" else "pass") + " times: "
              + ", ".join(f"{v:.2f} s" for v in res["pass_s"]))
    print("set-up calls: " + ", ".join(f"{s['label']} {s['seconds']:.2f}"
                                        for s in res["setup_calls"][:16]) + " s")
    if args.workload == "curate":
        print("timed calls: " + ", ".join(f"{t['label']} {t['seconds']:.2f}"
                                          for t in res["timed"]) + " s")
    else:
        by_kind = {}
        for t in res["timed"]:
            by_kind.setdefault(t["label"].split("(")[0], []).append(t["seconds"])
        print("request median by kind: " + ", ".join(
            f"{k} {statistics.median(v):.2f} s (n={len(v)})" for k, v in by_kind.items()))
        order = sorted(res["timed"], key=lambda t: t["start_s"])
        first = statistics.median(t["seconds"] for t in order[:half])
        second = statistics.median(t["seconds"] for t in order[half:])
        print(f"latency median, first half {first:.3f} s, second half {second:.3f} s "
              f"({second / first - 1:+.3f}); {len(res['fillers'])} filler requests")
    if args.workload == "serve":
        print(f"latency samples: {len(lat)} (p90 has {len(lat) - int(0.9 * len(lat))} beyond it)")
    else:
        print("latency samples: 1, the pass")
    print(f"run phases: build check {t_gen - t_start:.1f} s, inputs {t_jvm - t_gen:.1f} s, "
          f"JVM and DuckDB {t_end - t_jvm:.1f} s (checks {res['checks_s']:.1f} s)")
    print(f"checks: {len(oracle.sql)} outputs against DuckDB, "
          f"{len(res['timed'])} timed outputs checked; "
          f"operations attempted {attempted}, failed {failed}")
    for name, why in failures:
        print(f"FAILED {name}: {why}")
    for name, (v, unit) in e2e.items():
        print(f"{name} {v:.6g} {unit}")

    run_info = {"env": {k: res[k] for k in ("nproc", "heap_max_bytes", "spark_version")},
                "seed": args.seed, "inputs": corpora, "warm_inputs": warm}
    untraced = os.path.join(TARGET, "untraced", f"{args.workload}-{args.seed}.json")
    if args.trace:
        metrics = {n: {"value": v, "unit": u} for n, v, u in res["per_layer"]}
        overhead = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                overhead = e2e["run_s"][0] / json.load(f)["run_s"] - 1
        os.makedirs(os.path.join(TARGET, "traces"), exist_ok=True)
        trace_path = os.path.join(TARGET, "traces", f"{args.workload}-{args.seed}.json")
        with open(os.path.join(work, "spans.json")) as f:
            spans = json.load(f)
        with open(trace_path, "w") as f:
            json.dump(dict(run_info, self_s=res["self_s"], run_s=e2e["run_s"][0],
                           tracing_overhead=overhead, per_layer=metrics,
                           per_layer_setup={n: v for n, v, _ in res["per_layer_setup"]},
                           timed=res["timed"], spans=spans), f)
        for layer, s in sorted(res["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"self_s (timed part) {layer} {s:.3f} s")
        pl = {n: v for n, v, _ in res["per_layer"]}
        layers = sorted({n.split(".")[0] for n in pl} - {"registry", "spark"})
        task_cpu = sum(pl[f"{l}.task_cpu_s"] for l in layers)
        off_task = sum(pl[f"{l}.{m}"] for l in layers for m in ("build_s", "plan_s", "wait_s"))
        wall = sum(res["pass_s"]) if args.workload == "serve" else e2e["run_s"][0]
        print(f"task CPU {task_cpu:.2f} s = {task_cpu / wall:.3f} x the timed part's wall time "
              f"({task_cpu / (wall * res['nproc']):.3f} of the cores' time)")
        print(f"build_s + plan_s + wait_s {off_task:.2f} s = "
              f"{off_task / sum(lat):.3f} of the calls' time")
        print("set-up build_s by layer: " + ", ".join(
            f"{n[:-len('.build_s')]} {v:.2f}" for n, v, _ in res["per_layer_setup"]
            if n.endswith(".build_s") and v > 0) + " s")
        if overhead is None:
            print("tracing_overhead: no untraced run of this seed in this checkout yet")
        else:
            print(f"tracing_overhead {overhead:.4f} ratio (traced run_s vs the untraced run "
                  f"of seed {args.seed})")
        print(f"trace: {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
        os.makedirs(os.path.dirname(untraced), exist_ok=True)
        with open(untraced, "w") as f:
            json.dump({"run_s": e2e["run_s"][0]}, f)
    with open(os.path.join(work, "run_info.json"), "w") as f:
        json.dump(dict(run_info, metrics=metrics), f)
    shutil.rmtree(os.path.join(work, "jvm"), ignore_errors=True)
    if failed == 0:   # a failed run keeps its inputs and outputs
        for d in glob.glob(os.path.join(work, "data*")) + [os.path.join(work, "warm"),
                                                            os.path.join(work, "results")]:
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
