#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program from
source (sbt, offline, into .bench_build/) and writes the registry fixture;
later calls reuse both. Each call starts one JVM at local[4] that runs the
workload(s) and checks every output; with --trace 1 a second JVM then runs
them traced on the same seed. A result JSON and (traced runs) a span file
are left under .bench_build/results/. The registry rows' results
are checked here against their DuckDB oracle, or against the hash of an
earlier oracle-passing result. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --selftest        # seed determinism check
    python3 perfbench/run.py --size-registry   # time + oracle-check all rows
"""
import argparse
import glob
import hashlib
import json
import multiprocessing
import queue
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 172
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def tree_stamp(paths):
    h = hashlib.sha256()
    for top in paths:
        for p in sorted(glob.glob(os.path.join(top, "**", "*"), recursive=True)):
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def file_hash(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def build():
    """Compiles the program and the harness unless the sources are unchanged."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt")]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no src/main/scala next to perfbench/; run from "
                 "the root of a full checkout")
    stamp = tree_stamp(srcs[:2]) + file_hash(srcs[2])
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd.append(f"-Dsbt.repository.config={repos}")
    log("perfbench: building (sbt compile)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(cmd + ["compile", "Compile/copyResources"], cwd=HERE, stdout=out,
                            stderr=subprocess.STDOUT, env=env,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed, see {BUILD}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def fixture():
    """The registry fixture, written once per generator version."""
    gen = os.path.join(HERE, "gen_fixture.py")
    d = os.path.join(BUILD, "fixture-" + file_hash(gen))
    if not os.path.exists(os.path.join(d, "DONE")):
        log("perfbench: writing registry fixture")
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, gen, d], check=True)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def sidecar_props():
    """Every graft.*.dir property the registry reads for its sidecar
    artifacts, pointed inside the checkout (their defaults lie outside it).
    """
    props = set()
    for p in glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                    "*.scala"), recursive=True):
        with open(p, encoding="utf-8") as f:
            props |= set(re.findall(r'"(graft\.[A-Za-z0-9_.]+\.dir)"', f.read()))
    base = os.path.join(BUILD, "sidecar")
    return [f"-D{p}={os.path.join(base, p)}" for p in sorted(props)]


def run_jvm(args, run_dir, extra, timeout_s=150):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cp = CLASSES + ":" + os.path.join(spark_home(), "jars", "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"] +
           sidecar_props() + ["-cp", cp] + args + extra)
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
    if rc != 0:
        kept = os.path.join(BUILD, "failed-jvm.log")
        shutil.copy(logf, kept)
        with open(logf) as f:
            log("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: JVM exited with {rc}, see {kept}")


# ---- registry oracle check ------------------------------------------------

class Oracle:
    """DuckDB views over the fixture; compares a Spark result directory
    with the row's oracle SQL using tools/oracle_check.py's rules."""

    def __init__(self, fixture_dir):
        import duckdb
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import oracle_check
        self.rules = oracle_check
        self.con = duckdb.connect(config={"threads": 2,
                                          "memory_limit": "2GB"})
        self.con.sql("SET TimeZone='UTC'")
        for t in oracle_check.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{fixture_dir}/{t}.parquet'")
        self.cache = os.path.join(fixture_dir, "oracle-hashes")
        os.makedirs(self.cache, exist_ok=True)

    def spark_rows(self, out):
        rel = self.con.sql(f"SELECT * FROM '{out}/*.parquet'")
        cols = sorted(rel.columns)
        rows = self.con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols) +
                            f" FROM '{out}/*.parquet'").fetchall()
        return cols, self.rules.canon(rows)

    def run_sql(self, sql):
        rel = self.con.sql(sql)
        cols = sorted(rel.columns)
        idx = [rel.columns.index(c) for c in cols]
        return cols, self.rules.canon([tuple(r[i] for i in idx)
                                       for r in rel.fetchall()])

    def check(self, name, out, sql):
        """(ok, how): 'hash' if matched a recorded hash, 'oracle' if the
        oracle ran; records the hash of an oracle-passing result."""
        if sql is None:
            return False, "no oracle"
        cols, rows = self.spark_rows(out)
        digest = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
        key = hashlib.sha256((name + "\n" + sql).encode()).hexdigest()[:20]
        path = os.path.join(self.cache, f"{name}-{key}.sha256")
        if os.path.exists(path):
            return open(path).read() == digest, "hash"
        dcols, drows = self.run_sql(sql)
        eq = self.rules.eq
        ok = (cols == dcols and len(rows) == len(drows) and
              all(all(eq(x, y) for x, y in zip(ra, rb))
                  for ra, rb in zip(rows, drows)))
        if ok:
            with open(path, "w") as f:
                f.write(digest)
        return ok, "oracle"


def _check_rows(fix, rows, q):
    oracle = Oracle(fix)
    for row in rows:
        try:
            ok, how = oracle.check(row["name"], row["out"], row["oracle_sql"])
        except Exception as e:  # an oracle error counts as a failure
            ok, how = False, f"error: {e}"
        q.put((row["name"], ok, how))


def check_rows(fix, rows, timeout_s):
    """{name: (ok, how)}, checked in one child process that is killed after
    `timeout_s`; a row it did not reach fails."""
    q = multiprocessing.Queue()
    p = multiprocessing.Process(target=_check_rows, args=(fix, rows, q))
    p.start()
    deadline = time.time() + timeout_s
    got = {}
    while len(got) < len(rows) and time.time() < deadline:
        try:
            name, ok, how = q.get(timeout=max(0.01, deadline - time.time()))
            got[name] = (ok, how)
        except queue.Empty:
            break
    if p.is_alive():
        p.kill()
    p.join()
    return {r["name"]: got.get(r["name"], (False, "timeout")) for r in rows}


def check_registry(result, fix, timeout_s):
    rows = result["info"]["rows"]
    verdicts = check_rows(fix, [r for r in rows if r["warm_ok"]], timeout_s)
    bad = 0
    for row in rows:
        row.pop("oracle_sql", None)
        if not row["warm_ok"]:
            row["check"] = "failed to run"
            continue
        ok, how = verdicts[row["name"]]
        row["check"] = ("pass (" + how + ")") if ok else ("FAIL (" + how + ")")
        if not ok:
            bad += 1
            log(f"perfbench: registry row {row['name']} {row['check']}")
    result["failed"] += bad
    result["info"]["oracle_failed"] = bad


# ---- main -----------------------------------------------------------------

def idle_sample():
    """Load average recorded once per checkout, before its first run."""
    path = os.path.join(BUILD, "idle_loadavg.json")
    if not os.path.exists(path):
        os.makedirs(BUILD, exist_ok=True)
        with open(path, "w") as f:
            json.dump(loadavg(), f)
    with open(path) as f:
        return json.load(f)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--size-registry", action="store_true")
    a = ap.parse_args()

    idle = idle_sample()
    build()
    fix = fixture()
    started = time.time()  # the 180 s run limit excludes the first build
    strata = os.path.join(HERE, "strata.txt")
    run_id = f"{int(time.time() * 1000)}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(run_dir)
    common = ["--seed", str(a.seed), "--seconds", str(a.seconds),
              "--fixture", fix, "--strata", strata]
    try:
        if a.selftest:
            run_jvm(["perfbench.SelfTest"], run_dir, ["--strata", strata])
            with open(os.path.join(run_dir, "jvm.log")) as f:
                print(f.read().strip().splitlines()[-1])
            return
        if a.size_registry:
            size_registry(run_dir, common, fix)
            return
        if not a.workload:
            sys.exit("perfbench: --workload is required")
        # a single workload must end within RUN_LIMIT_S; `all` gets that
        # much per workload
        end = started + RUN_LIMIT_S * (3 if a.workload == "all" else 1)

        def measure(trace):
            d = os.path.join(run_dir, f"trace{trace}")
            out = os.path.join(d, "result.json")
            run_jvm(["perfbench.Main", "--workload", a.workload,
                     "--trace", str(trace), "--run-dir", d, "--out", out],
                    d, common, timeout_s=end - 8 - time.time())
            with open(out) as f:
                results = json.load(f)
            for r in results:
                if r["workload"] == "registry_batch":
                    check_registry(r, fix, max(5.0, end - time.time()))
            return results

        before, cpu0 = loadavg(), cpu_times()
        results = measure(0)
        if a.trace:
            # the untraced run above is the reference for the tracing
            # overhead; the traced run is a separate JVM on the same seed
            for plain, traced in zip(results, measure(1)):
                overhead(plain, traced)
        after, cpu1 = loadavg(), cpu_times()
        steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        report(a, results, idle, before, after, steal, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def overhead(plain, traced):
    """Folds a traced run into its untraced reference: the per-layer
    metrics, the operation counts, and traced / untraced - 1 on latency
    and throughput as the tracing overhead."""
    def frac(k):
        return (traced["end_to_end"][k]["value"] /
                max(1e-9, plain["end_to_end"][k]["value"]) - 1)
    layers = plain["per_layer"] = traced["per_layer"]
    layers["trace.overhead_latency_frac"] = {
        "value": frac("latency_p50_ms"), "unit": "ratio"}
    layers["trace.overhead_throughput_frac"] = {
        "value": -frac("throughput_per_s"), "unit": "ratio"}
    plain["attempted"] += traced["attempted"]
    plain["failed"] += traced["failed"]
    plain["info"]["traced_end_to_end"] = traced["end_to_end"]
    plain["info"]["traced_info"] = traced["info"]


def report(a, results, idle, before, after, steal, run_id, run_dir):
    flagged = before[0] > idle[0]
    keep = os.path.join(BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    stem = f"{run_id}-{a.workload}-seed{a.seed}-trace{a.trace}"
    spans = glob.glob(os.path.join(run_dir, "**", "spans.json"), recursive=True)
    for s in spans:
        shutil.copy(s, os.path.join(keep, f"{stem}-{os.path.basename(os.path.dirname(s))}-spans.json"))
    load = {"idle_avg1": idle[0], "before": before, "after": after,
            "started_above_idle": flagged, "cpu_steal_share": steal}
    with open(os.path.join(keep, stem + ".json"), "w") as f:
        json.dump({"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                   "load": load, "results": results}, f, indent=1)

    print(f"perfbench seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print(f"load avg1 idle={idle[0]:.2f} before={before[0]:.2f} "
          f"after={after[0]:.2f}  cpu steal {steal:.1%}" +
          ("  FLAG: started above the idle sample" if flagged else ""))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    metrics, attempted, failed = {}, 0, 0
    single = len(results) == 1
    for r in results:
        w = r["workload"]
        attempted += r["attempted"]
        failed += r["failed"]
        info = r["info"]
        err = r["failed"] / max(1, r["attempted"])
        print(f"{w}: attempted={r['attempted']} failed={r['failed']} "
              f"error_rate={err:.6g} ratio  latency samples="
              f"{info['latency_samples']} tail=p{info['latency_tail_percentile']}")
        shown = r["per_layer"] if a.trace else r["end_to_end"]
        for k, m in r["end_to_end"].items():
            print(f"  {w} {k} {fmt(m['value'])} {m['unit']}")
        if a.trace:
            for k, m in r["per_layer"].items():
                print(f"  {w} {k} {fmt(m['value'])} {m['unit']}")
        missing = [k for k in names if k not in shown]
        if missing:
            sys.exit(f"perfbench: {w} did not report {missing}")
        for k in names:
            metrics[k if single else f"{w}.{k}"] = shown[k]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def size_registry(run_dir, common, fix):
    """Times every registry row once cold and once warm, then checks each
    against its oracle; writes .bench_build/sizing.json."""
    run_jvm(["perfbench.Main", "--workload", "registry_sizing",
             "--run-dir", run_dir,
             "--out", os.path.join(run_dir, "result.json")], run_dir, common,
            timeout_s=3600)
    with open(os.path.join(run_dir, "result.json")) as f:
        rows = json.load(f)
    for row in rows:
        if "out" not in row:
            continue
        t0 = time.time()
        row["oracle_ok"], row["oracle_check"] = \
            check_rows(fix, [row], 20)[row["name"]]
        row["oracle_s"] = time.time() - t0
        row.pop("oracle_sql", None)
        log(f"{row['name']} {row.get('warm_ms')} {row['oracle_ok']}")
    with open(os.path.join(BUILD, "sizing.json"), "w") as f:
        json.dump(rows, f, indent=1)


if __name__ == "__main__":
    main()
