#!/usr/bin/env python3
"""Benchmark of the graft engine, driven through its public API.

Run from the root of a checkout:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Workloads: curation, cdc_stream (see
BENCHMARK.json). The first run builds the engine and the driver with sbt
into .bench_build/ and later runs reuse that build while the sources are
unchanged. Each run gets its own temp root under .bench_tmp/, which is
removed on exit and on failure. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, and the
full span record is kept under .bench_out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DRIVER_SRC = os.path.join(HERE, "src")
WORKLOADS = ("curation", "cdc_stream")
HEAP = "2g"

# Measured peak of each workload's temp root (warehouse, inputs, Spark
# scratch), with headroom; the run fails fast below it.
DISK_NEED_MB = {"curation": 400, "cdc_stream": 400}
MEM_NEED_MB = 3072  # the 2 GB heap plus JVM and Spark off-heap overhead

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, DRIVER_SRC):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compile the engine plus the driver; returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = CLASSPATH + ".stamp"
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    sbt_tmp = os.path.join(BUILD, "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env = dict(os.environ)
    # offline: every dependency comes from the image's caches
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
                       f" -Djava.io.tmpdir={sbt_tmp}")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=max(60, deadline - time.time()))
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        tail = "\n".join(lines[-20:])
        fail(f"build failed (sbt exit {p.returncode}); see {log}\n{tail}", 4)
    cp = lines[-1]
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def preflight(workload, where):
    """Fail fast, naming the shortfall, when disk or memory is below the
    workload's measured peak."""
    free_mb = shutil.disk_usage(where).free / 2**20
    if free_mb < DISK_NEED_MB[workload]:
        fail(f"{workload} needs {DISK_NEED_MB[workload]} MB free disk at {where}, "
             f"{free_mb:.0f} MB available (short by {DISK_NEED_MB[workload] - free_mb:.0f} MB)", 3)
    try:
        with open("/proc/meminfo") as f:
            mem = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
        avail_mb = mem.get("MemAvailable", mem.get("MemFree", 0)) / 1024
    except OSError:
        return
    if avail_mb < MEM_NEED_MB:
        fail(f"{workload} needs {MEM_NEED_MB} MB available memory, {avail_mb:.0f} MB "
             f"available (short by {MEM_NEED_MB - avail_mb:.0f} MB)", 3)


def canon(rows, cols):
    """Rows as sorted tuples of strings, for an order-free exact compare."""
    return sorted(tuple(str(v) for v in r) for r in rows), list(cols)


def oracle_checks(spec_path):
    """Compare each ext result with the engine's oracle SQL run in DuckDB."""
    import duckdb
    with open(spec_path) as f:
        spec = json.load(f)
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        p = os.path.join(spec["inputs"], f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    checks = []
    for q, sql in spec["oracle"].items():
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(spec['results'], q)}/*.parquet')")
            g = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(sql)
            e = canon(exp.fetchall(), [d[0] for d in exp.description])
            ok = g == e
            detail = "" if ok else f"{len(g[0])} rows {g[1]} vs oracle {len(e[0])} rows {e[1]}"
        except Exception as ex:  # a broken result or oracle is a failed check
            ok, detail = False, str(ex)
        checks.append({"name": f"ext.{q}.oracle", "ok": ok, "detail": detail})
    return checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout of the repo")
    preflight(args.workload, ROOT)
    built = os.path.exists(CLASSPATH)
    cp = build(t_start + 850)
    # the first run in a checkout may spend its budget on the build
    deadline = (t_start + 890) if not built else (t_start + 175)

    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    proc = None

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        os.makedirs(os.path.join(tmp, "jvm-tmp"))
        raw_path = os.path.join(tmp, "raw.json")
        # few collector threads: the host's cores are shared
        cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
                "-XX:ConcGCThreads=1",
                f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm-tmp')}",
                f"-Djna.tmpdir={os.path.join(tmp, 'jvm-tmp')}"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                  "--seed", str(args.seed), "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--root", tmp, "--out", raw_path])
        log_path = os.path.join(tmp, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0 or not os.path.exists(raw_path):
            with open(log_path, errors="replace") as f:
                tail = f.readlines()[-30:]
            sys.stderr.write("".join(tail))
            fail(f"{args.workload} run {'timed out' if rc is None else f'exited {rc}'}", 1)
        with open(raw_path) as f:
            raw = json.load(f)
        facts = raw["facts"]
        print(f"perfbench: set-ups {', '.join(f'{x:.1f}' for x in raw['setup_s'])} s, "
              f"warm-up {facts.get('warm_s', 0):.1f} s, "
              f"window {facts.get('phase.measure_s', 0):.1f} s, "
              f"finish {facts.get('phase.finish_s', 0):.1f} s, run {time.time() - t_start:.1f} s",
              file=sys.stderr)
        spec = os.path.join(tmp, "ext_oracle.json")
        if os.path.exists(spec):
            raw["checks"] += oracle_checks(spec)
        for c in raw["checks"]:
            if not c["ok"]:
                print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
        for o in raw["ops"]:
            if not o["ok"]:
                print(f"perfbench: op {o['kind']} failed", file=sys.stderr)
        if any(not o["ok"] for o in raw["ops"]):
            # the JVM side's messages about failed ops, with their errors
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(ln for ln in f if ln.startswith("[perfbench]")))
        ops = [o for o in raw["ops"] if not stats.is_ref(o)]
        attempted, failed = stats.accounting(ops, raw["checks"])
        if args.trace:
            metrics = {k: {"value": v, "unit": stats.unit_of(k)}
                       for k, v in stats.per_layer(raw).items()}
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"),
                      "w") as f:
                json.dump(raw, f)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in stats.end_to_end(raw).items()}
        print(json.dumps({"correct": failed == 0 and all(c["ok"] for c in raw["checks"]),
                          "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
