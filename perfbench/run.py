#!/usr/bin/env python3
"""Repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <note_dump|gates_small>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a source checkout. The first run compiles the engine
(`src/main/scala`) and the benchmark (`perfbench/scala`) with the Scala
compiler shipped in the Spark jars, into `.bench_build/`; later runs reuse
the classes while the sources are unchanged. Inputs are generated from the
seed, once per seed and generator version, under `.bench_build/inputs/`.

`setup_s` is the run's one set-up in a fresh JVM: a cold start, as a
one-shot user pays it, plus the warm-up iterations that bring the JIT near
steady state before timing. Its steadiness comes from the median over runs.
The host context printed with the result includes steal%, the CPU time the
hypervisor gave to other guests during the run.

The last line of stdout is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`). The exit code is non-zero when an output check fails.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: no Spark jars directory found")
    return m.group(1)


SCALA_VERSION = "2.13.17"
BUILD = ".bench_build"
DEADLINE_S = 170  # a run must end within 180 s
AFTER_LOOP_S = 35  # the JVM's final outputs and shutdown, then the oracle compare

WORKLOADS = ("note_dump", "gates_small")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


CHILDREN = []  # processes started by this run, stopped with it


def stop_children(signum, _frame):
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(128 + signum)


def call(cmd, **kw):
    p = subprocess.Popen(cmd, **kw)
    CHILDREN.append(p)
    return p.wait()


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_digest(files, salt=""):
    h = hashlib.sha256((SCALA_VERSION + salt).encode())
    for f in sorted(files):
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(out, classpath, files, log):
    compiler = [os.path.join(spark_jars(), "scala-%s-%s.jar" % (p, SCALA_VERSION))
                for p in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.isfile(j):
            fail("Scala compiler jar missing: " + j)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-classpath", classpath, "-d", out] + sorted(files)
    with open(log, "w") as fh:
        rc = call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("compile failed (%s)" % out)


def build(root):
    """Compile the engine and the benchmark unless their sources are unchanged."""
    engine_src = glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
    bench_src = glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True)
    if not engine_src:
        fail("no engine sources under src/main/scala; run from the root of a source checkout")
    if not bench_src:
        fail("no benchmark sources under perfbench/scala")
    base = os.path.join(root, BUILD, "classes")
    os.makedirs(base, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    outs, digest = [], ""
    for name, files in (("engine", engine_src), ("bench", bench_src)):
        out = os.path.join(base, name)
        stamp = out + ".stamp"
        digest = sources_digest(files, digest)  # the bench stamp covers the engine too
        if not (os.path.isdir(out) and os.path.isfile(stamp) and open(stamp).read() == digest):
            t0 = time.time()
            scalac(out, os.pathsep.join(outs + [jars]), files, out + ".log")
            with open(stamp, "w") as fh:
                fh.write(digest)
            print("built %s in %.1f s" % (name, time.time() - t0))
        outs.append(out)
    return outs


def keep_latest(parent, prefix, keep):
    """Drop all but the `keep` most recently used inputs named `prefix*`."""
    dirs = sorted(glob.glob(os.path.join(parent, prefix + "*")), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def generator_tag():
    """Short digest of the generator sources and sizes: inputs made by other code are never reused."""
    scala = os.path.join(HERE, "scala")
    return sources_digest([os.path.join(HERE, "inputs.py"), os.path.join(scala, "NoteGen.scala"),
                           os.path.join(scala, "Workloads.scala")])[:10]


def prepare_input(root, workload, seed):
    """Name the input directory of (workload, seed) and drop older ones.

    The gates' fixture is written here; the NOTE table is loaded into Derby
    by the benchmark JVM, which owns the Derby driver.
    """
    import inputs
    parent = os.path.join(root, BUILD, "inputs")
    # a NOTE database is about 100 MB, a fixture with its oracle result 0.5 MB
    prefix, keep = ("note-", 2) if workload == "note_dump" else ("fixture-", 32)
    d = os.path.join(parent, "%ss%d-%s" % (prefix, seed, generator_tag()))
    if os.path.isdir(d):
        os.utime(d)
    keep_latest(parent, prefix, keep if os.path.isdir(d) else keep - 1)
    if workload == "gates_small" and not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        inputs.fixture(seed, d)
        open(os.path.join(d, "DONE"), "w").close()
        print("generated %s in %.1f s" % (os.path.basename(d), time.time() - t0))
    return d


def cpu_times():
    """The aggregate `cpu` line of /proc/stat (user ... steal), or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to other guests between two samples."""
    if not before or not after:
        return float("nan")
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def run_jvm(classes, args, work, input_dir, deadline):
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "derby")):
        os.makedirs(d, exist_ok=True)
    cp = os.pathsep.join(classes + [os.path.join(spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd = ["java"] + opens + [
        "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        # the source database is rebuilt from the seed, so its load need not survive a crash
        "-Dderby.system.durability=test",
        "-Dderby.stream.error.file=" + os.path.join(work, "derby", "derby.log"),
        "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--input", input_dir,
        "--stop-by-ms", str(int((deadline - AFTER_LOOP_S) * 1000)),
    ]
    # everything Spark writes stays in the work directory: an inherited
    # SPARK_LOCAL_DIRS would override spark.local.dir
    env = dict(os.environ, GRAFT_TARGET_DIR=os.path.join(work, "gate-dumps"))
    env.pop("SPARK_LOCAL_DIRS", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env, cwd=work, text=True)

        CHILDREN.append(proc)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM exceeded the run deadline; log: " + log)
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail("benchmark JVM exited with %d" % proc.returncode)
    lines = out.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


# ------------------------------------------------------------ oracle compare

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort")


def cells_equal(a, b):
    """Typed exact equality: floats bitwise (NaN == NaN), int vs float differs."""
    import pandas as pd
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, float) != isinstance(b, float):
        return False
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


def frames_equal(got, exp):
    """None when equal, else the first difference."""
    if sorted(got.columns) != sorted(exp.columns):
        return "columns %s != %s" % (sorted(got.columns), sorted(exp.columns))
    if len(got) != len(exp):
        return "rows %d != %d" % (len(got), len(exp))
    g, e = canon(got), canon(exp)
    for c in g.columns:
        if (g[c].dtype.kind in "iu") != (e[c].dtype.kind in "iu") and "f" in (g[c].dtype.kind, e[c].dtype.kind):
            return "column %s kind %s != %s" % (c, g[c].dtype, e[c].dtype)
    for i, (gr, er) in enumerate(zip(g.itertuples(index=False), e.itertuples(index=False))):
        for c, a, b in zip(g.columns, gr, er):
            if not cells_equal(a, b):
                return "row %d column %s: %r != %r" % (i, c, a, b)
    return None


def oracle_frame(con, sql, input_dir):
    """The oracle's result over the fixture in `input_dir`, kept there per SQL text.

    The oracle is a pure function of its SQL and the fixture, and the q82
    oracle takes about 12 s, so a seed that comes back reuses its result.
    """
    import pandas as pd
    path = os.path.join(input_dir, "oracle-%s.pkl" % hashlib.sha256(sql.encode()).hexdigest()[:16])
    if os.path.isfile(path):
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def oracle_check(work, input_dir):
    """Compare each final output under work/check with its DuckDB oracle."""
    import duckdb
    with open(os.path.join(work, "check", "oracle.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                % os.path.join(input_dir, "documents.parquet"))
    problems = []
    for name, sql in sorted(oracle.items()):
        got = con.sql("SELECT * FROM read_parquet('%s')" % os.path.join(work, "check", name, "*.parquet")).df()
        diff = frames_equal(got, oracle_frame(con, sql, input_dir))
        if diff:
            problems.append("%s: %s" % (name, diff))
    return problems


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    start = time.time()
    root = os.getcwd()
    classes = build(root)
    if args.self_test:
        cp = os.pathsep.join(classes + [os.path.join(spark_jars(), "*")])
        opens = [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
        work = os.path.join(root, BUILD, "selftest")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        rc = call(["java"] + opens + ["-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
                                      "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                      "-cp", cp, "perfbench.SelfTest", work])
        rc |= call([sys.executable, "-m", "unittest", "-q", "test_run"], cwd=HERE)
        sys.exit(rc)
    if not args.workload:
        ap.error("--workload is required")
    work = os.path.join(root, BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    input_dir = prepare_input(root, args.workload, args.seed)
    cpu0 = cpu_times()
    lines, res = run_jvm(classes, args, work, input_dir, start + DEADLINE_S)
    res["host"]["steal_pct"] = steal_pct(cpu0, cpu_times())
    for line in lines:
        print(line)
    t0 = time.time()
    # note_dump is checked inside the JVM against a digest of the source
    # rows regenerated from the seed; the gates against their DuckDB oracle
    problems = oracle_check(work, input_dir) if args.workload == "gates_small" else []
    print("output_check_s %.1f" % (time.time() - t0))
    for p in problems:
        print("output check failed: " + p)
    attempted, failed = res["attempted"], res["failed"]
    if problems:
        failed = attempted
    correct = failed == 0
    print("host " + json.dumps(res["host"]))
    print("elapsed_s %.1f" % (time.time() - start))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
