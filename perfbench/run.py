#!/usr/bin/env python3
"""Repository benchmark: builds the program from source and runs one workload.

    python3 perfbench/run.py --workload <kg_mixed|query_suite> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the harness with sbt (offline) into the checkout; later runs reuse that
build while the sources are unchanged. The run shape (cores, shuffle
partitions, heap, GC) is pinned here, in run_shape(), and printed with
the result. The last stdout line is the result JSON; the exit code is 0 only
when every correctness check passed. See perfbench/README.md.
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
WORKLOADS = ("kg_mixed", "query_suite")
JVM_TIMEOUT_S = 170
# a read-only copy of the sf=0.01 test fixtures: the star schema, events,
# documents and embeddings tables, one parquet file each
SF_DIR = os.path.join(HERE, "data", "sf0.01")


def run_shape():
    """The one place the run shape is decided."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # half of physical memory, clamped to [2, 8] GiB, as the tier-1 test
    # command sizes the driver heap
    heap_gb = min(8, max(2, mem_kb // 2097152))
    return {"master": f"local[{cores}]", "cores": cores,
            "shuffle_partitions": 4, "heap": f"{heap_gb}g",
            "gc": f"ParallelGC/{cores}"}


def source_hash():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, n) for d, dirs, ns in os.walk(p)
            for n in ns if "target" not in os.path.relpath(d, ROOT).split(os.sep))
        for fp in files:
            h.update(os.path.relpath(fp, ROOT).encode())
            with open(fp, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(out):
    """Compiles the program and the harness; returns the runtime classpath."""
    cp_file = os.path.join(out, "classpath.txt")
    digest = source_hash()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true "
        "-Dsbt.server.forcestart=false -Xmx2g"))
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            stdin=subprocess.DEVNULL)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.exit(f"perfbench: build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + lines[-1] + "\n")
    for w in WORKLOADS:
        if os.path.exists(os.path.join(out, f"classes-{w}.jsa")):
            os.remove(os.path.join(out, f"classes-{w}.jsa"))
    return lines[-1]


def oracle_compare(sf_dir, out_dir):
    """The DuckDB oracle: each query's parquet result against its oracle
    SQL over the same tables, compared on sorted column names, row count
    and canonically sorted values. Returns the mismatches."""
    import duckdb
    con = duckdb.connect()
    for fn in os.listdir(sf_dir):
        if fn.endswith(".parquet"):
            con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, fn)}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def canon(df):
        cols = sorted(df.columns)
        rows = sorted(tuple(repr(v) for v in t)
                      for t in df[cols].itertuples(index=False))
        return cols, rows

    bad = []
    for name, sql in sorted(oracle.items()):
        got = canon(con.execute("SELECT * FROM read_parquet("
                                f"'{os.path.join(out_dir, name)}/*.parquet')").df())
        want = canon(con.execute(sql).df())
        if got[0] != want[0]:
            bad.append(f"{name}: columns {got[0]} != oracle {want[0]}")
        elif len(got[1]) != len(want[1]):
            bad.append(f"{name}: {len(got[1])} rows != oracle {len(want[1])}")
        elif got[1] != want[1]:
            bad.append(f"{name}: values differ from the oracle")
    return bad, len(oracle)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                          os.path.join(ROOT, ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classpath = build(out)

    shape = run_shape()
    run_dir = os.path.join(out, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    extra = []
    if args.workload == "query_suite":
        extra = ["--sf-dir", SF_DIR,
                 "--oracle-dir", os.path.join(run_dir, "oracle")]

    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # a class-data archive of the classes a workload loads from the build's
    # jars, written by its first run after a build, takes class loading out
    # of every later run's set-up. The run that writes it is slower in set-up
    # and at exit; its "#" line says "cds": "writing".
    jsa = os.path.join(out, f"classes-{args.workload}.jsa")
    writing_cds = not os.path.exists(jsa)
    cds = (f"-XX:ArchiveClassesAtExit={jsa}.tmp" if writing_cds
           else f"-XX:SharedArchiveFile={jsa}")
    cmd = (["java", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Xmx{shape['heap']}", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={shape['cores']}",
            "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(shape["cores"]),
              "--shuffle-partitions", str(shape["shuffle_partitions"]),
              "--run-dir", run_dir, "--state-dir", os.path.join(out, "state"),
              "--trace-file", os.path.join(
                  out, "traces", f"{args.workload}-seed{args.seed}.json")]
           + extra)
    env = dict(os.environ, LANG="C.UTF-8")
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    t_jvm = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=run_dir, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"perfbench: {args.workload} did not finish in {JVM_TIMEOUT_S} s")
    jvm_s = time.monotonic() - t_jvm
    info = result = None
    for line in stdout.splitlines():
        if line.startswith("INFO "):
            info = json.loads(line[5:])
        elif line.startswith("RESULT "):
            result = json.loads(line[7:])
    if proc.returncode != 0 or result is None:
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"perfbench: {args.workload} exited with {proc.returncode}")
    if os.path.exists(jsa + ".tmp"):  # only a complete archive is used
        os.replace(jsa + ".tmp", jsa)

    t_oracle = time.monotonic()
    if args.workload == "query_suite":
        bad, checked = oracle_compare(SF_DIR, os.path.join(run_dir, "oracle"))
        for b in bad:
            print(f"[perfbench] ORACLE MISMATCH: {b}", file=sys.stderr)
        info["oracle_checked"] = checked
        if bad:
            result["correct"] = False
            result["failed"] += len(bad)
    shutil.rmtree(run_dir, ignore_errors=True)

    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        sys.exit(f"perfbench: metrics missing from the run: {missing}")
    result["metrics"] = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                         for m in wanted}
    info.update(run_shape=shape, cds="writing" if writing_cds else "mapped",
                jvm_s=jvm_s,
                oracle_s=time.monotonic() - t_oracle)
    print("# " + json.dumps(info))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
