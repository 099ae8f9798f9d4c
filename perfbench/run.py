#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload <exists_probe|probe_mix|rebuild_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt (once per
source tree; the classpath is cached under perfbench/target/), runs the
workload in one JVM with its own temp, Spark-local and warehouse
directories under perfbench/.work/, checks every registered query's row
count against DuckDB, deletes the work directory and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

See perfbench/README.md for the workloads and metrics.
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
WORKLOADS = ("exists_probe", "probe_mix", "rebuild_mix")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# Spark 4 on JDK 17 outside spark-submit: the module opens spark-submit adds.
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
JVM_LIMIT_S = 160  # a run must end within 180 s once the build is done


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compile with sbt unless this source tree's classpath is cached."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    cache = os.path.join(HERE, "target", f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(cache):
        with open(cache) as f:
            return f.read().strip()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    for old in os.listdir(os.path.dirname(cache)):  # one tree's classes at a time
        if old.startswith("classpath-"):
            os.remove(os.path.join(os.path.dirname(cache), old))
    with open(cache, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def oracle_check(result, tally):
    """Compare each query's Spark row count with DuckDB's count(*) over
    its oracle SQL, on the same generated tables."""
    if not result["oracle"]:
        return
    import duckdb
    con = duckdb.connect()
    data = result["data_dir"]
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    for q, sql in sorted(result["oracle"].items()):
        tally["attempted"] += 1
        got = result["counts"][q]
        try:
            want = con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
        except Exception as e:  # an oracle that cannot run is a failed check
            want = f"error: {e}"
        if want != got:
            tally["failed"] += 1
            tally["errors"].setdefault(q, f"row count {got}, DuckDB {want}")
            log(f"{q}: row count {got}, DuckDB {want}")
    con.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to {HERE}; run from a checkout of the repository")
        return 2
    if shutil.which("java") is None or shutil.which("sbt") is None:
        log("java and sbt must be on PATH")
        return 2

    cp = classpath()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    jvm_log = os.path.join(work, "jvm.log")
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed heap size, so GC work per pass does not depend on how
           # far the heap has grown in this run
           + ["-Xms2g", "-Xmx2g",
              "-XX:-UsePerfData",  # no hsperfdata file outside the work dir
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    proc = None

    def stop(*_):
        raise SystemExit("interrupted")
    signal.signal(signal.SIGTERM, stop)
    try:
        with open(jvm_log, "w") as logf:
            # Spark lets these override spark.local.dir; keep it in the work dir.
            env = {k: v for k, v in os.environ.items()
                   if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            rc = proc.wait(timeout=JVM_LIMIT_S)
        with open(jvm_log, errors="replace") as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        if rc != 0 or not os.path.exists(out):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"benchmark JVM exited with {rc}")
            return 1
        with open(out) as f:
            result = json.load(f)
        tally = {"attempted": result["attempted"], "failed": result["failed"],
                 "errors": dict(result["errors"])}
        oracle_check(result, tally)
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM exceeded {JVM_LIMIT_S} s")
        return 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for q, e in tally["errors"].items():
        log(f"first error of {q}: {e}")
    print(json.dumps({
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
