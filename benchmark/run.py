#!/usr/bin/env python3
"""Build graft from source, then run one benchmark workload in one JVM.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the library and the
harness with sbt (offline) into benchmark/target, packs the classes into
benchmark/.work/graft-<digest>.jar, and runs the input generator once,
which writes the tables into benchmark/.work/data-<digest> and dumps the
classes it loaded into a class-data-sharing archive (graft-<digest>.jsa)
that every run then maps instead of loading Spark's classes one by one
(about 3 s less JVM and session start-up at nproc=4). Later calls reuse all
three while the sources are unchanged. Each run writes under a fresh temp root in
benchmark/.work (java.io.tmpdir, Spark local dirs, the SQL warehouse and
Derby home all live there) and deletes it at exit.

stdout: the harness's `RECORD {...}` line, then the result line
`{"correct", "attempted", "failed", "metrics"}` as the last line. The
RECORD line is also appended to benchmark/.work/results/<workload>.jsonl,
which benchmark/compare.py reads. Exits nonzero on a wrong result, a failed
operation, or a tree that does not hold the graft sources.

--record-expected rewrites benchmark/expected.json's entry for the workload
from this run's output digests (curation_mix); use it only when the data
generator or the query set changes on purpose.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
WORKLOADS = ["medallion_daily", "log_dml_mix", "curation_mix"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    """sha256 over the named files and every .scala/.sbt/.properties file
    under the named directories, in a stable order."""
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(ROOT, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs
            if f.endswith((".scala", ".sbt", ".properties"))
            or "META-INF" in d)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def heap():
    """Half of MemTotal in GiB, between 2g and 8g (the Tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else the jars next
    to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("[bench] no Spark installation: set SPARK_HOME")
    return jars


def build(src_digest):
    stamp = os.path.join(WORK, "build.stamp")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(stamp) and \
                open(stamp).read() == src_digest:
            return
        log("building graft + harness (sbt, offline)")
        repos = os.path.expanduser("~/.sbt/repositories")
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars(),
                   SBT_OPTS=("-Dsbt.override.build.repos=true "
                             f"-Dsbt.repository.config={repos} "
                             "-Dsbt.offline=true -Xmx3g"))
        with open(os.path.join(WORK, "build.log"), "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        if rc != 0:
            with open(os.path.join(WORK, "build.log")) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            sys.exit(f"[bench] build failed (sbt exit {rc})")
        with open(stamp, "w") as f:
            f.write(src_digest)


def pack(src_digest):
    """The compiled classes as one jar (class-data sharing maps classes
    from jars only)."""
    jar = os.path.join(WORK, f"graft-{src_digest[:16]}.jar")
    if not os.path.exists(jar):
        for old in glob.glob(os.path.join(WORK, "graft-*.j*")):
            os.remove(old)
        staged = shutil.make_archive(jar + ".tmp", "zip", CLASSES)
        os.replace(staged, jar)
    return jar


def java_cmd(main_args, tmp_root, jar, cds):
    """`cds` is ("use", archive) to map an archive, ("dump", archive) to
    write one at exit, or None."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    share = []
    if cds and cds[0] == "use" and os.path.exists(cds[1]):
        share = [f"-XX:SharedArchiveFile={cds[1]}"]
    elif cds and cds[0] == "dump":
        share = [f"-XX:ArchiveClassesAtExit={cds[1]}"]
    return (["java"] + opens + share + [
        f"-Xmx{heap()}",
        f"-Djava.io.tmpdir={tmp_root}/tmp",
        f"-Dderby.system.home={tmp_root}/derby",
        "-cp", f"{jar}:{spark_jars()}/*", "graftbench.Main"] + main_args)


def run_jvm(main_args, tmp_root, timeout, jar, cds):
    """Runs the harness in its own process group; returns (rc, stdout).
    The group is killed on timeout or when this script is terminated."""
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(tmp_root, d), exist_ok=True)
    out_path = os.path.join(tmp_root, "stdout.txt")
    with open(out_path, "w") as out:
        proc = subprocess.Popen(java_cmd(main_args, tmp_root, jar, cds), cwd=tmp_root,
                                stdout=out, stdin=subprocess.DEVNULL,
                                start_new_session=True)

        def stop(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            raise SystemExit("[bench] stopped")

        old = signal.signal(signal.SIGTERM, stop)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log(f"harness exceeded {timeout}s, killed")
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = 124
        finally:
            signal.signal(signal.SIGTERM, old)
    with open(out_path) as f:
        return rc, f.read()


def ensure_data(data_digest, jar):
    """The input tables and the class-data-sharing archive, both from one
    run of the generator when either is missing. Without an archive the
    runs still work, only their start-up is slower."""
    data = os.path.join(WORK, f"data-{data_digest[:16]}")
    archive = jar[:-len(".jar")] + ".jsa"
    if os.path.isdir(data) and os.path.exists(archive):
        return data, archive
    log("generating input tables and the class-data-sharing archive")
    tmp_root = tempfile.mkdtemp(prefix="gen-", dir=WORK)
    try:
        staged = os.path.join(tmp_root, "data")
        rc, out = run_jvm(["--generate", staged, "--work", tmp_root],
                          tmp_root, 600, jar, ("dump", archive + ".tmp"))
        if rc != 0:
            sys.exit(f"[bench] data generation failed (exit {rc})")
        if not os.path.isdir(data):
            os.replace(staged, data)
        if os.path.exists(archive + ".tmp"):
            os.replace(archive + ".tmp", archive)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
    return data, archive


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"[bench] no graft sources under {ROOT}/src/main/scala/graft; "
                 "run from the root of a full checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            sys.exit(f"[bench] '{tool}' is not on PATH")
    os.makedirs(WORK, exist_ok=True)
    src_digest = digest(["src/main", "benchmark/src", "benchmark/build.sbt",
                         "benchmark/project/build.properties"])
    build(src_digest)
    jar = pack(src_digest)
    data, archive = ensure_data(
        digest(["benchmark/src/main/scala/graftbench/DataGen.scala"]), jar)

    tmp_root = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    try:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", args.trace,
                     "--data", data, "--work", tmp_root,
                     "--digest", src_digest[:16]]
        if not args.record_expected:
            main_args += ["--expected", os.path.join(BENCH, "expected.json")]
        t0 = time.time()
        rc, out = run_jvm(main_args, tmp_root, RUN_TIMEOUT_S, jar, ("use", archive))
        log(f"{args.workload} seed={args.seed} trace={args.trace}: "
            f"exit {rc} after {time.time() - t0:.1f}s")
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    record = next((l for l in lines if l.startswith("RECORD ")), None)
    if record:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{args.workload}.jsonl"), "a") as f:
            f.write(record[len("RECORD "):] + "\n")
        print(record)
    result = lines[-1] if lines else ""
    try:
        parsed = json.loads(result)
    except ValueError:
        sys.exit(f"[bench] harness printed no result line (exit {rc})")
    if args.record_expected and rc == 0 and record:
        notes = json.loads(record[len("RECORD "):])["notes"]
        digests = {}
        for item in notes.get("digests", "").split():
            q, v = item.split("=", 1)
            n, h = v.split("/", 1)
            digests[q] = [int(n), h]
        path = os.path.join(BENCH, "expected.json")
        exp = json.load(open(path)) if os.path.exists(path) else {}
        exp[args.workload] = dict(sorted(digests.items()))
        with open(path, "w") as f:
            json.dump(exp, f, indent=2, sort_keys=True)
            f.write("\n")
        log(f"recorded {len(digests)} digests into {path}")
    print(result, flush=True)
    if rc != 0 or not parsed.get("correct") or parsed.get("failed"):
        sys.exit(rc or 1)


if __name__ == "__main__":
    main()
