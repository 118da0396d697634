#!/usr/bin/env python3
"""Benchmark of the tiling engine and its pipeline ops.

Run from the repository root:

    python3 perfbench/run.py --workload tiles_skewed --seed 1 --seconds 10 --trace 0

It compiles the engine (src/main/scala) together with the benchmark's own
Scala files (perfbench/src) into .bench_build/perfbench, reusing the
classes while the sources are unchanged, then runs one workload in a
single Spark JVM on local[nproc]. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones (see perfbench/README.md). Each run also leaves a record
(config fingerprint, load average, steal, rep times, spans) under
.bench_build/perfbench/records. The fixed inputs (skewed corpus, pipeline
tables) are generated by the first run of a build, untimed, and kept under
.bench_build/perfbench/inputs-<source hash>.

    python3 perfbench/run.py --self-check   # tiny inputs, every workload
    python3 perfbench/run.py --pin [--workload W]   # re-pin expected.json
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
EXPECTED = HERE / "expected.json"
WORKLOADS = ["tiles_skewed", "pipeline_sf01"]
MAIN = "graft.perfbench.Main"
# seconds a run may take; a run that compiles (the first in a checkout) and
# dumps the class archive gets the longer one
DEADLINE_S = 175.0
FIRST_DEADLINE_S = 880.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME's, else those of the
    spark-submit on PATH, else those of the pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(Path(submit).resolve().parent.parent)
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        homes += list(spec.submodule_search_locations)
    for home in filter(None, homes):
        if any((Path(home) / "jars").glob("spark-core_*.jar")):
            return Path(home) / "jars"
    sys.exit("no Spark jars found (set SPARK_HOME)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"engine sources not found: {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Compile once per source tree into one jar (classes plus the engine's
    resources); returns (jar, stamp)."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()[:16]
    jar = BUILD / f"engine-{stamp}.jar"
    if jar.exists():
        return jar, stamp
    jars = spark_jars()
    tmp = BUILD / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log(f"compiling {len(srcs)} Scala files")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", f"{jars}/*"] + [str(f) for f in srcs]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("compile failed")
    part = Path(f"{jar}.tmp-{os.getpid()}")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_STORED) as z:
        for base in (tmp, ROOT / "src" / "main" / "resources"):
            for f in sorted(base.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(base).as_posix())
    shutil.rmtree(tmp, ignore_errors=True)
    part.rename(jar)
    for old in [*BUILD.glob("engine-*"), *BUILD.glob("classes-*.jsa")]:
        if old != jar:
            old.unlink()
    for old in BUILD.glob("inputs-*"):
        shutil.rmtree(old, ignore_errors=True)
    log(f"compiled in {time.time() - t0:.1f} s")
    return jar, stamp


def commit(stamp):
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src-{stamp}"


def run_jvm(jar, stamp, workload, seed, seconds, trace, tiny=False,
            pin=False, deadline=DEADLINE_S):
    """Run one workload in a fresh JVM; returns the result dict."""
    jars = spark_jars()
    work = BUILD / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    # Class-data sharing: the first run of a build dumps the classes it
    # loaded; later runs map them instead of loading ~10k classes again.
    archive = BUILD / f"classes-{stamp}.jsa"
    dump = Path(f"{archive}.tmp-{os.getpid()}")
    cds = (f"-XX:SharedArchiveFile={archive}" if archive.exists()
           else f"-XX:ArchiveClassesAtExit={dump}")
    # A fixed-size heap and metaspace: a growing heap triggers full
    # collections (200-500 ms pauses every few seconds), a run-to-run noise
    # source of its own.
    cmd = (["java", cds, "-Xms4g", "-Xmx4g", "-Xmn2g",
            "-XX:MetaspaceSize=256m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([str(jar), f"{jars}/*"]),
              MAIN, "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--tiny", "1" if tiny else "0", "--pin", "1" if pin else "0",
              "--work", str(work), "--inputs", str(BUILD / f"inputs-{stamp}"),
              "--out", str(out),
              "--expected", str(EXPECTED), "--commit", commit(stamp)])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=ROOT)
    try:
        proc.wait(timeout=max(deadline, 10))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        dump.unlink(missing_ok=True)
        sys.exit(f"{workload}: timed out")
    if dump.exists():
        dump.rename(archive)
    try:
        if proc.returncode != 0 or not out.exists():
            sys.exit(f"{workload}: JVM exited {proc.returncode}")
        result = json.loads(out.read_text())
        record = json.loads(Path(str(out) + ".record.json").read_text())
        records = BUILD / "records"
        records.mkdir(exist_ok=True)
        (records / f"{record['run_id']}.json").write_text(
            json.dumps(record, indent=1))
        for p in record["problems"]:
            log(f"problem: {p}")
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def declared(kind):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def self_check(jar, stamp):
    """Every workload on tiny inputs, untraced and traced: every declared
    metric must be printed with its declared unit, and every check pass."""
    bad = []
    for w in WORKLOADS:
        for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
            r = run_jvm(jar, stamp, w, 1, 1, trace, tiny=True)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            want = declared(kind)
            if got != want:
                bad.append(f"{w} trace={int(trace)}: metrics differ: "
                           f"{sorted(set(got.items()) ^ set(want.items()))}")
            if not r["correct"] or r["failed"]:
                bad.append(f"{w} trace={int(trace)}: {r['failed']} failed")
            log(f"{w} trace={int(trace)}: {len(got)} metrics, "
                f"{r['attempted']} ops, {r['failed']} failed")
    for b in bad:
        log(b)
    print(json.dumps({"self_check": "ok" if not bad else "failed",
                      "problems": bad}))
    return 0 if not bad else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--pin", action="store_true",
                    help="record the default seed's digests as expected")
    a = ap.parse_args()
    t0 = time.time()
    jar, stamp = build()
    if a.self_check:
        return self_check(jar, stamp)
    if a.pin:
        for w in [a.workload] if a.workload else WORKLOADS:
            for tiny in (True, False):
                run_jvm(jar, stamp, w, 1, 1, True, tiny=tiny, pin=True)
        log(f"wrote {EXPECTED}")
        return 0
    if not a.workload:
        ap.error("--workload is required")
    first = not (BUILD / f"classes-{stamp}.jsa").exists()
    limit = FIRST_DEADLINE_S if first else DEADLINE_S
    r = run_jvm(jar, stamp, a.workload, a.seed, a.seconds, bool(a.trace),
                deadline=limit - (time.time() - t0))
    print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
