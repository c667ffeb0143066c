#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source (sbt, then a class-data
archive that shortens JVM start; skipped while the sources are
unchanged), generates the workload's inputs from the seed,
runs one JVM (``graftbench.Main``) on ``local[n]`` with n = the cores
this process may use, checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Everything it writes stays under ``perfbench/.build`` and
``perfbench/.work``. See ``perfbench/README.md``.
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
import zipfile
from pathlib import Path

import gen
import oracle
import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 800
JVM_OPTS = ["-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads"]
ARCHIVE = BUILD / "classes.jsa"
CORES = len(os.sched_getaffinity(0))

# Input sizes. See README.md for why each is what it is.
DASHBOARD_TICKS = 10_000
CURATION_DOCS = 2_000
CURATION_VECTORS = 2_000
STREAM_BACKLOG = 5_000        # ticks in the backlog a pass drains
STREAM_BACKLOG_FILES = 10     # two per micro-batch: five batches
STREAM_LIVE = 5_000           # ticks the open loop delivers
STREAM_LIVE_FILES = 100      # a p90 lag needs 100 samples
STREAM_RESENT = 0.02          # share of messages the feed delivers twice

END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "pass_cpu_s": ("s", "lower"),
    "peak_task_mem_mb": ("MB", "lower"),
}

PER_LAYER = {
    **{f"spark.{k}": (u, b) for k, u, b in [
        ("jobs", "count", "lower"), ("stages", "count", "lower"), ("tasks", "count", "lower"),
        ("failed_tasks", "count", "lower"), ("shuffle_write_mb", "MB", "lower"),
        ("shuffle_read_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
        ("input_mb", "MB", "lower"), ("output_mb", "MB", "lower"),
        ("task_run_s", "s", "lower"), ("task_cpu_s", "s", "lower"), ("gc_s", "s", "lower"),
        ("core_busy_ratio", "ratio", "higher")]},
    "tables.scan_s": ("s", "lower"), "tables.rows": ("count", "lower"),
    "bars.ohlcv_s": ("s", "lower"), "bars.rows": ("count", "lower"),
    **{f"indicators.{p}_s": ("s", "lower") for p in [
        "sma", "bollinger", "rsi", "atr", "stochastic", "vwap", "momentum",
        "summary_stats", "latest_metrics", "weekly_range", "volume_heatmap"]},
    "ema.macd_s": ("s", "lower"),
    "indicators.stages": ("count", "lower"), "ema.macd_stages": ("count", "lower"),
    "text.quality_filter_s": ("s", "lower"),
    "dedup.pair_graph_s": ("s", "lower"), "dedup.pairs": ("count", "lower"),
    "dedup.cluster_labels_s": ("s", "lower"), "dedup.fixpoint_jobs": ("count", "lower"),
    "dedup.source_overlap_s": ("s", "lower"),
    "training.decontaminate_s": ("s", "lower"), "training.train_split_s": ("s", "lower"),
    "training.export_plan_s": ("s", "lower"),
    "similarity.semdedup_s": ("s", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.trigger_ms_p50": ("ms", "lower"), "stream.add_batch_ms_p50": ("ms", "lower"),
    "stream.get_batch_ms_p50": ("ms", "lower"), "stream.planning_ms_p50": ("ms", "lower"),
    "stream.wal_commit_ms_p50": ("ms", "lower"),
    "stream.state_rows": ("count", "lower"), "stream.state_mem_mb": ("MB", "lower"),
    "stream.watermark_lag_s": ("s", "lower"),
    "sink.write_s_p50": ("s", "lower"), "sink.bytes_mb": ("MB", "lower"),
    "stream.emit_lag_p50_s": ("s", "lower"), "stream.emit_lag_p90_s": ("s", "lower"),
    "loadgen.late_max_s": ("s", "lower"), "loadgen.backlog_mid": ("count", "lower"),
    "loadgen.backlog_end": ("count", "lower"), "loadgen.sustained": ("bool", "higher"),
    "cache.leaked_blocks": ("count", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}

# per-layer metric <- (sample series, quantile)
PERCENTILES = {
    "stream.trigger_ms_p50": ("stream.trigger_ms", 0.5),
    "stream.add_batch_ms_p50": ("stream.add_batch_ms", 0.5),
    "stream.get_batch_ms_p50": ("stream.get_batch_ms", 0.5),
    "stream.planning_ms_p50": ("stream.planning_ms", 0.5),
    "stream.wal_commit_ms_p50": ("stream.wal_commit_ms", 0.5),
    "sink.write_s_p50": ("sink.write_s", 0.5),
    "stream.emit_lag_p50_s": ("stream.emit_lag_s", 0.5),
    "stream.emit_lag_p90_s": ("stream.emit_lag_s", 0.9),
}

WORKLOADS = ["dashboard_refresh", "corpus_curation", "tick_stream"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build compiles or configures it."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def java(*opts):
    """The JVM command line up to the main class's arguments."""
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    return [exe, *ADD_OPENS, *JVM_OPTS, *shared, *opts]


def pack(classpath):
    """The classpath with each class directory packed into a jar: the
    class-data archive keeps only classes loaded from jars."""
    entries = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        src = Path(entry)
        if src.is_dir():
            jar = BUILD / "jars" / f"{i}.jar"
            jar.parent.mkdir(exist_ok=True)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for p in sorted(src.rglob("*")):
                    if p.is_file():
                        z.write(p, p.relative_to(src).as_posix())
            entry = str(jar)
        entries.append(entry)
    return os.pathsep.join(entries)


def train_archive(classpath):
    """Record the classes a small guard check loads into a class-data
    archive (``-XX:ArchiveClassesAtExit``), so every later JVM maps them
    instead of parsing and verifying them again. Without an archive the
    runs still work, only slower to start."""
    d = BUILD / "train"
    shutil.rmtree(d, ignore_errors=True)
    (d / "tmp").mkdir(parents=True)
    gen.write_table(gen.events(3000, 1), d / "events.parquet")
    with open(BUILD / "archive.log", "w") as out:
        subprocess.run(java(f"-XX:ArchiveClassesAtExit={ARCHIVE}", f"-Djava.io.tmpdir={d / 'tmp'}",
                            "-cp", classpath, "graftbench.GuardCheck", str(d), str(d)),
                       stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    shutil.rmtree(d, ignore_errors=True)
    if not ARCHIVE.exists():
        log(f"no class-data archive, see {BUILD / 'archive.log'}")


def build():
    """Compile with sbt unless the sources are unchanged; the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: graft sources (build.sbt, src/main/scala/graft) not found")
    digest = hashlib.sha256()
    for p in sources():
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    BUILD.mkdir(parents=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building graft and the benchmark with sbt")
    with open(BUILD / "build.log", "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    lines = (BUILD / "build.log").read_text().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: build failed, see {BUILD / 'build.log'}")
    classpath = pack(lines[-1].strip())
    train_archive(classpath)
    cp_file.write_text(classpath)
    stamp_file.write_text(stamp)
    return classpath


def make_inputs(workload, seed, inputs):
    inputs.mkdir(parents=True)
    if workload == "dashboard_refresh":
        gen.write_table(gen.events(DASHBOARD_TICKS, seed), inputs / "events.parquet")
    elif workload == "corpus_curation":
        gen.write_table(gen.documents(CURATION_DOCS, seed), inputs / "documents.parquet")
        gen.write_table(gen.embeddings(CURATION_VECTORS, seed), inputs / "embeddings.parquet")
    else:
        ticks = gen.events(STREAM_BACKLOG + STREAM_LIVE, seed, dup_rate=STREAM_RESENT)
        ids = ticks.column("event_id").to_numpy()
        split = int((ids < STREAM_BACKLOG).sum())
        backlog, live = ticks.slice(0, split), ticks.slice(split)
        gen.write_table(backlog, inputs / "events.parquet")
        gen.write_feed(backlog, inputs / "feed", STREAM_BACKLOG_FILES)
        gen.write_feed(live, inputs / "live", STREAM_LIVE_FILES)


def run_jvm(classpath, workload, seconds, trace, work, deadline):
    """Run ``graftbench.Main``; returns its raw results and the DuckDB
    references, computed while the JVM runs its untimed checked pass."""
    (work / "tmp").mkdir()
    refs_done = work / "refs.done"
    cmd = [*java(f"-Djava.io.tmpdir={work / 'tmp'}"), "-cp", classpath, "graftbench.Main",
           "--workload", workload, "--inputs", str(work / "inputs"), "--work", str(work),
           "--seconds", str(seconds), "--trace", str(trace), "--cores", str(CORES)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    refs = {}
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            while not (work / "setup.done").exists() and proc.poll() is None:
                if time.monotonic() > deadline:
                    raise subprocess.TimeoutExpired(cmd, 0)
                time.sleep(0.02)
            if proc.poll() is None:
                # half the cores: the JVM's checked pass needs the rest
                refs = oracle.references(work / "inputs", work / "oracle_sql.json",
                                         max(1, CORES // 2))
            refs_done.touch()  # Main starts its timed passes once this exists
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded its time limit, see {work / 'jvm.log'}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not (work / "result.json").exists():
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}, see {work / 'jvm.log'}")
    return json.loads((work / "result.json").read_text()), refs


def end_to_end(r):
    return {
        "setup_s": statistics.median(r["setup_s"]),
        "pass_s": statistics.fmean(r["passes_s"]) if r["passes_s"] else float("nan"),
        "pass_cpu_s": statistics.fmean(r["samples"]["pass_cpu_s"]) if r["passes_s"] else float("nan"),
        "peak_task_mem_mb": r["peak_task_mem_mb"],
    }


def per_layer(r):
    """Every per-layer metric; 0 for a layer this workload does not use
    (or a percentile its samples cannot support)."""
    values = dict(r["layers"])
    for name, (series, q) in PERCENTILES.items():
        values[name] = stats.percentile(r["samples"].get(series, []), q)
    return {name: values.get(name) or 0.0 for name in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    started = time.monotonic()
    built = (BUILD / "stamp").exists()
    classpath = build()
    deadline = started + RUN_LIMIT_S + (0 if built else BUILD_LIMIT_S)

    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    make_inputs(a.workload, a.seed, work / "inputs")
    r, refs = run_jvm(classpath, a.workload, a.seconds, a.trace, work, deadline)

    failures = {f["op"]: f["why"] for f in r["failures"]}
    for q, why in oracle.check(refs, work / "out"):
        failures.setdefault(f"{q}#check", f"differs from the DuckDB reference: {why}")
    for op, why in failures.items():
        log(f"FAILED {op}: {why}")

    table = PER_LAYER if a.trace else END_TO_END
    values = per_layer(r) if a.trace else end_to_end(r)
    metrics = {k: {"value": values[k], "unit": table[k][0]} for k in table}
    log(f"{a.workload} seed={a.seed}: {len(r['passes_s'])} timed passes on {CORES} cores")
    print(json.dumps({"correct": not failures, "attempted": r["attempted"],
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
