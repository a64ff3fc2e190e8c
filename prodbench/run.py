#!/usr/bin/env python3
"""Product-path benchmark: ingest, RLS search and live updates.

Usage (from the repository root):

    python3 prodbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 prodbench/run.py --fingerprint --workload <name> --seed <n>
    python3 prodbench/run.py --selftest

Builds the engine together with the benchmark driver (sbt, offline,
output under .bench_build/prodbench), runs one workload in a fresh JVM
and prints, as the last line of stdout, one JSON object with the keys
correct, attempted, failed and metrics. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics. See NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "prodbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DRIVER_TIMEOUT_S = 170

WORKLOADS = ("ingest_mixed", "update_while_search")

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "ingest_files_per_s": "1/s",
    "ingest_chunks_per_s": "1/s",
    "search_p50_ms": "ms",
    "search_mean_ms": "ms",
    "searches_per_s": "1/s",
    "time_to_searchable_mean_ms": "ms",
    "store_bytes_per_text_byte": "ratio",
}

PER_LAYER = {
    "sources.extract_s": "s", "sources.files_in": "count", "sources.bytes_in": "bytes",
    "sources.text_bytes_out": "bytes", "sources.dropped_files": "count",
    "pipeline.chunk_s": "s", "pipeline.chunks_out": "count", "pipeline.enrich_s": "s",
    "pipeline.context_calls": "count", "pipeline.context_s": "s", "pipeline.embed_s": "s",
    "pipeline.embed_calls": "count", "pipeline.embed_texts": "count",
    "pipeline.embed_provider_s": "s", "pipeline.embed_batch_fill": "ratio",
    "store.write_s": "s", "store.commits": "count", "store.files": "count",
    "store.bytes": "bytes", "store.commit_p50_ms": "ms",
    "search.plan_ms": "ms", "search.exec_ms": "ms", "search.input_rows": "count",
    "search.rls_ids": "count", "search.candidates": "count", "search.rerank_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.jobs_per_search": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_rows": "count", "jvm.peak_heap_mb": "MB",
    "client.self_s": "s", "sources.self_s": "s", "pipeline.self_s": "s", "store.self_s": "s",
    "search.self_s": "s", "trace.attributed_share": "ratio",
    "trace.increment_overhead_ms": "ms", "trace.search_overhead_ms": "ms",
}


def percentile(values, q):
    """q-th percentile (0..100) by linear interpolation between ranks."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def min_samples(q):
    """Samples needed so that at least 10 lie beyond the q-th percentile."""
    return math.ceil(10 / (1 - q / 100.0) - 1e-9)


def median(values):
    return percentile(values, 50)


def mean(values):
    return sum(values) / len(values) if values else 0.0


def end_to_end(raw):
    """End-to-end metrics from the driver's raw samples, plus the list
    of percentile sample-count violations.
    """
    problems = []

    def pct(name, values, q):
        need = min_samples(q)
        if len(values) < need:
            problems.append(f"{name}: {len(values)} samples, {need} needed")
        return percentile(values, q) if values else 0.0

    # per-increment rates, landing -> searchable; the median keeps one
    # stalled commit from moving the run's figure
    secs = [ms / 1000.0 for ms in raw["inc_searchable_ms"]]
    files_rate = [n / s for n, s in zip(raw["inc_files"], secs)]
    chunks_rate = [n / s for n, s in zip(raw["inc_points"], secs)]
    metrics = {
        "setup_s": median(raw["setup_s"]),
        "ingest_files_per_s": median(files_rate) if secs else 0.0,
        "ingest_chunks_per_s": median(chunks_rate) if secs else 0.0,
        "search_p50_ms": pct("search_p50_ms", raw["search_ms"], 50),
        "search_mean_ms": mean(raw["search_ms"]),
        "searches_per_s": len(raw["search_ms"]) / raw["search_window_s"],
        "time_to_searchable_mean_ms": mean(raw["inc_searchable_ms"]),
        "store_bytes_per_text_byte": raw["store_bytes"] / raw["text_bytes"] if raw["text_bytes"] else 0.0,
    }
    return metrics, problems


def fingerprint(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            h.update(os.path.relpath(top, ROOT).encode())
            with open(top, "rb") as fh:
                h.update(fh.read())
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def log(msg):
    print(f"[prodbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """SPARK_HOME, or the Spark install whose bin/spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
                return home
    raise SystemExit("prodbench: Spark not found; set SPARK_HOME")


def build():
    """Compile engine + driver when their sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("prodbench: engine sources (src/main/scala/graft) not found; "
                         "run from the root of a full checkout")
    stamp = fingerprint([ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                         os.path.join(HERE, "project", "build.properties")])
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    log("building engine + driver with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"prodbench: build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def java(cp, args, work, timeout=DRIVER_TIMEOUT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
                                  "-cp", cp, "prodbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=None, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"prodbench: driver exceeded {timeout}s")
    finally:
        if proc.poll() is None:  # timed out or interrupted: stop the JVM
            proc.kill()
            proc.wait()
    return proc.returncode, out


def main(argv=None):
    # a terminated run still stops its JVM (see java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fingerprint", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload or 'tool'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.fingerprint or a.selftest:
            flag = ["--fingerprint", "--workload", a.workload, "--seed", str(a.seed)] \
                if a.fingerprint else ["--selftest"]
            code, out = java(cp, flag + ["--work", work], work)
            sys.stdout.write(out)
            return code
        if not a.workload:
            ap.error("--workload is required")
        out_json = os.path.join(work, "raw.json")
        code, _ = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", work, "--out", out_json], work)
        if not os.path.exists(out_json):
            raise SystemExit(f"prodbench: driver exited {code} without results")
        with open(out_json) as f:
            raw = json.load(f)
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(work, "trace-spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, problems = end_to_end(raw)
    if a.trace:
        problems = []  # the traced run reports no end-to-end percentiles
    failures = list(raw["failures"]) + problems
    failed = int(raw["failed"]) + len(problems)
    attempted = int(raw["attempted"]) + len(problems)
    print(f"samples: increments={len(raw['inc_searchable_ms'])} searches={len(raw['search_ms'])} "
          f"setups={len(raw['setup_s'])} jvm_start_s={raw['jvm_start_s']:.1f} "
          f"setup_total_s={sum(raw['setup_s']):.1f} warmup_s={raw['warmup_s']:.1f} "
          f"window_s={raw['window_s']:.1f} check_s={raw['check_s']:.1f}")
    for m in failures:
        print(f"FAILED: {m}")
    if a.trace:
        layers = raw["layers"]
        dom = raw["dominant_layer"]
        print(f"dominant layer: writer={dom['writer']} searcher={dom['searcher']}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = code == 0 and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
