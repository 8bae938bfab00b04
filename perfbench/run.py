"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload online|batch \\
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It builds the engine and the
harness (perfbench/build.py), generates the seeded inputs
(perfbench/gen.py), runs the workload in one JVM at local[nproc], checks
the outputs (in the JVM, and against perfbench/oracle.py), and prints as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer ones. The line before it
carries the run's annotations (tail percentile, sample counts, host
noise, per-span self times…). Exits non-zero when a check fails.
"""

import argparse
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

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
# The JVM heap is set here: build.sbt's -Xmx default (48g) is meant for a
# large box, and the benchmark must not depend on it.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Per-layer metrics a workload has no layer call for; they print as 0 on
# it. Every other per-layer metric must be reported by a traced run.
ONLINE_ONLY = {
    "serving.recs_lookup_ms", "serving.books_lookup_ms", "recommend.graph_view_ms",
    "cypher.compile_ms", "cypher.exec_ms", "ingest.events_per_s", "ingest.read_ms",
    "merge.cooc_s", "merge.recs_s", "merge.books_s", "merge.affected_users",
    "merge.affected_frac", "merge.spark.jobs", "merge.spark.shuffle_bytes",
}
BATCH_ONLY = {
    "pipeline.total_s", "fastrp.build_s", "knn.build_s", "knn.edges", "louvain.build_s",
    "louvain.communities", "recommend.community_ms", "recommend.knn_embedding_ms",
    "corpus.total_s", "text.quality_s", "text.corpus_pipeline_s", "dedup.minhash_s",
    "dedup.pairs", "ann.index_s", "ann.ivf_ms", "ann.ivf_recall",
}
NOT_MEASURED = {"online": BATCH_ONLY, "batch": ONLINE_ONLY}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(build_dir, workload, args, work, deadline):
    """Run the harness JVM. The first run of a workload in a build dumps
    the classes it loaded into a class-data-sharing archive; later runs
    map it, which takes class loading and verification off every cold
    start."""
    cp = os.pathsep.join([os.path.join(build_dir, "app.jar"),
                          os.path.join(build.spark_jars(), "*")])
    archive = os.path.join(build_dir, f"{workload}.jsa")
    dump = not os.path.exists(archive)
    cds = (f"-XX:ArchiveClassesAtExit={archive}.tmp" if dump
           else f"-XX:SharedArchiveFile={archive}")
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", cds,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("workload timed out; stopping the JVM")
        finally:
            # also reached when this process is interrupted or terminated
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if dump and proc.returncode == 0 and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    return proc.returncode


def tail_of(path, n=30):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")

    try:
        build_dir = build.build(os.path.join(BUILD_DIR, "build"))
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    data = gen.data_dir(os.path.join(BUILD_DIR, "data"), a.seed)
    gen.generate(a.seed, data)

    work = os.path.join(BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    ncores = cores()
    # the build and the inputs are ready; the run itself gets a fixed budget
    code = run_jvm(build_dir, a.workload, [
        "--workload", a.workload, "--data", data, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(ncores),
        "--out", result_path], work, time.time() + JVM_TIMEOUT_S)
    if not os.path.exists(result_path):
        sys.stderr.write(tail_of(os.path.join(work, "jvm.log")))
        sys.exit(f"perfbench: the {a.workload} run exited with {code} and no result")
    if code != 0:
        log(f"the JVM exited with {code} after writing its result")
    with open(result_path) as f:
        res = json.load(f)
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]

    # the wrapper's own oracle on the reported artifacts
    for name, got in res["oracle"].items():
        if name in ("serving", "merged"):
            want = oracle.graph_digests(data, got.get("ingest_batches", 0))
            bad = [f"{name} {k} digest differs from the oracle"
                   for k, v in want.items() if got.get(k) != v]
            n = len(want)
        elif name == "corpus":
            bad, n = oracle.corpus_failures(data, got), 3
        elif name == "ann":
            bad, n = oracle.ann_failures(data, got), len(got)
        else:
            continue
        attempted += n
        failed += min(len(bad), n)
        failures += bad

    if a.trace:
        keep = os.path.join(BUILD_DIR, "traces", f"{a.workload}-seed{a.seed}.spans.tsv")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        if os.path.exists(os.path.join(work, "spans.tsv")):
            shutil.move(os.path.join(work, "spans.tsv"), keep)
    shutil.rmtree(work, ignore_errors=True)

    group = "per_layer" if a.trace else "end_to_end"
    got = res[group]
    # a metric the workload measures but did not report (a span that never
    # ran, no samples) fails the run; one it does not measure prints as 0
    skip = NOT_MEASURED[a.workload] if a.trace else set()
    missing = [m["name"] for m in spec[group]
               if m["name"] not in skip and got.get(m["name"]) is None]
    if missing:
        failed += 1
        failures.append(f"no value for {missing}")
    metrics = {m["name"]: {"value": float(got.get(m["name"]) or 0.0), "unit": m["unit"]}
               for m in spec[group]}
    correct = failed == 0
    print("# " + json.dumps({"workload": a.workload, "seed": a.seed, "cores": ncores,
                             "detail": res["detail"], "failures": failures[:20],
                             "not_measured": sorted(skip),
                             "other_metrics": res["per_layer" if not a.trace else "end_to_end"]}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    # a terminated run unwinds (and stops its JVM) like an interrupted one
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
