"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload translate|refresh|search \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the harness
(`build.py`, cached in `$CARGO_TARGET_DIR` or `.bench_build`), writes
the workload's inputs from the seed (`gen.py`), starts one measured JVM
(`perfbench.Main`), and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Details (every pass, span and finding) go to stderr as one JSON line.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("translate", "refresh", "search")
# the workloads BENCHMARK.json lists; `refresh` runs only by hand (one
# run costs more than the benchmark's time budget allows, see README.md)
BENCHMARKED = ("translate", "search")
SPANS = {
    "translate": ("sources.parse", "ml.featurize", "ml.train", "ml.score"),
    "refresh": ("sources.corpus_init", "sources.corpus_increment",
                "sources.training_shards"),
    "search": ("sources.index_init", "sources.index_absorb",
               "sources.index_topk"),
}
RATIOS = {
    "translate": "ml.train.models_ok_ratio",
    "refresh": "sources.corpus_increment.kept_ratio",
    "search": "sources.index_topk.rows_examined_per_result",
}
# quality metric -> the workload it measures; elsewhere it is reported
# as the fixed placeholder NOT_APPLICABLE (see README.md)
QUALITY = {"holdout_rmse": "translate", "dup_recall": "refresh",
           "dup_precision": "refresh", "recall_at_10": "search",
           "queries_per_s": "search"}
NOT_APPLICABLE = 1.0

CORES = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
PARTITIONS = 6
HEAP = "2g"
SETUP_REPEATS = 3
MIN_WARM = {False: 1, True: 4}     # warm passes after the cold one
RUN_LIMIT_S = 170
JVM_OPTS = [
    "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m", "-XX:+UseG1GC",
    "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:-UsePerfData",
] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(1)


def run_jvm(classes, workload, inputs, work, seconds, trace, limit):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.abspath(
            os.path.join("perfbench", "log4j2.properties")),
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--inputs", inputs, "--work", work,
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--cores", str(CORES), "--partitions", str(PARTITIONS),
        "--min-warm", str(MIN_WARM[trace]), "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env)
        try:
            code = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout after %.0f s" % limit
    if code != 0 or not os.path.isfile(out):
        with open(log_path, "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        fail("measured JVM failed (%s):\n%s" % (code, tail))
    with open(out) as f:
        return json.load(f)


def end_to_end(w, res, manifest, setup_s):
    passes = res["passes"]
    ok = [p for p in passes if not p["errors"]]
    warm = [p for p in ok if p["index"] > 0 and not p["traced"]]
    if not warm or passes[0]["errors"]:
        return None
    wall = stats.median([p["wall_s"] for p in warm])
    q = dict(res["quality"])
    for k in ("dup_recall", "dup_precision"):
        if k in ok[0]["values"]:
            q[k] = ok[0]["values"][k]
    if w == "search":
        calls = [(s["end_ms"] - s["start_ms"]) / 1e3 for p in warm
                 for s in p["spans"] if s["name"] == "sources.index_topk"]
        q["queries_per_s"] = (manifest["queries"] / manifest["query_batches"]
                              / stats.median(calls))
    m = {
        "setup_s": (setup_s, "s"),
        "cold_s": (passes[0]["wall_s"], "s"),
        "rows_per_s": (manifest["input_rows"] / wall, "rows/s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
        "stored_per_input": (stats.median([p["stored_bytes"] for p in ok])
                             / manifest["input_bytes"], "ratio"),
    }
    units = {"queries_per_s": "q/s", "holdout_rmse": "rmse",
             "dup_recall": "ratio", "dup_precision": "ratio",
             "recall_at_10": "ratio"}
    for k, owner in QUALITY.items():
        if owner == w and k not in q:
            return None
        if owner == w:
            m[k] = (q[k], units[k])
        elif owner in BENCHMARKED:
            m[k] = (NOT_APPLICABLE, units[k])
    return m


def per_layer(w, res):
    passes = [p for p in res["passes"] if not p["errors"]]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if p["index"] > 0 and not p["traced"]]
    if not traced or not plain:
        return None
    ledgers = [stats.pass_ledger(p) for p in traced]
    m = {}
    for ww, names in SPANS.items():
        if ww != w and ww not in BENCHMARKED:
            continue
        for name in names:
            for c, unit in stats.COUNTERS.items():
                v = (stats.median([led[name][c] for led in ledgers])
                     if ww == w else 0.0)
                m["%s.%s" % (name, c)] = (v, unit)
        util = gc_s = overhead = ratio = 0.0
        if ww == w:
            util = stats.median([
                sum(led[n]["task_s"] for n in led) /
                (p["wall_s"] * res["cores"])
                for p, led in zip(traced, ledgers)])
            gc_s = stats.median([p["gc_s"] for p in traced])
            # traced / untraced rows_per_s
            overhead = (stats.median([p["wall_s"] for p in plain]) /
                        stats.median([p["wall_s"] for p in traced]))
            if w == "search":
                # a query belongs to the span its planning ended in
                ratio = stats.median([
                    sum(q["join_rows"] for q in p["queries"] if q["phases"]
                        and any(s["name"] == "sources.index_topk" and
                                s["start_ms"] <= max(e for _, e in q["phases"])
                                <= s["end_ms"] for s in p["spans"]))
                    / p["values"]["results"] for p in traced])
            else:
                ratio = stats.median([p["values"][RATIOS[w]] for p in passes])
        m["%s.core_util" % ww] = (util, "ratio")
        m["%s.gc_s" % ww] = (gc_s, "s")
        m["%s.trace_overhead" % ww] = (overhead, "ratio")
        m[RATIOS[ww]] = (ratio, "ratio")
    return m


def coverage(res):
    """Per traced pass: the share of the pass wall its top-level spans
    cover, the smallest driver gap of any span (negative only if the
    span arithmetic broke), and how many of the pass's jobs fell in a
    span."""
    out = []
    for p in res["passes"]:
        if not p["traced"]:
            continue
        spans_ms = sum(s["end_ms"] - s["start_ms"] for s in p["spans"])
        led = [stats.span_ledger(s["start_ms"], s["end_ms"], p["jobs"],
                                 p["queries"]) for s in p["spans"]]
        out.append({
            "pass": p["index"],
            "covered": spans_ms / (p["wall_s"] * 1e3),
            "min_driver_gap_s": min(x["driver_gap_s"] for x in led),
            "jobs": len(p["jobs"]),
            "jobs_in_spans": sum(x["jobs"] for x in led)})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    try:
        classes = os.path.abspath(build.ensure(os.getcwd(), build_dir))
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    t_start = time.monotonic()

    work = os.path.abspath(os.path.join(
        build_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t = time.monotonic()
            manifest = gen.generate(a.workload, a.seed, inputs)
            gen_s.append(time.monotonic() - t)
        limit = RUN_LIMIT_S - (time.monotonic() - t_start)
        res = run_jvm(classes, a.workload, inputs, work, a.seconds,
                      bool(a.trace), limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = res["passes"]
    failed = sum(1 for p in passes if p["errors"])
    setup_s = stats.median(gen_s) + res["session_start_s"]
    metrics = (per_layer(a.workload, res) if a.trace
               else end_to_end(a.workload, res, manifest, setup_s))
    detail = {
        "workload": a.workload, "seed": a.seed, "cores": res["cores"],
        "partitions": res["partitions"], "jvm_args": res["jvm_args"],
        "heap_max_mb": res["heap_max_mb"], "generate_s": gen_s,
        "session_start_s": res["session_start_s"], "manifest": manifest,
        "quality": res["quality"],
        "passes": [{k: p[k] for k in ("index", "traced", "wall_s", "gc_s",
                                      "check_s",
                                      "stored_bytes", "hash", "errors",
                                      "findings", "values")}
                   for p in passes],
        "coverage": coverage(res)}
    sys.stderr.write(json.dumps(detail) + "\n")
    if metrics is None:
        fail("no successful pass to measure: %s" % json.dumps(
            [p["errors"] for p in passes]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())}}))


if __name__ == "__main__":
    main()
