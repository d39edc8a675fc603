#!/usr/bin/env python3
"""The feature-store benchmark: one run of one workload.

    python3 perfbench/run.py --workload sf0.01 --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. The first run compiles the library
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/classes; later runs reuse it while the sources are unchanged.
The workload names the testdata scale whose tables (perfbench/data/<name>)
the run reads.
Each run then starts one fresh JVM (`local[nproc]`) that sets up the three
phases — training_pipeline, feature_refresh, analytics_mix — and measures
each for its share of --seconds from one single-threaded client.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics — every end-to-end metric of BENCHMARK.json with --trace 0,
every per-layer metric with --trace 1. The line before it carries the
run's detail: tail percentiles, failures, failed_frac, box context and,
when traced, the traced end-to-end values (compare them with an untraced
run of the same seed for the tracing overhead, or use --overhead).

Exits non-zero, without a result line, when the library sources are not
next to it, when the build fails or when the run does not finish.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH))
import layers  # noqa: E402
import stats  # noqa: E402

BUILD = ROOT / ".bench_build"

def spark_home():
    """$SPARK_HOME, else the first Spark installation on PATH that ships
    the Scala compiler jar the build needs."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).resolve().parent
        if (Path(d) / "spark-submit").is_file() and any((home / "jars").glob("scala-compiler-*.jar")):
            return home
    return Path("spark-not-found")


SPARK_JARS = spark_home() / "jars"
# The workloads: one testdata scale each, its tables under perfbench/data.
WORKLOADS = ("sf0.001", "sf0.01")
RUN_TIMEOUT_S = 165
HEAP = "1536m"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile library + harness with the Scala compiler shipped in the
    Spark distribution; skipped while the sources are unchanged."""
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        fail(f"library sources not found at {lib}; run from the root of a source checkout")
    if not SPARK_JARS.is_dir():
        fail(f"Spark jars not found at {SPARK_JARS}: set SPARK_HOME or put spark-submit on PATH")
    sources = sorted(lib.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    stamp = digest(sources)
    out = BUILD / "classes"
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def data_dir(workload):
    d = BENCH / "data" / workload
    if not (d / "lineitem.parquet").is_file():
        fail(f"input tables not found at {d}")
    return d


def run_jvm(classes, workload, seed, seconds, trace, work):
    data = data_dir(workload)
    (work / "tmp").mkdir(parents=True)
    out = work / "out.json"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap: with an adaptive one, peak RSS follows G1's sizing
    # decisions more than the program's memory use.
    cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{SPARK_JARS}/*", "perfbench.Main",
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--data", str(data), "--work", str(work), "--out", str(out)]
    log = work / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0 or not out.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM ended with {code}")
    return json.loads(out.read_text())


def check_results(work, workload):
    """Hash each analytics result and compare it with the pinned hash."""
    import pandas as pd
    expected = json.loads((BENCH / "expected.json").read_text())[workload]
    got = {}
    for q in expected:
        p = work / "results" / q
        if p.is_dir():
            got[q] = stats.frame_hash(pd.read_parquet(p))
    return stats.hash_verdicts(expected, got), len(expected)


def end_to_end(res):
    s = res["record"]["samples"]

    def med(k, scale=1.0):
        v = stats.median(s.get(k, []))
        return None if v is None else v * scale

    tails = {k: stats.tail(s.get(k, [])) for k in ("score_one_ms", "write_ms")}
    m = {
        "setup_s": med("setup_s"),
        "peak_rss_mb": res["peak_rss_mb"],
        "trainset_s": med("trainset_ms", 1e-3),
        "train_s": med("train_ms", 1e-3),
        "score_rows_per_s": med("score_rows_per_s"),
        "write_p50_ms": med("write_ms"),
        "read_after_write_p50_ms": med("read_after_write_ms"),
        "score_one_p50_ms": med("score_one_ms"),
        "score_one_tail_ms": tails["score_one_ms"] and tails["score_one_ms"][0],
        "store_bytes_per_live_byte": med("store_bytes_per_live_byte"),
        "graph_ladder_s": med("graph_ladder_s"),
        "graph_pagerank_s": med("graph_pagerank_s"),
        "stream_s": med("stream_s"),
        "index_lifecycle_s": med("index_lifecycle_s"),
    }
    return m, tails


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None


def one_run(args, classes):
    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(classes, args.workload, args.seed, args.seconds, args.trace, work)
        bad, checked = check_results(work, args.workload)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec = res["record"]
    attempted, failed = stats.outcome(rec["attempted"], rec["failed"], bad, checked)
    e2e, tails = end_to_end(res)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "run_id": res["run_id"],
        "cores": res["cores"], "failed_frac": stats.failed_frac(attempted, failed),
        "failures": rec["failures"] + [f"{q}: result hash differs from the pinned one" for q in bad],
        "tails": {k: (None if v is None else {"value": v[0], "percentile": v[1], "samples": v[2]})
                  for k, v in tails.items()},
        "write_ms_by_kind": {k.split(".", 1)[1]: v for k, v in rec["samples"].items() if k.startswith("write_ms.")},
        "facts": rec["facts"], "box_start": res["box_start"], "box_end": res["box_end"],
        "end_to_end" + ("_traced" if args.trace else ""): e2e,
    }
    if args.trace:
        metrics = layers.per_layer(res["trace"], res["cores"], rec["samples"], rec["facts"])
        detail["trace_file"] = str(save_trace(res["trace"], args))
    else:
        metrics = e2e
    return attempted, failed, metrics, detail


def save_trace(trace, args):
    """Keep a traced run's spans (with self time) and engine records."""
    self_us = stats.self_times(trace["spans"])
    for s in trace["spans"]:
        s["self_us"] = self_us[s["id"]]
    path = BUILD / "traces" / f"{args.workload}-seed{args.seed}-{trace['run_id']}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(trace))
    return path.relative_to(ROOT)


def units(kind):
    sp = spec()
    return {m["name"]: m["unit"] for m in sp[kind]} if sp else {}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced and traced with the same seed; print traced/untraced per metric")
    args = ap.parse_args()
    classes = build()
    if args.overhead:
        runs = {}
        for t in (0, 1):
            args.trace = t
            runs[t] = one_run(args, classes)[3]
        plain, traced = runs[0]["end_to_end"], runs[1]["end_to_end_traced"]
        print(json.dumps({"tracing_overhead": {k: {"untraced": plain[k], "traced": traced[k],
                                                   "ratio": traced[k] / plain[k] if plain[k] else None}
                                               for k in plain}}))
        return
    attempted, failed, metrics, detail = one_run(args, classes)
    print(json.dumps(detail))
    u = units("per_layer" if args.trace else "end_to_end")
    names = list(u) or list(metrics)
    out = {k: {"value": metrics.get(k), "unit": u.get(k, "")} for k in names}
    print(json.dumps({"correct": failed == 0 and all(metrics.get(k) is not None for k in names),
                      "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
