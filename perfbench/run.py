#!/usr/bin/env python3
"""Seeded benchmark of the graft engine (see perfbench/README.md).

Usage, from the repository root:
    python3 perfbench/run.py --workload <fresh_etl|corpus_stream>
        --seed <n> --seconds <s> --trace <0|1> [--compact-versions <n>]

Builds the engine from source when needed (perfbench/build.py), generates the
workload's inputs from the seed, runs one JVM with a closed loop of one
client for --seconds, checks every op's output, and prints one summary line
per metric followed, as the last line, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (and writes the spans to
<build dir>/perfbench/traces/).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("fresh_etl", "corpus_stream")
MAX_BATCHES = 8
MAX_EPOCHS = 8
# Workload sizes (README "Workload sizes"): a fresh_etl batch is about
# 1,000 staged rows, the reference pipeline's scale ("1,000+ inconsistent
# rows"); a corpus_stream epoch is one of four doc_id slices of the sf0.1
# documents table (5,000 docs), the q199 gate's earlier slicing (it now
# uses two, 2,500 docs, which a full sweep has no time for).
ETL_ROWS = 200
DOCS_PER_EPOCH = 1250
SERVES_PER_EPOCH = 4
JVM_TIMEOUT_S = 170
# the first run after a build also writes the class-data sharing archive
DUMP_JVM_TIMEOUT_S = 600
# -XX:-UsePerfData: the JVM writes nothing outside the run directory
JAVA_OPTS = ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def plan_for(workload, seed, inputs, compact_versions):
    r = gen.rng(seed, "plan")
    # batch 0 / epoch 0 is the set-up's store bootstrap; ops use the rest
    if workload == "fresh_etl":
        made = gen.dirty_batches(inputs, seed, MAX_BATCHES + 1, rows=ETL_ROWS)
        batches = []
        for b in range(MAX_BATCHES + 1):
            city, _ = gen.CITIES[int(r.integers(0, len(gen.CITIES)))]
            batches.append({
                "dir": os.path.join(inputs, f"b{b}"), "staged": made["staged"][b],
                "params": {"city": city, "min_avg": float(r.choice([3.0, 3.5, 4.0])),
                           "min_spent": float(r.choice([1000.0, 2000.0, 5000.0])),
                           "k": int(r.choice([3, 5, 10]))}})
        return {"batches": batches,
                "input_bytes": [_dir_bytes(b["dir"]) for b in batches]}
    gen.corpus(inputs, seed, MAX_EPOCHS + 1, docs_per_epoch=DOCS_PER_EPOCH, drift_epoch=1)
    files = [os.path.join(inputs, f"e{e:04d}.parquet") for e in range(MAX_EPOCHS + 1)]
    n_serves = SERVES_PER_EPOCH * (MAX_EPOCHS + 1)
    # ivfProbe's queries are the vectors with vec_id below its query count:
    # a distinct count per probe, so no two probes of a run repeat a query set
    ivf_queries = [int(x) for x in 3 + r.permutation(n_serves)]
    return {"epochs": files, "input_bytes": [os.path.getsize(f) for f in files],
            "serve_terms": gen.zipf_terms(seed, n_serves), "ivf_queries": ivf_queries,
            "serves_per_epoch": SERVES_PER_EPOCH, "k": 10,
            "conf": {"spark.graft.state.autoCompactVersions": str(compact_versions)}}


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def modules(root):
    """Source file name -> engine module (its directory under graft/)."""
    out = {}
    base = os.path.join(root, "src", "main", "scala", "graft")
    for dirpath, _, files in os.walk(base):
        rel = os.path.relpath(dirpath, base)
        for f in files:
            if f.endswith(".scala"):
                out[f] = "graft" if rel == "." else rel.split(os.sep)[0]
    return out


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(xs):
    """Highest of p50/p75/p90/p95/p99 with at least 10 samples beyond it."""
    best = 50
    for p in (75, 90, 95, 99):
        if len(xs) * (100 - p) / 100 >= 10:
            best = p
    return best


def timing(name, unit, xs, lines):
    if not xs:
        return
    tp = tail_percentile(xs)
    lines.append(f"{name}_p50 {statistics.median(xs):.6f} {unit} (n={len(xs)}); "
                 f"{name}_p{tp} {quantile(xs, tp / 100):.6f} {unit}")


def summarize(workload, result, plan, failed_ops):
    """End-to-end metrics (name -> (value, unit)) and the summary lines,
    which also name each metric the way the workload's doc does."""
    ops = result["ops"]
    reads = [r["s"] for op in ops for r in op["reads"]]
    notes = result["notes"]
    if workload == "fresh_etl":
        main = [op["fields"]["etl_s"] for op in ops if "etl_s" in op["fields"]]
        rows = sum(sum(b["staged"].values()) for b in plan["batches"][1:len(main) + 1])
        names = ("etl_batch_s", "etl_rows_per_s", "report_s")
    else:
        main = [op["fields"]["epoch_s"] for op in ops if "epoch_s" in op["fields"]]
        rows = DOCS_PER_EPOCH * len(main)
        names = ("epoch_s", "ingest_docs_per_s", "serve_s")
    # the store holds what setup bootstrapped too
    n_in = sum(plan["input_bytes"][:len(main) + 1])
    metrics = {
        "setup_s": (result["setup_s"], "s"),
        "op_s_p50": (statistics.median(main), "s"),
        "ingest_rows_per_s": (rows / sum(main), "1/s"),
        "read_s_p50": (statistics.median(reads), "s"),
        "store_bytes_per_input_byte": (notes["store_bytes_end"] / n_in, "ratio"),
        "driver_heap_mb": (notes["heap_mb"], "MB"),
    }
    lines = [f"workload {workload} seed-generated inputs, nproc {result['nproc']}, "
             f"commit {result['provenance'].get('commit')}",
             f"failed_op_ratio {len(failed_ops) / max(1, len(ops)):.6f} ratio "
             f"({len(failed_ops)} of {len(ops)} ops)"]
    timing(names[0], "s", main, lines)
    lines.append(f"{names[1]} {rows / sum(main):.6f} 1/s")
    timing(names[2], "s", reads, lines)
    for k, (v, u) in metrics.items():
        lines.append(f"{k} {v:.6f} {u}")
    return metrics, lines


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compact-versions", type=int, default=2)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail(f"run from the repository root: no engine sources in {root}/src/main/scala")
    jar = build.build(root)
    base = build.build_dir(root)
    run_dir = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        launched_ms = int(time.time() * 1000)
        plan = plan_for(a.workload, a.seed, os.path.join(run_dir, "inputs"), a.compact_versions)
        plan.setdefault("conf", {})
        plan["modules"] = modules(root)
        with open(os.path.join(run_dir, "plan.json"), "w") as fh:
            json.dump(plan, fh)
        jars = os.path.join(build.spark_jars(), "*")
        # class-data sharing: the first run after a build records the classes
        # it loads into an archive that every later run maps at start-up
        archive = build.cds_archive(root)
        dumped = os.path.join(run_dir, "tmp", "classes.jsa")
        cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
               else f"-XX:ArchiveClassesAtExit={dumped}")
        cmd = (["java"] + JAVA_OPTS + [cds, f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", f"{jar}:{jars}",
               "graft.perfbench.Main", a.workload, run_dir, str(a.seconds), str(a.trace),
               str(launched_ms)])
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                timeout = JVM_TIMEOUT_S if os.path.exists(archive) else DUMP_JVM_TIMEOUT_S
                code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"JVM timed out after {timeout} s")
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                tail = fh.read()[-3000:]
            fail(f"JVM exited with {code}:\n{tail}")
        if os.path.exists(dumped):
            os.replace(dumped, archive)
        jvm_s = time.time() - launched_ms / 1000
        result = json.load(open(result_path))
        bad = checks.CHECKS[a.workload](run_dir, result)
        for i, op in enumerate(result["ops"]):
            if not op["ok"]:
                bad.setdefault(i, op["error"])
        metrics, lines = summarize(a.workload, result, plan, bad)
        checks_s = {k: round(v, 1) for k, v in result["notes"].items() if k.startswith("check")}
        lines.append(f"run phases (s): session up at {result['notes']['setup_session_s']:.1f}, "
                     f"bootstrap {result['notes']['setup_bootstrap_s']:.1f}, "
                     f"setup {result['setup_s']:.1f}, loop {result['loop_s']:.1f} "
                     f"with checks {checks_s}, JVM exit at {jvm_s:.1f}, "
                     f"total {time.time() - launched_ms / 1000:.1f}")
        for i in sorted(bad)[:5]:
            lines.append(f"FAILED op {result['ops'][i]['name']}: {bad[i]}")
        # the untraced run of the same workload and seed, for the tracing overhead
        last = os.path.join(base, "results", f"{a.workload}-seed{a.seed}-trace0.json")
        e2e = {k: v for k, (v, _) in metrics.items()}
        if a.trace:
            per_layer = result["per_layer"]
            if os.path.exists(last):
                overhead = e2e["op_s_p50"] / json.load(open(last))["op_s_p50"] - 1
                lines.append(f"trace_overhead_share {overhead:.6f} ratio (op_s_p50 traced / untraced - 1)")
            else:
                overhead = None
                lines.append(f"trace_overhead_share unavailable: no untraced run of seed {a.seed} in this checkout")
            side = os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json")
            os.makedirs(os.path.dirname(side), exist_ok=True)
            side_doc = json.load(open(os.path.join(run_dir, "trace.json")))
            side_doc.update({"workload": a.workload, "seed": a.seed, "nproc": result["nproc"],
                             "provenance": result["provenance"], "per_layer": per_layer,
                             "end_to_end": e2e, "trace_overhead_share": overhead})
            with open(side, "w") as fh:
                json.dump(side_doc, fh)
            lines.append(f"trace side file: {os.path.relpath(side, root)}")
            units = {m["name"]: m["unit"] for m in json.load(open(os.path.join(root, "BENCHMARK.json")))["per_layer"]}
            missing = sorted(set(units) - set(per_layer))
            if missing:
                fail(f"traced run reported no {', '.join(missing)}")
            out_metrics = {k: {"value": per_layer[k], "unit": u} for k, u in units.items()}
        else:
            os.makedirs(os.path.dirname(last), exist_ok=True)
            with open(last, "w") as fh:
                json.dump(e2e, fh)
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        for line in lines:
            print(line)
        print(json.dumps({"correct": not bad, "attempted": len(result["ops"]),
                          "failed": len(bad), "metrics": out_metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
