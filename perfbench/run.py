#!/usr/bin/env python3
"""One benchmark run: build, make the inputs, run a workload in one
JVM, check its outputs, and print the result as the last stdout line.

    python3 perfbench/run.py --workload <serve_hot|catalog> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Everything a run writes goes under
`.bench_build/`; its working dirs are deleted at exit. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import fnmatch
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import datagen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_hot", "catalog")
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20
# The inputs are the same in every run; --seed drives only the request
# streams and the query order.
DATA_SEED = 42
# Per-layer metrics each workload measures (fnmatch patterns). A traced run
# reports every per-layer metric of BENCHMARK.json; the ones its workload
# does not exercise read 0 and are listed in the "not_exercised" detail.
LAYERS_OF = {
    "all": ["req_p50_ms", "cold_pass_s", "warm_pass_s", "req_tail_ms", "req_per_s",
            "failed_share", "trace.overhead_pct", "host.*", "spark.shuffle_partitions"],
    "serve_hot": ["engine.exists_ms", "engine.cache_valid_ms", "engine.cache_slice_ms",
                  "engine.hit_other_ms", "spark.*_per_req", "sources.series_ms",
                  "models.fit_ms.*", "models.forecast_ms", "engine.*_save_ms",
                  "engine.model_load_ms", "engine.store_kb_per_key", "spark.*_per_train",
                  "spark.jobs_per_refresh", "engine.same_key_write_failures"],
    "catalog": ["sources.*_mirror_*", "ops.*_index_*", "*.cold_s", "*.warm_s",
                "catalog.cache_fill_s", "SparkEntry.plan_ms", "spark.cold.*", "spark.warm.*"],
}
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def tree_entries(root: str) -> set:
    """Paths under the checkout, minus the build dir every run writes to."""
    out = set()
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if rel == ".":
            dirnames[:] = [d for d in dirnames if d not in (".bench_build", ".git")]
        for name in dirnames + filenames:
            out.add(os.path.normpath(os.path.join(rel, name)))
    return out


def tmp_entries() -> set:
    try:
        return set(os.listdir("/tmp"))
    except OSError:
        return set()


def units() -> dict:
    """Metric name -> unit, from BENCHMARK.json."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return {"e2e": e2e, "layers": layers}


def oracle_check(sf_dir: str, oracle_dir: str, env: dict) -> list:
    """Spark results against DuckDB with scripts/check_oracle.py. Returns
    the failures."""
    p = subprocess.run([sys.executable, os.path.join("scripts", "check_oracle.py"),
                        sf_dir, oracle_dir], env=env, capture_output=True, text=True,
                       timeout=ORACLE_TIMEOUT_S)
    fails = [line for line in p.stdout.splitlines() if line.startswith("FAIL ")]
    if p.returncode != 0 and not fails:
        fails.append(f"exit {p.returncode}: {(p.stderr or p.stdout).strip()[-300:]}")
    return fails


def jvm_cmd(classes: str, run_dir: str, args, data_dir: str) -> list:
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jars = build.spark_jars()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *opens,
           "-cp", f"{os.path.abspath(classes)}:{jars}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
           "--data", data_dir, "--run", run_dir, "--out", f"{run_dir}/result.json"]
    if args.workload == "catalog":
        cmd += ["--queries", os.path.join(HERE, "catalog_queries.tsv")]
    return cmd


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    tree_before, tmp_before = tree_entries(root), tmp_entries()
    metric_units = units()
    classes = build.ensure()

    run_dir = os.path.abspath(os.path.join(
        ".bench_build", "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    data_dir = os.path.join(run_dir, "data", "sf0.01")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "store", "data"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        datagen.write(data_dir, DATA_SEED)
        env = dict(os.environ,
                   SPARK_GRAFT_STORE_DIR=os.path.join(run_dir, "store"),
                   SPARK_GRAFT_STATE_STORE="hdfs",
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp", "spark-local"),
                   TMPDIR=os.path.join(run_dir, "tmp"))
        log_path = os.path.join(run_dir, "jvm.log")
        t0 = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm_cmd(classes, run_dir, args, data_dir), cwd=run_dir,
                                    env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            sys.stderr.write(f"run: the JVM ended with {code} after {time.time() - t0:.0f} s\n")
            return 1
        with open(result_path) as fh:
            res = json.load(fh)

        problems = [f"check: {c}" for c in res["check_failures"]]
        # the workloads are chosen so that no timed operation fails; one
        # that does is a wrong output, not only a count
        problems += [f"failed: {f}" for f in res["failures"]]
        if args.workload == "catalog":
            problems += [f"oracle: {f}" for f in
                         oracle_check(data_dir, os.path.join(run_dir, "oracle"), env)]
        if args.trace == 1 and os.path.isfile(os.path.join(run_dir, "spans.jsonl")):
            traces = os.path.join(".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    runs_dir = os.path.join(".bench_build", "runs")
    if os.path.isdir(runs_dir) and not os.listdir(runs_dir):
        os.rmdir(runs_dir)
    new_tmp = sorted(tmp_entries() - tmp_before)
    new_tree = sorted(tree_entries(root) - tree_before)
    if new_tmp:
        problems.append(f"hygiene: /tmp gained {new_tmp[:10]}")
    if new_tree:
        problems.append(f"hygiene: the checkout gained {new_tree[:10]}")

    # the pass and request timings spread too widely across runs on a
    # shared host to carry a bound, so BENCHMARK.json lists them per layer;
    # an untraced run still prints them in the "layers" detail
    want = metric_units["layers"] if args.trace == 1 else metric_units["e2e"]
    got = {**res["metrics"], **res["layers"]} if args.trace == 1 else res["metrics"]
    exercised = LAYERS_OF["all"] + LAYERS_OF[args.workload]
    metrics, idle = {}, []
    for name, unit in want.items():
        v = got.get(name)
        if v is None and args.trace == 1 and not any(
                fnmatch.fnmatchcase(name, p) for p in exercised):
            v = 0.0
            idle.append(name)
        if v is None:
            problems.append(f"metric {name} was not measured")
            continue
        metrics[name] = {"value": v, "unit": unit}

    print(json.dumps({"detail": "run", "workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **res["details"]}))
    if idle:
        print(json.dumps({"detail": "not_exercised", "names": idle}))
    if res["failures"]:
        print(json.dumps({"detail": "failures", "names": res["failures"]}))
    if args.trace == 0:
        print(json.dumps({"detail": "layers", "values": {
            **{k: v for k, v in res["metrics"].items() if k not in want}, **res["layers"]}}))
    for p in problems:
        print(json.dumps({"detail": "problem", "what": p}))
    print(json.dumps({"correct": not problems, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
