#!/usr/bin/env python3
"""Benchmark of the graft engine: registry passes (a cold pass in set-up,
then warm passes) and the ingest lifecycle, each operation consumed in
full and checked.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Builds the engine and the harness with sbt when their sources changed,
then runs the workload in a JVM launched with the engine's own `run`
JVM options. Every run works in a private directory under `.perfbench/`
(index root, Spark local dir, temp dir) that is removed when it ends.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics (see LAYERS).

Input data: the driver-generated parquet datasets (`sf0.001`, `sf0.01`,
...) under `$PERFBENCH_DATA`, by default `~/testdata`.

`--selftest` runs every workload briefly at sf0.001, untraced and traced,
and asserts that every metric is emitted with its unit, the output checks
pass and each traced operation's phases account for its wall time.
`--record-ref` rewrites the reference digests from the current engine.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
REFS = os.path.join(HERE, "reference")
HEAP = "4g"
# wall-clock ceiling of one benchmark invocation, builds excluded
RUN_LIMIT_S = 170

# A fixed slice of the registry (a full pass does not fit the run budget):
# four execution-heavy plans (window, shuffle self-join, scoring
# aggregation, statistics) and three whose first execution builds index
# artifacts (BPE merges, minhash signatures, IVF cells) and compiles many
# codegen classes. The set-up's cold pass prices the second kind; the
# timed warm passes are carried by the first.
QUERIES = [
    "q_window_resample", "q_assoc_rules", "q_ml_naive_bayes", "q_agg_stats",
    "q_text_bpe_encode", "q_dedup_minhash_delta", "q_sim_ann_ivf_k_delta",
]

WORKLOADS = {
    "registry": {"sf": "sf0.01", "queries": QUERIES},
    "lifecycle": {"sf": "sf0.01"},
}

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
}

LIFECYCLE_VERBS = ["commit_docs", "replace_docs", "delete_docs", "exact_dedup",
                   "compact", "promote"]

# Per-layer metrics of a traced run, averaged per timed pass (per round
# on the lifecycle). The ingest, overlay and store layers are bypassed by
# the registry workload and read 0 there.
PHASE_LAYERS = {
    "plan.construct_s": ("s", "lower"),
    "plan.construct_jobs": ("count", "lower"),
    "tables.artifact_build_s": ("s", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "codegen.compiles": ("count", "lower"),
    "codegen.compile_s": ("s", "lower"),
    "exec.s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.busy_ratio": ("ratio", "higher"),
    "shuffle.write_mb": ("MB", "lower"),
    "shuffle.read_mb": ("MB", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "spill.mb": ("MB", "lower"),
    "jvm.gc_s": ("s", "lower"),
}
LAYERS = {
    **PHASE_LAYERS,
    # the same layers over the set-up's cold work: the registry's cold pass
    # or the lifecycle's artifact warm-up, in a fresh JVM and index root
    **{f"setup.{k}": v for k, v in PHASE_LAYERS.items()},
    "tables.artifacts_built": ("count", "lower"),
    "tables.cached_mb": ("MB", "lower"),
    "codegen.max_method_bytes": ("bytes", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
    **{f"ingest.{v}_{k}": (u, "lower") for v in LIFECYCLE_VERBS
       for k, u in (("s", "s"), ("jobs", "count"))},
    "ingest.write_p50_s": ("s", "lower"),
    "ingest.probe_p50_s": ("s", "lower"),
    "overlay.segments_max": ("count", "lower"),
    "store.bytes_written": ("bytes", "lower"),
    "store.files_written": ("count", "lower"),
    "store.bytes_per_user_byte": ("ratio", "lower"),
    "trace.phase_gap_max_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

# largest unaccounted time allowed between an operation's wall time and
# the sum of its construct/plan/execute phases (self-test)
PHASE_TOLERANCE_S = 0.02


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout` or this script is interrupted. Returns the exit
    code, or None on timeout."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness when sources changed; return launch info."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        tmp = os.path.join(WORK, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                           " -Dsbt.server.autostart=false -XX:-UsePerfData"
                           f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
        t0 = time.time()
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       600, cwd=HERE, env=env)
        if rc != 0:
            die(f"build failed (sbt exit {rc})")
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    cp, opts = None, []
    for line in open(launch):
        kind, _, val = line.rstrip("\n").partition(" ")
        if kind == "CP":
            cp = val
        elif kind == "OPT" and not val.startswith("-Xmx"):
            opts.append(val)
    # no hsperfdata file: it would be written to the system temp dir
    return cp, opts + [f"-Xmx{HEAP}", "-XX:-UsePerfData"]


def run_jvm(cp, opts, run_dir, args, deadline):
    """Run one benchmark JVM in a fresh private run directory; return the
    result object it wrote."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("index", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    out = os.path.join(run_dir, "result.json")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    env["GRAFT_INDEX_ROOT"] = os.path.join(run_dir, "index")
    cmd = (["java"] + opts +
           [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            "-cp", cp, "perfbench.Main"] + args + ["--out", out])
    rc = run_group(cmd, deadline - time.time(), cwd=run_dir, env=env)
    if rc is None:
        die("benchmark JVM exceeded the run's time limit", 4)
    if rc != 0 or not os.path.exists(out):
        die(f"benchmark JVM failed (exit {rc})", 4)
    with open(out) as f:
        return json.load(f)


def ref_path(sf):
    return os.path.join(REFS, f"{sf}.tsv")


def load_ref(sf):
    ref = {}
    if os.path.exists(ref_path(sf)):
        for line in open(ref_path(sf)):
            name, digest = line.split()
            ref[name] = digest
    return ref


def median(vals):
    return statistics.median(vals) if vals else 0.0


def run_workload(workload, seed, seconds, trace, sf_dir, launch, deadline):
    """Run one workload in one JVM; return its result object."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", sf_dir,
            "--trace-out", os.path.join(WORK, f"trace-{workload}.jsonl")]
    queries = WORKLOADS[workload].get("queries")
    if queries:
        args += ["--queries", ",".join(queries)]
    cp, opts, run_dir = launch
    return run_jvm(cp, opts, run_dir, args, deadline)


def summarize(trace, result, ref):
    """The final-line object: correctness counts plus metrics."""
    passes = result["passes"]
    ops = [o for p in passes for o in p["ops"]]
    # set-up operations are checked and counted too
    checked = ops + [o for p in result["setup_passes"] for o in p["ops"]]
    failures = []
    for name, _wall, digest, error in checked:
        if error is not None:
            failures.append(f"{name}: {error}")
        elif ref is not None and ref.get(name) != digest:
            failures.append(f"{name}: digest {digest} != reference {ref.get(name)}")
    failures += result.get("checks", [])
    attempted = len(checked)
    failed = min(len(failures), attempted)
    if trace == 0:
        # per-operation time: each distinct operation's median in the run
        by_name = {}
        for name, wall, _digest, _error in ops:
            by_name.setdefault(name, []).append(wall)
        vals = {
            "setup_s": result["setup_s"],
            "pass_s": median([p["wall_s"] for p in passes]),
            "op_p50_s": median([median(v) for v in by_name.values()]),
        }
        units = END_TO_END
    else:
        vals = {k: result["layers"].get(k, 0.0) for k in LAYERS}
        vals["jvm.peak_rss_mb"] = result["peak_rss_mb"]
        # the first timed pass may still carry warm-up; compare later ones
        later = passes[1:]
        traced = [p["wall_s"] for p in later if p["traced"]]
        untraced = [p["wall_s"] for p in later if not p["traced"]]
        vals["trace.overhead_s"] = median(traced) - median(untraced)
        units = LAYERS
    metrics = {k: {"value": v, "unit": units[k][0]} for k, v in vals.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, failures


def record_ref(sf, result):
    ref = load_ref(sf)
    for p in result["passes"]:
        for name, _wall, digest, error in p["ops"]:
            if error is not None:
                die(f"cannot record a reference: {name} failed: {error}")
            if ref.setdefault(name, digest) != digest:
                die(f"cannot record a reference: {name} digests disagree")
    os.makedirs(REFS, exist_ok=True)
    with open(ref_path(sf), "w") as f:
        for name in sorted(ref):
            f.write(f"{name}\t{ref[name]}\n")


def selftest(launch, data):
    """Short run of every workload at sf0.001, untraced and traced."""
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench_file):
        bench = json.load(open(bench_file))
        declared = {m["name"]: (m["unit"], m["better"])
                    for m in bench["end_to_end"] + bench["per_layer"]}
        assert declared == {**END_TO_END, **LAYERS}, "BENCHMARK.json metrics differ"
        assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    sf = "sf0.001"
    report = {}
    for workload in WORKLOADS:
        ref = load_ref(sf) if workload == "registry" else None
        for trace in (0, 1):
            result = run_workload(workload, 1, 1, trace, os.path.join(data, sf), launch,
                                  time.time() + RUN_LIMIT_S)
            final, failures = summarize(trace, result, ref)
            assert final["correct"], f"{workload}: output checks failed: {failures}"
            want = LAYERS if trace else END_TO_END
            got = {k: m["unit"] for k, m in final["metrics"].items()}
            assert got == {k: u for k, (u, _) in want.items()}, \
                f"{workload}: metrics or units differ from the declared set"
            if trace:
                gap = result["layers"]["trace.phase_gap_max_s"]
                assert gap <= PHASE_TOLERANCE_S, \
                    f"{workload}: phases leave {gap:.4f} s of an operation unaccounted"
            report[f"{workload}/trace{trace}"] = final["attempted"]
    print(f"perfbench: self-test passed {report}", file=sys.stderr)


def main():
    # a terminated run still unwinds, so its JVM and run dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="dataset override, e.g. sf0.001")
    ap.add_argument("--record-ref", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(
            os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        die("engine sources not found next to perfbench/")
    data = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    sf = args.sf or ("sf0.001" if args.selftest else WORKLOADS[args.workload]["sf"])
    sf_dir = os.path.join(data, sf)
    if not os.path.isdir(sf_dir):
        die(f"dataset {sf_dir} not found (set PERFBENCH_DATA)")

    cp, opts = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    launch = (cp, opts, run_dir)
    try:
        if args.selftest:
            selftest(launch, data)
            return
        result = run_workload(args.workload, args.seed, args.seconds, args.trace, sf_dir,
                              launch, time.time() + RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.record_ref:
        record_ref(sf, result)
    ref = load_ref(sf) if args.workload == "registry" else None
    final, failures = summarize(args.trace, result, ref)
    with open(os.path.join(WORK, f"last-{args.workload}.json"), "w") as f:
        json.dump({"result": result, "failures": failures, "final": final}, f)
    for msg in failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps(final))


if __name__ == "__main__":
    main()
