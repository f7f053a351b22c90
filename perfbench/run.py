"""The repo benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload lookup|sync|corpus-prep --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
harness JVM (perfbench/scala) for the measured window, checks every output
against DuckDB (perfbench/oracle.py) and prints, as its last line,
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Before that line
it prints the box state. Work files go to `.bench_work/` and are removed;
the harness's raw result, the span trace and the logs stay in
`.bench_out/`. Exits nonzero if any output check fails. See
perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build    # noqa: E402
import gen      # noqa: E402
import oracle   # noqa: E402


def jvm_timeout_s(seconds):
    """The harness JVM's time limit: 130 s plus 4 s per second of window,
    150 s at the declared 5 s, so that the whole command, set-up and
    checks included, ends within 180 s."""
    return 130 + 4 * seconds


END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "ops_per_s": "1/s",
    "storage_peak_mb": "MB",
}
SYNC_TABLES = list(oracle.KEYS)

# harness layers, then the ones this script derives
PER_LAYER = {
    "catalyst.analysis_ms": "ms", "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.queries": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.idle_s": "s",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "io.input_mb": "MB", "io.output_mb": "MB", "driver.result_mb": "MB",
    "storage.persist_fills": "count", "storage.peak_mb": "MB",
    "storage.residue_rdds": "count",
    "pipeline.app_sync_s": "s", "pipeline.mail_sync_s": "s",
    "pipeline.corpus_prep_s": "s",
    "queries.call_s": "s", "cachescope.release_s": "s",
}
for _t in SYNC_TABLES:
    PER_LAYER["pipeline.load_s." + _t] = "s"
    PER_LAYER["pipeline.gc_s." + _t] = "s"
for _m in ("queries", "pipeline", "operators", "sink", "sources", "cachescope", "other"):
    PER_LAYER[_m + ".jobs"] = "count"
    PER_LAYER[_m + ".busy_s"] = "s"
    PER_LAYER[_m + ".task_s"] = "s"
HARNESS_LAYERS = list(PER_LAYER)
for _v in gen.VERBS:
    PER_LAYER["queries.%s_p50_ms" % _v] = "ms"
PER_LAYER["queries.lookup_p50_ms"] = "ms"
PER_LAYER["queries.lookup_p90_ms"] = "ms"
for _t in SYNC_TABLES:
    PER_LAYER["sync.upserted." + _t] = "count"
    PER_LAYER["sync.deleted." + _t] = "count"
PER_LAYER["pipeline.corpus_packs"] = "count"
PER_LAYER["sink.upserted"] = "count"
PER_LAYER["sink.deleted"] = "count"
PER_LAYER["trace.op_geomean_ms"] = "ms"
PER_LAYER["trace.ops_per_s"] = "1/s"
PER_LAYER["trace.rows_per_s"] = "1/s"
PER_LAYER["failed_frac"] = "ratio"


def pct(xs, q):
    """The q-quantile of xs by linear interpolation (0 for no samples)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def geomean_of_medians(ops):
    """Geometric mean, over op kinds, of each kind's median latency in ms:
    one median on `sync` and `corpus-prep`, one per verb on `lookup`,
    whose verbs differ in latency by up to 10x. As in TPC-H's power
    metric, every kind weighs alike, and the result does not hang on the
    one sample a plain median over all ops would pick."""
    by_kind = {}
    for o in ops:
        if o["ms"] > 0:
            by_kind.setdefault(o["kind"], []).append(o["ms"])
    if not by_kind:
        return 0.0
    return math.exp(sum(math.log(pct(v, 0.5)) for v in by_kind.values()) / len(by_kind))


def check(workload, res, inputs):
    """Index of every op whose output is wrong -> why."""
    ops = res["ops"]
    bad = {i: o["error"] for i, o in enumerate(ops) if o["error"]}
    if workload == "lookup":
        wrong = oracle.check_lookup(os.path.join(inputs, "tables"), res["oracle_sql"],
                                    res["checks"]["results"])
        for i, o in enumerate(ops):
            if o["key"] in wrong:
                bad.setdefault(i, wrong[o["key"]])
    elif workload == "corpus-prep":
        wrong = oracle.check_corpus(os.path.join(inputs, "tables"), res["oracle_sql"],
                                    res["checks"]["receipt"])
        if wrong:   # the first op's receipt, which every later op repeats
            for i in range(len(ops)):
                bad.setdefault(i, "receipt: " + wrong)
    else:
        recs = res["checks"]["snapshots"]
        wrong = oracle.check_sync(recs, res["oracle_sql"], gen.MAIL_JOBS)
        done = {str(r["snapshot"]): wrong.get(i) for i, r in enumerate(recs)}
        if done.get("0"):   # the initial load, synced during set-up
            bad[-2] = "snapshot 0: " + done["0"]
        for i, o in enumerate(ops):
            if o["key"] not in done:
                bad.setdefault(i, "no record of this snapshot")
            elif done[o["key"]]:
                bad.setdefault(i, done[o["key"]])
    if res["residue_rdds"]:
        bad[-1] = "%d persisted RDDs left after the run" % res["residue_rdds"]
    return bad


def end_to_end(res):
    ops = res["ops"]
    window = res["window_s"]
    return {
        "setup_s": res["setup_s"],
        "op_geomean_ms": geomean_of_medians(ops),
        "ops_per_s": len(ops) / window,
        "storage_peak_mb": res["storage_peak_mb"],
    }


def per_layer(res, e2e, failed):
    ops = res["ops"]
    out = {k: res["layers"][k] for k in HARNESS_LAYERS}
    for v in gen.VERBS:
        out["queries.%s_p50_ms" % v] = pct([o["ms"] for o in ops if o["kind"] == v], 0.5)
    out["queries.lookup_p50_ms"] = pct([o["ms"] for o in ops if o["kind"] in gen.VERBS], 0.5)
    out["queries.lookup_p90_ms"] = pct([o["ms"] for o in ops if o["kind"] in gen.VERBS], 0.9)
    # the churned snapshots of the window, not the set-up's initial load
    recs = [r for r in res["checks"].get("snapshots", []) if r["snapshot"] > 0]
    for t in SYNC_TABLES:
        out["sync.upserted." + t] = sum(r["tables"][t]["upserted"] for r in recs)
        out["sync.deleted." + t] = sum(r["tables"][t]["deleted"] for r in recs)
    out["pipeline.corpus_packs"] = len(res["checks"].get("receipt", []))
    out["sink.upserted"] = sum(a["upserted"] for r in recs for a in r["audiences"].values())
    out["sink.deleted"] = sum(a["deleted"] for r in recs for a in r["audiences"].values())
    out["trace.op_geomean_ms"] = e2e["op_geomean_ms"]
    out["trace.ops_per_s"] = e2e["ops_per_s"]
    out["trace.rows_per_s"] = sum(o["rows"] for o in ops) / res["window_s"]
    out["failed_frac"] = failed / max(1, len(ops))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        sys.exit("perfbench: run from the root of a checkout of the program "
                 "(no build.sbt or src/main/scala here)")
    classpath = build.build(root)

    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(root, ".bench_work", tag)
    logs = os.path.join(root, ".bench_out", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(logs, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs)
    inputs = os.path.join(work, "inputs")
    gen.generate(a.workload, a.seed, inputs)
    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    result_file = os.path.join(logs, "result.json")
    cmd = (["java", build.NO_PERF_DATA] + build.jvm_options(root) +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", classpath,
            "perfbench.Harness", "--workload", a.workload, "--inputs", inputs,
            "--work", work, "--out", result_file, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus),
            "--src", os.path.join(root, "src", "main", "scala"),
            "--spans", os.path.join(logs, "spans.ndjson")])
    with open(os.path.join(logs, "jvm.log"), "wb") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=jvm_timeout_s(a.seconds)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout after %d s" % jvm_timeout_s(a.seconds)
    if rc != 0 or not os.path.exists(result_file):
        sys.exit("perfbench: harness failed (%s); see %s" % (rc, os.path.join(logs, "jvm.log")))
    with open(result_file) as f:
        res = json.load(f)

    bad = check(a.workload, res, inputs)
    attempted = len(res["ops"])
    failed = min(len(bad), attempted)
    e2e = end_to_end(res)
    box = dict(res["calib"], nproc=cpus, loadavg_start=load_start,
               loadavg_end=os.getloadavg()[0], workload=a.workload, seed=a.seed,
               trace=a.trace, time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    with open(os.path.join(logs, "box.json"), "w") as f:
        json.dump(box, f, indent=1, sort_keys=True)
    with open(os.path.join(logs, "failures.json"), "w") as f:
        json.dump({str(k): v for k, v in bad.items()}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in per_layer(res, e2e, failed).items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    for i, why in sorted(bad.items()):
        print("perfbench: check failed (op %d): %s" % (i, why[:500]), file=sys.stderr)
    print(json.dumps({"box": box}, sort_keys=True))
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
