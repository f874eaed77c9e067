"""graft's layered benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload <olap_warm|catalog_cold|corpus_ingest>
                           --seed <n> --seconds <s> --trace <0|1>

Builds graft with the harness (perfbench/build.py), generates the tables
(perfbench/datagen.py), turns the seed into an operation list
(perfbench/workloads.py) and runs it in one JVM on Spark
`local[nproc]` with one client in a closed loop. Every operation's output
is checked against the digests in perfbench/expected.json.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 the workload runs twice, untraced then traced, and the last
line carries the per-layer metrics of the traced run plus the tracing
overhead. Scratch files, logs and span dumps go to perfbench/.work/.
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
import datagen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected.json")
XMX = "4g"
RUN_DEADLINE_S = 170      # a whole invocation, build excluded
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# workload -> scale factor of its tables
WORKLOADS = {"olap_warm": 0.1, "catalog_cold": 0.01, "corpus_ingest": 0.1}
END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"), ("latency_tail_s", "s"),
              ("ops_per_s", "1/s")]
_TIMES = ["operators.build", "plans.analysis", "plans.optimization", "plans.planning",
          "codegen.compile", "codegen.gen", "executor.task", "executor.cpu", "executor.gc",
          "executor.fetch_wait", "driver.self", "self.operators", "self.plans",
          "self.execute", "self.scheduler", "self.executor", "self.untraced"]
PER_LAYER = ([(t + "_s", "s") for t in _TIMES] + [(t + "_share", "ratio") for t in _TIMES]
             + [(k, "count") for k in (
                 "operators.build_jobs", "plans.executions", "codegen.compiles",
                 "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                 "scheduler.failed_tasks")]
             + [(k, "MB") for k in ("executor.shuffle_read_mb", "executor.shuffle_write_mb",
                                    "sources.scan_mb", "sources.write_mb", "sources.store_mb")]
             + [("executor.busy_ratio", "ratio"), ("sources.read_p50_s", "s"),
                ("sources.write_amp", "ratio"), ("sources.space_amp", "ratio"),
                ("driver.peak_rss_mb", "MB"),
                ("trace.op_wall_s", "s"), ("trace.self_sum_ratio", "ratio"),
                ("trace.overhead_ratio", "ratio")])


def cores():
    return len(os.sched_getaffinity(0))


def java_cmd(classes, jars, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    props = {
        "user.timezone": "UTC", "spark.ui.enabled": "false",
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "derby.system.home": work,
    }
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    return (["java"] + opens + [f"-Xmx{XMX}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData"]
            + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)


def run_jvm(cmd, work, log_name, timeout):
    """Run one JVM to completion inside `work`; returns (launch epoch s,
    exit code). The process is killed and reaped if it overruns."""
    with open(os.path.join(work, log_name), "w") as log:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    return launched, rc


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def write_plan(path, kv, plan):
    with open(path, "w") as f:
        for k, v in kv.items():
            f.write(f"{k}\t{v}\n")
        for tag, ops in (("warm", plan["warm"]), ("op", plan["ops"])):
            for op in ops:
                f.write("\t".join([tag] + [str(x) for x in op]) + "\n")


def make_plan(workload, seed, expected, n_docs):
    if workload == "olap_warm":
        return workloads.olap_warm(seed)
    if workload == "catalog_cold":
        return workloads.catalog_cold(seed, expected["catalog_sf0.01"],
                                      expected["catalog_cold_s"])
    return workloads.corpus_ingest(seed, n_docs)


def run_workload(args, classes, jars, sf_path, plan, trace, deadline):
    """One JVM run of the plan in perfbench/.work/<workload>[-traced];
    returns its output records and launch time. Scratch state is removed
    afterwards; the plan, output and log stay for inspection."""
    work = os.path.join(WORK, args.workload + ("-traced" if trace else ""))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    kv = {"workload": args.workload, "sf": sf_path, "cores": cores(),
          "seconds": args.seconds, "trace": int(trace), "block": plan["block"],
          "spans": os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")}
    if args.workload == "corpus_ingest":
        kv["state"] = os.path.join(work, "state")
    plan_path = os.path.join(work, "plan.tsv")
    write_plan(plan_path, kv, plan)
    out = os.path.join(work, "out.jsonl")
    try:
        launched, rc = run_jvm(java_cmd(classes, jars, work, "graft.perfbench.Harness",
                                        [plan_path, out]), work, "jvm.log",
                               max(deadline - time.time(), 1))
    finally:
        for d in ("state", "tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    recs = read_jsonl(out)
    if rc != 0 or not any(r["kind"] == "env" for r in recs):
        raise RuntimeError(f"harness JVM exited {rc}; see {os.path.relpath(work, ROOT)}/jvm.log")
    return recs, launched


def check(workload, recs, expected):
    """Mark each timed operation ok or failed; return (ops, failures).

    A query fails on an exception or a digest that differs from the
    stored one. An ingest fails on an exception in it or in the
    `canonical` read after it, and the last ingest of a pass also fails
    when the pass's final `canonical` digest differs from the stored one.
    """
    ops = [r for r in recs if r["kind"] == "op"]
    failures = []

    def fail(op, why):
        op["ok"] = False
        failures.append((op["name"], why))

    if workload == "corpus_ingest":
        reads = [r for r in recs if r["kind"] == "read"]
        want = expected["corpus_sf0.1"]["canonical"]
        for i, op in enumerate(ops):
            op["ok"] = True
            rd = reads[i] if i < len(reads) else None
            if op["error"] is not None:
                fail(op, op["error"])
            elif rd is None:
                fail(op, "no canonical read")
            elif rd["error"] is not None:
                fail(op, rd["error"])
            elif rd["last"] and rd["digest"] != want:
                fail(op, f"canonical digest {rd['digest']} != {want}")
        return ops, failures
    want = expected["olap_sf0.1" if workload == "olap_warm" else "catalog_sf0.01"]
    for op in ops:
        op["ok"] = True
        if op["error"] is not None:
            fail(op, op["error"])
        elif op["digest"] != want.get(op["name"]):
            fail(op, f"digest {op['digest']} != {want.get(op['name'])}")
    return ops, failures


def end_to_end(recs, ops, setup_s):
    """The end-to-end metrics, and the stamps that go with them."""
    env = next(r for r in recs if r["kind"] == "env")
    good = [op["wall_s"] for op in ops if op["ok"]] or [op["wall_s"] for op in ops]
    timed = sum(r["wall_s"] for r in recs if r["kind"] in ("op", "read"))
    value, pct, n = metrics.tail(good)
    m = {"setup_s": setup_s, "latency_p50_s": statistics.median(good),
         "latency_tail_s": value,
         "ops_per_s": sum(op["ok"] for op in ops) / timed}
    info = {"latency_tail_percentile": pct, "latency_samples": n,
            "peak_rss_mb": env["peak_rss_mb"],
            "fail_ratio": sum(not op["ok"] for op in ops) / len(ops)}
    return m, info


def corpus(recs, plan, text_bytes):
    """read_p50_s, write_amp, space_amp and stored MB over the completed
    ingest passes. Bytes written by an ingest are the sizes of the state
    dir's files that are new or changed since the previous ingest of its
    pass; the stored bytes are a pass's files after its last ingest."""
    ops = [r for r in recs if r["kind"] == "op"]
    reads = [r for r in recs if r["kind"] == "read"]
    done = {r["pass"] for r in reads if r["last"]}
    written = text = stored = 0
    before = {}
    for op, rd, spec in zip(ops, reads, plan["ops"]):
        if op["pass"] not in done:
            continue
        if spec[2] == 0:
            before = {}
        written += metrics.written_bytes(before, op["files"])
        text += text_bytes(spec[3], spec[4])
        before = op["files"]
        if rd["last"]:
            stored += sum(size for size, _ in op["files"].values())
    w_amp, s_amp = metrics.amplification(written, stored, text)
    return {"read_p50_s": statistics.median([r["wall_s"] for r in reads]),
            "write_amp": w_amp, "space_amp": s_amp,
            "store_mb": stored / len(done) / 2**20}


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def text_bytes_of(sf_path):
    """(doc count, f(lo, hi) -> UTF-8 bytes of the texts of docs [lo, hi))."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(sf_path, "documents.parquet"), columns=["doc_id", "text"])
    by_id = dict(zip(t.column(0).to_pylist(), (len(x.encode()) for x in t.column(1).to_pylist())))
    return len(by_id), lambda lo, hi: sum(by_id.get(i, 0) for i in range(lo, hi))


def layer_metrics(recs, plan, text_bytes):
    """Per-layer totals of a traced run, in PER_LAYER order."""
    tot = metrics.layer_totals([r["layers"] for r in recs if r["kind"] in ("op", "read")])
    wall = tot["wall_s"]
    tot["executor.busy_ratio"] = tot["executor.task_s"] / (wall * cores())
    tot["trace.self_sum_ratio"] = sum(
        tot[k] for k in tot if k.startswith("self.") and k.endswith("_s")
        and k != "self.untraced_s") / wall
    tot["trace.op_wall_s"] = wall
    tot["driver.peak_rss_mb"] = next(r for r in recs if r["kind"] == "env")["peak_rss_mb"]
    if any(r["kind"] == "read" for r in recs):
        c = corpus(recs, plan, text_bytes)
        tot.update({"sources.read_p50_s": c["read_p50_s"], "sources.write_amp": c["write_amp"],
                    "sources.space_amp": c["space_amp"], "sources.store_mb": c["store_mb"]})
    return {k: tot.get(k, 0.0) for k, _ in PER_LAYER if k != "trace.overhead_ratio"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = os.getloadavg()[0]
    try:
        classes, jars, source_key = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    with open(EXPECTED) as f:
        expected = json.load(f)
    sf_path = datagen.ensure(os.path.join(WORK, "data"), WORKLOADS[args.workload])
    n_docs, text_bytes = text_bytes_of(sf_path)
    plan = make_plan(args.workload, args.seed, expected, n_docs)
    deadline = time.time() + RUN_DEADLINE_S

    recs, launched = run_workload(args, classes, jars, sf_path, plan, False, deadline)
    setup_s = next(r for r in recs if r["kind"] == "ready")["epoch_ms"] / 1e3 - launched
    ops, failures = check(args.workload, recs, expected)
    e2e, info = end_to_end(recs, ops, setup_s)
    if args.workload == "corpus_ingest":
        info.update(corpus(recs, plan, text_bytes))
    attempted, failed = len(ops), sum(not o["ok"] for o in ops)
    out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    if args.trace:
        trecs, _ = run_workload(args, classes, jars, sf_path, plan, True, deadline)
        tops, tfailures = check(args.workload, trecs, expected)
        failures += [(f"{name} (traced run)", why) for name, why in tfailures]
        attempted += len(tops)
        failed += sum(not o["ok"] for o in tops)
        layers = layer_metrics(trecs, plan, text_bytes)
        traced, _ = end_to_end(trecs, tops, setup_s)
        layers["trace.overhead_ratio"] = e2e["ops_per_s"] / traced["ops_per_s"]
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        if layers["trace.self_sum_ratio"] < 0.9:
            print(f"layer self times cover {layers['trace.self_sum_ratio']:.1%} of "
                  f"operation wall time on {args.workload}, short of 90%")

    env = next(r for r in recs if r["kind"] == "env")
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores(), "master": env["master"],
        "shuffle_partitions": env["shuffle_partitions"], "xmx": XMX,
        "jdk": env["jdk"], "spark": env["spark"],
        "load_avg_1m_start": load_start, "load_avg_1m_end": os.getloadavg()[0],
        "git_commit": git_commit(), "source_key": source_key,
        "sf_dir": os.path.relpath(sf_path, ROOT),
        "operations": [o["name"] for o in ops],
    }
    if args.workload == "corpus_ingest":
        stamp["batch_sizes"] = [op[4] - op[3] for op in plan["ops"][:len(ops)]]
    for k, u in END_TO_END:
        print(f"{k} = {e2e[k]:.6g} {u}")
    print(f"latency_tail_s is p{info['latency_tail_percentile']:.0f} of "
          f"n={info['latency_samples']} operations")
    print(f"fail_ratio = {info['fail_ratio']:.6g} ratio")
    print(f"peak_rss_mb = {info['peak_rss_mb']:.6g} MB")
    for k, u in (("read_p50_s", "s"), ("write_amp", "ratio"), ("space_amp", "ratio")):
        if k in info:
            print(f"{k} = {info[k]:.6g} {u}")
    for name, why in failures:
        print(f"FAILED {name}: {why}")
    print(json.dumps({"env": stamp, "end_to_end": e2e, "info": info}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
