#!/usr/bin/env python3
"""Benchmark of the graft engine: sharded HTTP serving over streaming
state, and a slice of the batch battery.

    python3 perfbench/run.py --workload <lookup|batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build. Inputs
are generated from --seed. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, and the
traced run also leaves its spans in perfbench/out/. Exits 1 when an output
is wrong, 2 when the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import build, inputs, layers, stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("lookup", "batch")
JVM_TIMEOUT_S = 165


def fail(msg):
    """The program could not be built or run: no result, exit 2."""
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


# ---- inputs -------------------------------------------------------------

def cached(name, make):
    """Directory `name` under the input cache, made once by make(dir)."""
    d = os.path.join(WORK, "inputs", name)
    if not os.path.isfile(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        make(d)
        open(os.path.join(d, ".done"), "w").close()
    return d


def write_purchases(d, c, p, q, name="purchases.bin"):
    """(customer, product, quantity) records as little-endian int32 triples."""
    import numpy as np
    np.stack([c, p, q], axis=1).astype("<i4").tofile(os.path.join(d, name))


def read_purchases(d, name="purchases.bin"):
    import numpy as np
    a = np.fromfile(os.path.join(d, name), dtype="<i4").reshape(-1, 3)
    return a[:, 0], a[:, 1], a[:, 2]


def streams(seed):
    """sf0.1 purchase records and document lines, seeded order."""
    def make(d):
        write_purchases(d, *inputs.purchases(seed))
        docs = inputs.documents(seed, "sf0.1").column("text").to_pylist()
        order = inputs.rng_for(seed, "lines-order").permutation(len(docs))
        with open(os.path.join(d, "lines.txt"), "w") as f:
            f.write("\n".join(docs[i] for i in order) + "\n")
    return cached(f"streams-{seed}", make)


def tables(seed, scale):
    return cached(f"tables-{scale}-{seed}",
                  lambda d: inputs.write_tables(seed, scale, d))


# Batch inputs come from one of a few table seeds, for each of which
# oracle/digests.json records every row's output digest (computed by
# DuckDB from the oracle SQL in oracle/, the engine's own oracle twins).
BATCH_TABLE_SEEDS = 4
BATCH_ROWS = ["q99_pagerank"]
BATCH_SCALE = "sf0.01"
# timed passes after the warm-up; fixed, whatever --seconds says
BATCH_PASSES = 12


# The lookup traffic; README.md ("Where the lookup parameters come from")
# gives the source of each value, or the reason when it is an assumption.
PRELOAD = 100000          # purchase records both instances ingest at set-up
PRELOAD_LINES = 1000      # corpus lines likewise
OPEN_RATE = 40.0          # req/s: about 45% of the seed's closed-loop capacity
WARM_REQUESTS = 400       # closed-loop warm-up, not reported
CLOSED_REQUESTS = 400
TRICKLE_MS = 500.0        # one trickle write every TRICKLE_MS ...
TRICKLE_RECORDS = 10      # ... of this many purchase records
TRICKLE_LINES = 1         # ... and this many corpus lines


def plan_for(workload, seed, seconds, cpus):
    if workload == "lookup":
        d = streams(seed)
        # the open loop takes two thirds of the measured time
        open_s = seconds * 2 / 3

        def make(dd):
            c, p, _ = read_purchases(d)
            # the trickle's writes, sent in a cycle for the whole read phase
            c, p, q, lines = inputs.trickle(seed, 400, 40, c[:PRELOAD], p[:PRELOAD])
            write_purchases(dd, c, p, q, "trickle.bin")
            with open(os.path.join(dd, "trickle_lines.txt"), "w") as f:
                f.write("\n".join(lines) + "\n")
            with open(os.path.join(dd, "requests.tsv"), "w") as f:
                for inst, path in inputs.lookup_requests(seed, 4000):
                    f.write(f"{inst}\t{path}\n")
        return dict(inputs=d, lookup=cached(f"lookup-{seed}-{PRELOAD}", make),
                    preload=PRELOAD, preload_lines=PRELOAD_LINES, setup_reps=1,
                    warm_requests=WARM_REQUESTS, open_s=open_s, open_rate=OPEN_RATE,
                    closed_requests=CLOSED_REQUESTS, clients=cpus,
                    trickle_ms=TRICKLE_MS, trickle_records=TRICKLE_RECORDS,
                    trickle_lines=TRICKLE_LINES)
    table_seed = seed % BATCH_TABLE_SEEDS
    return dict(tables=tables(table_seed, BATCH_SCALE), table_seed=table_seed,
                rows=BATCH_ROWS, passes=BATCH_PASSES)


# ---- the measuring JVM ----------------------------------------------------

def launch(workload, run_dir, trace, seconds, jvm_opts, classpath, cpus):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # temporary files stay inside the checkout
    opts = jvm_opts + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = ["java"] + opts + ["-cp", classpath, "perfbench.Main", workload,
                             run_dir, str(trace), str(seconds)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and any load generator it started
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    res = os.path.join(run_dir, "result.json")
    if rc is None or not os.path.isfile(res):
        fail(f"{workload}: measuring JVM "
                 f"{'timed out' if rc is None else f'exited {rc}'} without a "
                 f"result; see {os.path.join(run_dir, 'jvm.log')}")
    with open(res) as f:
        return json.load(f)


# ---- correctness of the batch rows ------------------------------------------

def batch_digests(run_dir):
    import duckdb
    con = duckdb.connect()
    out = {}
    for row in os.listdir(os.path.join(run_dir, "out")):
        rel = con.sql(f"SELECT * FROM '{os.path.join(run_dir, 'out', row)}/*.parquet'")
        out[row] = stats.digest(list(rel.columns), rel.fetchall())
    return out


def check_batch(res, plan, run_dir):
    with open(os.path.join(HERE, "oracle", "digests.json")) as f:
        want = json.load(f)[str(plan["table_seed"])]
    got = batch_digests(run_dir)
    return [f"{row}: output digest {got.get(row)} != oracle {want.get(row)}"
            for row in BATCH_ROWS if want.get(row) is None or got.get(row) != want[row]]


# ---- metrics ---------------------------------------------------------------

def setup_s(res):
    """lookup: the median of its set-ups. batch: the session plus the
    warm-up pass, whose JIT and code generation are set-up the timed
    passes no longer pay, so that work moved there still shows."""
    if "setup_s" in res:
        return stats.median(res["setup_s"])
    return res["session_s"] + res["warm_s"]


def end_to_end(workload, res):
    """The seven end-to-end metrics, plus a report of how each latency
    tail was taken."""
    lat = res["latency_ms"]
    t, pct, n = stats.tail(lat)
    attempted, failed = res["attempted"], res["failed"]
    m = {
        "setup_s": (setup_s(res), "s"),
        "throughput_rps": (res["throughput_rps"], "1/s"),
        "latency_p50_ms": (stats.median(lat), "ms"),
        "latency_tail_ms": (t, "ms"),
        "ok_frac": ((attempted - failed) / attempted, "1"),
        "wall_s": (res["wall_s"], "s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    report = {"latency_tail": {"percentile": pct, "samples": n}}
    return m, report


def main():
    # a terminated run still stops the JVM it started (launch's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not build.program_present():
        fail("the graft engine's sources are not beside this directory; "
             "run from the root of a checkout of the repository")
    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    try:
        jvm_opts, classpath = build.ensure_built(os.path.join(WORK, "build.log"))
    except build.BuildError as e:
        fail(str(e))

    cpus = nproc()
    plan = plan_for(a.workload, a.seed, a.seconds, cpus)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)

    res = launch(a.workload, run_dir, a.trace, a.seconds, jvm_opts,
                 classpath, cpus)
    errors = list(res.get("errors", []))
    if res.get("correct") and a.workload == "batch":
        errors += check_batch(res, plan, run_dir)
    if res.get("correct") and a.workload == "lookup" and stats.backlog_grew(
            res["latency_ms"], res["open_s"] * 1000):
        errors.append("the open loop's backlog grew through the phase: the "
                      "fixed rate is not sustained, so its latencies are invalid")
    correct = bool(res.get("correct")) and not errors

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if correct:
        e2e, report = end_to_end(a.workload, res)
        if a.trace:
            spans = layers.load_spans(os.path.join(run_dir, "spans.jsonl"))
            metrics = layers.per_layer(a.workload, res, spans, cpus)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(OUT, f"spans-{tag}.jsonl"))
            report["traced_end_to_end"] = {k: v for k, (v, _) in e2e.items()}
            report["tracing_overhead"] = layers.overhead(
                os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace0.json"),
                report["traced_end_to_end"])
        else:
            metrics = e2e
            report["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        report["raw"] = {k: v for k, v in res.items() if not isinstance(v, list)}
        report["rows"] = res.get("rows", [])
        report["pass_ms"] = res.get("pass_ms", [])
        report["failures"] = res.get("failures", [])
        with open(os.path.join(OUT, tag + ".json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        for e in errors or ["run reported incorrect without detail"]:
            print(f"perfbench: {e}", file=sys.stderr)
        metrics = {}
    print(json.dumps({"correct": correct, "attempted": int(res.get("attempted", 1)),
                      "failed": int(res.get("failed", 0)), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
