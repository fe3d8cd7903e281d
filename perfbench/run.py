"""graft's benchmark: one command that builds the program, runs one workload,
checks its outputs against DuckDB and prints every metric by name and unit.

Usage (from the checkout root):
  python3 perfbench/run.py --workload query_sf0.01 --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import build
import metrics
import oracle
import plan as planlib

# workload name → what the JVM runs. The query workload times every query of
# its modules and the named ones (the two sketch queries of Relational, held
# to their error bounds); the ingest workload's batches are set out in plan.py.
WORKLOADS = {
    "query_sf0.01": {"workload": "query",
                     "modules": ["warehouse", "bandjoin", "multimodal",
                                 "textops", "pipelineops", "vectorops"],
                     "queries": list(oracle.SKETCHES)},
    "ingest_sf0.01": {"workload": "ingest"},
}
DATA = Path("perfbench") / "data" / "sf0.01"
CORES = len(os.sched_getaffinity(0))  # Spark local[n], n = nproc
VERIFY_THREADS = 2 * CORES  # the verification pass: planning is single-threaded per query
HEAP = "2g"
JVM_TIMEOUT_S = 170  # a run must end within 180 s
INGEST_READ_ROUNDS = 8  # 32 reads per batch
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def _die_with_parent():
    """In the JVM's process: receive SIGKILL when this process ends, however it ends."""
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_jvm(cp, plan_path, run_dir, timeout):
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", cp, "graft.perfbench.Main", str(plan_path)])
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                preexec_fn=_die_with_parent)
        try:
            rc = proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark JVM exited with {rc}")


def data_stamp(data):
    """Content hash of the input tables and of the fingerprint code: oracle
    results are memoized under it."""
    h = hashlib.sha256(Path(oracle.__file__).read_bytes())
    for f in sorted(data.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def cache_dir(parent, key):
    """`parent/key`, after removing the entries of `parent` under other keys."""
    for old in parent.glob("*"):
        if old.name != key:
            shutil.rmtree(old, ignore_errors=True)
    return parent / key


def check(con, name, got, sql, memo):
    """None when the output `got` of query `name` passes its check, else a reason."""
    if name in oracle.SKETCHES:
        return oracle.check_sketch(con, name, got)
    if sql is None:
        return "no oracle"
    return oracle.compare(got, oracle.expected(con, sql, memo))


def verify_queries(res, data, cache, run_dir):
    """Check each verified query output; returns name → (reason or None, rows)."""
    con = oracle.connect(data)
    checked = {}
    for v in res["verify"]:
        name = v["name"]
        if v["error"]:
            checked[name] = (v["error"], 0)
            continue
        got = oracle.spark_output(con, v["dir"])
        sql = res["oracles"].get(name)
        # oracles that read this run's persisted indexes are not memoized
        memo = None if sql is None or str(run_dir.parent) in sql else cache
        checked[name] = (check(con, name, got, sql, memo), len(got[1]))
    return checked


def verify_ingest(res, data, ing, cache):
    """Check each read of each state; returns (batch, name) → (reason or None, rows)."""
    rebuilt = {b["day"] for b in res["batches"] if b["rebuilt"]}
    slices = ing["slices"]
    checked = {}
    cons = {}
    for v in res["verify"]:
        b, name = v["batch"], v["name"]
        if v["error"]:
            checked[(b, name)] = (v["error"], 0)
            continue
        if b not in cons:
            views = oracle.ingest_views(data, ing["max_days"], slices[:b + 1])
            state = hashlib.sha256(json.dumps(views, sort_keys=True).encode()).hexdigest()[:16]
            cons[b] = (oracle.connect(data, views), cache / f"ingest-{state}")
        con, memo = cons[b]
        got = oracle.spark_output(con, v["dir"])
        if name == "band_probe":
            gen = max((d for d in rebuilt if d <= b), default=-1)
            sql = oracle.band_probe_sql(ing, list(range(gen + 1)), list(range(gen + 1, b + 1)))
        else:
            sql = res["oracles"].get(name)
        checked[(b, name)] = (check(con, name, got, sql, memo), len(got[1]))
    for con, _ in cons.values():
        con.close()
    return checked


def recall(con, got_dir, exact_dir):
    """Share of the exact (q_id, neighbor_id) pairs the approximate search found."""
    pairs = "SELECT DISTINCT q_id, neighbor_id FROM read_parquet('{}/*.parquet')"
    got, exact = pairs.format(got_dir), pairs.format(exact_dir)
    n = con.execute(f"SELECT COUNT(*) FROM ({exact})").fetchone()[0]
    hit = con.execute(f"SELECT COUNT(*) FROM (({got}) INTERSECT ({exact}))").fetchone()[0]
    return hit / n if n else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd().resolve()
    if not (root / "src" / "main" / "scala").is_dir():
        fail("run from the root of a graft checkout (src/main/scala not found)")
    data = (root / DATA).resolve()
    if not data.is_dir():
        fail(f"input tables not found at {DATA}")
    started = time.time()
    cp, stamp = build.ensure(root)

    work = root / ".bench_work"
    target = build.target_root(root)
    for stale in list(work.glob("run-*")) + [target]:
        shutil.rmtree(stale, ignore_errors=True)
    run_dir = work / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    spec = WORKLOADS[args.workload]
    workload = spec["workload"]
    try:
        p = {"workload": workload, "seed": args.seed, "seconds": args.seconds,
             "trace": bool(args.trace), "cores": CORES, "verify_threads": VERIFY_THREADS,
             "data": str(data), "work": str(run_dir), "target": str(target),
             "out": str(run_dir / "result.json"), "spans": str(run_dir / "spans.jsonl")}
        if workload == "ingest":
            p["ingest"] = planlib.ingest_plan(args.seed, INGEST_READ_ROUNDS)
            # the base star depends on the input, the protocol and graft's code
            p["base_cache"] = str(cache_dir(work / "base-cache", hashlib.sha256(
                f"{data_stamp(data)}|{planlib.MAX_DAYS}|{stamp}".encode()).hexdigest()[:16]))
        else:
            p["modules"], p["queries"] = spec["modules"], spec["queries"]
        plan_path = run_dir / "plan.json"
        plan_path.write_text(json.dumps(p))
        run_jvm(cp, plan_path, run_dir, max(30, JVM_TIMEOUT_S - (time.time() - started)))
        res = json.loads((run_dir / "result.json").read_text())
        report(args, workload, p, res, data, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)


def report(args, workload, p, res, data, run_dir):
    ops = res["ops"]
    problems = []
    cache = cache_dir(run_dir.parent / "oracle-cache", data_stamp(data))
    if workload == "ingest":
        checked = verify_ingest(res, data, p["ingest"], cache)
        day_of = {b["id"]: b["day"] for b in res["batches"]}
        timed = [o for o in ops if o["kind"] in ("read", "step")]
        wrong = {k: r for k, (r, _) in checked.items() if r}
        bad_layouts = [k for k, ok in res["fidelity"].items() if not ok]
        # a read is wrong when the check of the state it followed failed
        failed = sum(1 for o in timed if o["error"] or
                     (day_of[o["parent"]], o["name"]) in wrong)
        failed += len(bad_layouts) + sum(1 for (b, _) in wrong if b < 0)
        problems += [f"batch {b} {n}: {r}" for (b, n), r in wrong.items()] + \
            [f"layout {k} differs from its source" for k in bad_layouts]
        rows_of = {k: n for k, (_, n) in checked.items()}
        result_rows = sum(rows_of.get((day_of[o["parent"]], o["name"]), 0)
                          for o in timed if o["kind"] == "read")
        names = sorted({n for (_, n) in checked})
    else:
        checked = verify_queries(res, data, cache, run_dir)
        res["source_rows"] = sum(oracle.duckdb.execute(
            f"SELECT COUNT(*) FROM read_parquet('{f}')").fetchone()[0]
            for f in data.glob("*.parquet"))
        timed = [o for o in ops if o["kind"] == "query"]
        wrong = {n: r for n, (r, _) in checked.items() if r}
        failed = sum(1 for o in timed if o["error"] or o["name"] in wrong)
        problems += [f"{n}: {r}" for n, r in wrong.items()]
        rows_of = {n: c[1] for n, c in checked.items()}
        result_rows = sum(rows_of.get(o["name"], 0) for o in timed)
        names = sorted(checked)
    attempted = len(timed)
    for i, order in enumerate(res["orders"]):
        if order != planlib.pass_order(args.seed, i, names):
            problems.append(f"pass {i} order differs from the seeded plan")
            failed = attempted
    failed = min(failed, attempted)
    for msg in problems:
        print(f"perfbench: WRONG {msg}")
    if args.trace:
        spans = [json.loads(line) for line in
                 (run_dir / "spans.jsonl").read_text().splitlines() if line]
        quality = {}
        if "lsh" in res:
            con = oracle.connect(data)
            cand = res["lsh"]["cand_pairs"]
            quality["pairs_per_cand"] = rows_of.get("q42_lsh_neardup", 0) / cand if cand else 0.0
            q = run_dir / "quality"
            quality["ivf_recall_at10"] = recall(con, q / "ivf10", q / "exact10")
            v = {x["name"]: x["dir"] for x in res["verify"]}
            quality["pq_recall_at3"] = recall(con, v["q66_pq_ann"], v["q40_cosine_topk"])
        values = metrics.per_layer(res, spans, quality, result_rows)
        print(f"perfbench: {args.workload} seed={args.seed} traced "
              f"timed_s={metrics.timed_seconds(ops):.6f}")
    else:
        values, info = metrics.end_to_end(workload, res, failed, attempted)
        print(f"perfbench: {args.workload} seed={args.seed} "
              f"timed_s={metrics.timed_seconds(ops):.6f} latency samples="
              f"{info['latency_samples']} tail=p{info['tail_percentile']} "
              f"error_rate={info['error_rate']:.4f} setup: session={res['setup']['session_s']:.2f}s "
              f"builds={res['setup']['build_s']:.2f}s warmup={res['warmup_s']:.2f}s")
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
