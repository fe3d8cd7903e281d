"""Metric arithmetic: the tail-percentile rule, span self times, and the
end-to-end and per-layer metrics of one run."""
import math
import statistics

MIN_BEYOND = 10  # a tail percentile needs at least this many samples beyond it


def tail_percentile(samples):
    """(p, value): the highest whole percentile p, nearest-rank, with at least
    MIN_BEYOND samples strictly greater than its value. With too few samples
    for any percentile the median is returned as p = 50."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        v = xs[max(0, math.ceil(p * n / 100) - 1)]
        if sum(1 for x in xs if x > v) >= MIN_BEYOND:
            return p, v
    return 50, statistics.median(xs)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(construct, sink, phases, jobs):
    """Split one op into construct / Catalyst / job / driver-gap seconds.

    `construct` and `sink` are (start, end) spans; `phases` are the Catalyst
    phase intervals of the sink's query execution and `jobs` the op's job
    intervals, all in microseconds. Catalyst time is the part of the sink its
    phases cover, job time the further part its jobs cover, and the driver gap
    the sink's self time: what neither covers."""
    s0, s1 = sink
    cat = clip(phases, s0, s1)
    covered = union_length(cat + clip(jobs, s0, s1))
    cat_us = union_length(cat)
    return {
        "construct_s": (construct[1] - construct[0]) / 1e6,
        "catalyst_s": cat_us / 1e6,
        "job_s": (covered - cat_us) / 1e6,
        "driver_gap_s": ((s1 - s0) - covered) / 1e6,
    }


def analyse_spans(spans):
    """Per-op self times and Spark counters from the span file's records."""
    ops = {s["op"]: s for s in spans if s["kind"] == "op"}
    construct = {s["op"]: (s["t0"], s["t1"]) for s in spans if s["kind"] == "construct"}
    sink = {s["op"]: (s["t0"], s["t1"]) for s in spans if s["kind"] == "sink"}
    # innermost op containing a time: steps and reads before their batch
    by_length = sorted(ops.values(), key=lambda o: o["t1"] - o["t0"])

    def op_at(t):
        return next((o["op"] for o in by_length if o["t0"] <= t <= o["t1"]), -1)

    job_op, jobs = {}, {}
    for s in spans:
        if s["kind"] == "job":
            op = s["op"] if s["op"] in ops else op_at(s["t0"])
            job_op[s["job"]] = op
            jobs.setdefault(op, []).append((s["t0"], s["t1"]))
    counters = {}
    for s in spans:
        if s["kind"] == "stage":
            op = job_op.get(s["job"], op_at(s["t0"]))
            c = counters.setdefault(op, {"stages": 0})
            c["stages"] += 1
            for k, v in s.items():
                if k not in ("kind", "stage", "job", "t0", "t1"):
                    c[k] = c.get(k, 0) + v
    phases = {}
    for s in spans:
        if s["kind"] == "catalyst" and s["phases"]:
            start = min(iv[0] for iv in s["phases"].values())
            op = next((o for o, (a, b) in sink.items() if a <= start <= b), None)
            if op is not None:
                phases.setdefault(op, []).extend(tuple(iv) for iv in s["phases"].values())
    out = {}
    for op, rec in ops.items():
        row = {"name": rec["name"], "module": rec["module"], "kind": rec["op_kind"],
               "parent": rec["parent"], "wall_s": (rec["t1"] - rec["t0"]) / 1e6,
               "jobs": len(jobs.get(op, []))}
        if op in sink:
            row.update(self_times(construct[op], sink[op], phases.get(op, []),
                                  jobs.get(op, [])))
        row.update(counters.get(op, {"stages": 0}))
        out[op] = row
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_seconds(ops):
    """Wall seconds of the timed loop: its queries, or its ingest batches."""
    return sum(o["wall_s"] for o in ops if o["kind"] in ("query", "batch"))


def kind_median(reads):
    """Mean over read kinds of each kind's median latency. The kinds differ in
    cost, so the median of all reads pooled would sit on the boundary between
    two kinds and jump between them from run to run."""
    by_kind = {}
    for o in reads:
        by_kind.setdefault(o["name"], []).append(o["wall_s"])
    return statistics.fmean(median(xs) for xs in by_kind.values())


def setup_seconds(res):
    """Session start, the cold structure builds and the warm-up (verification) pass."""
    return res["setup"]["session_s"] + res["setup"]["build_s"] + res["warmup_s"]


def end_to_end(workload, res, failed, attempted):
    """The end-to-end metrics of one untraced run, by name → (value, unit)."""
    ops = res["ops"]
    setup = res["setup"]
    if workload == "ingest":
        batches = [o for o in ops if o["kind"] == "batch"]
        reads = [o for o in ops if o["kind"] == "read"]
        lat = [o["wall_s"] for o in reads]
        p50 = kind_median(reads)
        ops_per_s = len(batches) / sum(o["wall_s"] for o in batches)
        write_s = sum(v for b in res["batches"] for k, v in b["steps"].items())
        rows = sum(b["delta_rows"] for b in res["batches"])
        written = sum(sum(b["written"].values()) for b in res["batches"])
        delta_bytes = sum(b["delta_bytes"] for b in res["batches"])
        ingest_rate, write_amp = rows / write_s, written / delta_bytes
    else:
        lat = [o["wall_s"] for o in ops if o["kind"] == "query"]
        p50 = median(lat)
        ops_per_s = len(lat) / sum(lat)
        ingest_rate = res["source_rows"] / setup["build_s"]
        write_amp = setup["bytes_written"] / res["source_bytes"]
    p, tail = tail_percentile(lat)
    return {
        "setup_s": (setup_seconds(res), "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail, "s"),
        "success_rate": (1.0 - failed / attempted, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "ingest_rows_per_s": (ingest_rate, "1/s"),
        "write_amp": (write_amp, "ratio"),
        "space_amp": (res["structure_bytes"] / res["end_source_bytes"], "ratio"),
    }, {"tail_percentile": p, "latency_samples": len(lat),
        "error_rate": failed / attempted}


MODULES = ("relational", "warehouse", "bandjoin", "multimodal", "textops", "pipelineops",
           "vectorops")
READS = {"q73": "q73_bucketed_brand_revenue", "q74": "q74_zorder_slice",
         "q77": "q77_hilbert_slice", "band_probe": "band_probe"}
STRUCTURES = ("bucketed", "zorder", "hilbert", "ivf", "pq", "band", "snapmerge", "lshcensus")


def per_layer(res, spans, quality, result_rows):
    """The per-layer metrics of one traced run, by name → (value, unit)."""
    rows = analyse_spans(spans)
    timed = [r for r in rows.values() if r["kind"] in ("query", "read", "step")]
    top = [r for r in rows.values() if r["kind"] in ("query", "batch")]
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    for mod in MODULES:
        rs = [r for r in timed if r["module"] == mod]
        put(f"{mod}.ops", len(rs), "count")
        put(f"{mod}.wall_s", sum(r["wall_s"] for r in rs), "s")
        for k in ("construct_s", "catalyst_s", "driver_gap_s"):
            put(f"{mod}.{k}", sum(r.get(k, 0.0) for r in rs), "s")
        put(f"{mod}.task_busy_s", sum(r.get("busy_ms", 0) for r in rs) / 1e3, "s")
        put(f"{mod}.stages", sum(r["stages"] for r in rs), "count")
        put(f"{mod}.shuffle_write_bytes", sum(r.get("shw_bytes", 0) for r in rs), "B")

    def tot(k):
        return sum(r.get(k, 0) for r in timed)

    wall = sum(r["wall_s"] for r in top)
    put("engine.jobs", tot("jobs"), "count")
    put("engine.stages", tot("stages"), "count")
    put("engine.tasks", tot("tasks"), "count")
    put("engine.task_busy_s", tot("busy_ms") / 1e3, "s")
    put("engine.task_cpu_s", tot("cpu_ns") / 1e9, "s")
    put("engine.task_wait_s", tot("wait_ms") / 1e3, "s")
    put("engine.core_util", tot("busy_ms") / 1e3 / (wall * res["cores"]), "ratio")
    put("shuffle.write_bytes", tot("shw_bytes"), "B")
    put("shuffle.write_records", tot("shw_records"), "count")
    put("shuffle.read_bytes", tot("shr_bytes"), "B")
    put("shuffle.fetch_wait_s", tot("fetch_wait_ms") / 1e3, "s")
    put("memory.spill_mem_bytes", tot("spill_mem"), "B")
    put("memory.spill_disk_bytes", tot("spill_disk"), "B")
    put("memory.gc_s", tot("gc_ms") / 1e3, "s")
    put("scan.input_bytes", tot("in_bytes"), "B")
    put("scan.input_rows", tot("in_rows"), "count")
    put("result.rows", result_rows, "count")

    put("setup.session_s", res["setup"]["session_s"], "s")
    put("setup.warmup_s", res["warmup_s"], "s")
    for st in STRUCTURES:
        put(f"setup.{st}_s", res["setup"].get(f"{st}_s", 0.0), "s")

    batches = res.get("batches", [])

    def steps(name):
        return sum(b["steps"].get(name, 0.0) for b in batches)

    def reads(name):
        return median([r["wall_s"] for r in timed if r["kind"] == "read" and r["name"] == name])

    put("ingest.source_write_s", steps("source_write"), "s")
    for layout in ("bucketed", "zorder", "hilbert"):
        put(f"ingest.append_{layout}_s", steps(f"append_{layout}"), "s")
    put("ingest.layout_bytes_written", sum(
        v for b in batches for k, v in b["written"].items()
        if k.startswith("append_") or k == "tick"), "B")
    put("ingest.layout_files", res.get("layout_files", 0), "count")
    put("ingest.probe_bloat", median([b["probe_bloat"] for b in batches
                                      if b.get("probe_bloat") is not None]), "ratio")
    put("maintenance.tick_s", steps("tick"), "s")
    put("maintenance.folds", sum(b["folds"] for b in batches), "count")
    put("streaming.band_batch_s", steps("band_stream"), "s")
    put("streaming.band_rebuilds", sum(1 for b in batches if b["rebuilt"]), "count")
    put("streaming.band_staleness", median([b["staleness"] for b in batches
                                            if "staleness" in b]), "ratio")
    for short, name in READS.items():
        put(f"read.{short}_s", reads(name), "s")

    lsh = res.get("lsh", {})
    put("lsh.cand_pairs", lsh.get("cand_pairs", 0), "count")
    put("lsh.max_cell", lsh.get("max_cell", 0), "count")
    put("dedup.pairs_per_cand", quality.get("pairs_per_cand", 0.0), "ratio")
    put("ivf.recall_at10", quality.get("ivf_recall_at10", 0.0), "ratio")
    put("pq.recall_at3", quality.get("pq_recall_at3", 0.0), "ratio")

    put("trace.drain_s", res["drain_s"], "s")
    put("trace.timed_s", wall, "s")
    return m
