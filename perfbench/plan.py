"""Seeded inputs of one benchmark run.

Everything the seed decides is derived here from SHA-256 of the seed and a
label, so the same seed gives the same plan on every machine and Python
version. The JVM half receives the plan as JSON; the one rule it computes
itself (the order of a query pass or of a batch's reads) is mirrored in `pass_order`
and the orders it reports are checked against it.
"""
import hashlib

# ingest protocol constants (graft.MaintTick's key-slice protocol)
MAX_DAYS = 16          # base star keeps key % 128 >= MAX_DAYS; day i appends one slice
DROP_MOD = 4           # a document drop is 1/DROP_MOD of the corpus, re-keyed
ID_OFFSET = 1_000_000  # drop i re-keys doc_id + (i + 1) * ID_OFFSET
# what each batch reads: the star queries served by the maintained layouts,
# and the band index with its streamed deltas
READS = ("q73_bucketed_brand_revenue", "q74_zorder_slice", "q77_hilbert_slice", "band_probe")


def _h(seed, *label):
    text = ":".join(str(x) for x in (seed,) + label)
    return hashlib.sha256(text.encode()).hexdigest()


def pass_order(seed, pass_no, names):
    """Order of one timed pass (of a batch's reads on ingest): names sorted by
    SHA-256("seed:pass:name")."""
    return sorted(names, key=lambda n: _h(seed, pass_no, n))


def ingest_plan(seed, read_rounds):
    """Key slices and document drops of the ingest workload. Each batch reads
    READS `read_rounds` times; round r of batch d runs in
    `pass_order(seed, d * read_rounds + r, READS)`."""
    slices = sorted(range(MAX_DAYS), key=lambda i: _h(seed, "slice", i))
    residues = sorted(range(DROP_MOD), key=lambda r: _h(seed, "drop", r))
    return {
        "max_days": MAX_DAYS,
        "slices": slices,
        "drop_mult": 2 * (int(_h(seed, "mult"), 16) % 8) + 1,  # odd: a bijection mod 4
        "drop_add": int(_h(seed, "add"), 16) % DROP_MOD,
        "drop_mod": DROP_MOD,
        "drop_res": [residues[d % DROP_MOD] for d in range(MAX_DAYS)],
        "id_offset": ID_OFFSET,
        "reads": list(READS),
        "read_rounds": read_rounds,
    }
