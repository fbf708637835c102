"""Seeded call plans for the two workloads.

A plan is a list of passes, each an ordered list of public-function calls.
explore has one pass that the runner repeats; ingest has one
pass per step of a stream that keeps going, so every pass cleans new
batches against the state all earlier passes left behind. The seed picks
the calls and their arguments; the data never depends on it. Every pass of
a workload has the same shape (the same number of calls of each kind and
size), so seeds change which calls run, not how much work a pass holds.
"""
import random

WORKLOADS = ("explore", "ingest")

# Numeric columns per table, with the domain the generator (DataGen.scala)
# fills them from, for drawing ranges and explicit edges.
COLUMNS = {
    "lineitem": [("l_quantity", 1.0, 50.0), ("l_extendedprice", 900.0, 105000.0),
                 ("l_discount", 0.0, 0.1), ("l_tax", 0.0, 0.08)],
    "orders": [("o_totalprice", 0.0, 500000.0)],
    "customer": [("c_acctbal", -999.99, 9999.99)],
    "supplier": [("s_acctbal", -999.99, 9999.99)],
    "part": [("p_retailprice", 900.0, 2100.0), ("p_size", 1.0, 50.0)],
    "events": [("value", 0.01, 490.01)],
}

# The tables a multi-series call draws its N series from, how its bins are
# given and how many. The seed picks the public function, the column of each
# slot, the range and the edges; the tables scanned, whether a min/max job
# runs and the bin count stay fixed, so every seed's calls cost about the
# same (a call's cost grows with its bin count).
SERIES_CALLS = (
    (1, ["lineitem"], "edges", 8),
    (4, ["lineitem", "lineitem", "orders", "events"], "range", 20),
    (16, ["lineitem"] * 4 + ["orders"] * 4 + ["events"] * 4 + ["customer", "supplier", "part", "part"],
     "count", 10),
)
SERIES_APIS = ("hist", "distplot", "pandasHistogram", "builder")
BINS = 10

# Edge inputs, one call each per pass: a constant column (min == max) and a
# one-row frame.
EDGE_CALLS = (
    ["lineitem", "l_linenumber", "l_linenumber = 1"],
    ["orders", "o_totalprice", "o_orderkey = 7"],
)

# ingest: up to PASSES passes of one BATCH_DOCS-document batch each, from a
# seeded start id; the corpus holds 50,000 documents
INGEST_PASSES = 6
INGEST_BATCH_DOCS = 1000
INGEST_CORPUS = 50000

TABLES = {
    "explore": ["lineitem", "orders", "customer", "supplier", "part", "events"],
    "ingest": ["documents"],
}


def _bins(rng, mode, n, lo, hi):
    """n bins over the domain [lo, hi]: by count, by count over an explicit
    range inside the domain, or by n + 1 explicit, generally uneven, edges."""
    spec = {"bins": n, "range": None, "edges": None}
    width = hi - lo
    if mode == "range":
        spec["range"] = [round(lo + width * rng.uniform(0.0, 0.3), 2),
                         round(hi - width * rng.uniform(0.0, 0.3), 2)]
    elif mode == "edges":
        edges = set()
        while len(edges) < n + 1:
            edges.add(round(lo + width * rng.random(), 2))
        spec["edges"] = sorted(edges)
    return spec


def _explore(rng):
    calls = []
    for _, tables, mode, bins in SERIES_CALLS:
        picked = [(t,) + rng.choice(COLUMNS[t]) for t in tables]
        rng.shuffle(picked)
        call = {"api": rng.choice(SERIES_APIS), "series": [[t, c] for t, c, _, _ in picked]}
        call.update(_bins(rng, mode, bins, min(p[2] for p in picked), max(p[3] for p in picked)))
        calls.append(call)
    col = rng.choice(COLUMNS["lineitem"])[0]
    calls.append({"api": "histogram", "series": [["lineitem", col]], "bins": BINS})
    for series in EDGE_CALLS:
        calls.append({"api": "histogram", "series": [series], "bins": BINS})
    calls.append({"api": "histogramBy", "table": "events", "value": "value", "group": "event_type",
                  "bins": BINS})
    cols = [c for c, _, _ in COLUMNS["lineitem"]]
    calls.append({"api": "minMax", "table": "lineitem", "cols": rng.sample(cols, 2)})
    rng.shuffle(calls)
    return calls


def _ingest(rng):
    """Consecutive doc-id-monotone batches from a seeded start id. The stream
    starts with an empty registry; its prior corpus is what it has ingested,
    so a pass's work does not depend on where the seed starts it."""
    span = INGEST_PASSES * INGEST_BATCH_DOCS
    start = rng.randrange(0, INGEST_CORPUS - span + 1, 100)
    return [[{"api": "ingest", "lo": start + p * INGEST_BATCH_DOCS,
              "hi": start + (p + 1) * INGEST_BATCH_DOCS}] for p in range(INGEST_PASSES)]


def make_plan(workload, seed):
    """The passes (lists of calls) of `workload` under `seed`."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "ingest":
        return _ingest(rng)
    return [_explore(rng)]
