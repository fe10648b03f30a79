"""Pure functions of the benchmark: seeded inputs, percentiles, the failure
classifier, SSE parsing and the self-time arithmetic over trace spans.
run.py does the I/O; test_benchlib.py tests everything here."""
import json
import math
import random
import statistics

# ---------------------------------------------------------------- workloads

# The suite pass: a subset of SparkEntry.queries plus the three x300 scale
# rows of Bench.scaleNamed. A pass over all 112 queries takes over a minute
# warm at 4 cores, more than one run may last, so the subset keeps one query
# per relational family (scan-filter, join, aggregate), the vector top-k,
# the query with the known codegen fallback (dd4) and a chain of eager jobs
# inside one operator (c9); the scale rows carry the kernels.
SUITE_QUERIES = [
    "p3_conj_filter", "j1_dim_join", "a3_orders_per_month", "v1_cosine_topk",
    "dd4_simhash", "c9_quality_lr_train",
]
SCALE_ROWS = ["x300_c3_quality_lr", "x300_dd2_minhash_index", "x300_t13_score"]
SUITE_OPS = SUITE_QUERIES + SCALE_ROWS

# /query questions: the stub planner answers [Qn] with this SQL over the
# table uploaded as QUERY_DF. Integer-exact aggregates, so the streamed
# result can be compared with DuckDB value for value.
QUERY_DF = "q_orders"
QUESTIONS = [
    ("How many orders and customers per order status?",
     "SELECT o_orderstatus, count(*) AS n, count(DISTINCT o_custkey) AS customers "
     "FROM q_orders GROUP BY o_orderstatus"),
    ("How many orders per priority?",
     "SELECT o_orderpriority, count(*) AS n FROM q_orders GROUP BY o_orderpriority"),
    ("How many orders were placed each year?",
     "SELECT year(o_orderdate) AS yr, count(*) AS n FROM q_orders "
     "GROUP BY year(o_orderdate)"),
    ("Which status and priority do large orders have?",
     "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM q_orders "
     "WHERE o_totalprice > 250000 GROUP BY o_orderstatus, o_orderpriority"),
    ("How many orders per month in 1998?",
     "SELECT month(o_orderdate) AS mon, count(*) AS n FROM q_orders "
     "WHERE year(o_orderdate) = 1998 GROUP BY month(o_orderdate)"),
]

# write leg: the client's own copy of `orders`, rewritten in place by one
# /execute over the view `df`
WRITES = [
    "SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS max_price "
    "FROM df GROUP BY o_orderstatus",
    "SELECT o_orderpriority, count(*) AS n FROM df WHERE o_totalprice > 250000 "
    "GROUP BY o_orderpriority",
    "SELECT o_custkey, count(*) AS n FROM df GROUP BY o_custkey "
    "ORDER BY n DESC, o_custkey LIMIT 20",
]

# stateless /execute: the oracle SQL of the relational queries (the p, j,
# a, w, o, d, f, s families of SparkEntry.queries) that the validator
# accepts, less the statements whose DuckDB dialect Spark cannot run
STATEMENT_PATTERN = "[pjawodfs][0-9]+_.*"
EXCLUDE = {
    # DuckDB's regexp_replace(s, p, r, 'g') flag is Spark's position
    # argument: Spark fails with CAST_INVALID_INPUT at run time
    "f6_string_ops",
}
EXECUTES_PER_CYCLE = 4
MAX_PASSES = 400


def make_inputs(workload, seed, clients=4):
    """Everything a run's program sees beyond the fixed corpus, as a pure
    function of (workload, seed, clients)."""
    rng = random.Random(f"{workload}:{seed}")

    def perm(xs):
        xs = list(xs)
        rng.shuffle(xs)
        return xs

    if workload == "suite":
        return {"queries": SUITE_QUERIES, "rows": SCALE_ROWS, "warmup": perm(SUITE_OPS),
                "passes": [perm(SUITE_OPS) for _ in range(MAX_PASSES)]}
    if workload == "serve":
        questions = [{"tag": f"Q{i}", "text": t, "sql": s}
                     for i, (t, s) in enumerate(QUESTIONS)]

        def script(n, skip):
            """n cycles of /query, EXECUTES_PER_CYCLE /execute, write leg;
            the first `skip` ops dropped so the clients start out of step.
            Questions and writes cycle through a seeded order, so every run
            asks each about equally often."""
            qs, ws = perm(range(len(QUESTIONS))), perm(range(len(WRITES)))
            ops = []
            for c in range(n):
                ops.append({"kind": "query", "cycle": c, "question": qs[c % len(qs)]})
                ops += [{"kind": "execute", "cycle": c, "pos": c * EXECUTES_PER_CYCLE + j}
                        for j in range(EXECUTES_PER_CYCLE)]
                ops.append({"kind": "write", "cycle": c, "write": ws[c % len(ws)]})
            return ops[skip:]

        return {
            "clients": clients, "query_df": QUERY_DF,
            "questions": questions,
            "writes": [{"sql": s} for s in WRITES],
            "statement_pattern": STATEMENT_PATTERN, "exclude": sorted(EXCLUDE),
            # statement i (in name order) is executed in the order of its key
            "order_keys": [rng.random() for _ in range(256)],
            # set-up warms each path once: a /query, an /execute, a write leg
            "warmup": [[op for op in script(1, 0) if op["kind"] != "execute"
                        or op["pos"] == 0]],
            "scripts": [script(MAX_PASSES, k) for k in range(clients)],
        }
    raise ValueError(f"unknown workload {workload}")


# -------------------------------------------------------------- statistics

TAIL_MIN = 10


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank percentile; a tail percentile (p > 50) is reported only
    when at least TAIL_MIN samples lie beyond it, else None."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    if p > 50 and len(s) - rank < TAIL_MIN:
        return None
    return s[rank - 1]


# ------------------------------------------------------ failure classifier

def parse_sse(text):
    """[(event, data)] from a text/event-stream body."""
    events = []
    for block in text.replace("\r\n", "\n").split("\n\n"):
        ev, data = "message", []
        for line in block.split("\n"):
            if line.startswith("event:"):
                ev = line[6:].strip()
            elif line.startswith("data:"):
                data.append(line[5:].lstrip())
        if data or ev != "message":
            events.append((ev, "\n".join(data)))
    return events


def classify(status, body, sse=False):
    """None for a good response, else the reason it failed. A response fails
    on a non-2xx status (503 is the admission gate's refusal), a JSON body
    whose TOP-LEVEL object has an `error` key, or an SSE `error` event.
    Bodies are parsed, never substring-matched: result rows may themselves
    hold the text "error" (e.g. events.event_type)."""
    if status == 503:
        return "rejected"
    if not 200 <= status < 300:
        return f"status {status}"
    if sse:
        events = parse_sse(body)
        if any(ev == "error" for ev, _ in events):
            return "sse error event"
        if not any(ev == "result" for ev, _ in events):
            return "no result event"
        return None
    try:
        doc = json.loads(body)
    except ValueError:
        return "body is not JSON"
    if isinstance(doc, dict) and "error" in doc:
        return "error key"
    return None


# ------------------------------------------------------------- self time

def layer_of(name):
    return name.split(".", 1)[0]


def assign_parents(spans, parent_names):
    """Listener spans arrive with parent 0: give each the innermost span
    named in `parent_names` that contains its midpoint (and, when the span
    carries a request label, has the same one). Spans: dicts with id,
    parent, name, req, start, end; start < 0 marks a duration-only span."""
    hosts = [s for s in spans if s["name"] in parent_names and s["start"] >= 0]
    for s in spans:
        if s["parent"] or s["start"] < 0 or s["name"] in parent_names:
            continue
        mid = (s["start"] + s["end"]) / 2
        best = None
        for h in hosts:
            if h["start"] <= mid <= h["end"] and (not s["req"] or not h["req"]
                                                  or h["req"] == s["req"]
                                                  or h["name"] == "harness.timed"):
                if best is None or h["end"] - h["start"] < best["end"] - best["start"]:
                    best = h
        if best is not None:
            s["parent"] = best["id"]
    return spans


def _intersect(ivs, a, b):
    return [(max(x, a), min(y, b)) for x, y in ivs if min(y, b) > max(x, a)]


def _length(ivs):
    return sum(b - a for a, b in ivs)


def _subtract(ivs, cut):
    """ivs minus the union of `cut` (both lists of disjoint-or-not intervals)."""
    out = []
    cut = sorted(cut)
    for a, b in ivs:
        cur = a
        for x, y in cut:
            if y <= cur or x >= b:
                continue
            if x > cur:
                out.append((cur, x))
            cur = max(cur, y)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def self_times(spans, root_id):
    """Exact partition of the root span's wall time into per-layer self
    time. Each span owns the part of its interval its parent owned and no
    later-starting sibling claimed; its self time is what it owns minus what
    its children own. Duration-only children (compile time) take their
    duration out of the parent's self time, capped by it. The returned
    layer totals therefore sum to the root's duration exactly."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    root = next(s for s in spans if s["id"] == root_id)
    totals = {}

    def visit(span, owned):
        kids = by_parent.get(span["id"], [])
        timed = sorted((k for k in kids if k["start"] >= 0),
                       key=lambda k: k["start"], reverse=True)
        claimed = []
        for k in timed:  # later-starting children win overlaps
            region = _subtract(_intersect(owned, k["start"], k["end"]), claimed)
            if region:
                claimed.extend(region)
                visit(k, region)
        own = _length(_subtract(owned, claimed))
        for k in kids:
            if k["start"] < 0:
                take = min(k["end"], own)
                own -= take
                totals[layer_of(k["name"])] = totals.get(layer_of(k["name"]), 0) + take
        totals[layer_of(span["name"])] = totals.get(layer_of(span["name"]), 0) + own

    visit(root, [(root["start"], root["end"])])
    return totals
