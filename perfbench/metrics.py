"""Output checks and metric assembly over the harness's result.json."""
import json
from pathlib import Path

import duckdb

import benchlib
from benchlib import median

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PINS = Path(__file__).resolve().parent / "pins.json"

# name -> (unit, better); every traced run reports all of them, 0 where the
# workload does not reach the layer
PER_LAYER = {
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.build_share": ("ratio", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "codegen.compile_s": ("s", "lower"),
    "codegen.classes": ("count", "lower"),
    "codegen.fallbacks": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_run_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "kernels.quality_lr_s": ("s", "lower"),
    "kernels.minhash_index_s": ("s", "lower"),
    "kernels.surprisal_score_s": ("s", "lower"),
    "validator.validate_ms": ("ms", "lower"),
    "session.analyze_ms": ("ms", "lower"),
    "api.records_ms": ("ms", "lower"),
    "profile.summary_ms": ("ms", "lower"),
    "api.execute_wait_ms": ("ms", "lower"),
    "api.query_p50_ms": ("ms", "lower"),
    "agents.profile_ms": ("ms", "lower"),
    "agents.route_ms": ("ms", "lower"),
    "agents.exec_ms": ("ms", "lower"),
    "api.result_ms": ("ms", "lower"),
    "agents.llm_calls": ("count", "lower"),
    "spark.jobs_per_query": ("count", "lower"),
    "spark.jobs_per_execute": ("count", "lower"),
    "cache.write_ms": ("ms", "lower"),
    "api.rejected": ("count", "lower"),
    "api.errors": ("count", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.heap_peak_mb": ("MB", "lower"),
}
SELF_LAYERS = ["harness", "operators", "catalyst", "codegen", "spark",
               "agents", "api", "cache"]
for _l in SELF_LAYERS:
    PER_LAYER[f"{_l}.self_share"] = ("ratio", "lower")

END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "op_mean_ms": ("ms", "lower"),
    "query_mean_ms": ("ms", "lower"),
    "heap_live_mb": ("MB", "lower"),
}


def _m(name, value, table):
    return {"value": float(value), "unit": table[name][0]}


def duck(data):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


# ---------------------------------------------------------------- checks

def _suite_check(res, data, report):
    """Row count + order-independent hash per query, DuckDB oracle against
    the program's parquet dump (the rule of the repo's tools/check_agg.py)."""
    con = duck(data)
    bad = 0
    for q in benchlib.SUITE_QUERIES:
        sql = res["oracle_sql"].get(q)
        if sql is None:
            exp, act = "no oracle SQL", None
        else:
            cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
            cl = ", ".join(f'"{c}"' for c in cols)
            dig = "SELECT count(*), sum(hash({cl})::HUGEINT) FROM ({q})"
            try:
                exp = con.execute(dig.format(cl=cl, q=sql)).fetchone()
                act = con.execute(dig.format(cl=cl, q=(
                    f"SELECT {cl} FROM read_parquet('{res['suite_out']}/{q}/*.parquet')"))).fetchone()
            except duckdb.Error as e:
                exp, act = "oracle", f"error: {e}"
        if exp != act:
            bad += 1
            report.append(f"check FAIL {q}: oracle {exp} program {act}")
    n = len(benchlib.SUITE_QUERIES)
    report.append(f"check suite: {n - bad}/{n} queries match the DuckDB oracle")
    return bad == 0


def _scale_check(res, report):
    pins = json.loads(PINS.read_text())
    ok = True
    for d in res["digests"]:
        pin = pins.get(d["op"])
        if pin != {"rows": d["rows"], "hash": d["hash"]}:
            ok = False
            report.append(f"check FAIL {d['op']}: pinned {pin} got rows={d['rows']} hash={d['hash']}")
    report.append(f"check scale: {len(res['digests'])} row digests "
                  f"{'match' if ok else 'DO NOT match'} the pins")
    return ok


def _rows(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _norm(v):
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v


def _serve_check(res, data, report):
    """Every /execute preview has the statement's columns and min(100, rows)
    rows; every /query stream has its stage events in chain order and a
    result equal to the planner SQL's rows; every write leg answers."""
    con = duck(data)
    con.execute(f"CREATE VIEW {benchlib.QUERY_DF} AS SELECT * FROM orders")
    con.execute("CREATE VIEW df AS SELECT * FROM orders")
    expect = {}

    def shape(sql):
        if sql not in expect:
            expect[sql] = _rows(con, sql)
        return expect[sql]

    questions = {i: s for i, (_, s) in enumerate(benchlib.QUESTIONS)}
    chain = ["expert_selector", "analyst_selector", "planner", "summarizer"]
    wrong = 0
    for op in res["ops"]:
        why = None
        if op["kind"] in ("execute", "write"):
            # a write leg's preview is its second call, the /execute
            status, body = ((op["status2"], op["body2"]) if op["kind"] == "write"
                            else (op["status"], op["body"]))
            if benchlib.classify(status, body) is None:
                cols, rows = shape(op["sql"])
                doc = json.loads(body)
                if doc["columns"] != cols or len(doc["data"]) != min(100, len(rows)):
                    why = (f"{op.get('stmt', 'write leg')}: columns {doc['columns']} rows "
                           f"{len(doc['data'])}, expected {cols} rows {min(100, len(rows))}")
        elif op["kind"] == "query" and benchlib.classify(op["status"], op["body"], sse=True) is None:
            events = benchlib.parse_sse(op["body"])
            stages = [json.loads(d)["stage"] for e, d in events if e == "stage"]
            result = [json.loads(d) for e, d in events if e == "result"][0]
            cols, rows = shape(questions[op["question"]])
            got = sorted(tuple(_norm(r.get(c)) for c in cols) for r in result["data"])
            want = sorted(tuple(_norm(v) for v in r) for r in rows)
            if stages != chain:
                why = f"query {op['rid']}: stages {stages}"
            elif (result["columns"] != cols or [e for e, _ in events][-1] != "result"
                  or got != want):
                why = f"query {op['rid']}: result rows differ from the planner SQL"
        if why:
            wrong += 1
            if wrong <= 5:
                report.append(f"check FAIL {why}")
    report.append(f"check serve: {len(res['ops']) - wrong}/{len(res['ops'])} "
                  f"operations have correct outputs")
    return wrong == 0


def _serve_failures(ops):
    """(attempted, failed, rejected) HTTP requests; a write leg is two."""
    att = fail = rej = 0
    for op in ops:
        calls = [(op["status"], op["body"], op["kind"] == "query")]
        if op["kind"] == "write":
            calls.append((op["status2"], op["body2"], False))
        for status, body, sse in calls:
            att += 1
            why = benchlib.classify(status, body, sse)
            fail += why is not None
            rej += why == "rejected"
    return att, fail, rej


def check(workload, res, data):
    report = []
    if workload == "suite":
        queries_ok = _suite_check(res, data, report)
        ok = _scale_check(res, report) and queries_ok
        att, failed = len(res["samples"]), sum("error" in s for s in res["samples"])
    else:
        ok = _serve_check(res, data, report)
        att, failed, _ = _serve_failures(res["ops"])
    for s in res.get("samples", []):
        if "error" in s:
            report.append(f"op FAILED {s['op']}: {s['error'][:300]}")
    report.append(f"operations: {att} attempted, {failed} failed")
    return {"correct": bool(ok and failed == 0 and att > 0), "attempted": att,
            "failed": failed, "report": report}


# --------------------------------------------------------------- metrics

def _op_ms(s):
    return (s["build_us"] + s["action_us"]) / 1e3


def _cycles(ops):
    """Wall seconds of each complete client cycle (all of its ops ran)."""
    by_cycle = {}
    for op in ops:
        by_cycle.setdefault((op["client"], op["cycle"]), []).append(op)
    size = 2 + benchlib.EXECUTES_PER_CYCLE
    return [(max(o["t1"] for o in c) - min(o["t0"] for o in c)) / 1e6
            for c in by_cycle.values() if len(c) == size]


def end_to_end(workload, res):
    """The end-to-end metrics, and report lines with the latency percentiles
    and pass (suite) or cycle (serve) walls behind them."""
    if workload == "suite":
        ok = [s for s in res["samples"] if "error" not in s]
        lat = [_op_ms(s) for s in ok]
        qlat = [_op_ms(s) for s in ok if s["op"] in benchlib.SUITE_QUERIES]
        done, walls, unit = len(lat), res["pass_s"], "pass"
    else:
        ok = [o for o in res["ops"] if o["kind"] != "write"
              and benchlib.classify(o["status"], o["body"], o["kind"] == "query") is None]
        lat = [(o["t1"] - o["t0"]) / 1e3 for o in ok if o["kind"] == "execute"]
        # sending /query to the arrival of its SSE result event
        qlat = [(o["t_result"] - o["t0"]) / 1e3 for o in ok if o["kind"] == "query"]
        att, fail, _ = _serve_failures(res["ops"])
        done, walls, unit = att - fail, _cycles(res["ops"]), "client cycle"
    m = {"setup_s": res["setup_s"], "ops_per_s": done / res["timed_s"],
         "op_mean_ms": sum(lat) / len(lat), "query_mean_ms": sum(qlat) / len(qlat),
         "heap_live_mb": res["heap_live_mb"]}
    report = []
    for name, xs in (("op", lat), ("query", qlat)):
        p90 = benchlib.percentile(xs, 90)
        report.append(
            f"{name} latency: n={len(xs)} p50={benchlib.percentile(xs, 50):.1f} ms p90=" +
            (f"{p90:.1f} ms" if p90 is not None else
             f"not reported (fewer than {benchlib.TAIL_MIN} samples beyond it)"))
    report.append(f"{unit} wall: n={len(walls)} median={median(walls) or 0:.3f} s")
    return {k: _m(k, v, END_TO_END) for k, v in m.items()}, report


def _counter_layers(v, get):
    """codegen.* and spark.* from one counter record: a suite pass, or the
    serve probe's single cycle."""
    v["codegen.compile_s"] = get("compile_ns") / 1e9
    v["codegen.classes"] = get("classes")
    v["codegen.fallbacks"] = get("fallbacks")
    for key in ("jobs", "stages", "tasks"):
        v[f"spark.{key}"] = get(key)
    v["spark.task_run_s"] = get("task_run_ms") / 1e3
    v["spark.task_cpu_s"] = get("task_cpu_ns") / 1e9
    v["spark.gc_s"] = get("task_gc_ms") / 1e3
    v["spark.shuffle_write_mb"] = get("shuffle_write_bytes") / 1048576
    v["spark.shuffle_read_mb"] = get("shuffle_read_bytes") / 1048576
    v["spark.spill_mb"] = get("spill_bytes") / 1048576


def _spans(res):
    return [dict(zip(["id", "parent", "name", "req", "start", "end"], s))
            for s in res["spans"]]


def _suite_layers(res, v, report):
    ok = [s for s in res["samples"] if "error" not in s]
    per_pass = len(benchlib.SUITE_OPS) / max(1, len(ok))  # run total -> per pass
    spans = benchlib.assign_parents(_spans(res), {
        "harness.timed", "harness.op", "operators.build", "spark.action"})
    build_s = sum(s["build_us"] for s in ok) / 1e6
    action_s = sum(s["action_us"] for s in ok) / 1e6
    v["operators.build_share"] = build_s / (build_s + action_s)
    # per pass: the sum over operations of each one's median
    by_op = {}
    for s in ok:
        by_op.setdefault(s["op"], []).append(s["build_us"] / 1e6)
    v["operators.build_s"] = sum(median(b) for b in by_op.values())
    jobs_in = {}
    for s in spans:
        if s["name"] == "spark.job":
            jobs_in[s["parent"]] = jobs_in.get(s["parent"], 0) + 1
    build_jobs = {}
    for s in spans:
        if s["name"] == "operators.build":
            build_jobs.setdefault(s["req"], []).append(jobs_in.get(s["id"], 0))
    v["operators.build_jobs"] = sum(median(j) for j in build_jobs.values())
    for ph in ("analysis", "optimization", "planning"):
        v[f"catalyst.{ph}_s"] = per_pass * sum(
            s["end"] - s["start"] for s in spans if s["name"] == f"catalyst.{ph}"
            and s["parent"]) / 1e6
    pcs = res["pass_counters"] or [res["counters"]]
    _counter_layers(v, lambda key: median([c[key] for c in pcs]))
    for row, key in zip(benchlib.SCALE_ROWS, ["quality_lr", "minhash_index", "surprisal_score"]):
        v[f"kernels.{key}_s"] = median([_op_ms(s) / 1e3 for s in ok if s["op"] == row])
    root = next(s for s in spans if s["name"] == "harness.timed")
    totals = benchlib.self_times(spans, root["id"])
    # offenders, per execution of each operation
    runs = {}
    for s in ok:
        r = runs.setdefault(s["op"], [0, 0.0])
        r[0] += 1
        r[1] += s["build_us"] / 1e6
    builds = sorted(((b / n, q) for q, (n, b) in runs.items()), reverse=True)[:5]
    jobs = sorted(((j["jobs"] / runs[j["op"]][0], j["op"]) for j in res["jobs_by_op"]
                   if j["op"] in runs), reverse=True)[:5]
    report.append("top-5 operators.build_s: " + ", ".join(f"{q} {b:.3f}s" for b, q in builds))
    report.append("top-5 spark.jobs: " + ", ".join(f"{q} {j:g}" for j, q in jobs))
    return totals, (root["end"] - root["start"]) / 1e6


def _serve_layers(res, v):
    ops = res["ops"]
    probe = res["probe"]
    direct = probe["direct"]["statements"]
    svc = {d["stmt"]: d["analyze_ms"] + d["records_ms"] for d in direct}
    v["validator.validate_ms"] = median([d["validate_ms"] for d in direct])
    v["session.analyze_ms"] = median([d["analyze_ms"] - d["validate_ms"] for d in direct])
    v["api.records_ms"] = median([d["records_ms"] for d in direct])
    v["profile.summary_ms"] = probe["direct"]["profile_ms"]
    ex = [o for o in ops if o["kind"] == "execute"]
    v["api.execute_wait_ms"] = median([(o["t1"] - o["t0"]) / 1e3 - svc[o["stmt"]] for o in ex])
    marks = {m["rid"]: {c[0]: (c[1], c[2]) for c in m["calls"]} for m in res["marks"]}
    spans, nid = [], 0

    def add(parent, name, a, b):
        nonlocal nid
        nid += 1
        spans.append({"id": nid, "parent": parent, "name": name, "req": "",
                      "start": a, "end": b})
        return nid

    qspans = {k: [] for k in ("profile", "route", "exec", "result", "total")}
    roots = {}
    for c in sorted({o["client"] for o in ops}):
        end = max(o["t1"] for o in ops if o["client"] == c)
        roots[c] = add(0, "harness.client", res["timed_t0"], end)
    for o in ops:
        r = roots[o["client"]]
        if o["kind"] == "execute":
            add(r, "api.execute", o["t0"], o["t1"])
        elif o["kind"] == "write":
            add(r, "cache.write", o["t0"], o["t1"])
        else:
            m = marks.get(o["rid"], {})
            q = add(r, "harness.request", o["t0"], o["t1"])
            if all(s in m for s in ("expert_selector", "planner", "summarizer")) and o["t_result"] > 0:
                e, p, s = m["expert_selector"], m["planner"], m["summarizer"]
                add(q, "agents.profile", o["t0"], e[0])
                add(q, "agents.route", e[0], p[0])
                add(q, "agents.llm", p[0], p[1])
                add(q, "agents.exec", p[1], s[0])
                add(q, "agents.llm", s[0], s[1])
                add(q, "api.result", s[1], o["t_result"])
                add(q, "api.stream", o["t_result"], o["t1"])
                for key, a, b in (("profile", o["t0"], e[0]), ("route", e[0], p[0]),
                                  ("exec", p[1], s[0]), ("result", s[1], o["t_result"]),
                                  ("total", o["t0"], o["t_result"])):
                    qspans[key].append((b - a) / 1e3)
    v["agents.profile_ms"] = median(qspans["profile"])
    v["agents.route_ms"] = median(qspans["route"])
    v["agents.exec_ms"] = median(qspans["exec"])
    v["api.result_ms"] = median(qspans["result"])
    v["api.query_p50_ms"] = median(qspans["total"])
    v["agents.llm_calls"] = probe["llm_calls_per_query"]
    v["spark.jobs_per_query"] = probe["jobs_per_query"]
    v["spark.jobs_per_execute"] = probe["jobs_per_execute"]
    v["cache.write_ms"] = median([(o["t1"] - o["t0"]) / 1e3 for o in ops if o["kind"] == "write"])
    _, failed, rejected = _serve_failures(ops)
    v["api.rejected"] = rejected
    v["api.errors"] = failed - rejected
    _counter_layers(v, probe["cycle"].get)
    totals, wall = {}, 0.0
    for rid in roots.values():
        for layer, us in benchlib.self_times(spans, rid).items():
            totals[layer] = totals.get(layer, 0) + us
        root = spans[rid - 1]
        wall += (root["end"] - root["start"]) / 1e6
    return totals, wall


def per_layer(workload, res, cpus):
    v = {k: 0.0 for k in PER_LAYER}
    report = []
    if workload == "serve":
        totals, wall = _serve_layers(res, v)
    else:
        totals, wall = _suite_layers(res, v, report)
    v["spark.core_util"] = res["counters"]["task_run_ms"] / 1e3 / (res["timed_s"] * cpus)
    v["jvm.gc_s"] = res["counters"]["jvm_gc_ms"] / 1e3
    v["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    total_us = sum(totals.values())
    for layer in SELF_LAYERS:
        v[f"{layer}.self_share"] = totals.get(layer, 0) / total_us if total_us else 0.0
    report.append(f"self time over {wall:.3f} s of traced client wall: " + ", ".join(
        f"{layer} {us / 1e6:.3f} s" for layer, us in sorted(totals.items(), key=lambda x: -x[1])))
    report.append(f"self time sum {total_us / 1e6:.3f} s = traced wall {wall:.3f} s")
    return {k: _m(k, 0.0 if x is None else x, PER_LAYER) for k, x in v.items()}, report
