"""Output checks that run after the workload JVM, against independent
answers: DuckDB over the stored parquet (query) and the registry's oracle
SQL with tools/check.py's canonicalisation (curation)."""
import contextlib
import datetime
import decimal
import io
import json
import math
import os
import re
import sys


def check_curation(result, run_dir, data_dir, repo_root):
    """Compare each entry's set-up dump with its oracle SQL. An entry that
    fails also counts its timed run as failed."""
    dump = os.path.join(run_dir, "curation", "dump")
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    import check
    buf = io.StringIO()
    argv = sys.argv
    sys.argv = ["check.py", data_dir, dump]
    try:
        with contextlib.redirect_stdout(buf):
            check.main()
    finally:
        sys.argv = argv
    report = buf.getvalue()
    bad = re.findall(r"^FAIL\s+(\S+?):", report, re.M)
    ok = re.findall(r"^OK\s+(\S+?):", report, re.M)
    result["info"]["oracle_ok"] = len(ok)
    for name in bad:
        result["failed"] += 2
        result["errors"].append(f"oracle mismatch: {name}")
    result["attempted"] += len(ok) + len(bad)


def _series(p):
    start_s, end_s = p["startNs"] // 10**9, p["endNs"] // 10**9
    step = max((end_s - start_s) // 15, 1)
    return start_s - start_s % step, end_s, step


def _dsl(query):
    """The span DSL as SQL: comma-separated key=value / key!=value."""
    conds = []
    for pair in query.split(","):
        neq = "!=" in pair
        k, v = (x.strip() for x in pair.split("!=" if neq else "=", 1))
        lit = "'" + v.replace("'", "''") + "'"
        col = {"name": "name", "scope": "scope_name"}.get(k)
        if col:
            conds.append(f"{col} {'!=' if neq else '='} {lit}")
        elif neq:
            conds.append(
                f"coalesce(resource_attributes['{k}'][1] != {lit}, true) AND "
                f"coalesce(span_attributes['{k}'][1] != {lit}, true)")
        else:
            conds.append(f"(resource_attributes['{k}'][1] = {lit} OR "
                         f"span_attributes['{k}'][1] = {lit})")
    return " AND ".join(f"({c})" for c in conds)


def _zero_filled(p, base, aggs, fills):
    aligned, end_s, step = _series(p)
    sec = "start_time_unix_nano // 1000000000"
    cols = ", ".join(f"coalesce({n}, {f}) AS {n}" for n, f in fills)
    return (f"WITH f AS (SELECT range AS bucket_s FROM "
            f"range({aligned}, {end_s + 1}, {step})), "
            f"a AS (SELECT {sec} - {sec} % {step} AS b, {aggs} FROM ({base}) "
            f"WHERE start_time_unix_nano >= {p['startNs']} AND "
            f"start_time_unix_nano <= {p['endNs']} GROUP BY 1) "
            f"SELECT bucket_s, {cols} FROM f LEFT JOIN a ON bucket_s = b "
            f"ORDER BY bucket_s")


ROOT = "parent_span_id = ''"
AVG_NS = "avg(duration_ns // 1000) * 1000"
DUR_MS = "duration_ns / 1e6"


def query_sql(kind, p, columns):
    """Each TraceService request restated as DuckDB SQL over the store."""
    if kind == "t01_top_slow":
        return (f"SELECT trace_id, name, scope_name, start_time_unix_nano, "
                f"{DUR_MS} AS duration_ms FROM spans WHERE {ROOT} ORDER BY "
                f"start_time_unix_nano DESC, duration_ms DESC, trace_id "
                f"LIMIT 10")
    if kind == "t03_trace_details":
        return (f"SELECT span_id, parent_span_id, name, scope_name, "
                f"start_time_unix_nano, end_time_unix_nano, {DUR_MS} AS "
                f"duration_ms, span_attributes, events FROM spans WHERE "
                f"trace_id = '{p['traceId']}' ORDER BY start_time_unix_nano, "
                f"span_id")
    if kind == "t04_endpoint_latencies":
        return (f"SELECT name, scope_name, {AVG_NS} AS avg_ns, "
                f"min(duration_ns), max(duration_ns), "
                f"quantile_cont(duration_ns, 0.5), "
                f"quantile_cont(duration_ns, 0.9), "
                f"quantile_cont(duration_ns, 0.99), count(*) FROM spans "
                f"WHERE {ROOT} GROUP BY name, scope_name "
                f"ORDER BY name, scope_name")
    if kind == "t05_service_dependencies":
        return ("SELECT p.scope_name, c.scope_name, count(*) FROM spans p "
                "JOIN spans c ON p.span_id = c.parent_span_id "
                "WHERE c.parent_span_id != '' AND p.scope_name != c.scope_name "
                "GROUP BY 1, 2 ORDER BY 1, 2")
    if kind == "t06_trace_heatmap":
        return (f"SELECT start_time_unix_nano // 3600000000000 * 3600 AS h, "
                f"count(*), avg({DUR_MS}) FROM spans WHERE {ROOT} "
                f"GROUP BY 1 ORDER BY 1 DESC LIMIT 24")
    if kind == "t07_span_details":
        return (f"WITH st AS (SELECT name AS stat_name, {AVG_NS} AS avg_ns, "
                f"quantile_cont(duration_ns, 0.5) AS p50, "
                f"quantile_cont(duration_ns, 0.9) AS p90, "
                f"quantile_cont(duration_ns, 0.99) AS p99 FROM spans "
                f"GROUP BY name) SELECT span_id, trace_id, name, scope_name, "
                f"duration_ns, avg_ns, p50, p90, p99, "
                f"(duration_ns - avg_ns) / avg_ns * 100 FROM spans "
                f"JOIN st ON name = stat_name WHERE span_id = '{p['spanId']}'")
    if kind == "t09_search":
        mode = ROOT if p["rootOnly"] else "parent_span_id != ''"
        pred = _dsl(p["query"]) if p["query"] else "true"
        page, size = max(1, p["page"]), max(1, p["pageSize"])
        return (f"SELECT {', '.join(columns)} FROM spans WHERE "
                f"start_time_unix_nano >= {p['startNs']} AND "
                f"end_time_unix_nano <= {p['endNs']} AND ({pred}) AND {mode} "
                f"ORDER BY {p['sortField']} DESC, span_id "
                f"LIMIT {size} OFFSET {(page - 1) * size}")
    if kind == "t10_trace_counts":
        return _zero_filled(p, f"SELECT * FROM spans WHERE {ROOT}",
                            "count(*) AS n", [("n", "0")])
    if kind == "t14_percentile_series":
        q = min(max(p["p"], 0.0), 100.0) / 100.0
        return _zero_filled(p, "SELECT * FROM spans",
                            f"quantile_cont({DUR_MS}, {q}) AS p",
                            [("p", "0.0")])
    if kind == "t16_error_counts":
        return _zero_filled(
            p, "SELECT * FROM spans",
            "sum(CASE WHEN len(list_filter(events, e -> e.name = "
            "'exception')) > 0 THEN 1 ELSE 0 END) AS n_errors",
            [("n_errors", "0")])
    if kind == "t17_search_metrics":
        q = min(max(p["p"], 0.0), 100.0) / 100.0
        pred = _dsl(p["query"]) if p["query"] else "true"
        return _zero_filled(
            p, f"SELECT * FROM spans WHERE {pred}",
            f"quantile_cont({DUR_MS}, {q}) AS p, count(*) AS n, "
            f"avg({DUR_MS}) AS avg_ms",
            [("p", "0.0"), ("n", "0"), ("avg_ms", "0.0")])
    if kind == "t11_service_metrics":
        return (f"WITH a AS (SELECT scope_name AS svc, {AVG_NS} AS avg_ns "
                f"FROM spans GROUP BY 1) SELECT scope_name, count(*), "
                f"avg({DUR_MS}), sum(CASE WHEN duration_ns > avg_ns * 2 "
                f"THEN 1 ELSE 0 END) * 100.0::DOUBLE / count(*) FROM spans "
                f"JOIN a ON scope_name = svc GROUP BY scope_name "
                f"ORDER BY scope_name")
    if kind == "t12_endpoint_metrics":
        return (f"SELECT name, count(*) AS n, avg({DUR_MS}), "
                f"quantile_cont({DUR_MS}, 0.95) FROM spans GROUP BY name "
                f"ORDER BY n DESC, name LIMIT 10")
    if kind == "t18_services":
        return ("SELECT DISTINCT resource_attributes['service.name'][1] AS s "
                "FROM spans WHERE len(resource_attributes['service.name']) > 0 "
                "ORDER BY s")
    if kind == "u1_waterfall":
        return ("WITH t AS (SELECT *, min(start_time_unix_nano) OVER () AS t0, "
                "max(end_time_unix_nano) OVER () AS t1 FROM spans "
                f"WHERE trace_id = '{p['traceId']}') "
                "SELECT span_id, name, scope_name, CASE WHEN t1 = t0 THEN 0.0 "
                "ELSE (start_time_unix_nano - t0) * 100.0::DOUBLE / (t1 - t0) "
                "END, CASE WHEN t1 = t0 THEN 100.0 ELSE duration_ns * "
                "100.0::DOUBLE / (t1 - t0) END FROM t ORDER BY span_id")
    raise ValueError(f"no SQL for {kind}")


def canon(v):
    """DuckDB values in the form the benchmark JVM writes its answers."""
    if isinstance(v, dict):
        if set(v) == {"key", "value"}:
            return sorted([k, canon(x)] for k, x in zip(v["key"], v["value"]))
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, (datetime.date, decimal.Decimal)):
        return str(v) if isinstance(v, datetime.date) else float(v)
    return v


def same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    return a == b


def check_query(result, run_dir):
    """Every distinct request's set-up answer must equal DuckDB's; a wrong
    one also counts each timed run of that request as failed."""
    import duckdb
    store = os.path.join(run_dir, "query", "store")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW spans AS SELECT * FROM read_parquet("
                f"'{store}/**/*.parquet', hive_partitioning = true)")
    timed = result["info"].get("timed_per_request", {})
    with open(os.path.join(run_dir, "query", "answers.jsonl")) as fh:
        answers = [json.loads(line) for line in fh]
    for a in answers:
        want = [canon(list(r)) for r in
                con.execute(query_sql(a["kind"], a["params"],
                                      a["columns"])).fetchall()]
        result["attempted"] += 1
        if not same(a["rows"], want):
            result["failed"] += 1 + int(timed.get(str(a["id"]), 0))
            result["errors"].append(
                f"query {a['id']} ({a['kind']}) differs from DuckDB: "
                f"got {str(a['rows'])[:300]} want {str(want)[:300]}")
