"""Per-layer metrics of a traced run, from spans and the Spark event log.

Totals (shuffle bytes, executor time, Python-worker time, dispatch
counts) cover one traced run of the workload's timed plan. Ratios are
given per page (``engine.fetch`` span) or per query (``engine.run``
span, or one registered query's build plus action).
"""

from __future__ import annotations

import collections

from perfbench.trace import DISPATCH_TEMPLATES, Span
from perfbench.workloads import PIPELINE_QUERIES, percentile


def _p(values, q):
    return percentile(list(values), q)


def _self_time(span: Span, children: list[Span]) -> float:
    covered = sum(min(c.end or c.start, span.end) - max(c.start, span.start) for c in children if c.end)
    return max(0.0, span.duration - covered)


def layer_metrics(spans: list[Span], ev: dict[int, dict], inputs: dict, dispatch: dict) -> dict[str, float]:
    """Per-layer metrics; also gives each server-side span the request id
    of the client call it served."""
    by_name: dict[str, list[Span]] = collections.defaultdict(list)
    children: dict[int, list[Span]] = collections.defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
        if s.parent is not None:
            children[s.parent].append(s)

    def subtree(span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += children.get(s.id, [])
        return out

    def ev_sum(group: list[Span], key: str) -> float:
        return sum(ev.get(s.id, {}).get(key, 0) for s in group)

    def per(group: list[Span], n: int, key: str) -> float:
        return ev_sum(group, key) / n if n else 0.0

    m: dict[str, float] = {}
    runs = [s for s in by_name["engine.run"] if s.end]
    m["sql.plan_ms_p50"] = _p((s.duration * 1e3 for s in by_name["sql.plan"]), 50)
    m["engine.row_ids_s_p50"] = _p((s.duration for s in by_name["engine.row_ids"]), 50)
    m["engine.write_s_p50"] = _p((_self_time(s, children[s.id]) for s in runs), 50)
    m["engine.result_files"] = _p(inputs.get("result_files", []), 50)
    m["engine.result_bytes"] = _p(inputs.get("result_bytes", []), 50)

    fetches = by_name["engine.fetch"]
    m["engine.fetch_ms_p50"] = _p((s.duration * 1e3 for s in fetches), 50)
    m["engine.fetch_ms_p90"] = _p((s.duration * 1e3 for s in fetches), 90)
    run_end = {s.attrs.get("query_id"): s.end for s in runs}
    statements = [s for s in by_name["client.statement"] if "complete_at" in s.attrs]
    # server-side spans join the request of the client call they served
    request_of = {s.attrs["qid"]: s.request for s in statements}
    for r in runs:
        for s in subtree(r):
            s.request = request_of.get(r.attrs.get("query_id"), s.request)
    lags = [(s.attrs["complete_at"] - run_end[s.attrs["qid"]]) * 1e3 for s in statements if s.attrs["qid"] in run_end]
    m["engine.status_lag_ms_p50"] = _p(lags, 50)

    # each client page is matched to the server fetch that served it
    pending = collections.defaultdict(collections.deque)
    for f in sorted(fetches, key=lambda s: s.start):
        pending[(f.attrs["query_id"], f.attrs["offset"], f.attrs["forward"])].append(f)
    pages = sorted(by_name["client.page"] + by_name["client.first_page"], key=lambda s: s.start)
    gaps = []
    for p in pages:
        queue = pending.get((p.attrs.get("query_id"), p.attrs.get("offset"), p.attrs.get("forward")))
        if queue:
            f = queue.popleft()
            f.request = p.request
            gaps.append((p.duration - f.duration) * 1e3)
    m["service.http_ms_p50"] = _p(gaps, 50)
    rows = sum(p.attrs.get("rows", 0) for p in pages)
    m["service.response_bytes_per_row"] = sum(p.attrs.get("bytes", 0) for p in pages) / rows if rows else 0.0
    polls = [s.attrs["polls"] for s in statements if "polls" in s.attrs]
    m["service.polls_per_query"] = sum(polls) / len(polls) if polls else 0.0

    n_pages = len(fetches)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_page"] = per(fetches, n_pages, k)
    fetched = sum(f.attrs.get("rows", 0) for f in fetches)
    m["spark.rows_read_per_row_returned"] = ev_sum(fetches, "records_read") / fetched if fetched else 0.0

    builds = by_name["queries.build"]
    query_spans = [d for r in runs for d in subtree(r)] + builds + by_name["queries.action"]
    n_queries = len(runs) + len(builds)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_query"] = per(query_spans, n_queries, k)

    totals = collections.Counter()
    for c in ev.values():
        totals.update(c)
    m["spark.shuffle_read_bytes"] = totals["shuffle_read"]
    m["spark.shuffle_write_bytes"] = totals["shuffle_write"]
    m["spark.spill_bytes"] = totals["spill"]
    m["spark.executor_run_s"] = totals["run_ms"] / 1e3
    m["spark.executor_cpu_s"] = totals["cpu_ns"] / 1e9
    m["spark.gc_s"] = totals["gc_ms"] / 1e3
    m["python.run_s"] = totals["py_run_ms"] / 1e3
    m["python.start_init_s"] = (totals["py_start_ms"] + totals["py_init_ms"]) / 1e3
    m["python.bytes_sent"] = totals["py_sent"]
    m["python.bytes_returned"] = totals["py_returned"]

    for name in PIPELINE_QUERIES:
        build = [s for s in builds if s.attrs["query"] == name]
        action = [s for s in by_name["queries.action"] if s.attrs["query"] == name]
        m[f"queries.{name}.build_s"] = _p((s.duration for s in build), 50)
        m[f"queries.{name}.action_s"] = _p((s.duration for s in action), 50)
        m[f"queries.{name}.build_jobs"] = per(build, len(build), "jobs")

    for slug, _ in DISPATCH_TEMPLATES:
        m[f"operators.dispatch.{slug}"] = dispatch.get(slug, 0)
    return m
