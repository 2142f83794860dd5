"""Ad-hoc JSON query chains over the parquet catalog, their DuckDB oracle,
the HTTP client, and the spans around the HTTP and query-language layers.

The `churn` workload sends these chains uncached (`noCache`) next to its
cached dashboards; each answer is checked against DuckDB evaluating the
same chain shape over the same parquet files.
"""

from __future__ import annotations

import http.client
import json
import random
import time

from harness import planning_ms

# shapes an analyst sends that the store dashboards do not cover: a
# filter+sort+page with its limited total, a time-bucket aggregation, and a
# 2-hop page (about 4x the cost of the others)
SHAPES = ["page", "time_agg", "hop2"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def params(shape: str, rng: random.Random) -> dict:
    """Seeded parameters of one chain of ``shape``."""
    if shape == "page":
        p = {
            "min_price": round(rng.uniform(50_000, 450_000), 2),
            "priority": rng.choice(PRIORITIES),
            "from": rng.choice([0, 10, 20]),
        }
    elif shape == "time_agg":
        p = {"event_type": rng.choice(EVENT_TYPES), "interval": rng.choice(["1d", "6h", "12h"])}
    else:
        p = {"min_balance": round(rng.uniform(9_000, 9_990), 2)}
    return dict(p, shape=shape)


def chain(p: dict) -> list[dict]:
    shape = p["shape"]
    if shape == "page":
        return [
            {"_name": "all_orders"},
            {"_name": "filter", "_and": [{"_gte": {"o_totalprice": p["min_price"]}}, {"_is": {"o_orderpriority": p["priority"]}}]},
            {"_name": "sort", "_fields": [{"o_totalprice": "desc"}, {"o_orderkey": "asc"}]},
            {"_name": "page", "from": p["from"], "to": p["from"] + 10, "withTotal": True},
        ]
    if shape == "time_agg":
        return [
            {"_name": "all_events"},
            {"_name": "filter", "_is": {"event_type": p["event_type"]}},
            {"_name": "aggregation", "_agg": "time", "_field": "ts", "_interval": p["interval"], "_select": [{"_agg": "count"}]},
        ]
    return [
        {"_name": "richCustomers", "minBalance": p["min_balance"]},
        {"_name": "orders"},
        {"_name": "lines"},
        {"_name": "sort", "_fields": [{"l_orderkey": "asc"}, {"l_linenumber": "asc"}]},
        {"_name": "page", "from": 0, "to": 20},
    ]


# -- DuckDB oracle -------------------------------------------------------------

_INTERVAL_MS = {"1d": 86_400_000, "6h": 21_600_000, "12h": 43_200_000}


def expected(con, sf_dir: str, p: dict):
    shape = p["shape"]
    t = lambda name: f"read_parquet('{sf_dir}/{name}.parquet')"  # noqa: E731
    if shape == "page":
        where = f"o_totalprice >= {p['min_price']!r} AND o_orderpriority = '{p['priority']}'"
        keys = [r[0] for r in con.execute(
            f"SELECT o_orderkey FROM {t('orders')} WHERE {where} "
            f"ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET {p['from']}"
        ).fetchall()]
        n = con.execute(f"SELECT count(*) FROM {t('orders')} WHERE {where}").fetchone()[0]
        return {"keys": keys, "total": -1000 if n >= 1000 else n}
    if shape == "time_agg":
        dur = _INTERVAL_MS[p["interval"]]
        rows = con.execute(
            f"SELECT epoch_ms(ts) - epoch_ms(ts) % {dur} AS b, count(*) FROM {t('events')} "
            f"WHERE event_type = '{p['event_type']}' GROUP BY 1"
        ).fetchall()
        return {int(b): c for b, c in rows}
    return [
        tuple(r)
        for r in con.execute(
            f"SELECT l.l_orderkey, l.l_linenumber FROM {t('customer')} c "
            f"JOIN {t('orders')} o ON o.o_custkey = c.c_custkey "
            f"JOIN {t('lineitem')} l ON l.l_orderkey = o.o_orderkey "
            f"WHERE c.c_acctbal >= {p['min_balance']!r} ORDER BY 1, 2 LIMIT 20"
        ).fetchall()
    ]


def check(p: dict, rows: list, headers: dict, want) -> str | None:
    shape = p["shape"]
    if shape == "page":
        got = [r["o_orderkey"] for r in rows]
        total = headers.get("X-Total")
        if got != want["keys"] or total != str(want["total"]):
            return f"page keys/total {got[:3]}.. {total} != {want['keys'][:3]}.. {want['total']}"
        return None
    if shape == "time_agg":
        got = {int(r["ts"]): r["count"] for r in rows}
        return None if got == want else f"time_agg {len(got)} buckets != {len(want)}"
    got = [(r["l_orderkey"], r["l_linenumber"]) for r in rows]
    return None if got == want else f"hop2 {got[:2]}.. != {want[:2]}.."


# -- HTTP ------------------------------------------------------------------------


class Client:
    """One keep-alive HTTP connection; returns (ms, rows, headers, bytes)."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def post(self, body: dict):
        data = json.dumps(body).encode()
        t = time.perf_counter()
        self.conn.request("POST", "/api/v1/query", body=data, headers={"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        raw = resp.read()
        ms = (time.perf_counter() - t) * 1000.0
        return ms, resp.status, json.loads(raw), dict(resp.getheaders()), len(raw)

    def close(self):
        self.conn.close()


def install_spans(r) -> None:
    """Spans around the HTTP and query-language layers (traced run only)."""
    t = r.tracer
    if not t.enabled:
        return
    import scalligraph_spark
    import scalligraph_spark.fields as fields
    import scalligraph_spark.qlang.aggs as aggs
    import scalligraph_spark.qlang.executor as executor
    import scalligraph_spark.qlang.renderers as renderers
    from scalligraph_spark.catalog import GraphCatalog
    from scalligraph_spark.http_api import QueryServer

    orig_run_query = QueryServer._run_query

    def run_query(self, body, headers):
        # the request runs on a server thread: label its Spark jobs with
        # the op the client is waiting on before the chain is folded
        r.set_group(t.op)
        try:
            return orig_run_query(self, body, headers)
        finally:
            r.set_group(None)

    QueryServer._run_query = run_query
    t.wrap(QueryServer, "_run_query", "http_api.run_query")
    t.wrap(fields, "validate_chain", "fields.validate_chain", also=(scalligraph_spark,))
    t.wrap(executor.QueryExecutor, "execute", "qlang.fold")
    t.wrap(aggs, "compile_aggregation", "qlang.aggs.compile", also=(executor,))
    t.wrap(GraphCatalog, "V", "catalog.V")

    def on_render(span, args, kwargs, out):
        span["rows"] = len(out) if out is not None else 0
        span["planning_ms"] = planning_ms(args[0])

    t.wrap(renderers, "render_rows", "qlang.renderers.render_rows", on_exit=on_render)
