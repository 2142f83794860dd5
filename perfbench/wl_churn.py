"""`churn` workload: writes, cached and uncached reads on a store copy of `customer`.

Writes are `WriteSession` create / update / remove commits.  After every
three writes, `maintain_indexes` catches the `cust_by_name` value index up (`on_mutation="tombstone"`, compacting every new segment) and the
result cache is trimmed.  Reads go over HTTP to one `QueryServer` with a
`QueryCache`: a fixed set of `fromStore` dashboard chains, which hit until
the next write; seeded `byIndexedValue` lookups, which always miss; and
seeded ad-hoc chains over the parquet catalog sent with `noCache`.

A Python model of the table, independent of the program, predicts every
store read: the first read after each commit is the row count
(read-your-writes), and every lookup equals a filter over the model of the
same version.  Ad-hoc answers come from DuckDB over the same parquet.
"""

from __future__ import annotations

import os
import random
import threading
import time

import chains
from harness import Op, count_files, du_bytes, median, time_setup, tree_cpu_s, tree_peak_rss_mb

SF = "sf0.1"
ROUNDS_PER_SECOND = 0.05  # one round: 3 writes, 13 reads, 1 index sweep
COMPACT_OVER = 0
CACHE_KEEP = 8
WRITES = ("create", "update", "remove")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DASHBOARDS = {
    "count": [{"_name": "fromStore", "label": "customer"}, {"_name": "count"}],
    "rich": [{"_name": "fromStore", "label": "customer", "where": [["c_acctbal", ">=", 5000.0]]}, {"_name": "count"}],
    "segments": [
        {"_name": "fromStore", "label": "customer"},
        {"_name": "aggregation", "_agg": "field", "_field": "c_mktsegment", "_select": [{"_agg": "count"}]},
    ],
}
INDEX = "cust_by_name"
AT = "2026-01-01 00:00:00"  # audit stamps use a fixed clock


def make_ops(seed: int, seconds: int) -> list[Op]:
    """Whole rounds with fixed class counts; the order, the parameters and
    the rows a write touches come from the seed.  A round is one create,
    update and remove commit, each followed by the row-count dashboard
    (read-your-writes) and closed by it again (a cache hit), with the other
    dashboards, two index lookups and one ad-hoc chain of every shape
    spread between them, then one index sweep."""
    rng = random.Random(f"churn:{seed}")
    ops: list[Op] = []

    def add(cls, params):
        ops.append(Op(len(ops), cls, params))

    for _ in range(max(1, round(seconds * ROUNDS_PER_SECOND))):
        writes = list(WRITES)
        rng.shuffle(writes)
        reads = [("dashboard", {"name": n}) for n in sorted(DASHBOARDS) if n != "count"]
        reads += [("lookup", {"n": rng.randint(1, 3), "pick": rng.random()}) for _ in range(2)]
        reads += [("adhoc", chains.params(shape, rng)) for shape in chains.SHAPES]
        rng.shuffle(reads)
        for i, kind in enumerate(writes):
            add(kind, {"rows": rng.randint(5, 20), "pick": rng.random()})
            add("dashboard", {"name": "count"})
            for cls, params in reads[i :: len(writes)]:
                add(cls, params)
            add("dashboard", {"name": "count"})  # unchanged since the commit: a cache hit
        add("maintain", {})
    return ops


class Model:
    """The rows the generator implies, keyed by c_custkey."""

    def __init__(self, table):
        cols = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        self.rows = {
            int(k): {"c_name": n, "c_nationkey": int(nk), "c_acctbal": float(b), "c_mktsegment": s}
            for k, n, nk, b, s in zip(*(table.column(c).to_pylist() for c in cols))
        }
        self.next_key = max(self.rows) + 1
        self.stable: set[str] = {r["c_name"] for r in self.rows.values()}  # names the index already reflects

    def dashboard(self, name: str):
        rows = self.rows.values()
        if name == "count":
            return [{"count": len(self.rows)}]
        if name == "rich":
            return [{"count": sum(1 for r in rows if r["c_acctbal"] >= 5000.0)}]
        counts: dict[str, int] = {}
        for r in rows:
            counts[r["c_mktsegment"]] = counts.get(r["c_mktsegment"], 0) + 1
        return counts


def _pick(keys: list, n: int, u: float, rng: random.Random) -> list:
    start = int(u * len(keys))
    return sorted(rng.sample(keys[start:] + keys[:start], min(n, len(keys))))


def run(r, sf_root: str) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    sf_dir = f"{sf_root}/{SF}"
    ops = r.ops = make_ops(r.seed, r.seconds)
    rng0 = random.Random(f"churn-warm:{r.seed}")
    warm_adhoc = [Op(-1 - i, "adhoc", chains.params(s, rng0)) for i, s in enumerate(sorted(set(chains.SHAPES)))]

    # the oracle is benchmark work: DuckDB answers the ad-hoc chains on one
    # thread while the JVM starts
    answers: dict[int, object] = {}

    def oracle():
        con = duckdb.connect(config={"threads": 1})
        for op in ops + warm_adhoc:
            if op.cls == "adhoc":
                answers[op.idx] = chains.expected(con, sf_dir, op.params)
        con.close()

    oracle_thread = threading.Thread(target=oracle)
    oracle_thread.start()
    spark = r.start_spark()

    from pyspark.sql import functions as F

    from scalligraph_spark.catalog import tpch_catalog
    from scalligraph_spark.http_api import QueryServer
    from scalligraph_spark.operators import build_value_index
    from scalligraph_spark.operators.index_catchup import maintain_indexes
    from scalligraph_spark.operators.tombstones import tombstone_label
    from scalligraph_spark.qlang.cache import QueryCache
    from scalligraph_spark.store import LabelStore
    from scalligraph_spark.suite import executor_for
    from scalligraph_spark.writes import WriteConflictError, WriteSession, with_audit

    chains.install_spans(r)
    _install_spans(r)
    catalog_ms: list[float] = []
    stores: list = []

    def setup(i):
        root = os.path.join(r.tmp, f"store{i}")
        r.set_group("setup")
        t = time.perf_counter()
        tpch_catalog(spark, sf_dir)
        catalog_ms.append((time.perf_counter() - t) * 1000.0)
        store = LabelStore(root)
        # an entity table carries the audit envelope from its first version
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        store.write(
            "customer",
            with_audit(cust.withColumn("_key", F.col("c_custkey")), "customer", "_key", "perfbench", AT)
            .withColumn("_updated_by", F.lit(None).cast("string"))
            .withColumn("_updated_at", F.lit(None).cast("timestamp_ntz")),
        )
        build_value_index(
            spark, store, INDEX, store.read(spark, "customer"), "c_name", "c_custkey",
            unique=True, corpus_store=store, corpus_label="customer",
        )
        ex = executor_for(spark, sf_dir, store_root=root, value_index=(store, INDEX, "customer", "c_name"))
        # the executor's `customer` label reads the store's current version
        ex.catalog.add_store_vertex(store, "customer", "c_custkey", name_col="c_name")
        stores.append(store)
        return root, store, ex

    setup_s, (root, store, ex) = time_setup(setup, reps=3)
    r.set_group(None)
    cache = QueryCache(ex, store)
    srv = QueryServer(ex, cache=cache).serve()
    client = chains.Client(srv.port)
    table = pq.read_table(f"{sf_dir}/customer.parquet")
    model = Model(table)
    row_bytes = du_bytes(store.path("customer")) / len(model.rows)
    rng = random.Random(f"churn-rows:{r.seed}")
    schema = "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string, _key long"

    def write(op: Op, store, model: Model) -> tuple[int, float, float]:
        """Commit one write; (rows touched, session build ms, commit ms)."""
        n = op.params["rows"]
        t = time.perf_counter()
        s = WriteSession(spark, store, "customer", id_col="_key", created_by="perfbench", at=AT)
        if op.cls == "create":
            rows = []
            for _ in range(n):
                k = model.next_key
                model.next_key += 1
                row = {"c_name": f"Customer#N{k:09d}", "c_nationkey": rng.randrange(25),
                       "c_acctbal": round(rng.uniform(-999, 9999), 2), "c_mktsegment": rng.choice(SEGMENTS)}
                rows.append((k, row["c_name"], row["c_nationkey"], row["c_acctbal"], row["c_mktsegment"], k))
                model.rows[k] = row
            s.create(spark.createDataFrame(rows, schema))
        else:
            keys = _pick(sorted(model.rows), n, op.params["pick"], rng)
            cond = F.col("c_custkey").isin(keys)
            if op.cls == "update":
                s.update(cond, {
                    "c_name": F.concat(F.lit("Renamed#"), F.col("c_custkey").cast("string"), F.lit(f"-{op.idx}")),
                    "c_acctbal": F.col("c_acctbal") + F.lit(1.0),
                })
            else:
                s.remove(cond)
            for k in keys:
                model.stable.discard(model.rows[k]["c_name"])
                if op.cls == "update":
                    model.rows[k]["c_name"] = f"Renamed#{k}-{op.idx}"
                    model.rows[k]["c_acctbal"] += 1.0
                else:
                    del model.rows[k]
        t_commit = time.perf_counter()
        s.commit()
        return n, (t_commit - t) * 1000.0, (time.perf_counter() - t_commit) * 1000.0

    def post(op: Op, body: dict):
        ms, status, rows, headers, nbytes = client.post(body)
        op.extra.update(
            client_ms=ms, server_ms=float(headers.get("Request-Time", 0)), bytes=nbytes, steps=len(body["query"])
        )
        return status, rows, headers

    def read(op: Op) -> str | None:
        if op.cls == "adhoc":
            status, rows, headers = post(op, {"query": chains.chain(op.params), "noCache": True})
            if status != 200:
                return f"status {status}: {rows}"
            oracle_thread.join()
            return chains.check(op.params, rows, headers, answers[op.idx])
        if op.cls == "dashboard":
            body = DASHBOARDS[op.params["name"]]
            want = model.dashboard(op.params["name"])
        else:
            names = sorted(model.stable)
            values = [names[i] for i in _pick(list(range(len(names))), op.params["n"], op.params["pick"], rng)]
            values.append(f"absent-{op.idx}")
            body = [{"_name": "byIndexedValue", "values": values}]
            want = sorted(k for k, row in model.rows.items() if row["c_name"] in values)
        status, rows, _ = post(op, {"query": body})
        if status != 200:
            return f"status {status}: {rows}"
        if op.cls == "lookup":
            op.extra["rows"] = len(rows)
            got = sorted(int(x["c_custkey"]) for x in rows)
            return None if got == want else f"lookup {got} != {want}"
        if op.params["name"] == "segments":
            got = {x["c_mktsegment"]: x["count"] for x in rows}
            return None if got == want else f"segments {got} != {want}"
        return None if rows == want else f"{op.params['name']} {rows} != {want}"

    sweeps: list[dict] = []
    evictions = 0

    def maintain() -> None:
        nonlocal evictions
        reps = maintain_indexes(
            spark, store, [(INDEX, "value")], on_mutation="tombstone", compact_over=COMPACT_OVER
        )
        bad = [x for x in reps if x.get("action") == "failed"]
        if bad:
            raise RuntimeError(f"index maintenance failed: {bad}")
        sweeps.extend(reps)
        evictions += len(cache.evict(keep=CACHE_KEEP))
        model.stable = {row["c_name"] for row in model.rows.values()}

    # warm every class but the sweep once, untimed; writes go to the first
    # set-up copy so the measured store starts with a current index (one
    # sweep is all the time budget allows, so the measured one is its first)
    r.tracer.op = "warm"
    r.set_group("warm")
    warm_model = Model(table)
    for kind in WRITES:
        write(Op(-1, kind, {"rows": 3, "pick": 0.5}), stores[0], warm_model)
    for name in DASHBOARDS:
        read(Op(-1, "dashboard", {"name": name}))
    read(Op(-1, "lookup", {"n": 2, "pick": 0.5}))
    for op in warm_adhoc:
        err = read(op)
        if err:
            r.failures.append(f"warm-up {op.params['shape']}: {err}")
    r.set_group(None)
    hits0, misses0 = cache.hits, cache.misses
    versions0 = set(store.history("customer"))
    r.phase("warmed up")

    me = os.getpid()
    build_ms, commit_ms, user_bytes, conflicts = [], [], 0.0, 0
    cpu0 = tree_cpu_s(me)
    t0 = time.perf_counter()
    for op in ops:
        r.tracer.op = f"op{op.idx}"
        r.set_group(r.tracer.op)
        op.t0 = time.perf_counter()
        err = None
        try:
            if op.cls in WRITES:
                n, b_ms, c_ms = write(op, store, model)
                build_ms.append(b_ms)
                commit_ms.append(c_ms)
                user_bytes += n * row_bytes
            elif op.cls == "maintain":
                maintain()
            else:
                err = read(op)
        except WriteConflictError as e:
            conflicts += 1
            err = repr(e)
        except Exception as e:  # a failed op is counted, the run goes on
            err = repr(e)
        op.t1 = time.perf_counter()
        if err:
            r.fail(op, err)
        else:
            op.ok = True
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s(me) - cpu0
    rss = tree_peak_rss_mb(me)
    r.phase("measured")
    r.set_group(None)
    r.tracer.op = None
    client.close()
    srv.close()

    # space: everything under the store root vs the current version of every label
    labels = [d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))]
    live = sum(du_bytes(store.path(lbl)) for lbl in labels if store.version(lbl) > 0)
    new_versions = sorted(set(store.history("customer")) - versions0)
    written = sum(du_bytes(store.path("customer", v)) for v in new_versions)
    files = [count_files(store.path("customer", v)) for v in new_versions]
    hits, misses = cache.hits - hits0, cache.misses - misses0
    tomb_rows = 0
    if store.version(tombstone_label(INDEX)) > 0:
        for d, _, fs in os.walk(store.path(tombstone_label(INDEX))):
            tomb_rows += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for f in fs if f.endswith(".parquet"))

    def ms(*classes):
        return median([o.ms for o in ops if o.ok and o.cls in classes]) or 0.0

    layer = {
        "churn.read_p50_ms": (ms("dashboard", "lookup", "adhoc"), "ms"),
        "churn.write_p50_ms": (ms(*WRITES), "ms"),
        "churn.space_amp": (du_bytes(root) / max(1, live), "ratio"),
        "qlang.cache.hit_pct": (100.0 * hits / max(1, hits + misses), "%"),
        "qlang.cache.evictions": (evictions, "count"),
        "store.commit_ms_p50": (median(commit_ms) or 0.0, "ms"),
        "store.bytes_written_per_user_byte": (written / max(1.0, user_bytes), "ratio"),
        "store.files_per_version": (sum(files) / max(1, len(files)), "count"),
        "store.live_versions": (len(store.history("customer")), "count"),
        "writes.session_build_ms_p50": (median(build_ms) or 0.0, "ms"),
        "writes.conflicts": (conflicts, "count"),
        "index_catchup.sweep_ms_p50": (ms("maintain"), "ms"),
        "index_catchup.rows_applied": (sum(sum(x.get("churn", {}).values()) for x in sweeps), "count"),
        "index_catchup.compactions": (sum(1 for x in sweeps if x.get("compacted")), "count"),
        "tombstones.rows": (tomb_rows, "count"),
        "catalog.load_ms": (median(catalog_ms), "ms"),
    }
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "cpu_s": cpu,
        "rss_mb": rss,
        "layer": layer,
        "lookup_ops": {f"op{o.idx}": o.extra.get("rows", 0) for o in ops if o.cls == "lookup" and o.ok},
    }


def _install_spans(r) -> None:
    """Spans around the store, write, cache and index layers (traced run only)."""
    t = r.tracer
    if not t.enabled:
        return
    import scalligraph_spark.operators as operators
    import scalligraph_spark.operators.index_catchup as index_catchup
    import scalligraph_spark.operators.tombstones as tombstones
    import scalligraph_spark.operators.value_index as value_index
    from scalligraph_spark.qlang.cache import QueryCache
    from scalligraph_spark.store import LabelStore
    from scalligraph_spark.writes import WriteSession

    t.wrap(LabelStore, "read", "store.read")
    t.wrap(LabelStore, "write", "store.write")
    t.wrap(WriteSession, "commit", "writes.commit")
    t.wrap(index_catchup, "maintain_indexes", "index_catchup.maintain_indexes")
    t.wrap(index_catchup, "catchup_value_index", "index_catchup.catchup_value_index")
    t.wrap(tombstones, "write_tombstones", "tombstones.write_tombstones")
    t.wrap(value_index, "load_value_index", "value_index.load", also=(operators,))
    t.wrap(value_index, "index_value_filter", "value_index.filter", also=(operators,))

    def live_segments(span, args, kwargs):
        # (spark, store, name): the live segments the compaction folds
        span["live"] = len(value_index._index_meta(args[1], args[2]).get("segments", []))

    t.wrap(value_index, "compact_value_index", "value_index.compact", on_enter=live_segments)

    def cache_enter(span, args, kwargs):
        span["hits0"] = args[0].hits

    def cache_exit(span, args, kwargs, out):
        span["cache_hit"] = args[0].hits > span.pop("hits0")

    t.wrap(QueryCache, "execute", "qlang.cache.execute", on_enter=cache_enter, on_exit=cache_exit)
