"""`analytics` workload: a fixed list of suite jobs, each into the `noop` sink.

Construction (`q.spark(...)`, which runs a job's eager supersteps) and the
action are timed apart.  An untimed warm-up pass runs every job once and
checks its collected output against the suite oracle (`q.sql` in DuckDB)
with `tools/check.py:compare`.
"""

from __future__ import annotations

import math
import os
import random
import sys
import threading
import time

from harness import ROOT, Op, median, planning_ms, time_setup, tree_cpu_s, tree_peak_rss_mb

SF = "sf0.01"
JOBS = [
    "graph_connected_components",
    "dedup_minhash_lsh",
    "similarity_ivf_topk",
    "qagg_percentiles",
    "text_duplicate_spans",
]
SECONDS_PER_PASS = 20
TABLES = ["region", "nation", "customer", "lineitem", "documents", "embeddings"]  # what the jobs read
# the two artifact-replay oracles read parquet a suite entry exports at the
# oracle scale; the benchmark exports the same artifacts under its own root
REPLAY_DIR = "/tmp/sgspark_annreplay_sf0.01"


def make_ops(seed: int, seconds: int) -> list[Op]:
    """Whole passes over JOBS; each pass in a seeded order."""
    rng = random.Random(f"analytics:{seed}")
    ops: list[Op] = []
    for _ in range(max(1, round(seconds / SECONDS_PER_PASS))):
        order = list(JOBS)
        rng.shuffle(order)
        for job in order:
            ops.append(Op(len(ops), job, {}))
    return ops


def _oracles(sf_dir: str, replay: str, sigs_ready: threading.Event, out: dict) -> None:
    """DuckDB answers for every job, plus the LSH candidate-pair count."""
    import duckdb

    from scalligraph_spark.suite import SUITE

    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for job in sorted(JOBS, key=lambda j: "annreplay" in (SUITE[j].sql or "")):
        sql = SUITE[job].sql.replace(REPLAY_DIR, replay)
        if REPLAY_DIR in SUITE[job].sql:
            sigs_ready.wait()
        out[job] = con.execute(sql).df()
    sql = SUITE["dedup_minhash_lsh"].sql.replace(REPLAY_DIR, replay)
    cands = sql[: sql.index("est AS")].rstrip().rstrip(",")
    out["lsh_candidates"] = con.execute(cands + "\nSELECT count(*) FROM pairs").fetchone()[0]
    con.close()


def run(r, sf_root: str) -> dict:
    # a private, differently named link to the data keeps the suite's
    # replay exports (active only for a directory named sf0.01) inert
    data = os.path.join(r.tmp, "data")
    os.makedirs(data)
    sf_dir = os.path.join(data, "bench-" + SF)
    os.symlink(f"{sf_root}/{SF}", sf_dir)
    replay = os.path.join(r.tmp, "annreplay_" + SF)

    ops = r.ops = make_ops(r.seed, r.seconds)
    spark = r.start_spark()

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import compare

    from scalligraph_spark.operators import minhash_signature
    from scalligraph_spark.operators.similarity import _train_centroids
    from scalligraph_spark.suite import SUITE, _CATALOGS, _export_replay_centroids, _export_replay_df, cat_for

    _install_spans(r)

    catalog_ms: list[float] = []

    def setup(i):
        # the catalog, and a resolved scan of every table the jobs read
        _CATALOGS.clear()
        t = time.perf_counter()
        c = cat_for(spark, sf_dir)
        catalog_ms.append((time.perf_counter() - t) * 1000.0)
        for label in TABLES:
            c.vertex_df(label).schema
        return c

    setup_s, cat = time_setup(setup, reps=3)

    # oracle inputs: the same deterministic artifacts the two replay
    # entries export at the oracle scale, under the private root
    answers: dict = {}
    sigs_ready = threading.Event()
    oracle_thread = threading.Thread(target=_oracles, args=(sf_dir, replay, sigs_ready, answers))
    oracle_thread.start()
    r.set_group("warm")
    docs = cat.vertex_df("documents")
    _export_replay_df(minhash_signature(docs, "text", "doc_id", 64), f"{replay}/minhash_sigs")
    emb = cat.vertex_df("embeddings")
    n = cat.vertices["embeddings"].n_rows_hint
    C = _train_centroids(emb, max(4, min(4096, int(math.sqrt(max(n, 4))))), 10_000, "vec_id", "embedding")
    _export_replay_centroids(C, f"{replay}/ivf_topk_centroids")
    sigs_ready.set()

    # warm-up pass: every job once, untimed, its collected output checked
    r.tracer.op = "warm"
    outputs = {job: SUITE[job].spark(spark, sf_dir).toPandas() for job in JOBS}
    oracle_thread.join()
    for job, got in outputs.items():
        problems = compare(job, got, answers[job])
        if problems:
            r.failures.append(f"{job}: " + "; ".join(problems))
    pairs = len(outputs["dedup_minhash_lsh"])
    r.set_group(None)
    r.phase("warmed up")

    me = os.getpid()
    cpu0 = tree_cpu_s(me)
    t0 = time.perf_counter()
    for op in ops:
        r.tracer.op = f"op{op.idx}"
        op.t0 = time.perf_counter()
        try:
            r.set_group(f"op{op.idx}.build")
            df = SUITE[op.cls].spark(spark, sf_dir)
            t_build = time.perf_counter()
            r.set_group(f"op{op.idx}.action")
            df.write.format("noop").mode("overwrite").save()
            op.t1 = time.perf_counter()
            op.extra["build_ms"] = (t_build - op.t0) * 1000.0
            op.extra["action_ms"] = (op.t1 - t_build) * 1000.0
            # a job whose warm-up output failed its check fails here too
            op.ok = not any(f.startswith(op.cls + ":") for f in r.failures)
            if r.trace:
                op.extra["planning_ms"] = planning_ms(df)
        except Exception as e:  # a failed job is counted, the run goes on
            op.t1 = time.perf_counter()
            r.fail(op, repr(e))
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s(me) - cpu0
    rss = tree_peak_rss_mb(me)
    r.phase("measured")
    r.set_group(None)
    r.tracer.op = None

    layer = {"catalog.load_ms": (median(catalog_ms), "ms")}
    for job in JOBS:
        mine = [o for o in ops if o.cls == job and o.ok]
        layer[f"{job}.build_ms"] = (median([o.extra["build_ms"] for o in mine]) or 0.0, "ms")
        layer[f"{job}.action_ms"] = (median([o.extra["action_ms"] for o in mine]) or 0.0, "ms")
    layer["dedup.minhash_lsh.candidates_per_pair"] = (answers["lsh_candidates"] / max(1, pairs), "ratio")
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "cpu_s": cpu,
        "rss_mb": rss,
        "layer": layer,
    }


def _install_spans(r) -> None:
    """Spans around the operator entry points the jobs call (traced run only)."""
    t = r.tracer
    if not t.enabled:
        return
    import scalligraph_spark.operators as operators
    import scalligraph_spark.operators.dedup as dedup
    import scalligraph_spark.operators.graph_analytics as graph_analytics
    import scalligraph_spark.operators.similarity as similarity
    import scalligraph_spark.operators.text as text
    import scalligraph_spark.suite as suite

    for mod, fn in (
        (graph_analytics, "connected_components"),
        (dedup, "minhash_signature"),
        (dedup, "minhash_lsh_pairs"),
        (similarity, "ivf_ann_topk"),
        (text, "duplicate_spans"),
    ):
        t.wrap(mod, fn, f"operators.{mod.__name__.rsplit('.', 1)[1]}.{fn}", also=(operators, suite))
