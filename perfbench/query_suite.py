"""Workload ``query_suite``: heavy oracle-paired gates of ``queries()``.

One operation is one query: its construction (``fn(spark, sf_dir)``, which
plans and may fire jobs) then its execution (collecting the rows). A run
measures one pass: ``GATES`` in registry order, in a session whose shared
memos are empty when it starts. Driver-side construction and JVM shuffles
dominate; neither the codec nor ``pip_join`` runs in these gates, so codec
and extract changes should leave this workload flat while planner, memo
and shuffle changes move it.

The inputs are the fixed sf0.001 tables under ``perfbench/data``; the seed
does not apply to them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import __spark_entry__ as entrymod
from harness import (StatusProbe, counters, median, peak_rss_mib, quantile,
                     reset_peak_rss, sum_harvests)

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# The ROADMAP perf hot list, in registry order. geobuf_files and
# incremental_neardup are on that list too but write under a fixed
# absolute path outside any checkout, so they are left out.
GATES = ("hll_grouped", "nearest_admin_geo", "host_pagerank", "network_hops",
         "user_kcore", "prefix_jaccard", "segment_components",
         "range_join_geo", "knn_geo", "dedup_clusters")
WARMUP_GATE = "pip_boxes_agg"  # the body of entry()
SLOW_CONSTRUCT_S = 0.3


def _norm(v) -> str:
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result, as the correctness gate takes it."""
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted("\x1f".join(_norm(v) for v in tup)
                  for tup in pdf.itertuples(index=False))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def oracle_results() -> dict:
    """(columns, rows, hash) of each gate's DuckDB twin over the same files."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    sqls = entrymod.oracle_sql()
    out = {}
    for name in GATES:
        pdf = con.execute(sqls[name]).fetchdf()
        out[name] = (sorted(pdf.columns), len(pdf), value_hash(pdf))
    con.close()
    return out


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def run_pass(spark, tracer, probe) -> list[dict]:
    """Every gate once; ``probe`` set means each step gets a job group."""
    qs = entrymod.queries()
    records = []
    for name in GATES:
        rec = {"query": name}
        with tracer.span("query", query=name):
            if probe:
                probe.begin(f"c:{name}")
            with tracer.span("query.construct") as c_span:
                t0 = time.perf_counter()
                df = qs[name](spark, DATA)
                rec["construct_s"] = time.perf_counter() - t0
            if probe:
                probe.end()
                rec["construct"] = probe.harvest(f"c:{name}")
                c_span["counters"].update(counters(rec["construct"]))
                probe.begin(f"x:{name}")
            with tracer.span("query.execute") as x_span:
                t0 = time.perf_counter()
                pdf = df.toPandas()
                rec["execute_s"] = time.perf_counter() - t0
                tracer.count("rows", len(pdf))
            if probe:
                probe.end()
                rec["execute"] = probe.harvest(f"x:{name}")
                x_span["counters"].update(counters(rec["execute"]))
        rec["latency_s"] = rec["construct_s"] + rec["execute_s"]
        rec["result"] = (sorted(pdf.columns), len(pdf), value_hash(pdf))
        records.append(rec)
    return records


def run(bench) -> dict:
    tracer = bench.tracer
    sessions = bench.sessions
    spark = bench.start_sessions("perfbench-query_suite")
    with bench.phase("session.warmup"):
        sessions.warm_workers()
        # entry()'s query on a private copy of the tables: JIT and workers
        # warm up while the measured tables' memo keys stay untouched.
        warm_dir = os.path.join(bench.work.path, "warm-sf")
        shutil.copytree(DATA, warm_dir)
        entrymod.queries()[WARMUP_GATE](spark, warm_dir).toPandas()
    with bench.phase("oracle"):
        expected = oracle_results()

    # One pass measures the workload; ``--seconds`` does not stretch it,
    # because a second pass would run with a warmer JIT. Traced, a
    # harvested pass and another plain pass follow, each in a fresh
    # session: the harvested one gives the layer split, and the two warm
    # passes side by side give the tracing overhead.
    passes = []
    for harvest in ([False, True, False] if tracer.enabled else [False]):
        if passes:
            sessions.start("perfbench-query_suite")
            sessions.warm_workers()
        probe = StatusProbe(sessions.spark) if harvest else None
        reset_peak_rss()
        with tracer.span("query_suite.pass", harvested=harvest):
            t0 = time.perf_counter()
            records = run_pass(sessions.spark, tracer, probe)
            wall = time.perf_counter() - t0
        passes.append({"wall_s": wall, "records": records, "traced": harvest,
                       "memo_entries": len(entrymod._SHARED_MEMO.get(sessions.spark, {})),
                       "cached_bytes": cached_bytes(sessions.spark),
                       "rss": peak_rss_mib()})

    failed = sum(r["result"] != expected[r["query"]]
                 for p in passes for r in p["records"])
    attempted = sum(len(p["records"]) for p in passes)
    first = passes[0]
    lat = [r["latency_s"] for r in first["records"]]
    wall = first["wall_s"]
    e2e = {"setup_s": bench.setup_s(), "items_per_s": len(GATES) / wall,
           "op_p50_s": median(lat), "peak_rss_mb": first["rss"]}
    info = {"sf_dir": "perfbench/data/sf0.001", "seed_applies": False,
            "gates": list(GATES), "passes": len(passes),
            "pass_wall_s": [p["wall_s"] for p in passes],
            "latency_s": {r["query"]: r["latency_s"] for r in first["records"]},
            "mismatches": [r["query"] for p in passes for r in p["records"]
                           if r["result"] != expected[r["query"]]],
            "named": {"suite_s": {"value": wall, "unit": "s"},
                      "query_p50_s": {"value": median(lat), "unit": "s"},
                      "query_p90_s": {"value": quantile(lat, 0.9), "unit": "s"}}}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "e2e": e2e, "info": info}
    if tracer.enabled:
        traced, warm_plain = passes[1], passes[2]
        result["layers"] = layers(bench, traced, warm_plain)
        result["records"] = [
            {k: v for k, v in r.items() if k not in ("construct", "execute")}
            | {"construct_layers": _strip(r["construct"]),
               "execute_layers": _strip(r["execute"])}
            for r in traced["records"]]
    return result


def _strip(h: dict) -> dict:
    return {k: v for k, v in h.items() if k != "nodes"}


def layers(bench, traced, plain) -> dict:
    recs = traced["records"]
    harvests = [r[k] for r in recs for k in ("construct", "execute")]
    sums = sum_harvests(harvests)
    out = {
        "session.start_s": median(bench.session_starts),
        "session.warmup_s": bench.setup_phases["session.warmup"],
        "entry.construct_s": sum(r["construct_s"] for r in recs),
        "entry.construct_jobs": sum(r["construct"]["jobs"] for r in recs),
        "entry.slow_construct_queries": sum(r["construct_s"] > SLOW_CONSTRUCT_S
                                            for r in recs),
        "entry.execute_s": sum(r["execute_s"] for r in recs),
        "entry.execute_jobs": sum(r["execute"]["jobs"] for r in recs),
        "entry.memo_entries": traced["memo_entries"],
        "entry.cached_bytes": traced["cached_bytes"],
        "entry.query_p90_s": quantile([r["latency_s"] for r in recs], 0.9),
        **{f"spark.{k}": v for k, v in sums.items()},
        "overhead.items_per_s": len(GATES) / traced["wall_s"] - len(GATES) / plain["wall_s"],
        "overhead.op_p50_s": (median([r["latency_s"] for r in recs])
                              - median([r["latency_s"] for r in plain["records"]])),
        "overhead.peak_rss_mb": traced["rss"] - plain["rss"],
        "overhead.setup_s": bench.setup_trace_s,
    }
    for r in recs:
        out[f"q.{r['query']}.construct_s"] = r["construct_s"]
        out[f"q.{r['query']}.execute_s"] = r["execute_s"]
    return out
