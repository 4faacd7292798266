"""Workload ``pages_pip``: the headline pipeline, pages -> extract+encode -> PIP.

One operation is one pass over the corpus:
``extract_encode_features`` -> ``pip_join(res=8)`` against
``generate_admin_polygons()`` -> ``count()``. All of it runs in one
blocking Python stage per task (extract, single-Feature encode, PIP
refine) with no shuffle, so the codec, extract and PIP layers are
exercised and the planner, shuffle and memo layers are bypassed.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geobuf_cpp_spark.functions.udfs import extract_encode_features
from geobuf_cpp_spark.operators.pip_join import pip_join
from geobuf_cpp_spark.sources.geobuf_sink import write_geobuf_files
from geobuf_cpp_spark.sources.pages import generate_admin_polygons, generate_pages_batch
from geobuf_cpp_spark.sources.readers import read_geobuf_dir
from harness import StatusProbe, counters, median, node_metric, sum_harvests
import replay

N_PAGES = 100_000
N_PARTS = 64
# pip_join matches over page ids [0, N_PAGES) - seed 0 - as the seed
# code's bench.py counts them (BENCH/latest.json "pip_matches").
SEED0_MATCHES = 110_010
SAMPLE_URLS = 200
# sources.pages.PAGES_SCHEMA as Arrow types
PAGES_ARROW = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                         ("html", pa.binary()), ("text", pa.string()),
                         ("lang", pa.string())])
CODEC_SAMPLE = 5_000
FC_SAMPLE = 20_000
FIXPOINT_FILES = 3


def page_offset(seed: int) -> int:
    """First page id of the seed's corpus; seeds pick disjoint id ranges."""
    return (seed % (1 << 30)) * N_PAGES


def write_corpus(seed: int, path: str, n_pages: int = N_PAGES) -> None:
    """The seed's first ``n_pages`` synthetic pages in ``N_PARTS`` parquet parts.

    Written from the driver with pyarrow: the generator is a pure function
    of the page ids, and this is several times faster than running it
    through a Spark job, which keeps set-up short.
    """
    os.makedirs(path)
    off = page_offset(seed)
    ids = np.arange(off, off + n_pages, dtype=np.int64)
    for k, chunk in enumerate(np.array_split(ids, N_PARTS)):
        pdf = generate_pages_batch(chunk)
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
        table = pa.Table.from_pandas(pdf, schema=PAGES_ARROW, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def pipeline(pages, admin):
    encoded = extract_encode_features(pages)
    return pip_join(encoded.select("url", "feature_idx", "lon", "lat", "geobuf"),
                    admin, res=replay.PIP_RES)


def spark_layers(harvests: list[dict]) -> dict:
    """Per-op means of the status-store sums, as ``spark.*`` metrics."""
    n = max(len(harvests), 1)
    sums = sum_harvests(harvests)
    out = {f"spark.{k}": v / n for k, v in sums.items() if k != "task_skew"}
    out["spark.task_skew"] = sums["task_skew"]
    return out


def check_sample(spark, pages, admin, feats, pairs) -> bool:
    """Re-run a fixed url sample and compare rows and blobs to the replay."""
    with_feats = sorted({url for url, _, _ in feats.rows})
    step = max(len(with_feats) // SAMPLE_URLS, 1)
    sample = set(with_feats[::step][:SAMPLE_URLS])
    expected = {(feats.rows[i][0], feats.rows[i][1], admin_id)
                for i, admin_id in pairs["matches"] if feats.rows[i][0] in sample}
    rows = (pipeline(pages.where(F.col("url").isin(sorted(sample))), admin)
            .select("url", "feature_idx", "admin_id", "geobuf").collect())
    got = {(r.url, r.feature_idx, r.admin_id) for r in rows}
    by_key = {(url, idx): feat for url, idx, feat in feats.rows}
    enc = replay.gb.Encoder(max_precision=replay.PRECISION)
    blobs_ok = all(
        bytes(r.geobuf) == replay.encode_single(by_key[(r.url, r.feature_idx)], enc)
        and replay.is_fixpoint(bytes(r.geobuf))
        for r in rows)
    return got == expected and blobs_ok and len(rows) > 0


def geobuf_files(bench, spark, pages) -> dict:
    """The sink and reader layers on this corpus's features (traced runs).

    ``write_geobuf_files(prefix_res=3)`` shuffles the features into
    per-prefix groups and encodes one FeatureCollection file each;
    ``read_geobuf_dir`` decodes them back. Each runs once under its own
    job group, after the measured window.
    """
    feats_dir = os.path.join(bench.work.path, "features")
    out_dir = os.path.join(bench.work.path, "pbf")
    (extract_encode_features(pages)
     .select("lon", "lat", "geom", "properties").write.parquet(feats_dir))
    feats = spark.read.parquet(feats_dir)
    probe = StatusProbe(spark)
    probe.begin("sink")
    with bench.tracer.span("sink.write") as write_rec:
        t0 = time.perf_counter()
        manifest = write_geobuf_files(feats, out_dir,
                                      prefix_res=replay.PREFIX_RES).collect()
        write_s = time.perf_counter() - t0
    probe.end()
    sink = probe.harvest("sink")
    probe.begin("reader")
    with bench.tracer.span("reader.read") as read_rec:
        t0 = time.perf_counter()
        counts = read_geobuf_dir(spark, out_dir).groupBy("path").count().collect()
        read_s = time.perf_counter() - t0
    probe.end()
    reader = probe.harvest("reader")
    read_back = {os.path.basename(r["path"]): r["count"] for r in counts}
    files = sorted(((os.path.basename(m.path), m.n_features, m.n_bytes)
                    for m in manifest), key=lambda f: f[2])
    n = sum(f[1] for f in files)
    write_rec["counters"].update({"sink.files": len(files), "sink.features": n,
                                  **counters(sink)})
    read_rec["counters"].update({"reader.features": sum(read_back.values()),
                                 **counters(reader)})
    ok = all(read_back.get(name) == k for name, k, _ in files) and all(
        replay.is_fixpoint(replay.read_bytes(os.path.join(out_dir, name)))
        for name, _, _ in files[:FIXPOINT_FILES])
    return {
        "ok": ok,
        "sink.files": len(files),
        "sink.hot_file_share": max(f[1] for f in files) / n,
        "sink.python_run_s": node_metric(sink["nodes"], "write_group(",
                                         "time to run Python workers"),
        "sink.write_features_per_s": n / write_s,
        "sink.bytes_per_feature": sum(f[2] for f in files) / n,
        "reader.python_run_s": node_metric(reader["nodes"], "decode(",
                                           "time to run Python workers"),
        "reader.read_features_per_s": n / read_s,
    }


def run(bench) -> dict:
    tracer = bench.tracer
    spark = bench.start_sessions("perfbench-pages_pip")
    pages_dir = os.path.join(bench.work.path, "pages")
    with bench.phase("session.warmup"):
        bench.sessions.warm_workers()
    with bench.phase("sources.corpus_gen"):
        write_corpus(bench.seed, pages_dir)
    pages = spark.read.parquet(pages_dir)
    admin = generate_admin_polygons()
    with bench.phase("warmup.prime_pass"):
        # One whole pass: after half of one, the first timed pass still ran
        # about 40% slower than the next ones.
        pipeline(pages, admin).count()

    def one_pass(i):
        matches = pipeline(pages, admin).count()
        tracer.count("pip.matches", matches)
        return matches

    samples = bench.closed_loop("pages_pip.pass", one_pass)

    with tracer.span("check.recount"):
        feats = replay.Features(pages_dir)
        pairs = replay.pip_pairs(feats.lon, feats.lat, admin)
    expected = len(pairs["matches"])
    failed = sum(s["result"] != expected for s in samples)
    with tracer.span("check.sample"):
        sample_ok = check_sample(spark, pages, admin, feats, pairs)
    seed_ok = bench.seed != 0 or expected == SEED0_MATCHES

    plain = [s["s"] for s in samples if not s["traced"]]
    e2e = {"setup_s": bench.setup_s(), "items_per_s": N_PAGES / median(plain),
           "op_p50_s": median(plain), "peak_rss_mb": bench.rss_after[False]}
    info = {"pages": N_PAGES, "parts": N_PARTS,
            "page_id_offset": page_offset(bench.seed),
            "features": len(feats.rows), "matches": expected,
            "passes": len(samples), "pass_s": [s["s"] for s in samples],
            "sample_check": sample_ok,
            "named": {"pages_per_s": {"value": e2e["items_per_s"], "unit": "pages/s"}}}
    result = {"correct": failed == 0 and sample_ok and seed_ok,
              "attempted": len(samples), "failed": failed,
              "e2e": e2e, "info": info}
    if tracer.enabled:
        with tracer.span("trace.geobuf_files"):
            files = geobuf_files(bench, spark, pages)
        result["correct"] = result["correct"] and files.pop("ok")
        result["layers"] = {**layers(bench, samples, feats, pairs, e2e), **files}
    return result


def layers(bench, samples, feats, pairs, e2e) -> dict:
    tracer = bench.tracer
    traced = [s for s in samples if s["traced"]]
    harvests = [s["harvest"] for s in traced]
    nodes = [n for h in harvests for n in h["nodes"]]
    per_op = 1.0 / max(len(traced), 1)
    with tracer.span("replay.codec"):
        single = replay.codec_single([f for _, _, f in feats.rows[:CODEC_SAMPLE]])
        fc = replay.codec_fc(replay.prefix_groups(feats, FC_SAMPLE))
    n_feat = len(feats.rows)
    extract_us = feats.extract_s / feats.n_pages * 1e6
    udf_run = node_metric(nodes, "gen(", "time to run Python workers") * per_op
    candidates = node_metric(nodes, "BroadcastHashJoin", "number of output rows") * per_op
    traced_s = [s["s"] for s in traced]
    out = {
        "session.start_s": median(bench.session_starts),
        "session.warmup_s": bench.setup_phases["session.warmup"],
        "sources.corpus_gen_s": bench.setup_phases["sources.corpus_gen"],
        "extract.us_per_page": extract_us,
        "extract.features_per_page": n_feat / feats.n_pages,
        "codec.encode_us_per_feature": single["encode_us"],
        "codec.decode_us_per_feature": single["decode_us"],
        "codec.bytes_per_feature": single["bytes"],
        "codec.encode_fc_us_per_feature": fc["encode_us"],
        "codec.decode_fc_us_per_feature": fc["decode_us"],
        "udfs.python_run_s": udf_run,
        "udfs.python_init_s": node_metric(
            nodes, "gen(", "time to initialize Python workers") * per_op,
        "udfs.bytes_to_python": node_metric(
            nodes, "gen(", "data sent to Python workers") * per_op,
        "udfs.bytes_from_python": node_metric(
            nodes, "gen(", "data returned from Python workers") * per_op,
        "udfs.residual_s": udf_run - (feats.extract_s
                                      + single["encode_us"] * n_feat / 1e6),
        "cells.cover_s": pairs["cover_s"],
        "cells.cover_cells": pairs["cover_cells"],
        "pip.candidates": candidates,
        "pip.matches": len(pairs["matches"]),
        "pip.useful_ratio": len(pairs["matches"]) / candidates if candidates else 0.0,
        "pip.python_run_s": node_metric(
            nodes, "refine(", "time to run Python workers") * per_op,
        "pip.refine_us_per_candidate": pairs["refine_s"] / max(pairs["candidates"], 1) * 1e6,
        **spark_layers(harvests),
        "overhead.items_per_s": N_PAGES / median(traced_s) - e2e["items_per_s"],
        "overhead.op_p50_s": median(traced_s) - e2e["op_p50_s"],
        "overhead.peak_rss_mb": bench.rss_after[True] - e2e["peak_rss_mb"],
        "overhead.setup_s": bench.setup_trace_s,
    }
    return out
