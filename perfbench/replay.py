"""In-driver replays of the engine's kernels on the benchmark's own inputs.

Each replay calls the same public function the Spark stage calls
(``extract_geometries``, ``Encoder.encode``, ``Decoder.decode``,
``cell_of`` + ``polygon_coverings``, ``pip_mask``), built the way the stage
builds its arguments. They serve two purposes: an independent recount of
the workload's expected output, and per-call costs for the trace.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from geobuf_cpp_spark.codec import geobuf as gb
from geobuf_cpp_spark.extract.html import extract_geometries
from geobuf_cpp_spark.functions.cells import cell_of, cell_parent
from geobuf_cpp_spark.functions.geometry import (
    geojson_to_wire,
    pip_mask,
    wire_rings,
    wire_to_geojson,
)
from geobuf_cpp_spark.functions.udfs import _json_map_to_props, _props_to_json_map
from geobuf_cpp_spark.operators.pip_join import polygon_coverings

PIP_RES = 8
PREFIX_RES = 3
PRECISION = 10**7  # extract_encode_features / write_geobuf_files default


class Features:
    """Every feature of a pages corpus, as ``extract_encode_features`` sees it."""

    def __init__(self, pages_dir: str):
        table = pq.read_table(pages_dir, columns=["url", "html"])
        urls = table.column("url").to_pylist()
        htmls = table.column("html").to_pylist()
        self.n_pages = len(urls)
        t0 = time.perf_counter()
        per_page = [extract_geometries(h.decode("utf-8", errors="replace"))
                    for h in htmls]
        self.extract_s = time.perf_counter() - t0
        self.rows = []  # (url, feature_idx, feature dict)
        for url, feats in zip(urls, per_page):
            for idx, feat in enumerate(feats):
                self.rows.append((url, idx, feat))
        wires = [geojson_to_wire(f["geometry"]) for _, _, f in self.rows]
        self.wires = wires
        self.lon = np.array([w[3][0] for w in wires], dtype=np.float64)
        self.lat = np.array([w[3][1] for w in wires], dtype=np.float64)


def pip_pairs(lon: np.ndarray, lat: np.ndarray, admin_pdf) -> dict:
    """Exact (point index, admin_id) matches the way ``pip_join`` finds them.

    Candidates are points whose cell at ``PIP_RES`` lies in the polygon's
    bbox cover; the refine keeps the ones ``pip_mask`` puts inside.
    """
    t0 = time.perf_counter()
    cover = polygon_coverings(admin_pdf, PIP_RES)
    cover_s = time.perf_counter() - t0
    cells = cell_of(lat, lon, PIP_RES)
    by_cell = defaultdict(list)
    for admin_id, cell in zip(cover["admin_id"], cover["cell"]):
        by_cell[int(cell)].append(int(admin_id))
    cand = defaultdict(list)
    for i, cell in enumerate(cells.tolist()):
        for admin_id in by_cell.get(cell, ()):
            cand[admin_id].append(i)
    rings = {int(a): wire_rings(g["type"], g["dim"], g["lengths"], g["coords"])
             for a, g in zip(admin_pdf["admin_id"], admin_pdf["geom"])}
    matches = []
    n_cand = 0
    t0 = time.perf_counter()
    for admin_id, idx in cand.items():
        idx = np.asarray(idx)
        n_cand += len(idx)
        keep = pip_mask(lon[idx], lat[idx], rings[admin_id])
        matches.extend((int(i), admin_id) for i in idx[keep])
    refine_s = time.perf_counter() - t0
    return {"matches": matches, "candidates": n_cand, "cover_s": cover_s,
            "cover_cells": len(cover), "refine_s": refine_s}


def encode_single(feat: dict, enc: gb.Encoder) -> bytes:
    """One Feature blob, built as ``extract_encode_features`` builds it."""
    return enc.encode({"type": "Feature", "geometry": feat["geometry"],
                       "properties": feat["properties"]})


def codec_single(feats: list[dict]) -> dict:
    enc = gb.Encoder(max_precision=PRECISION)
    t0 = time.perf_counter()
    blobs = [encode_single(f, enc) for f in feats]
    enc_s = time.perf_counter() - t0
    dec = gb.Decoder()
    t0 = time.perf_counter()
    for b in blobs:
        dec.decode(b)
    dec_s = time.perf_counter() - t0
    n = max(len(feats), 1)
    return {"encode_us": enc_s / n * 1e6, "decode_us": dec_s / n * 1e6,
            "bytes": sum(map(len, blobs)) / n}


def prefix_groups(features: Features, limit: int) -> dict[int, list[dict]]:
    """The sink's per-prefix FeatureCollections over the first ``limit``
    features, each Feature rebuilt from the wire struct and property map."""
    n = min(limit, len(features.rows))
    prefixes = cell_parent(cell_of(features.lat[:n], features.lon[:n], PIP_RES),
                           PIP_RES, PREFIX_RES)
    groups: dict[int, list[dict]] = defaultdict(list)
    for k in range(n):
        feat = features.rows[k][2]
        groups[int(prefixes[k])].append({
            "type": "Feature",
            "geometry": wire_to_geojson(*features.wires[k]),
            "properties": _json_map_to_props(_props_to_json_map(feat["properties"])),
        })
    return groups


def codec_fc(groups: dict[int, list[dict]]) -> dict:
    t0 = time.perf_counter()
    blobs = [gb.Encoder(max_precision=PRECISION).encode(
        {"type": "FeatureCollection", "features": feats})
        for feats in groups.values()]
    enc_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for b in blobs:
        gb.Decoder().decode(b)
    dec_s = time.perf_counter() - t0
    n = max(sum(len(f) for f in groups.values()), 1)
    return {"encode_us": enc_s / n * 1e6, "decode_us": dec_s / n * 1e6}


def read_bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def is_fixpoint(blob: bytes) -> bool:
    """decode then re-encode at the writer's precision gives the same bytes."""
    doc = gb.Decoder().decode(blob)
    return gb.Encoder(max_precision=PRECISION).encode(doc) == blob
