"""Corpus readers: Iceberg-first with parquet fallback.

BASELINE.json input_hint names an Iceberg table of pages; this container
carries no Iceberg runtime jars, so the reader negotiates: explicit
``fmt="iceberg"`` errors loudly if the catalog is absent, ``fmt="auto"``
falls back to parquet (same schema contract either way). On a real cluster
the Iceberg path gives snapshot isolation + partition pruning on
(warc_ts, lang); the parquet path is layout-compatible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import session_memo

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def table_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized lazy reader for ``{sf_dir}/{name}.parquet``.

    ``spark.read.parquet`` lists files and reads footers on every call
    (measured at ~96 ms a table). The memo keeps only the lazy plan; every
    action still scans the files. The tables are immutable inputs, so
    the listing cannot go stale.
    """
    return session_memo(spark, ("table", sf_dir, name),
                        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def read_geobuf_dir(spark: SparkSession, location: str,
                    pattern: str = "*.pbf") -> DataFrame:
    """Read a directory of raw geobuf files into a feature DataFrame.

    Spark's ``binaryFile`` source streams each blob (one file = one geobuf
    document, the reference CLI's output unit — pybind11_geobuf
    __main__.py json2geobuf); an Arrow stage decodes documents and
    explodes their features into rows (path, feature_idx, geometry
    wire-struct, properties map). Scan parallelism = file count; decode is
    shuffle-free.
    """
    from typing import Iterator

    import pandas as pd

    from ..codec import geobuf as gb
    from ..functions.geometry import geojson_to_wire
    from ..functions.udfs import _props_to_json_map

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(location)
        .select("path", "content")
    )

    schema = (
        "path string, feature_idx int, kind string, "
        "geom struct<type: tinyint, dim: tinyint, lengths: array<int>, "
        "coords: array<double>>, properties map<string,string>"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                doc = gb.decode(bytes(blob))
                if doc.get("type") == "FeatureCollection":
                    feats = doc["features"]
                elif doc.get("type") == "Feature":
                    feats = [doc]
                elif doc:
                    feats = [{"type": "Feature", "geometry": doc,
                              "properties": {}}]
                else:
                    feats = []
                for idx, f in enumerate(feats):
                    geom = f.get("geometry")
                    if not geom:
                        continue
                    t, dim, lengths, coords = geojson_to_wire(geom)
                    rows.append(
                        {
                            "path": path,
                            "feature_idx": idx,
                            "kind": geom["type"],
                            "geom": {"type": t, "dim": dim,
                                     "lengths": lengths, "coords": coords},
                            "properties": _props_to_json_map(
                                f.get("properties") or {}
                            ),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["path", "feature_idx", "kind", "geom", "properties"],
            )

    return raw.mapInPandas(decode, schema)


def read_pages(spark: SparkSession, location: str, fmt: str = "auto") -> DataFrame:
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    if fmt == "parquet":
        return spark.read.parquet(location)
    if fmt == "auto":
        try:
            return spark.read.format("iceberg").load(location)
        except Exception:  # noqa: BLE001 — no iceberg runtime / not a table
            return spark.read.parquet(location)
    raise ValueError(f"unknown pages format {fmt!r}")
