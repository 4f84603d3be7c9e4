"""Input tables for a generated web.

Pages and images are written straight to parquet (pyarrow, no Spark job)
in the bucketed payload layout of ``sources.payload``: a ``bucket``
partition column equal to ``pmod(xxhash64(key), PAYLOAD_BUCKETS)``,
computed with ``core.xxh``, which is bit-equal to Spark's ``xxhash64``.
The engine reads them back as partitioned parquet tables.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from azuresearchcrawlervector_spark.core.images import (
    encode, generate_pixels, phash64,
)
from azuresearchcrawlervector_spark.core.urls import host_of
from azuresearchcrawlervector_spark.core.xxh import url_hash
from azuresearchcrawlervector_spark.sources.fixtures import (
    caption_for, fmt_for, render_html,
)
from azuresearchcrawlervector_spark.sources.synthetic import ROBOTS_SCHEMA

from perfbench.webgen import Web

PAYLOAD_BUCKETS = 8
IMAGE_W, IMAGE_H = 32, 24

PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("host", pa.string()), ("status", pa.int32()),
    ("html", pa.string()), ("image_id", pa.string()), ("bucket", pa.int32()),
])
IMAGES_ARROW = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("bucket", pa.int32()),
])


def _bucket(key: str) -> int:
    return url_hash(key) % PAYLOAD_BUCKETS  # Python % is pmod


def _write(rows: list[tuple], schema: pa.Schema, path: str) -> None:
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)
    pq.write_to_dataset(table, path, partition_cols=["bucket"])


def write_payload(web: Web, root: str) -> None:
    """Write the pages and images tables under ``root`` (no Spark)."""
    specs = list(web.graph.pages.values())
    _write([(s.url, host_of(s.url), s.status, render_html(s), s.image_id,
             _bucket(s.url)) for s in specs],
           PAGES_ARROW, os.path.join(root, "pages"))
    images, seen = [], set()
    for s in specs:
        if s.image_id in seen:  # a crc32 collision shares one image
            continue
        seen.add(s.image_id)
        px = generate_pixels(s.image_id, IMAGE_W, IMAGE_H)
        images.append((s.image_id, encode(px, fmt_for(s.url)), IMAGE_W,
                       IMAGE_H, fmt_for(s.url), caption_for(s.image_id),
                       phash64(px), _bucket(s.image_id)))
    _write(images, IMAGES_ARROW, os.path.join(root, "images"))


def load_tables(spark: SparkSession, web: Web, root: str
                ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(pages, images, robots) as the engine reads them; pages and images
    from ``write_payload``'s files."""
    robots = spark.createDataFrame(
        [(h, int(d), [], None) for h, d in sorted(web.crawl_delay_ms.items())],
        ROBOTS_SCHEMA)
    return (spark.read.parquet(os.path.join(root, "pages")),
            spark.read.parquet(os.path.join(root, "images")),
            robots)
