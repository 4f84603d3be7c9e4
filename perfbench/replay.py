"""Per-layer replay for traced runs.

After a traced crawl, the inputs of its largest wave are reloaded from
the checkpoint through ``SnapshotStore`` (``manifest_at``,
``read_pending``, ``read_table``), and each crawl-path layer's public
function is replayed on them. Every input is materialized (persisted and
counted) before its layer is timed, and every timed result is forced
with a ``noop`` write, so a layer's time is its own work only.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from azuresearchcrawlervector_spark.config import SeenOn
from azuresearchcrawlervector_spark.functions.embeddings import (
    make_dual_embed_udf,
)
from azuresearchcrawlervector_spark.functions.html import with_extraction
from azuresearchcrawlervector_spark.functions.imagefn import (
    with_image_validation,
)
from azuresearchcrawlervector_spark.functions.urls import (
    canonicalize_udf, host_udf, href_is_crawlable_col, url_hash_col,
)
from azuresearchcrawlervector_spark.operators.politeness import (
    apply_politeness, salted_repartition,
)
from azuresearchcrawlervector_spark.operators.seen import (
    BloomFilter, anti_join_seen, merged_sketch, split_by_sketch,
)
from azuresearchcrawlervector_spark.plans.checkpoint import SnapshotStore
from azuresearchcrawlervector_spark.plans.crawl import seen_from_log
from azuresearchcrawlervector_spark.sources.payload import (
    prune_by_buckets, wave_bucket_ids,
)

from perfbench.crawl_run import CrawlRecord, Workload
from perfbench.spans import Tracer
from perfbench.webgen import Web


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(df: DataFrame, keep: list) -> tuple[DataFrame, int]:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    keep.append(df)
    return df, df.count()


def _per_k(ms: float, n: int) -> float:
    return ms / max(n, 1) * 1000.0


def replay_layers(spark, tables, web: Web, wl: Workload, rec: CrawlRecord,
                  tracer: Tracer, scratch: str) -> dict[str, float]:
    pages, images, robots = tables
    cfg = wl.config(web)
    store = SnapshotStore(rec.ckpt_dir)
    wave = max(rec.waves, key=lambda w: w.due)  # first of the largest
    out: dict[str, float] = {}
    keep: list[DataFrame] = []

    def timed(name: str, fn) -> float:
        with tracer.span(name, iter=wave.iter) as sp:
            fn()
        return tracer.duration_ms(sp)

    with tracer.span("replay", iter=wave.iter):
        # checkpoint: the resume path's reads, then the wave's two
        # checkpoint writes into a scratch store
        t = time.monotonic()
        store.latest()
        m_prev = store.manifest_at(wave.iter - 1)
        m_wave = store.manifest_at(wave.iter)
        pending_src = store.read_pending(spark, m_prev)
        out["checkpoint.latest_ms"] = (time.monotonic() - t) * 1000.0
        pending, n_pending = _materialize(pending_src, keep)
        log_delta, _ = _materialize(
            store.read_table(spark, m_wave, "frontier_log")
            .filter(F.col("iter") == wave.iter), keep)
        scratch_store = SnapshotStore(os.path.join(scratch, "store"))
        out["checkpoint.write_ms"] = timed("checkpoint.write", lambda: (
            scratch_store.write_pending(pending, wave.iter),
            scratch_store.write_delta(log_delta, "frontier_log", wave.iter)))

        # politeness: per-host budget ranking, then the salted fetch layout
        tagged = apply_politeness(pending, robots, cfg.iter_window_ms)
        out["politeness.rank_ms"] = timed(
            "politeness.rank", lambda: _noop(tagged))
        tagged, _ = _materialize(tagged, keep)
        due, n_due = _materialize(tagged.filter(F.col("due")), keep)
        out["politeness.due_ratio"] = n_due / max(n_pending, 1)
        # an explicit partition count, so AQE does not coalesce the
        # partitions whose balance this measures
        salted = salted_repartition(due, cfg.salt_partitions,
                                    spark.sparkContext.defaultParallelism)
        per_part = [r["n"] for r in salted.groupBy(
            F.spark_partition_id().alias("p")).agg(
            F.count(F.lit(1)).alias("n")).collect()]
        out["politeness.salt_skew"] = (
            max(per_part) / (sum(per_part) / len(per_part))
            if per_part else 0.0)

        # payload: the wave's bucket set and the pruned pages scan
        holder = {}

        def prune():
            holder["ids"] = wave_bucket_ids(
                pending, F.col("url_hash"), cfg.payload_buckets)
            holder["pages"] = prune_by_buckets(pages, holder["ids"])
            _noop(holder["pages"].select("url", "status", "html", "image_id"))
        out["payload.prune_ms"] = timed("payload.prune", prune)
        out["payload.bucket_ratio"] = (
            len(holder["ids"]) / cfg.payload_buckets)

        # fetch (not timed): the due pages that answer with status 200
        fetched, n_ok = _materialize(
            holder["pages"].join(due.select("url"), "url")
            .filter(F.col("status") == 200)
            .select("url", "html", "image_id"), keep)

        # html: one parse per page → title, content, links
        extracted = with_extraction(fetched, "html", cfg.dom_selector)
        out["html.extract_ms_per_kpage"] = _per_k(timed(
            "html.extract", lambda: _noop(extracted)), n_ok)
        extracted, _ = _materialize(
            extracted.select("url", "title", "content", "links", "image_id"),
            keep)
        n_links_all = extracted.agg(
            F.sum(F.size("links"))).collect()[0][0] or 0
        out["html.links_per_page"] = n_links_all / max(n_ok, 1)

        # urls: canonicalize + host + hash over the crawlable hrefs
        hrefs, n_hrefs = _materialize(
            extracted.select(F.col("url").alias("parent_url"),
                             F.explode("links").alias("lnk"))
            .filter(href_is_crawlable_col(F.col("lnk.href")))
            .select("parent_url", F.col("lnk.href").alias("href")), keep)
        canon = (hrefs.withColumn("url", canonicalize_udf("parent_url", "href"))
                 .withColumn("host", host_udf("url"))
                 .withColumn("url_hash", url_hash_col("url")))
        out["urls.canon_ms_per_klink"] = _per_k(timed(
            "urls.canon", lambda: _noop(canon)), n_hrefs)

        # seen: the wave's distinct same-host links against the seen set
        # of the waves before it (incremental sketch merge + probe)
        children, n_cand = _materialize(
            canon.filter(F.col("url").isNotNull())
            .filter(F.col("host") == host_udf("parent_url"))
            .dropDuplicates(["url_hash"]).select("url", "url_hash"), keep)
        seen_prev, _ = _materialize(seen_from_log(
            store.read_table(spark, m_prev, "frontier_log"),
            SeenOn.SCHEDULE), keep)
        n_bits = BloomFilter.sized_for(
            cfg.max_pages, cfg.bloom_bits_per_key).n_bits
        with tracer.span("seen.sketch_merge", iter=wave.iter) as sp:
            sketch = merged_sketch(seen_prev, "url_hash", n_bits)
        out["seen.sketch_merge_ms"] = tracer.duration_ms(sp)
        fresh = anti_join_seen(children, seen_prev, sketch)
        out["seen.probe_ms"] = timed("seen.probe", lambda: _noop(fresh))
        n_new = fresh.count()
        n_maybe = split_by_sketch(children, sketch).filter(
            F.col("maybe_seen")).count()
        out["seen.candidates"] = float(n_cand)
        out["seen.dup_ratio"] = (n_cand - n_new) / n_cand if n_cand else 0.0
        # Bloom false positives: unseen candidates the sketch flagged
        out["seen.bloom_fp_ratio"] = (
            (n_maybe - (n_cand - n_new)) / n_new if n_new else 0.0)

        # imagefn: decode + PSNR validation of the wave's images
        img_keys = fetched.select("image_id").distinct()
        imgs, n_img = _materialize(
            images.join(F.broadcast(img_keys), "image_id"), keep)
        validated = with_image_validation(imgs)
        out["imagefn.decode_ms_per_krow"] = _per_k(timed(
            "imagefn.decode", lambda: _noop(validated)), n_img)
        n_img_ok = validated.filter(F.col("img_ok")).count()
        out["imagefn.ok_ratio"] = n_img_ok / max(n_img, 1)

        # embeddings: the dual (title, content) embedding UDF
        embed = make_dual_embed_udf(cfg.embedding_dim)
        vecs = extracted.select(embed(F.substring("title", 1, 8000),
                                      F.substring("content", 1, 8000)))
        out["embeddings.embed_ms_per_kdoc"] = _per_k(timed(
            "embeddings.embed", lambda: _noop(vecs)), n_ok)
    for df in keep:
        df.unpersist()
    return out
