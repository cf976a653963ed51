"""Layer probes of the traced run. Each calls one layer's public
function on the workload's own inputs and materializes the output on its
own, so that a layer whose calls only build lazy plans (and so finish in
microseconds inside the pipeline) gets a time of its own. Inputs to a
probe are materialized first, outside its span."""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc_dbp_spark.functions import parity, urlnorm
from cc_dbp_spark.operators import filters as flt
from cc_dbp_spark.operators import frontier, html, spans
from cc_dbp_spark.sources import catalog, warc

import tracing


def _ck(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer: tracing.Tracer, layer: str, fn):
    with tracer.span(f"probe.{layer}", group=f"probe.{layer}") as rec:
        out = fn()
    return tracing.duration(rec), out


def url_layers(spark: SparkSession, candidates: DataFrame, tracer) -> dict:
    """Canonicalizer and parity tie draw over the raw candidate URLs."""
    raw = _ck(candidates.select("url"))
    n = raw.count()
    t_norm, _ = _timed(tracer, "urlnorm", lambda: _noop(urlnorm.with_canonical(raw, "url").select("url")))
    t_par, _ = _timed(tracer, "parity", lambda: _noop(
        raw.select(parity.pseudo_random_from_string_col(F.col("url")).alias("tie"))))
    return {"urlnorm.rows_per_s": (n / t_norm, "1/s"), "parity.rows_per_s": (n / t_par, "1/s")}


def filter_layer(spark: SparkSession, candidates: DataFrame, docs: DataFrame, tracer) -> dict:
    """The crawl's bloom filter (production spec) built from the document
    URLs as the seen set, then probed with the canonical candidates; the
    exact anti-join confirms which "maybe" rows are really new."""
    cfg = frontier.CrawlConfig()
    spec = flt.BloomSpec(cfg.bloom_capacity, cfg.bloom_fpr, cfg.bloom_partitions)
    seen = _ck(docs.select(F.col("doc_id").alias("url")).withColumn("url_hash", F.xxhash64("url")))
    cands = _ck(urlnorm.with_canonical(candidates, "url").select("url").distinct()
                .withColumn("url_hash", F.xxhash64("url")))
    t_upd, bloom = _timed(tracer, "filters.update", lambda: _ck(
        flt.update_bloom_df(flt.empty_bloom_df(spark), seen.select("url_hash"), spec)))
    t_probe, probed = _timed(tracer, "filters.probe", lambda: _ck(
        flt.flag_with_broadcast_bloom(cands, bloom, spec)))
    flt.release_probe_broadcast()
    n = probed.count()
    maybe = probed.filter(F.col("maybe_seen"))
    n_maybe = maybe.count()
    n_new = maybe.join(seen.select("url"), "url", "left_anti").count()
    return {
        "filters.probe_s": (t_probe, "s"),
        "filters.update_s": (t_upd, "s"),
        "filters.maybe_frac": (n_maybe / n if n else 0.0, "ratio"),
        "filters.fp_frac": (n_new / n_maybe if n_maybe else 0.0, "ratio"),
    }


def harvest_layers(spark: SparkSession, warc_dir: pathlib.Path, root: pathlib.Path, tracer) -> dict:
    """The harvest pipeline one stage at a time: WARC parse, HTML
    extraction, span sort + outlink explode, catalog append."""
    files = _ck(spark.read.format("binaryFile").load(str(warc_dir)).select(
        F.col("path").alias("src"), F.col("content").alias("payload")))
    t_warc, recs = _timed(tracer, "warc", lambda: _ck(warc.warc_records(files)))
    kept = recs.filter(F.col("record_ndx") >= 0)
    n_rec, n_trunc = kept.count(), recs.filter(F.col("truncated")).count()
    pages = kept.select("url", F.col("body").alias("payload"))
    t_html, docs = _timed(tracer, "html", lambda: _ck(html.html_to_documents(pages).select("doc_id", "spans")))
    n_docs, n_empty = docs.count(), docs.filter(F.size("spans") == 0).count()

    def span_ops():
        s = _ck(spans.sort_spans(docs))
        _noop(spans.outlink_edges(s))
        return s

    t_spans, sorted_docs = _timed(tracer, "spans", span_ops)
    tables = catalog.ParquetManifestTables(root)
    t_app, _ = _timed(tracer, "catalog", lambda: tables.append("pages", sorted_docs))
    return {
        "warc.records_per_s": (n_rec / t_warc, "1/s"),
        "warc.truncated": (n_trunc, "count"),
        "html.pages_per_s": (n_docs / t_html, "1/s"),
        "html.empty_frac": (n_empty / n_docs if n_docs else 0.0, "ratio"),
        "spans.rows_per_s": (n_docs / t_spans, "1/s"),
        "catalog.append_s": (t_app, "s"),
        "catalog.bytes": (tracing.dir_bytes(root / "pages"), "bytes"),
    }
