"""Structured-Streaming ingest seam for the crawl frontier.

The crawl loop itself is round-based batch by design (reference resumes
by output-exists; SURVEY.md §2.9) — `CrawlDriver` owns that. This
module adds the continuously-arriving-candidates surface the north
star's deployment implies: seed lists and externally-discovered URLs
land as files, `readStream` picks them up, and **each micro-batch is
one scheduling round** via ``foreachBatch`` — the same
:meth:`frontier.CrawlDriver.step` the batch loop runs, over the same
carried round state, with the same audit rows. Outlinks extracted in a
round are merged into the NEXT round's candidates (internal feedback),
unioned with whatever new external candidates the stream delivered.

This keeps the engine's semantics single-sourced: the streaming seam
contains no scheduling logic of its own, so the batch oracles (pure-
Python scheduler, DuckDB multiround CTE) keep covering the behavior;
tests assert stream-vs-batch round parity directly.

A micro-batch relation cannot be replayed after its trigger, so the
seam checkpoints each micro-batch's candidates eagerly: nothing the
round leaves lazy (its state tables, schedule and audit) reads the
micro-batch relation again. The carried state lives in driver memory
only: this seam writes no state snapshots and cannot resume (a
restartable crawl runs ``CrawlDriver.run`` with a state dir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc_dbp_spark.operators import frontier as fr

CANDIDATE_SCHEMA = "url string, depth int"


def read_candidate_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source candidate stream: one parquet file of (url, depth)
    per arriving candidate batch; ``maxFilesPerTrigger=1`` makes each
    file exactly one micro-batch = one scheduling round."""
    return (
        spark.readStream.schema(CANDIDATE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


class StreamingCrawl:
    """foreachBatch bridge: micro-batch -> one :meth:`CrawlDriver.step`.

    The round state is its ``driver.state`` (a CrawlDriver with no state
    dir); collects per-round schedules (bounded: schedules are
    budget-capped rows, not frontier-sized)."""

    def __init__(
        self,
        spark: SparkSession,
        robots: DataFrame,
        docs: DataFrame,
        cfg: fr.CrawlConfig,
    ):
        self.spark = spark
        self.driver = fr.CrawlDriver(spark, robots, docs, cfg)
        self._carried_outlinks: DataFrame | None = None
        self.rounds: list[DataFrame] = []
        self.audits: list[DataFrame] = []

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # driver-memory state cannot survive a restart or replay a
        # skipped batch: fail LOUDLY on any out-of-order/retried
        # batch_id instead of silently crawling against wrong state
        # (a restartable deployment persists state via CrawlDriver's
        # parquet snapshots and resumes the BATCH loop; this seam is the
        # continuous-ingest surface, not the recovery one)
        if int(batch_id) != len(self.rounds):
            raise RuntimeError(
                f"StreamingCrawl got micro-batch {batch_id} but has "
                f"processed {len(self.rounds)} rounds — restart/retry "
                "with a reused checkpointLocation is not resumable from "
                "driver memory; start a fresh checkpoint dir (and a "
                "fresh StreamingCrawl), or resume via CrawlDriver's "
                "parquet state snapshots"
            )
        # eager: the micro-batch relation is not replayable after the
        # trigger, and the round's lazy outputs read its candidates
        cand = batch_df.select("url", F.col("depth").cast("int")).localCheckpoint(eager=True)
        if self._carried_outlinks is not None:
            cand = cand.unionByName(self._carried_outlinks)
        out, _ = self.driver.step(cand, int(batch_id))
        self._carried_outlinks = out["outlinks"]
        self.rounds.append(out["fetch_batch"])
        self.audits.append(out["audit"])

    def run_available_now(self, src_dir: str, checkpoint_dir: str):
        """Drain every candidate file currently in src_dir (one round
        per file), then stop. Returns the concatenated schedule."""
        stream = read_candidate_stream(self.spark, src_dir)
        q = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # stream drained: drop the final round's probe broadcast (same
        # teardown CrawlDriver.run performs when its rounds complete)
        from cc_dbp_spark.operators import filters as flt

        flt.release_probe_broadcast()
        import functools

        if not self.rounds:
            return self.spark.createDataFrame(
                [], "round int, position int, url string, host string, depth int"
            )
        return functools.reduce(
            DataFrame.unionByName,
            [b.select("round", "position", "url", "host", "depth") for b in self.rounds],
        )
