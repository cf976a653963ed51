"""Physical-plan audit: assert the plans we ship are the plans we want.

Checks, per representative query:
* parquet scans carry PushedFilters + pruned ReadSchema (no full-width
  scans for narrow projections);
* small dimension joins broadcast (robots, ground truth, budgets);
* no CartesianProduct outside the explicitly-crossed ANN baseline;
* WholeStageCodegen covers the native expression pipelines.

Run: python tools/plan_audit.py   (exit 1 on any violation)
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from cc_dbp_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
failures: list[str] = []


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def check(name: str, cond: bool, msg: str) -> None:
    tag = "ok  " if cond else "FAIL"
    print(f"{tag}  {name}: {msg}")
    if not cond:
        failures.append(f"{name}: {msg}")


def main() -> None:
    spark = get_spark("plan-audit")

    # 1. pushdown + pruning: narrow filter+projection over documents
    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = d.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    p = plan_of(q)
    check("pushdown", "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p,
          "lang filter reaches the parquet scan")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = set(re.findall(r"(\w+):", m.group(1))) if m else set()
    check("pruning", cols == {"doc_id", "lang", "n_chars"},
          f"scan reads only needed columns (got {sorted(cols)})")
    check("codegen", "codegen id" in p, "projection pipeline is codegen'd")

    # 2. events window aggregation: partial agg before shuffle
    ev = entry.q_events_hourly(spark, SF)
    p = plan_of(ev)
    check("partial_agg", p.count("HashAggregate") >= 2,
          "map-side partial aggregation present")

    # 3. crawl round: robots and budgets joins must broadcast
    fb = entry.q_crawl_round_set(spark, SF)
    p = plan_of(fb)
    check("robots_broadcast", "BroadcastHashJoin" in p or "BroadcastNestedLoop" not in p,
          "per-host metadata joins are broadcast, not shuffled")
    check("no_cartesian", "CartesianProduct" not in p, "no accidental cross joins")

    # 4. mention pipeline: GT joins broadcast; no cartesian
    mp = entry.q_mention_pairs(spark, SF)
    p = plan_of(mp)
    check("gt_broadcast", p.count("BroadcastHashJoin") >= 2,
          "forward+reverse ground-truth joins broadcast")
    check("mention_no_cartesian", "CartesianProduct" not in p, "pair join is an equi-join")

    # 5. dedup survivors: single shuffle on the fingerprint
    ds = entry.q_dedup_survivors(spark, SF)
    p = plan_of(ds)
    n_ex = p.count("Exchange")
    check("dedup_shuffles", n_ex <= 2, f"window dedup shuffles once on fp (got {n_ex} exchanges)")

    # 6. ANN brute force: the cross join is intentional; IVF must NOT have one
    ivf = entry.q_ann_ivf(spark, SF)
    p = plan_of(ivf)
    check("ivf_equijoin", "CartesianProduct" not in p,
          "IVF probes via equi-join on centroid cell, not cross join")

    # 7. fused scheduling round: ONE full-data shuffle (the host/salt
    # repartition); dedupe-agg + rank window run in-stage, and the
    # scheduled set is a narrow filter of the checkpoint (0 exchanges)
    from cc_dbp_spark.operators import frontier as fr

    cand = spark.range(20_000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".ex.com/p/"), (F.col("id") % 5000).cast("string")).alias("url"),
        F.lit(0).cast("int").alias("depth"),
    )
    robots = spark.createDataFrame(
        [("h1.ex.com", ["/deny"], [], 1.0)],
        "host string, deny_prefixes array<string>, allow_prefixes array<string>, crawl_delay_s double",
    )
    credit = spark.createDataFrame([], fr.CREDIT_SCHEMA)
    audit_cfg = fr.CrawlConfig(filter_kind="none", round_budget_s=50.0)
    _, scheduled, _ = fr._fused_schedule(
        cand, None, None, robots, credit, 0, audit_cfg,
        seen_nonempty=False, frontier_nonempty=False,
    )
    import re as _re

    p = plan_of(scheduled)
    # formatted explain lists every operator twice (tree + details):
    # count physical operators via their "(N) Exchange" detail headers
    n_ex = len(_re.findall(r"\(\d+\) Exchange", p))
    # the phase-2 exact per-host rank is ONE exchange whose input is the
    # k-pruned phase-1 survivors (O(schedule), never the frontier): the
    # full-frontier shuffle happens exactly once, pre-checkpoint
    check("fused_round_narrow", n_ex <= 1,
          f"scheduled = k-pruned filter + one bounded rank exchange (got {n_ex})")

    # 8. skew guards as CHECKED invariants (not code comments): no
    # self-join input group may exceed its configured cap
    from cc_dbp_spark.operators import dedup as dd

    # 8a. default caps hold on the bench fixture (nothing silently
    # diverts to the star path at the shipped defaults)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dd.minhash_signatures(docs, num_hashes=64).localCheckpoint(eager=True)
    # SAME construction the operator joins on (shared helper — the
    # checked invariant cannot drift from the engine)
    b = dd.minhash_band_buckets(sigs, "doc_id", bands=16, rows_per_band=4)
    max_bucket = b.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    check("lsh_bucket_cap", max_bucket is not None and max_bucket <= 1024,
          f"largest minhash band bucket {max_bucket} within the 1024 cap")

    # 8b. adversarial degenerate corpus: with a cap the candidate count
    # is linear (star), never the clique
    n_adv = 200
    adv = spark.range(n_adv).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit("identical boilerplate text shared by every shard").alias("text"),
    )
    asigs = dd.minhash_signatures(adv, num_hashes=64).localCheckpoint(eager=True)
    n_cand = dd.minhash_lsh_candidates(asigs, max_bucket=16).count()
    check("lsh_star_linear", n_cand == n_adv - 1,
          f"degenerate bucket star-links ({n_cand} candidates for {n_adv} docs)")

    # 8c. host groups: the fused round's per-host output is rank-capped
    # by the politeness budget (hot hosts cannot exceed it) — k derived
    # from the SAME CrawlConfig passed to _fused_schedule above, so a
    # config change can't silently leave this checking a stale cap
    k = int(audit_cfg.round_budget_s / audit_cfg.default_crawl_delay_s)
    max_per_host = scheduled.groupBy("host").count().agg(F.max("count")).first()[0]
    check("host_group_cap", max_per_host is not None and max_per_host <= k,
          f"max scheduled per host {max_per_host} <= politeness k {k}")

    # 8d. embedding near-dup skew guard: a degenerate identical-embedding
    # corpus (the boilerplate/SEO-farm shape a 100 TB crawl produces)
    # must star-link linearly, never emit the quadratic bucket clique
    n_emb = 200
    ident = spark.range(n_emb).select(
        F.col("id").alias("vec_id"), F.array(*[F.lit(1.0)] * 8).alias("embedding")
    )
    n_pairs = dd.embedding_near_dups(
        ident, threshold=0.95, n_planes=12, max_bucket=16
    ).count()
    check("emb_star_linear", n_pairs == n_emb - 1,
          f"degenerate embedding bucket star-links ({n_pairs} pairs for {n_emb} vecs)")

    # 8e. star-diversion observability: the oversized_buckets audit MUST
    # flag the degenerate bucket (the runtime signal for the cap's
    # recall caveat) and MUST be empty on the bench corpus at the
    # shipped defaults (nothing silently diverting in production shape)
    adv_b = dd.minhash_band_buckets(asigs, "doc_id", bands=16, rows_per_band=4)
    n_over_adv = dd.oversized_buckets(adv_b, ["band", "bucket"], 16).count()
    n_over_bench = dd.oversized_buckets(b, ["band", "bucket"], 1024).count()
    check("star_divert_observable", n_over_adv > 0 and n_over_bench == 0,
          f"oversized_buckets flags the degenerate corpus ({n_over_adv} buckets) "
          f"and is silent on the bench corpus ({n_over_bench})")

    # 9. IVF cell skew: sample-trained centroids must spread the bench
    # embeddings across cells — max cell population bounded by c*n/k
    # (residual risk called out in round 3; remedy if this fires is to
    # re-split or star-cap the hot cell, similarity.ivf_topk docstring)
    import pyarrow.parquet as pq

    from cc_dbp_spark.operators import similarity as sim
    from cc_dbp_spark.oracle import sketch_fixtures as sx

    fx = sx.ensure_ivf_fixture(SF)
    cent = np.asarray(pq.read_table(fx["centroids"]).column("vec").to_pylist())
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        cells, _ = sim.assign_cells(np.stack(vecs.to_numpy()), cent, 1)
        return pd.Series(cells)

    cells = emb.select(cell_of("embedding").alias("cell"))
    n_vec = emb.count()
    max_cell = cells.groupBy("cell").count().agg(F.max("count")).first()[0]
    cap = 4.0 * n_vec / len(cent)
    check("ivf_cell_skew", max_cell is not None and max_cell <= cap,
          f"max IVF cell {max_cell} <= 4*n/k = {cap:.1f} ({n_vec} vecs, {len(cent)} cells)")

    # 9b. the DEFAULT ivf_topk path carries the auto hot-cell re-split:
    # the physical plan must join on (cell, sub), so a deployment that
    # calls ivf_topk with defaults gets the skew remedy without opting in
    q1 = spark.createDataFrame(
        [(0, pq.read_table(f"{SF}/embeddings.parquet").column("embedding")[0].as_py())],
        "query_id int, embedding array<double>",
    )
    default_plan = sim.ivf_topk(
        emb, q1, k=5, n_centroids=len(cent), n_probe=2, centroids=cent
    )._jdf.queryExecution().executedPlan().toString()
    # match the column REFERENCE ("sub#<exprId>"), not a bare substring a
    # Subquery/ReusedSubquery node could satisfy with the re-split off
    check("ivf_auto_split_default", "sub#" in default_plan,
          "default ivf_topk plan joins on (cell, sub) — auto re-split active")

    # 10. tensor-encode stage shape: the placeholder pad+split chain is
    # pinned BELOW one REPARTITION_BY_COL exchange (the shuffle write
    # materializes `toks`, so the token Generate consumes an attribute
    # and never re-evaluates the chain — the r5 regression), and the
    # explode + vocab joins + per-sentence aggregation run in that
    # shuffle's reduce stage with no further hash exchange between them.
    from cc_dbp_spark.operators import mentions as _men

    sent_rows = spark.createDataFrame(
        [("a", "b", True, 0, 0, "alpha ARGONE beta, ARGTWO."),
         ("a", "b", True, 0, 1, "gamma ARGONE 42 ARGTWO")],
        "id1 string, id2 string, positive boolean, "
        "chunk int, sent_ndx int, ctx string",
    )
    voc = spark.createDataFrame([("alpha", 0), ("##", 1)], "word string, widx int")
    enc_plan = (
        _men.encode_tensor_rows(sent_rows, voc, max_pos=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    gen_i = enc_plan.find("Generate posexplode")
    rep_i = enc_plan.find("REPARTITION_BY_COL")
    check("tensor_encode_materialized_toks",
          0 <= gen_i < rep_i and "regexp_replace" not in enc_plan[gen_i:rep_i],
          "token Generate reads the shuffled toks attribute, not the regex chain")
    sent_agg = re.search(
        r"ObjectHashAggregate\(keys=\[[^\]]*sent_ndx[^\]]*\], functions=\[partial_",
        enc_plan,
    )
    check("tensor_encode_reduce_side_agg",
          sent_agg is not None and gen_i > sent_agg.start()
          and "Exchange hashpartitioning" not in enc_plan[sent_agg.start():gen_i],
          "per-sentence aggregation runs in the repartition's reduce stage")

    spark.stop()
    print(f"\n{len(failures)} violations" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
