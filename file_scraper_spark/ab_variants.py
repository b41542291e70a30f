"""Superseded implementations kept ONE round as bench A/B baselines.

This box's ambient swing is ~2x run-to-run (NOTES.md), so a
cross-round comparison of single-window absolutes can manufacture a
regression (it did, in round 6). Every real optimization in this repo
was therefore proven with SAME-JVM interleaved A/B — and this module
makes that methodology native to the bench artifact: when a round
rewrites a query, the superseded form lives here for one round, the
bench runs old/new alternately in one JVM and records min-of-reps
PAIRS in BENCH_r{N}.json (the ``ab`` section), and the next round
deletes the entry.

These baselines are BENCH-ONLY: not registered, not oracle-checked,
never imported by operators. Each must return the same result set as
the current registered query (so the A/B is apples-to-apples); the
bench asserts nothing about results — the correctness gate already
covers the live form and the pair equality was checked when the
rewrite landed.

Round 14 entries (round 13's fifteen optimization arms deleted per
the one-round contract; their pairs stay in OPTIMIZATION_r13.md and
BENCH_LOCAL_r13.json). Each arm's docstring names what it isolates:

- ``dedup_winnowing``: the r13 per-doc kernel fingerprint stage,
  reverted in r14 in favour of the exploded codegen form.
- ``text_redact``: two per-row Java regexp_replace passes vs the
  live one-pass mapInArrow RE2 kernel.
- ``corpus_curriculum`` and ``text_ccnet_buckets``: the rank and
  tercile pipelines without the keyed-frame localCheckpoint that
  stops two branches rebuilding the same subtree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_scraper_spark.operators import dedup


def _old_winnowing_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arm REPOINTED in r14 — now the r13 per-doc KERNEL fingerprint
    stage (``dedup._winnowing_fp_batches``), which r14 reverted: two
    quiet 3-pair 100x A/Bs split 3-3 (min-of-6 ~1.02, flat) and the
    sf0.1 bench pair read 1.49x against the kernel in all three
    pairs, so the exploded codegen form is live again
    (``dedup._winnowing_fps_frame``) and the kernel keeps one round
    of bench pairs here. (The r13 keep rested on 0.82-0.90x pairs
    measured under heavy host contention; OPTIMIZATION_r14.md has
    the full evidence trail.)"""
    from file_scraper_spark.operators.dedup import (
        WIN_CAP,
        _winnowing_fp_batches,
        near_dup_corpus,
    )
    from file_scraper_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    corpus = near_dup_corpus(docs)
    fps = corpus.mapInPandas(
        _winnowing_fp_batches, "doc_id long, fp long"
    ).localCheckpoint(eager=False)
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > WIN_CAP)
        .select("fp")
    )
    return fps.join(F.broadcast(hot), "fp", "left_anti")


def _old_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = _old_winnowing_kept(spark, sf_dir)
    sizes = (
        kept.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nf"))
        .localCheckpoint(eager=False)
    )
    per = (
        kept.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.array_sort("ds").alias("ds"))
    )
    ds = F.col("ds")
    pairs = (
        per.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ds,
                        lambda x, i: F.transform(
                            F.slice(ds, i + 2, F.size(ds)),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.doc_a", "pr.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("nf").alias("nf_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("nf").alias("nf_b")
    )
    min_nf = F.least("nf_a", "nf_b")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            (min_nf >= dedup.WIN_MIN_FP)
            & (
                F.expr("shared * 100 div least(nf_a, nf_b)")
                >= dedup.WIN_RATIO_PCT
            )
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared"),
            min_nf.cast("long").alias("min_nf"),
            F.expr("shared * 100 div least(nf_a, nf_b)")
            .cast("long")
            .alias("ratio_pct"),
        )
    )


#: query name -> superseded callable. Empty the round after the
#: rewrite ships (the bench emits no ``ab`` section then).
AB_BASELINES = {
    "dedup_winnowing": _old_dedup_winnowing,
}


def _old_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 optimization superseded form: synthetic-PII prepend + two
    per-row Java regexp_replace passes in the JVM Project. The live
    form runs the identical patterns as vectorized RE2 over Arrow
    buffers in one mapInArrow kernel (``text._redact_batches``);
    dialect equivalence proven per-pattern (26-case battery, Java ==
    pyarrow-RE2 == DuckDB)."""
    from file_scraper_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-010"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(" re: "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(dirty, r"[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
        r"\+?[0-9][0-9()\-]{6,}",
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        F.length("text").cast("long").alias("orig_len"),
    )


AB_BASELINES["text_redact"] = _old_text_redact


def _old_corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 optimization superseded form: identical rank pipeline but
    WITHOUT the keyed-frame localCheckpoint — Spark replicates the
    producing subtree (the whole quality_ensemble, 20 parquet scans)
    into both consumers (histogram + tie-group window). The live form
    materializes keyed once (the winnowing-fps fix applied here)."""
    from pyspark.sql import Window

    from file_scraper_spark.operators.text import (
        CURRICULUM_BUCKETS_HEX,
        quality_ensemble,
    )

    e = quality_ensemble(spark, sf_dir).select(
        "doc_id",
        (
            F.col("ok_gopher") + F.col("ok_fluency") + F.col("ok_diversity")
        )
        .cast("long")
        .alias("band"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    keyed = e.withColumn(
        "kb", F.substring("k", 1, CURRICULUM_BUCKETS_HEX)
    )
    hw = (
        Window.orderBy(F.col("h_band").desc(), F.col("h_kb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        keyed.groupBy("band", "kb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("band").alias("h_band"),
            F.col("kb").alias("h_kb"),
            F.col("cnt"),
        )
        .select(
            "h_band",
            "h_kb",
            F.coalesce(F.sum("cnt").over(hw), F.lit(0)).alias("cum"),
        )
    )
    tw = Window.partitionBy("band", "kb").orderBy(
        F.col("k").asc(), F.col("doc_id").asc()
    )
    return (
        keyed.withColumn("rn", F.row_number().over(tw))
        .join(
            hist,
            (F.col("band") == F.col("h_band"))
            & (F.col("kb") == F.col("h_kb")),
        )
        .select(
            "doc_id",
            "band",
            (F.col("cum") + F.col("rn"))
            .cast("long")
            .alias("curriculum_rank"),
        )
    )


AB_BASELINES["corpus_curriculum"] = _old_corpus_curriculum


def _old_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 optimization superseded form: identical tercile pipeline
    but WITHOUT the sc localCheckpoint — Spark replicates the whole
    LM-score subtree (bigram explodes + model join) into both
    consumers (histogram + tie-offset window). The live form
    materializes sc once (the curriculum-keyed fix applied one level
    deeper)."""
    from pyspark.sql import Window

    from file_scraper_spark.operators.text import text_lm_score
    from file_scraper_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    scores = text_lm_score(spark, sf_dir)
    sc = scores.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.floor(
            F.col("p_q_sum").cast("double")
            / F.col("n_bigrams").cast("double")
        )
        .cast("long")
        .alias("score_q"),
    )
    hw = (
        Window.partitionBy("lang")
        .orderBy(F.col("score_q").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        sc.groupBy("lang", "score_q")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("lang").alias("h_lang"),
            F.col("score_q").alias("h_score"),
            F.coalesce(F.sum("cnt").over(hw), F.lit(0)).alias("cum_gt"),
            F.sum("cnt")
            .over(Window.partitionBy("lang"))
            .alias("n"),
        )
    )
    tw = Window.partitionBy("lang", "score_q").orderBy("doc_id")
    ranked = (
        sc.withColumn("tie_rn", F.row_number().over(tw))
        .join(
            hist,
            F.col("lang").eqNullSafe(F.col("h_lang"))
            & (F.col("score_q") == F.col("h_score")),
        )
        .select(
            "doc_id",
            "lang",
            "score_q",
            (F.col("cum_gt") + F.col("tie_rn")).alias("rnk"),
            "n",
        )
    )
    head_n = F.floor((F.col("n") + 2) / 3)
    mid_n = F.floor((2 * F.col("n") + 2) / 3)
    return ranked.select(
        "doc_id",
        "lang",
        "score_q",
        F.when(F.col("rnk") <= head_n, F.lit("head"))
        .when(F.col("rnk") <= mid_n, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


AB_BASELINES["text_ccnet_buckets"] = _old_text_ccnet_buckets
