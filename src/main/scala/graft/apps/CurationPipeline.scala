package graft.apps

import graft.{Sessions, Tables}
import graft.operators.{CurationStages, Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end curation job — the deployment-honest composition of the
  * per-query operators, with the expensive stages MATERIALIZED once and
  * every consumer reading the written tables (round-6 VERDICT #5 follow-on;
  * the per-query forms stay self-contained for the oracle).
  *
  * Stage layout under `outRoot` (each write is a restart boundary, a
  * lineage cut, and an audit surface — the 100 TB run model):
  *
  *   neardup_pairs/ neardup_labels/ embedding_labels/   [[CurationStages]]
  *   curated/lang=…/           quality-gated, one survivor per near-dup
  *                             cluster (longest member, id tiebreak),
  *                             lang-partitioned for downstream pruning
  *   dataset_card/             dedup-weighted per-source accounting (q93
  *                             form, label reuse)
  *   splits/                   per-(lang, split) doc/char counts over the
  *                             CURATED corpus (q48 form)
  *
  * Pipeline-level invariant, spec-gated (CurationPipelineSpec): after
  * canonical culling, the curated corpus contains AT MOST ONE member of any
  * near-dup cluster, so split leakage over it is structurally ZERO — the
  * q62 audit comes back empty by construction, not by luck.
  */
object CurationPipeline {

  /** Returns (curated doc count, quality-gated count, input count). */
  def run(spark: SparkSession, dir: String, outRoot: String): (Long, Long, Long) = {
    // stage 1: corpus-level label artifacts, written once
    CurationStages.materialize(spark, dir, outRoot)
    val labels = CurationStages.nearDupLabels(spark, outRoot)

    val d = Tables.load(spark, dir, "documents")
    val total = d.count()

    // stage 2: quality gate — minimum content + classifier keep (q66/q88
    // rules; both are map-only scores, composed before any shuffle). The
    // token array is computed ONCE and shared by both rules, and the gated
    // frame persists so the count action and the stage-3 cull don't each
    // re-tokenize the corpus (released after the curated write below).
    val gated = d
      .withColumn("toks", graft.functions.TextFns.tokensCol(col("text")))
      .withColumn("token_ct", size(col("toks")))
      .filter(col("token_ct") >= 10)
      .withColumn("score", graft.functions.TextFns.classifierScoreUdf(col("toks")))
      .filter(col("score") >= 0)
      .drop("toks")
      .persist()
    val gatedCt = gated.count()

    // stage 3: one survivor per near-dup cluster AMONG the gated docs —
    // canonical = longest member (q78's rule), recomputed over survivors so
    // a quality-culled canonical can't take its whole cluster down with it.
    // Labels are near-dup-sized ⇒ the join broadcasts; unclustered docs are
    // their own singleton cluster. Keeper = max_by(struct), not a cluster
    // window: cluster sizes are power-law and a Window.partitionBy(cl) sorts
    // a mirror-farm cluster's millions of members on ONE reducer — max_by
    // keeps one struct per group and collapses the hot cluster map-side
    // (same selection, see Dedup.canonicalPerCluster).
    val curated = gated
      .join(broadcast(labels), Seq("doc_id"), "left")
      .withColumn("cl", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("cl")
      .agg(max_by(
        struct(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("token_ct"), col("score")),
        struct(col("n_chars"), negate(col("doc_id")))).as("r"))
      .select(col("r.doc_id"), col("r.text"), col("r.lang"), col("r.source"),
        col("r.n_chars"), col("r.token_ct"), col("r.score"))
    graft.io.Io.writePartitioned(curated, s"$outRoot/curated", Seq("lang"))
    gated.unpersist()

    // stage 4: dataset card (label reuse — no second clustering) + splits
    // over the CURATED corpus
    Dedup.dedupWeightedStats(spark, dir, Some(labels))
      .write.mode("overwrite").parquet(s"$outRoot/dataset_card")
    splitsOf(spark.read.parquet(s"$outRoot/curated"))
      .write.mode("overwrite").parquet(s"$outRoot/splits")

    val curatedCt = spark.read.parquet(s"$outRoot/curated").count()
    (curatedCt, gatedCt, total)
  }

  /** q48's md5 split rule applied to an already-curated frame. */
  def splitsOf(curated: DataFrame): DataFrame =
    curated
      .withColumn("h", substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4))
      .withColumn("split",
        when(col("h") < "1999", "val")
          .when(col("h") < "3333", "test")
          .otherwise("train"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outRoot = args.lift(1).getOrElse("/tmp/graft_curation")
    val spark = Sessions.app("graft-curation", 8)
    spark.sparkContext.setLogLevel("WARN")
    val (curated, gated, total) = run(spark, dir, outRoot)
    println(s"""{"curated":$curated,"quality_gated":$gated,"input":$total,"out":"$outRoot"}""")
    spark.stop()
  }
}
