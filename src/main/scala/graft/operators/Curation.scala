package graft.operators

import graft.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions._

/** End-to-end corpus curation: the canonical training-data pipeline
  * (quality filter → exact dedup → benchmark decontamination → mixture
  * balance) composed into ONE lineage, plus a per-stage audit funnel.
  * Each stage is an operator gated on its own (q75/q31/q72/q78); this
  * composition proves they chain.
  *
  * Scale shape: every stage is either row-local (quality), an
  * id-keyed aggregate + semi join (dedup), a blocked equi-join
  * (decontamination), or a broadcast-threshold filter (balance) — no
  * stage shuffles the document payload more than once, and no stage
  * holds corpus-global state on the driver. Stage outputs are
  * persisted (each feeds 2–3 downstream plan branches: the next
  * stage's build side, its probe side, and the audit aggregate —
  * without a persist the quality regexes and shingle explodes
  * re-execute per branch; measured ~3× on the funnel). The caches
  * belong to the caller's [[graft.Caches]] scope.
  */
object Curation {

  /** The four stage DataFrames (quality, deduped, decontaminated,
    * balanced), each persisted and registered.
    */
  private def stages(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, probes: DataFrame, probeTextCol: String,
      shingleN: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // 1. row-local quality rules
    val quality = Caches.persist(docs
      .withColumn("_qf", TextAnalysis.qualityFlags(col(textCol)))
      .where(col("_qf.keep")).drop("_qf"))
    // 2. exact dedup on the token fingerprint: keep the smallest id
    //    per duplicate group (left-semi against a slim (fp, min id)
    //    aggregate — the payload never joins on itself)
    val fp = md5(array_join(tokens(col(textCol)), " "))
    val keepers = quality.select(col(idCol), fp.as("_fp"))
      .groupBy("_fp").agg(min(col(idCol)).as(idCol))
    val deduped = Caches.persist(quality.join(keepers, Seq(idCol), "left_semi"))
    // 3. decontamination: drop docs sharing any word n-gram with the
    //    probe set (blocked equi-join on the shingle)
    val hits = TextAnalysis.contaminated(
      deduped, textCol, idCol, probes, probeTextCol, shingleN)
      .select(col("doc_id").as(idCol))
    val clean = Caches.persist(deduped.join(hits, Seq(idCol), "left_anti"))
    // 4. rebalance sources to the smallest surviving source
    val balanced = Mixture.balance(clean, idCol, groupCol)
    (quality, deduped, clean, balanced)
  }

  /** Survivors of the full pipeline (the curated corpus). */
  def curate(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, probes: DataFrame, probeTextCol: String,
      shingleN: Int = 8): DataFrame =
    stages(docs, textCol, idCol, groupCol, probes, probeTextCol, shingleN)._4

  /** Per-stage audit funnel: `stage_ord, stage, n_docs, min_doc,
    * max_doc` for input + each pipeline stage.
    */
  def funnel(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, probes: DataFrame, probeTextCol: String,
      shingleN: Int = 8): DataFrame = {
    val (quality, deduped, clean, balanced) =
      stages(docs, textCol, idCol, groupCol, probes, probeTextCol, shingleN)
    def stage(ord: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          min(col(idCol)).as("min_doc"), max(col(idCol)).as("max_doc"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"), col("min_doc"), col("max_doc"))
    stage(0, "input", docs)
      .unionAll(stage(1, "quality", quality))
      .unionAll(stage(2, "dedup", deduped))
      .unionAll(stage(3, "decontaminate", clean))
      .unionAll(stage(4, "balance", balanced))
  }
}
