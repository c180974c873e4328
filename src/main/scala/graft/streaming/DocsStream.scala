package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.TextAnalysis

/** Streaming document curation: the ingest-time shape of the batch
  * curation ops — documents arrive as files, exact duplicates are
  * dropped against ACCUMULATED state (not just within one batch),
  * quality rules flag rows, and per-source counters update
  * incrementally. The row-local operators ([[TextAnalysis
  * .qualityFlags]]) run UNCHANGED on the stream — the point of
  * building them as pure column expressions.
  *
  * Dedup key is `(source, text)` — survivor-independent, so results
  * are deterministic and batch-replayable (a token-fingerprint key
  * would let two raw texts with identical tokens but different
  * punctuation race on which survivor's quality flags count).
  */
object DocsStream {

  /** Stage a single-file parquet table into a directory the file-stream
    * source can consume, keyed by (path, mtime) so edits re-stage.
    */
  private[graft] def stageDir(dir: String, table: String): String = {
    import java.nio.file._
    val src = Paths.get(dir, s"$table.parquet")
    val staged = Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_stream_${table}_${math.abs(dir.hashCode)}_" +
        s"${Files.getLastModifiedTime(src).toMillis}")
    val target = staged.resolve(s"$table.parquet")
    if (!Files.exists(target)) {
      Files.createDirectories(staged)
      try Files.createLink(target, src)
      catch { case _: Exception => Files.copy(src, target) }
    }
    staged.toString
  }

  /** The streaming transform: stateful exact dedup then quality
    * flagging then an incrementally-maintained per-source summary
    * (`source, n_unique, n_keep`). Exposed for tests to drive with
    * their own (multi-batch) sources.
    */
  def curationAgg(docs: DataFrame): DataFrame =
    docs.dropDuplicates("source", "text")
      .withColumn("_keep", TextAnalysis.qualityFlags(col("text")).getField("keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_unique"),
        count(when(col("_keep"), lit(1))).as("n_keep"))

  /** Run the streaming curation once over the static documents table
    * (AvailableNow) and return the final summary as a batch DataFrame.
    */
  def runCurationOnce(spark: SparkSession, dir: String): DataFrame = {
    val staged = stageDir(dir, "documents")
    val schema = spark.read.parquet(staged).schema
    val stream = spark.readStream.schema(schema).parquet(staged)
    val name = s"docs_curation_${System.nanoTime()}"
    EventsStream.runAvailableNow(curationAgg(stream), OutputMode.Complete(), name)
    spark.table(name)
  }
}
