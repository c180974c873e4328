package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming counterparts of the batch event-time operators
  * (`graft.operators.Events`). The reference engine has no streaming
  * (SURVEY.md §2.9) — this is declared surplus capability, built the
  * Spark-native way: `readStream` → watermarked windowed aggregation /
  * `flatMapGroupsWithState` sessionization → sink.
  *
  * For deterministic local verification, [[runTumblingOnce]] drives the
  * streaming query over the static events parquet with
  * `Trigger.AvailableNow` into a memory sink and returns the result —
  * the same plan a 24/7 cluster deployment would run against a file or
  * Kafka source.
  */
object EventsStream {

  /** Streaming tumbling-window count/sum per event type.
    *
    * `ts` arrives as int64 ns (see [[graft.Tables.events]]); the window
    * is integer bucketing, identical to the batch form, so streaming
    * results equal batch results once all data is processed.
    */
  def tumblingAgg(events: DataFrame, windowNs: Long): DataFrame =
    events
      .withColumn("window_start_ns", col("ts") - pmod(col("ts"), lit(windowNs)))
      // watermark needs a time column; derive µs-precision timestamp
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(col("window_start_ns"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

  /** Spark's file-stream source consumes directories; the testdata is a
    * single parquet file — stage it (hardlink, else copy) into a temp
    * dir once per (path, mtime).
    */
  private def stageDir(dir: String): String = {
    import java.nio.file._
    val src = Paths.get(dir, "events.parquet")
    val staged = Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_stream_${math.abs(dir.hashCode)}_${Files.getLastModifiedTime(src).toMillis}")
    val target = staged.resolve("events.parquet")
    if (!Files.exists(target)) {
      Files.createDirectories(staged)
      try Files.createLink(target, src)
      catch { case _: Exception => Files.copy(src, target) }
    }
    staged.toString
  }

  /** Run the streaming query `out` once (AvailableNow: the whole file
    * set, then stop) into the memory table `name`, with the
    * shuffle-partition count (= state-store count) pinned to `n`. Every
    * stateful operator commits one store per partition per micro-batch,
    * so the local AvailableNow harnesses size it down from 32 — the
    * same knob a deployment pins before a stateful query's first start
    * (the count is frozen into the checkpoint). The pin is
    * session-global (concurrent queries see it; overlapping runs may
    * leave it set), which is safe because results are partition-count
    * invariant; the DuckDB gates re-verify that.
    *
    * The query checkpoints to a RAM-backed scratch dir of its own,
    * passed as its `checkpointLocation` option (never through the
    * session conf) and deleted when it ends. These harness runs replay
    * a static table into a memory sink: their offset/commit/state files
    * are pure verification scratch — written once, never read back,
    * discarded with the query — so placing them on `/dev/shm`
    * (override: `spark.graft.streamScratch`; fallback: `java.io.tmpdir`
    * when absent) removes disk-write latency from every micro-batch
    * commit without touching the durable-checkpoint story of a real
    * deployment, where the location is an explicit required choice. The throughput PROBES (rate source) do not run
    * through here — their measurement conditions are unchanged.
    */
  private[streaming] def runAvailableNow(out: DataFrame, mode: OutputMode,
      name: String, n: Int = 8): Unit = {
    import java.nio.file.{Files, Paths}
    val spark = out.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val root = spark.conf.getOption("spark.graft.streamScratch")
      .getOrElse(
        if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm"
        else sys.props("java.io.tmpdir"))
    // an unwritable scratch root (read-only /dev/shm in a locked-down
    // sandbox) must degrade to tmpdir, never fail the gate
    val scratch =
      try Files.createTempDirectory(Paths.get(root), "graft_stream_ckpt_")
      catch { case _: Exception =>
        Files.createTempDirectory(
          Paths.get(sys.props("java.io.tmpdir")), "graft_stream_ckpt_")
      }
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try out.writeStream
      .option("checkpointLocation", scratch.toString)
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(scratch).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
  }

  /** Run the streaming aggregation once over the static events table
    * (AvailableNow ⇒ processes the whole file set, then stops) and
    * return the complete result as a batch DataFrame.
    */
  def runTumblingOnce(spark: SparkSession, dir: String, windowNs: Long): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(spark.readStream.schema(schema).parquet(staged))
    val agg = tumblingAgg(stream, windowNs)
    val name = s"events_tumbling_${System.nanoTime()}"
    runAvailableNow(agg, OutputMode.Complete(), name)
    spark.table(name)
  }

  /** Streaming throughput probe: drive [[tumblingAgg]] from Spark's
    * `rate` source until `minBatches` micro-batches complete (bounded by
    * `maxWaitMillis`), then report engine rows/sec as
    * (input rows) / (trigger-execution time), excluding the cold first
    * batch. The rate source generates rows computationally and backfills
    * when the engine lags, so with an aggressive `rowsPerSecond` the
    * measured number reflects the aggregation pipeline, not the
    * generator.
    *
    * Returns `None` when the run produced no qualifying batches inside
    * the deadline (a starved/contended JVM) — a failed measurement must
    * surface as "no measurement", never as a plausible-looking 0.0
    * (which the r6 driver run published as if it were a real rate).
    */
  /** Streaming daily-active keys (the DAU counter): stateful
    * cross-batch dedup on the (period, key) pair, then a per-period
    * count — `count(DISTINCT)` is unsupported in streaming, and this
    * dedup-state + plain-count decomposition is the standard
    * replacement (the [[dedupeStream]] state keyed by the composite
    * time bucket). Deterministic and batch-replayable: dedup survivors
    * carry no payload, so micro-batch boundaries cannot change the
    * result.
    */
  def dailyActiveAgg(events: DataFrame, keyCol: String,
      periodNs: Long): DataFrame =
    events
      .select((col("ts") - pmod(col("ts"), lit(periodNs))).as("period_start_ns"),
        col(keyCol).as("k"))
      .dropDuplicates("period_start_ns", "k")
      .groupBy("period_start_ns")
      .agg(count(lit(1)).as("n_active"))

  /** Run the streaming DAU counter once (AvailableNow) over the static
    * events table; returns the final per-period counts.
    */
  def runDailyActiveOnce(spark: SparkSession, dir: String, keyCol: String,
      periodNs: Long): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(spark.readStream.schema(schema).parquet(staged))
    val agg = dailyActiveAgg(stream, keyCol, periodNs)
    val name = s"events_dau_${System.nanoTime()}"
    runAvailableNow(agg, OutputMode.Complete(), name)
    spark.table(name)
  }

  /** Streaming first-seen state + batch growth report: the stream
    * maintains each entity's earliest period as Complete-mode
    * min-aggregate state (min is commutative, so micro-batch order
    * cannot change the final state — the determinism argument), and
    * the growth curve (new + cumulative per period over the gap-filled
    * grid) is a batch read of that state table. This is the streaming
    * form of [[graft.operators.Events.firstSeenGrowth]]; the two-level
    * aggregate (per-user min → per-period count) cannot run as one
    * streaming query (chained aggregations are unsupported), so the
    * period roll-up reads the final state — the standard
    * state-plus-report decomposition. Output matches q249.
    */
  def runFirstSeenOnce(spark: SparkSession, dir: String, keyCol: String,
      periodNs: Long): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(
      spark.readStream.schema(schema).parquet(staged))
    val firstSeen = stream
      .groupBy(col(keyCol).as("u"))
      .agg(expr(s"min(ts div $periodNs)").as("p"))
    val name = s"events_firstseen_${System.nanoTime()}"
    runAvailableNow(firstSeen, OutputMode.Complete(), name)
    val state = spark.table(name)
    val news = state.groupBy("p").agg(count(lit(1)).as("new_users"))
    val bounds = broadcast(spark.read.parquet(staged)
      .transform(graft.Tables.tsAsNanos)
      .agg(expr(s"min(ts div $periodNs)").as("__p0"),
        expr(s"max(ts div $periodNs)").as("__p1")))
    val grid = bounds
      .select(explode(sequence(col("__p0"), col("__p1"))).as("p"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("period")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(news, Seq("p"), "left")
      .select(col("p").as("period"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(w))
  }

  /** Streaming heavy-hitters state + batch top-k report: the stream
    * maintains per-key counts and value sums as Complete-mode
    * aggregate state (both commutative — micro-batch order cannot
    * change the final state) and the top-k read is a TakeOrdered over
    * the key-cardinality-bounded state table. Streaming form of the
    * q30 batch top-k.
    */
  def runTopKeysOnce(spark: SparkSession, dir: String, keyCol: String,
      k: Int): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(
      spark.readStream.schema(schema).parquet(staged))
    val counts = stream.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum("value").as("__sv"))
    val name = s"events_topk_${System.nanoTime()}"
    runAvailableNow(counts, OutputMode.Complete(), name)
    spark.table(name)
      .select(col(keyCol), col("n"), round(col("__sv"), 2).as("sum_value"))
      .orderBy(col("n").desc, col(keyCol).asc)
      .limit(k)
  }

  def rateThroughput(spark: SparkSession, rowsPerSecond: Long,
      minBatches: Int = 4, maxWaitMillis: Long = 30000L,
      windowNs: Long = 3600L * 1000 * 1000 * 1000): Option[Double] = {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .option("numPartitions", spark.sparkContext.defaultParallelism)
      .load()
      .select(
        (col("value") * 1000000L).as("ts"), // 1 ms-spaced ns event times
        concat(lit("t"), pmod(col("value"), lit(5))).as("event_type"),
        (pmod(col("value"), lit(1000)) / 10.0).as("value"))
    val agg = tumblingAgg(rate, windowNs)
    val name = s"rate_bench_${System.nanoTime()}"
    val q = agg.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(name)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()
    val deadline = System.currentTimeMillis() + maxWaitMillis
    // need minBatches + 1 so a batch remains after dropping the cold one
    while (q.recentProgress.count(_.numInputRows > 0) <= minBatches &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    q.stop()
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0).drop(1)
    val rows = progress.map(_.numInputRows).sum
    val secs = progress
      .map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
      .sum / 1000.0
    spark.catalog.dropTempView(name)
    if (rows > 0 && secs > 0) Some(rows / secs) else None
  }

  /** Stateful-operator throughput (rows/s through
    * [[dedupeStream]]'s keyed dedup state) under a chosen state store
    * provider — the probe that sizes the streaming tier's state
    * backend. Every rate-source row is a DISTINCT key, so per-batch
    * state grows with the horizon: the worst case for a heap-resident
    * store and exactly where RocksDB
    * (`spark.sql.streaming.stateStore.providerClass=
    * ...state.RocksDBStateStoreProvider`, spilling state off-heap to
    * local SST files) keeps working after the default HDFS-backed
    * store's executor-heap ceiling — the 100 TB path for the
    * ledger/first-seen/sessionize operators. `providerClass` None
    * measures the session default; `extraConfs` lets a caller measure
    * provider variants (e.g. RocksDB changelog checkpointing, which
    * uploads per-batch deltas instead of full SST snapshots). All
    * touched confs are restored afterwards.
    */
  def statefulThroughput(spark: SparkSession, rowsPerSecond: Long,
      providerClass: Option[String] = None,
      minBatches: Int = 4, maxWaitMillis: Long = 30000L,
      extraConfs: Map[String, String] = Map.empty): Option[Double] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val allConfs = extraConfs ++ providerClass.map(key -> _)
    val prevs = allConfs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    allConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rate = spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
        .select((col("value") * 1000000L).as("ts"),
          col("value").as("event_id"))
      // 5-minute horizon: event time advances 1 ms per row, so live
      // state is bounded at ~300k keys regardless of how long the
      // probe runs — the measurement stresses the store's put/evict
      // path, not the probe JVM's heap. Output goes to the noop sink:
      // every input row is distinct, so a memory sink would buffer the
      // ENTIRE stream on the driver (measured OOM at 2M rows/s).
      val deduped = dedupeStream(rate, "event_id", horizon = "5 minutes")
      val q = deduped.writeStream
        .outputMode(OutputMode.Append())
        .format("noop")
        .trigger(Trigger.ProcessingTime("250 milliseconds"))
        .start()
      val deadline = System.currentTimeMillis() + maxWaitMillis
      while (q.recentProgress.count(_.numInputRows > 0) <= minBatches &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      q.stop()
      q.awaitTermination()
      val progress = q.recentProgress.filter(_.numInputRows > 0).drop(1)
      val rows = progress.map(_.numInputRows).sum
      val secs = progress
        .map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
        .sum / 1000.0
      if (rows > 0 && secs > 0) Some(rows / secs) else None
    } finally {
      prevs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Streaming in-flight deduplication: first occurrence of each
    * `idCol` wins; duplicates arriving within the watermark horizon are
    * dropped and key state is evicted once the watermark passes — the
    * bounded-state form (`dropDuplicatesWithinWatermark`), so state size
    * tracks the horizon, not the stream's lifetime key count.
    */
  def dedupeStream(events: DataFrame, idCol: String,
      horizon: String = "1 hour"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark(idCol)

  /** Gate harness: duplicate a deterministic subset of the static
    * events into the stream (union), then dedupe — the output must
    * equal the ORIGINAL distinct events, proving duplicates really
    * drop. Returns the deduped rows as a batch DataFrame.
    */
  def runDedupOnce(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(spark.readStream.schema(schema).parquet(staged))
    val doubled = stream.union(stream.where(pmod(col("event_id"), lit(7)) === 0))
    val out = dedupeStream(doubled, "event_id")
      .select("event_id", "user_id", "event_type", "value")
    val name = s"events_dedup_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Append(), name)
    spark.table(name)
  }

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * evicts a key's dedup state once the watermark passes its event
    * time + `horizon`. [[runDedupOnce]]'s plain `dropDuplicates` keeps
    * EVERY key for stream lifetime — unbounded state at 100-TB scale;
    * this form caps state at the re-delivery horizon (real duplicate
    * ingestion is close-in-time re-emission, exactly what the fixture
    * models: the re-emitted subset carries identical event times, so
    * every duplicate lands inside any horizon and the AvailableNow
    * replay equals batch distinct).
    */
  def runDedupTtlOnce(spark: SparkSession, dir: String,
      horizon: String = "1 hour"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(
      spark.readStream.schema(schema).parquet(staged))
    val doubled = stream.union(
      stream.where(pmod(col("event_id"), lit(7)) === 0))
    val out = doubled
      .withColumn("__evt", timestamp_micros(expr("ts div 1000")))
      .withWatermark("__evt", horizon)
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "event_type", "value")
    val name = s"events_dedup_ttl_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Append(), name)
    spark.table(name)
  }

  /** Watermarked stream-stream interval join: every purchase pairs with
    * the same user's views in the preceding `horizon` (event time, µs
    * precision — the cross-engine comparable grain; see
    * [[graft.Tables.events]] on ns timestamps). Both sides carry
    * watermarks and the join predicate time-bounds `v_time` relative to
    * `p_time`, so each side's buffered state is evicted as the
    * watermark advances — state size tracks the horizon, not stream
    * lifetime. Inner join ⇒ append-mode output; at AvailableNow replay
    * the result equals the equivalent batch join.
    */
  def viewPurchaseJoin(events: DataFrame, horizon: String = "24 hours",
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        timestamp_micros(expr("ts div 1000")).as("v_time"))
      .withWatermark("v_time", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("user_id"),
        timestamp_micros(expr("ts div 1000")).as("p_time"))
      .withWatermark("p_time", watermark)
    purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_time") >= col("p_time") - expr(s"INTERVAL $horizon") &&
          col("v_time") < col("p_time"),
        joinType)
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        (unix_micros(col("p_time")) - unix_micros(col("v_time"))).as("gap_us"))
  }

  /** Drive the stream-stream join once over the static events table.
    *
    * `statePartitions` sizes the join's state stores (a stream-stream
    * join runs FOUR stores per partition, and each micro-batch commits
    * every store — the dominant cost of a small local run). The
    * partition count is pinned at FIRST start and kept by the
    * checkpoint thereafter, exactly the knob a production deployment
    * sets before going live; results are partition-count-invariant
    * (the DuckDB hash gate runs the same join at whatever count).
    */
  def runJoinOnce(spark: SparkSession, dir: String,
      horizon: String = "24 hours", statePartitions: Int = 8): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(spark.readStream.schema(schema).parquet(staged))
    val out = viewPurchaseJoin(stream, horizon)
    val name = s"events_join_${System.nanoTime()}"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q = out.writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(name)
  }

  /** Drive the LEFT OUTER stream-stream join once over the static
    * events table — the variant [[runJoinOnce]] can't express: a
    * purchase with no prior-day view must still emit (with NULL view
    * columns), and in a stream that row can only be released when the
    * WATERMARK proves no matching view can still arrive (state
    * eviction, not batch completion — Spark holds an unmatched left
    * row until `watermark > p_time`, since a view with
    * `v_time < p_time` is late but admissible until then).
    *
    * Under `AvailableNow` the final watermark stops `delay` short of
    * the max event time, which would withhold the tail purchases'
    * NULL rows and break batch equivalence — so the staged source
    * appends one far-future sentinel row per side (user −1, filtered
    * from the output) to push the final watermark past every real
    * event: the production "flush record" pattern for draining outer
    * joins in finite tests. With the flush, streaming output ==
    * the batch LEFT JOIN, and the DuckDB oracle gates exactly that.
    */
  def runOuterJoinOnce(spark: SparkSession, dir: String,
      horizon: String = "24 hours", statePartitions: Int = 8): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageOuterDir(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(
      spark.readStream.schema(schema).parquet(staged))
    // NOTE: the sentinel filter must NOT go into the streaming plan —
    // Catalyst pushes `user_id >= 0` through the join BELOW the
    // EventTimeWatermark nodes (user_id is not the event-time column,
    // so the pushdown is legal), which removes the flush rows before
    // they can advance the watermark and silently re-breaks the tail
    // drain. Filter on the sink table instead.
    val out = viewPurchaseJoin(stream, horizon, joinType = "left_outer")
    val name = s"events_outer_join_${System.nanoTime()}"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q = out.writeStream
        .outputMode(OutputMode.Append())
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(name).where(col("user_id") >= 0)
  }

  /** Batch user-tier dimension for [[runStreamStaticOnce]]: per user,
    * lifetime purchase spend bucketed into `high` (≥ 500) / `mid`
    * (≥ 100) / `low` tiers. Users with no purchases are `low` (spend
    * 0) — every user keeps a dimension row so the stream-side join
    * can stay INNER without dropping events.
    */
  def userTierDim(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0d))).as("__spend"))
      .select(col("user_id"),
        when(col("__spend") >= 500d, lit("high"))
          .when(col("__spend") >= 100d, lit("mid"))
          .otherwise(lit("low")).as("tier"))

  /** Streaming aggregation over a stream-static join — the dimension-
    * enrichment shape every production event pipeline runs (stream
    * facts ⨝ slowly-changing dimension, then aggregate): the events
    * STREAM joins the broadcast [[userTierDim]] STATIC table on
    * `user_id` (stateless — stream-static inner joins keep no state;
    * the static side is re-planned per micro-batch, which is exactly
    * how dimension refresh reaches a 24/7 query) and aggregates
    * `(tier, event_type)` counts/sums in Complete mode. Emits
    * `(tier, event_type, n, sum_value)` (2dp).
    */
  def runStreamStaticOnce(spark: SparkSession, dir: String,
      statePartitions: Int = 8): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val dim = userTierDim(spark.read.parquet(staged))
    val schema = spark.read.parquet(staged).schema
    val stream = spark.readStream.schema(schema).parquet(staged)
    val out = stream
      .join(broadcast(dim), Seq("user_id"))
      .groupBy("tier", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    val name = s"events_stream_static_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Complete(), name, statePartitions)
    spark.table(name)
  }

  /** Stage the events table as int64-ns parquet plus the two
    * watermark-flush sentinels (one per join side, user_id −1, ts =
    * max + 3 days), once per (path, mtime).
    */
  /** Native `session_window` streaming aggregation — the BUILT-IN
    * gap-session operator (Spark 3.2+ `session_window(ts, gap)`:
    * state-store-backed windows that EXTEND while events keep arriving
    * within `gap` and merge when late data bridges two of them) next
    * to this module's `flatMapGroupsWithState` sessionization, which
    * pins the same semantics through custom state. Window end = last
    * event + gap (the operator's definition), so the batch oracle is
    * the classic gaps-and-islands form with `break when Δt ≥ gap`.
    * Emits `(user_id, session_start_us, session_end_us, n, sum_value)`.
    */
  def sessionWindowAgg(events: DataFrame, gap: String): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n"), col("sum_value"))

  /** Drive [[sessionWindowAgg]] once (AvailableNow, Append mode). A
    * session only emits once the WATERMARK passes its end, and
    * AvailableNow's final watermark stops `delay` short of the max
    * event time — so the staged source carries one far-future flush
    * sentinel (user −1, filtered at the sink — same pattern as
    * [[runOuterJoinOnce]]) to drain the tail sessions and make the
    * streaming output equal the batch gaps-and-islands form.
    */
  def runSessionWindowOnce(spark: SparkSession, dir: String,
      gap: String = "30 minutes", statePartitions: Int = 8): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageSessionDir(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(
      spark.readStream.schema(schema).parquet(staged))
    val out = sessionWindowAgg(stream, gap)
    val name = s"events_session_window_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Append(), name, statePartitions)
    // sentinel filtered at the SINK — a source-side filter would be
    // pushed below the watermark node and un-drain the tail (see
    // runOuterJoinOnce's NOTE)
    spark.table(name).where(col("user_id") >= 0)
  }

  private def stageSessionDir(spark: SparkSession, dir: String): String = {
    import java.nio.file._
    val src = Paths.get(dir, "events.parquet")
    val staged = Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_stream_session_${math.abs(dir.hashCode)}_${Files.getLastModifiedTime(src).toMillis}")
    if (!Files.exists(staged.resolve("_SUCCESS"))) {
      val ev = graft.Tables.events(spark, dir)
      val maxNs = ev.agg(max("ts")).head().getLong(0)
      val flushNs = maxNs + 3L * 24 * 3600 * 1000 * 1000 * 1000
      val sentinel = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(-1L, flushNs, -1L, "view", 0.0, null)),
        ev.select("event_id", "ts", "user_id", "event_type", "value",
          "props").schema)
      ev.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .unionByName(sentinel)
        .coalesce(1)
        .write.mode("overwrite").parquet(staged.toString)
    }
    staged.toString
  }

  private def stageOuterDir(spark: SparkSession, dir: String): String = {
    import java.nio.file._
    val src = Paths.get(dir, "events.parquet")
    val staged = Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_stream_outer_${math.abs(dir.hashCode)}_${Files.getLastModifiedTime(src).toMillis}")
    if (!Files.exists(staged.resolve("_SUCCESS"))) {
      val ev = graft.Tables.events(spark, dir)
      val maxNs = ev.agg(max("ts")).head().getLong(0)
      val flushNs = maxNs + 3L * 24 * 3600 * 1000 * 1000 * 1000
      val sentinels = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(-1L, flushNs, -1L, "view", 0.0, null),
          org.apache.spark.sql.Row(-2L, flushNs, -1L, "purchase", 0.0, null)),
        ev.select("event_id", "ts", "user_id", "event_type", "value",
          "props").schema)
      ev.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .unionByName(sentinels)
        .coalesce(1)
        .write.mode("overwrite").parquet(staged.toString)
    }
    staged.toString
  }

  /** Per-user running session state for streaming sessionization. */
  case class SessionState(lastTs: Long, sessionId: Long)
  case class SessionizedEvent(user_id: Long, ts: Long, session_id: Long)

  /** Streaming gap-based sessionization via mapGroupsWithState-style
    * custom state: each user's group tracks (lastTs, sessionId).
    * Within a single AvailableNow batch the group iterator is not
    * time-ordered, so events are sorted per group — at true streaming
    * scale state would instead be updated per micro-batch with
    * watermark-based timeout (GroupStateTimeout.EventTimeTimeout).
    */
  def sessionize(events: DataFrame, gapNs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("ts").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionizedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = sorted.map { ts =>
            st =
              if (st.sessionId == 0L || ts - st.lastTs > gapNs)
                SessionState(ts, st.sessionId + 1)
              else SessionState(ts, st.sessionId)
            SessionizedEvent(user, ts, st.sessionId)
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  /** Drive streaming sessionization once over the static events table. */
  def runSessionizeOnce(spark: SparkSession, dir: String, gapNs: Long): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(spark.readStream.schema(schema).parquet(staged))
    val out = sessionize(stream, gapNs)
    val name = s"events_sessions_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Append(), name)
    spark.table(name)
  }

  /** Per-user ledger carry: clamped balance, cumulative floor
    * absorption, events seen. */
  case class LedgerCarry(balance: Long, lost: Long, n: Long)
  case class LedgerRow(user_id: Long, n_events: Long,
    final_balance_cents: Long, lost_to_floor_cents: Long)

  /** Streaming floor-clamped ledger — the STATEFUL sequential fold
    * (`b ← max(0, b + d)`) whose declarative batch twin is
    * [[graft.operators.Events.clampedBalance]]'s running-min identity;
    * gating both against the same oracle proves the identity end to
    * end. Carry per user is three longs; each micro-batch sorts its
    * own slice by (ts, event_id) (cross-batch order holds because the
    * staged source is time-ordered per file, as in [[sessionize]]),
    * emits the cumulative row, and the report keeps each user's row
    * with the highest event count.
    */
  /** The per-user clamped-ledger fold on a typed
    * (user, ts, tieBreak, deltaCents) stream — exposed so the
    * multi-batch carry spec can drive it over a hand-staged source.
    */
  /** Token-bucket carry: last event time, the micro-token balance,
    * and the cumulative event/admission counters (emitted per batch;
    * the gate keeps the max-count row, the [[ledgerFold]] pattern).
    */
  case class BucketCarry(lastTs: Long, tokens: Long, n: Long, adm: Long)
  case class BucketRow(user_id: Long, n_events: Long, n_admitted: Long,
    final_tokens_micro: Long)

  /** Streaming per-key token-bucket rate limiter (admission control —
    * the ingestion-throttling primitive a crawl/event pipeline puts in
    * front of expensive downstream work): each key holds a bucket of
    * `capacityMicro` micro-tokens refilled at one micro-token per
    * `nsPerMicroToken` ns; an event is admitted iff a full token
    * (10⁶ µ) is available, and spends it. Pure integer arithmetic —
    * the refill is an integer `div` (sub-µtoken remainders are
    * deliberately dropped; deterministic in any engine). State is one
    * (ts, balance, counters) tuple per key. Emits the cumulative
    * per-key summary each batch:
    * `(user_id, n_events, n_admitted, final_tokens_micro)`.
    */
  def tokenBucketFold(typed: org.apache.spark.sql.Dataset[(Long, Long, Long)],
      capacityMicro: Long, nsPerMicroToken: Long): DataFrame = {
    import typed.sparkSession.implicits._
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[BucketCarry, BucketRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[BucketCarry]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(
            BucketCarry(Long.MinValue, capacityMicro, 0L, 0L))
          sorted.foreach { case (_, ts, _) =>
            val refill =
              if (st.lastTs == Long.MinValue) 0L
              else (ts - st.lastTs) / nsPerMicroToken
            val avail = math.min(capacityMicro, st.tokens + refill)
            val admit = avail >= 1000000L
            st = BucketCarry(ts,
              if (admit) avail - 1000000L else avail,
              st.n + 1, st.adm + (if (admit) 1L else 0L))
          }
          state.update(st)
          Iterator(BucketRow(user, st.n, st.adm, st.tokens))
      }.toDF()
  }

  /** Drive the token bucket once over the static events table:
    * 3-token buckets, one token per hour. */
  def runTokenBucketOnce(spark: SparkSession, dir: String,
      capacityMicro: Long = 3000000L,
      nsPerMicroToken: Long = 3600000L): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(
      spark.readStream.schema(schema).parquet(staged))
    import spark.implicits._
    val typed = stream.select(col("user_id").cast("long"),
        col("ts").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long, Long)]
    val out = tokenBucketFold(typed, capacityMicro, nsPerMicroToken)
    val name = s"events_bucket_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Append(), name)
    // final row per user = the one with the full event count
    spark.table(name)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_admitted"),
        col("final_tokens_micro"))).as("__f"))
      .select(col("user_id"), col("__f.n_events").as("n_events"),
        col("__f.n_admitted").as("n_admitted"),
        col("__f.final_tokens_micro").as("final_tokens_micro"))
  }

  /** Per-key pattern state: the pending views inside the match
    * horizon, `(view_id, ts_ns)` — pruned each batch, so state size
    * is bounded by the horizon's event rate, not stream lifetime.
    */
  case class PatternCarry(views: Seq[(Long, Long)])
  case class PatternMatch(user_id: Long, purchase_id: Long,
    view_id: Long, gap_ns: Long)

  /** Streaming sequence-pattern detection with
    * `flatMapGroupsWithState`: per user, every purchase matches its
    * MOST RECENT strictly-earlier view within `horizonNs` (ties on
    * timestamp break toward the larger view id), emitting
    * `(user_id, purchase_id, view_id, gap_ns)` — the "did the funnel
    * step complete in time?" CEP primitive the declarative
    * stream-stream join (q98) can't express when the match must be
    * exclusive-latest rather than all-pairs. State carries only the
    * horizon's pending views. Like [[ledgerFold]], the per-batch group
    * iterator is sorted by event time (at true scale:
    * EventTimeTimeout + watermark finalization); the AvailableNow
    * replay of the same fold is the DuckDB gate.
    */
  def patternFold(typed: org.apache.spark.sql.Dataset[(Long, Long, Long, Boolean)],
      horizonNs: Long): DataFrame = {
    import typed.sparkSession.implicits._
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[PatternCarry, PatternMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[PatternCarry]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var views = state.getOption.map(_.views).getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer[PatternMatch]()
          sorted.foreach { case (_, eid, ts, isView) =>
            if (isView) views = views :+ (eid -> ts)
            else {
              val cand = views
                .filter(v => ts - v._2 > 0 && ts - v._2 <= horizonNs)
              if (cand.nonEmpty) {
                val best = cand.maxBy(v => (v._2, v._1))
                out += PatternMatch(user, eid, best._1, ts - best._2)
              }
            }
            views = views.filter(v => v._2 >= ts - horizonNs)
          }
          state.update(PatternCarry(views))
          out.iterator
      }.toDF()
  }

  /** Drive the pattern detector once over the static events table. */
  def runPatternOnce(spark: SparkSession, dir: String,
      horizonNs: Long = 3600L * 1000 * 1000 * 1000): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(
      spark.readStream.schema(schema).parquet(staged))
    import spark.implicits._
    val typed = stream
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("long"), (col("event_type") === "view"))
      .as[(Long, Long, Long, Boolean)]
    val out = patternFold(typed, horizonNs)
    val name = s"events_pattern_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Append(), name)
    spark.table(name)
  }

  def ledgerFold(typed: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)]): DataFrame = {
    import typed.sparkSession.implicits._
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[LedgerCarry, LedgerRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[LedgerCarry]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(LedgerCarry(0L, 0L, 0L))
          sorted.foreach { r =>
            val nb = st.balance + r._4
            st =
              if (nb < 0) LedgerCarry(0L, st.lost - nb, st.n + 1)
              else LedgerCarry(nb, st.lost, st.n + 1)
          }
          state.update(st)
          Iterator(LedgerRow(user, st.n, st.balance, st.lost))
      }.toDF()
  }

  def runLedgerOnce(spark: SparkSession, dir: String,
      delta: Column): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(
      spark.readStream.schema(schema).parquet(staged))
    import spark.implicits._
    val typed = stream.select(col("user_id").cast("long"),
        col("ts").cast("long"), col("event_id").cast("long"),
        round(delta * 100).cast("long"))
      .as[(Long, Long, Long, Long)]
    val out = ledgerFold(typed)
    val name = s"events_ledger_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Append(), name)
    // final row per user = the one with the full event count
    spark.table(name)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("final_balance_cents"),
        col("lost_to_floor_cents"))).as("__f"))
      .select(col("user_id"), col("__f.n_events").as("n_events"),
        col("__f.final_balance_cents").as("final_balance_cents"),
        col("__f.lost_to_floor_cents").as("lost_to_floor_cents"))
  }

  /** Per-key CUSUM carry state: last emitted window, the running
    * drift prefix Σ(n − μ − slack), and its inclusive running minimum
    * clamped at ≤ 0 (the running-min identity's denominator).
    */
  case class CusumCarry(lastW: Long, pre: Double, mn: Double)
  case class CusumRow(event_type: String, window_start_ns: Long, n: Long,
    s_plus: Double, alert: Boolean)

  /** Streaming one-sided CUSUM monitor against a KNOWN reference mean
    * `mu0` — the alerting form of the batch [[graft.operators.Events
    * .cusumShifts]]: per key, tumbling-window counts feed Page's
    * statistic `S = max(0, S + (n − μ₀ − slack))` and every window
    * emits `(key, window, n, s_plus, alert = s_plus > h)`. The
    * recurrence is maintained through the running-min identity
    * `S_i = P_i − min(0, min_{j≤i} P_j)` so the carried state is two
    * doubles + the last window ordinal; silent interior windows are
    * real zeros (the gap is walked forward, bounded by the time
    * horizon). Like [[sessionize]], the per-batch group iterator is
    * sorted (at true scale: EventTimeTimeout + watermark finalization);
    * the batch replay of the same recurrence is the DuckDB gate.
    */
  def cusumMonitor(events: DataFrame, windowNs: Long, mu0: Double,
      slack: Double, h: Double): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // integer window ordinal — a double division of an ~1e18 ns epoch
    // would lose low bits beyond 2^53 and misbucket
    events.select(col("event_type"), expr(s"ts div $windowNs").as("w"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumCarry, CusumRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[CusumCarry]) =>
          val counts = scala.collection.mutable.LongMap.empty[Long]
          rows.foreach(r => counts(r._2) = counts.getOrElse(r._2, 0L) + 1)
          if (counts.isEmpty) Iterator.empty
          else {
            val lo = counts.keys.min
            val hi = counts.keys.max
            var st = state.getOption.getOrElse(
              CusumCarry(lo - 1, 0d, 0d))
            val out = Seq.newBuilder[CusumRow]
            var w = math.min(st.lastW + 1, lo)
            while (w <= hi) {
              val n = counts.getOrElse(w, 0L)
              val pre = st.pre + (n - mu0 - slack)
              val mn = math.min(st.mn, math.min(pre, 0d))
              val s = pre - mn
              out += CusumRow(key, w * windowNs, n,
                math.rint(s * 1e6) / 1e6, s > h)
              st = CusumCarry(w, pre, mn)
              w += 1
            }
            state.update(st)
            out.result().iterator
          }
      }.toDF()
  }

  /** Drive the streaming CUSUM monitor once over the static events
    * table (AvailableNow, memory sink — the [[runSessionizeOnce]]
    * harness shape).
    */
  def runCusumOnce(spark: SparkSession, dir: String, windowNs: Long,
      mu0: Double, slack: Double, h: Double): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(dir)
    val schema = spark.read.parquet(staged).schema
    val stream = graft.Tables.tsAsNanos(spark.readStream.schema(schema).parquet(staged))
    val out = cusumMonitor(stream, windowNs, mu0, slack, h)
    val name = s"events_cusum_${System.nanoTime()}"
    runAvailableNow(out, OutputMode.Append(), name)
    spark.table(name)
  }
}
