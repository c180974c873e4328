package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** Streaming-tier specs beyond the q49/q50 parity gate. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("rateThroughput measures positive engine rows/sec") {
    val rps = EventsStream.rateThroughput(
      spark, rowsPerSecond = 20000L, minBatches = 2)
    assert(rps.exists(_ > 0.0), s"expected positive throughput, got $rps")
  }

  test("streaming dedup drops a duplicate arriving in a LATER micro-batch") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream")
    // event_id 2 reappears in batch 2 (same event-time horizon): only
    // carried dedup state can drop it
    val batch1 = Seq((1L, 1000000000L, "a"), (2L, 2000000000L, "b"))
    val batch2 = Seq((2L, 2000000000L, "b"), (3L, 3000000000L, "c"))
    def write(rows: Seq[(Long, Long, String)], name: String, mtime: Long): Unit = {
      val p = dir.resolve(name)
      rows.toDF("event_id", "ts", "event_type").coalesce(1).write.parquet(p.toString)
      java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
    }
    write(batch1, "b1.parquet", 1000000L)
    write(batch2, "b2.parquet", 2000000L)
    val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*.parquet")
    val out = EventsStream.dedupeStream(stream, "event_id")
      .select("event_id", "event_type")
    val name = s"dedup_batches_${System.nanoTime()}"
    val q = out.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    val got = spark.table(name).as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")), s"got $got")
    spark.catalog.dropTempView(name)
  }

  test("dropDuplicatesWithinWatermark evicts expired dedup state (bounded)") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_ttl")
    val h = 3600L * 1000000L // 1 hour in µs
    // b1: keys 1,2 (+ an in-batch duplicate of 1) at t≈1h (NOT epoch 0
    // — a row at the initial watermark is discarded as late); b2
    // advances the watermark far past t+horizon; b3 triggers eviction
    val b1 = Seq((1L, h, "a"), (1L, h, "a"), (2L, h + 1000L, "b"))
    val b2 = Seq((3L, 11L * h, "c"))
    val b3 = Seq((4L, 12L * h, "d"))
    def write(rows: Seq[(Long, Long, String)], name: String, mtime: Long): Unit = {
      val p = dir.resolve(name)
      rows.toDF("event_id", "ts_us", "event_type").coalesce(1)
        .write.parquet(p.toString)
      java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
    }
    write(b1, "b1.parquet", 1000000L)
    write(b2, "b2.parquet", 2000000L)
    write(b3, "b3.parquet", 3000000L)
    val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*.parquet")
    val out = stream
      .withColumn("__evt", timestamp_micros(col("ts_us")))
      .withWatermark("__evt", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "event_type")
    val name = s"dedup_ttl_${System.nanoTime()}"
    val q = out.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // all four keys emitted once (the in-batch duplicate dropped)
    val got = spark.table(name).as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")), s"got $got")
    // the point of the operator: keys 1,2 (event time + 1h < watermark
    // 10h) are EVICTED — state holds only keys 3,4. q67's plain
    // dropDuplicates would still hold all 4.
    val stateRows = q.recentProgress.filter(_.numInputRows > 0)
      .last.stateOperators(0).numRowsTotal
    assert(stateRows == 2L, s"state not evicted: $stateRows rows")
    spark.catalog.dropTempView(name)
  }

  test("streaming ledger carries the clamp state across micro-batches") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger_stream")
    // batch 1: +500, −800 → balance 0, lost 300 (clamp fires in b1);
    // batch 2: +200 → final 200 ONLY if the carried state is 0/300
    val b1 = Seq((1L, 10L, 1L, 500L), (1L, 20L, 2L, -800L))
    val b2 = Seq((1L, 30L, 3L, 200L))
    def write(rows: Seq[(Long, Long, Long, Long)], name: String,
        mtime: Long): Unit = {
      val p = dir.resolve(name)
      rows.toDF("user_id", "ts", "event_id", "d").coalesce(1)
        .write.parquet(p.toString)
      java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
    }
    write(b1, "b1.parquet", 1000000L)
    write(b2, "b2.parquet", 2000000L)
    val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*.parquet")
      .as[(Long, Long, Long, Long)]
    val out = EventsStream.ledgerFold(stream)
    val name = s"ledger_batches_${System.nanoTime()}"
    val q = out.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    val fin = spark.table(name).orderBy(org.apache.spark.sql.functions.col("n_events").desc)
      .as[(Long, Long, Long, Long)].collect().head
    assert(fin == ((1L, 3L, 200L, 300L)), s"got $fin")
    spark.catalog.dropTempView(name)
  }

  test("stateful operators run on the RocksDB state store (100 TB state path)") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // same cross-micro-batch dedup + ledger scenarios as above, but
    // under spark.sql.streaming.stateStore.providerClass=RocksDB...:
    // identical results AND the progress metrics must prove the
    // RocksDB provider actually carried the state (rocksdb* custom
    // metrics only exist on that provider)
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_rocks_stream")
      def write(rows: Seq[(Long, Long, String)], name: String, mtime: Long): Unit = {
        val p = dir.resolve(name)
        rows.toDF("event_id", "ts", "event_type").coalesce(1)
          .write.parquet(p.toString)
        java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
      }
      write(Seq((1L, 1000000000L, "a"), (2L, 2000000000L, "b")), "b1.parquet", 1000000L)
      write(Seq((2L, 2000000000L, "b"), (3L, 3000000000L, "c")), "b2.parquet", 2000000L)
      val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString + "/*.parquet")
      val out = EventsStream.dedupeStream(stream, "event_id")
        .select("event_id", "event_type")
      val name = s"rocks_dedup_${System.nanoTime()}"
      val q = out.writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(name).as[(Long, String)].collect().sorted.toSeq
      assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")), s"got $got")
      val stateOps = q.recentProgress.flatMap(_.stateOperators)
      assert(stateOps.nonEmpty, "no state operators reported")
      val metricKeys = stateOps.flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      assert(metricKeys.exists(_.startsWith("rocksdb")),
        s"RocksDB provider not engaged; custom metrics: ${metricKeys.toSet}")
      spark.catalog.dropTempView(name)

      // ledger (flatMapGroupsWithState) under RocksDB: same final fold
      val ldir = java.nio.file.Files.createTempDirectory("graft_rocks_ledger")
      def writeL(rows: Seq[(Long, Long, Long, Long)], n: String, mtime: Long): Unit = {
        val p = ldir.resolve(n)
        rows.toDF("user_id", "ts", "event_id", "d").coalesce(1)
          .write.parquet(p.toString)
        java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
      }
      writeL(Seq((1L, 10L, 1L, 500L), (1L, 20L, 2L, -800L)), "b1.parquet", 1000000L)
      writeL(Seq((1L, 30L, 3L, 200L)), "b2.parquet", 2000000L)
      val lschema = spark.read.parquet(ldir.toString + "/b1.parquet").schema
      val lstream = spark.readStream.schema(lschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ldir.toString + "/*.parquet")
        .as[(Long, Long, Long, Long)]
      val lname = s"rocks_ledger_${System.nanoTime()}"
      val lq = EventsStream.ledgerFold(lstream).writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(lname)
        .trigger(Trigger.AvailableNow()).start()
      lq.awaitTermination()
      val fin = spark.table(lname)
        .orderBy(org.apache.spark.sql.functions.col("n_events").desc)
        .as[(Long, Long, Long, Long)].collect().head
      assert(fin == ((1L, 3L, 200L, 300L)), s"got $fin")
      val lKeys = lq.recentProgress.flatMap(_.stateOperators).flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      assert(lKeys.exists(_.startsWith("rocksdb")),
        s"RocksDB provider not engaged for ledger: ${lKeys.toSet}")
      spark.catalog.dropTempView(lname)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("RocksDB changelog checkpointing: killed query resumes with ledger state intact") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // the restart-durability proof for the 100 TB state path: process
    // batch 1 under RocksDB + changelog checkpointing, STOP the query
    // (the stream is interrupted mid-corpus), then start a NEW query
    // from the same checkpoint over new data. The final fold is only
    // correct if the clamp state (balance 0 / lost 300 / n 2) was
    // restored from the changelog-checkpointed store — a fresh fold
    // over batch 2 alone would emit (1, 1, 200, 0).
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prevs = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_chlog_src")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_chlog_ckpt")
      val sink = java.nio.file.Files.createTempDirectory("graft_chlog_out")
      def write(rows: Seq[(Long, Long, Long, Long)], name: String,
          mtime: Long): Unit = {
        val p = dir.resolve(name)
        rows.toDF("user_id", "ts", "event_id", "d").coalesce(1)
          .write.parquet(p.toString)
        java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
      }
      // memory sinks can't recover from a checkpoint — the restart
      // proof needs a durable (parquet) sink, like production would
      def run() = {
        val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(dir.toString + "/*.parquet")
          .as[(Long, Long, Long, Long)]
        val q = EventsStream.ledgerFold(stream).writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt.toString)
          .format("parquet").option("path", sink.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      write(Seq((1L, 10L, 1L, 500L), (1L, 20L, 2L, -800L)), "b1.parquet", 1000000L)
      run() // processes b1, then the query is GONE
      // new data lands while no query is running
      write(Seq((1L, 30L, 3L, 200L)), "b2.parquet", 2000000L)
      val q2 = run()
      // run 2 must process ONLY b2 (source checkpoint) and fold onto the
      // restored carry: its appended row is (user 1, n 3, balance 200,
      // lost 300) — a fresh fold over b2 alone would emit (1, 1, 200, 0)
      val got = spark.read.parquet(sink.toString)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == Seq((1L, 2L, 0L, 300L), (1L, 3L, 200L, 300L)),
        s"got $got")
      // the provider really was RocksDB…
      val keys = q2.recentProgress.flatMap(_.stateOperators).flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      assert(keys.exists(_.startsWith("rocksdb")),
        s"RocksDB provider not engaged: ${keys.toSet}")
      // …and the checkpoint really is changelog-based: version-N state
      // commits wrote .changelog files (full-snapshot mode writes only
      // .zip snapshots)
      val changelogs = java.nio.file.Files.walk(ckpt)
        .filter(p => p.toString.endsWith(".changelog")).count()
      assert(changelogs > 0, "no .changelog files under the checkpoint")
    } finally prevs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("RocksDB changelog: killed stream-stream outer join resumes with buffered state intact") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // q311's restart-durability proof: batch 1 buffers a VIEW in the
    // join state, the query is killed, and batch 2's PURCHASE (same
    // user) can only pair with that view if the RocksDB+changelog
    // checkpoint restored the buffered side. The view-less purchase's
    // NULL row additionally proves watermark state survived (it is
    // only released once the restored watermark passes it).
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prevs = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_ojr_src")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ojr_ckpt")
      val sink = java.nio.file.Files.createTempDirectory("graft_ojr_out")
      val s = 1000000000L // 1 s in ns
      def write(rows: Seq[(Long, Long, Long, String)], name: String,
          mtime: Long): Unit = {
        val p = dir.resolve(name)
        rows.toDF("event_id", "ts", "user_id", "event_type").coalesce(1)
          .write.parquet(p.toString)
        java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
      }
      def run() = {
        val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(dir.toString + "/*.parquet")
        val q = EventsStream.viewPurchaseJoin(stream, joinType = "left_outer")
          .writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt.toString)
          .format("parquet").option("path", sink.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      // b1: view 10 (user 1) — join state; purchase 20 (user 2) — no
      // view, must surface as a NULL row once the watermark passes it
      write(Seq((10L, 100L * s, 1L, "view"), (20L, 200L * s, 2L, "purchase")),
        "b1.parquet", 1000000L)
      run() // buffers state, emits nothing (watermark still below 0)
      // new data lands while no query runs: purchase 21 pairs with the
      // RESTORED view 10; far-future sentinels (one per side, user −1)
      // drive the final watermark past every real event (the flush
      // pattern runOuterJoinOnce stages)
      val flush = 3L * 24 * 3600 * s
      write(Seq(
        (21L, 300L * s, 1L, "purchase"),
        (98L, flush, -1L, "view"), (99L, flush + s, -1L, "purchase")),
        "b2.parquet", 2000000L)
      val q2 = run()
      val got = spark.read.parquet(sink.toString)
        .where(col("user_id") >= 0)
        .select("purchase_id", "view_id", "user_id", "gap_us")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      // a fresh (state-lost) run over b2 alone would pair purchase 21
      // with NOTHING — (21, -1, 1, -1) here is the failure signature
      assert(got == Set(
        (21L, 10L, 1L, 200000000L),
        (20L, -1L, 2L, -1L)), s"got $got")
      val keys = q2.recentProgress.flatMap(_.stateOperators).flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      assert(keys.exists(_.startsWith("rocksdb")),
        s"RocksDB provider not engaged: ${keys.toSet}")
      val changelogs = java.nio.file.Files.walk(ckpt)
        .filter(p => p.toString.endsWith(".changelog")).count()
      assert(changelogs > 0, "no .changelog files under the checkpoint")
    } finally prevs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("RocksDB changelog: killed session_window stream resumes and MERGES the open session") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // q320's restart-durability proof: user 1's session is OPEN (events
    // at 0m/10m) when the query dies; batch 2's event at 20m is within
    // the 30m gap, so the restored session-window state must EXTEND the
    // session to one merged (0 → 50m, n=3) window — a state-lost rerun
    // would emit a lone (20m → 50m, n=1) session instead.
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prevs = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_swr_src")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_swr_ckpt")
      val sink = java.nio.file.Files.createTempDirectory("graft_swr_out")
      val m = 60L * 1000000000L // one minute in ns
      def write(rows: Seq[(Long, Long, Double)], name: String,
          mtime: Long): Unit = {
        val p = dir.resolve(name)
        rows.toDF("user_id", "ts", "value").coalesce(1)
          .write.parquet(p.toString)
        java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
      }
      def run() = {
        val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(dir.toString + "/*.parquet")
        val q = EventsStream.sessionWindowAgg(stream, "30 minutes")
          .writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt.toString)
          .format("parquet").option("path", sink.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      write(Seq((1L, 0L * m, 1.0), (1L, 10L * m, 2.0), (2L, 5L * m, 8.0)),
        "b1.parquet", 1000000L)
      run() // sessions open in state; nothing emitted yet
      // 20m − 10m = 10m < 30m gap ⇒ must merge into the restored
      // session; the user −1 sentinel drains every session at the end
      write(Seq((1L, 20L * m, 4.0), (-1L, 3L * 24 * 60 * m, 0.0)),
        "b2.parquet", 2000000L)
      val q2 = run()
      val us = 60L * 1000000L // one minute in µs
      val got = spark.read.parquet(sink.toString)
        .where(col("user_id") >= 0)
        .select("user_id", "session_start_us", "session_end_us", "n", "sum_value")
        .as[(Long, Long, Long, Long, Double)].collect().sorted.toSeq
      assert(got == Seq(
        (1L, 0L, 50L * us, 3L, 7.0),
        (2L, 5L * us, 35L * us, 1L, 8.0)), s"got $got")
      val keys = q2.recentProgress.flatMap(_.stateOperators).flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      assert(keys.exists(_.startsWith("rocksdb")),
        s"RocksDB provider not engaged: ${keys.toSet}")
      val changelogs = java.nio.file.Files.walk(ckpt)
        .filter(p => p.toString.endsWith(".changelog")).count()
      assert(changelogs > 0, "no .changelog files under the checkpoint")
    } finally prevs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("statefulThroughput measures the state-store path, both providers") {
    val hdfs = EventsStream.statefulThroughput(spark, 20000L, minBatches = 2)
    assert(hdfs.exists(_ > 0.0), s"default-provider throughput: $hdfs")
    val rocks = EventsStream.statefulThroughput(spark, 20000L,
      providerClass = Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      minBatches = 2)
    assert(rocks.exists(_ > 0.0), s"rocksdb throughput: $rocks")
    // the conf must be restored
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").isEmpty ||
      !spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"))
  }

  test("streaming daily actives dedup a user recurring in a LATER micro-batch") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("graft_dau_stream")
    val day = 86400L * 1000000000L
    // user 7 appears on day 0 in BOTH batches (count once) and on
    // day 1 in batch 2 (counts again there)
    val batch1 = Seq((1L, 1000L, 7L), (2L, 2000L, 8L))
    val batch2 = Seq((3L, 3000L, 7L), (4L, day + 1000L, 7L))
    def write(rows: Seq[(Long, Long, Long)], name: String, mtime: Long): Unit = {
      val p = dir.resolve(name)
      rows.toDF("event_id", "ts", "user_id").coalesce(1).write.parquet(p.toString)
      java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
    }
    write(batch1, "b1.parquet", 1000000L)
    write(batch2, "b2.parquet", 2000000L)
    val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*.parquet")
    val out = EventsStream.dailyActiveAgg(stream, "user_id", day)
    val name = s"dau_batches_${System.nanoTime()}"
    val q = out.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    val got = spark.table(name).as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((0L, 2L), (day, 1L)), s"got $got")
    spark.catalog.dropTempView(name)
  }

  test("stream-stream join pairs a view from an EARLIER micro-batch") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("graft_join_stream")
    val s = 1000000000L // 1 s in ns
    // view 10 (user 1) arrives in batch 1; its purchase 20 arrives in
    // batch 2 — only buffered join state can produce the pair. Purchase
    // 21's view is 25 h earlier: outside the horizon, no pair.
    val batch1 = Seq((10L, 1L, 100L * s, "view"), (11L, 2L, 90000L * s, "view"))
    val batch2 = Seq((20L, 1L, 200L * s, "purchase"),
      (21L, 2L, (90000L + 25 * 3600) * s, "purchase"))
    def write(rows: Seq[(Long, Long, Long, String)], name: String, mtime: Long): Unit = {
      val p = dir.resolve(name)
      rows.toDF("event_id", "user_id", "ts", "event_type")
        .coalesce(1).write.parquet(p.toString)
      java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
    }
    write(batch1, "b1.parquet", 1000000L)
    write(batch2, "b2.parquet", 2000000L)
    val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*.parquet")
    val out = EventsStream.viewPurchaseJoin(stream)
      .select("purchase_id", "view_id", "user_id", "gap_us")
    val name = s"join_batches_${System.nanoTime()}"
    val q = out.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    val got = spark.table(name).as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((20L, 10L, 1L, 100000000L)), s"got $got")
    spark.catalog.dropTempView(name)
  }

  test("left-outer stream-stream join drains ALL null rows, including the max-ts tail") {
    // end-to-end through runOuterJoinOnce: purchase 20 (user 2) and 22
    // (user 3) have no prior view — their NULL rows only exist if the
    // watermark passes them. 22 is the LATEST real event: its null row
    // requires the sentinel flush, and would vanish again if the
    // sentinel filter were pushed below the watermark (the Catalyst
    // pushdown regression this spec pins).
    val dir = java.nio.file.Files.createTempDirectory("graft_outer_e2e")
    val s = 1000000000L
    Seq(
      (10L, 100L * s, 1L, "view", 1.0, null: String),
      (20L, 200L * s, 2L, "purchase", 5.0, null: String),
      (21L, 300L * s, 1L, "purchase", 7.0, null: String),
      (22L, 400L * s, 3L, "purchase", 9.0, null: String)
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    // the staged source dir is keyed by (path, mtime) — a fresh temp
    // dir never collides
    val got = EventsStream.runOuterJoinOnce(spark, dir.toString)
      .select("purchase_id", "view_id", "user_id", "gap_us")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set(
      (21L, 10L, 1L, 200000000L),
      (20L, -1L, 2L, -1L),
      (22L, -1L, 3L, -1L)), s"got $got")
  }

  test("sessionize state carries across micro-batches (incremental, not batch)") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // two parquet files = two micro-batches (maxFilesPerTrigger=1).
    // user 1's session STARTS in file 1 and CONTINUES in file 2: only
    // flatMapGroupsWithState state carry-over can keep it session 1 —
    // a batch-style re-sessionization of file 2 alone would restart at 1
    // and mis-number the later gap session.
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_stream")
    val gap = 1000L
    val batch1 = Seq((1L, 100L), (1L, 200L), (2L, 150L))
    val batch2 = Seq((1L, 250L), (1L, 5000L), (2L, 9000L))
    def write(rows: Seq[(Long, Long)], name: String, mtime: Long): Unit = {
      val p = dir.resolve(name)
      rows.toDF("user_id", "ts").coalesce(1).write.parquet(p.toString)
      // file-stream batches order by modification time: pin it
      java.nio.file.Files.walk(p).forEach(f =>
        f.toFile.setLastModified(mtime))
    }
    write(batch1, "b1.parquet", 1000000L)
    write(batch2, "b2.parquet", 2000000L)

    val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*.parquet")
    val out = EventsStream.sessionize(stream, gap)
    val name = s"sess_batches_${System.nanoTime()}"
    val q = out.writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "fixture must process as more than one micro-batch")

    val got = spark.table(name)
      .select("user_id", "ts", "session_id")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val want = Seq(
      (1L, 100L, 1L), (1L, 200L, 1L), // batch 1: session 1 opens
      (1L, 250L, 1L),                 // batch 2: gap 50 < 1000 ⇒ SAME session
      (1L, 5000L, 2L),                // gap 4750 ⇒ next session is 2, not 1
      (2L, 150L, 1L),
      (2L, 9000L, 2L)).sorted
    assert(got == want, s"got $got")
    spark.catalog.dropTempView(name)
  }

  test("cusumMonitor: state carries across micro-batches, gaps are zeros") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // windowNs = 100; μ0 + slack = 3. Batch 1 gives key "a" windows
    // 0 (n=5 → drift +2) and 1 (n=4 → +1); batch 2 resumes at window 3
    // — the silent window 2 must be emitted as a real zero (drift −3)
    // BEFORE window 3's n=6 (+3): only carried state can do that.
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum_stream")
    val b1 = Seq.fill(5)(("a", 10L)) ++ Seq.fill(4)(("a", 110L))
    val b2 = Seq.fill(6)(("a", 310L))
    def write(rows: Seq[(String, Long)], name: String, mtime: Long): Unit = {
      val p = dir.resolve(name)
      rows.toDF("event_type", "ts").coalesce(1).write.parquet(p.toString)
      java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
    }
    write(b1, "b1.parquet", 1000000L)
    write(b2, "b2.parquet", 2000000L)
    val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*.parquet")
    val out = EventsStream.cusumMonitor(stream, 100L,
      mu0 = 2.5, slack = 0.5, h = 4.0)
    val name = s"cusum_batches_${System.nanoTime()}"
    val q = out.writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    val got = spark.table(name)
      .select("window_start_ns", "n", "s_plus", "alert")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    // S: +2 → 3 (carry) → max(0, 3−3) = 0 → +3 = 3; alert at S=3? h=4 no;
    // window 1: S = 2+1 = 3
    val want = Seq(
      (0L, 5L, 2.0, false),
      (100L, 4L, 3.0, false),
      (200L, 0L, 0.0, false),
      (300L, 6L, 3.0, false))
    assert(got == want, s"got $got")
    spark.catalog.dropTempView(name)
  }

  test("hopping windows run as a stream and match the batch operator") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.operators.Events
    val hourNs = 3600L * 1000 * 1000 * 1000
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = graft.streaming.DocsStream.stageDir(dir, "events")
    val schema = spark.read.parquet(staged).schema
    val stream = Tables.tsAsNanos(spark.readStream.schema(schema).parquet(staged))
    val agg = Events.hoppingAgg(stream, "ts", hourNs, hourNs / 2,
      Seq("event_type"), Seq(count(lit(1)).as("n"), round(sum("value"), 2).as("sv")))
    val name = s"hop_stream_${System.nanoTime()}"
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name)
      .select("window_start_ns", "event_type", "n", "sv")
      .as[(Long, String, Long, Double)].collect().sorted.toSeq
    val batch = Events.hoppingAgg(Tables.events(spark, dir), "ts", hourNs, hourNs / 2,
        Seq("event_type"), Seq(count(lit(1)).as("n"), round(sum("value"), 2).as("sv")))
      .select("window_start_ns", "event_type", "n", "sv")
      .as[(Long, String, Long, Double)].collect().sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
    spark.catalog.dropTempView(name)
  }

  test("DocsStream: dedup state spans micro-batches; counters incremental") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_stream")
    // the doc in batch 1 reappears in batch 2 under the same source —
    // only carried state store contents can drop it; batch 2 also
    // brings a genuinely new doc per source
    val good = "the quick brown fox jumps over the lazy dog and runs to the hills is nice today indeed"
    val batch1 = Seq((1L, good, "s1"), (2L, "tiny text here", "s2"))
    val batch2 = Seq((3L, good, "s1"), (4L, good + " again", "s1"),
      (5L, "tiny text here two", "s2"))
    def write(rows: Seq[(Long, String, String)], name: String, mtime: Long): Unit = {
      val p = dir.resolve(name)
      rows.toDF("doc_id", "text", "source").coalesce(1).write.parquet(p.toString)
      java.nio.file.Files.walk(p).forEach(f => f.toFile.setLastModified(mtime))
    }
    write(batch1, "b1.parquet", 1000000L)
    write(batch2, "b2.parquet", 2000000L)
    val schema = spark.read.parquet(dir.toString + "/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // force one file per micro-batch
      .parquet(dir.toString + "/*.parquet")
    val name = s"docs_stream_spec_${System.nanoTime()}"
    val q = graft.streaming.DocsStream.curationAgg(stream).writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.lastProgress.batchId >= 1,
      "expected multiple micro-batches; progress: " +
        q.recentProgress.map(p => s"batch ${p.batchId}: ${p.numInputRows} rows")
          .mkString("; "))
    val got = spark.table(name)
      .select("source", "n_unique", "n_keep")
      .as[(String, Long, Long)].collect().sorted.toSeq
    // s1: good (doc 3 deduped across batches) + "good again" → 2 unique,
    // both pass quality; s2: two short docs, both fail
    assert(got == Seq(("s1", 2L, 2L), ("s2", 2L, 0L)), s"got $got")
    spark.catalog.dropTempView(name)
  }

  test("EventsStream.sessionWindowAgg: gap splits, end = last + gap") {
    import spark.implicits._
    val m = 60L * 1000000000L // one minute in ns
    // user 1: events at 0m, 10m (one session), 50m (new: Δ=40 ≥ 30);
    // user 2: single event
    val events = Seq(
      (1L, 0L * m, 1.0), (1L, 10L * m, 2.0), (1L, 50L * m, 4.0),
      (2L, 5L * m, 8.0)
    ).toDF("user_id", "ts", "value")
    // session_window works identically in batch (watermark is a no-op)
    val got = graft.streaming.EventsStream.sessionWindowAgg(events, "30 minutes")
      .orderBy("user_id", "session_start_us")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val us = 60L * 1000000L
    assert(got == Seq(
      (1L, 0L, 10 * us + 30 * us, 2L, 3.0),
      (1L, 50 * us, 80 * us, 1L, 4.0),
      (2L, 5 * us, 35 * us, 1L, 8.0)), s"got $got")
  }

  test("EventsStream.userTierDim: tier cutoffs, non-purchasers low") {
    import spark.implicits._
    val events = Seq(
      (1L, "purchase", 600d), (2L, "purchase", 150d),
      (3L, "view", 900d), // views never count toward spend
      (4L, "purchase", 100d), // boundary: ≥ 100 is mid
      (4L, "view", 5d)
    ).toDF("user_id", "event_type", "value")
    val got = graft.streaming.EventsStream.userTierDim(events)
      .orderBy("user_id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "high"), (2L, "mid"), (3L, "low"),
      (4L, "mid")), s"got $got")
  }

  test("EventsStream.patternFold: exclusive-latest match, horizon and " +
      "strict-precedence edges") {
    import spark.implicits._
    val rows = Seq(
      // u1: two candidate views → latest wins; later purchase is
      // past the horizon of both
      (1L, 1L, 10L, true), (1L, 2L, 50L, true), (1L, 3L, 60L, false),
      (1L, 4L, 200L, false),
      // u2: purchase before any view; same-ts view never matches
      // (strict precedence); a later purchase matches it normally
      (2L, 5L, 5L, false), (2L, 6L, 30L, true), (2L, 7L, 30L, false),
      (2L, 8L, 100L, false))
      .toDS()
    val got = graft.streaming.EventsStream.patternFold(rows, horizonNs = 100L)
      .orderBy("purchase_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L, 10L), (2L, 8L, 6L, 70L)), s"got $got")
  }

  test("EventsStream.tokenBucketFold: capacity, refill floor, denial") {
    import spark.implicits._
    // 3-token bucket, 1 µtoken per 3.6e6 ns (1 token/h)
    val rows = Seq(
      (1L, 0L, 1L), // full bucket → admit, 2e6 left
      (1L, 1000L, 2L), // no refill yet → admit, 1e6
      (1L, 2000L, 3L), // admit, 0
      (1L, 3000L, 4L), // denied
      (1L, 1800000003000L, 5L), // +0.5 token → still denied
      (1L, 3600000003000L, 6L), // +0.5 more → exactly 1 → admit, 0
      (2L, 42L, 7L) // fresh user: admit once
    ).toDS()
    val got = graft.streaming.EventsStream
      .tokenBucketFold(rows, capacityMicro = 3000000L,
        nsPerMicroToken = 3600000L)
      .orderBy("user_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 6L, 4L, 0L), (2L, 1L, 1L, 2000000L)),
      s"got $got")
  }

  test("runTumblingOnce on two driver threads: own checkpoints, sequential results") {
    import java.nio.file.Files
    val hourNs = 3600L * 1000 * 1000 * 1000
    // runTumblingOnce reads one `events.parquet` FILE under `dir`
    val dir = Files.createTempDirectory("graft_tumbling")
    val written = dir.resolve("written").toString
    (0 until 400).map(i => (i * 13L * 60 * 1000 * 1000 * 1000, s"t${i % 3}", i * 0.5))
      .toDF("ts", "event_type", "value").coalesce(1).write.parquet(written)
    Files.move(new java.io.File(written).listFiles().find(_.getName.endsWith(".parquet")).get
      .toPath, dir.resolve("events.parquet"))
    val windows = Seq(hourNs, hourNs / 4)
    def run(w: Long): Seq[String] =
      EventsStream.runTumblingOnce(spark, dir.toString, w).collect().map(_.toString).sorted.toSeq
    val ckptKey = "spark.sql.streaming.checkpointLocation"
    val ckptBefore = spark.conf.getOption(ckptKey)
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val sequential = windows.map(run)
      val results = new Array[Seq[String]](windows.size)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = windows.zipWithIndex.map { case (w, i) =>
        new Thread(() => try results(i) = run(w) catch { case e: Throwable => errors.add(e) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, errors)
      assert(sequential.forall(_.nonEmpty))
      assert(results.toSeq == sequential)
      // each query got its scratch root as an option; the session's
      // checkpoint conf was never set
      assert(spark.conf.getOption(ckptKey) == ckptBefore)
    } finally {
      // the shuffle-partition pin is session-global; overlapping blocks
      // may leave it pinned
      spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
    }
  }
}
