package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval. `op` groups every span of one benchmark operation;
  * `parent` is the span that caused this one (0 for a root).
  */
final case class Span(
    id: Long, name: String, op: Long, parent: Long,
    startMs: Double, endMs: Double, counters: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** Per-operation totals, built from the spans of one `op` id. */
final case class OpTrace(
    op: Long, kind: String, wallMs: Double, planMs: Double, schedWaitMs: Double,
    execMs: Double, tasks: Double, bytesRead: Double, recordsRead: Double,
    shuffleWriteBytes: Double, spillBytes: Double, gcMs: Double)

/** In-memory tracer. Benchmark-side spans wrap each call into an engine
  * layer; a SparkListener and a QueryExecutionListener add one span per
  * Spark job and per SQL execution, tied to the calling operation through
  * the `perfbench.op` local property. Nothing is recorded while the tracer
  * is not installed, so untraced runs pay nothing.
  */
final class Tracer(spark: SparkSession) {
  private val t0 = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0) / 1e6
  /** Listener events carry wall-clock millis; map them onto [[nowMs]]. */
  private val wall0 = System.currentTimeMillis()
  private def fromWall(ms: Long): Double = (ms - wall0).toDouble

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val opSpan = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  // Spark-side bookkeeping, keyed by job / stage / execution id
  private final class JobRec(val op: Long, val execId: Long, val submitMs: Double,
      val stages: Seq[Int]) {
    var endMs: Double = Double.NaN
    var firstTaskMs: Double = Double.NaN
  }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageCounters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val executions = mutable.ArrayBuffer.empty[(Long, String, Double, Double, Option[String])]
  private val executionPlanMs = mutable.Map.empty[Long, Double]
  /** QueryExecution.id → SQL execution id (the id jobs carry). */
  private val executionIdOfQe = mutable.Map.empty[Long, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(Tracer.OpProperty))).fold(0L)(_.toLong)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .fold(-1L)(_.toLong)
      jobs(e.jobId) = new JobRec(op, exec, fromWall(e.time), e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = fromWall(e.time))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
        val t = fromWall(e.taskInfo.launchTime)
        if (rec.firstTaskMs.isNaN || t < rec.firstTaskMs) rec.firstTaskMs = t
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          Tracer.this.synchronized { executionIdOfQe(qe.id) = end.executionId }
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = stageCounters.getOrElseUpdate(e.stageId, mutable.Map.empty)
      def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0d) + v
      add("tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("records_read", m.inputMetrics.recordsRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", m.diskBytesSpilled.toDouble)
        add("gc_ms", m.jvmGCTime.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      // a parquet write names its table by its output directory
      val table = Seq(qe.logical, qe.commandExecuted).iterator.flatMap(_.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName
      }).toSeq.headOption
      val end = nowMs
      Tracer.this.synchronized {
        executions += ((qe.id, funcName, end - durationNs / 1e6, end, table))
        executionPlanMs(qe.id) = planMs
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = PerfbenchAccess.drain(spark.sparkContext)

  /** Run `body` as a new operation: its own op id, a root span, and the
    * op id attached to every Spark job it submits.
    */
  def op[T](kind: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.OpProperty)
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    opSpan.set(id)
    val start = nowMs
    try body
    finally {
      spans.add(Span(id, kind, id, 0L, start, nowMs, Map.empty))
      sc.setLocalProperty(Tracer.OpProperty, prev)
      opSpan.set(0L)
    }
  }

  /** The op the calling thread is running, if any. */
  def currentOp: Option[Long] = Some(opSpan.get()).filter(_ != 0L)

  /** A span around one call into an engine layer, inside the current op. */
  def span[T](name: String)(body: => T): T = {
    val op = opSpan.get()
    val start = nowMs
    try body
    finally spans.add(Span(ids.incrementAndGet(), name, op, op, start, nowMs, Map.empty))
  }

  /** Turn the Spark-side records into spans (one per job and per SQL
    * execution) and return per-op totals, after draining the listener bus.
    * The drain runs outside the lock: the listener callbacks take it, so
    * holding it while waiting for them would block the bus.
    */
  def finish(): Seq[OpTrace] = {
    drain()
    synchronized(collect())
  }

  private def collect(): Seq[OpTrace] = {
    val execOp = jobs.values.filter(_.execId >= 0).map(j => j.execId -> j.op).toMap
    jobs.foreach { case (jobId, j) =>
      val c = mutable.Map.empty[String, Double]
      j.stages.flatMap(stageCounters.get).foreach(_.foreach { case (k, v) =>
        c(k) = c.getOrElse(k, 0d) + v
      })
      if (!j.firstTaskMs.isNaN) c("sched_wait_ms") = j.firstTaskMs - j.submitMs
      val end = if (j.endMs.isNaN) j.submitMs else j.endMs
      spans.add(Span(ids.incrementAndGet(), s"spark.job.$jobId", j.op, j.op,
        j.submitMs, end, c.toMap))
    }
    executions.foreach { case (qeId, func, start, end, table) =>
      val op = executionIdOfQe.get(qeId).flatMap(execOp.get).getOrElse(0L)
      val name = table.fold(s"spark.sql.$func")(t => s"vcf.VcfTables.write.$t")
      spans.add(Span(ids.incrementAndGet(), name, op, op, start, end,
        Map("plan_ms" -> executionPlanMs.getOrElse(qeId, 0d))))
    }
    jobs.clear(); stageJob.clear(); stageCounters.clear(); executions.clear()
    executionIdOfQe.clear(); executionPlanMs.clear()
    opTraces()
  }

  private def opTraces(): Seq[OpTrace] = {
    val all = spans.asScala.toSeq
    val byOp = all.filter(_.op != 0).groupBy(_.op)
    byOp.toSeq.flatMap { case (op, ss) =>
      ss.find(s => s.id == op && s.parent == 0).map { root =>
        val jobSpans = ss.filter(_.name.startsWith("spark.job."))
        def sum(k: String) = jobSpans.map(_.counters.getOrElse(k, 0d)).sum
        OpTrace(op, root.name, root.ms,
          planMs = ss.map(_.counters.getOrElse("plan_ms", 0d)).sum,
          schedWaitMs = sum("sched_wait_ms"),
          execMs = Tracer.unionMs(jobSpans.map(s => (s.startMs, s.endMs))),
          tasks = sum("tasks"), bytesRead = sum("bytes_read"),
          recordsRead = sum("records_read"),
          shuffleWriteBytes = sum("shuffle_write_bytes"),
          spillBytes = sum("spill_bytes"), gcMs = sum("gc_ms"))
      }
    }.sortBy(_.op)
  }

  /** All spans, one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counters" -> s.counters)))
    } finally w.close()
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0d
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
