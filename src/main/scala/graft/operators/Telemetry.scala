package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Opt-in candidate-count telemetry for the dedup/similarity operators.
  *
  * A scaling sweep measures SECONDS across decades; seconds alone
  * can't distinguish "the candidate volume is genuinely bounded" from
  * "the machine absorbed a super-linear candidate blow-up this time".
  * When enabled, the candidate-generating operators mark their
  * candidate relation with `Dataset.observe` — a `CollectMetrics` node
  * whose count rides the normal execution as an accumulator: NO second
  * job, no extra shuffle, no change to the surrounding plan shape.
  * Disabled (the default, and the state all gates/specs run under),
  * [[mark]] is the identity and the plan is byte-identical to before.
  *
  * Usage (around one query whose candidate count is wanted):
  * {{{
  *   Telemetry.enable(spark)
  *   Telemetry.reset()
  *   runQuery()
  *   val n = Telemetry.await("lsh_candidates")   // Some(count)
  *   Telemetry.disable()
  * }}}
  *
  * Counts are delivered through a `QueryExecutionListener`, which fires
  * asynchronously after the action completes — [[await]] polls with a
  * deadline instead of assuming delivery order. Repeated executions of
  * the same label keep the max (candidate counts are deterministic per
  * dataset; max is robust to a partial re-execution seeing a cached
  * prefix).
  */
object Telemetry {

  @volatile private var active = false
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  // registration is per-SparkSession, not per-JVM: a stopped session
  // takes its listener bus with it, so a later session must register
  // its own copy or await() silently times out (r9 ADVICE)
  private val registeredSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private val listener = new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        val cut = name.indexOf("##")
        if (cut > 0 && row.length > 0 && !row.isNullAt(0))
          counts.merge(name.substring(0, cut), row.getLong(0),
            (a: Long, b: Long) => math.max(a, b))
      }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  def enable(spark: SparkSession): Unit = synchronized {
    if (registeredSessions.add(spark)) {
      spark.listenerManager.register(listener)
    }
    active = true
  }

  def disable(): Unit = { active = false }

  def reset(): Unit = counts.clear()

  def snapshot: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counts.forEach((k, v) => b += (k -> v))
    b.result()
  }

  /** Poll for `label` until the listener delivers it (listener-bus
    * delivery lags the action that produced the metric).
    */
  def await(label: String, timeoutMillis: Long = 15000L): Option[Long] = {
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    while (!counts.containsKey(label) && System.nanoTime() < deadline)
      Thread.sleep(50)
    if (counts.containsKey(label)) Some(counts.get(label)) else None
  }

  /** Manual accumulation for DRIVER-LOOPED operators (CC rounds, LD
    * decide rounds) whose per-round sizes the driver already knows —
    * no observe node needed, values SUM across calls (unlike observed
    * re-executions, which keep the max): the loop's total processed
    * volume is the scaling signal. No-op when disabled.
    */
  def add(label: String, n: Long): Unit =
    if (active) counts.merge(label, n, (a: Long, b: Long) => a + b)

  /** Identity when disabled; an observed pass-through when enabled.
    * The `##seq` suffix keeps observe names unique when one query tree
    * contains several marked operators (observe names must be unique
    * per query); the listener strips it back to `label`.
    */
  def mark(df: DataFrame, label: String): DataFrame =
    if (!active) df
    else df.observe(s"$label##${seq.incrementAndGet()}",
      count(lit(1)).as("n"))
}
