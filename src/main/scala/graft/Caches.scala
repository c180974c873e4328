package graft

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The one owner of the engine's cached and checkpointed Spark state.
  *
  * An operator whose persisted frame must outlive its return registers
  * it with [[Caches.persist]] / [[Caches.checkpoint]] into the AMBIENT
  * scope; whoever opened that scope releases it once the returned plans
  * are consumed, freeing exactly what was registered in it. Spark keeps
  * ONE cache entry for matching plans, and a bare `unpersist` drops it
  * for every holder, so each entry carries a holder count. The ambient
  * scope is thread-inheritable (like `scala.util.DynamicVariable`);
  * outside any scope, registrations go to a root scope that
  * [[Caches.releaseUnscoped]] frees. `scope { body }` (or
  * [[enter]]/[[exit]]) makes a scope ambient without releasing it, as
  * a long-lived owner needs; [[Caches.scoped]] also releases it.
  */
final class Caches extends AutoCloseable {

  // oldest first; guarded by the Caches object's lock
  private val held = mutable.ArrayBuffer.empty[Caches.Held]

  def apply[A](body: => A): A = { enter(); try body finally exit() }

  def enter(): Unit = Caches.ambient.set(this :: Caches.ambient.get)

  def exit(): Unit = Caches.ambient.get match {
    case s :: rest if s eq this => Caches.ambient.set(rest)
    case _ => throw new IllegalStateException("exit of a scope that is not the innermost")
  }

  /** Release what this scope registered and return how many
    * registrations that was (0 on a second call); entries another
    * scope still holds stay cached.
    */
  def release(): Int = Caches.synchronized {
    held.foreach {
      case Caches.Cached(key, df) =>
        val left = Caches.holders(key) - 1
        if (left > 0) Caches.holders(key) = left
        else { Caches.holders.remove(key); Caches.bestEffort(df.unpersist(false)) }
      case Caches.Checkpoint(df) => Caches.bestEffort(Caches.unpersistCheckpoint(df))
    }
    try held.size finally held.clear()
  }

  override def close(): Unit = release()
}

object Caches {

  private sealed trait Held
  private final case class Cached(key: LogicalPlan, df: DataFrame) extends Held
  private final case class Checkpoint(df: DataFrame) extends Held

  // holders per Spark cache entry, keyed the way CacheManager matches
  // plans (`sameResult`: equal canonicalized normalized plans)
  private val holders = mutable.HashMap.empty[LogicalPlan, Int]
  private val root = new Caches
  private val ambient = new InheritableThreadLocal[List[Caches]] {
    override def initialValue(): List[Caches] = Nil
  }
  private def current: Caches = ambient.get.headOption.getOrElse(root)

  /** Run `body` in a fresh scope, then release it: consume inside. */
  def scoped[A](body: => A): A = {
    val scope = new Caches
    try scope(body) finally scope.release()
  }

  def releaseUnscoped(): Int = root.release()

  /** `df.persist(level)`, held by the ambient scope. */
  private[graft] def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val key = df.queryExecution.normalized.canonicalized
    // persist and count under one lock: a release can never drop an
    // entry between a new holder's persist and its count
    synchronized {
      df.persist(level)
      holders(key) = holders.getOrElse(key, 0) + 1
      current.held += Cached(key, df)
    }
    df
  }

  /** Eager `localCheckpoint` of `df`, held by the ambient scope. */
  private[graft] def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    synchronized { current.held += Checkpoint(c) }
    c
  }

  /** Drop the blocks behind a localCheckpointed frame (its RDD hangs
    * off the plan's `LogicalRDD` leaf). Matches ONLY a checkpoint root:
    * a derived frame shares a LIVE ancestor's blocks.
    */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  // best-effort: unpersist can race an already-stopping SparkContext
  private def bestEffort(release: => Any): Unit =
    try release catch { case NonFatal(_) => () }
}
