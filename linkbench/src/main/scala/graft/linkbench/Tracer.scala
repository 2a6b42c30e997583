package graft.linkbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Wraps each layer call of a chain. Off, it is transparent: the chain runs
  * as one lazy plan that the commit executes. On, every layer call runs
  * under a Spark job group named after the layer, its output is persisted
  * and counted inside that group (so each layer's stages are its own), and
  * a span (name, start, end, parent, run id) is kept in memory.
  */
final class Tracer(spark: SparkSession, val on: Boolean, runId: String) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Funnel counters summed over the traced operations. */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  private var op = -1
  private var stack: List[String] = Nil
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  private def setGroup(g: Option[String]): Unit = g match {
    case Some(n) => spark.sparkContext.setJobGroup(n, n)
    case None => spark.sparkContext.clearJobGroup()
  }

  /** Root span of one operation; layer spans inside it are its children. */
  def operation[A](i: Int)(body: => A): A = {
    op = i
    span("op", None)(body)
  }

  def layer[A](name: String)(body: => A): A = span(name, Some(name))(body)

  /** Benchmark-side bookkeeping (counters, checks), kept out of the layers. */
  def bookkeeping[A](body: => A): A = span(Bookkeeping, Some(Bookkeeping))(body)

  private def span[A](name: String, group: Option[String])(body: => A): A = {
    if (!on) return body
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    if (group.isDefined) setGroup(group)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(name, t0, System.currentTimeMillis(), parent, runId, op)
      stack = stack.tail
      if (group.isDefined) setGroup(stack.find(_ != "op"))
    }
  }

  /** Traced: persist and count `df` in the current layer; returns the
    * persisted frame and its row count. Off: `df` unchanged, count -1. */
  def materialize(df: DataFrame): (DataFrame, Long) =
    if (!on) (df, -1L)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      (p, p.count())
    }

  def count(name: String, v: Double): Unit =
    if (on) counters(name) = counters.getOrElse(name, 0.0) + v

  /** Drop what [[materialize]] persisted (end of an operation). */
  def release(): Unit = { held.foreach(_.unpersist(true)); held.clear() }
}

object Tracer {
  val Bookkeeping = "linkbench"

  final case class Span(name: String, startMs: Long, endMs: Long, parent: String,
      runId: String, op: Int) {
    def wallS: Double = (endMs - startMs) / 1e3
  }
}
