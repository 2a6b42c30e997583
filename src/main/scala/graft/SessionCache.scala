package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one per-session cache: offline artifacts, their broadcasts and the
  * driver queries' stage frames are built once per session and served many
  * times (the reference's "index once, serve many" lifecycle).
  *
  * Builds run under one reentrant lock because they nest (a stage frame
  * builds the artifacts, whose first use builds the token filter);
  * `ConcurrentHashMap.computeIfAbsent` throws on that recursion. One
  * listener per SparkContext drops the application's entries when it ends,
  * so a stopped session is never pinned or served again.
  */
object SessionCache {

  private val entries = scala.collection.mutable.Map.empty[(SparkSession, Any), Any]
  private val watched = scala.collection.mutable.Set.empty[SparkContext]

  def apply[T](spark: SparkSession, key: Any)(build: => T): T = synchronized {
    entries.get((spark, key)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = build
        put(spark, key, v)
        v
    }
  }

  def put(spark: SparkSession, key: Any, value: Any): Unit = synchronized {
    val sc = spark.sparkContext
    if (watched.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          applicationEnded(sc)
      })
    entries((spark, key)) = value
  }

  /** Remove this session's entries whose key matches; returns their values
    * (the caller releases what needs releasing). */
  def drop(spark: SparkSession)(matches: Any => Boolean): Seq[Any] = synchronized {
    val gone = entries.keys.filter(k => (k._1 eq spark) && matches(k._2)).toSeq
    gone.flatMap(entries.remove)
  }

  private[graft] def applicationEnded(sc: SparkContext): Unit = synchronized {
    entries.filterInPlace { case ((s, _), _) => s.sparkContext ne sc }
    watched -= sc
    ()
  }
}
