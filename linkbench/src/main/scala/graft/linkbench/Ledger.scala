package graft.linkbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._

/** Per-layer cost ledger: attributes Spark stage metrics to the job group
  * that was set when the stage's job started. The traced pass names each
  * job group after the layer it calls; jobs started with no group land in
  * [[Ledger.Untagged]]. */
final class Ledger extends SparkListener {
  import Ledger._

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val taskTimes = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val costs = mutable.Map.empty[String, Cost]

  private def cost(g: String): Cost = costs.getOrElseUpdate(g, new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Untagged)
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
    synchronized { val c = cost(g); c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, Untagged)
    val i = e.taskInfo
    taskTimes.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      .synchronized { taskTimes.get(e.stageId) += i.duration }
    synchronized { cost(g).taskIntervals += ((i.launchTime, i.finishTime)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val g = stageGroup.getOrDefault(s.stageId, Untagged)
    val m = s.taskMetrics
    val times = Option(taskTimes.remove(s.stageId)).map(_.toArray).getOrElse(Array.empty[Long])
    synchronized {
      val c = cost(g)
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.tasks += s.numTasks
      val total = times.sum
      if (times.nonEmpty && total > c.largestStageMs) {
        c.largestStageMs = total
        c.skew = Stats.skew(times.map(_.toDouble))
      }
    }
  }

  /** Snapshot of the costs so far (call after draining the listener bus). */
  def snapshot(): Map[String, Cost] = synchronized { costs.map { case (k, v) => k -> v.copy() }.toMap }
}

object Ledger {
  val Untagged = "<untagged>"

  final class Cost {
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
    var tasks = 0L
    var jobs = 0L
    var largestStageMs = 0L
    var skew = 0.0
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    def copy(): Cost = {
      val c = new Cost
      c.cpuNs = cpuNs; c.gcMs = gcMs; c.shuffleWriteBytes = shuffleWriteBytes
      c.fetchWaitMs = fetchWaitMs; c.spillBytes = spillBytes; c.tasks = tasks
      c.jobs = jobs; c.largestStageMs = largestStageMs; c.skew = skew
      c.taskIntervals ++= taskIntervals
      c
    }
  }

  /** Milliseconds of [from, to) during which no interval is running. */
  def idleMs(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var busy = 0L
    var cur = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { busy += b - math.max(a, cur); cur = b }
      }
    math.max(0L, (to - from) - busy)
  }

  /** Per-layer metrics of a traced pass: each layer's spans give its wall
    * time and its driver-only time (no task of the layer running), its job
    * group gives the rest. */
  def layerMetrics(layers: Seq[String], costs: Map[String, Cost],
      spans: Seq[Tracer.Span]): Seq[(String, Double)] = layers.flatMap { l =>
    val c = costs.getOrElse(l, new Cost)
    val ls = spans.filter(_.name == l)
    Seq(
      s"$l.wall_s" -> ls.map(_.wallS).sum,
      s"$l.cpu_s" -> c.cpuNs / 1e9,
      s"$l.gc_s" -> c.gcMs / 1e3,
      s"$l.driver_s" -> ls.map(s => idleMs(s.startMs, s.endMs, c.taskIntervals.toSeq)).sum / 1e3,
      s"$l.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      s"$l.shuffle_fetch_wait_s" -> c.fetchWaitMs / 1e3,
      s"$l.spill_mb" -> c.spillBytes / 1e6,
      s"$l.task_skew" -> c.skew,
      s"$l.jobs" -> c.jobs.toDouble,
      s"$l.tasks" -> c.tasks.toDouble)
  }

  /** Executor CPU seconds of the program in a traced pass: every job group
    * but the benchmark's own bookkeeping. */
  def programCpu(costs: Map[String, Cost]): Double =
    costs.filter(_._1 != Tracer.Bookkeeping).values.map(_.cpuNs).sum / 1e9

  // Ledger checks; each returns the violations it found (empty = ok).


  /** The layers' CPU must account for the pass's executor CPU within `tol`. */
  def cpuReconciles(layerCpu: Iterable[Double], totalCpu: Double, tol: Double = 0.05): Seq[String] = {
    val s = layerCpu.sum
    if (totalCpu <= 0.0 || math.abs(s - totalCpu) <= tol * totalCpu) Nil
    else Seq(f"layer cpu $s%.3f s vs pass executor cpu $totalCpu%.3f s (> ${tol * 100}%.0f%%)")
  }

  /** Funnel counters must equal the committed row counts they describe
    * (name -> (counter, committed rows)). */
  def funnelReconciles(pairs: Seq[(String, Long, Long)]): Seq[String] =
    pairs.collect { case (n, counter, rows) if counter != rows =>
      s"$n: counter $counter != committed rows $rows" }
}
