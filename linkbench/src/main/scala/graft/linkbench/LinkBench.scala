package graft.linkbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Pipeline
import graft.link.{FusedAnnotate, Mentions, Pairs, Scoring}

/** End-to-end linking benchmark, one workload per JVM.
  *
  *   LinkBench --prepare --work DIR
  *     builds the offline artifacts once (Pipeline.buildArtifacts) and saves
  *     them under DIR/artifacts.
  *   LinkBench --workload W --seed N --seconds S --trace 0|1 --work DIR
  *     runs workload W at local[Cores] and prints one line
  *     `RESULT {"correct":..,"attempted":..,"failed":..,"metrics":{..}}` and
  *     one `RAW {..}` line with every sample, the host-noise columns and the
  *     ledger. Metric names and units are listed in linkbench/README.md.
  *
  * Untraced (trace 0) it measures the end-to-end metrics over a closed loop
  * of operations (one client). Traced (trace 1) it runs the same operation
  * untraced and then traced, and reports the per-layer ledger plus the
  * tracing overhead (traced minus untraced wall).
  */
object LinkBench {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String)

  final case class Commit(stage: String, snapshotId: Long, path: String)
  final case class OpOut(index: Int, pages: Long, wallS: Double, commits: Seq[Commit])

  /** JSON for the RAW and RESULT lines and the spans file. */
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** The local[k] width, the same for every workload and for the artifact
    * build. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  val Layers: Seq[String] = Seq("Pipeline.artifacts", "Mentions.spans", "Mentions.probe",
    "FusedAnnotate", "Pairs", "ConnectedComponents", "Snapshots")

  def session(cores: Int, work: String, extra: Map[String, String] = Map.empty): SparkSession = {
    // the engine's own scale-bench settings (graft.BenchChild.session),
    // spelled out so the benchmark does not depend on bench internals
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-linkbench")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(argv: Array[String], name: String): Option[String] = {
    val i = argv.indexOf(s"--$name")
    if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
  }

  def main(argv: Array[String]): Unit = {
    val work = new File(arg(argv, "work").getOrElse(sys.error("--work DIR is required")))
      .getAbsolutePath
    if (argv.contains("--prepare")) { prepare(work); return }
    val conf = Conf(
      workload = arg(argv, "workload").getOrElse(sys.error("--workload is required")),
      seed = arg(argv, "seed").map(_.toLong).getOrElse(1L),
      seconds = arg(argv, "seconds").map(_.toDouble).getOrElse(10.0),
      trace = arg(argv, "trace").contains("1"),
      work = work)
    require(Workloads.byName.contains(conf.workload),
      s"unknown workload ${conf.workload}; known: ${Workloads.byName.keys.mkString(", ")}")
    new Run(conf).execute()
  }

  def artifactStore(work: String): String = s"$work/artifacts"

  /** Build the offline artifacts once per checkout and save them; every run
    * loads them (the engine's index-once, serve-many lifecycle). */
  def prepare(work: String): Unit = {
    val spark = session(Cores, work)
    val tmp = s"$work/artifacts.tmp"
    val t0 = System.nanoTime()
    Pipeline.saveArtifacts(Pipeline.buildArtifacts(spark), tmp)
    val dst = new File(artifactStore(work))
    Pairs.rmDir(dst.getPath)
    Files.move(Paths.get(tmp), dst.toPath)
    println(f"PREPARED artifacts in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }

  def dirBytes(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
    }
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
    }.getOrElse(0.0)
}

/** One benchmark run: set-up, the measured loop or the traced pass, the
  * output checks, and the report. */
final class Run(conf: LinkBench.Conf) {
  import LinkBench._

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val runId = s"${conf.workload}-s${conf.seed}-t${if (conf.trace) 1 else 0}-${ProcessHandle.current().pid()}"
  private val scratch = s"${conf.work}/runs/$runId"
  private val w = Workloads.byName(conf.workload)
  private val spark = session(Cores, scratch, w.sessionConf)
  private val sessionReadyMs = System.currentTimeMillis()
  private val root = s"$scratch/snapshots"
  private val plans = new PlanCapture
  spark.listenerManager.register(plans)
  private val cpu = new CpuCounter(spark)
  private val raw = mutable.LinkedHashMap.empty[String, Any]
  private val problems = mutable.ArrayBuffer.empty[String]

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def execute(): Unit = {
    try {
      val artS = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val a = Pipeline.loadArtifacts(spark, artifactStore(conf.work))
        warmBroadcasts(a)
        (secsSince(t0), a)
      }
      val a = artS.last._2
      val ctx = new Workloads.Ctx(spark, a, conf.seed, root, scratch, Cores)
      val t0 = System.nanoTime()
      w.prepareInputs(ctx)
      raw("input_s") = secsSince(t0)
      val tw = System.nanoTime()
      w.warmup(ctx, new Tracer(spark, on = false, runId))
      val warmS = secsSince(tw)
      val sessionS = (sessionReadyMs - jvmStartMs) / 1e3
      val artifactsS = Stats.median(artS.map(_._1))
      raw("setup") = Map("session_s" -> sessionS, "artifacts_s" -> artS.map(_._1),
        "warmup_s" -> warmS)
      val setupS = sessionS + artifactsS + warmS
      val (metrics, attempted, failed) =
        if (conf.trace) traced(ctx) else measured(ctx, setupS)
      raw("problems") = problems.toSeq
      val correct = failed == 0 && problems.isEmpty
      println("RAW " + json.writeValueAsString(raw))
      println("RESULT " + json.writeValueAsString(Map("correct" -> correct, "attempted" -> attempted,
        "failed" -> failed, "metrics" -> metrics)))
    } finally {
      spark.stop()
      Pairs.rmDir(scratch)
    }
  }

  /** Force the per-artifacts broadcasts (feature map, BOW model, first-token
    * filter): FusedAnnotate.annotate builds them when it plans, so planning
    * over an empty page set is enough. */
  private def warmBroadcasts(a: Pipeline.Artifacts): Unit = {
    import spark.implicits._
    FusedAnnotate.annotate(Seq.empty[(Long, String)].toDF("doc_id", "text"), a,
      Scoring.Params(), Scoring.defaultModel())
    ()
  }

  private def hostNoise[A](body: => A): (A, Map[String, Double]) = {
    val (st0, sy0) = graft.BenchChild.procStatSecs
    val r = body
    val (st1, sy1) = graft.BenchChild.procStatSecs
    (r, Map("steal_s" -> (st1 - st0), "sys_s" -> (sy1 - sy0)))
  }

  /** Closed loop with one client: the next operation starts when the last
    * one has committed, until `seconds` have passed and the workload's
    * minimum sample count is reached. Rates are medians over operations. */
  private def measured(ctx: Workloads.Ctx, setupS: Double): (Map[String, Double], Long, Long) = {
    val off = new Tracer(spark, on = false, runId)
    val ops = mutable.ArrayBuffer.empty[OpOut]
    val opCpu = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val (_, noise) = hostNoise {
      while (ops.length < w.minOps || (secsSince(t0) < conf.seconds && ops.length < w.maxOps)) {
        val c0 = cpu.seconds()
        ops += w.op(ctx, off, ops.length)
        opCpu += cpu.seconds() - c0
      }
    }
    val wall = secsSince(t0)
    val rssMb = peakRssMb() // set-up and loop, not the checks below
    val failed = check(ctx, ops.toSeq)
    val pages = ops.map(_.pages.toDouble).toSeq
    val lat = ops.map(_.wallS).toSeq
    val sinkBytes = ops.map(o => o.commits.map(c => dirBytes(c.path)._1).sum.toDouble).toSeq
    val tail = Stats.tailPercentile(lat)
    raw("loop") = Map("ops" -> ops.length, "wall_s" -> wall, "pages" -> pages.sum,
      "op_s" -> lat, "op_cpu_s" -> opCpu, "host_noise" -> noise,
      "tail_percentile" -> tail.map(_._1), "tail_s" -> tail.map(_._2),
      "loop_pages_per_s" -> pages.sum / wall, "fail_ratio" -> failed.toDouble / ops.length)
    val m = Map(
      "setup_s" -> setupS,
      "pages_per_s" -> Stats.median(pages.zip(lat).map { case (p, s) => p / s }),
      "cpu_s_per_kpage" -> Stats.median(opCpu.toSeq.zip(pages).map { case (c, p) => c / p * 1000.0 }),
      "peak_rss_mb" -> rssMb,
      "sink_bytes_per_page" -> Stats.median(sinkBytes.zip(pages).map { case (b, p) => b / p }))
    (m, ops.length.toLong, failed)
  }

  /** Output checks for the operations run: each committed output's
    * fingerprint against the declarative path, and the plan guard on every
    * pair-scoring commit. Returns the number of failed operations. */
  private def check(ctx: Workloads.Ctx, ops: Seq[OpOut]): Long = {
    val t0 = System.nanoTime()
    val expected = w.expected(ctx, ops)
    raw("expected_s") = secsSince(t0)
    val stages = ops.flatMap(_.commits.map(_.stage)).distinct
    val got = stages.map(s => s -> Workloads.committedFingerprints(ctx, s)).toMap
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark.sparkContext)
    val failed = ops.count { o =>
      val bad = o.commits.flatMap { c =>
        val fp = got(c.stage).get(c.snapshotId)
        val want = expected(o.index, c.stage)
        val mismatch =
          if (fp.contains(want)) Nil
          else Seq(s"op ${o.index} ${c.stage}: committed ${fp.getOrElse("none")} expected $want")
        val guard =
          if (c.stage != "pairs") Nil
          else plans.plan(c.path) match {
            case Some(p) if p.contains("jarowinkler") && p.contains("levenshtein") => Nil
            case Some(_) => Seq(s"PLAN GUARD: op ${o.index} pairs commit ran without jarowinkler/levenshtein")
            case None => Seq(s"PLAN GUARD: no executed plan captured for op ${o.index} pairs commit")
          }
        mismatch ++ guard
      }
      bad.foreach { b => System.err.println(s"CHECK FAILED $b"); problems += b }
      bad.nonEmpty
    }
    raw("check_s") = secsSince(t0)
    failed.toLong
  }

  /** Traced pass: the workload's operations untraced, then the same number
    * traced; per-layer ledger from the traced ones. */
  private def traced(ctx: Workloads.Ctx): (Map[String, Double], Long, Long) = {
    val off = new Tracer(spark, on = false, runId)
    val n = w.tracedOps
    val plain = (0 until n).map(i => w.op(ctx, off, i))
    val ledger = new Ledger
    val sc = spark.sparkContext
    sc.addSparkListener(ledger)
    val tr = new Tracer(spark, on = true, runId)
    val t0 = System.currentTimeMillis()
    // the artifacts layer: a fresh load plus its broadcasts
    val bcMb = tr.operation(-1) {
      tr.layer("Pipeline.artifacts") {
        val fresh = Pipeline.loadArtifacts(spark, artifactStore(conf.work))
        warmBroadcasts(fresh)
        val est = org.apache.spark.util.SizeEstimator
        (est.estimate(FusedAnnotate.qidFeatures(fresh)) + est.estimate(fresh.bow) +
          est.estimate(Mentions.TokenFilter.fromDictKeys(fresh.dictKeys))) / 1e6
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(sc)
    val perOp = mutable.ArrayBuffer(ledger.snapshot())
    val (tracedOps, noise) = hostNoise((n until 2 * n).map { i =>
      val o = tr.operation(i)(w.op(ctx, tr, i))
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(sc)
      perOp += ledger.snapshot()
      o
    })
    val t1 = System.currentTimeMillis()
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(sc)
    sc.removeSparkListener(ledger)
    val costs = ledger.snapshot()
    val failed = check(ctx, plain ++ tracedOps)

    val spans = tr.spans.toSeq
    val m = mutable.LinkedHashMap(Ledger.layerMetrics(Layers, costs, spans): _*)
    val k = tr.counters
    def cnt(n: String): Double = k.getOrElse(n, 0.0)
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val pages = tracedOps.map(_.pages).sum.toDouble
    m("Pipeline.artifacts.broadcast_mb") = bcMb
    m("Mentions.spans.rows") = cnt("Mentions.spans.rows")
    m("Mentions.spans.per_page") = ratio(cnt("Mentions.spans.rows"), pages)
    m("Mentions.probe.hits") = cnt("Mentions.probe.hits")
    m("Mentions.probe.hit_ratio") = ratio(cnt("Mentions.probe.hits"), cnt("Mentions.spans.rows"))
    m("FusedAnnotate.links") = cnt("FusedAnnotate.links")
    m("FusedAnnotate.link_ratio") = ratio(cnt("FusedAnnotate.links"), cnt("Mentions.probe.hits"))
    m("Pairs.rows") = cnt("Pairs.rows")
    m("Pairs.same_entity_ratio") = ratio(cnt("Pairs.same_entity"), cnt("Pairs.rows"))
    m("Pairs.max_block") = cnt("Pairs.max_block")
    m("Pairs.scratch_mb") = cnt("Pairs.scratch_bytes") / 1e6
    m("ConnectedComponents.edges_in") = cnt("ConnectedComponents.edges_in")
    m("ConnectedComponents.rounds") = cnt("ConnectedComponents.rounds")
    m("ConnectedComponents.local_solve") = cnt("ConnectedComponents.local_solve")
    m("ConnectedComponents.clusters") = cnt("ConnectedComponents.clusters")
    val snaps = tracedOps.flatMap(_.commits).map(c => dirBytes(c.path))
    m("Snapshots.mb") = snaps.map(_._1).sum / 1e6
    m("Snapshots.files") = snaps.map(_._2).sum.toDouble
    m("Snapshots.rows") = cnt("Snapshots.rows")

    // per operation (one delta on delta_link, one batch elsewhere): medians
    val deltas = perOp.toSeq.tail.zip(perOp.toSeq.init)
    def opJobs(l: String): Seq[Double] = deltas.map { case (now, before) =>
      (now.get(l).map(_.jobs).getOrElse(0L) - before.get(l).map(_.jobs).getOrElse(0L)).toDouble }
    val opSpans = spans.filter(_.op >= n).groupBy(_.op).toSeq.sortBy(_._1).map(_._2)
    val fa = costs.getOrElse("FusedAnnotate", new Ledger.Cost)
    m("per_op.FusedAnnotate.driver_s") = Stats.median(opSpans.map(_.filter(_.name == "FusedAnnotate")
      .map(s => Ledger.idleMs(s.startMs, s.endMs, fa.taskIntervals.toSeq)).sum / 1e3))
    m("per_op.Snapshots.wall_s") = Stats.median(opSpans.map(_.filter(_.name == "Snapshots").map(_.wallS).sum))
    m("per_op.Snapshots.jobs") = Stats.median(opJobs("Snapshots"))

    val untracedWall = plain.map(_.wallS).sum
    val tracedWall = tracedOps.map(_.wallS).sum
    m("trace.overhead_s") = tracedWall - untracedWall
    m("trace.untraced_wall_s") = untracedWall
    m("trace.traced_wall_s") = tracedWall

    // ledger reconciliation
    val total = Ledger.programCpu(costs)
    val layerCpu = Layers.map(l => m(s"$l.cpu_s"))
    m("ledger.attributed_cpu_ratio") = ratio(layerCpu.sum, total)
    val funnel = w.funnel(tr.counters.toMap)
    val violations = Ledger.cpuReconciles(layerCpu, total) ++ Ledger.funnelReconciles(funnel)
    violations.foreach { v => System.err.println(s"LEDGER $v"); problems += s"ledger: $v" }
    val spansFile = s"${conf.work}/traces/$runId.spans.jsonl"
    Files.createDirectories(Paths.get(spansFile).getParent)
    Files.write(Paths.get(spansFile), spans.map(json.writeValueAsString).asJava)
    raw("trace") = Map("spans_file" -> spansFile, "pass_ms" -> (t1 - t0), "host_noise" -> noise,
      "executor_cpu_s" -> total,
      "groups" -> costs.map { case (g, c) => g -> Map("cpu_s" -> c.cpuNs / 1e9, "jobs" -> c.jobs) },
      "funnel" -> funnel.map { case (n, a, b) => Seq(n, a, b) }, "ledger" -> m)
    (m.toMap, (plain ++ tracedOps).length.toLong, failed)
  }
}

/** Executor CPU seconds summed over completed stages. */
final class CpuCounter(spark: SparkSession) {
  private val ns = new java.util.concurrent.atomic.AtomicLong(0L)
  spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      ns.addAndGet(e.stageInfo.taskMetrics.executorCpuTime); ()
    }
  })
  def seconds(): Double = {
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark.sparkContext)
    ns.get / 1e9
  }
}

/** Keeps the executed plan of every parquet write, by output path. */
final class PlanCapture extends org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
  private val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath }
      .foreach(p => plans.put(new File(p.toUri.getPath).getAbsolutePath, qe.executedPlan.toString))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def plan(path: String): Option[String] = Option(plans.get(new File(path).getAbsolutePath))
}
