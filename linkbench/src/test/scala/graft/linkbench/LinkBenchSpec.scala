package graft.linkbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Pipeline

class LinkBenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    LinkBench.session(1, new java.io.File("target/test-work").getAbsolutePath)

  private def pageDigest(seed: Long, slices: Int): (Long, Long) = {
    val rows = Gen.pages(spark, Workloads.LinkClusters.spec, seed, 0L, 300L, slices)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    (rows.length.toLong, rows.map { case (id, t) => id * 31 + t.hashCode }.sum)
  }

  /** Order-independent digest of pages drawn without Spark. */
  private def digest(spec: Gen.Spec, seed: Long): Long = {
    val s = new Gen.Sampler(seed, spec)
    (0L until 200L).map(id => id * 31 + s.page(id).hashCode).sum
  }

  test("the generator is deterministic per seed and differs across seeds") {
    val spec = Workloads.AnnotatePages.spec
    assert(digest(spec, 7L) == digest(spec, 7L))
    assert(digest(spec, 7L) != digest(spec, 8L))
    // the Spark frame is the same pages however the id range is split
    assert(pageDigest(3L, 1) == pageDigest(3L, 5))
    assert(pageDigest(3L, 1) != pageDigest(4L, 1))
  }

  test("generated pages hold dictionary surfaces, and only filler otherwise") {
    val p = new Gen.Sampler(1L, Workloads.PairScoring.spec).page(42L)
    assert(Gen.surfaces.exists(s => p.contains(s)))
    assert(Gen.filler.forall(f => !Gen.surfaces.contains(f)))
  }

  test("the tail percentile is the highest with at least ten samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tailPercentile(xs(40)) == Some((75.0, 30.0)))
    assert(Stats.tailPercentile(xs(39)).map(_._1) == Some(50.0))
    assert(Stats.tailPercentile(xs(100)) == Some((90.0, 90.0)))
    assert(Stats.tailPercentile(xs(20)) == Some((50.0, 10.0)))
    assert(Stats.tailPercentile(xs(19)).isEmpty)
    // ties at the percentile value do not count as beyond it
    assert(Stats.tailPercentile(Seq.fill(30)(1.0) ++ Seq.fill(10)(2.0)).map(_._1) == Some(75.0))
    assert(Stats.tailPercentile(Seq.fill(31)(1.0) ++ Seq.fill(9)(2.0)).isEmpty)
  }

  test("fingerprints ignore row order and partitioning, and see any changed value") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("a", "b", "c")
    val fp = Fingerprint.of(df)
    assert(fp.rows == 500)
    assert(Fingerprint.of(df.orderBy(rand(5)).repartition(7)) == fp)
    assert(Fingerprint.of(df.withColumn("c", when(col("a") === 17, 0.25).otherwise(col("c")))) != fp)
    assert(Fingerprint.of(df.filter(col("a") =!= 3)) != fp)
    val byK = Fingerprint.byKey(df.withColumn("k", col("a") % 2), "k")
    assert(byK.values.map(_.rows).sum == 500)
    assert(Fingerprint.of(df.filter(col("a") % 2 === 0)) == byK(0L))
  }

  test("ledger checks flag unattributed CPU and funnel mismatches") {
    assert(Ledger.cpuReconciles(Seq(4.0, 5.0), 9.2).isEmpty)
    assert(Ledger.cpuReconciles(Seq(4.0, 4.0), 9.0).nonEmpty)
    assert(Ledger.funnelReconciles(Seq(("links", 5L, 5L))).isEmpty)
    assert(Ledger.funnelReconciles(Seq(("links", 5L, 6L))).nonEmpty)
    assert(Ledger.idleMs(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L)
  }

  /** Built once for the chain tests below. */
  lazy val artifacts: Pipeline.Artifacts = {
    val a = Pipeline.buildArtifacts(spark)
    Pipeline.primeArtifacts(spark, a)
    a
  }

  /** A fresh context on `pages` pages of `w`'s shape, with its own snapshot
    * root; `body` runs in it and the snapshots are removed afterwards. */
  private def withCtx(w: Workloads.Workload, seed: Long, pages: Long)(
      body: Workloads.Ctx => Unit): Unit = {
    val work = new java.io.File(s"target/test-work/${w.name}").getAbsolutePath
    val ctx = new Workloads.Ctx(spark, artifacts, seed, s"$work/snapshots", work, 1)
    ctx.docs = Gen.pages(spark, w.spec, seed, 0L, pages, 2).cache()
    ctx.pages = pages
    try body(ctx)
    finally { ctx.docs.unpersist(); graft.link.Pairs.rmDir(work) }
  }

  /** Every committed output of `ops` equals its declarative check. */
  private def assertChecked(ctx: Workloads.Ctx, w: Workloads.Workload,
      ops: Seq[LinkBench.OpOut]): Unit = {
    val want = w.expected(ctx, ops)
    for (op <- ops; c <- op.commits) {
      val got = Workloads.committedFingerprints(ctx, c.stage)(c.snapshotId)
      assert(got == want(op.index, c.stage), s"op ${op.index} ${c.stage}")
    }
  }

  /** One traced operation of `w`; returns it with the tracer's counters and
    * the CPU reconciliation's violations. */
  private def tracedOp(ctx: Workloads.Ctx, w: Workloads.Workload)
      : (LinkBench.OpOut, Map[String, Double], Seq[String]) = {
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val tr = new Tracer(spark, on = true, "spec")
    val op = tr.operation(0)(w.op(ctx, tr, 0))
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ledger)
    val costs = ledger.snapshot()
    val m = Ledger.layerMetrics(LinkBench.Layers, costs, tr.spans.toSeq).toMap
    val cpu = LinkBench.Layers.map(l => m(s"$l.cpu_s"))
    (op, tr.counters.toMap, Ledger.cpuReconciles(cpu, Ledger.programCpu(costs)))
  }

  test("a traced link_clusters operation reconciles its ledger and matches its checks") {
    val w = Workloads.LinkClusters
    // force the distributed connected-components loop on this small graph
    spark.conf.set("spark.graft.cc.localSolveEdges", "50")
    try withCtx(w, 11L, 120L) { ctx =>
      val (op, counters, cpuViolations) = tracedOp(ctx, w)
      val funnel = w.funnel(counters)
      assert(cpuViolations.isEmpty)
      assert(funnel.size == 4 && funnel.forall(_._2 > 0))
      assert(Ledger.funnelReconciles(funnel).isEmpty)
      assert(counters("ConnectedComponents.rounds") >= 1.0)
      assert(counters("ConnectedComponents.local_solve") == 0.0)
      assertChecked(ctx, w, Seq(op))
    } finally spark.conf.unset("spark.graft.cc.localSolveEdges")
  }

  test("a traced pair_scoring operation reconciles, matches its check and keeps the scores") {
    val w = Workloads.PairScoring
    val plans = new PlanCapture
    spark.listenerManager.register(plans)
    try withCtx(w, 12L, 150L) { ctx =>
      val (op, counters, cpuViolations) = tracedOp(ctx, w)
      val funnel = w.funnel(counters)
      assert(cpuViolations.isEmpty)
      assert(funnel.nonEmpty && funnel.forall(_._2 > 0))
      assert(Ledger.funnelReconciles(funnel).isEmpty)
      assertChecked(ctx, w, Seq(op))
      val plan = plans.plan(op.commits.find(_.stage == "pairs").get.path)
      assert(plan.exists(p => p.contains("jarowinkler") && p.contains("levenshtein")))
    } finally spark.listenerManager.unregister(plans)
  }

  test("delta_link deltas commit annotations and the grown processed set that match their checks") {
    val w = Workloads.DeltaLink
    withCtx(w, 13L, 0L) { ctx =>
      val off = new Tracer(spark, on = false, "spec")
      w.prepareInputs(ctx)
      w.warmup(ctx, off)
      val ops = (0 until 2).map(i => w.op(ctx, off, i))
      assert(ops.forall(o => o.pages == w.newPerDelta && o.commits.map(_.stage) ==
        Seq("annotations", "processed")))
      assertChecked(ctx, w, ops)
    }
  }
}
