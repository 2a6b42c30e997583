package graft.linkbench

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.ckpt.Snapshots
import graft.link.{ConnectedComponents, FusedAnnotate, Mentions, Pairs, Scoring}
import LinkBench.{Commit, OpOut}

/** The four workloads and the linking chains they run. Each chain calls
  * the layers' public functions in order and commits its outputs through
  * Snapshots.commit; the same code runs untraced and traced. */
object Workloads {

  final class Ctx(val spark: SparkSession, val a: Pipeline.Artifacts, val seed: Long,
      val root: String, val scratch: String, val cores: Int) {
    var docs: DataFrame = _
    var pages: Long = 0L
    def stageScratch: String = s"$scratch/spark-local/graft-stage"
  }

  trait Workload {
    def name: String
    def spec: Gen.Spec
    def sessionConf: Map[String, String] = Map.empty
    /** Measured operations per untraced run: at least `minOps`, at most `maxOps`. */
    def minOps: Int = 3
    def maxOps: Int = 100
    /** Operations in each half (untraced, traced) of the traced pass. */
    def tracedOps: Int = 1
    def prepareInputs(ctx: Ctx): Unit
    def warmup(ctx: Ctx, t: Tracer): Unit
    def op(ctx: Ctx, t: Tracer, i: Int): OpOut
    /** Expected fingerprint of (operation index, committed stage). */
    def expected(ctx: Ctx, ops: Seq[OpOut]): (Int, String) => Fp
    /** (check, counter, committed rows) for the ledger's funnel check. */
    def funnel(c: Map[String, Double]): Seq[(String, Long, Long)]
  }

  val byName: Map[String, Workload] =
    Seq(AnnotatePages, PairScoring, LinkClusters, DeltaLink).map(w => w.name -> w).toMap

  // ---- chain steps ---------------------------------------------------------

  /** pages -> linked mentions. Traced, span generation and the dictionary
    * probe are first materialized on their own (they share one stage inside
    * FusedAnnotate), then the production fused call runs. */
  def annotate(ctx: Ctx, t: Tracer, docs: DataFrame): DataFrame = {
    val a = ctx.a
    if (t.on) {
      val (spans, nSpans) = t.layer("Mentions.spans")(t.materialize(
        Mentions.candidateSpans(docs, a.maxKeyTokens, a.analyzer,
          Some(Mentions.firstTokenFilter(a.dictKeys)))))
      val (_, nHits) = t.layer("Mentions.probe")(t.materialize(Mentions.matchSpans(spans, a.dictKeys)))
      t.count("Mentions.spans.rows", nSpans.toDouble)
      t.count("Mentions.probe.hits", nHits.toDouble)
    }
    val (ann, links) = t.layer("FusedAnnotate")(t.materialize(
      FusedAnnotate.annotate(docs, a, Scoring.Params(), Scoring.defaultModel())))
    t.count("FusedAnnotate.links", links.toDouble)
    ann
  }

  def pairs(ctx: Ctx, t: Tracer, ann: DataFrame): DataFrame = {
    val (p, rows) = t.layer("Pairs") {
      val r = t.materialize(Pairs.candidatePairs(ann))
      t.count("Pairs.scratch_bytes", LinkBench.dirBytes(ctx.stageScratch)._1.toDouble)
      r
    }
    if (t.on) t.bookkeeping {
      t.count("Pairs.rows", rows.toDouble)
      t.count("Pairs.same_entity", p.filter(col("same_entity")).count().toDouble)
      t.count("Pairs.max_block", ann.groupBy(split(col("norm_key"), " ").getItem(0)).count()
        .agg(max(col("count"))).head().getLong(0).toDouble)
    }
    p
  }

  def clusters(ctx: Ctx, t: Tracer, linked: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = ctx.spark
    val nodes = linked.withColumn("mention_id", Pairs.mentionIdCol).select("mention_id")
    val edges = Pairs.sameEntityEdges(pairs)
    val (cl, _) = t.layer("ConnectedComponents") {
      if (!t.on) t.materialize(ConnectedComponents.runWithIsolated(spark, nodes, edges))
      else {
        var rounds = 0
        val comp = ConnectedComponents.run(spark, edges, onRound = r => rounds = r)
        // ConnectedComponents.runWithIsolated's body, so that run's onRound
        // hook can count the rounds
        val named = nodes.select(col(nodes.columns.head).cast("long").as("node")).distinct()
        val r = t.materialize(named.join(comp, Seq("node"), "left")
          .select(col("node"), coalesce(col("component"), col("node")).as("component")))
        t.count("ConnectedComponents.rounds", rounds.toDouble)
        t.count("ConnectedComponents.local_solve", if (rounds == 0) 1.0 else 0.0)
        r
      }
    }
    if (t.on) t.bookkeeping {
      t.count("ConnectedComponents.edges_in", edges.count().toDouble)
      t.count("ConnectedComponents.clusters", cl.select("component").distinct().count().toDouble)
    }
    cl
  }

  def commit(ctx: Ctx, t: Tracer, df: DataFrame, stage: String, inputs: Seq[String]): Commit = {
    val (path, m) = t.layer("Snapshots")(Snapshots.commit(df, ctx.root, stage, inputs))
    t.count("Snapshots.rows", m.rows.toDouble)
    t.count(s"committed.$stage", m.rows.toDouble)
    Commit(stage, m.snapshotId, path)
  }

  private def timed(ctx: Ctx, t: Tracer, i: Int, pages: Long)(body: => Seq[Commit]): OpOut = {
    val t0 = System.nanoTime()
    val commits = body
    val wall = (System.nanoTime() - t0) / 1e9
    t.release()
    // blockSeq's stage scratch outlives the lazy frames it backs; once the
    // operation has committed nothing reads it any more
    Pairs.rmDir(ctx.stageScratch)
    OpOut(i, pages, wall, commits)
  }

  /** Committed fingerprints of every snapshot of `stage`, by snapshot id. */
  def committedFingerprints(ctx: Ctx, stage: String): Map[Long, Fp] = {
    val spark = ctx.spark
    val dir = Paths.get(ctx.root, stage)
    val ids = Snapshots.history(spark, ctx.root, stage).map(_.snapshotId)
    val df = spark.read.parquet(s"$dir/snap-*")
    val snap = regexp_extract(col("_metadata.file_path"), "snap-([0-9]+)/", 1).cast("long")
    val keyed = df.withColumn("snap", snap)
    val canonical = stage match {
      case "annotations" => Fingerprint.annotations(keyed, "snap")
      case "pairs" => Fingerprint.pairs(keyed, "snap")
      case "clusters" => Fingerprint.clusters(keyed, "snap")
      case _ => keyed.select(col("doc_id").cast("long"), col("snap"))
    }
    val fps = Fingerprint.byKey(canonical, "snap")
    ids.map(id => id -> fps.getOrElse(id, Fp(0L, 0L, 0L))).toMap
  }

  // ---- batch workloads ------------------------------------------------------

  abstract class Batch(val name: String, val spec: Gen.Spec, pages: Int) extends Workload {
    def stages: Seq[String]
    def chain(ctx: Ctx, t: Tracer, docs: DataFrame, lineage: String): Seq[Commit]

    def prepareInputs(ctx: Ctx): Unit = {
      val path = s"${ctx.scratch}/input"
      Gen.pages(ctx.spark, spec, ctx.seed, 0L, pages.toLong, ctx.cores * 4)
        .write.mode("overwrite").parquet(path)
      ctx.docs = ctx.spark.read.parquet(path)
      ctx.pages = pages.toLong
    }

    /** `warmups` untimed operations, on one page in `warmupEvery`: JIT and
      * codegen warm on code, not volume. */
    def warmups: Int = 2
    def warmupEvery: Int = 1

    def warmup(ctx: Ctx, t: Tracer): Unit = (1 to warmups).foreach { i =>
      chain(ctx, t, ctx.docs.filter(col("doc_id") % warmupEvery === 0), s"pages:$name:warmup$i")
      Pairs.rmDir(ctx.stageScratch)
    }

    def op(ctx: Ctx, t: Tracer, i: Int): OpOut =
      timed(ctx, t, i, ctx.pages)(chain(ctx, t, ctx.docs, s"pages:$name:seed${ctx.seed}:op$i"))

    def expected(ctx: Ctx, ops: Seq[OpOut]): (Int, String) => Fp = {
      val fps = scala.collection.mutable.Map.empty[String, Fp]
      if (stages.contains("annotations")) {
        val ann = Oracle.annotations(ctx.docs, ctx.a)
        fps("annotations") = Fingerprint.of(Fingerprint.annotations(ann))
        ann.unpersist()
      }
      if (stages.contains("pairs")) {
        // pairs and clusters are checked in full, from the production
        // annotations: the committed ones where the chain commits them
        val linked = ops.head.commits.find(_.stage == "annotations")
          .map(c => ctx.spark.read.parquet(c.path))
          .getOrElse(FusedAnnotate.annotate(ctx.docs, ctx.a, Scoring.Params(), Scoring.defaultModel()))
          .persist()
        val p = Oracle.pairs(linked).persist()
        fps("pairs") = Fingerprint.of(Fingerprint.pairs(p))
        if (stages.contains("clusters"))
          fps("clusters") = Fingerprint.of(Oracle.clusters(ctx.spark, linked, p))
        p.unpersist()
        linked.unpersist()
      }
      (_, stage) => fps(stage)
    }
  }

  /** Long pages at a low mention density, some over the 10k-char cap:
    * span generation, the dictionary probe and the fused classifier. The
    * shapes here and below are assumptions (see linkbench/README.md). */
  object AnnotatePages extends Batch("annotate_pages", Gen.Spec(300, 2400, 0.04, 0.8), 4000) {
    override val warmups = 1
    val stages = Seq("annotations")
    def chain(ctx: Ctx, t: Tracer, docs: DataFrame, lineage: String): Seq[Commit] =
      Seq(commit(ctx, t, annotate(ctx, t, docs), "annotations", Seq(lineage)))
    def funnel(c: Map[String, Double]): Seq[(String, Long, Long)] = Seq(
      ("links = annotation rows", c.getOrElse("FusedAnnotate.links", 0.0).toLong,
        c.getOrElse("committed.annotations", 0.0).toLong))
  }

  /** Short, mention-dense pages with Zipf-hot aliases: blocked pair
    * generation and Jaro-Winkler/Levenshtein scoring. */
  object PairScoring extends Batch("pair_scoring", Gen.Spec(15, 60, 0.35, 1.3), 20000) {
    val stages = Seq("pairs")
    def chain(ctx: Ctx, t: Tracer, docs: DataFrame, lineage: String): Seq[Commit] =
      Seq(commit(ctx, t, pairs(ctx, t, annotate(ctx, t, docs)), "pairs", Seq(lineage)))
    def funnel(c: Map[String, Double]): Seq[(String, Long, Long)] = Seq(
      ("Pairs.rows = pair rows", c.getOrElse("Pairs.rows", 0.0).toLong,
        c.getOrElse("committed.pairs", 0.0).toLong))
  }

  /** The full chain to committed clusters, sized so the same-entity edge set
    * clears the connected-components local-solve gate on every seed and the
    * distributed loop runs. */
  object LinkClusters extends Batch("link_clusters", Gen.Spec(15, 60, 0.35, 1.1), 1500) {
    override val minOps = 1
    override val warmups = 1
    override val warmupEvery = 4
    /** Local-solve gate for this workload's sessions (the engine's default
      * is 2M edges; see linkbench/README.md for why it is lowered here). The
      * warm-up quarter of the pages (about 6k edges) clears it too. */
    val localSolveEdges = 2000L
    override def sessionConf: Map[String, String] =
      Map("spark.graft.cc.localSolveEdges" -> localSolveEdges.toString)
    val stages = Seq("annotations", "pairs", "clusters")
    def chain(ctx: Ctx, t: Tracer, docs: DataFrame, lineage: String): Seq[Commit] = {
      val spark = ctx.spark
      val ac = commit(ctx, t, annotate(ctx, t, docs), "annotations", Seq(lineage))
      val ann = spark.read.parquet(ac.path)
      val pc = commit(ctx, t, pairs(ctx, t, ann), "pairs", Seq(s"annotations:${ac.snapshotId}"))
      val cc = commit(ctx, t, clusters(ctx, t, ann, spark.read.parquet(pc.path)), "clusters",
        Seq(s"pairs:${pc.snapshotId}"))
      Seq(ac, pc, cc)
    }
    /** Also fails the run unless the edge set clears the local-solve gate,
      * that is unless the distributed loop ran. */
    override def expected(ctx: Ctx, ops: Seq[OpOut]): (Int, String) => Fp = {
      val pairs = ctx.spark.read.parquet(ops.head.commits.find(_.stage == "pairs").get.path)
      val edges = Pairs.sameEntityEdges(pairs)
        .select(least(col("src"), col("dst")), greatest(col("src"), col("dst"))).distinct().count()
      require(edges > localSolveEdges,
        s"$edges same-entity edges do not clear the local-solve gate of $localSolveEdges")
      super.expected(ctx, ops)
    }

    def funnel(c: Map[String, Double]): Seq[(String, Long, Long)] = {
      def g(n: String) = c.getOrElse(n, 0.0).toLong
      Seq(
        ("links = annotation rows", g("FusedAnnotate.links"), g("committed.annotations")),
        ("Pairs.rows = pair rows", g("Pairs.rows"), g("committed.pairs")),
        ("edges = same-entity pairs", g("ConnectedComponents.edges_in"), g("Pairs.same_entity")),
        ("CC nodes = links", g("committed.clusters"), g("FusedAnnotate.links")))
    }
  }

  // ---- incremental workload -------------------------------------------------

  /** A committed base, then small page deltas one after another: each delta
    * drops pages already in the committed processed set (left_anti),
    * annotates the rest and commits annotations and the grown processed set
    * with lineage. Per-call driver cost dominates. */
  object DeltaLink extends Workload {
    val name = "delta_link"
    val spec = Gen.Spec(100, 800, 0.05, 0.9)
    val basePages = 4000
    val newPerDelta = 80
    val recrawledPerDelta = 20
    val warmupDeltas = 3
    override val minOps = 40
    override val maxOps = 400
    override val tracedOps = 10

    private var sampler: Gen.Sampler = _
    private var nextDelta = 0
    private var processed: Commit = _

    def deltaIds(ctx: Ctx, k: Int): (Seq[Long], Seq[Long]) = {
      val from = basePages.toLong + k.toLong * newPerDelta
      val fresh = (0 until newPerDelta).map(from + _)
      val rnd = new java.util.SplittableRandom(ctx.seed * 1000003L + k)
      val old = (0 until recrawledPerDelta).map(_ => rnd.nextLong(from))
      (fresh, old)
    }

    def prepareInputs(ctx: Ctx): Unit = {
      val path = s"${ctx.scratch}/input"
      Gen.pages(ctx.spark, spec, ctx.seed, 0L, basePages.toLong, ctx.cores * 4)
        .write.mode("overwrite").parquet(path)
      ctx.docs = ctx.spark.read.parquet(path)
      ctx.pages = newPerDelta.toLong
      sampler = new Gen.Sampler(ctx.seed, spec)
      nextDelta = 0
    }

    /** Commit the base, then run a few deltas untimed. */
    def warmup(ctx: Ctx, t: Tracer): Unit = {
      commit(ctx, t, annotate(ctx, t, ctx.docs), "annotations", Seq("crawl:base"))
      processed = commit(ctx, t, ctx.docs.select("doc_id"), "processed", Seq("crawl:base"))
      (0 until warmupDeltas).foreach(_ => op(ctx, t, -1))
    }

    def op(ctx: Ctx, t: Tracer, i: Int): OpOut = {
      val spark = ctx.spark
      import spark.implicits._
      val k = nextDelta
      nextDelta += 1
      val (fresh, old) = deltaIds(ctx, k)
      val batch = (fresh ++ old).map(id => (id, sampler.page(id))).toDF("doc_id", "text")
      val prev = processed
      timed(ctx, t, k, fresh.length.toLong) {
        val done = spark.read.parquet(prev.path)
        val delta = batch.join(done, Seq("doc_id"), "left_anti")
        val ac = commit(ctx, t, annotate(ctx, t, delta), "annotations",
          Seq(s"processed:${prev.snapshotId}", s"crawl:delta-$k"))
        // compacted to one file, so every delta reads a set of the same shape
        processed = commit(ctx, t, done.unionByName(delta.select("doc_id")).coalesce(1), "processed",
          Seq(s"processed:${prev.snapshotId}", s"annotations:${ac.snapshotId}"))
        Seq(ac, processed)
      }
    }

    def expected(ctx: Ctx, ops: Seq[OpOut]): (Int, String) => Fp = {
      val last = ops.map(_.index).max
      val key = ((col("doc_id") - lit(basePages.toLong)) / lit(newPerDelta.toLong)).cast("long")
      val newPages = Gen.pages(ctx.spark, spec, ctx.seed, basePages.toLong,
        basePages.toLong + (last + 1L) * newPerDelta, ctx.cores * 4)
      val ann = Oracle.annotations(newPages, ctx.a)
      val annFp = Fingerprint.byKey(Fingerprint.annotations(ann.withColumn("k", key), "k"), "k")
      ann.unpersist()
      // the processed set after delta k is every id below the next fresh id
      val idFp = Fingerprint.byKey(ctx.spark.range(0L, basePages.toLong + (last + 1L) * newPerDelta)
        .toDF("doc_id").withColumn("k", when(col("doc_id") < basePages, lit(-1L)).otherwise(key)),
        "k")
      val zero = Fp(0L, 0L, 0L)
      def add(a: Fp, b: Fp) = Fp(a.rows + b.rows, a.hi + b.hi, a.lo + b.lo)
      val cumulative = (0 to last).scanLeft(idFp.getOrElse(-1L, zero))((acc, k) =>
        add(acc, idFp.getOrElse(k.toLong, zero))).tail
      (k, stage) =>
        if (stage == "annotations") annFp.getOrElse(k.toLong, zero) else cumulative(k)
    }

    def funnel(c: Map[String, Double]): Seq[(String, Long, Long)] = Seq(
      ("links = annotation rows", c.getOrElse("FusedAnnotate.links", 0.0).toLong,
        c.getOrElse("committed.annotations", 0.0).toLong))
  }
}
