package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.link.{FusedAnnotate, Mentions, Scoring}

/** Differential test: the Spark scoring path (similarity edges -> feature
  * propagation -> SVM decision) vs an independent plain-Scala
  * re-implementation of classifier.py:262-375, on real extracted mentions
  * with a non-trivial model so every feature and propagation step matters.
  */
class ScoringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val params = Scoring.Params(nbSteps = 2, maxSimilarityDistance = 100,
    similaritySmoothing = 0.1)

  // the frozen non-trivial model served by el_annotate_ctx
  val model: Scoring.SvmModel = Scoring.ctxModel(2)

  // ---- plain-Scala reference (mirrors classifier.py semantics) ------------
  case class PTag(qid: String, qidNum: Long, edges: Set[Long], ll: Double,
      rank: Double, nbStatements: Int, nbSitelinks: Int)
  case class PMention(start: Int, end: Int, tags: Seq[PTag])

  def plainScores(mentions: Seq[PMention]): Map[(Int, Int, String), Double] = {
    type Key = (Int, Int, String)
    // similarities per tag (compute_similarities, classifier.py:341-375)
    val simLists: Map[Key, Seq[(Key, Double)]] = (for {
      m <- mentions; tag <- m.tags
    } yield {
      val self: Seq[(Key, Double)] = Seq(((m.start, m.end, tag.qid), params.similaritySmoothing))
      val others = for {
        om <- mentions
        distance = math.max(m.start - om.end, om.start - m.end)
        if !(om.start == m.start && om.end == m.end) && distance <= params.maxSimilarityDistance
        ot <- om.tags
        sim0 = {
          val d1 = if (tag.qidNum == ot.qidNum || tag.edges.contains(ot.qidNum)) 1.0 else 0.0
          val d2 = if (ot.qidNum == tag.qidNum || ot.edges.contains(tag.qidNum)) 1.0 else 0.0
          (params.similaritySmoothing + d1 + d2) *
            (params.maxSimilarityDistance - distance).toDouble / params.maxSimilarityDistance
        }
        if sim0 > 0.0
      } yield ((om.start, om.end, ot.qid): Key, sim0)
      val all = self ++ others
      val s = all.map(_._2).sum
      ((m.start, m.end, tag.qid): Key) -> all.map { case (k, v) => (k, v / s) }
    }).toMap

    // base features + nb_steps propagation (classifier.py:262-308)
    var feats: Map[Key, Array[Double]] = (for (m <- mentions; t <- m.tags)
      yield ((m.start, m.end, t.qid): Key) ->
        Array(t.ll, t.rank, t.nbStatements.toDouble, t.nbSitelinks.toDouble, 1.0)).toMap
    var stacked: Map[Key, Array[Double]] = feats
    for (_ <- 1 to params.nbSteps) {
      // adj[dst, src] = w where dst appears in src's similarity list
      val next = scala.collection.mutable.Map[Key, Array[Double]]()
      for (k <- feats.keys) next(k) = Array.fill(5)(0.0)
      for ((src, lst) <- simLists; (dst, w) <- lst) {
        val f = feats(src)
        val acc = next(dst)
        var i = 0; while (i < 5) { acc(i) += w * f(i); i += 1 }
      }
      feats = next.toMap
      stacked = stacked.map { case (k, v) => k -> (v ++ feats(k)) }
    }
    stacked.map { case (k, x) =>
      val score = x.indices.map(i =>
        model.weights(i) * ((x(i) - model.mean(i)) / model.scale(i))).sum + model.intercept
      k -> score
    }
  }

  test("Spark scoring equals plain-Scala classifier semantics on real docs") {
    val a = Pipeline.artifacts(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 20)
    val tags = Mentions.candidates(
      Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow)
      .cache()

    // Spark path
    val edges = Scoring.similarityEdges(tags, params)
    val feats = Scoring.propagateFeatures(tags, edges, params)
    val sparkScores = feats
      .withColumn("score", Scoring.svmScore(model, params.nbSteps))
      .select("doc_id", "start", "end", "qid", "score")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)), r.getDouble(4)))
      .toMap

    // plain path, per doc
    val byDoc = tags.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("start"), r.getAs[Int]("end"),
        r.getAs[String]("qid"), r.getAs[Long]("qid_num"),
        Option(r.getAs[scala.collection.Seq[Int]]("edges")).getOrElse(Seq.empty).map(_.toLong).toSet,
        r.getAs[Double]("log_likelihood"), r.getAs[Double]("rank"),
        r.getAs[Int]("nb_statements"), r.getAs[Int]("nb_sitelinks")))
      .groupBy(_._1)

    assert(byDoc.nonEmpty)
    var checked = 0
    byDoc.foreach { case (doc, rows) =>
      val mentions = rows.groupBy(r => (r._2, r._3)).toSeq.map { case ((s, e), ts) =>
        PMention(s, e, ts.toSeq.sortBy(_._4).map(t =>
          PTag(t._4, t._5, t._6, t._7, t._8, t._9, t._10)))
      }
      val exp = plainScores(mentions)
      exp.foreach { case ((s, e, qid), score) =>
        val got = sparkScores((doc, s, e, qid))
        assert(math.abs(got - score) < 1e-9, s"doc=$doc span=($s,$e) qid=$qid")
        checked += 1
      }
    }
    assert(checked > 50, s"only $checked tags checked — corpus too thin?")
  }

  test("fused DocClassifier equals the declarative Scoring path") {
    val a = Pipeline.artifacts(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 40)
    val tags = Mentions.candidates(
      Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow).cache()
    // FusedAnnotate runs DocClassifier.scoreDoc; one pass per similarity
    // measure covers each of the kernel's branches
    for (simName <- Seq("direct_link", "edge_ratio", "one_step")) {
      val p = params.copy(similarity = simName, beta = 0.3)
      val best = Scoring.bestLinks(tags, p, model)
      val declarative = best
        .select("doc_id", "start", "end", "best_qid", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> (r.getString(3), r.getDouble(4)))
        .toMap
      best.unpersist(false)
      val fused = FusedAnnotate.annotate(docs, a, p, model)
        .select("doc_id", "start", "end", "best_qid", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> (r.getString(3), r.getDouble(4)))
        .toMap
      assert(fused.keySet == declarative.keySet, s"sim=$simName key sets differ")
      fused.foreach { case (k, (qid, score)) =>
        val (dq, ds) = declarative(k)
        assert(qid == dq, s"sim=$simName $k qid")
        assert(math.abs(score - ds) < 1e-9, s"sim=$simName $k score")
      }
      assert(fused.nonEmpty)
    }
    tags.unpersist(false)
  }

  test("bestLinks picks argmax with score > 0 and resolves 'merge' to Q8") {
    val a = Pipeline.artifacts(spark)
    val docs = Seq((0L, "merge join order the merge")).toDF("doc_id", "text")
    val tags = Mentions.candidates(
      Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow)
    val best = Scoring.bestLinks(tags, params, Scoring.defaultModel(params.nbSteps))
      .select("start", "end", "best_qid").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(best == Map((0, 10) -> "Q2", (11, 16) -> "Q20", (21, 26) -> "Q8"))
  }

  test("bestLinks releases every intermediate cache (round-2 leak)") {
    val a = Pipeline.artifacts(spark)
    val docs = Seq((0L, "merge join order the merge")).toDF("doc_id", "text")
    val tags = Mentions.candidates(
      Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow)
    val before = spark.sparkContext.getPersistentRDDs.size
    val best = Scoring.bestLinks(tags, params, Scoring.defaultModel(params.nbSteps))
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the (materialized) result may remain cached; tags, edges and the
    // per-step propagation frames must all be unpersisted
    assert(after <= before + 1, s"cached RDDs grew $before -> $after")
    best.unpersist(false)
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }
}
