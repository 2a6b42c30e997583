package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dict.DictSpec
import graft.link.{Mentions, Scoring, Trainer}

class TrainerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val params = Scoring.Params()

  /** gold = extracted spans labeled with the planted surface->entity map. */
  def goldFor(tags: org.apache.spark.sql.DataFrame) = {
    val goldMap = DictSpec.goldQidByKey
    val goldUdf = udf { s: String => goldMap.get(s) }
    tags.select("doc_id", "start", "end", "surface").distinct()
      .withColumn("qid", goldUdf(col("surface")))
      .filter(col("qid").isNotNull)
      .select("doc_id", "start", "end", "qid")
  }

  test("LinearSVC training learns to rank the planted gold entity first") {
    val a = Pipeline.artifacts(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 120)
    val tags = Mentions.candidates(
      Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow)
      .persist()
    val gold = goldFor(tags).persist()

    val model = Trainer.train(tags, gold, params, c = 0.01, maxIter = 50)
    assert(model.weights.length == 15)

    val best = Scoring.bestLinks(tags, params, model)
    val (p, r, f1) = Trainer.evaluate(best, gold)
    info(f"trained model: precision=$p%.4f recall=$r%.4f f1=$f1%.4f")
    assert(f1 >= 0.95, f"trained model f1 too low: $f1%.4f")

    // the trained model must also resolve the ambiguous 'merge' key to Q8
    val mergeBest = best.filter(col("surface") === "merge")
      .select("best_qid").distinct().as[String].collect().toSet
    assert(mergeBest == Set("Q8"))

    // model sink: save as a parquet table, load back, serve identically
    val dir = java.nio.file.Files.createTempDirectory("graft_svm").toString + "/svm"
    Scoring.saveModel(spark, model, dir)
    val loaded = Scoring.loadModel(spark, dir)
    assert(loaded.weights.toSeq == model.weights.toSeq)
    assert(loaded.mean.toSeq == model.mean.toSeq)
    assert(loaded.scale.toSeq == model.scale.toSeq)
    assert(loaded.intercept == model.intercept)
  }

  test("frozen trainedModel reproduces a fresh training run's predictions") {
    val a = Pipeline.artifacts(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 120)
    val tags = Mentions.candidates(
      Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow)
      .persist()
    val gold = goldFor(tags).persist()

    // the frozen literals must themselves hit the F1 gate on the gold
    val frozen = Scoring.trainedModel()
    val bestFrozen = Scoring.bestLinks(tags, params, frozen)
    val (_, _, f1Frozen) = Trainer.evaluate(bestFrozen, gold)
    assert(f1Frozen >= 0.99, f"frozen model f1: $f1Frozen%.4f")

    // and a fresh spark.ml training run (same recipe as TrainFreeze) must
    // reproduce the frozen model's predictions link-for-link
    val fresh = Trainer.train(tags, gold, params, c = 0.01, maxIter = 50)
    val predFrozen = bestFrozen
      .select("doc_id", "start", "end", "best_qid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getString(3)).toMap
    val predFresh = Scoring.bestLinks(tags, params, fresh)
      .select("doc_id", "start", "end", "best_qid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getString(3)).toMap
    assert(predFresh === predFrozen)
    tags.unpersist(); gold.unpersist()
  }

  test("committed model sink equals the frozen oracle literals") {
    // el_annotate_trained serves models/trained_svm through loadModel while
    // its DuckDB oracle inlines Scoring.trainedModel() — this pin is what
    // makes that split sound
    val committed = Scoring.loadModel(spark, Pipeline.trainedModelPath)
    val frozen = Scoring.trainedModel()
    assert(committed.weights.toSeq == frozen.weights.toSeq)
    assert(committed.mean.toSeq == frozen.mean.toSeq)
    assert(committed.scale.toSeq == frozen.scale.toSeq)
    assert(committed.intercept == frozen.intercept)
  }

  test("crossfit scores the grid by k-fold F1 and retrains the winner") {
    val a = Pipeline.artifacts(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 60)
    val tags = Mentions.candidates(
      Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow).persist()
    val gold = goldFor(tags).persist()
    tags.count(); gold.count()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val grid = Seq(
      Scoring.Params(nbSteps = 1),
      Scoring.Params(nbSteps = 2, similarity = "edge_ratio"))
    val (bestP, bestF1, model, scores) =
      Trainer.crossfit(tags, gold, grid, k = 2, c = 0.01, maxIter = 20)
    assert(scores.size == 2)
    assert(scores.map(_._2).forall(f => f >= 0.0 && f <= 1.0))
    assert(bestF1 === scores.map(_._2).max)
    assert(grid.contains(bestP))
    assert(model.weights.length == 5 * (bestP.nbSteps + 1))
    // every fold's best-link frame and training cache is released
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
    gold.unpersist(); tags.unpersist()
  }

  test("train rejects a one-class fold with a clear message") {
    // two mentions, one candidate each; gold decides every label
    val tags = Seq(
      (1L, 0, 4, "Q1", 1L, Seq(2), -3.0, 20.0, 2, 10),
      (1L, 10, 14, "Q2", 2L, Seq(1), -4.0, 18.0, 3, 12))
      .toDF("doc_id", "start", "end", "qid", "qid_num", "edges",
        "log_likelihood", "rank", "nb_statements", "nb_sitelinks")
    def trainWith(gold: Seq[(Long, Int, Int, String)]) =
      intercept[IllegalArgumentException] {
        Trainer.train(tags, gold.toDF("doc_id", "start", "end", "qid"), params)
      }.getMessage
    assert(trainWith(Seq((1L, 0, 4, "Q1"), (1L, 10, 14, "Q2")))
      .contains("no negative samples"))
    assert(trainWith(Seq((1L, 0, 4, "Q9"), (1L, 10, 14, "Q9")))
      .contains("no positive samples"))
  }

  test("evaluate matches reference P/R/F1 arithmetic on a crafted case") {
    val best = Seq(
      (1L, 0, 4, "Q1"), // correct
      (1L, 5, 9, "Q2"), // wrong qid
      (2L, 0, 4, "Q3") // no gold -> false positive
    ).toDF("doc_id", "start", "end", "best_qid")
    val gold = Seq(
      (1L, 0, 4, "Q1"),
      (1L, 5, 9, "Q9"),
      (3L, 0, 4, "Q7") // gold mention never predicted
    ).toDF("doc_id", "start", "end", "qid")
    val (p, r, f1) = Trainer.evaluate(best, gold)
    assert(math.abs(p - 1.0 / 3) < 1e-12)
    assert(math.abs(r - 1.0 / 3) < 1e-12)
    assert(math.abs(f1 - 1.0 / 3) < 1e-12)
  }
}
