package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler
import graft.link.{ConnectedComponents, Pairs}
import graft.dict.DictSpec

class PairsCcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The path 1 - 2 - … - n with ids under a fixed pseudorandom permutation
    * of 1..n: no id locality for the contraction to exploit. */
  private def permutedPath(n: Int): Seq[(Long, Long)] = {
    val id = new scala.util.Random(7).shuffle((1 to n).map(_.toLong)).toIndexedSeq
    (0 until n - 1).map(i => (id(i), id(i + 1)))
  }

  /** Reference components: sequential union-find, component = min id. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def withGate[T](gate: Option[String])(body: => T): T = {
    gate.foreach(spark.conf.set("spark.graft.cc.localSolveEdges", _))
    try body finally spark.conf.unset("spark.graft.cc.localSolveEdges")
  }

  private def components(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("jaro-winkler matches the classic published goldens") {
    assert(math.abs(JaroWinkler.similarity("MARTHA", "MARHTA") - 0.9611111111) < 1e-9)
    assert(math.abs(JaroWinkler.similarity("DWAYNE", "DUANE") - 0.84) < 1e-9)
    assert(math.abs(JaroWinkler.similarity("DIXON", "DICKSONX") - 0.8133333333) < 1e-9)
    assert(JaroWinkler.similarity("same", "same") == 1.0)
    assert(JaroWinkler.similarity("abc", "xyz") == 0.0)
  }

  test("jaro-winkler as Catalyst expression inside a plan") {
    val df = Seq(("MARTHA", "MARHTA"), ("abc", "abc")).toDF("a", "b")
      .select(JaroWinkler.jaroWinkler(col("a"), col("b")).as("jw"))
    val got = df.collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 0.9611111111) < 1e-9)
    assert(got(1) == 1.0)
  }

  test("connected components on a crafted graph") {
    // components: {1,2,3,7}, {4,5}, isolated {9}
    val edges = Seq((2L, 1L), (3L, 2L), (7L, 3L), (5L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L).toDF("node")
    val got = ConnectedComponents.runWithIsolated(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("connected components on a long path (log-round convergence)") {
    val n = 64
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val got = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.toSet == Set(1L))
  }

  // gates: the distributed loop on the contracted graph, the driver solve
  // of the contracted graph, and the default (straight to the driver)
  private val gates = Seq(Some("0"), Some("50"), None)

  private def matchesUnionFindAtEveryGate(edges: Seq[(Long, Long)]): Unit = {
    val want = unionFind(edges)
    for (gate <- gates) withGate(gate) {
      assert(components(ConnectedComponents.run(spark, edges.toDF("src", "dst"))) == want,
        s"gate $gate")
    }
  }

  test("CC local union-find endgame == distributed loop on a random graph") {
    // deterministic random graph: mixes chains, stars and isolated pairs;
    // random endpoints leave no id locality for the contraction
    val rnd = new scala.util.Random(42)
    val edges = Seq.tabulate(4000) { i =>
      val a = rnd.nextInt(1500).toLong
      val b = rnd.nextInt(1500).toLong
      (a + 1, b + 1)
    }.filter { case (a, b) => a != b }
    matchesUnionFindAtEveryGate(edges)
  }

  test("CC loop resumes from committed snapshots after a mid-run kill") {
    // north_rule: "resumable from checkpoint with per-partition lineage +
    // metrics". Kill = a run bounded to too few rounds (its committed
    // snapshots survive, like a crashed driver's would); the rerun must
    // pick up at the committed round, not round 0, and still converge to
    // the same components as an un-checkpointed fresh run. The path's ids
    // are permuted: an id-ordered path contracts to a few edges and
    // converges within the two rounds.
    val n = 4096
    val edges = permutedPath(n).toDF("src", "dst")
    val root = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    intercept[IllegalArgumentException] {
      ConnectedComponents.run(spark, edges, maxRounds = 2,
        ckptRoot = Some(root), ckptEvery = 1)
    }
    val committed = graft.ckpt.Snapshots.latest(spark, root, "cc_rounds")
    assert(committed.nonEmpty, "the killed run left no committed snapshot")
    assert(committed.get._2.inputs(1) == "round:2")
    assert(committed.get._2.rows > 0) // per-partition counters were recorded

    val executed = scala.collection.mutable.Buffer.empty[Int]
    val resumed = ConnectedComponents.run(spark, edges,
      ckptRoot = Some(root), ckptEvery = 1, onRound = executed += _)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the resumed run continued AFTER the committed prefix
    assert(executed.nonEmpty && executed.head == 3,
      s"expected resume at round 3, executed rounds: $executed")
    assert(resumed.size == n)
    assert(resumed.values.toSet == Set(1L))
    // and equals a fresh, un-checkpointed run
    val fresh = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == fresh)
    graft.link.Pairs.rmDir(root)
  }

  test("CC contraction == union-find on a sorted-neighborhood-shaped graph") {
    // mention ids are doc-major; each block links every id to its next two
    // block neighbours in id order when they share an entity
    val rnd = new scala.util.Random(11)
    val mentions = (0 until 3000).map { i =>
      (rnd.nextInt(25), (i / 10).toLong * 100000000L + (i % 10) * 10000L + 5, rnd.nextInt(3))
    }
    val edges = mentions.groupBy(_._1).values.toSeq.flatMap { b =>
      val sorted = b.sortBy(_._2).toIndexedSeq
      for {
        i <- sorted.indices; k <- 1 to 2 if i + k < sorted.size
        if sorted(i)._3 == sorted(i + k)._3
      } yield (sorted(i)._2, sorted(i + k)._2)
    }
    matchesUnionFindAtEveryGate(edges)
  }

  test("CC contraction: duplicate, reversed and self-loop edges, isolated nodes") {
    val chain = (1L until 400L).map(i => (i, i + 1))
    val edges = chain ++ chain.take(50) ++ chain.map(_.swap).drop(100) ++
      Seq((7L, 7L), (1000L, 1000L), (900L, 950L), (950L, 900L), (950L, 925L))
    val nodes = (1L to 1100L).toDF("node")
    val linked = unionFind(edges.filter { case (a, b) => a != b })
    val want = (1L to 1100L).map(n => n -> linked.getOrElse(n, n)).toMap
    for (gate <- gates) withGate(gate) {
      val got = components(ConnectedComponents.runWithIsolated(
        spark, nodes, edges.toDF("src", "dst")))
      assert(got == want, s"gate $gate")
    }
  }

  test("CC star rounds: id-ordered path <= 2, permuted path <= 8") {
    def rounds(edges: Seq[(Long, Long)]): Int = withGate(Some("0")) {
      var last = 0
      val got = components(ConnectedComponents.run(spark, edges.toDF("src", "dst"),
        onRound = r => last = r))
      assert(got.size == 4096 && got.values.toSet == Set(1L))
      last
    }
    val ordered = rounds((1 until 4096).map(i => (i.toLong, i + 1L)))
    assert(ordered <= 2, s"id-ordered path took $ordered rounds")
    val permuted = rounds(permutedPath(4096))
    info(s"star rounds: id-ordered $ordered, permuted $permuted")
    assert(permuted <= 8, s"permuted path took $permuted rounds")
  }

  test("mention id packing: inside its bounds, else a clear error") {
    def id(doc: Long, start: Int, end: Int): Long =
      Seq((doc, start, end)).toDF("doc_id", "start", "end")
        .select(Pairs.mentionIdCol).head().getLong(0)
    def rejected(doc: Long, start: Int, end: Int): Unit = {
      val e = intercept[Exception](id(doc, start, end))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("mention id out of range")), s"($doc, $start, $end): $e")
    }
    val maxDoc = Pairs.MaxMentionDocId
    assert(id(0L, 0, 1) == 1L)
    assert(id(3L, 12, 13) == 300120013L)
    assert(id(5L, 9999, 10000) == 600000000L)
    assert(id(maxDoc, 9999, 10000) == 9223372036800000000L)
    rejected(-1L, 0, 1)
    rejected(maxDoc + 1, 0, 1)
    rejected(0L, -1, 1)
    rejected(0L, 5, 5)
    rejected(0L, 0, 10001)
  }

  test("blockSeq == row_number over (block order by id), even with skew") {
    // one hot block (700 rows), several cold ones, ids deliberately shuffled
    val rows = scala.util.Random.shuffle(
      (1 to 700).map(i => ("hot", i.toLong * 7)) ++
        (1 to 13).map(i => ("cold", i.toLong * 3)) ++
        Seq(("x", 5L), ("y", 11L)))
    val m = rows.toDF("block_key", "mention_id")
      .withColumn("surface", col("block_key"))
      .withColumn("best_qid", lit("Q1"))
    val got = graft.link.Pairs.blockSeq(m, 8)
      .select("block_key", "mention_id", "seq")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = rows.groupBy(_._1).flatMap { case (b, rs) =>
      rs.map(_._2).sorted.zipWithIndex.map { case (id, i) => (b, id) -> (i + 1L) }
    }
    assert(got == want)
  }

  test("distributed candidatePairs == window-oracle candidatePairs") {
    val best = Pipeline.annotate(spark, "/root/testdata/sf0.001")
    // the stage cache is persisted, so blockSeq skips its input snapshot;
    // the filtered view is not, so it takes the snapshot path
    val unpersisted = best.filter(lit(true))
    assert(best.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(unpersisted.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("block_key", "id1", "id2", "surface1", "surface2", "qid1",
        "qid2", "lev", "jw", "same_entity")
        .collect().map(_.toSeq).toSet
    val dist = key(Pairs.candidatePairs(best))
    val win = key(Pairs.candidatePairsViaWindow(best))
    assert(dist.nonEmpty)
    assert(dist == win)
    assert(key(Pairs.candidatePairs(unpersisted)) == win)
  }

  test("GATE: pairwise F1 >= 0.99 vs gold mention-pair labels at the blocking key") {
    val pairs = Pipeline.pairs(spark, "/root/testdata/sf0.001").cache()
    assert(pairs.count() > 100)

    // gold: the planted surface -> entity mapping (DictSpec.goldQidByKey);
    // a pair is gold-same iff both mentions' surfaces map to the same entity
    val goldMap = DictSpec.goldQidByKey
    val goldUdf = udf { (s1: String, s2: String) =>
      (goldMap.get(s1), goldMap.get(s2)) match {
        case (Some(a), Some(b)) => a == b
        case _ => false
      }
    }
    val withGold = pairs
      .withColumn("gold_same", goldUdf(col("surface1"), col("surface2")))
    val (p, r, f1) = Pairs.pairwiseF1(withGold, "gold_same")
    info(f"pairwise precision=$p%.4f recall=$r%.4f f1=$f1%.4f")
    assert(f1 >= 0.99, f"pairwise F1 gate failed: $f1%.4f")

    // the evaluation is non-degenerate: both classes present
    val counts = withGold.groupBy("gold_same").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(true, 0L) > 0 && counts.getOrElse(false, 0L) > 0,
      s"gold labels degenerate: $counts")
  }

  test("clusters: all mentions of one entity land in one component") {
    val docs = Seq(
      (0L, "spark stream merge"),
      (1L, "the spark is big"),
      (2L, "spark table scan")).toDF("doc_id", "text")
    val a = Pipeline.artifacts(spark)
    val tags = graft.link.Mentions.candidates(
      graft.link.Mentions.extract(docs, a.dictKeys, a.maxKeyTokens),
      a.dictKeys, a.entityDict, a.pagerank, a.bow)
    val best = graft.link.Scoring.bestLinks(tags, graft.link.Scoring.Params(),
      graft.link.Scoring.defaultModel())
    val linked = best.withColumn("mention_id", Pairs.mentionIdCol)
    val edges = Pairs.sameEntityEdges(Pairs.candidatePairs(best))
    val comp = ConnectedComponents.runWithIsolated(
      spark, linked.select("mention_id"), edges)
    val byMention = linked.select(col("mention_id"), col("best_qid"))
      .join(comp, col("mention_id") === col("node"))
      .collect().map(r => r.getAs[String]("best_qid") -> r.getAs[Long]("component"))
    val sparkComponents = byMention.filter(_._1 == "Q6").map(_._2).toSet
    assert(sparkComponents.size == 1, s"spark mentions split: $byMention")
  }
}
