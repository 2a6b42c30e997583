package graft.linkbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.link.{Mentions, Pairs, Scoring}

/** Expected outputs through the declarative paths, computed outside the
  * timed region: annotations via Mentions.extract -> Mentions.candidates ->
  * Scoring.bestLinks, pairs via Pairs.candidatePairsViaWindow, clusters via
  * a driver-side union-find. */
object Oracle {

  def annotations(docs: DataFrame, a: Pipeline.Artifacts): DataFrame = {
    val m = Mentions.extract(docs, a.dictKeys, a.maxKeyTokens, a.analyzer)
    Scoring.bestLinks(Mentions.candidates(m, a.dictKeys, a.entityDict, a.pagerank, a.bow),
      Scoring.Params(), Scoring.defaultModel())
  }

  def pairs(annotations: DataFrame): DataFrame = Pairs.candidatePairsViaWindow(annotations)

  /** Connected components over `edges` with every node of `nodes`; the
    * component id is the smallest node id reachable. */
  def unionFind(nodes: Iterator[Long], edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    nodes.foreach(n => parent.putIfAbsent(n, n))
    edges.foreach { case (s, d) =>
      parent.putIfAbsent(s, s); parent.putIfAbsent(d, d)
      val (x, y) = (find(s), find(d))
      if (x < y) parent.put(y, x) else if (y < x) parent.put(x, y)
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.iterator.map(n => n -> find(n)).toMap
  }

  /** Expected cluster frame (node, component) for linked mentions
    * `annotations` and their scored `pairs`. */
  def clusters(spark: SparkSession, annotations: DataFrame, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val nodes = annotations.select(Pairs.mentionIdCol).as[Long].collect()
    val edges = Pairs.sameEntityEdges(pairs).select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val nodeSet = nodes.toSet
    unionFind(nodes.iterator, edges.iterator).iterator
      .filter { case (n, _) => nodeSet(n) }.toSeq.toDF("node", "component")
  }
}
