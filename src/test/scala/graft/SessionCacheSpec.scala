package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import graft.link.Mentions

class SessionCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A one-page corpus in the layout Pipeline reads. */
  lazy val sf: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_session_cache").toString
    graft.link.Pairs.cleanupOnExit(dir)
    Seq((0L, "merge join order the merge")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("nested builds run each builder once across repeated calls") {
    var outerBuilds = 0
    var innerBuilds = 0
    def inner = SessionCache(spark, "spec_inner") { innerBuilds += 1; 21 }
    def outer = SessionCache(spark, "spec_outer") { outerBuilds += 1; inner * 2 }
    assert(Seq.fill(3)(outer) == Seq(42, 42, 42))
    assert(inner == 21)
    assert(outerBuilds == 1 && innerBuilds == 1)

    // the production nesting: mentions -> docsWide and artifacts -> the
    // first-token filter, all built inside the outer build
    val mentions = Pipeline.mentions(spark, sf)
    assert(mentions.count() > 0)
    val a = Pipeline.artifacts(spark)
    val filter = Mentions.firstTokenFilter(a.dictKeys)
    val docs = Pipeline.docsWide(spark, sf)
    for (_ <- 1 to 2) {
      assert(Pipeline.mentions(spark, sf) eq mentions)
      assert(Pipeline.artifacts(spark) eq a)
      assert(Mentions.firstTokenFilter(a.dictKeys) eq filter)
      assert(Pipeline.docsWide(spark, sf) eq docs)
    }
  }

  test("put pre-seeds a value; drop removes it") {
    SessionCache.put(spark, "spec_seeded", "seeded")
    assert(SessionCache[String](spark, "spec_seeded")(fail("builder ran")) == "seeded")
    assert(SessionCache.drop(spark)(_ == "spec_seeded") == Seq("seeded"))
    assert(SessionCache(spark, "spec_seeded")("rebuilt") == "rebuilt")
  }

  test("application end drops the context's entries; a rebuild then works") {
    val a = Pipeline.artifacts(spark)
    // release the stage frames the hook would otherwise orphan in the
    // suite-wide session
    SessionCache.drop(spark)(_ => true)
      .foreach { case df: Dataset[_] => df.unpersist(false); case _ => }
    Pipeline.primeArtifacts(spark, a)
    var builds = 0
    def value = SessionCache(spark, "spec_app") { builds += 1; builds }
    assert(value == 1 && value == 1)

    SessionCache.applicationEnded(spark.sparkContext)
    assert(SessionCache[String](spark, "artifacts")("gone") == "gone")
    assert(value == 2 && value == 2)

    // leave the suite-wide session with its artifacts
    Pipeline.primeArtifacts(spark, a)
    assert(Pipeline.artifacts(spark) eq a)
  }
}
