package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.functions.JaroWinkler.jaroWinkler

/** Pairwise mention scoring at the blocking key (north_rule): mentions that
  * share a normalized-surface blocking key are candidate same-entity pairs,
  * scored with Jaro-Winkler + Levenshtein surface similarity and the linked
  * entity agreement.
  *
  * Scale design: a naive within-block self-join is quadratic in the hot
  * (Zipfian) keys — "scan" alone would produce 10^10 pairs at web scale. We
  * use sorted-neighborhood pairing inside each block: mentions are ordered
  * deterministically within their block (mention_id ~ doc_id, start) and
  * each mention is paired with its next `windowSize` neighbors — linear in
  * block size.
  *
  * Distribution: a plain `lead() over (partition by block_key)` puts the
  * hottest Zipfian block on ONE task (AQE skew splitting applies to joins,
  * not window partitions) — the round-1 scale killer. Instead we compute a
  * globally-dense per-block sequence number with `blockSeq` (range
  * partitioning + bounded local windows + tiny boundary prefix sums) and
  * form pairs as an equi-join on (block_key, seq + k), whose join keys are
  * unique — perfectly spreadable, no skew at any scale.
  */
object Pairs {

  val WindowSize = 2

  /** Largest doc_id whose mention ids (≤ (doc_id + 1) * 10^8) fit a Long. */
  val MaxMentionDocId = 92233720367L

  /** Stable numeric mention id: doc_id * 10^8 + start * 10^4 + end. It is
    * unique while 0 ≤ start < end ≤ 10^4 (the tagger text cap) and
    * 0 ≤ doc_id ≤ MaxMentionDocId; clusters are keyed by it, so a row
    * outside those bounds raises an error instead of colliding. */
  def mentionIdCol: Column = {
    val (doc, start, end) =
      (col("doc_id").cast("long"), col("start").cast("long"), col("end").cast("long"))
    val packable = doc.between(0L, MaxMentionDocId) && start >= 0L && start < end &&
      end <= 10000L
    when(!packable, raise_error(format_string("mention id out of range: doc_id=%s " +
      s"start=%s end=%s (need 0 <= start < end <= 10000, 0 <= doc_id <= $MaxMentionDocId)",
      doc, start, end)))
      .otherwise(doc * lit(100000000L) + start * lit(10000L) + end)
  }

  /** Globally-dense 1-based sequence number per block — semantically
    * `row_number() over (partition by block_key order by mention_id)` —
    * without ever materializing a block on a single task:
    *
    *   1. `repartitionByRange(block_key, mention_id)`: balanced partitions;
    *      each block occupies a CONTIGUOUS run of partitions;
    *   2. `row_number()` within (partition, block): every window partition
    *      is bounded by the range-partition size, never by block size;
    *   3. prefix-sum the per-(partition, block) counts per block: only
    *      blocks that span a partition boundary get a nonzero offset, and
    *      by contiguity there are at most `numPartitions` such rows —
    *      broadcast them back.
    *
    * The input must have a unique `mention_id` within each block (ids are
    * globally unique here).
    *
    * Materialization: the input and the range-partitioned frame are each
    * written ONCE to a scratch parquet snapshot and read back (the
    * north_rule's stage-checkpoint pattern). Round-2 used
    * persist + localCheckpoint instead, and that was the engine's
    * anti-scaling pathology: under AQE the range-sampling job, the shuffle
    * map stage and the eager-checkpoint job each raced to build the same
    * cached blocks, recomputing the whole upstream (annotate!) a
    * nondeterministic number of times — thread dumps at local[16] showed
    * 32 tasks re-running MapGroupsExec + columnar cache build inside the
    * "localCheckpoint" stage, 150 s of real work ballooning to
    * 735-3449 s CPU. A committed file snapshot has none of those races:
    * upstream executes exactly once, the sampling job reads parquet, and
    * the pid column is pinned as data, deterministic across every
    * downstream job. This is also the plan that survives executor loss on
    * a real cluster (localCheckpoint does not).
    */
  private[graft] def blockSeq(m0: DataFrame, numParts: Int,
      inputMaterialized: Boolean = false): DataFrame = {
    val spark = m0.sparkSession
    val dir = scratchDir(spark)
    // The m snapshot exists to make the input execute exactly once: the
    // range exchange below runs a SEPARATE sampling job over its child,
    // which would otherwise re-execute the whole upstream (annotate!) per
    // job. When the input is already materialized (candidatePairs over a
    // persisted frame, e.g. Pipeline.pairs' stage cache), the sampling job is a
    // cheap cache re-scan and the snapshot write+read is pure overhead —
    // skip it. The `part` snapshot below is NOT skippable in either mode:
    // it pins the pid column as data (two consumers + nondeterministic
    // range boundaries otherwise).
    val mIn =
      if (inputMaterialized) m0
      else {
        m0.write.mode("overwrite").parquet(s"$dir/m")
        spark.read.parquet(s"$dir/m")
      }
    // Scale-adaptive width: numParts is the caller's parallelism target for
    // corpus-sized inputs, but a small mention set (driver-contract queries)
    // pays ~numParts of pure per-task/per-file overhead in the range write,
    // the local windows and every downstream scan. The materialized input
    // makes the row count cheap (parquet footer metadata / cache stats), so
    // size the range partitioning to ~20k rows per partition, capped at the
    // caller's target — at pipeline scale rows/20k far exceeds numParts and
    // the behavior is unchanged.
    val mRows = mIn.count()
    val parts = math.max(4L, math.min(numParts.toLong, mRows / 20000L + 1L)).toInt
    mIn
      .repartitionByRange(parts, col("block_key"), col("mention_id"))
      .withColumn("pid", spark_partition_id())
      .write.mode("overwrite").parquet(s"$dir/part")
    // the m snapshot is fully consumed by the part write above — delete it
    // NOW instead of at JVM exit (tmpfs scratch; long-lived sessions were
    // accumulating two full copies per call, r3 ADVICE). The part snapshot
    // must outlive the returned (lazy) frame and stays until exit cleanup.
    if (!inputMaterialized) rmDir(s"$dir/m")
    val part = spark.read.parquet(s"$dir/part")
    val cnts = part.groupBy("pid", "block_key").agg(count(lit(1)).as("cnt"))
    val wOff = Window.partitionBy("block_key").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cnts
      .withColumn("off", sum(col("cnt")).over(wOff))
      .filter(col("off").isNotNull && col("off") > lit(0L))
      .select(col("pid"), col("block_key"), col("off"))
    val wLocal = Window.partitionBy("pid", "block_key").orderBy("mention_id")
    part
      .withColumn("rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offs), Seq("pid", "block_key"), "left")
      .withColumn("seq", coalesce(col("off"), lit(0L)) + col("rn"))
      .drop("pid", "rn", "off")
  }

  /** Per-call scratch directory for stage snapshots, on the Spark local
    * dir (tmpfs on this box). Unique per call: a lazily-consumed frame
    * from a previous call must never see its files overwritten. */
  private def scratchDir(spark: org.apache.spark.sql.SparkSession): String = {
    val base = spark.conf.getOption("spark.local.dir")
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val dir = s"$base/graft-stage/${java.util.UUID.randomUUID()}"
    cleanupOnExit(dir)
    dir
  }

  private[graft] def rmDir(d: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(d))
  }

  private lazy val exitCleanup: scala.collection.mutable.Buffer[String] = {
    val dirs = scala.collection.mutable.Buffer.empty[String]
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.foreach(rmDir)))
    dirs
  }

  private[graft] def cleanupOnExit(dir: String): Unit =
    exitCleanup.synchronized { exitCleanup += dir; () }

  /** Sorted-neighborhood candidate pairs within each blocking key.
    * Input: linked mentions (doc_id, start, end, surface, norm_key,
    * best_qid). Output: one row per pair with surface similarities and the
    * same_entity decision (= linked entity agreement). A persisted input
    * (a stage cache) is already materialized, so blockSeq skips its input
    * snapshot. */
  def candidatePairs(mentions: DataFrame, windowSize: Int = WindowSize): DataFrame = {
    val spark = mentions.sparkSession
    val m = mentions
      .withColumn("mention_id", mentionIdCol)
      // blocking key = first token of the normalized surface: coarse enough
      // that one block mixes different entities ("merge" / "merge join" /
      // "sort merge join" variants), the realistic record-linkage setup
      .withColumn("block_key", split(col("norm_key"), " ").getItem(0))
      .select("block_key", "mention_id", "surface", "best_qid")
    val ranked = blockSeq(m, spark.sparkContext.defaultParallelism * 2,
      inputMaterialized = mentions.storageLevel != StorageLevel.NONE)
    val left = ranked.select(
      col("block_key"), col("seq"),
      col("mention_id").as("id1"), col("surface").as("surface1"),
      col("best_qid").as("qid1"))
      .withColumn("k", explode(array((1 to windowSize).map(k => lit(k.toLong)): _*)))
      .withColumn("seq2", col("seq") + col("k"))
    val right = ranked.select(
      col("block_key"), col("seq").as("seq2"),
      col("mention_id").as("id2"), col("surface").as("surface2"),
      col("best_qid").as("qid2"))
    // pin shuffle-hash: both sides are mention-sized; a mis-estimated AQE
    // broadcast of the full mention table stalls the driver for minutes
    scorePairs(left.join(right.hint("shuffle_hash"), Seq("block_key", "seq2")))
  }

  /** Reference implementation of the same pairing via a per-block global
    * window — the semantic oracle for `candidatePairs` (PairsCcSpec pins
    * them equal). NOT scalable: the hottest block lands on one task. */
  private[graft] def candidatePairsViaWindow(
      mentions: DataFrame, windowSize: Int = WindowSize): DataFrame = {
    val m = mentions
      .withColumn("mention_id", mentionIdCol)
      .withColumn("block_key", split(col("norm_key"), " ").getItem(0))
    val w = Window.partitionBy(col("block_key")).orderBy(col("mention_id"))
    val withNext = (1 to windowSize).foldLeft(m) { (df, k) =>
      df.withColumn(s"next_id_$k", lead(col("mention_id"), k).over(w))
        .withColumn(s"next_surface_$k", lead(col("surface"), k).over(w))
        .withColumn(s"next_qid_$k", lead(col("best_qid"), k).over(w))
    }
    val pairCols = (1 to windowSize).map { k =>
      struct(col(s"next_id_$k").as("id2"), col(s"next_surface_$k").as("surface2"),
        col(s"next_qid_$k").as("qid2"))
    }
    scorePairs(withNext
      .select(col("block_key"), col("mention_id").as("id1"),
        col("surface").as("surface1"), col("best_qid").as("qid1"),
        explode(array(pairCols: _*)).as("p"))
      .filter(col("p.id2").isNotNull)
      .select(
        col("block_key"), col("id1"), col("p.id2").as("id2"),
        col("surface1"), col("p.surface2").as("surface2"),
        col("qid1"), col("p.qid2").as("qid2")))
  }

  /** Surface-similarity + linkage-agreement scoring of raw id pairs. */
  private def scorePairs(pairs: DataFrame): DataFrame =
    pairs
      .select(col("block_key"), col("id1"), col("id2"),
        col("surface1"), col("surface2"), col("qid1"), col("qid2"))
      .withColumn("lev", levenshtein(col("surface1"), col("surface2")))
      .withColumn("jw", round(jaroWinkler(col("surface1"), col("surface2")), 6))
      .withColumn("same_entity",
        col("qid1").isNotNull && col("qid2").isNotNull && col("qid1") === col("qid2"))

  /** same-entity edges for transitive clustering. */
  def sameEntityEdges(pairs: DataFrame): DataFrame =
    pairs.filter(col("same_entity"))
      .select(col("id1").as("src"), col("id2").as("dst"))

  /** Pairwise precision/recall/F1 of predicted same_entity labels vs gold
    * labels over the SAME pair universe (the gate in BASELINE.json). */
  def pairwiseF1(pairs: DataFrame, goldCol: String): (Double, Double, Double) = {
    val r = pairs.agg(
      sum(when(col("same_entity") && col(goldCol), 1L).otherwise(0L)).as("tp"),
      sum(when(col("same_entity") && !col(goldCol), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("same_entity") && col(goldCol), 1L).otherwise(0L)).as("fn"))
      .head()
    val tp = r.getLong(0).toDouble
    val fp = r.getLong(1).toDouble
    val fn = r.getLong(2).toDouble
    val p = if (tp + fp > 0) tp / (tp + fp) else 1.0
    val rec = if (tp + fn > 0) tp / (tp + fn) else 1.0
    val f1 = if (p + rec > 0) 2 * p * rec / (p + rec) else 0.0
    (p, rec, f1)
  }
}
