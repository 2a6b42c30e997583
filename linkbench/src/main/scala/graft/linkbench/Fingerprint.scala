package graft.linkbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent fingerprint of a frame: its row count plus the sums of
  * the high and low 32-bit halves of a 64-bit hash over every column (kept
  * as two sums so neither can overflow). Equal frames up to row order and
  * partitioning give equal fingerprints. */
final case class Fp(rows: Long, hi: Long, lo: Long) {
  override def toString: String = s"$rows:$hi:$lo"
}

object Fingerprint {

  private def rowHash(df: DataFrame, except: String = ""): Column =
    xxhash64(df.columns.filter(_ != except).map(col): _*)

  def of(df: DataFrame): Fp = {
    val h = rowHash(df)
    val r = df.agg(count(lit(1)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One fingerprint per value of the long column `key`, which is not
    * hashed. */
  def byKey(df: DataFrame, key: String): Map[Long, Fp] = {
    val h = rowHash(df, key)
    df.groupBy(col(key)).agg(count(lit(1)),
      sum(shiftrightunsigned(h, 32)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))))
      .collect().map(r => r.getLong(0) -> Fp(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  // Canonical column order and types per committed output, so the
  // production path and its declarative check hash the same row shape.
  // Columns named in `keep` ride along unchanged (a fingerprint key).

  def annotations(df: DataFrame, keep: String*): DataFrame = df.select(Seq(
    col("doc_id").cast("long"), col("start").cast("int"), col("end").cast("int"),
    col("surface"), col("norm_key"), col("best_qid"), col("best_label"),
    col("log_likelihood").cast("double"), col("score").cast("double")) ++ keep.map(col): _*)

  def pairs(df: DataFrame, keep: String*): DataFrame = df.select(Seq(
    col("block_key"), col("id1").cast("long"), col("id2").cast("long"),
    col("surface1"), col("surface2"), col("qid1"), col("qid2"),
    col("lev").cast("int"), col("jw").cast("double"), col("same_entity")) ++ keep.map(col): _*)

  def clusters(df: DataFrame, keep: String*): DataFrame =
    df.select(Seq(col("node").cast("long"), col("component").cast("long")) ++ keep.map(col): _*)
}
