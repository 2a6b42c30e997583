package graft.linkbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dict.DictSpec
import graft.text.TextOps

/** Seeded page-corpus generator. A page is a run of filler words with
  * dictionary surface forms mixed in; the workload shapes it through page
  * length, mention density and alias skew (a Zipf exponent over the
  * surfaces). The surfaces' rank order is fixed, so every seed draws the
  * same mix of hot and cold aliases and seeds differ only by sampling.
  *
  * Every page is a pure function of (seed, page id): the corpus is the same
  * however Spark splits the id range.
  */
object Gen {

  /** Page shape. Word counts are `minWords + (maxWords - minWords) * u^2`
    * (u uniform), so long pages form a tail; `density` is the chance that a
    * word slot holds a surface form instead of filler. */
  final case class Spec(minWords: Int, maxWords: Int, density: Double, zipf: Double)

  /** Every surface form of the engine's synthetic dictionary (labels,
    * aliases and extra aliases of the entities its profile keeps). */
  lazy val surfaces: Array[String] =
    DictSpec.expectedDict
      .flatMap(r => Seq(r.label) ++ r.aliases ++ r.extraAliases)
      .distinct.sorted.toArray

  private lazy val firstTokens: Set[String] =
    DictSpec.expectedDictKeys.map(_._1.split(' ').head).toSet

  /** Filler vocabulary: 400 pseudo-words that start no dictionary key, so
    * filler never reaches the dictionary probe. Fixed across seeds. */
  lazy val filler: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ner", "vo", "tas", "ul", "re", "dan",
      "pe", "zor", "qui", "bel", "sto", "ga", "rin", "hu", "yel", "fo", "ct")
    val rnd = new java.util.SplittableRandom(0x5eedL)
    Iterator.continually {
      (0 until 2 + rnd.nextInt(2)).map(_ => syl(rnd.nextInt(syl.length))).mkString
    }.filterNot(w => firstTokens(TextOps.normToken(w))).distinct.take(400).toArray
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The surfaces in Zipf rank order: a fixed shuffle, so the hottest
    * aliases are not simply the alphabetically first. */
  private lazy val ranked: Array[String] = {
    val a = surfaces.clone()
    val rnd = new java.util.SplittableRandom(0x51L)
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Draws pages for one seed: surfaces by the Zipf CDF over [[ranked]]. */
  final class Sampler(seed: Long, spec: Spec) extends Serializable {
    private val order = ranked
    private val cdf: Array[Double] = {
      val w = order.indices.map(r => 1.0 / math.pow(r + 1.0, spec.zipf))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val fill = filler

    def surface(u: Double): String = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      order(math.min(order.length - 1, if (i >= 0) i else -i - 1))
    }

    def page(id: Long): String = {
      val rnd = new java.util.SplittableRandom(mix(seed, id))
      val u = rnd.nextDouble()
      val words = spec.minWords + ((spec.maxWords - spec.minWords) * u * u).toInt
      val sb = new java.lang.StringBuilder(words * 8)
      var w = 0
      while (w < words) {
        if (w > 0) sb.append(if (rnd.nextInt(12) == 0) ". " else " ")
        if (rnd.nextDouble() < spec.density) {
          val s = surface(rnd.nextDouble())
          // a few title-cased surfaces: the tapioca analyzer is
          // case-sensitive, so these are near-misses for the probe
          if (rnd.nextInt(20) == 0) sb.append(s.capitalize) else sb.append(s)
        } else sb.append(fill(rnd.nextInt(fill.length)))
        w += 1
      }
      sb.toString
    }
  }

  /** Pages `idFrom until idTo` as a (doc_id, text) frame. */
  def pages(spark: SparkSession, spec: Spec, seed: Long, idFrom: Long,
      idTo: Long, slices: Int): DataFrame = {
    import spark.implicits._
    val sampler = new Sampler(seed, spec)
    spark.range(idFrom, idTo, 1L, slices).as[Long]
      .mapPartitions(_.map(id => (id, sampler.page(id))))
      .toDF("doc_id", "text")
  }
}
