package graft.perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Seeded page-corpus generator.
  *
  * The distributions are those of the sf0.1 `documents.parquet` fixture
  * (5000 docs), measured once and frozen here by `derive_stats.py`:
  * the token unigram counts, the doc length histogram in tokens, and the
  * lang mix. The engine only ever sees the generated documents, fed
  * through `graft.sources.Pages.derive`.
  *
  * Every document is a pure function of (seed, doc_id, lenScale), so a
  * corpus does not depend on partitioning and a crawl that re-reads a
  * doc_id re-reads the same page.
  */
object Corpus {

  /** Token → occurrences in sf0.1 (all 31 distinct tokens). */
  val wordCounts: Seq[(String, Int)] = Seq(
    "spark" -> 9182, "window" -> 9159, "merge" -> 9157, "table" -> 9144,
    "column" -> 9127, "vector" -> 9119, "stream" -> 9117, "value" -> 9112,
    "data" -> 9104, "small" -> 9100, "join" -> 9080, "filter" -> 9063,
    "big" -> 9057, "group" -> 9040, "hash" -> 9024, "customer" -> 9017,
    "sort" -> 9005, "order" -> 8971, "slow" -> 8960, "line" -> 8951,
    "part" -> 8929, "fast" -> 8926, "row" -> 8925, "the" -> 8925,
    "agg" -> 8912, "key" -> 8893, "query" -> 8881, "a" -> 8877,
    "scan" -> 8863, "batch" -> 8829, "dup" -> 255)

  /** Doc length in tokens (10..100) → docs of that length in sf0.1. */
  val lengthCounts: Seq[(Int, Int)] = (10 to 100).zip(Seq(
    51, 49, 59, 48, 62, 40, 53, 65, 55, 60, 45, 71, 51, 53, 60, 70, 50, 56,
    64, 55, 59, 40, 56, 48, 61, 54, 51, 60, 59, 65, 65, 70, 55, 63, 63, 59,
    58, 55, 61, 43, 61, 42, 59, 50, 50, 52, 56, 67, 66, 50, 52, 41, 55, 54,
    60, 54, 60, 65, 62, 51, 57, 61, 62, 51, 62, 50, 42, 67, 47, 58, 90, 48,
    54, 45, 49, 55, 55, 55, 54, 56, 56, 44, 58, 56, 52, 38, 45, 54, 48, 58, 4))

  /** Lang → docs in sf0.1. */
  val langCounts: Seq[(String, Int)] =
    Seq("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)

  /** Inverse-CDF sampler over integer weights. */
  final class Sampler[T](items: Seq[(T, Int)]) extends Serializable {
    private val values: Array[Any] = items.map(_._1).toArray
    private val cum: Array[Long] = items.map(_._2.toLong).scanLeft(0L)(_ + _).tail.toArray
    def draw(rng: SplittableRandom): T = {
      val x = rng.nextLong(cum.last)
      var lo = 0
      var hi = cum.length - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cum(mid) > x) hi = mid else lo = mid + 1 }
      values(lo).asInstanceOf[T]
    }
  }

  private val words = new Sampler(wordCounts)
  private val lengths = new Sampler(lengthCounts)
  private val langs = new Sampler(langCounts)

  private def rngFor(seed: Long, docId: Long): SplittableRandom =
    new SplittableRandom(XXH64.hashLong(docId, seed))

  /** (text, lang) of one document. `lenScale` multiplies the sampled
    * length: 1 gives sf0.1's short pages (~54 tokens), 37 gives ~2,000. */
  def doc(seed: Long, docId: Long, lenScale: Int): (String, String) = {
    val rng = rngFor(seed, docId)
    val lang = langs.draw(rng)
    val n = lengths.draw(rng) * lenScale
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(words.draw(rng))
      i += 1
    }
    (sb.toString, lang)
  }

  /** Docs [first, first + n) as (doc_id, text, lang), the input columns of
    * `Pages.derive`. */
  def frame(spark: SparkSession, seed: Long, first: Long, n: Long,
            lenScale: Int, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(first, first + n, 1, parts).as[Long]
      .map { id => val (t, l) = doc(seed, id, lenScale); (id, t, l) }
      .toDF("doc_id", "text", "lang")
  }

  /** Order-independent digest of docs [first, first + n): the doc count and
    * the wrapping sum of xxhash64 over (doc_id, text, lang). */
  def digest(seed: Long, first: Long, n: Long, lenScale: Int): String = {
    var sum = 0L
    var id = first
    while (id < first + n) {
      val (t, l) = doc(seed, id, lenScale)
      val h = XXH64.hashUTF8String(UTF8String.fromString(t + "\u0000" + l), id)
      sum += h
      id += 1
    }
    s"$n:$sum"
  }
}
