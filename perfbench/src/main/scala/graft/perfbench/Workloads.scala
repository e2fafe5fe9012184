package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.eval.Evaluator
import graft.pipeline._
import graft.sources.Pages

/** An output check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Checks {
  def require(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Order-independent digest of a result table: its row count and the sum
    * of xxhash64 over the key columns (as an exact decimal, so it cannot
    * overflow). Equal tables give equal digests whatever their order. */
  def digest(df: DataFrame, keys: Seq[String]): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(keys.map(col): _*).cast("decimal(38,0)")))
      .first()
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$s"
  }

  /** Non-blank manifest lines. */
  def manifestLines(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.toSeq.filter(_.trim.nonEmpty)

  /** Data files a sink wrote below `dir`: (file count, total bytes). */
  def dataFiles(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val fs = s.iterator.asScala.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }
}

/** One timed call of a workload's production entry point. */
final case class Rep(wallS: Double, docs: Long, triples: Long, digest: String)

/** Times `body` under a job group, so the listener can attribute the Spark
  * counters of the jobs it starts. */
final class Tracer(spark: SparkSession) {
  val walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def apply[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try body
    finally {
      walls(group) = walls.getOrElse(group, 0.0) + (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
    }
  }
}

/** A benchmark workload: inputs made from a seed, the production call, its
  * output check, and the same call decomposed into its layers. */
trait Workload {
  def name: String
  /** Untimed warm-up calls in the set-up. The first calls of a JVM are
    * markedly slower than the later ones (JIT), so timing starts once they
    * have run. */
  def warmups: Int
  /** Generates the seeded inputs into `dir`. */
  def materialize(spark: SparkSession, seed: Long, dir: Path, parts: Int): Unit
  /** One production call into a fresh `out`, then its output check; with a
    * tracer the call runs as its `run` layer. */
  def runOnce(spark: SparkSession, dir: Path, out: Path, tr: Option[Tracer]): Rep
  /** The call's layers, each timed from outside with a materialized
    * boundary. Returns the digest of the composed output and the layer
    * rows/ratios; wall times go to `tr`. */
  def compose(spark: SparkSession, dir: Path, out: Path, tr: Tracer): (String, Map[String, Double])
}

/** `TripleExtraction.run` over one generated corpus. */
final class Extraction(val name: String, nDocs: Long, lenScale: Int,
                       inject: Boolean, goldPercent: Int, val warmups: Int) extends Workload {

  private val Keys = Seq("doc_id", "subj", "pred", "obj")
  private val DoneLine = """^\{"bucket":(\d+),"status":"done","n_triples":(\d+),"wall_ms":(\d+)\}$""".r
  private val MetricsLine = """^\{"status":"metrics",.*\}$""".r

  private def docs(spark: SparkSession, dir: Path) = spark.read.parquet(s"$dir/docs")
  private def gold(spark: SparkSession, dir: Path) =
    if (goldPercent > 0) Some(spark.read.parquet(s"$dir/gold")) else None

  def materialize(spark: SparkSession, seed: Long, dir: Path, parts: Int): Unit = {
    Corpus.frame(spark, seed, 0, nDocs, lenScale, parts)
      .write.mode("overwrite").parquet(s"$dir/docs")
    // the audit slice: a seeded ~goldPercent% of the docs, labelled with the
    // rule kernel's own predictions
    if (goldPercent > 0) {
      val slice = Pages.derive(docs(spark, dir)
        .filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(100)) < goldPercent))
      RelationScorer.extractKernelFused(slice, spark).select(Keys.map(col): _*).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/gold")
    }
  }

  /** Bucket wall times from the run's lineage manifest, after checking it:
    * exactly one done line per bucket, plus one metrics line with a gold
    * slice, and nothing else. */
  def lineage(out: Path): Seq[(Int, Long, Long)] = {
    val lines = Checks.manifestLines(out.resolve("_lineage.jsonl"))
    val done = lines.collect { case DoneLine(b, n, w) => (b.toInt, n.toLong, w.toLong) }
    val metrics = lines.count(MetricsLine.pattern.matcher(_).matches)
    Checks.require(done.size == TripleExtraction.NumBuckets &&
      done.map(_._1).sorted == (0 until TripleExtraction.NumBuckets),
      s"$name: manifest has ${done.size} done lines, want one per bucket")
    Checks.require(metrics == (if (goldPercent > 0) 1 else 0) && done.size + metrics == lines.size,
      s"$name: manifest has unexpected lines")
    done.sortBy(_._1)
  }

  def runOnce(spark: SparkSession, dir: Path, out: Path, tr: Option[Tracer]): Rep = {
    val g = gold(spark, dir)
    def call() = TripleExtraction.run(Pages.derive(docs(spark, dir)), out.toString, spark,
      inject = inject, gold = g)
    val t0 = System.nanoTime()
    val m = tr.fold(call())(_("run")(call()))
    val wall = (System.nanoTime() - t0) / 1e9
    val done = lineage(out)
    val committed = done.map(_._2).sum
    val written = spark.read.parquet(s"$out/triples")
    Checks.require(committed == written.count(),
      s"$name: manifest n_triples sum $committed != parquet rows")
    Checks.require(m.docs == nDocs && m.triples == committed,
      s"$name: run reported ${m.docs} docs / ${m.triples} triples")
    Checks.require(call().buckets.isEmpty, s"$name: re-invoking the job did work")
    Rep(wall, m.docs, committed, Checks.digest(written, Keys))
  }

  def compose(spark: SparkSession, dir: Path, out: Path, tr: Tracer): (String, Map[String, Double]) = {
    val work = tr("sources") {
      val w = Pages.derive(docs(spark, dir)).withColumn("bucket", TripleExtraction.bucketOf).cache()
      w.count(); w
    }
    val ments = tr("mentions") { val m = Stages.mentionsKernel(work, spark).cache(); m.count(); m }
    val linked = tr("link") { val l = Stages.linkedFast(ments, spark).cache(); l.count(); l }
    val scoredFull = tr("score") {
      val s = (if (inject) KnowledgeInjection.extractInjectedFused(work, spark)
                 .withColumn("score", col("score_milli") / lit(1000.0))
               else RelationScorer.extractKernelFused(work, spark)).cache()
      s.count(); s
    }
    val scored = scoredFull.select(Keys.map(col): _*)
    val canonical = tr("canon") {
      val c = Canonicalize(scored, linked, spark)
        .join(work.select(col("doc_id"), col("bucket")).distinct(), Seq("doc_id")).cache()
      c.count(); c
    }
    gold(spark, dir).foreach { g =>
      tr("eval") {
        Evaluator.thetaSweepBinned(scoredFull.select((Keys :+ "score").map(col): _*), g)
          .filter(col("is_best")).collect()
        Evaluator.recallByDistanceBucket(canonical.select(Keys.map(col): _*), g,
          RelationScorer.pairFeatures(linked)).collect()
      }
    }
    spark.sparkContext.setJobGroup("check", "check")
    val counts = Map(
      "sources.rows" -> work.count().toDouble,
      "mentions.rows" -> ments.count().toDouble,
      "link.rows" -> linked.count().toDouble,
      "score.rows" -> scoredFull.count().toDouble)
    // useful work of canonicalization: triples whose subj or obj it remapped
    val m = Canonicalize.mapping(linked, spark)
    val remapped = scored
      .join(m.select(col("doc_id"), col("eid").as("subj"), col("canonical").as("cs")), Seq("doc_id", "subj"))
      .join(m.select(col("doc_id"), col("eid").as("obj"), col("canonical").as("co")), Seq("doc_id", "obj"))
      .filter(col("cs") =!= col("subj") || col("co") =!= col("obj")).count()
    val digest = Checks.digest(canonical, Keys)
    spark.sparkContext.clearJobGroup()
    Seq(work, ments, linked, scoredFull, canonical).foreach(_.unpersist())
    (digest, counts ++ Map(
      "link.hit_frac" -> counts("link.rows") / math.max(1.0, counts("mentions.rows")),
      "canon.remapped_frac" -> remapped / math.max(1.0, counts("score.rows"))))
  }
}

/** Three overlapping crawls committed as KG snapshots 0 → 1 → 2. */
final class Snapshots(val name: String, crawlDocs: Long, val warmups: Int) extends Workload {

  private val crawls = Seq(0L, crawlDocs / 2, crawlDocs).map(first => (first, crawlDocs))
  private val inputDocs = crawls.map(_._2).sum
  private val Keys = Seq("snap", "first_doc", "subj", "pred", "obj", "support")
  private val DoneLine = ("""^\{"snap":(\d+),"status":"done","n_triples":(\d+),"added":\d+,""" +
    """"removed":\d+,"changed":\d+,"wall_ms":\d+\}$""").r

  private def crawl(spark: SparkSession, dir: Path, i: Int) =
    Pages.derive(spark.read.parquet(s"$dir/crawl$i"))

  def materialize(spark: SparkSession, seed: Long, dir: Path, parts: Int): Unit =
    crawls.zipWithIndex.foreach { case ((first, n), i) =>
      Corpus.frame(spark, seed, first, n, 1, parts).write.mode("overwrite").parquet(s"$dir/crawl$i")
    }

  def runOnce(spark: SparkSession, dir: Path, out: Path, tr: Option[Tracer]): Rep = {
    def call() = crawls.indices.map(i => KgBuild.buildSnapshot(crawl(spark, dir, i), out.toString, i, spark))
    val t0 = System.nanoTime()
    val ms = tr.fold(call())(_("run")(call()))
    val wall = (System.nanoTime() - t0) / 1e9
    val lines = Checks.manifestLines(out.resolve("_kg_manifest.jsonl"))
    val done = lines.collect { case DoneLine(s, n) => (s.toInt, n.toLong) }
    Checks.require(done.map(_._1) == crawls.indices && done.size == lines.size,
      s"$name: manifest does not hold exactly one done line per snapshot")
    val committed = done.map(_._2).sum
    val written = spark.read.parquet(s"$out/snapshots")
    Checks.require(committed == written.count() && committed == ms.map(_.nTriples).sum,
      s"$name: manifest n_triples sum $committed != snapshot rows")
    val again = KgBuild.buildSnapshot(crawl(spark, dir, crawls.size - 1), out.toString,
      crawls.size - 1, spark)
    Checks.require(again == ms.last, s"$name: re-invoking the last snapshot did not return its commit")
    Rep(wall, inputDocs, committed, Checks.digest(written, Keys))
  }

  def compose(spark: SparkSession, dir: Path, out: Path, tr: Tracer): (String, Map[String, Double]) = {
    var prev: Option[DataFrame] = None
    var (sourceRows, scoreRows, deltaRows) = (0L, 0L, 0L)
    crawls.indices.foreach { i =>
      val pages = tr("sources") { val p = crawl(spark, dir, i).cache(); sourceRows += p.count(); p }
      val scored = tr("score") {
        val s = KnowledgeInjection.extractInjectedFused(pages, spark)
          .select("doc_id", "subj", "pred", "obj", "score_milli").cache()
        scoreRows += s.count(); s
      }
      val fused = tr("fuse") { val f = KgFusion.fuse(scored).cache(); f.count(); f }
      tr("commit")(fused.write.mode("overwrite").parquet(s"$out/snapshots/snap=$i"))
      val written = spark.read.parquet(s"$out/snapshots/snap=$i")
      val delta = tr("delta") {
        val d = KgFusion.snapshotDelta(prev.getOrElse(written.filter(lit(false))), written).cache()
        deltaRows += d.count(); d
      }
      tr("commit") {
        delta.write.mode("overwrite").parquet(s"$out/deltas/snap=$i")
        spark.read.parquet(s"$out/deltas/snap=$i").groupBy(col("status")).count().collect()
        written.count()
      }
      Seq(pages, scored, fused, delta).foreach(_.unpersist())
      prev = Some(written)
    }
    spark.sparkContext.setJobGroup("check", "check")
    val digest = Checks.digest(spark.read.parquet(s"$out/snapshots"), Keys)
    spark.sparkContext.clearJobGroup()
    (digest, Map("sources.rows" -> sourceRows.toDouble, "score.rows" -> scoreRows.toDouble,
      "delta.rows" -> deltaRows.toDouble))
  }
}

object Workloads {
  /** Workload by name; `scale` shrinks the inputs for the benchmark's own
    * tests. */
  def apply(name: String, scale: Double = 1.0): Workload = {
    def n(x: Long) = math.max(16L, (x * scale).toLong)
    name match {
      case "web_rule" => new Extraction(name, n(1000), 1, inject = false, goldPercent = 1, warmups = 1)
      case "long_inject" => new Extraction(name, n(100), 37, inject = true, goldPercent = 0, warmups = 2)
      case "kg_snapshots" => new Snapshots(name, n(1500), warmups = 3)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
  val names: Seq[String] = Seq("web_rule", "long_inject", "kg_snapshots")
}
