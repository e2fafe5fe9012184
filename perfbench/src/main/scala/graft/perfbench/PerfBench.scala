package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's JVM side: sets up one seeded workload, then either times
  * its production call end to end (trace 0) or runs it decomposed into
  * layers under a job-group listener (trace 1). Prints one line
  * `PERFBENCH_RESULT {...}`; `run.py` is the entry point.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --cores C
  */
object PerfBench {

  /** End-to-end metrics (trace 0): name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "triples_per_s" -> "triples/s",
    "setup_s" -> "s", "peak_heap_mb" -> "MB")

  /** Per-layer metrics (trace 1): name → unit. A layer the workload does not
    * call reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.wall_s" -> "s", "sources.rows" -> "count",
    "mentions.wall_s" -> "s", "mentions.rows" -> "count",
    "link.wall_s" -> "s", "link.rows" -> "count", "link.hit_frac" -> "ratio",
    "score.wall_s" -> "s", "score.rows" -> "count", "score.tasks" -> "count",
    "score.spill_bytes" -> "bytes",
    "canon.wall_s" -> "s", "canon.shuffle_write_bytes" -> "bytes",
    "canon.spill_bytes" -> "bytes", "canon.peak_exec_mem_bytes" -> "bytes",
    "canon.remapped_frac" -> "ratio",
    "sink.first_bucket_ms" -> "ms", "sink.bucket_ms_p50" -> "ms",
    "sink.bytes_written" -> "bytes", "sink.files" -> "count",
    "eval.wall_s" -> "s",
    "fuse.wall_s" -> "s", "fuse.shuffle_write_bytes" -> "bytes",
    "delta.wall_s" -> "s", "delta.rows" -> "count", "kg.commit_ms" -> "ms",
    "run.jobs" -> "count", "run.stages" -> "count", "run.tasks" -> "count",
    "run.shuffle_read_bytes" -> "bytes", "run.shuffle_write_bytes" -> "bytes",
    "run.spill_bytes" -> "bytes", "run.gc_s" -> "s", "run.codegen_compiles" -> "count",
    "layers.sum_s" -> "s", "fusion_dividend_s" -> "s", "trace_overhead_frac" -> "ratio")

  /** `scale` shrinks the inputs; below 1 only in the benchmark's own tests. */
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cores: Int, scale: Double = 1.0)

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      need("cores").toInt)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Parquet files per input table, whatever the core count. */
  val InputParts = 8

  private def now = System.nanoTime()
  private def secsSince(t0: Long) = (now - t0) / 1e9

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Highest heap in use right after a garbage collection, over the GCs
    * seen between `start` and `finish`: the live set the calls held, which
    * unlike raw heap use does not just track the heap size. */
  final class HeapPeak {
    @volatile private var peak = 0L
    private val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        peak = math.max(peak, used)
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: javax.management.NotificationEmitter => e }
    def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
    def finish(): Long = { emitters.foreach(_.removeNotificationListener(listener)); peak }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** The production calls of one run, each into a fresh output directory.
    * `loop` repeats calls for at least `minReps` calls and `seconds` seconds.
    * A call that throws or fails its output check, or whose digest differs
    * from `expect`, counts as failed. */
  final class Calls(spark: SparkSession, wl: Workload, a: Args, expect: () => Option[String]) {
    var attempted = 0
    var failed = 0
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    def once(tag: String, tr: Option[Tracer] = None): Option[Rep] = {
      attempted += 1
      val out = a.work.resolve(s"out-$tag-$attempted")
      System.gc()
      try {
        val r = wl.runOnce(spark, a.work.resolve("input"), out, tr)
        expect().foreach(d => Checks.require(d == r.digest,
          s"${wl.name}: digest ${r.digest} differs from $d"))
        reps += r
        System.err.println(f"[perfbench] ${wl.name} $tag: ${r.wallS}%.3f s, ${r.docs} docs, ${r.triples} triples")
        Some(r)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] ${wl.name} $tag call failed: $e")
          None
      }
    }
    def loop(tag: String, seconds: Double, minReps: Int): Seq[Rep] = {
      val t0 = now
      val before = reps.size
      var n = 0
      while (n < minReps || secsSince(t0) < seconds) { once(s"$tag${n}"); n += 1 }
      reps.drop(before).toSeq
    }
  }

  /** What one run prints: `json` is the result line's object. */
  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double)], digest: String, walls: Seq[Double]) {
    def json: String = {
      val units = (EndToEnd ++ PerLayer).toMap
      val body = metrics.map { case (k, v) =>
        s""""$k":{"value":${fmt(v)},"unit":"${units(k)}"}""" }.mkString("{", ",", "}")
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$body,""" +
        s""""digest":"$digest","walls_s":${walls.map(fmt).mkString("[", ",", "]")}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val t0 = now
    val spark = session(a)
    val r = measure(spark, a, secsSince(t0))
    println("PERFBENCH_RESULT " + r.json)
    spark.stop()
    if (!r.correct) sys.exit(1)
  }

  /** Sets up the workload and measures it. `sessionS` is the session's
    * start-up time, a part of the set-up time. */
  def measure(spark: SparkSession, a: Args, sessionS: Double): Result = {
    val wl = Workloads(a.workload, a.scale)
    val listener = if (a.trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val input = a.work.resolve("input")

    // set-up: corpus generation + materialization, three times (median),
    // then the workload's untimed warm-up calls; every later call must match
    // the first one's digest
    val gens = (1 to 3).map { _ =>
      val tg = now
      wl.materialize(spark, a.seed, input, InputParts)
      secsSince(tg)
    }
    var digest: Option[String] = None
    val calls = new Calls(spark, wl, a, () => digest)
    val tw = now
    digest = calls.once("warmup0").map(_.digest)
    (1 until wl.warmups).foreach(i => if (digest.nonEmpty) calls.once(s"warmup$i"))
    val setupS = sessionS + median(gens) + secsSince(tw)
    System.err.println(f"[perfbench] set-up: session $sessionS%.3f s, inputs ${gens.map(g => f"$g%.3f").mkString("/")} s")

    val metrics: Seq[(String, Double)] =
      if (digest.isEmpty) Nil
      else if (!a.trace) {
        val heap = new HeapPeak
        heap.start()
        val reps = calls.loop("timed", a.seconds, 3)
        val peak = heap.finish()
        Seq(
          "docs_per_s" -> median(reps.map(r => r.docs / r.wallS)),
          "triples_per_s" -> median(reps.map(r => r.triples / r.wallS)),
          "setup_s" -> setupS,
          "peak_heap_mb" -> peak / (1024.0 * 1024.0))
      } else try traced(spark, wl, a, calls, listener.get) catch {
        case NonFatal(e) =>
          calls.failed += 1
          System.err.println(s"[perfbench] ${wl.name} traced run failed: $e")
          Nil
      }
    listener.foreach(spark.sparkContext.removeSparkListener)
    Result(digest.nonEmpty && calls.failed == 0 && metrics.nonEmpty, calls.attempted,
      calls.failed, metrics, digest.getOrElse(""), calls.reps.map(_.wallS).toSeq)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  /** Trace mode: untraced calls for the overhead baseline, the layer
    * composition, then one production call under the listener. */
  def traced(spark: SparkSession, wl: Workload, a: Args, calls: Calls,
             l: LayerListener): Seq[(String, Double)] = {
    val untraced = median(calls.loop("untraced", a.seconds / 2, 3).map(_.wallS))
    val tr = new Tracer(spark)
    val compOut = a.work.resolve("out-composed")
    val (compDigest, rows) = wl.compose(spark, a.work.resolve("input"), compOut, tr)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val (gc0, cg0) = (gcSeconds, compiles.getCount)
    val run = calls.once("traced", Some(tr))
    val (gc, cg) = (gcSeconds - gc0, compiles.getCount - cg0)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Checks.require(run.exists(_.digest == compDigest),
      s"${wl.name}: composed layers digest $compDigest differs from the run's")
    val w = tr.walls.withDefaultValue(0.0)
    val runWall = w("run")
    val sink = wl match {
      case e: Extraction =>
        val out = a.work.resolve(s"out-traced-${calls.attempted}")
        val ms = e.lineage(out).map(_._3.toDouble)
        val (files, bytes) = Checks.dataFiles(out.resolve("triples"))
        Map("sink.first_bucket_ms" -> ms.head, "sink.bucket_ms_p50" -> median(ms.tail),
          "sink.bytes_written" -> bytes.toDouble, "sink.files" -> files.toDouble,
          // bucket 0 also materializes the cached upstream plan: its sink
          // share is taken to be the mean of the others
          "sink.wall_s" -> ms.tail.sum / 1e3 * ms.size / ms.tail.size)
      case _ => Map.empty[String, Double]
    }
    val layers = Seq("sources", "mentions", "link", "score", "canon", "eval", "fuse", "delta", "commit")
      .map(w).sum + sink.getOrElse("sink.wall_s", 0.0)
    def c(g: String)(f: GroupCounters => Long): Double = f(l(g)).toDouble
    val m = Map[String, Double](
      "sources.wall_s" -> w("sources"), "mentions.wall_s" -> w("mentions"),
      "link.wall_s" -> w("link"), "score.wall_s" -> w("score"),
      "score.tasks" -> c("score")(_.tasks), "score.spill_bytes" -> c("score")(_.spillBytes),
      "canon.wall_s" -> w("canon"),
      "canon.shuffle_write_bytes" -> c("canon")(_.shuffleWriteBytes),
      "canon.spill_bytes" -> c("canon")(_.spillBytes),
      "canon.peak_exec_mem_bytes" -> c("canon")(_.peakExecMemBytes),
      "eval.wall_s" -> w("eval"), "fuse.wall_s" -> w("fuse"),
      "fuse.shuffle_write_bytes" -> c("fuse")(_.shuffleWriteBytes),
      "delta.wall_s" -> w("delta"), "kg.commit_ms" -> w("commit") * 1e3,
      "run.jobs" -> c("run")(_.jobs), "run.stages" -> c("run")(_.stages),
      "run.tasks" -> c("run")(_.tasks),
      "run.shuffle_read_bytes" -> c("run")(_.shuffleReadBytes),
      "run.shuffle_write_bytes" -> c("run")(_.shuffleWriteBytes),
      "run.spill_bytes" -> c("run")(_.spillBytes), "run.gc_s" -> gc,
      "run.codegen_compiles" -> cg.toDouble,
      "layers.sum_s" -> layers, "fusion_dividend_s" -> (layers - runWall),
      "trace_overhead_frac" -> (runWall - untraced) / untraced) ++ rows ++ sink
    PerLayer.map { case (k, _) => k -> m.getOrElse(k, 0.0) }
  }
}
