package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own invariants: seeded inputs, metric names and units,
  * and that every mode emits exactly the metrics `BENCHMARK.json` declares. */
class PerfBenchSpec extends AnyFunSuite {

  private val work = Files.createDirectories(Paths.get("target", "test-work")).toAbsolutePath
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  private def args(workload: String, trace: Boolean) = PerfBench.Args(
    workload, seed = 7, seconds = 0, trace = trace,
    work = Files.createTempDirectory(work, workload), cores = 2, scale = 0.01)

  /** Names and units of a result line's metrics. */
  private def printed(json: String): Seq[(String, String)] =
    """"([^"]+)":\{"value":[-0-9.E]+,"unit":"([^"]*)"\}""".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toSeq

  /** The metric names `BENCHMARK.json` lists under `section`. */
  private def declared(section: String): Seq[String] = {
    val j = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    val block = (s""""$section"\\s*:\\s*\\[([^\\]]*)\\]""").r.findFirstMatchIn(j).get.group(1)
    """"name"\s*:\s*"([^"]+)"""".r.findAllMatchIn(block).map(_.group(1)).toSeq
  }

  test("the same seed generates an identical corpus") {
    assert(Corpus.digest(3, 0, 500, 1) == Corpus.digest(3, 0, 500, 1))
    // the Spark-side frame is the same documents, whatever the partitioning
    val a = Corpus.frame(spark, 3, 0, 200, 1, 1).collect().map(_.toString).sorted
    val b = Corpus.frame(spark, 3, 0, 200, 1, 7).collect().map(_.toString).sorted
    val expected = (0L until 200L).map { id =>
      val (t, l) = Corpus.doc(3, id, 1); s"[$id,$t,$l]" }.sorted
    assert(a.toSeq == expected && b.toSeq == expected)
  }

  test("a different seed generates a different corpus of the same size") {
    val (d3, d4) = (Corpus.digest(3, 0, 500, 1), Corpus.digest(4, 0, 500, 1))
    assert(d3 != d4)
    assert(d3.split(":").head == d4.split(":").head)
    assert(Corpus.frame(spark, 4, 0, 500, 1, 3).count() == 500)
  }

  test("every metric name matches [A-Za-z0-9_.-]+ and carries a unit") {
    for ((n, u) <- PerfBench.EndToEnd ++ PerfBench.PerLayer) {
      assert(n.matches("[A-Za-z0-9_.-]+") && n.length <= 64, n)
      assert(u.matches("[A-Za-z0-9_/%.-]+") && u.length <= 16, s"$n: $u")
    }
    assert(PerfBench.EndToEnd.map(_._1) == declared("end_to_end"))
    assert(PerfBench.PerLayer.map(_._1) == declared("per_layer"))
  }

  for (w <- Workloads.names) test(s"$w: the traced run emits every per-layer metric") {
    val r = PerfBench.measure(spark, args(w, trace = true), 0.0)
    assert(r.correct, r.json)
    assert(printed(r.json).map(_._1) == PerfBench.PerLayer.map(_._1))
    assert(printed(r.json).forall(_._2.nonEmpty))
  }

  test("the untraced run emits every end-to-end metric, each above 0") {
    val r = PerfBench.measure(spark, args("kg_snapshots", trace = false), 0.0)
    assert(r.correct, r.json)
    assert(printed(r.json).map(_._1) == PerfBench.EndToEnd.map(_._1))
    assert(r.metrics.forall(_._2 > 0), r.json)
  }
}
