package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Fs

/** The benchmark's own checks: failures are counted, never timed; a
  * poisoned series is caught; span arithmetic; seeded inputs repeat.
  */
class BenchSelfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var work: Path = _
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("graftbench-selftest")
    spark = Main.session(work)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Fs.deleteRecursively(work)
  }

  /** A directory holding one single-file parquet table, like perfbench/data. */
  private def tableDir(name: String): Path = {
    val written = work.resolve(s"$name-written")
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(written.toString)
    val part = Files.list(written).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val data = Files.createDirectories(work.resolve(name))
    Files.copy(part, data.resolve("t.parquet"))
    data
  }

  private val tiny = PanelSpec("tiny_denton", "denton-cholette", "QS", 4, withIndicator = false, 24, 5, 8)

  test("a throwing query is counted as failed, not timed as a fast one") {
    val data = tableDir("data")
    val good = (s: SparkSession, _: String) => s.range(10).toDF("x")
    val expected = Map("good" -> Fingerprint.of(good(spark, "")), "boom" -> (0L, BigDecimal(0)))
    val registry: String => (SparkSession, String) => org.apache.spark.sql.DataFrame = {
      case "good" => good
      case _ => (_, _) => throw new IllegalStateException("planted failure")
    }
    val w = new CorpusWorkload(Seq("good", "boom"), data, expected, 7L, registry)
    w.stage(spark, work.resolve("stage"))
    val ops = w.pass(spark, 0, new Tracer(enabled = true))
    val byName = ops.map(o => o.name -> o).toMap
    assert(byName("query.good").seconds.isDefined)
    assert(byName("query.boom").seconds.isEmpty)
    assert(byName("query.boom").error.exists(_.contains("planted failure")))

    val pass = PassRec(0, traced = false, 0.0, 1.0, ops, 0.0)
    assert(!pass.ok)
    // a pass with a failed operation never reaches the end-to-end timings
    val e2e = EndToEnd.metrics(1.0, Seq(pass).filter(_.ok), 100.0).map(m => m.name -> m.value).toMap
    assert(e2e("pass_cpu_s").isNaN)
  }

  test("a wrong fingerprint is a failure") {
    val data = tableDir("data2")
    val q = (s: SparkSession, _: String) => s.range(10).toDF("x")
    val w = new CorpusWorkload(Seq("q"), data, Map("q" -> (10L, BigDecimal(1))), 7L, _ => q)
    w.stage(spark, work.resolve("stage2"))
    val op = w.pass(spark, 0, new Tracer(enabled = false)).head
    assert(op.seconds.isEmpty && op.error.exists(_.contains("fingerprint")))
  }

  test("a poisoned series raises many_series.skipped and fails its job") {
    val w = new PanelWorkload("poisoned", Seq(tiny), 11L, poison = Set(3L))
    w.stage(spark, work.resolve("poisoned"))
    val op = w.pass(spark, 0, new Tracer(enabled = false)).head
    assert(w.skippedTotal == 1)
    assert(op.seconds.isEmpty)
    assert(op.error.exists(_.contains("1 series skipped")))
  }

  test("a clean panel passes C·ŷ = y and the row count") {
    val w = new PanelWorkload("clean", Seq(tiny), 11L)
    w.stage(spark, work.resolve("clean"))
    val op = w.pass(spark, 0, new Tracer(enabled = false)).head
    assert(op.ok, op.error)
    assert(w.skippedTotal == 0)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val root = Span(1, "op", 0, 100, 0, 1)
    val spans = Seq(root,
      Span(2, "a", 10, 40, 1, 1),
      Span(3, "b", 30, 60, 1, 1), // overlaps a: counted once
      Span(4, "a.child", 15, 20, 2, 1),
      Span(5, "late", 90, 120, 1, 1)) // clipped at the parent's end
    assert(SpanMath.selfTime(root, spans) == 100 - (50 + 10))
    assert(SpanMath.selfTime(spans(1), spans) == 30 - 5)
    assert(SpanMath.selfTime(spans(3), spans) == 5)
    assert(SpanMath.unionLength(Seq((0.0, 1.0), (2.0, 3.0), (2.5, 4.0))) == 3.0)
    assert(SpanMath.innermost(spans, 17).map(_.id).contains(4L))
  }

  test("the same seed gives the same input, another seed another") {
    val ml = Main.PanelMl.head
    val light = (0L until ml.nSeries.toLong).find(i => !Gen.hard(ml, i)).get
    val a = Gen.series(5L, ml, light)
    val b = Gen.series(5L, ml, light)
    val c = Gen.series(6L, ml, light)
    assert(a.low.sameElements(b.low) && a.signal.sameElements(b.signal) && a.startYear == b.startYear)
    assert(!a.low.sameElements(c.low))
    // hard series keep their values whatever the seed
    val hard = (0L until ml.nSeries.toLong).filter(i => Gen.hard(ml, i))
    assert(hard.nonEmpty && hard.size < ml.nSeries / 2)
    assert(hard.forall(i => Gen.series(5L, ml, i).low.sameElements(Gen.series(6L, ml, i).low)))
    Gen.stage(spark, 5L, tiny, work.resolve("g1").toString, 2)
    Gen.stage(spark, 5L, tiny, work.resolve("g2").toString, 3)
    val fp = (d: String) => Fingerprint.of(spark.read.parquet(work.resolve(d).resolve("low").toString))
    assert(fp("g1") == fp("g2"))
  }
}
