package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.SparkEntry
import graft.disagg.Disaggregate

/** One timed, checked operation: its wall time and the CPU time the JVM
  * spent meanwhile ([[Cpu.programSeconds]]). Both are set only when the
  * operation ran and its output passed the check, so a failure is never a
  * time.
  */
final case class OpResult(name: String, seconds: Option[Double], error: Option[String],
    cpuSeconds: Option[Double] = None) {
  def ok: Boolean = error.isEmpty
}

object Op {
  /** Times `body` in an operation span; `check` runs after the clocks stop,
    * in a span of its own, and returns the reason the output is wrong, if
    * it is.
    */
  def timed(name: String, tracer: Tracer)(body: => Unit)(check: => Option[String]): OpResult = {
    val c0 = Cpu.programSeconds()
    val t0 = System.nanoTime()
    val thrown =
      try { tracer.operation(name)(body); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpu = Cpu.programSeconds() - c0
    val error = thrown.orElse(
      try tracer.span("check")(check) catch { case e: Throwable => Some(s"check failed: ${e.getMessage}") })
    OpResult(name, if (error.isEmpty) Some(seconds) else None, error, if (error.isEmpty) Some(cpu) else None)
  }
}

/** CPU time of this JVM. A shared host takes its virtual CPUs away now and
  * then (steal time); on `corpus_mix` a pass's wall time then grew by up to
  * 1.9 times, while the CPU time its threads used moved by a few percent.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Linux reports thread times in ticks of 1/100 s. */
  private val TickS = 0.01

  /** CPU seconds of the JIT compiler's threads, which the launcher keeps
    * alive for the whole run (`-XX:-UseDynamicNumberOfCompilerThreads`), so
    * none of their time is lost when one ends.
    */
  def compilerSeconds(): Double = {
    val tasks = Files.list(java.nio.file.Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.map { t =>
      val stat = try new String(Files.readAllBytes(t.resolve("stat")), "UTF-8") catch { case _: java.io.IOException => "" }
      val comm = stat.indexOf('(')
      val end = stat.lastIndexOf(')')
      if (comm < 0 || end < 0 || !stat.substring(comm + 1, end).contains("CompilerThre")) 0.0
      else {
        // fields after the command: state is field 3, utime 14, stime 15
        val f = stat.substring(end + 2).split(' ')
        (f(11).toLong + f(12).toLong) * TickS
      }
    }.sum
    finally tasks.close()
  }

  /** CPU seconds of every thread of this JVM but the JIT compiler's: the
    * program's own work, its garbage collection included, without the
    * compilation that goes on for minutes after start-up.
    */
  def programSeconds(): Double = processSeconds() - compilerSeconds()

  /** CPU seconds of every thread of this JVM since it started. */
  def processSeconds(): Double = os.getProcessCpuTime / 1e9
}

trait Workload {
  def name: String
  /** Passes run, and discarded, after staging and before measuring. */
  def warmupPasses: Int
  /** Untraced passes measured at least, however long they take. */
  def minPasses: Int
  /** Writes this run's inputs under `dir`. */
  def stage(spark: SparkSession, dir: Path): Unit
  /** One pass over the workload's operations, in order. */
  def pass(spark: SparkSession, passNo: Int, tracer: Tracer): Seq[OpResult]
  /** Number of series one pass disaggregates (for `series_per_s`). */
  def seriesPerPass: Long
}

/** `manySeries` over seeded keyed panels: one job per panel per pass, the
  * result written to parquet, then read back and checked.
  */
final class PanelWorkload(val name: String, val panels: Seq[PanelSpec], seed: Long,
    poison: Set[Long] = Set.empty) extends Workload {

  private var dir: Path = _
  private val expected = panels.map(p => p.name -> Gen.expectedRows(p)).toMap
  /** The first pass after the JVM starts is about 1.7 times slower than the
    * rest; from the second on, passes agree within the host's noise.
    */
  val warmupPasses = 2
  val minPasses = 2
  /** Skipped series over every job of the run. */
  var skippedTotal = 0L

  def seriesPerPass: Long = panels.map(_.nSeries.toLong).sum

  def stage(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    panels.foreach { p =>
      Gen.stage(spark, seed, p, dir.resolve(p.name).toString, Main.Cores * 2, poison)
      spark.read.parquet(dir.resolve(p.name).resolve("low").toString).count()
      if (p.withIndicator) spark.read.parquet(dir.resolve(p.name).resolve("high").toString).count()
    }
  }

  def params(p: PanelSpec): Disaggregate.Params =
    Disaggregate.Params(method = p.method, aggFunc = "sum",
      targetFreq = if (p.withIndicator) None else Some(p.highFreq))

  def pass(spark: SparkSession, passNo: Int, tracer: Tracer): Seq[OpResult] = panels.map { p =>
    val in = dir.resolve(p.name)
    val out = dir.resolve(s"out_${p.name}").toString
    val acc = spark.sparkContext.longAccumulator(s"graftbench.skipped.${p.name}")
    Op.timed(s"many_series.${p.name}", tracer) {
      val low = spark.read.parquet(in.resolve("low").toString)
      val high = if (p.withIndicator) Some(spark.read.parquet(in.resolve("high").toString)) else None
      Disaggregate.manySeries(low, high, indicatorCols = Seq("signal", "constant"),
        params = params(p), skippedSeries = Some(acc))
        .write.mode("overwrite").parquet(out)
    } {
      skippedTotal += acc.value
      PanelWorkload.check(spark, in.resolve("low").toString, out, p.factor, expected(p.name), acc)
    }
  }
}

object PanelWorkload {
  /** `C·ŷ = y` for every series (each year's outputs sum to its input,
    * |Δ| ≤ 1e-9·max(1, |y|), with `factor` outputs a year), the output row
    * count, and no skipped series.
    */
  def check(spark: SparkSession, lowPath: String, outPath: String, factor: Int,
      expectedRows: Long, skipped: LongAccumulator): Option[String] = {
    val low = spark.read.parquet(lowPath)
      .select(col("series_id"), year(col("ts")).as("y"), col("value").as("want"))
    val got = spark.read.parquet(outPath)
      .groupBy(col("series_id"), year(col("ts")).as("y"))
      .agg(sum("value").as("got"), count(lit(1)).as("n"))
    val tol = lit(1e-9) * greatest(lit(1.0), abs(col("want")))
    val r = low.join(got, Seq("series_id", "y"), "full_outer")
      .agg(
        coalesce(sum("n"), lit(0L)).as("rows"),
        count(when(col("want").isNull || col("got").isNull || col("want").isNaN ||
          abs(col("got") - col("want")) > tol || col("n") =!= factor, 1)).as("bad"))
      .head()
    val rows = r.getLong(0)
    val bad = r.getLong(1)
    if (skipped.value != 0) Some(s"${skipped.value} series skipped")
    else if (bad != 0) Some(s"$bad series-years fail C·ŷ = y")
    else if (rows != expectedRows) Some(s"$rows output rows, expected $expectedRows")
    else None
  }
}

/** Registered corpus queries over the benchmark's copy of the sf0.01 tables,
  * each written to the `noop` sink, in an order the seed shuffles anew for
  * every pass. Each query's row count and order-independent fingerprint are
  * observed during the write and compared with the recorded values.
  *
  * Every pass reads the same copy of the tables. graft keeps the stream
  * inputs it stages (`stageParts`, `stageOne`) for the life of the JVM,
  * keyed by the tables' directory, so they are written in the first warm-up
  * pass (and count in `setup_s`), and later passes replay them, as repeated
  * queries over one directory do.
  */
final class CorpusWorkload(val queries: Seq[String], data: Path, expected: Map[String, (Long, BigDecimal)],
    seed: Long,
    registry: String => (SparkSession, String) => DataFrame = SparkEntry.queries) extends Workload {

  val name = "corpus_mix"
  private var dir: Path = _
  /** The first pass after the JVM starts is about three times slower than
    * the rest, the second 10–25% slower; from the third on, passes agree
    * within the host's noise.
    */
  val warmupPasses = 2
  /** A pass's total moves 10–20% from pass to pass with the host, so the
    * median is taken over at least three.
    */
  val minPasses = 3

  def seriesPerPass: Long = 0L

  def stage(spark: SparkSession, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.list(data).iterator().asScala.foreach { f =>
      Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    this.dir = dir
  }

  private val baseOrder = new scala.util.Random(seed).shuffle(queries)

  /** The seed's order, rotated by one place a pass, so that over as many
    * passes as there are queries each query runs once in every position.
    */
  def order(passNo: Int): Seq[String] = {
    val k = Math.floorMod(passNo, queries.size)
    baseOrder.drop(k) ++ baseOrder.take(k)
  }

  def pass(spark: SparkSession, passNo: Int, tracer: Tracer): Seq[OpResult] = order(passNo).map { q =>
    val obs = Observation(s"graftbench_${q}_$passNo")
    Op.timed(s"query.$q", tracer) {
      val df = tracer.span("registry")(registry(q)(spark, dir.toString))
      val fp = Fingerprint.columns(df)
      val observed = df.observe(obs, fp.head, fp.tail: _*)
      tracer.span("noop_write")(observed.write.format("noop").mode("overwrite").save())
    } {
      val (rows, fp) = Fingerprint.read(obs.get)
      expected.get(q) match {
        case None => Some("no recorded fingerprint")
        case Some((r, f)) if r != rows || f != fp => Some(s"rows/fingerprint $rows/$fp, expected $r/$f")
        case _ => None
      }
    }
  }
}

/** Order-independent content fingerprint: row count and the sum of each
  * row's xxhash64 over all columns, summed exactly as a decimal.
  */
object Fingerprint {
  def columns(df: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("rows"),
    sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)")).as("fp"))

  def read(m: Map[String, Any]): (Long, BigDecimal) = {
    val fp = m("fp") match {
      case null => BigDecimal(0)
      case d: java.math.BigDecimal => BigDecimal(d)
      case d: BigDecimal => d
    }
    (m("rows").asInstanceOf[Long], fp)
  }

  def of(df: DataFrame): (Long, BigDecimal) = {
    val c = columns(df)
    val r = df.agg(c.head, c.tail: _*).head()
    read(Map("rows" -> r.getLong(0), "fp" -> r.get(1)))
  }

  def load(file: Path): Map[String, (Long, BigDecimal)] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file).asScala.toSeq.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, rows, fp) = l.split("\t")
      q -> (rows.toLong, BigDecimal(fp))
    }.toMap

  def save(file: Path, header: String, values: Seq[(String, (Long, BigDecimal))]): Unit = {
    val lines = s"# $header" +: "# query\trows\tfingerprint" +:
      values.sortBy(_._1).map { case (q, (r, f)) => s"$q\t$r\t$f" }
    Files.write(file, lines.asJava)
    ()
  }
}
