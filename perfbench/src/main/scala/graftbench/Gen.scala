package graftbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.disagg.TsFrame

/** One keyed panel of a workload: every series in it is disaggregated by one
  * `Disaggregate.manySeries` call with `method`, from yearly sums to
  * `factor` periods a year. Indicator panels carry a `signal` column and a
  * `constant` column of ones on the high-frequency side. `hardShare` of an
  * indicator panel's series are hard ones (see [[Gen.series]]).
  */
final case class PanelSpec(
    name: String,
    method: String,
    highFreq: String,
    factor: Int,
    withIndicator: Boolean,
    nSeries: Int,
    minYears: Int,
    maxYears: Int,
    hardShare: Double = 0.0)

/** One generated series: yearly sums and, for indicator panels, the
  * high-frequency indicator (signal, constant) covering exactly those years.
  */
final case class GenSeries(
    startYear: Int,
    low: Array[Double],
    signal: Array[Double]) {
  def years: Int = low.length
}

/** Seeded input generator. Series `i` of a panel is a pure function of
  * (seed, panel name, i), so the same seed gives the same panel however
  * Spark partitions the generation, and the driver can rebuild any single
  * series without touching the staged files.
  */
object Gen {

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(seed: Long, spec: PanelSpec, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, spec.name.hashCode.toLong), i))

  /** Years of series `i`. Lengths are spread evenly over the panel's range
    * whatever the seed, so the seed changes values, not how much work the
    * panel holds.
    */
  def years(spec: PanelSpec, i: Long): Int =
    spec.minYears + (i * (spec.maxYears - spec.minYears + 1) / spec.nSeries).toInt

  /** Whether series `i` is a hard one. Hard series are spread over the
    * panel by index (and so over its lengths), whatever the seed.
    */
  def hard(spec: PanelSpec, i: Long): Boolean =
    spec.withIndicator && (i * 1.4142135623730951) % 1.0 < spec.hardShare

  /** Draws the values of hard series: fixed, not the run's seed. */
  private val HardSeed = 1L

  def series(seed: Long, spec: PanelSpec, i: Long): GenSeries = {
    val r = rng(seed, spec, i)
    val nYears = years(spec, i)
    val startYear = 1950 + r.nextInt(40)
    if (!spec.withIndicator) {
      // positive yearly level with drift and noise
      var level = 50.0 + 100.0 * r.nextDouble()
      val drift = 0.5 + 3.0 * r.nextDouble()
      val low = Array.fill(nYears) {
        level += drift + 4.0 * r.nextGaussian()
        math.max(level, 1.0)
      }
      GenSeries(startYear, low, Array.emptyDoubleArray)
    } else {
      // high-frequency truth z = a + b*x + e, e an AR(1) residual; the
      // yearly input is the sum of z over each year. The residual's
      // persistence is spread over the panel by index, like the lengths.
      //
      // A hard series is one the indicator explains almost exactly: its
      // residual is a hundredth of the others', so the optimum of sigma^2
      // lies orders of magnitude below where Nelder-Mead starts, and the
      // search often runs to its iteration cap. That makes the cost per
      // series heavy-tailed (tens of ms at the median, about a second at the
      // top). Which hard series reach the cap depends on their exact values,
      // so those are drawn from a fixed stream rather than the seed: the
      // seed still moves their start year, but not the number of series
      // that run to the cap, and with it the panel's total work.
      val isHard = hard(spec, i)
      val g = if (isHard) rng(HardSeed, spec, i) else r
      val scale = if (isHard) 0.01 else 1.0
      val n = nYears * spec.factor
      val rho = 0.2 + 0.75 * ((i * 0.6180339887498949) % 1.0)
      val a = 5.0 + 20.0 * g.nextDouble()
      val b = 0.5 + 1.5 * g.nextDouble()
      val drift = 0.05 + 0.3 * g.nextDouble()
      var x = 50.0 + 50.0 * g.nextDouble()
      var e = 0.0
      val signal = new Array[Double](n)
      val z = new Array[Double](n)
      var t = 0
      while (t < n) {
        x += drift + g.nextGaussian()
        e = rho * e + scale * g.nextGaussian()
        signal(t) = x
        z(t) = a + b * x + e
        t += 1
      }
      val low = Array.tabulate(nYears)(y => (0 until spec.factor).map(q => z(y * spec.factor + q)).sum)
      GenSeries(startYear, low, signal)
    }
  }

  def lowDates(s: GenSeries): IndexedSeq[LocalDate] =
    (0 until s.years).map(y => LocalDate.of(s.startYear + y, 1, 1))

  def highDates(s: GenSeries, factor: Int): IndexedSeq[LocalDate] = {
    val months = 12 / factor
    (0 until s.years * factor).map(t => LocalDate.of(s.startYear, 1, 1).plusMonths(t.toLong * months))
  }

  /** The series as the in-memory frames `DisaggCore` takes. */
  def frames(s: GenSeries, spec: PanelSpec): (TsFrame, Option[TsFrame]) = {
    val low = TsFrame(lowDates(s), IndexedSeq("value"), IndexedSeq(s.low))
    val high =
      if (!spec.withIndicator) None
      else Some(TsFrame(highDates(s, spec.factor), IndexedSeq("signal", "constant"),
        IndexedSeq(s.signal, Array.fill(s.signal.length)(1.0))))
    (low, high)
  }

  /** Rows the disaggregation must return for the whole panel. */
  def expectedRows(spec: PanelSpec): Long =
    (0L until spec.nSeries.toLong).map(i => years(spec, i).toLong * spec.factor).sum

  val lowSchema: StructType = StructType(Seq(
    StructField("series_id", LongType, nullable = false),
    StructField("ts", TimestampNTZType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val highSchema: StructType = StructType(Seq(
    StructField("series_id", LongType, nullable = false),
    StructField("ts", TimestampNTZType, nullable = false),
    StructField("signal", DoubleType, nullable = false),
    StructField("constant", DoubleType, nullable = false)))

  private def at(d: LocalDate): LocalDateTime = d.atStartOfDay()

  /** Generates the panel inside Spark and writes `low` (and `high`) parquet
    * under `dir`. `poison` names series whose first yearly value is NaN.
    */
  def stage(spark: SparkSession, seed: Long, spec: PanelSpec, dir: String,
      slices: Int, poison: Set[Long] = Set.empty): Unit = {
    val ids = spark.sparkContext.range(0L, spec.nSeries.toLong, 1L, slices)
    val lowRows = ids.flatMap { i =>
      val s = series(seed, spec, i)
      lowDates(s).zipWithIndex.map { case (d, y) =>
        Row(i, at(d), if (y == 0 && poison(i)) Double.NaN else s.low(y))
      }
    }
    spark.createDataFrame(lowRows, lowSchema).write.mode("overwrite").parquet(s"$dir/low")
    if (spec.withIndicator) {
      val highRows = ids.flatMap { i =>
        val s = series(seed, spec, i)
        highDates(s, spec.factor).zipWithIndex.map { case (d, t) => Row(i, at(d), s.signal(t), 1.0) }
      }
      spark.createDataFrame(highRows, highSchema).write.mode("overwrite").parquet(s"$dir/high")
    }
  }
}
