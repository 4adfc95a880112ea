package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{KernelBench, SparkEntry}
import graft.util.Fs

/** One measured pass and the operations in it. */
final case class PassRec(no: Int, traced: Boolean, start: Double, end: Double, ops: Seq[OpResult],
    gcS: Double) {
  def ok: Boolean = ops.forall(_.ok)
  def seconds: Double = ops.flatMap(_.seconds).sum
  def cpuSeconds: Double = ops.flatMap(_.cpuSeconds).sum
}

/** graft's benchmark. See perfbench/README.md for the workloads, the
  * metrics and the layer each one belongs to.
  *
  * {{{
  * graftbench.Main run --workload W --seed N --seconds S --trace 0|1 --root DIR [--launch-ms T]
  * graftbench.Main record --root DIR             (corpus fingerprints of this checkout)
  * graftbench.Main fingerprint DIR...            (fingerprints of parquet result dirs)
  * }}}
  */
object Main {

  val Cores = 4
  val SetupRounds = 3
  /** A run says whether its first measured pass was within this share of
    * the median one.
    */
  val WarmupTolerance = 0.1

  val CorpusQueries: Seq[String] = Seq(
    "disagg_chow_lin_y2m", "text_quality", "stream_count_min", "stream_disagg_incremental")

  val PanelMl: Seq[PanelSpec] = Seq(
    PanelSpec("ml_chow_lin_y2q", "chow-lin", "QS", 4, withIndicator = true, 48, 10, 40, hardShare = 0.25),
    PanelSpec("ml_litterman_y2m", "litterman", "MS", 12, withIndicator = true, 8, 10, 40))

  val PanelDenton: Seq[PanelSpec] = Seq(
    PanelSpec("denton_cholette_y2q", "denton-cholette", "QS", 4, withIndicator = false, 100000, 5, 12))

  /** Series of panel_denton the serial pass runs: a fixed sample. */
  val DentonSerialSample = 2000

  def corpusData(root: Path): Path = root.resolve("perfbench/data/sf0.01")
  def corpusExpected(root: Path): Path = root.resolve("perfbench/expected/corpus_mix.tsv")

  def workload(name: String, seed: Long, root: Path): Workload = name match {
    case "panel_ml" => new PanelWorkload(name, PanelMl, seed)
    case "panel_denton" => new PanelWorkload(name, PanelDenton, seed)
    case "corpus_mix" => new CorpusWorkload(CorpusQueries, corpusData(root),
      Fingerprint.load(corpusExpected(root)), seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: Path, trace: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = (if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName) else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def flags(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("run") => run(flags(args.tail.toSeq))
      case Some("record") => record(Paths.get(flags(args.tail.toSeq)("root")))
      case Some("fingerprint") => fingerprint(args.tail.toSeq)
      case _ => System.err.println("usage: graftbench.Main run|record|fingerprint ..."); 2
    }
    sys.exit(code)
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap and non-heap memory in use after a full collection. Spark drops
    * the broadcast and shuffle blocks a collection found unreachable only
    * afterwards, on its cleaner thread, so a second collection follows a
    * short pause.
    */
  private def liveMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Sum of `KernelBench.run()`'s medians: a host-speed reading. */
  private def calibrate(): Double = KernelBench.run().map(_._2).sum

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Wall and CPU seconds ([[Cpu.processSeconds]]) of `body`. */
  private def timesOf(body: => Unit): (Double, Double) = {
    val c0 = Cpu.processSeconds()
    val s = secondsOf(body)
    (s, Cpu.processSeconds() - c0)
  }

  def run(f: Map[String, String]): Int = {
    val mainMs = Clock.nowMs()
    val root = Paths.get(f("root")).toAbsolutePath
    val seed = f("seed").toLong
    val seconds = f("seconds").toDouble
    val trace = f.get("trace").contains("1")
    val jvmStartS = f.get("launch-ms").map(l => (mainMs - l.toDouble) / 1000.0).getOrElse(0.0)
    val work = root.resolve(s".bench_build/graftbench/run-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val w = workload(f("workload"), seed, root)

    // KernelBench takes seconds; only the traced run reports it
    val calibStartMs = if (trace) calibrate() else Double.NaN
    var spark: SparkSession = null
    val sessionS = secondsOf { spark = session(work, trace) }
    val tracer = new Tracer(enabled = false)
    val listener = new LayerListener
    try {
      val startCpuS = Cpu.processSeconds()
      val staging = (1 to SetupRounds).map(r => timesOf(w.stage(spark, work.resolve(s"stage-$r"))))
      val stagingS = staging.map(_._1)
      val warm = ArrayBuffer.empty[Seq[OpResult]]
      val (warmS, warmCpuS) = timesOf((1 to w.warmupPasses).foreach(p => warm += w.pass(spark, -p, tracer)))
      val setupWallS = jvmStartS + sessionS + Stats.median(stagingS) + warmS
      val setupS = startCpuS + Stats.median(staging.map(_._2)) + warmCpuS

      val passes = ArrayBuffer.empty[PassRec]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var no = 0
      def short: Boolean = passes.count(!_.traced) < w.minPasses || (trace && passes.count(_.traced) < 2)
      while (System.nanoTime() < deadline || short) {
        // untraced, traced, traced, untraced, ...: drift over the run falls on both sides alike
        val traced = trace && (no % 4 == 1 || no % 4 == 2)
        if (traced) { listener.register(spark); tracer.enabled = true }
        val gc0 = gcSeconds()
        val start = Clock.nowMs()
        val ops = w.pass(spark, no, tracer)
        val end = Clock.nowMs()
        val gc = gcSeconds() - gc0
        if (traced) { listener.drain(spark); listener.unregister(spark); tracer.enabled = false }
        passes += PassRec(no, traced, start, end, ops, gc)
        no += 1
      }
      val liveHeapMb = liveMb()
      // warm when the first measured pass already ran as fast as the median one
      val steady = {
        val t = passes.filter(p => !p.traced && p.ok).map(_.seconds).toSeq
        t.nonEmpty && math.abs(t.head - Stats.median(t)) <= WarmupTolerance * Stats.median(t)
      }

      val serial: Seq[(PanelSpec, SerialStats)] = w match {
        case p: PanelWorkload if trace =>
          tracer.enabled = true
          val cap = if (p.name == "panel_denton") DentonSerialSample else Int.MaxValue
          val s = p.panels.map(pp => pp -> Serial.run(seed, pp, 0L until math.min(pp.nSeries, cap).toLong, tracer))
          tracer.enabled = false
          s
        case _ => Seq.empty
      }
      val calibEndMs = if (trace) calibrate() else Double.NaN

      val allOps = warm.flatten.toSeq ++ passes.flatMap(_.ops)
      val failed = allOps.count(!_.ok) + serial.map(_._2.rhoMismatches).sum
      val attempted = allOps.size + serial.map(_._2.series.size).sum
      allOps.filterNot(_.ok).foreach(o => println(s"FAILED ${o.name}: ${o.error.get}"))
      serial.filter(_._2.rhoMismatches > 0).foreach { case (p, s) =>
        println(s"FAILED serial.${p.name}: ${s.rhoMismatches} series where the wrapped minimize's rho differs from DisaggCore.run's")
      }

      val untracedPasses = passes.filter(p => !p.traced && p.ok).toSeq
      val metrics =
        if (!trace) EndToEnd.metrics(setupS, untracedPasses, liveHeapMb)
        else {
          val skipped = w match { case p: PanelWorkload => p.skippedTotal; case _ => 0L }
          val spans = tracer.spans ++ listener.spans(tracer, tracer.spans)
          val traceFile = root.resolve(s".bench_build/graftbench/trace-${w.name}-$seed.json")
          Files.write(traceFile, Json.spans(spans).getBytes("UTF-8"))
          println(s"trace: ${spans.size} spans written to ${root.relativize(traceFile)}")
          Layers.metrics(w, passes.toSeq, tracer, spans, listener, serial, skipped,
            failed.toDouble / attempted, calibStartMs, calibEndMs, peakRssMb(), Cores)
        }

      val opCpu = EndToEnd.opCpuMedians(untracedPasses)
      EndToEnd.opMedians(untracedPasses).toSeq.sortBy(-_._2._1).foreach { case (n, (s, k)) =>
        println(f"  op $n%-40s median ${s}%.4f s, cpu ${opCpu(n)._1}%.2f s n=$k")
      }
      metrics.foreach(m => println(f"  ${m.name}%-30s ${m.value}%16.6f ${m.unit}%-9s n=${m.samples}"))
      println("passes (t = traced): " +
        passes.map(p => p.ops.map(o => f"${o.seconds.getOrElse(Double.NaN)}%.2f").mkString("+") +
          (if (p.traced) "t" else "") + f"(cpu ${p.cpuSeconds}%.2f)").mkString(" ") + " s")
      println(s"setup: cpu ${setupS}s, wall ${setupWallS}s: jvm ${jvmStartS}s, session ${sessionS}s, staging ${stagingS.mkString("/")}s, " +
        s"warm-up ${warmS}s (passes ${warm.map(_.map(_.seconds.getOrElse(Double.NaN)).sum).mkString("/")}s" +
        (if (steady) ")" else ", not steady)"))
      val correct = failed == 0 && metrics.forall(m => !m.value.isNaN)
      println(Json.result(correct, attempted.toLong, failed.toLong, metrics))
      0
    } finally {
      spark.stop()
      Fs.deleteRecursively(work)
    }
  }

  /** Records the corpus fingerprints of this checkout into perfbench/expected. */
  def record(root: Path): Int = {
    val work = root.resolve(s".bench_build/graftbench/record-${ProcessHandle.current().pid()}")
    val spark = session(work)
    try {
      val dir = work.resolve("sf")
      val w = new CorpusWorkload(CorpusQueries, corpusData(root), Map.empty, 0L)
      w.stage(spark, dir)
      val values = CorpusQueries.map(q => q -> Fingerprint.of(SparkEntry.queries(q)(spark, dir.toString)))
      Files.createDirectories(corpusExpected(root).getParent)
      Fingerprint.save(corpusExpected(root), "corpus_mix over perfbench/data/sf0.01", values)
      values.foreach { case (q, (r, fp)) => println(s"$q\t$r\t$fp") }
      0
    } finally { spark.stop(); Fs.deleteRecursively(work) }
  }

  /** Fingerprints of parquet result dirs, named by their last path element. */
  def fingerprint(dirs: Seq[String]): Int = {
    val root = Paths.get(".").toAbsolutePath
    val work = root.resolve(s".bench_build/graftbench/fp-${ProcessHandle.current().pid()}")
    val spark = session(work)
    try {
      dirs.foreach { d =>
        val (r, fp) = Fingerprint.of(spark.read.parquet(d))
        println(s"${Paths.get(d).getFileName}\t$r\t$fp")
      }
      0
    } finally { spark.stop(); Fs.deleteRecursively(work) }
  }
}
