package graftbench

import scala.collection.mutable.ArrayBuffer

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.disagg.{DisaggCore, Kernels, Optimizer}

/** Per-series measurements of the serial pass. */
final case class SerialSeries(prepareMs: Double, runMs: Double, iters: Option[Int], evals: Option[Long],
    converged: Option[Boolean], objectiveMs: Double)

final case class SerialStats(series: Seq[SerialSeries], objectiveEvalMs: Seq[Double], rhoMismatches: Int)

/** The single-threaded baseline: `DisaggCore.run` on the driver, one series
  * at a time, with the layers under it timed from outside.
  *
  *  - `prepare`: `DisaggCore.prepareInputs` plus `buildConversionMatrix`;
  *  - `minimize` (regression methods): `Optimizer.minimize` over a counting,
  *    timing wrapper of `Kernels.negLogLikObjective`, on inputs built the
  *    way `graft.KernelBench` builds them;
  *  - `run`: `DisaggCore.run` itself, the timed series.
  *
  * The wrapped minimisation must land on the same ρ̂ as `run`; each series
  * where it does not is counted in `rhoMismatches`.
  */
object Serial {

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def run(seed: Long, spec: PanelSpec, ids: Seq[Long], tracer: Tracer): SerialStats = {
    val evalMs = ArrayBuffer.empty[Double]
    var mismatches = 0
    val regression = spec.method == "chow-lin" || spec.method == "litterman"
    val targetFreq = if (spec.withIndicator) None else Some(spec.highFreq)
    val series = tracer.operation(s"serial.${spec.name}") {
      ids.map { i =>
        val (low, high) = Gen.frames(Gen.series(seed, spec, i), spec)
        tracer.span("series") {
          var t0 = System.nanoTime()
          val (prep, c) = tracer.span("prepare") {
            val p = DisaggCore.prepareInputs(low, high, targetFreq, spec.method)
            (p, DisaggCore.buildConversionMatrix(p.low.ts, p.lowFreq, p.high.ts, p.factor, "sum"))
          }
          val prepareMs = ms(t0)

          var objectiveMs = 0.0
          var evals = 0L
          val wrapped = if (!regression) None else Some(tracer.span("minimize") {
            val kind = if (spec.method == "chow-lin") Kernels.ChowLinCov else Kernels.LittermanCov
            val keep = (0 until c.rows).filter(r => (0 until c.cols).exists(j => c(r, j) != 0.0))
            val ck = DenseMatrix.tabulate(keep.length, c.cols)((r, j) => c(keep(r), j))
            val y = DenseVector(keep.map(low.data(0)).toArray)
            val hf = high.get
            val x = DenseMatrix.tabulate(hf.nRows, hf.columns.length)((r, j) => hf.data(j)(r))
            val objective = (p: Array[Double]) => {
              val e0 = System.nanoTime()
              val v = Kernels.negLogLikObjective(p(0), p(1), y, x, ck, kind)
              val e = ms(e0)
              evals += 1; objectiveMs += e; evalMs += e
              v
            }
            Optimizer.minimize("nelder-mead", objective, Array(0.8, 0.8),
              lower = Array(1e-5, 1e-5), upper = Array(1.0 - 1e-5, 1e300))
          })

          t0 = System.nanoTime()
          val out = tracer.span("run") {
            DisaggCore.run(low, high, targetFreq = targetFreq, method = spec.method, aggFunc = "sum")
          }
          val runMs = ms(t0)
          for (w <- wrapped; rho <- out.rho) if (w.x(0) != rho) mismatches += 1
          SerialSeries(prepareMs, runMs, out.optim.map(_.nIter), wrapped.map(_ => evals),
            out.optim.map(_.success), objectiveMs)
        }
      }
    }
    SerialStats(series, evalMs.toSeq, mismatches)
  }
}
