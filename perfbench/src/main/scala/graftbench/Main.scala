package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

object Stats {
  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

/** One benchmark process: set the workload up several times, run its
  * closed-loop client for the requested seconds, check correctness
  * outside the timed window, and print one JSON result line.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> */
object Main {
  /** Set-up repetitions per run: a cold one, which also warms the JIT
    * and loads the classes, then warm ones; `setup_s` is the median of
    * the warm ones. One warm repetition keeps a run near a minute on a
    * 4-core machine (see README.md). */
  val SetupReps = 2

  /** Whole cycles a window holds at least, so that every metric of a
    * run is a median over several ops of each kind, and a slow first
    * cycle cannot be the median. */
  val MinCycles = 3

  final case class Sample(kind: Kind, ms: Double, startMs: Long, endMs: Long, ok: Boolean)

  final case class Window(samples: Seq[Sample], wallS: Double) {
    private def ms(k: Option[Kind]) = samples.filter(s => s.ok && k.forall(_ == s.kind)).map(_.ms)
    def e2e: Seq[(String, Double, String)] = Seq(
      ("op_p50_ms", Stats.quantile(ms(None), 0.5), "ms"),
      ("op_p90_ms", Stats.quantile(ms(None), 0.9), "ms"),
      ("ops_per_s", samples.count(_.ok) / wallS, "1/s"),
      ("main_p50_ms", Stats.quantile(ms(Some(MainOp)), 0.5), "ms"),
      ("side_p50_ms", Stats.quantile(ms(Some(SideOp)), 0.5), "ms"))
  }

  /** The closed loop: the next op starts only when the previous one
    * finished; whole cycles start until `seconds` have passed and at
    * least `minCycles` have run. */
  def measure(c: Ctx, w: Workload, seconds: Double, minCycles: Int): Window = {
    val guard = new JobMeter(withTasks = false)
    c.spark.sparkContext.addSparkListener(guard)
    val cycles = w.cycles
    val out = mutable.ArrayBuffer[Sample]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0
    while (elapsed < seconds || n < minCycles) {
      n += 1
      cycles.next().foreach { op =>
        val s = System.currentTimeMillis()
        val a = System.nanoTime()
        val ok = try { op.run(); true } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op failed: $e")
            false
        }
        out += Sample(op.kind, (System.nanoTime() - a) / 1e6, s, System.currentTimeMillis(), ok)
      }
    }
    val wall = elapsed
    Bus.drain(c.spark.sparkContext)
    c.spark.sparkContext.removeSparkListener(guard)
    // an op that read a shuffle it did not write reused an earlier op's
    // output (its stage was skipped): it did not do the work it is
    // timed for, so it is an error; every op builds new Datasets, so
    // none should
    val checked = out.toSeq.map { s =>
      val g = guard.window(s.startMs, s.endMs)
      if (s.ok && g.reused > 0) {
        System.err.println(s"[perfbench] op at ${s.startMs} reused ${g.reused} of ${g.shuffles} shuffles")
        s.copy(ok = false)
      } else s
    }
    Window(checked, wall)
  }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.Sessions.localBuilder("graft-perfbench", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, work, seed)
    val w = Workload(name, c)

    // the traced run reports no setup_s, so it sets up once
    val reps = if (traced) 1 else SetupReps
    val setups = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] $name set-up reps (s): ${setups.map(x => f"$x%.2f").mkString(" ")}")
    // a traced run splits its window, half untraced and half traced,
    // and needs no steady medians from it, so a half may be one cycle
    val minCycles = if (traced) 1 else MinCycles
    val win = measure(c, w, if (traced) seconds / 2 else seconds, minCycles)
    System.err.println(f"[perfbench] $name window: ${win.samples.size} ops in ${win.wallS}%.1f s; " +
      win.samples.map(s => f"${if (s.kind == MainOp) "m" else "s"}${s.ms}%.0f").mkString(" "))

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    var attempted = win.samples.size
    var failed = win.samples.count(!_.ok)
    // a workload's correctness gate: every check counts as attempted,
    // every failed check (or a gate that throws) as failed
    def gate(n: String, wl: Workload): Unit = {
      val checks = try wl.gate() catch {
        case NonFatal(e) => Seq(s"$n: gate finished ($e)" -> false)
      }
      checks.filterNot(_._2).foreach(f => System.err.println(s"[perfbench] gate failed: ${f._1}"))
      attempted += checks.size
      failed += checks.count(!_._2)
    }
    if (!traced) {
      gate(name, w)
      metrics("setup_s") = (Stats.quantile(setups.drop(1), 0.5), "s")
      win.e2e.foreach { case (k, v, u) => metrics(k) = (v, u) }
    } else {
      // the same window again with the collectors attached: the
      // difference is the tracing overhead
      val t = new Tracer(spark)
      val tw = measure(c, w, seconds / 2, minCycles)
      attempted += tw.samples.size
      failed += tw.samples.count(!_.ok)
      win.e2e.zip(tw.e2e).foreach { case ((k, u0, unit), (_, t0, _)) =>
        metrics(s"trace_overhead.$k") = (t0 - u0, unit)
      }
      val layer = mutable.LinkedHashMap[String, Double]()
      Workload.Names.foreach { n =>
        val wl = if (n == name) w else Workload(n, c)
        val t0 = System.nanoTime()
        try wl.trace(t, layer) catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] traced pass of $n failed: $e")
            failed += 1
        }
        attempted += 1
        val t1 = System.nanoTime()
        gate(n, wl)
        System.err.println(f"[perfbench] $n traced pass ${(t1 - t0) / 1e9}%.1f s, " +
          f"gate ${(System.nanoTime() - t1) / 1e9}%.1f s")
      }
      t.detach()
      layer.foreach { case (k, v) => metrics(k) = (v, TraceUnits.of(k)) }
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
    }
    spark.stop()

    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}

object TraceUnits {
  def of(k: String): String = k match {
    case _ if k.endsWith("_s") => "s"
    case _ if k.endsWith("_ms") => "ms"
    case _ if k.endsWith("_mb") || k.endsWith("_mb_after") => "MB"
    case _ if k.endsWith(".jobs") || k.endsWith(".tasks") || k.endsWith("_rdds_after") => "count"
    case _ if k.endsWith("cells_per_probe") => "count"
    case _ => "ratio"
  }
}
