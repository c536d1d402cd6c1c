package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its raw measurements as JSON.
  *
  * Set-up (session start and one warm iteration) is timed from JVM
  * start. Then iterations run back to back, one at a time, until their
  * summed time reaches `--seconds`. With `--trace 1` the same number of
  * seconds is measured again with tracing on, followed by the per-stage
  * probes, and the per-layer report is built from the traced iterations.
  * Correctness facts are gathered last, outside every timed window.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR --out FILE
  *                       --seconds S --trace 0|1 --cores N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    System.setProperty("derby.system.home", s"$work/derby")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wl = Workload(opt("workload"), spark, opt("inputs"), work)
    wl.prepare()
    wl.iteration(Tracer.off)
    wl.afterIteration()
    wl.resetCounts()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // A traced run alternates untraced and traced iterations, so JIT
    // warm-up drift cancels out of the tracing overhead.
    val t = if (trace) new Tracer(true, spark.sparkContext) else Tracer.off
    val samples = timed(wl, Seq(Tracer.off, t).distinct, if (trace) 2 * seconds else seconds)
    val runS = samples(Tracer.off)
    val traced = if (trace) {
      wl.probe(t)
      t.settle()
      Some((t, samples(t)))
    } else None
    val checks = wl.check()
    val layers = traced.map { case (t, samples) =>
      Layers.report(t, wl, cores, samples, checks) ++ Map(
        "trace.run_s" -> Layers.median(samples),
        "trace.overhead_s" -> (Layers.median(samples) - Layers.median(runS)))
    }
    traced.foreach { case (t, _) =>
      Files.write(Paths.get(s"$work/spans.jsonl"), t.toJsonLines.toSeq.asJava)
    }
    val result = Map[String, Any](
      "workload" -> opt("workload"),
      "cores" -> cores,
      "setup_s" -> setupS,
      "run_s" -> runS,
      "attempted" -> wl.attempted,
      "failed" -> wl.failed,
      "input_rows" -> wl.inputRows,
      "sink_bytes" -> wl.sinkBytes,
      "peak_rss_mb" -> peakRssMb,
      "checks" -> checks,
      "layers" -> layers)
    Files.writeString(Paths.get(opt("out")), Json.write(result))
    spark.stop()
    wl.close()
  }

  /** Iterations back to back, taking turns among `tracers`, until their
    * summed time reaches `seconds`; returns the duration of every
    * iteration that succeeded, per tracer. */
  def timed(wl: Workload, tracers: Seq[Tracer], seconds: Double): Map[Tracer, Seq[Double]] = {
    val samples = tracers.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    var spent = 0.0
    var i = 0
    while (i < 10000 && (spent < seconds ||
        (samples.values.exists(_.isEmpty) && i < 4 * tracers.size))) {
      val t = tracers(i % tracers.size)
      wl.prepare()
      t.iter = s"it$i"
      val t0 = System.nanoTime()
      val ok = try { t.span("iteration")(wl.iteration(t)); true }
      catch { case e: Exception =>
        wl.failed += 1
        System.err.println(s"[perfbench] iteration $i failed: $e")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spent += dt
      if (ok) samples(t) += dt
      t.settle()
      wl.afterIteration()
      i += 1
    }
    samples.map { case (t, s) => t -> s.toSeq }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
