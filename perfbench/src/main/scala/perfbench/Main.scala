package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One round of a workload: its closed-loop steps (days or queries) and
  * the process CPU and JIT compile time it took.
  */
final case class Round(traced: Boolean, units: Long, stepsMs: Seq[Double],
    cpuS: Double = 0, jitS: Double = 0) {
  def wallS: Double = stepsMs.sum / 1000.0
}

/** Benchmark JVM: runs one workload for a fixed time and writes its raw
  * timings, per-layer figures and output locations as JSON. `run.py`
  * generates the inputs beforehand and checks the outputs afterwards.
  *
  * Args: --workload W --seconds S --trace 0|1 --seed N --work DIR
  *       --out FILE, plus the workload's own (see Ingest, QueryMix)
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work"))
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = graft.Graft.localSession(4, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark)
    val out = new Result
    out.put("session_s", sessionS)
    out.put("work", work.toString)
    try {
      val w: Workload = workload match {
        case "ingest" => new Ingest(spark, trace, args, out)
        case "query_mix" => new QueryMix(spark, trace, args, out)
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      out.put("warmup_s", w.setup())
      // Rounds repeat until the measuring time is used up. A traced run
      // brackets each traced round between untraced ones (after a cold
      // first round, if the workload has one), so one process gives both
      // the layer figures and the tracing overhead, and a trend in round
      // times cancels out of the overhead.
      val rounds = ArrayBuffer.empty[Round]
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      val cold = if (w.coldFirstRound) 1 else 0
      val minRounds = if (traced) cold + 3 else w.minRounds
      out.put("cold_first_round", w.coldFirstRound)
      while (rounds.size < minRounds || elapsed < seconds) {
        val on = traced && rounds.size >= cold && (rounds.size - cold) % 2 == 1
        if (on) trace.on()
        trace.round = s"r${rounds.size}"
        val (cpu0, jit0) = (Stats.processCpuS, Stats.jitS)
        rounds += w.round(rounds.size, on).copy(
          cpuS = Stats.processCpuS - cpu0, jitS = Stats.jitS - jit0)
        if (on) trace.off()
      }
      out.put("measured_s", elapsed)
      out.put("rounds", rounds.map(r => Map("traced" -> r.traced,
        "units" -> r.units, "wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
        "jit_s" -> r.jitS, "steps_ms" -> r.stepsMs)))
      w.finish()
      if (traced) {
        val spans = trace.finished
        out.put("layers", w.layers(spans) ++ Map(
          "trace.jobs" -> trace.jobs.sum.toDouble,
          "trace.exec_cpu_s" -> trace.cpuNs.sum / 1e9,
          "trace.shuffle_bytes" -> trace.shuffleBytes.sum.toDouble,
          "trace.spans" -> spans.size.toDouble))
        trace.writeSpans(work.resolve("spans.jsonl"))
      }
    } finally {
      Files.writeString(Paths.get(args("out")), out.render)
      spark.stop()
    }
  }
}

/** The JSON object the JVM hands back to run.py. */
final class Result {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val errs = ArrayBuffer.empty[String]
  def put(k: String, v: Any): Unit = fields(k) = v
  def error(what: String, t: Throwable): Unit = errs.synchronized {
    errs += s"$what: ${Errors.describe(t)}"
  }
  def render: String = Json.value(fields.toMap + ("errors" -> errs.toList))
}

object Errors {
  def describe(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  /** The innermost frames of `t`'s cause chain, for classifying a failure
    * by where it was thrown.
    */
  def frames(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .flatMap(_.getStackTrace.take(64).map(f =>
        s"${f.getClassName}.${f.getMethodName}")).toSeq
}

trait Workload {
  /** Whether round 0 pays the process's first-use costs. */
  def coldFirstRound: Boolean = false
  /** Rounds an untraced run measures at least. */
  def minRounds: Int = 1
  /** Untimed preparation; returns the time of each warm-up repetition. */
  def setup(): Seq[Double]
  def round(i: Int, traced: Boolean): Round
  /** Untimed work after the last round (output dumps for the checks). */
  def finish(): Unit = ()
  def layers(spans: Seq[Span]): Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** CPU time of the whole JVM (driver, executor threads, JIT, GC). */
  def processCpuS: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** Time the JIT compiler threads have spent compiling. */
  def jitS: Double = java.lang.management.ManagementFactory
    .getCompilationMXBean.getTotalCompilationTime / 1e3

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def named(spans: Seq[Span], name: String): Seq[Span] =
    spans.filter(_.name == name)

  /** Median over rounds of a per-round total. */
  def perRound(spans: Seq[Span], name: String)(f: Span => Double): Double =
    median(named(spans, name).groupBy(_.round).values
      .map(_.map(f).sum).toSeq)
}
