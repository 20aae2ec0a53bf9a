package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}

/** Bench.Headline (one query per operator family), on the test tables
  * SparkEntry.entry reads (the smallest scale), run the way a fresh
  * Verify process runs the suite: each query's function call (its eager,
  * driver-side work) timed apart from executing the plan it returns into
  * a parquet dump, which the oracle check then reads. Round 0 is the
  * process's first pass, so it includes first-use costs (code generation,
  * JIT, the queries' own memoized indexes). Queries run in Headline order:
  * in a cold pass a query's time depends on what ran before it, so a
  * shuffled order would move the per-query median between seeds. The
  * inputs are the fixed test tables, so the seed changes nothing here.
  */
final class QueryMix(spark: SparkSession, trace: Trace,
    args: Map[String, String], out: Result) extends Workload {
  private val sf = new java.io.File(new java.net.URI(
    SparkEntry.entry(spark).inputFiles.head)).getParent
  private val dumps = Paths.get(args("work")).resolve("dumps")
  private val queries = SparkEntry.queries
  private val failed = scala.collection.mutable.LinkedHashSet.empty[String]
  private val traced = ArrayBuffer.empty[(String, Double, Double)]

  /** Nothing to prepare beyond the session: the first pass is the
    * measurement.
    */
  override def setup(): Seq[Double] = Nil
  override def coldFirstRound: Boolean = true

  /** A round's units are the queries that returned a result. */
  override def round(i: Int, on: Boolean): Round = {
    var ran = 0L
    val steps = Bench.Headline.map { name =>
      val t0 = System.nanoTime()
      try {
        val df = trace.span("queries.eager")(queries(name)(spark, sf))
        val t1 = System.nanoTime()
        trace.span("queries.exec") {
          df.coalesce(1).write.mode("overwrite")
            .parquet(dumps.resolve(name).toString)
        }
        ran += 1
        if (on) traced += ((name, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      } catch { case t: Throwable => failed += name; out.error(name, t) }
      (System.nanoTime() - t0) / 1e6
    }
    Round(on, ran, steps)
  }

  override def finish(): Unit = {
    val oracle = Bench.Headline.flatMap(n => SparkEntry.oracleSql.get(n)
      .map(n -> _)).toMap
    Files.writeString(dumps.resolve("oracle_sql.json"), Json.value(oracle))
    out.put("dump_dir", dumps.toString)
    out.put("sf_dir", sf)
    out.put("failed_queries", failed.toList)
    out.put("queries", Bench.Headline)
  }

  override def layers(spans: Seq[Span]): Map[String, Double] = {
    val passes = traced.size.toDouble / Bench.Headline.size
    val calls = Stats.named(spans, "queries.eager") ++
      Stats.named(spans, "queries.exec")
    def perPass(f: Span => Double) = calls.map(f).sum / passes
    Map(
      "queries.eager_s" -> traced.map(_._2).sum / passes,
      "queries.exec_s" -> traced.map(_._3).sum / passes,
      "queries.planning_s" -> trace.planningNs.sum / 1e9 / passes,
      "queries.jobs" -> perPass(_.attrs.getOrElse("jobs", 0.0)),
      "queries.exec_cpu_s" -> perPass(_.attrs.getOrElse("cpu_s", 0.0)),
      "queries.shuffle_bytes" -> perPass(_.attrs.getOrElse("shuffle_bytes", 0.0))
    ) ++ traced.groupBy(_._1).map { case (n, rs) =>
      s"queries.$n.s" -> Stats.median(rs.map(r => r._2 + r._3).toSeq) }
  }
}
