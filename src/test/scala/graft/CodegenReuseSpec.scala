package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.schema.GmailSchema
import graft.sources.{FixtureApiClient, SnapshotTable}
import graft.streaming.Streams

/** Steady state compiles nothing: once a plan's generated code is in
  * Spark's codegen cache, running the same work again, on a stream's
  * cloned session or on a `newSession()`, reuses it. The count is
  * Spark's own Janino compile counter, process-wide.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private lazy val mailbox: String = {
    val d = Files.createTempDirectory("graft-cgmail").toString
    val msgs = (1 to 12).map { i =>
      Fixtures.message(f"c$i%03d",
        headers = Seq(("From", s"Sender $i <s$i@example.com>"),
          ("Date", s"Thu, $i Dec 2022 10:15:30 -0800"),
          ("Subject", s"subject $i")),
        bodyData = Some(Fixtures.b64url(s"<p>body <b>$i</b></p>")),
        mimeType = "text/html")
    }
    Files.writeString(Paths.get(d, "messages.jsonl"),
      msgs.map(_.replaceAll("\n", " ")).mkString("", "\n", "\n"))
    d
  }

  /** One AvailableNow catch-up over the fixture mailbox into a fresh
    * table, every micro-batch committing as a one-file append; returns
    * the table's row count.
    */
  private def streamRun(): Long = {
    val base = Files.createTempDirectory("graft-cgrun").toString
    val table = s"$base/table"
    val raw = spark.readStream.format("graft.sources.PagedApiSource")
      .options(Map("client" -> classOf[FixtureApiClient].getName,
        "path" -> mailbox, "pageSize" -> "5", "maxPerTrigger" -> "5"))
      .load()
      .select(from_json(col("json"), GmailSchema.messageType).as("m"))
      .select(col("m.*"))
    val q = Streams.runWithBatchCommit(Streams.formattedStream(raw),
      s"$base/ckpt") { (batch, _) =>
      SnapshotTable.commitAppend(batch, table, "id", 1)
    }
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    SnapshotTable.read(spark, table).count()
  }

  test("a repeated AvailableNow run with one-file commits compiles no " +
      "new code") {
    assert(streamRun() == 12)
    val before = compiles()
    assert(streamRun() == 12)
    val delta = compiles() - before
    assert(delta == 0, s"the repeat run compiled $delta classes")
  }

  test("a query re-run in a new session compiles no new code") {
    def query(s: org.apache.spark.sql.SparkSession): Seq[(Long, Long)] =
      s.range(0, 1000).select((col("id") % 7).as("k"), col("id"))
        .groupBy("k").agg(sum(col("id") * 3).as("s"))
        .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
    val first = query(spark)
    val before = compiles()
    val again = query(spark.newSession())
    val delta = compiles() - before
    assert(again == first)
    assert(delta == 0, s"the new session compiled $delta classes")
  }
}
