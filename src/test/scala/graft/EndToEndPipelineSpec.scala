package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.schema.GmailSchema
import graft.sources.SnapshotTable

/** The composed EP1→EP2 lifecycle (reference gmail_dag.py:9) in ONE spec:
  * PagedApiSource MICRO_BATCH stream → the full formatMessages transform
  * chain → SnapshotTable exactly-once append, with a failure injected
  * mid-stream. The pieces are proven separately (SourcesSpec mid-batch
  * kill, SnapshotTableSpec crash windows, StreamingSpec drain); this
  * asserts the END STATE of the composition: after the crash the
  * table's latest snapshot holds exactly the committed batches, and
  * after the restart every message appears in the committed snapshot
  * exactly once — the reference's write-raw-then-commit idempotence,
  * delivered by `commitAppendOnce` (the batch id rides the table's
  * pointer) under the streaming checkpoint instead of a hand-rolled id
  * table.
  */
class EndToEndPipelineSpec extends SparkSpec {

  test("stream → transform → transactional sink: exactly-once across an injected mid-stream restart") {
    val src = Files.createTempDirectory("graft-e2e-src").toString
    val msgs = (1 to 12).map { i =>
      Fixtures.message(f"e$i%03d",
        headers = Seq(
          ("From", s"Sender $i <sender$i@example.com>"),
          ("Subject", s"subject $i"),
          ("Date", "Thu, 1 Dec 2022 10:15:30 -0800")),
        bodyData = Some(Fixtures.b64url(s"hello <b>$i</b>")))
        .replaceAll("\n", " ")
    }
    Files.writeString(Paths.get(src, "messages.jsonl"),
      msgs.mkString("\n") + "\n")
    val sink = Files.createTempDirectory("graft-e2e-sink").toString
    val ckpt = Files.createTempDirectory("graft-e2e-ckpt").toString

    def run(): Unit = {
      val stream = spark.readStream
        .format("graft.sources.PagedApiSource")
        .option("client", classOf[FailOnceApiClient].getName)
        .option("path", src)
        .option("pageSize", "10")
        .option("maxPerTrigger", "4")
        .load()
      val formatted = graft.pipeline.GmailPipeline.formatMessages(
        stream.select(from_json(col("json"), GmailSchema.messageType)
          .as("m")).select(col("m.*")))
        .filter(col("id").isNotNull)
      val q = Streams2.commit(formatted, ckpt, sink)
      q.awaitTermination()
    }

    // batches admit ids [1-4], [5-8], [9-12]; the armed id blows up the
    // per-message GET INSIDE batch 2's commit job, after batch 1
    // committed — a SOURCE fault that kills the commit before its
    // pointer swing
    FailOnceApiClient.arm("e006")
    intercept[StreamingQueryException](run())

    // mid-crash state: exactly the pre-crash batch is visible — one
    // committed snapshot holding ids e001-e004; the aborted batch left
    // nothing behind the pointer
    assert(SnapshotTable.latestVersion(sink).contains(1),
      "batch 1 alone must have committed before the crash")
    val midIds = SnapshotTable.read(spark, sink)
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(midIds == (1 to 4).map(i => f"e$i%03d"),
      s"latest snapshot after crash: $midIds")

    // restart from the same checkpoint (client now disarmed): the failed
    // batch replays, the tail drains, and the LATEST committed snapshot
    // carries every message exactly once
    run()
    val result = SnapshotTable.read(spark, sink)
    assert(result.count() == 12)
    assert(result.select("id").distinct().count() == 12)

    // the transform chain really ran inside the stream: spot-check the
    // formatted fields of one committed row
    val r7 = result.filter(col("id") === "e007")
      .select("subject", "from", "date_string", "body").head()
    assert(r7.getString(0) == "subject 7")
    assert(r7.getString(1) == "sender7@example.com")
    assert(r7.getString(2) == "12/01/22 10:15:30")
    // per-node trim + ''-join: "hello <b>7</b>" → "hello" + "7"
    assert(r7.getString(3) == "hello7")

    // committed-before-crash messages were never re-fetched (cursor
    // resumed, not rewound); the failed batch re-fetched at most once
    def cnt(id: String) =
      Option(FailOnceApiClient.counts.get(id)).fold(0)(_.get())
    (1 to 4).foreach { i =>
      assert(cnt(f"e$i%03d") == 1, s"batch-1 id e$i%03d re-fetched")
    }
    (5 to 12).foreach { i =>
      val c = cnt(f"e$i%03d")
      assert(c >= 1 && c <= 2, s"e$i%03d fetched $c times")
    }

    // snapshot history is the batch history: v1 = batch 1, then the
    // replayed batch and the tail — 3 committed versions, monotone rows
    // (per-version counts off the manifests, no data file opened)
    assert(SnapshotTable.latestVersion(sink).contains(3))
    assert((1 to 3).map(v => SnapshotTable.statsAgg(sink, Some(v))._1) ==
      Seq(4L, 8L, 12L))
  }
}

/** Tiny named holder so the spec's streaming closure captures no
  * outer test-class state (scalatest suites aren't serializable).
  */
private object Streams2 {
  def commit(df: org.apache.spark.sql.DataFrame, ckpt: String,
      sink: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streams.runWithBatchCommit(df, ckpt) { (batch, id) =>
      SnapshotTable.commitAppendOnce(batch, sink, "id", 1, id,
        writerId = ckpt)
    }
}
