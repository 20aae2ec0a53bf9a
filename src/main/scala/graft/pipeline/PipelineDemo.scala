package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Runnable end-to-end demo of the Gmail pipeline over a bundled sample
  * blob: `runMain graft.pipeline.PipelineDemo <workDir>`.
  * Writes a one-line raw array-blob, runs extract (dedup+state) and
  * transformLoadRaw (format+CSV+archive), prints the stage-1 rows.
  */
object PipelineDemo {
  private def b64url(s: String): String =
    java.util.Base64.getUrlEncoder.encodeToString(s.getBytes("UTF-8"))

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft-demo").toString)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = GmailPipeline.Config(
      rawDir = s"$work/raw", stateDir = s"$work/state",
      stage1Dir = s"$work/stage-1", processedDir = s"$work/raw/processed")

    val indeedBody = b64url(
      """<div dir="rtl"><p>Application submitted!</p>
        |<p>Data Engineer</p><a href="#">Austin - Remote</a>
        |<p>Acme Corp</p></div>""".stripMargin)
    // the reference's raw blob: a JSON array of messages.get resources
    // on ONE line (`json.dumps(data)`)
    val blob =
      s"""[
         |{"id": "m1", "threadId": "m1", "payload": {"mimeType": "text/html",
         |  "headers": [
         |    {"name": "From", "value": "Indeed Apply <indeedapply@indeed.com>"},
         |    {"name": "Date", "value": "Thu, 1 Dec 2022 10:15:30 -0800"},
         |    {"name": "Subject", "value": "Application submitted"}],
         |  "body": {"size": 1, "data": "$indeedBody"}}},
         |{"id": "m2", "threadId": "m2", "payload": {"mimeType": "text/plain",
         |  "headers": [{"name": "From", "value": "a@b.c"}],
         |  "body": {"size": 1, "data": "${b64url("plain body")}"}}}
         |]""".stripMargin.replace('\n', ' ')
    Files.createDirectories(Paths.get(s"$work/incoming"))
    Files.writeString(Paths.get(s"$work/incoming/page.json"), blob)

    val incoming = GmailPipeline.readRaw(spark, Seq(s"$work/incoming/page.json"))
    val n = GmailPipeline.extract(spark, incoming, cfg,
      java.sql.Date.valueOf(java.time.LocalDate.now()))
    println(s"[demo] extract ingested $n new messages into ${cfg.rawDir}")

    // extract's raw sink writes JSONL; the same line-mode read takes it
    val raw = GmailPipeline.readRaw(spark, Seq(cfg.rawDir))
    val formatted = GmailPipeline.formatMessages(raw)
    println("[demo] formatted stage-1 rows:")
    formatted.orderBy("id").show(truncate = false)

    val again = GmailPipeline.extract(spark, incoming, cfg,
      java.sql.Date.valueOf(java.time.LocalDate.now()))
    println(s"[demo] re-run extract (dedup): $again new messages")
    spark.stop()
  }
}
