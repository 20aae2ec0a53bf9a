package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import graft.pipeline.GmailPipeline
import graft.pipeline.GmailPipeline.Config

/** E2E: raw array-blobs → transform → stage-1 CSV → archive; extract
  * dedup protocol incl. the duplicate scenarios the reference's
  * list.remove bug mishandles (SURVEY.md §1.3, FIXTURES.md §2).
  */
class PipelineSpec extends SparkSpec {
  import Fixtures._

  private def tmp(): Path = Files.createTempDirectory("graft-e2e")

  private def cfg(root: Path): Config = Config(
    rawDir = s"$root/raw",
    stateDir = s"$root/state",
    stage1Dir = s"$root/stage-1",
    processedDir = s"$root/raw/processed",
    limit = 300)

  /** A raw blob as the reference writes it (`json.dumps(data)`): one
    * JSON array on ONE line.
    */
  private def writeBlob(dir: String, name: String, msgs: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name),
      msgs.map(_.replace('\n', ' ')).mkString("[", ",", "]"))
  }

  test("transformLoadRaw: multi-blob union, format, archive, malformed skip") {
    val root = tmp(); val c = cfg(root)
    writeBlob(c.rawDir, "2022-12-01T000000.json",
      Seq(indeedMessage("i1"), deepMessage("d1")))
    writeBlob(c.rawDir, "2022-12-02T000000.json",
      Seq(message("p1", headers = Seq(("From", "x <x@y.z>")),
        bodyData = Some(b64url("hello")))))
    // malformed blob — reference skips it via bare except (:261)
    Files.writeString(Paths.get(c.rawDir, "broken.json"), "{not json!")

    val (rows, moved) = GmailPipeline.transformLoadRaw(spark, c, "run1")
    assert(rows == 3)   // 2 + 1, malformed contributed nothing
    assert(moved == 3)  // all three blobs archived (incl. the bad one)

    // archived exactly once; raw/ now only has processed/
    val rawLeft = Paths.get(c.rawDir).toFile.listFiles.filter(_.isFile)
    assert(rawLeft.isEmpty)
    assert(Paths.get(c.processedDir, "broken.json").toFile.exists)

    // stage-1 readable with union-of-keys schema; Indeed row enriched
    val out = spark.read.option("header", true)
      .csv(s"${c.stage1Dir}/run1")
    assert(out.columns.toSeq == Seq("id", "mimeType", "subject",
      "date_string", "from", "body", "role", "org", "location"))
    val i1 = out.filter(col("id") === "i1").collect()(0)
    assert(i1.getAs[String]("org") == "Acme Corp")

    // idempotent re-run: nothing left to read
    assert(GmailPipeline.transformLoadRaw(spark, c, "run2") == ((0L, 0)))
  }

  test("transformLoadRaw: stage-1 CSV keeps outer whitespace") {
    val root = tmp(); val c = cfg(root)
    // the cleaned body keeps the spaces the dropped non-ASCII chars
    // shielded from the per-node trim; the subject header is verbatim
    writeBlob(c.rawDir, "2022-12-01T000000.json",
      Seq(message("w1", headers = Seq(("Subject", "  padded subject  ")),
        bodyData = Some(b64url("\u00e9 hello there \u00e9")))))
    val formatted = GmailPipeline.formatMessages(GmailPipeline.readRaw(
      spark, Seq(s"${c.rawDir}/2022-12-01T000000.json")))
      .select("subject", "body").head()
    assert(formatted.getString(0) == "  padded subject  ")
    assert(formatted.getString(1) == " hello there ")
    assert(GmailPipeline.transformLoadRaw(spark, c, "ws") == ((1L, 1)))
    val landed = spark.read.option("header", true)
      .option("multiLine", true).csv(s"${c.stage1Dir}/ws")
      .select("subject", "body").head()
    assert(landed.getString(0) == "  padded subject  ")
    assert(landed.getString(1) == " hello there ")
  }

  test("extract then transformLoadRaw delivers every new message") {
    val root = tmp(); val c = cfg(root)
    val ids = (1 to 6).map(i => s"n$i")
    val incoming = GmailPipeline.readRaw(spark, Seq(seedBlob(root,
      ids.map(i => message(i, headers = Seq(("Subject", s"subject $i")))))))
    assert(GmailPipeline.extract(spark, incoming, c,
      java.sql.Date.valueOf("2022-12-01")) == 6)
    // the raw sink writes line-delimited files, several messages each;
    // every message must reach stage-1, not one per raw file
    val (rows, moved) = GmailPipeline.transformLoadRaw(spark, c, "day1")
    assert(moved >= 1)
    assert(rows == 6)
    import spark.implicits._
    val landed = spark.read.option("header", true)
      .option("multiLine", true).csv(s"${c.stage1Dir}/day1")
      .select("id", "subject").as[(String, String)].collect().sorted
    assert(landed.toSeq == ids.map(i => (i, s"subject $i")))
  }

  test("extract: anti-join dedup, within-batch dups, budget, state commit") {
    val root = tmp(); val c = cfg(root).copy(limit = 2)
    val msgs = GmailPipeline.readRaw(spark,
      Seq(seedBlob(root, Seq(
        message("a"), message("b"), message("b"),  // consecutive dup
        message("c"), message("d")))))

    // seen state: 'a' already ingested
    import spark.implicits._
    Seq(("a", java.sql.Date.valueOf("2022-11-30")))
      .toDF("id", "date").write.parquet(c.stateDir)

    val n1 = GmailPipeline.extract(spark, msgs, c,
      java.sql.Date.valueOf("2022-12-01"))
    // 'a' seen, 'b' deduped within batch, budget=2 → exactly 2 new
    assert(n1 == 2)
    val state = spark.read.parquet(c.stateDir)
    assert(state.count() == 3)

    // second run over the same incoming: budget counts only NEW ids —
    // of {b,c,d} two were ingested in run 1, so exactly 1 remains
    val n2 = GmailPipeline.extract(spark, msgs, c,
      java.sql.Date.valueOf("2022-12-02"))
    assert(n2 == 1)
    assert(spark.read.parquet(c.stateDir).count() == 4)

    // third run: everything seen → exact dedup, nothing written
    val n3 = GmailPipeline.extract(spark, msgs, c,
      java.sql.Date.valueOf("2022-12-03"))
    assert(n3 == 0)
    // dedup(dedup(x)) == dedup(x): state unchanged, ids unique
    assert(spark.read.parquet(c.stateDir).count() == 4)
    assert(spark.read.parquet(c.stateDir).select("id").distinct().count() == 4)
  }

  test("compactState: many append files -> few, same ids, dedup intact") {
    val root = tmp(); val c = cfg(root)
    import spark.implicits._
    // 5 appended state files (one per "run")
    for (i <- 1 to 5)
      Seq((s"id$i", java.sql.Date.valueOf("2022-12-01")))
        .toDF("id", "date").write.mode("append").parquet(c.stateDir)
    val filesBefore = new java.io.File(c.stateDir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesBefore >= 5)

    val n = GmailPipeline.compactState(spark, c.stateDir)
    assert(n == 5)
    val filesAfter = new java.io.File(c.stateDir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter < filesBefore)
    val ids = spark.read.parquet(c.stateDir).select("id")
      .as[String].collect().sorted
    assert(ids.toSeq == (1 to 5).map(i => s"id$i"))

    // the compacted state still drives the anti-join
    val msgs = GmailPipeline.readRaw(spark,
      Seq(seedBlob(root, Seq(message("id1"), message("new1")))))
    assert(GmailPipeline.extract(spark, msgs, c,
      java.sql.Date.valueOf("2022-12-02")) == 1)
  }

  private def seedBlob(root: Path, msgs: Seq[String]): String = {
    val dir = s"$root/incoming"
    writeBlob(dir, "page.json", msgs)
    s"$dir/page.json"
  }
}
