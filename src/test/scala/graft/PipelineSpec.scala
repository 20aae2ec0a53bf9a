package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.GmailPipeline
import graft.pipeline.GmailPipeline.Config
import graft.sources.SnapshotTable

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

  private def date(s: String) = java.sql.Date.valueOf(s)

  private def commitState(c: Config, ids: Seq[String]): Int = {
    import spark.implicits._
    SnapshotTable.commitAppend(ids.map((_, date("2022-11-30"))).toDF("id", "date"),
      c.stateDir, "id", 1)
  }

  private def ids(df: DataFrame): Seq[String] = {
    import spark.implicits._
    df.select("id").as[String].collect().toSeq.sorted
  }

  private def stateIds(c: Config): Seq[String] =
    ids(SnapshotTable.read(spark, c.stateDir))

  test("extract: anti-join dedup, within-batch dups, budget, state commit") {
    val root = tmp(); val c = cfg(root).copy(limit = 2)
    val msgs = GmailPipeline.readRaw(spark,
      Seq(seedBlob(root, Seq(
        message("a"), message("b"), message("b"),  // consecutive dup
        message("c"), message("d")))))

    // seen state: 'a' already ingested
    commitState(c, Seq("a"))

    val n1 = GmailPipeline.extract(spark, msgs, c, date("2022-12-01"))
    // 'a' seen, 'b' deduped within batch, budget=2 → exactly 2 new
    assert(n1 == 2)
    assert(SnapshotTable.read(spark, c.stateDir).count() == 3)

    // second run over the same incoming: budget counts only NEW ids —
    // of {b,c,d} two were ingested in run 1, so exactly 1 remains
    val n2 = GmailPipeline.extract(spark, msgs, c, date("2022-12-02"))
    assert(n2 == 1)
    assert(SnapshotTable.read(spark, c.stateDir).count() == 4)

    // third run: everything seen → exact dedup, nothing written
    val rawBefore = Paths.get(c.rawDir).toFile.list().toSet
    val vBefore = SnapshotTable.latestVersion(c.stateDir)
    val n3 = GmailPipeline.extract(spark, msgs, c, date("2022-12-03"))
    assert(n3 == 0)
    assert(Paths.get(c.rawDir).toFile.list().toSet == rawBefore)
    assert(SnapshotTable.latestVersion(c.stateDir) == vBefore)
    // dedup(dedup(x)) == dedup(x): state unchanged, ids unique
    assert(SnapshotTable.read(spark, c.stateDir).count() == 4)
    assert(stateIds(c).distinct.size == 4)
  }

  test("compactCommit on the state: many append files -> few, same ids, dedup intact") {
    val root = tmp(); val c = cfg(root)
    // 5 state commits (one per "run"), one file each
    for (i <- 1 to 5) commitState(c, Seq(s"id$i"))

    val (filesBefore, filesAfter, v) =
      SnapshotTable.compactCommit(spark, c.stateDir, "id", 4000000L)
    assert(filesBefore >= 5)
    assert(filesAfter < filesBefore)
    assert(SnapshotTable.read(spark, c.stateDir).count() == 5)
    assert(stateIds(c) == (1 to 5).map(i => s"id$i"))
    assert(SnapshotTable.latestVersion(c.stateDir).contains(v))

    // the compacted state still drives the anti-join
    val msgs = GmailPipeline.readRaw(spark,
      Seq(seedBlob(root, Seq(message("id1"), message("new1")))))
    assert(GmailPipeline.extract(spark, msgs, c, date("2022-12-02")) == 1)
  }

  test("extract after a crash between raw write and state commit ingests nothing twice") {
    val root = tmp(); val c = cfg(root)
    commitState(c, Seq("a"))
    // what a run killed after its raw write leaves: b and c in the raw
    // zone, written as the raw sink writes them, but not in the state
    GmailPipeline.readRaw(spark,
      Seq(seedBlob(root, Seq(message("b"), message("c")), "crashed.json")))
      .write.json(c.rawDir)
    val msgs = GmailPipeline.readRaw(spark, Seq(seedBlob(root,
      Seq("a", "b", "c", "d").map(i => message(i)))))
    // d is new; b and c are committed from the raw zone, not reselected
    assert(GmailPipeline.extract(spark, msgs, c, date("2022-12-01")) == 3)
    GmailPipeline.transformLoadRaw(spark, c, "day1")
    val stage1 = spark.read.option("header", true)
      .option("multiLine", true).csv(s"${c.stage1Dir}/day1")
    assert(ids(stage1) == Seq("b", "c", "d"))
    assert(stateIds(c) == Seq("a", "b", "c", "d"))
  }

  test("extract refuses a state directory without a snapshot log, writing nothing") {
    val root = tmp(); val c = cfg(root)
    import spark.implicits._
    // a plain parquet state: read as "no snapshot" it would be empty
    Seq(("a", date("2022-11-30"))).toDF("id", "date").write.parquet(c.stateDir)
    val msgs = GmailPipeline.readRaw(spark,
      Seq(seedBlob(root, Seq(message("a"), message("b")))))
    val e = intercept[IllegalStateException](
      GmailPipeline.extract(spark, msgs, c, date("2022-12-01")))
    assert(e.getMessage.contains(c.stateDir))
    assert(!Files.exists(Paths.get(c.rawDir)))
    assert(!Files.exists(Paths.get(c.stateDir, "_log")))
  }

  test("extract racing compactCommit on one state: ids stay readable, compactions land or fail their claim") {
    for (seed <- Seq(1, 2, 3)) {
      val root = tmp(); val c = cfg(root)
      commitState(c, Seq("s0"))
      val days = Seq("2022-12-01", "2022-12-02")
      val batches = days.map(d => GmailPipeline.readRaw(spark, Seq(seedBlob(
        root, (1 to 3).map(i => message(s"$d-$i")), s"$d.json"))))
      @volatile var done = false
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
        scala.util.Try[(Int, Int, Int)]]()
      val compactor = new Thread(() => {
        val rnd = new scala.util.Random(seed)
        while (!done) {
          Thread.sleep(rnd.nextInt(30))
          outcomes.add(scala.util.Try(
            SnapshotTable.compactCommit(spark, c.stateDir, "id", 1000L)))
        }
      })
      compactor.start()
      val counts = try batches.zip(days).map { case (b, d) =>
        GmailPipeline.extract(spark, b, c, date(d))
      } finally { done = true; compactor.join() }
      assert(counts == Seq(3L, 3L), s"seed $seed")
      assert(stateIds(c) == ("s0" +: days.flatMap(d => (1 to 3).map(i => s"$d-$i"))).sorted,
        s"seed $seed")
      outcomes.asScala.foreach {
        case scala.util.Success((_, after, v)) =>
          // a landed compaction rewrites every row it read into one file
          def rows(v: Int) =
            SnapshotTable.snapshot(c.stateDir, Some(v)).map(_.rows).sum
          assert(after == 1 && rows(v) == rows(v - 1), s"seed $seed v$v")
        case scala.util.Failure(e) =>
          assert(e.isInstanceOf[java.util.ConcurrentModificationException],
            s"seed $seed: $e")
      }
      info(s"seed $seed: ${outcomes.asScala.count(_.isSuccess)} of " +
        s"${outcomes.size} compactions landed")
    }
  }

  private def seedBlob(root: Path, msgs: Seq[String],
      name: String = "page.json"): String = {
    val dir = s"$root/incoming"
    writeBlob(dir, name, msgs)
    s"$dir/$name"
  }
}
