package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{EmailOps, Extractors}
import graft.schema.GmailSchema
import graft.sources.SnapshotTable

/** The reference pipeline (SURVEY.md §3), re-expressed as lazy DataFrame
  * lineage:
  *
  *  - EP1 `extract`: incoming messages → exact dedup against the
  *    seen-id state, a [[SnapshotTable]] keyed on `id`, plus the ids of
  *    blobs still waiting in the raw zone (one distributed left-anti
  *    join replaces the reference's N+1 point SELECTs,
  *    gmail_functions.py:173-178) → new-message budget (`limit` counts
  *    only NEW messages, like the reference's counter) → raw-zone sink →
  *    state commit of every raw-zone id the state lacks, read back from
  *    the files that landed (after the raw write, as the reference
  *    commits, :131-137). The raw zone is the state's write-ahead log,
  *    so a crash between the two writes ingests nothing twice, and
  *    compaction is a plain [[SnapshotTable.compactCommit]].
  *
  *  - EP2 `transformLoadRaw`: raw blobs → header/body operators
  *    ([[EmailOps]]) → per-sender extractors ([[Extractors]]) → stage-1
  *    CSV sink → archive processed blobs to `processed/` (only after the
  *    stage-1 write succeeds, :311-315).
  *
  * Deliberate divergence (SURVEY.md §1.3): the reference's
  * remove-while-iterating bug can skip a duplicate that immediately
  * follows a removed element; this engine dedups exactly.
  */
object GmailPipeline {

  case class Config(
      rawDir: String,
      stateDir: String,
      stage1Dir: String,
      processedDir: String,
      limit: Int = 300,
      linkedinEnabled: Boolean = false)

  /** Raw-zone read (S4), line mode: each line is one JSON value. A line
    * holding a JSON ARRAY of messages.get resources — the reference's
    * one-line `json.dumps(data)` blob, gmail_functions.py:127-129 —
    * explodes into one row per element, and a line holding one object
    * is one row, so the same read takes the reference's blobs and the
    * line-delimited files [[extract]]'s raw sink writes (which split
    * across tasks).
    */
  def readRaw(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(GmailSchema.messageType).json(paths: _*)

  /** State read (S9): the seen-id [[SnapshotTable]] `emails(id, date)`,
    * empty before its first commit. A `stateDir` that holds files but no
    * `_log` (a plain parquet state, or anything else put there) is not
    * a snapshot table: reading it as empty state would ingest every
    * message again, so it throws, naming the directory.
    */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    if (SnapshotTable.latestVersion(stateDir).isDefined)
      SnapshotTable.read(spark, stateDir)
    else {
      val dir = Paths.get(stateDir)
      val stray = Files.exists(dir) && !Files.exists(dir.resolve("_log")) &&
        (!Files.isDirectory(dir) || {
          val ls = Files.list(dir); try ls.findAny().isPresent finally ls.close()
        })
      if (stray) throw new IllegalStateException(
        s"state directory $stateDir holds files but no SnapshotTable _log; " +
          "refusing to read it as empty state")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        GmailSchema.stateType)
    }

  /** J1: exact dedup — keep only ids not present in state. */
  def newMessages(incoming: DataFrame, state: DataFrame): DataFrame =
    incoming.join(state.select(col("id")), Seq("id"), "left_anti")

  /** The raw zone's blobs: a non-recursive listing of `rawDir`
    * (reference delimiter='/', gmail_functions.py:84,255), so the
    * processed/ subdir is not re-read.
    */
  private def rawBlobs(fs: FileSystem, rawDir: String): Seq[FileStatus] = {
    val rawPath = new Path(rawDir)
    if (!fs.exists(rawPath)) Nil
    else fs.listStatus(rawPath).toSeq
      .filter(b => b.isFile && b.getPath.getName.endsWith(".json"))
  }

  private def rawIds(spark: SparkSession, blobs: Seq[FileStatus]): DataFrame =
    readRaw(spark, blobs.map(_.getPath.toString))
      .select(col("id")).filter(col("id").isNotNull)

  /** EP1 extract: dedup → budget → raw sink → state commit.
    * `today` is the ingestion date the reference stamps into the state
    * table (gmail_functions.py:105,126) — a parameter for determinism.
    *
    * The raw zone is the state's write-ahead log. The selection excludes
    * the state AND every blob still waiting in `rawDir`; after the raw
    * write, the state commits every raw-zone id it lacks, read back from
    * the files that landed. A run killed between the two writes leaves
    * a blob whose ids the next run neither selects again nor leaves
    * uncommitted. Returns the number of ids this run committed to the
    * state (its commit's manifest row count).
    */
  def extract(spark: SparkSession, incoming: DataFrame, cfg: Config,
      today: java.sql.Date): Long = {
    val state = readState(spark, cfg.stateDir)
    val fs = new Path(cfg.rawDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pending = rawBlobs(fs, cfg.rawDir)
    val seen =
      if (pending.isEmpty) state.select(col("id"))
      else state.select(col("id")).union(rawIds(spark, pending))
    // The budget counts only NEW messages (reference increments `count`
    // only on fetch, gmail_functions.py:182) — so limit AFTER the anti-join.
    // Within-batch duplicates also collapse (the reference's uncommitted
    // state insert is visible to its own later probes,
    // gmail_functions.py:118-126). Malformed blobs parse to all-null
    // rows; a null id must not enter the state or consume budget.
    newMessages(incoming.filter(col("id").isNotNull), seen)
      .dropDuplicates("id").limit(cfg.limit)
      .write.mode(SaveMode.Append).json(cfg.rawDir)
    // an empty selection still leaves the writer's one empty part file
    val (empty, written) = rawBlobs(fs, cfg.rawDir)
      .filterNot(b => pending.exists(_.getPath == b.getPath))
      .partition(_.getLen == 0)
    empty.foreach(b => fs.delete(b.getPath, false))
    // each raw-zone id appears once: the selection is deduplicated and
    // excludes every pending blob's ids
    val lacking = newMessages(rawIds(spark, pending ++ written), state)
      .select(col("id"), lit(today).as("date"))
    // a run with nothing new and nothing pending adds no state version
    if (written.isEmpty && (pending.isEmpty || lacking.isEmpty)) 0L
    else {
      val v = SnapshotTable.commitAppend(lacking, cfg.stateDir, "id", 1)
      SnapshotTable.snapshot(cfg.stateDir, Some(v)).last.rows
    }
  }

  /** P1…F7/X1: one message row → one formatted stage-1 row. */
  def formatMessages(messages: DataFrame,
      linkedinEnabled: Boolean = false): DataFrame = {
    val hdrs = col("payload.headers")
    val withBase = messages.select(
      col("id"),
      col("payload.mimeType").as("mimeType"),
      EmailOps.headerValue(hdrs, "subject").as("subject"),
      EmailOps.formatDateString(EmailOps.headerValue(hdrs, "date"))
        .as("date_string"),
      EmailOps.fromAddr(EmailOps.headerValue(hdrs, "from")).as("from"),
      EmailOps.bodyText(col("payload")).as("_rawBody"))
    val meta = when(col("from") === "indeedapply@indeed.com",
      Extractors.indeedUdf(col("_rawBody")))
      .when(lit(linkedinEnabled) &&
        col("from") === "jobs-noreply@linkedin.com",
        Extractors.linkedinUdf(col("_rawBody")))
    withBase
      .withColumn("body",
        EmailOps.cleanBody(EmailOps.htmlToText(col("_rawBody"))))
      .withColumn("_meta", meta)
      .select(
        col("id"), col("mimeType"), col("subject"), col("date_string"),
        col("from"), col("body"),
        col("_meta.role").as("role"),
        col("_meta.org").as("org"),
        col("_meta.location").as("location"))
  }

  /** EP2: raw blobs → formatted rows → stage-1 CSV → archive blobs.
    * Returns (rows written, blobs archived).
    */
  def transformLoadRaw(spark: SparkSession, cfg: Config,
      outName: String): (Long, Int) = {
    val fs = new Path(cfg.rawDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val blobs = rawBlobs(fs, cfg.rawDir).map(_.getPath)
    if (blobs.isEmpty) return (0L, 0)

    // Malformed blobs parse to all-null rows in PERMISSIVE mode; dropping
    // null ids mirrors the reference's silent skip (bare except at :261).
    val formatted = formatMessages(
      readRaw(spark, blobs.map(_.toString)), cfg.linkedinEnabled)
      .filter(col("id").isNotNull)

    // Stage-1 CSV (S7): header + quote-all approximates pandas
    // QUOTE_NONNUMERIC (documented divergence: Spark quotes everything,
    // pandas leaves numerics bare; no numeric columns exist here anyway).
    // Spark's CSV WRITER trims each value's outer whitespace by default
    // (its reader does not): both ignore*WhiteSpace options are off so
    // a value lands byte-identical.
    formatted.write.mode(SaveMode.Overwrite)
      .option("header", true).option("quoteAll", true)
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .csv(s"${cfg.stage1Dir}/$outName")

    // Archive only after a successful stage-1 write (S8; reference
    // :311-315). Rename is atomic per blob on a real filesystem.
    val processed = new Path(cfg.processedDir)
    if (!fs.exists(processed)) fs.mkdirs(processed)
    var moved = 0
    blobs.foreach { b =>
      if (fs.rename(b, new Path(processed, b.getName))) moved += 1
    }
    // count what actually LANDED (not the lazy plan) — with
    // multiLine=true, because quoteAll writes any embedded newline in
    // subject/from as a quoted multi-line field, and the default
    // per-physical-line read would split it into extra records and
    // inflate the count; the written schema is passed, so no job runs
    // just to read the header back
    (formatted.sparkSession.read.schema(formatted.schema)
      .option("header", true).option("multiLine", true)
      .csv(s"${cfg.stage1Dir}/$outName").count(), moved)
  }
}
