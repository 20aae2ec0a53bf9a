package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{EmailOps, Extractors}
import graft.schema.GmailSchema

/** The reference pipeline (SURVEY.md §3), re-expressed as lazy DataFrame
  * lineage:
  *
  *  - EP1 `extract`: incoming messages → exact dedup against the state
  *    table (one distributed left-anti join replaces the reference's N+1
  *    point SELECTs, gmail_functions.py:173-178) → new-message budget
  *    (`limit` counts only NEW messages, like the reference's counter) →
  *    raw-zone sink → state append (committed after the raw write
  *    succeeds, mirroring the reference's commit protocol :131-137).
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

  /** State read (S9): parquet directory with schema `emails(id, date)`.
    *
    * A missing `stateDir` is ambiguous: genuinely-fresh state, OR the
    * window between [[compactState]]'s two renames (or a crash inside
    * it). Treating the latter as empty would re-ingest every message as
    * new — so when `stateDir` is absent but the compaction's `.compact-old`
    * snapshot exists, read the snapshot (identical content to the
    * pre-compaction state). Only when NEITHER exists is the state truly
    * empty.
    */
  def readState(spark: SparkSession, stateDir: String): DataFrame = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(stateDir)))
      spark.read.schema(GmailSchema.stateType).parquet(stateDir)
    else if (fs.exists(new Path(stateDir + ".compact-old")))
      spark.read.schema(GmailSchema.stateType)
        .parquet(stateDir + ".compact-old")
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        GmailSchema.stateType)
  }

  /** J1: exact dedup — keep only ids not present in state. */
  def newMessages(incoming: DataFrame, state: DataFrame): DataFrame =
    incoming.join(state.select(col("id")), Seq("id"), "left_anti")

  /** Dedup with SOURCE-LEVEL skip: when the seen-id state is small
    * enough to inline (like a broadcast decision), the anti-join becomes
    * a `NOT id IN (...)` filter the DSv2 connector pushes down — the
    * listing still paginates, but already-seen ids never cost a GET.
    * This is the reference's probe-state-before-fetch optimization
    * (gmail_functions.py:173-174) derived from the plan: the filter
    * travels INTO the extract instead of running after it. Above the
    * threshold, falls back to [[newMessages]] (correct at any size).
    */
  def newMessagesWithSourceSkip(incoming: DataFrame, state: DataFrame,
      maxInlineIds: Int = 10000): DataFrame = {
    // drop null ids from the inlined set: one null in `NOT id IN (...)`
    // makes the predicate NULL for every unseen row — filter() treats
    // that as false and ingestion silently halts forever
    val ids = state.select(col("id")).limit(maxInlineIds + 1)
      .collect().map(_.getString(0)).filter(_ != null)
    if (ids.length > maxInlineIds) newMessages(incoming, state)
    else if (ids.isEmpty) incoming
    else incoming.filter(!col("id").isin(ids.toIndexedSeq: _*))
  }

  /** EP1 extract: dedup → budget → raw sink → state append.
    * `today` is the ingestion date the reference stamps into the state
    * table (gmail_functions.py:105,126) — a parameter for determinism.
    * Returns the number of newly ingested messages.
    */
  def extract(spark: SparkSession, incoming: DataFrame, cfg: Config,
      today: java.sql.Date): Long = {
    // Crash recovery BEFORE anything else: a compaction that died
    // between its two renames leaves stateDir missing with
    // `.compact-old` holding the full state. readState would fall back
    // correctly, but the append below would then RECREATE stateDir
    // containing only today's ids — permanently shadowing the fallback
    // and silently dropping the whole dedup history.
    recoverState(spark, cfg.stateDir)
    val state = readState(spark, cfg.stateDir)
    // The budget counts only NEW messages (reference increments `count`
    // only on fetch, gmail_functions.py:182) — so limit AFTER the anti-join.
    // Within-batch duplicates also collapse (the reference's uncommitted
    // state insert is visible to its own later probes,
    // gmail_functions.py:118-126). Malformed blobs parse to all-null
    // rows; a null id must not enter the state table (it would poison
    // the inlined NOT IN skip) or consume budget.
    // localCheckpoint, NOT cache: dropDuplicates+limit is a
    // plan-NONDETERMINISTIC selection and cache() is best-effort — an
    // evicted block would let the state append recompute a DIFFERENT
    // subset than the raw write just published (ids recorded in state
    // but absent from raw are dedup-filtered forever = silent loss).
    // The checkpoint materializes the chosen subset once; losing its
    // blocks fails the job (fail-stop) instead of diverging.
    val fresh = newMessages(incoming.filter(col("id").isNotNull), state)
      .dropDuplicates("id").limit(cfg.limit).localCheckpoint()
    val n = fresh.count()
    if (n > 0) {
      // Raw sink first; the state append below only runs if this
      // succeeded (reference commit protocol, gmail_functions.py:131-137).
      fresh.write.mode(SaveMode.Append).json(cfg.rawDir)
      fresh.select(col("id"), lit(today).as("date"))
        .write.mode(SaveMode.Append).parquet(cfg.stateDir)
    }
    n
  }

  /** State compaction: every extract appends one more parquet file to
    * the state dir (the commit protocol's unit of atomicity), so after N
    * runs the dedup anti-join reads N small files — the classic
    * small-files problem. Rewrites the state into `ceil(rows/rowsPerFile)`
    * files via tmp-dir + atomic swap; run it periodically (the streaming
    * path does not need it — dropDuplicates state lives in the state
    * store). Returns the compacted row count.
    */
  /** Hadoop rename returns FALSE for many failure modes instead of
    * throwing; an unchecked false mid-swap corrupts the protocol (e.g.
    * a failed cur->old followed by tmp->cur moves tmp INSIDE the still-
    * existing state dir as a child). Fail loudly instead.
    */
  private def checkedRename(fs: org.apache.hadoop.fs.FileSystem,
      src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Restore the state dir from a compaction that crashed between its
    * two renames (cur missing, `.compact-old` holding the full state).
    * Called by both [[compactState]] and [[extract]] — the extract-side
    * call matters because an APPEND to a missing stateDir would
    * recreate it and shadow the fallback.
    */
  private def recoverState(spark: SparkSession, stateDir: String): Unit = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(stateDir)
    val old = new Path(stateDir + ".compact-old")
    if (!fs.exists(cur) && fs.exists(old)) checkedRename(fs, old, cur)
  }

  def compactState(spark: SparkSession, stateDir: String,
      rowsPerFile: Long = 4000000L): Long = {
    val fs = new Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(stateDir)
    val tmp = new Path(stateDir + ".compact-tmp")
    val old = new Path(stateDir + ".compact-old")
    // Crash recovery: a previous compaction that died between its two
    // renames leaves cur missing and old holding the full state — restore
    // it before doing anything else. (tmp may also linger; it is rewritten
    // below with Overwrite.)
    recoverState(spark, stateDir)
    val state = readState(spark, stateDir)
    val n = state.count()
    if (n == 0) return 0L
    val files = math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt)
    state.repartition(files).write.mode(SaveMode.Overwrite)
      .parquet(tmp.toString)
    // swap: current -> old, tmp -> current. A reader that lands between
    // the two renames finds cur missing and falls back to the old snapshot
    // (see readState) — same content, never partial, never empty. The old
    // snapshot is deliberately kept until the NEXT compaction (deleted
    // above, when cur provably exists): deleting it here could yank the
    // fallback out from under a reader that just observed cur missing.
    // A concurrent EXTRACT (which APPENDS to cur) must still not overlap a
    // compaction: its append between count() and the swap would be dropped.
    // Readers are safe; writers need external mutual exclusion (the
    // reference serializes runs via the daily scheduler; gmail_dag.py:5).
    if (fs.exists(old)) fs.delete(old, true)
    checkedRename(fs, cur, old)
    checkedRename(fs, tmp, cur)
    n
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
    val rawPath = new Path(cfg.rawDir)
    if (!fs.exists(rawPath)) return (0L, 0)
    // Non-recursive listing of raw/ (reference delimiter='/',
    // gmail_functions.py:84,255): processed/ subdir is not re-read.
    val blobs = fs.listStatus(rawPath).filter(_.isFile)
      .map(_.getPath).filter(_.getName.endsWith(".json"))
    if (blobs.isEmpty) return (0L, 0)

    // Malformed blobs parse to all-null rows in PERMISSIVE mode; dropping
    // null ids mirrors the reference's silent skip (bare except at :261).
    val formatted = formatMessages(
      readRaw(spark, blobs.map(_.toString).toSeq), cfg.linkedinEnabled)
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
    // inflate the count
    (formatted.sparkSession.read.option("header", true)
      .option("multiLine", true)
      .csv(s"${cfg.stage1Dir}/$outName").count(), moved)
  }
}
