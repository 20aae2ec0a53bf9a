package perfbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}

import graft.ops.EmailOps
import graft.pipeline.GmailPipeline
import graft.schema.GmailSchema
import graft.sources.{FixtureApiClient, SnapshotTable}
import graft.streaming.Streams

/** The ingest workload: every round ingests the same generated days twice,
  * once through the reference's daily batch DAG and once through its
  * streaming twin, each in a fresh directory.
  *
  *  - Batch: day d's mailbox lists days d-1 and d (half of it is already in
  *    state from day 2 on); PagedApiSource + from_json feed
  *    GmailPipeline.extract, then transformLoadRaw writes stage-1 CSV.
  *  - Stream: the mailbox grows by one day at a time; each day is one
  *    AvailableNow catch-up from a shared checkpoint whose micro-batches
  *    commit to a SnapshotTable.
  *
  * After the timed days, each path's output is read back for the checks:
  * stage-1 through its CSV files, the table through SnapshotTable.read.
  * After the last round, the whole corpus goes through the format chain
  * alone, so the checks see every message's formatted fields.
  * Traced rounds also call the sources and ops layers directly.
  */
final class Ingest(spark: SparkSession, trace: Trace,
    args: Map[String, String], out: Result) extends Workload {
  private val days = args("days").toInt
  private val corpus = Paths.get(args("corpus"))
  private val warmup = Paths.get(args("warmup"))
  private val work = Paths.get(args("work"))
  private val maxPerTrigger = args("max_per_trigger")

  private def dayFile(dir: Path, d: Int): Path = dir.resolve(s"day-$d.jsonl")

  private def append(mailbox: Path, files: Seq[Path]): Unit = {
    Files.createDirectories(mailbox)
    val target = mailbox.resolve("messages.jsonl")
    files.foreach(f => Files.write(target, Files.readAllBytes(f),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND))
  }

  private def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("json"), GmailSchema.messageType).as("m"))
      .select(col("m.*"))

  private def apiOptions(mailbox: Path): Map[String, String] = Map(
    "client" -> classOf[FixtureApiClient].getName,
    "path" -> mailbox.toString, "pageSize" -> "100")

  // ---- batch path --------------------------------------------------------

  private val dayStats = ArrayBuffer.empty[Map[String, Long]]

  /** One day of the DAG; returns its time and (new, rows, blobs). */
  private def batchDay(dir: Path, src: Path, d: Int): (Double, Seq[Long]) = {
    val mailbox = dir.resolve(s"mailbox-$d")
    append(mailbox, (math.max(1, d - 1) to d).map(dayFile(src, _)))
    val cfg = GmailPipeline.Config(
      rawDir = dir.resolve("raw").toString,
      stateDir = dir.resolve("state").toString,
      stage1Dir = dir.resolve("stage1").toString,
      processedDir = dir.resolve("processed").toString,
      limit = Int.MaxValue)
    val (counts, ms) = Stats.timed(trace.span("batch.day") {
      val incoming = parse(spark.read.format("graft.sources.PagedApiSource")
        .options(apiOptions(mailbox)).load())
      val n = trace.span("pipeline.extract") {
        GmailPipeline.extract(spark, incoming, cfg,
          java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(d)))
      }
      val (rows, blobs) = trace.span("pipeline.transform_load") {
        GmailPipeline.transformLoadRaw(spark, cfg, s"day-$d")
      }
      Seq(n, rows, blobs.toLong)
    })
    (ms, counts)
  }

  // ---- stream path -------------------------------------------------------

  /** One day's catch-up; returns its time, the non-empty triggers'
    * durations and the rows they committed.
    */
  private def streamDay(dir: Path, src: Path, d: Int): (Double, Seq[Double], Long) = {
    val mailbox = dir.resolve("mailbox")
    append(mailbox, Seq(dayFile(src, d)))
    val table = dir.resolve("table").toString
    val (progress, ms) = Stats.timed(trace.span("stream.day") {
      val raw = spark.readStream.format("graft.sources.PagedApiSource")
        .options(apiOptions(mailbox) + ("maxPerTrigger" -> maxPerTrigger))
        .load()
      val day = trace.currentSpan
      val q = Streams.runWithBatchCommit(Streams.formattedStream(parse(raw)),
        dir.resolve("checkpoint").toString) { (batch, _) =>
        trace.span("sources.snapshot.commit", day,
          Map("history_len" -> SnapshotTable.latestVersion(table)
            .getOrElse(0).toDouble)) {
          SnapshotTable.commitAppend(batch, table, "id", 1)
        }
      }
      q.awaitTermination()
      q.exception.foreach(e => out.error(s"stream day $d", e))
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    })
    (ms, progress.map(_.durationMs.get("triggerExecution").doubleValue),
      progress.map(_.numInputRows).sum)
  }

  // ---- rounds ------------------------------------------------------------

  /** One untimed round over the warm-up corpus, which the first-use costs
    * (class loading, code generation, JIT) dominate. Its time is the
    * process's one-off start-up cost, so it is taken once: a repetition
    * would find everything warm. Every day still compiles new generated
    * code, so the JIT stays busy in the measured rounds too, and how fast
    * a process settles differs from one process to the next.
    */
  override def setup(): Seq[Double] = {
    val dir = work.resolve("warmup")
    val (_, ms) = Stats.timed {
      (1 to days).foreach(d => batchDay(dir.resolve("batch"), warmup, d))
      (1 to days).foreach(d => streamDay(dir.resolve("stream"), warmup, d))
    }
    Seq(ms / 1000)
  }

  override def minRounds: Int = 2

  /** One untraced round's figures per path. */
  private case class PathRound(batchMs: Seq[Double], batchRows: Long,
      streamMs: Seq[Double], streamRows: Long, triggers: Seq[Double])
  private val untraced = ArrayBuffer.empty[PathRound]

  /** A round's units are the messages it delivered: stage-1 rows that
    * landed plus rows the stream committed to the table. A message a
    * path loses costs time but adds no unit.
    */
  override def round(i: Int, traced: Boolean): Round = {
    val dir = work.resolve(s"r$i")
    var batchRows, streamRows = 0L
    val batchMs = (1 to days).map { d =>
      val (ms, Seq(n, rows, blobs)) = batchDay(dir.resolve("batch"), corpus, d)
      dayStats += Map("round" -> i, "day" -> d, "new" -> n, "rows" -> rows,
        "blobs" -> blobs)
      batchRows += rows
      if (traced) probeClient(dir.resolve("batch").resolve(s"mailbox-$d"))
      ms
    }
    val triggers = ArrayBuffer.empty[Double]
    val streamMs = (1 to days).map { d =>
      val (ms, t, committed) = streamDay(dir.resolve("stream"), corpus, d)
      triggers ++= t
      streamRows += committed
      if (traced) probeClient(dir.resolve("stream").resolve("mailbox"))
      ms
    }
    if (!traced)
      untraced += PathRound(batchMs, batchRows, streamMs, streamRows, triggers.toSeq)
    else probeFormat((1 to days).map(dayFile(corpus, _)))
    dumpStage1(i, dir.resolve("batch"))
    readBack(i, dir.resolve("stream"), traced)
    Round(traced, batchRows + streamRows, batchMs ++ streamMs)
  }

  /** Stage-1 as its CSV files hold it, for the checks. */
  private def dumpStage1(i: Int, dir: Path): Unit =
    try spark.read.option("header", true).option("multiLine", true)
      .csv(dir.resolve("stage1").resolve("day-*").toString)
      .select("id", "subject", "from", "date_string", "body")
      .write.json(dir.resolve("check").toString)
    catch { case t: Throwable => out.error(s"r$i stage-1 read", t) }

  private val readTimes = ArrayBuffer.empty[(Double, Double)]

  /** The table's manifest list, then the whole table through
    * SnapshotTable.read, for the checks.
    */
  private def readBack(i: Int, dir: Path, traced: Boolean): Unit = {
    val table = dir.resolve("table").toString
    val (_, planMs) = Stats.timed(
      try trace.span("sources.snapshot.read_plan")(SnapshotTable.snapshot(table))
      catch { case t: Throwable => out.error(s"r$i read-plan", t) })
    val (_, readMs) = Stats.timed(
      try trace.span("sources.snapshot.read") {
        SnapshotTable.read(spark, table)
          .select("id", "subject", "from", "date_string", "body")
          .write.json(dir.resolve("check").toString)
      } catch { case t: Throwable =>
        out.error(s"r$i read-back", t)
        out.put(s"r${i}_read_error_frames", Errors.frames(t).distinct)
      })
    if (traced) readTimes += planMs -> readMs
  }

  /** The format chain alone over every generated message, for the checks:
    * the input the stream path parses, formatted by
    * GmailPipeline.formatMessages and dumped as JSON. Unlike the two
    * paths it loses no message to their defects, so the checks compare
    * every message's formatted fields with the truth.
    */
  override def finish(): Unit = {
    out.put("day_stats", dayStats.toList)
    try GmailPipeline.formatMessages(parse(spark.read
        .text((1 to days).map(dayFile(corpus, _).toString): _*)
        .withColumnRenamed("value", "json")))
      .select("id", "subject", "from", "date_string", "body")
      .write.json(work.resolve("format").resolve("check").toString)
    catch { case t: Throwable => out.error("format", t) }
  }

  // ---- layer probes (traced rounds) --------------------------------------

  private val probes = ArrayBuffer.empty[(String, Double)]

  /** FixtureApiClient's three calls on one mailbox, as the source's
    * tasks make them.
    */
  private def probeClient(mailbox: Path): Unit = {
    val c = new FixtureApiClient
    val (_, initMs) = Stats.timed(c.init(apiOptions(mailbox)))
    val ids = ArrayBuffer.empty[String]
    val (_, listMs) = Stats.timed {
      var tok: Option[String] = None
      do {
        val p = c.listPage(tok); ids ++= p.ids; tok = p.nextToken
      } while (tok.isDefined)
    }
    val (_, getMs) = Stats.timed(ids.foreach(c.get))
    probes += "sources.api.client_init_ms" -> initMs
    probes += "sources.api.list_ms" -> listMs
    probes += "sources.api.get_us" -> getMs * 1000 / math.max(1, ids.size)
  }

  /** Per-row cost of the format chain and two of its parts, over a cached
    * frame of the round's messages (median of three noop writes each).
    */
  private def probeFormat(files: Seq[Path]): Unit = {
    val msgs = spark.read.schema(GmailSchema.messageType)
      .json(files.map(_.toString): _*).cache()
    val n = msgs.count().toDouble
    val body = msgs.select(EmailOps.bodyText(col("payload")).as("b")).cache()
    body.count()
    def nsPerRow(df: DataFrame): Double = Stats.median((1 to 3).map { _ =>
      Stats.timed(df.write.format("noop").mode("overwrite").save())._2
    }) * 1e6 / n
    probes += "ops.format_ns_per_msg" -> nsPerRow(
      GmailPipeline.formatMessages(msgs))
    probes += "ops.body_text_ns_per_msg" -> nsPerRow(
      msgs.select(EmailOps.bodyText(col("payload"))))
    probes += "functions.html_to_text_ns_per_row" -> nsPerRow(
      body.select(EmailOps.htmlToText(col("b"))))
    body.unpersist(); msgs.unpersist()
  }

  override def layers(spans: Seq[Span]): Map[String, Double] = {
    val probed = probes.groupBy(_._1).map { case (k, vs) =>
      k -> Stats.median(vs.map(_._2).toSeq) }
    val commits = Stats.named(spans, "sources.snapshot.commit")
    val prog = trace.progress.synchronized(trace.progress.toList)
      .filter(_.getOrElse("numInputRows", 0.0) > 0)
    def p(k: String) = Stats.median(prog.map(_.getOrElse(k, 0.0)))
    def perRound(name: String, f: Span => Double) = Stats.perRound(spans, name)(f)
    def jobs(s: Span) = s.attrs.getOrElse("jobs", 0.0)
    val stateFiles = Option(work.resolve("r1/batch/state").toFile.listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    // untraced rounds: each path's delivered rate and step times
    val trig = untraced.flatMap(_.triggers).toSeq.sorted
    probed ++ Map(
      "ingest.batch_msgs_per_s" -> Stats.median(untraced.map(r =>
        r.batchRows / r.batchMs.sum * 1000).toSeq),
      "ingest.stream_msgs_per_s" -> Stats.median(untraced.map(r =>
        r.streamRows / r.streamMs.sum * 1000).toSeq),
      "ingest.batch_day_ms_p50" -> Stats.median(untraced.flatMap(_.batchMs).toSeq),
      "ingest.stream_day_ms_p50" -> Stats.median(untraced.flatMap(_.streamMs).toSeq),
      "streaming.trigger_ms_p50" -> Stats.median(trig),
      "streaming.trigger_ms_p90" -> (if (trig.isEmpty) 0.0
        else trig(((trig.size - 1) * 0.9).round.toInt)),
      "streaming.triggers" -> trig.size.toDouble / math.max(1, untraced.size),
      "streaming.trigger.add_batch_ms" -> p("addBatch"),
      "streaming.trigger.latest_offset_ms" -> p("latestOffset"),
      "streaming.trigger.planning_ms" -> p("queryPlanning"),
      "streaming.trigger.wal_commit_ms" -> p("walCommit"),
      "streaming.trigger.fixed_ms" -> Stats.median(prog.map(m =>
        m.getOrElse("triggerExecution", 0.0) - m.getOrElse("addBatch", 0.0))),
      "sources.api.fetch_tasks" -> trace.fetchTasks.sum.toDouble /
        math.max(1, spans.map(_.round).distinct.size),
      "sources.snapshot.commit_ms_p50" -> Stats.median(commits.map(_.ms)),
      "sources.snapshot.commit_jobs" -> Stats.median(commits.map(jobs)),
      "sources.snapshot.history_len" -> commits.map(
        _.attrs.getOrElse("history_len", 0.0)).maxOption.getOrElse(0.0),
      "sources.snapshot.read_plan_ms" -> Stats.median(readTimes.map(_._1).toSeq),
      "sources.snapshot.read_s" -> Stats.median(readTimes.map(_._2).toSeq) / 1000,
      "pipeline.extract_s" -> perRound("pipeline.extract", _.ms / 1000),
      "pipeline.extract_jobs" -> perRound("pipeline.extract", jobs),
      "pipeline.transform_load_s" -> perRound("pipeline.transform_load",
        _.ms / 1000),
      "pipeline.transform_load_jobs" -> perRound("pipeline.transform_load", jobs),
      "pipeline.state_files" -> stateFiles.toDouble)
  }
}
