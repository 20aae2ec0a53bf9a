package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import graft.schema.GmailSchema
import graft.sources.{FixtureApiClient, PageResult, PagedApiClient}

/** Counting client wrapper: records listPage/get call counts so the
  * pushdown tests can assert what the source actually did. local-mode
  * tasks share the JVM, so static counters see executor-side calls.
  */
class CountingApiClient extends PagedApiClient {
  private val inner = new FixtureApiClient
  override def init(options: Map[String, String]): Unit = inner.init(options)
  override def listPage(pageToken: Option[String]): PageResult = {
    CountingApiClient.listCalls.incrementAndGet()
    inner.listPage(pageToken)
  }
  override def get(id: String): String = {
    CountingApiClient.getCalls.incrementAndGet()
    inner.get(id)
  }
}

object CountingApiClient {
  val listCalls = new AtomicInteger(0)
  val getCalls = new AtomicInteger(0)
  def reset(): Unit = { listCalls.set(0); getCalls.set(0) }
}

/** Failure-injection client: the FIRST get() of the armed id throws
  * (killing its task and, in retry-less local mode, the whole query
  * mid-batch); every later call succeeds. Per-id get counts let the
  * spec prove exactly which messages were re-fetched after the crash.
  */
class FailOnceApiClient extends PagedApiClient {
  private val inner = new FixtureApiClient
  override def init(options: Map[String, String]): Unit = inner.init(options)
  override def listPage(pageToken: Option[String]): PageResult =
    inner.listPage(pageToken)
  override def get(id: String): String = {
    FailOnceApiClient.counts
      .computeIfAbsent(id, _ => new AtomicInteger(0)).incrementAndGet()
    if (id == FailOnceApiClient.failId.get() &&
        FailOnceApiClient.armed.compareAndSet(true, false))
      throw new RuntimeException(s"injected mid-batch failure on $id")
    inner.get(id)
  }
}

object FailOnceApiClient {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]
  val failId = new java.util.concurrent.atomic.AtomicReference[String]("")
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  def arm(id: String): Unit = { counts.clear(); failId.set(id); armed.set(true) }
}

class SourcesSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-api").toString
    val msgs = (1 to 25).map(i =>
      Fixtures.message(f"m$i%03d").replaceAll("\n", " "))
    Files.writeString(Paths.get(d, "messages.jsonl"),
      msgs.mkString("\n") + "\n")
    d
  }

  private def read(extra: (String, String)*) = {
    var r = spark.read.format("graft.sources.PagedApiSource")
      .option("client", classOf[CountingApiClient].getName)
      .option("path", dir)
      .option("pageSize", "10")
      .option("idsPerPartition", "8")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("streaming source: rate-capped micro-batches, checkpointed restart, no re-GETs") {
    import org.apache.spark.sql.streaming.Trigger
    CountingApiClient.reset()
    val d = Files.createTempDirectory("graft-api-stream").toString
    def writeMsgs(n: Int): Unit = {
      val msgs = (1 to n).map(i =>
        Fixtures.message(f"s$i%03d").replaceAll("\n", " "))
      Files.writeString(Paths.get(d, "messages.jsonl"),
        msgs.mkString("\n") + "\n")
    }
    writeMsgs(10)
    val out = Files.createTempDirectory("graft-api-out").toString
    val ckpt = Files.createTempDirectory("graft-api-ckpt").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.PagedApiSource")
        .option("client", classOf[CountingApiClient].getName)
        .option("path", d).option("pageSize", "10")
        .option("maxPerTrigger", "4")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val first = spark.read.parquet(out)
    // all 10 messages, exactly once, despite the 4-per-trigger cap
    assert(first.count() == 10)
    assert(first.select("id").distinct().count() == 10)
    assert(CountingApiClient.getCalls.get() == 10)

    // append 5 new messages and restart from the same checkpoint: only
    // the tail is admitted and fetched — the cursor survived the restart
    val getsBefore = CountingApiClient.getCalls.get()
    writeMsgs(15)
    run()
    val second = spark.read.parquet(out)
    assert(second.count() == 15)
    assert(second.select("id").distinct().count() == 15)
    assert(CountingApiClient.getCalls.get() - getsBefore == 5,
      s"re-fetched already-ingested messages: ${CountingApiClient.getCalls.get() - getsBefore}")
  }

  test("streaming source: kill mid-batch — committed messages never re-GET, none lost") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val d = Files.createTempDirectory("graft-api-kill").toString
    val msgs = (1 to 12).map(i =>
      Fixtures.message(f"k$i%03d").replaceAll("\n", " "))
    Files.writeString(Paths.get(d, "messages.jsonl"), msgs.mkString("\n") + "\n")
    val out = Files.createTempDirectory("graft-api-kill-out").toString
    val ckpt = Files.createTempDirectory("graft-api-kill-ckpt").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.PagedApiSource")
        .option("client", classOf[FailOnceApiClient].getName)
        .option("path", d).option("pageSize", "10")
        .option("maxPerTrigger", "4")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batches admit ids [1-4], [5-8], [9-12]; the injected failure lands
    // INSIDE the second batch, after batch 1 committed
    FailOnceApiClient.arm("k006")
    val died = intercept[StreamingQueryException](run())
    assert(died.getMessage != null)
    // restart from the same checkpoint — the disarmed client now succeeds
    run()
    def cnt(id: String) =
      Option(FailOnceApiClient.counts.get(id)).fold(0)(_.get())
    val result = spark.read.parquet(out)
    // nothing lost, nothing duplicated in the sink
    assert(result.count() == 12)
    assert(result.select("id").distinct().count() == 12)
    // batch-1 ids committed before the crash are fetched exactly once —
    // the restart resumed the cursor, it did not rewind it
    (1 to 4).foreach { i =>
      val id = f"k$i%03d"
      assert(cnt(id) == 1, s"committed message $id re-fetched: ${cnt(id)} calls")
    }
    // the failed batch replays: at most one extra GET per member (the
    // aborted attempt), never more
    (5 to 12).foreach { i =>
      val id = f"k$i%03d"
      assert(cnt(id) >= 1 && cnt(id) <= 2, s"$id fetched ${cnt(id)} times")
    }
    // the id that blew up was called twice: the injected failure + replay
    assert(cnt("k006") == 2)
  }

  test("full scan lists all pages and fetches every message") {
    CountingApiClient.reset()
    val rows = read().collect()
    assert(rows.length == 25)
    assert(CountingApiClient.listCalls.get() == 3) // 25 ids / pageSize 10
    assert(CountingApiClient.getCalls.get() == 25)
    // payload parses back through the real message schema
    val parsed = read()
      .select(col("id"), from_json(col("json"), GmailSchema.messageType)
        .as("m"))
      .where(col("m.id") === col("id"))
    assert(parsed.count() == 25)
  }

  test("ids spread across input partitions (distributed GET)") {
    assert(read().rdd.getNumPartitions == 4) // ceil(25 / 8)
  }

  test("limit pushdown stops the listing early") {
    CountingApiClient.reset()
    val rows = read().limit(7).collect()
    assert(rows.length == 7)
    assert(CountingApiClient.listCalls.get() == 1) // only page 1 listed
    assert(CountingApiClient.getCalls.get() == 7)
  }

  test("column pruning: id-only scans never call GET") {
    CountingApiClient.reset()
    val ids = read().select("id").collect().map(_.getString(0))
    assert(ids.length == 25 && ids.distinct.length == 25)
    assert(CountingApiClient.getCalls.get() == 0)
  }

  test("id predicate pushdown: keyed lookup skips the listing") {
    CountingApiClient.reset()
    val rows = read().where(col("id") === "m007").collect()
    assert(rows.length == 1 && rows(0).getString(0) == "m007")
    assert(CountingApiClient.listCalls.get() == 0) // no pagination at all
    assert(CountingApiClient.getCalls.get() == 1)
  }

  test("id IN pushdown fetches exactly those ids") {
    CountingApiClient.reset()
    val rows = read()
      .where(col("id").isin("m003", "m011", "m024"))
      .collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("m003", "m011", "m024"))
    assert(CountingApiClient.listCalls.get() == 0)
    assert(CountingApiClient.getCalls.get() == 3)
  }

  test("keyed lookup of a nonexistent id yields zero rows, not an error") {
    assert(read().where(col("id") === "nope").count() == 0)
    // id-only projection must still existence-check pushed ids
    assert(read().select("id").where(col("id") === "nope").count() == 0)
  }

  test("keyed IN + limit: missing ids must not consume the limit budget") {
    // 'aaa' does not exist in the source; the GET is the existence
    // check. If the scan truncated the sorted REQUEST list at the
    // limit it would take (aaa, m003), drop aaa, and return 1 row —
    // silently fewer than the 2 matching rows that exist. The limit
    // push is partial: the scan fetches every requested id, Spark
    // trims.
    val rows = read()
      .where(col("id").isin("aaa", "m003", "m011"))
      .limit(2).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(0)).forall(Set("m003", "m011")))
  }

  test("NOT IN pushdown: seen ids are listed but never fetched") {
    CountingApiClient.reset()
    val seen = (1 to 20).map(i => f"m$i%03d")
    val rows = read().where(!col("id").isin(seen: _*)).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      (21 to 25).map(i => f"m$i%03d"))
    assert(CountingApiClient.listCalls.get() == 3) // listing still pages
    assert(CountingApiClient.getCalls.get() == 5)  // but only new ids GET
  }

  test("NOT IN + limit: excluded ids do not consume the fetch budget") {
    CountingApiClient.reset()
    // first page (10 ids) is fully seen; the limit must keep listing
    val seen = (1 to 10).map(i => f"m$i%03d")
    val rows = read().where(!col("id").isin(seen: _*)).limit(3).collect()
    assert(rows.length == 3)
    assert(rows.forall(r => !seen.contains(r.getString(0))))
  }

  test("runtime filtering: a broadcast join dynamically prunes the GETs") {
    CountingApiClient.reset()
    val smallDir = Files.createTempDirectory("graft-rt-dim").toString
    import spark.implicits._
    Seq("m003", "m007", "m011", "x001", "x002").toDF("want")
      .write.mode("overwrite").parquet(smallDir)
    val small = spark.read.parquet(smallDir)
      .filter(col("want").startsWith("m"))
    val joined = read().join(broadcast(small),
      col("id") === col("want"))
    assert(joined.collect().length == 3)
    // the build side's id set reached the scan AT EXECUTION TIME: only
    // the 3 surviving ids were ever fetched, out of 25 listed
    assert(CountingApiClient.getCalls.get() == 3,
      s"runtime filter did not prune GETs: ${CountingApiClient.getCalls.get()}")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(2000))
  }

  test("source composes with the dedup anti-join without fetching seen ids") {
    import spark.implicits._
    CountingApiClient.reset()
    val seen = (1 to 20).map(i => f"m$i%03d").toDF("id")
    // probe phase: id-only anti-join (no GETs), then fetch only the new
    val newIds = read().select("id")
      .join(seen, Seq("id"), "left_anti")
      .collect().map(_.getString(0))
    assert(newIds.sorted.toSeq == (21 to 25).map(i => f"m$i%03d"))
    assert(CountingApiClient.getCalls.get() == 0)
  }
}
