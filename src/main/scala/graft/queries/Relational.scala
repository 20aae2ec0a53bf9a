package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{AsOfJoin, Skew}

/** Relational coverage queries (SURVEY.md §2.1–2.7): scans, projections,
  * filters, joins, aggregations, windows, sorts, set ops, tumbling windows.
  * Each entry has a DuckDB oracle twin in [[oracle]]; names/aliases match
  * exactly because the driver sorts columns by name before hashing.
  *
  * Scale notes (100 TB design intent):
  *  - joins against small dimensions use explicit broadcast();
  *  - the range join is a bucketed equi-join (shuffle on (user, bucket)),
  *    not a cartesian + filter — survives arbitrarily large event tables;
  *  - aggregations use map-side partial aggregation (Catalyst default) and
  *    exact decimal sums so results don't depend on partitioning.
  */
object Relational {

  /** Time-band width for the range join, in microseconds (1 hour). */
  private val BandUs = 3600L * 1000000L

  /** Scratch dir for the sink-roundtrip queries. Keyed by (kind,
    * dataset) so repeated runs in one process overwrite in place, and
    * rooted in [[rtRoot]], one directory per process, so two concurrent
    * graft processes on the same dataset (a bench running next to a
    * verify) never share a directory — with a shared dir, one process's
    * read could see the other's half-committed overwrite and aggregate
    * a partially rewritten directory into a plausible-but-wrong result.
    */
  private[queries] def rtDir(kind: String, d: String): String =
    rtRoot.resolve(s"${kind}_${d.hashCode.toHexString}").toString

  /** `graft_rt_p<pid>_<random>`, a fresh directory under
    * `java.io.tmpdir` that a shutdown hook deletes. Creating it first
    * sweeps the roots (and the older per-gate
    * `graft_rt_<kind>_<dataset>_p<pid>` directories) of processes that
    * are no longer alive, which a killed process leaves behind. The
    * sweep removes only real directories owned by this process's user:
    * a symlink or another user's entry is left alone, and the delete
    * never descends through a link. A directory that a concurrent
    * sweeper removes first is skipped.
    */
  private lazy val rtRoot: java.nio.file.Path = {
    import java.nio.file.{Files, LinkOption, Paths}
    def quietDelete(p: java.nio.file.Path): Unit =
      try deleteRecursive(p) catch { case _: java.io.IOException => }
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val root = Files.createTempDirectory(tmp,
      s"graft_rt_p${ProcessHandle.current().pid}_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => quietDelete(root)))
    val me = Files.getOwner(root)
    def ownDir(p: java.nio.file.Path): Boolean =
      try Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS) &&
        Files.getOwner(p, LinkOption.NOFOLLOW_LINKS) == me
      catch { case _: java.io.IOException => false }
    val st = Files.list(tmp)
    try st.iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      val pid = name.drop(name.lastIndexOf("_p") + 2).takeWhile(_.isDigit)
      if (name.startsWith("graft_rt_") && pid.toLongOption.exists(n =>
        !ProcessHandle.of(n).isPresent) && ownDir(p)) quietDelete(p)
    } finally st.close()
    root
  }

  // ---- streaming-drain infrastructure (the q_stream_drain pattern) -------
  // Each drain query runs the REAL micro-batch engine (readStream ->
  // stateful operator -> AvailableNow -> memory sink) and hash-compares
  // the drained state to DuckDB's batch answer, pinning the streaming
  // path's offset tracking, state store, and cross-batch merge to batch
  // semantics.

  /** Monotonic suffix for memory-sink names: each drain invocation gets
    * its OWN queryName/temp view, so two drains in one SparkSession (a
    * parallel bench next to a verify) can never collide or read each
    * other's state; the view is dropped as soon as the result is
    * materialized.
    */
  private val drainSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Serializes drains within one SparkSession: each drain toggles the
    * session-wide shuffle-partition conf around its run, and two
    * concurrent drains would race that toggle — one could run at the
    * other's partition count and the finally-restore could persist the
    * wrong session default. The lock makes (set, run, restore) atomic;
    * drains from DIFFERENT sessions (separate Verify/Bench JVMs) never
    * share conf and are unaffected.
    */
  private val drainConfLock = new Object

  /** Run `stream` through the micro-batch engine to completion
    * (AvailableNow) into a memory sink and return the sink's final
    * table, MATERIALIZED (eager localCheckpoint) so the per-invocation
    * temp view can be dropped before the caller consumes the result.
    */
  private[queries] def drainStream(stream: DataFrame, mode: String,
      statePartitions: Int = 8): DataFrame = {
    val s = stream.sparkSession
    val qn = s"graft_drain_${drainSeq.incrementAndGet()}"
    // State-store instances (and their per-micro-batch checkpoint commits)
    // scale with shuffle partitions, and streaming PINS the count into the
    // checkpoint at query start — so the state partition count is a
    // per-query sizing knob, not the session default. The default 8
    // bounds the fixed checkpoint I/O for the staged-replay drains (a
    // few hundred thousand keys at most); state-heavy callers pass a
    // count sized from their input — the table-stats-driven sizing a
    // 100 TB deployment automates. Result hashes are
    // partition-count-independent (partcheck audits every drain at 3
    // vs 32 cores).
    drainConfLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      try {
        val q = stream.writeStream.format("memory").queryName(qn)
          .outputMode(mode)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val out = s.table(qn).localCheckpoint()
    s.catalog.dropTempView(qn)
    out
  }

  /** [[drainStream]] that ALSO returns the engine's own late-data
    * accounting: the sum of `numRowsDroppedByWatermark` across every
    * micro-batch's state operators — the metric an operations team
    * alerts on. Exposed separately so one gated query can pin the
    * METER itself (not just the drop's semantic effect) to a
    * batch-computable count.
    */
  private[queries] def drainStreamDrops(stream: DataFrame, mode: String,
      statePartitions: Int = 8): (DataFrame, Long) = {
    val s = stream.sparkSession
    val qn = s"graft_drain_${drainSeq.incrementAndGet()}"
    val dropped = drainConfLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      try {
        val q = stream.writeStream.format("memory").queryName(qn)
          .outputMode(mode)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        if (sys.env.contains("GRAFT_DRAIN_DEBUG"))
          q.recentProgress.foreach(p => System.err.println(
            s"DRAINDBG batch=${p.batchId} rows=${p.numInputRows} " +
              s"wm=${p.eventTime.get("watermark")} " +
              s"drops=${p.stateOperators.map(_.numRowsDroppedByWatermark).mkString(",")}"))
        // recentProgress is a BOUNDED ring buffer
        // (spark.sql.streaming.numRecentProgressUpdates, default 100):
        // a drain with more micro-batches than the buffer would
        // silently undercount the meter. Batch 0 still being present
        // proves nothing was evicted — fail loudly instead of
        // truncating.
        require(q.lastProgress == null ||
          q.recentProgress.headOption.exists(_.batchId == 0L),
          s"drainStreamDrops: progress ring buffer overflowed " +
            s"(${q.recentProgress.length} entries, first batch " +
            s"${q.recentProgress.headOption.map(_.batchId)}); raise " +
            "spark.sql.streaming.numRecentProgressUpdates")
        q.recentProgress.iterator
          .flatMap(_.stateOperators.iterator)
          .map(_.numRowsDroppedByWatermark).sum
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val out = s.table(qn).localCheckpoint()
    s.catalog.dropTempView(qn)
    (out, dropped)
  }

  /** [[drainStream]] into a PARQUET sink with an EXPLICIT checkpoint —
    * the restart-capable drain: the memory sink refuses checkpoint
    * recovery (not fault-tolerant), so the restore-path query needs a
    * real sink. Append mode only (the file sink's contract); a second
    * call with the same (path, checkpoint) RESUMES — restored source
    * offsets, watermark, and state — instead of re-draining.
    */
  private val StateProviderKey =
    "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider = "org.apache.spark.sql.execution." +
    "streaming.state.RocksDBStateStoreProvider"

  private[queries] def drainStreamToParquet(stream: DataFrame,
      path: String, checkpoint: String,
      statePartitions: Int = 8, rocksDb: Boolean = false): Unit = {
    val s = stream.sparkSession
    drainConfLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      val prevProv = s.conf.getOption(StateProviderKey)
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      // RocksDB state store for INPUT-SIZED state: the default
      // HDFS-backed store keeps each partition's whole map on-heap and
      // replays delta chains per commit — fine for bounded final
      // states, a memory-and-GC cliff when state tracks the corpus
      // (the neardup drain's per-band-bucket exemplars). The provider
      // is pinned into the checkpoint at query start, like the
      // partition count — a per-query sizing knob.
      if (rocksDb) s.conf.set(StateProviderKey, RocksDbProvider)
      try {
        val q = stream.writeStream.format("parquet")
          .option("path", path).option("checkpointLocation", checkpoint)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        if (rocksDb) prevProv match {
          case Some(p) => s.conf.set(StateProviderKey, p)
          case None => s.conf.unset(StateProviderKey)
        }
      }
    }
  }

  /** [[drainStream]] for INPUT-SIZED append-mode outputs: drains through
    * a parquet FILE sink and reads the files back as the result, so the
    * drained rows stay distributed end to end. The memory sink funnels
    * every drained row through the driver (its sink table is
    * driver-resident) — fine for the small FINAL STATES the agg /
    * profile / top-k / session drains emit, a harness cliff for the
    * dedup and interval-join drains whose outputs track the INPUT
    * (measured: the interval join's 100x drain output overran the
    * driver's result transport entirely). Fresh output + checkpoint
    * dirs per invocation, so bench/stress re-runs re-drain instead of
    * resuming a completed checkpoint.
    */
  private[queries] def drainStreamFiles(stream: DataFrame, baseDir: String,
      statePartitions: Int = 8, rocksDb: Boolean = false): DataFrame = {
    val s = stream.sparkSession
    deleteRecursive(java.nio.file.Paths.get(baseDir))
    drainStreamToParquet(stream, s"$baseDir/out", s"$baseDir/ckpt",
      statePartitions, rocksDb)
    s.read.parquet(s"$baseDir/out")
  }

  /** readStream over the driver events table, ts-adapted like the batch
    * reader. FileStreamSource monitors a DIRECTORY; the driver testdata
    * ships events.parquet as a single file in some generations, so that
    * case streams the parent dir with a name filter.
    */
  private def eventsReadStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val phys = s.read.parquet(s"$d/events.parquet").schema
    val raw =
      if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$d/events.parquet")))
        s.readStream.schema(phys).parquet(s"$d/events.parquet")
      else s.readStream.schema(phys)
        .option("pathGlobFilter", "events.parquet").parquet(d)
    graft.Tables.adaptEventsTs(raw)
  }

  /** Write `df` as ONE parquet file `name` inside `dir` with an explicit
    * mtime: FileStreamSource replays files oldest-mtime-first, so staged
    * files arrive in the intended sequence under maxFilesPerTrigger=1 —
    * the knob that forces the drained operator's state to carry ACROSS
    * micro-batches instead of resolving inside one.
    */
  private[queries] def stageStreamFile(df: DataFrame, dir: java.nio.file.Path,
      name: String, mtimeMs: Long): Unit = {
    import java.nio.file.{Files, Path}
    val s = df.sparkSession
    // micros on disk, so the staged file round-trips the exact event
    // time; restored after the write (matching the drainStream /
    // maxPartitionBytes toggles) so it can't leak into every later
    // parquet write in the session
    val prevTs = s.conf.get("spark.sql.parquet.outputTimestampType")
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val stage = dir.resolve(s"_stage_$name") // _-prefixed: hidden to sources
    try df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    finally s.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
    val part = {
      val st = Files.list(stage)
      try {
        val it = st.iterator()
        var found: Path = null
        while (it.hasNext && found == null) {
          val p = it.next()
          if (p.getFileName.toString.startsWith("part-")) found = p
        }
        require(found != null, s"no part file written under $stage")
        found
      } finally st.close()
    }
    Files.move(part, dir.resolve(name))
    deleteRecursive(stage)
    Files.setLastModifiedTime(dir.resolve(name),
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** Deletes `p` and, when it is a directory, everything under it. A
    * symlink is deleted itself, never followed.
    */
  private[queries] def deleteRecursive(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, LinkOption}
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val st = Files.list(p)
      try {
        val it = st.iterator()
        while (it.hasNext) deleteRecursive(it.next())
      } finally st.close()
    }
    Files.deleteIfExists(p)
  }

  private def copyRecursive(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      val st = Files.list(src)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val c = it.next()
          copyRecursive(c, dst.resolve(c.getFileName.toString))
        }
      } finally st.close()
    } else Files.copy(src, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- shared snapshot-table base fixture --------------------------------
  // Seven snapshot gates open on the SAME two commits (orders projected
  // to (o_orderkey, o_orderpriority, price), even keys then odd keys,
  // price-clustered at 8 files each). Building that start state is pure
  // per-gate fixed cost — ~2 Spark write+stat jobs per gate that prove
  // nothing the first build didn't. The base builds ONCE per
  // (process, dataset) as an IMMUTABLE fixture and each gate copies the
  // directory (a metadata-sized file copy, not Spark jobs) before its
  // own mutations — every gate still exercises its own commits and
  // teeth on its own table; only the identical prologue is amortized.

  private val snapBaseLock = new Object
  private val snapBaseBuilt = scala.collection.mutable.Set[String]()

  /** Forget every cached prologue (ScaleStress calls this per
    * measurement pass — an exponent measured against a cache hit would
    * hollow out the very pipeline-build cost it exists to measure).
    */
  private[graft] def invalidatePrologues(): Unit =
    snapBaseLock.synchronized { snapBaseBuilt.clear() }

  /** Build-once-per-(process, dataset) immutable PROLOGUE table, copied
    * to `dir` per call. The general form of the shared-fixture idea:
    * any gate whose opening state is deterministic table-building (and
    * proves nothing the first build didn't) registers its builder here
    * — the first invocation in a process pays the Spark jobs, every
    * later invocation (the bench's measured and re-measure passes, a
    * second verify in the same JVM) pays a metadata-sized file copy.
    * The base is NEVER mutated; gates mutate their copy, so every
    * tooth still runs against the gate's own table. The lock is
    * reentrant, so builders may compose other cached prologues.
    */
  private[queries] def cachedPrologue(kind: String, d: String,
      dir: String)(build: String => Unit): Unit = {
    val base = rtDir(kind + "B", d)
    snapBaseLock.synchronized {
      if (!snapBaseBuilt(base)) {
        deleteRecursive(java.nio.file.Paths.get(base))
        build(base)
        snapBaseBuilt += base
      }
    }
    deleteRecursive(java.nio.file.Paths.get(dir))
    copyRecursive(java.nio.file.Paths.get(base),
      java.nio.file.Paths.get(dir))
  }

  /** Row count of a flat on-disk parquet directory from its footers —
    * driver metadata reads instead of a Spark count job (exact: parquet
    * footers carry the row count;
    * [[sources.SnapshotTable.parquetRowCount]]). Falls back to the scan
    * count when the directory isn't local flat parquet. For append-only
    * index directories only: a snapshot table's directory also holds
    * the files its later versions replaced. The persisted index gates'
    * "maintained" teeth compare on-disk row counts per run — each was a
    * full job whose only output is one long.
    */
  private[queries] def diskRowCount(s: SparkSession, dir: String): Long =
    graft.sources.SnapshotTable.parquetRowCount(dir)
      .getOrElse(s.read.parquet(dir).count())

  /** Bag (multiset) equality of two same-schema relations in ONE job:
    * union with a ±1 side tag, group by every column, and require every
    * group's signed count to cancel — one shuffle over a+b and one
    * action, where the double-exceptAll idiom it replaces shuffled both
    * sides twice and ran two actions for the same boolean.
    */
  private[queries] def bagEqual(a: DataFrame, b: DataFrame): Boolean = {
    // a pre-existing '_s' column would be silently REPLACED by the side
    // tag and the group-by would then compare on the tag itself,
    // reporting inequality for identical relations — pick a tag name
    // absent from the schema instead of assuming one
    val tag = Iterator.iterate("_s")(_ + "_").dropWhile(a.columns.contains)
      .next()
    val cols = a.columns.toIndexedSeq.map(col)
    a.withColumn(tag, lit(1L)).unionByName(b.withColumn(tag, lit(-1L)))
      .groupBy(cols: _*).agg(sum(col(tag)).as("_d"))
      .filter(col("_d") =!= 0L).isEmpty
  }

  /** The k-th smallest value of `c` (1-based rank), computed
    * DISTRIBUTED: a range-partitioned sort + per-partition index
    * (zipWithIndex = one count pass + a map), then a single-row
    * lookup — no `orderBy.limit(n/2)` global limit funneling half the
    * table's keys through one task, no driver-side merge of
    * per-partition top-k buffers. Works for any orderable column type
    * (the string-key gates need it too, which rules out
    * approxQuantile-banded selection).
    */
  private def kthSmallest(df: DataFrame, c: String, k: Long): Any = {
    require(k >= 1, s"kthSmallest: rank $k out of range")
    df.select(col(c)).orderBy(col(c)).rdd.zipWithIndex()
      .filter(_._2 == k - 1).map(_._1.get(0)).first()
  }

  private[queries] def ordersPrioPrice(s: SparkSession, d: String)
      : DataFrame =
    orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))

  /** A fresh mutable copy of the snapshot base (v1 = even keys, v2 =
    * odd keys, price-clustered at 8 files) at `dir`.
    */
  private[queries] def snapshotFixture(s: SparkSession, d: String,
      dir: String): Unit =
    cachedPrologue("snap", d, dir) { base =>
      val o = ordersPrioPrice(s, d)
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), base, "price", 8)
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1), base, "price", 8)
    }

  /** A fresh mutable copy of the BLOOM-carrying snapshot base (v1 =
    * even keys, v2 = odd keys, price-clustered, xxhash64 manifest
    * blooms on o_orderkey) at `dir` — shared by the bloom-delete gate
    * (which mutates its copy) and the SQL point-lookup gate (read-only).
    */
  private[graft] def bloomFixture(s: SparkSession, d: String,
      dir: String): Unit =
    cachedPrologue("snapbfx", d, dir) { base =>
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val half = o.count() / 2
      val nFiles = math.max(4L, (half + 14999) / 15000).toInt
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), base, "price", nFiles,
        bloomCols = Seq("o_orderkey"))
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1), base, "price", nFiles,
        bloomCols = Seq("o_orderkey"))
    }

  /** The snapshot base EXTENDED by the shared COW mutations three
    * gates open on identically: v3 = COW delete of the %97==3 keys,
    * v4 = COW merge doubling the %10==7 survivors' price. Gates whose
    * teeth start FROM this four-version history (the changes-feed and
    * view-maintenance family) copy it instead of re-running two COW
    * commits per invocation.
    */
  private[queries] def snapshotMutatedFixture(s: SparkSession, d: String,
      dir: String): Unit =
    cachedPrologue("snapmut", d, dir) { base =>
      snapshotFixture(s, d, base)
      val o = ordersPrioPrice(s, d)
      graft.sources.SnapshotTable.commitDelete(s, base, "o_orderkey",
        o.filter(col("o_orderkey") % 97 === 3).select(col("o_orderkey")),
        "price")
      graft.sources.SnapshotTable.commitMerge(s, base,
        o.filter(col("o_orderkey") % 10 === 7 &&
            col("o_orderkey") % 97 =!= 3)
          .withColumn("price", (col("price") * 2).cast("decimal(18,2)")),
        "o_orderkey", "price")
    }

  /** Shared ANSI windowed-SQL text (see [[SqlQ3]]'s contract): named
    * WINDOW clause, rank and a running decimal frame, one string
    * through both spark.sql and the DuckDB oracle.
    */
  private val SqlWindow =
    """SELECT o_custkey, o_orderkey, rk,
      |  CAST(run_spend AS DOUBLE) AS run_spend
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(row_number() OVER w_price AS BIGINT) AS rk,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_time AS run_spend
      |  FROM orders
      |  WINDOW
      |    w_price AS (PARTITION BY o_custkey
      |                ORDER BY o_totalprice DESC, o_orderkey),
      |    w_time AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  /** Shared ANSI LATERAL-join text (same one-string-two-engines
    * contract): a correlated derived table per outer row — the ANSI
    * form Spark decorrelates into a join, exercised as shared text so
    * the decorrelation is proven result-identical to DuckDB's.
    */
  private val SqlLateral =
    """SELECT c.c_custkey, c.c_name, t.n_urgent, t.max_price
      |FROM customer c,
      |LATERAL (SELECT count(*) AS n_urgent,
      |           CAST(max(o_totalprice) AS DOUBLE) AS max_price
      |         FROM orders o
      |         WHERE o.o_custkey = c.c_custkey
      |           AND o.o_orderpriority = '1-URGENT') t
      |WHERE t.n_urgent > 0
      |ORDER BY c.c_custkey""".stripMargin

  /** Shared ANSI aggregate-FILTER text (same contract): per-group
    * conditional aggregation in the standard FILTER (WHERE ...) form
    * both engines parse natively.
    */
  private val SqlFilterAgg =
    """SELECT o_orderpriority,
      |  count(*) AS n,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS rev_open
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q3 in dialect-common ANSI SQL — this ONE string runs
    * verbatim through BOTH spark.sql (Catalyst's parser/analyzer path,
    * otherwise untouched by the DataFrame queries) and the DuckDB
    * oracle. The strongest parity statement in the suite: same text,
    * two engines, identical hashes.
    */
  private val SqlQ3 =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '2000-06-01'
      |  AND l_shipdate > TIMESTAMP '2000-06-01'
      |GROUP BY l_orderkey
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Shared ANSI `WITH RECURSIVE` (Spark 4 executes it natively as an
    * iterative union loop, DuckDB likewise): every part's depth in the
    * implicit binary tree over part keys (node -> floor(node/2) walks to
    * the root), rolled up to per-depth decimal-exact retail totals. The
    * halving uses floor(x / 2.0) because bare `/` is double-division in
    * BOTH dialects while integer division is spelled differently
    * (`div` vs `//`) — floor of an exact half-integer double is
    * engine-identical.
    */
  private val SqlRecursive =
    """WITH RECURSIVE walk(root, node, depth) AS (
      |  SELECT p_partkey AS root, p_partkey AS node, 0 AS depth FROM part
      |  UNION ALL
      |  SELECT root, CAST(floor(node / 2.0) AS BIGINT), depth + 1
      |  FROM walk WHERE node > 1
      |)
      |SELECT d.depth, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS retail_total
      |FROM (SELECT root, MAX(depth) AS depth FROM walk GROUP BY root) d
      |JOIN part ON p_partkey = d.root
      |GROUP BY d.depth
      |ORDER BY d.depth""".stripMargin

  /** Sort-based EXACT quantiles of `v` per `grp`: rank within the group
    * (one range-partitioned window sort), keep only the two boundary
    * rows per requested quantile, interpolate.
    *
    * Spark's `percentile` is exact too, but it aggregates a value->count
    * map per group — O(distinct values) heap PER GROUP concentrated on
    * the merging reducer, which is exactly what dies on a 100 TB column
    * of doubles. The sort formulation spreads the work across the
    * cluster like any other sort and keeps O(1) state per group after
    * the boundary filter. Interpolation replicates Percentile's exact
    * float shape `(higher-pos)*lo + (pos-lower)*hi` (== DuckDB
    * quantile_cont), so results stay bit-identical to the oracle.
    */
  private def exactQuantiles(df: DataFrame, grp: String, v: String,
      qs: Seq[(Double, String)]): DataFrame =
    exactQuantilesBy(df, Seq(grp), v, qs)

  /** Multi-key variant: one sort pipeline partitioned by ALL of
    * `grpCols` — lets callers quantile several metrics in a single pass
    * by unpivoting (metric, value) into the grouping first.
    */
  private[graft] def exactQuantilesBy(df: DataFrame, grpCols: Seq[String], v: String,
      qs: Seq[(Double, String)]): DataFrame =
    // Rank -> value over the group's DISTINCT-VALUE histogram instead
    // of a row_number over raw rows: ties collapse in the map-side
    // partial aggregate, and a tie-heavy group costs its value
    // cardinality, not its row count (same move as quantilesRanged's
    // target-bucket histogram).
    exactQuantilesHist(
      df.select((grpCols :+ v).map(col): _*)
        .groupBy((grpCols.map(col) :+ col(v)): _*)
        .agg(count(lit(1)).as("_vc")),
      grpCols, v, "_vc", qs)

  /** The quantile core over a PRE-AGGREGATED per-group distinct-value
    * histogram: `hist` must be distinct on (grpCols, v) with a positive
    * LONG weight `wc` counting the raw rows at that value. Exposed so a
    * consumer that already built the histogram (q_outlier_mad's MAD =
    * weighted median of |v - med| over the (value, count) relation) can
    * quantile WITHOUT a second raw-table scan — the weighted form is
    * identical math: 0-based ranks [_cum - _vc, _cum - 1] all map to
    * this value, so the window only ever sorts distinct values.
    */
  private[graft] def exactQuantilesHist(hist: DataFrame, grpCols: Seq[String],
      v: String, wc: String, qs: Seq[(Double, String)]): DataFrame = {
    val gc = grpCols.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(col(v))
    val wa = Window.partitionBy(gc: _*)
    val base = hist
      .select(gc :+ col(v) :+ col(wc).as("_vc"): _*)
      .withColumn("_cum", sum(col("_vc")).over(w))
      .withColumn("_pos",
        struct(qs.zipWithIndex.map { case ((q, _), i) =>
          (lit(q) * (sum(col("_vc")).over(wa) - 1).cast("double"))
            .as(s"p$i")
        }: _*))
    def covers(r: Column) =
      col("_cum") - col("_vc") <= r && r < col("_cum")
    val keep = qs.indices.map { i =>
      val p = col(s"_pos.p$i")
      covers(floor(p)) || covers(ceil(p))
    }.reduce(_ || _)
    val aggs = qs.zipWithIndex.flatMap { case ((_, _), i) =>
      val p = col(s"_pos.p$i")
      Seq(
        min(when(covers(floor(p)), col(v))).as(s"_lo$i"),
        min(when(covers(ceil(p)), col(v))).as(s"_hi$i"),
        first(p).as(s"_p$i"))
    }
    val outs = qs.zipWithIndex.map { case ((_, name), i) =>
      val (lo, hi, p) = (col(s"_lo$i"), col(s"_hi$i"), col(s"_p$i"))
      round(when(floor(p) === ceil(p), lo)
        .otherwise((ceil(p) - p) * lo + (p - floor(p)) * hi), 6).as(name)
    }
    base.filter(keep)
      .groupBy(gc: _*).agg(aggs.head, aggs.tail: _*)
      .select(gc ++ outs: _*)
  }

  /** Number of value-range buckets per group in [[rangedCore]]. More
    * buckets = finer rank-selection pushdown (a smaller fraction of the
    * data reaches the sort) at the price of a slightly larger
    * boundary/offset relation; 64 keeps the offset relation at
    * (64 x groups) rows while targeting <2% of rows per bucket.
    */
  private val RangeBuckets = 64

  /** Shared value-bucketed rank core. Round-4 shape was
    * repartitionByRange + localCheckpoint: a full shuffle AND a full
    * materialization of the relation before any rank arithmetic — fixed
    * multi-second overhead per query locally and a full-data exchange at
    * cluster scale. This shape moves the bucketing INTO an expression:
    * per-group bucket boundaries come from a hash-deterministic ~1%
    * sample, aggregated to at most (RangeBuckets-1) x groups rows and
    * collected — the exact move Spark's own RangePartitioner makes
    * (sample, collect boundaries to the driver, bake them into the
    * partitioner); the few-groups precondition of this core is what
    * keeps the collect broadcast-sized. The boundaries come back as a
    * LITERAL comparison chain, so `_pid` = "how many boundaries sort
    * below v" is pure whole-stage-codegen arithmetic (a higher-order
    * array filter here measured 10x slower: HOFs fall out of codegen),
    * and consumers that only need a few target ranks can filter rows by
    * `_pid` BEFORE the first full-data exchange — rank-selection
    * pushdown through the shuffle itself, so only target buckets ever
    * shuffle. `_pid` is a pure function of (group, v, boundaries), so
    * every consumer recomputes it identically from the (column-pruned)
    * scan — determinism by construction instead of by materialization.
    * Returns (rows annotated with `_pid`, per-(bucket, group) counts:
    * `_c` rows in bucket, `_off` running offset of lower buckets of the
    * group, `_n` group size). Bucket index is monotone in v within a
    * group; ranks are deterministic up to ties, and the VALUE at a rank
    * is unchanged by tie order. Assumes non-null `v`.
    *
    * With `weight` set, `_c`/`_off`/`_n` aggregate that LONG column
    * instead of row counts (and stay LongType for exact integer
    * arithmetic downstream; the unweighted form keeps its historical
    * double type for quantile math) — the weighted form is how a
    * cumulative-sum-in-v-order consumer (token-budget selection)
    * distributes its prefix across range buckets instead of sorting a
    * whole group on one task. The weight column is carried through the
    * returned `data` side. Bucket boundaries still come from the
    * unweighted value sample — boundaries only steer work placement,
    * never results.
    */
  private[graft] def rangedCore(df: DataFrame, grpCols: Seq[String], v: String,
      weight: Option[String] = None): (DataFrame, DataFrame) = {
    val gc = grpCols.map(col)
    val base = df.select((grpCols ++ Seq(v) ++ weight.toSeq).map(col): _*)
    // Boundary estimation: a bounded-size uniform sample of each
    // group's DISTINCT values via hash-bucketed min_by — every (group,
    // value) hashes to one of SampleBuckets cells and each cell keeps
    // the value with the smallest hash (hash is value-independent, so
    // the kept value is a uniform draw among the cell's values; min(v)
    // instead would skew every candidate toward the low tail). Both
    // aggregations are hash-based with map-side partials — at most
    // SampleBuckets x groups rows ship — and, critically, the sample
    // size ADAPTS DOWN to the value cardinality: a low-cardinality
    // group (<= SampleBuckets distinct values) contributes every one
    // of its values. The previous shape rate-filtered on a 1-in-97
    // VALUE hash before a KMV aggregate, which starved exactly those
    // groups (a ~50-distinct-value metric passes ~0.5 values, the
    // group collapses to one bucket, and its entire extent sorts on a
    // single task — measured 2s of the old q_agg_median at sf0.1, and
    // a genuine one-task bottleneck at cluster scale). The sample only
    // picks bucket BOUNDARIES, never result values — value-at-rank is
    // invariant to the boundary set, so even a hash-collision tie in
    // min_by could only shift work between buckets, not change any
    // result; bucketing happens on the DOUBLE image of v
    // (decimal->double is monotone; distinct values that collapse to
    // one double simply share a bucket).
    val SampleBuckets = 1024
    val sampleHash = xxhash64((gc :+ col(v)): _*)
    // this core is for FEW-groups-huge-data (many small groups belong in
    // the by-group exactQuantilesBy shape); the group-dispatch plan grows
    // with group count, so fail loudly rather than build a huge CASE.
    // The limit(257) bounds what ever reaches the driver: a
    // high-cardinality misuse (say a 150k-group key) must hit the
    // require below as a clear error, not first collect groups x 1024
    // doubles and die as a driver OOM. When the precondition holds
    // (groups <= 256) the limit is a no-op.
    val sampleRows = base
      .groupBy(gc :+ pmod(sampleHash, lit(SampleBuckets)).as("_b"): _*)
      .agg(min_by(col(v).cast("double"), sampleHash).as("_bv"))
      .groupBy(gc: _*)
      .agg(sort_array(collect_list(col("_bv"))).as("_s"))
      .limit(257)
      .collect()
    require(sampleRows.length <= 256,
      "rangedCore saw more than 256 groups; use exactQuantilesBy " +
        "for many-group quantiles")
    // null group keys are unsupported LOUDLY: the consumers join data
    // to the offset/target relations on the group columns with
    // null-UNSAFE equality, so a null group would get a correct _pid
    // here and then silently vanish from the joined output — a wrong
    // answer, not an error. Coalesce or filter nullable group keys
    // before calling.
    require(sampleRows.forall(r =>
      (0 until grpCols.size).forall(i => !r.isNullAt(i))),
      "rangedCore: null group-key values unsupported (downstream " +
        "joins are null-unsafe); coalesce or filter them first")
    // boundary t = the sample value at sorted position floor(m*t/B):
    // positions are tie-invariant, so the boundary set is a pure
    // function of the sampled value set
    val byGroup: Map[Seq[Any], Array[Double]] = sampleRows.map { r =>
      val key = grpCols.map(r.getAs[Any])
      val s = r.getSeq[Double](grpCols.size).toArray
      val bs = (1 until RangeBuckets)
        .map(t => s(math.min(s.length - 1, s.length * t / RangeBuckets)))
        .distinct.toArray
      key -> bs
    }.toMap
    // _pid = |{b in boundaries : b < v}| — monotone in v, equal values
    // share a bucket, groups too small to sample collapse to bucket 0
    // (plain by-group sort, the right degenerate case). The per-group
    // count is the native codegen'd bucket_idx binary search — see
    // [[graft.functions.BucketIdx]] for why neither a HOF nor an
    // unrolled literal chain survives here.
    val vd = col(v).cast("double")
    // group keys are non-null (required above), so plain equality
    val pidExpr = byGroup.foldLeft(lit(0)) { case (acc, (gkey, bs)) =>
      val cond = grpCols.zip(gkey).map { case (c, k) =>
        col(c) === lit(k)
      }.reduce(_ && _)
      when(cond, graft.functions.BucketIdx(vd, bs)).otherwise(acc)
    }
    val data = base.withColumn("_pid", pidExpr)
    val wOff = Window.partitionBy(gc: _*).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(gc: _*)
    val bucketAgg = weight.map(w => sum(col(w))).getOrElse(count(lit(1)))
    val numT = if (weight.isDefined) "long" else "double"
    val offs = data.groupBy(col("_pid") +: gc: _*)
      .agg(bucketAgg.as("_c"))
      .withColumn("_off",
        coalesce(sum(col("_c")).over(wOff), lit(0L)).cast(numT))
      .withColumn("_n", sum(col("_c")).over(wTot).cast(numT))
      // (buckets x groups) rows; materialized because quantilesRanged
      // derives BOTH the per-group sizes and the target locations from
      // it — unmaterialized, each reference re-scans the input to
      // rebuild the counts
      .localCheckpoint()
    (data, offs)
  }

  /** Global per-group rank with parallelism INDEPENDENT of group count
    * ([[exactQuantilesBy]] partitions the sort by group, so three groups
    * sort on three tasks — fine for many groups, the wrong shape for
    * few-groups-huge-data): a row's global rank is its LOCAL rank
    * within its value bucket plus the broadcast running offset of lower
    * buckets. Annotates with `_rn` (0-based global rank in group,
    * double) and `_n` (group size, double). Unlike the quantile
    * variants there is no bucket pruning — every row needs a rank —
    * so the one full-data exchange here is the bucket-local sort
    * window's own shuffle.
    */
  private def rankedRanged(df: DataFrame, grpCols: Seq[String],
      v: String): DataFrame = {
    val gc = grpCols.map(col)
    val (data, offs) = rangedCore(df, grpCols, v)
    val wLocal = Window.partitionBy(col("_pid") +: gc: _*).orderBy(col(v))
    data
      .withColumn("_lrn", row_number().over(wLocal).cast("double"))
      .join(broadcast(
        offs.select((col("_pid") +: gc) :+ col("_off") :+ col("_n"): _*)),
        "_pid" +: grpCols)
      .withColumn("_rn", col("_off") + col("_lrn") - 1)
  }

  /** Rank-SELECTION pushdown shared by the ranged quantile variants
    * (continuous and discrete): the per-(partition, group) count
    * relation alone determines WHICH partition holds each target rank,
    * so only those partitions sort — every other partition is filtered
    * out BEFORE the local-rank window instead of fully sorting and then
    * discarding all but the boundary rows. At 1000 executors this turns
    * a full dataset sort into a handful of partition sorts; target
    * location, position arithmetic, and the final interpolation all run
    * on broadcast-sized relations. Value-at-rank is unchanged by tie
    * order, which keeps the result exact-deterministic.
    */
  private def quantilesRanged(df: DataFrame, grpCols: Seq[String],
      v: String, qs: Seq[(Double, String)], disc: Boolean): DataFrame =
    quantilesFromCore(rangedCore(df, grpCols, v), grpCols, v, qs, disc)

  /** [[quantilesRanged]] against a PRE-BUILT core — lets consumers that
    * share the identical (source, group, value) statistics relation
    * (q_winsorize / q_outlier_iqr both bucket lineitem.l_extendedprice
    * by l_returnflag) reuse one core instead of re-sampling boundaries
    * and re-counting buckets per query. The production analogue: a
    * per-column statistics/histogram relation built once per table and
    * consumed by every robust-statistics query over it.
    */
  private def quantilesFromCore(core: (DataFrame, DataFrame),
      grpCols: Seq[String], v: String, qs: Seq[(Double, String)],
      disc: Boolean): DataFrame = {
    val gc = grpCols.map(col)
    val (data, offs) = core
    // one row per group with its size, then the target-rank rows: role
    // tag, 0-based global rank, and (continuous only) the fractional
    // position p — all computed on tiny relations
    val perGroup = offs.groupBy(gc: _*).agg(max(col("_n")).as("_n"))
    val entries = qs.zipWithIndex.flatMap { case ((q, _), i) =>
      if (disc) {
        val r = (ceil(lit(q) * col("_n")) - 1).cast("double")
        Seq(struct(lit(s"v$i").as("role"), r.as("r"), lit(0.0).as("p")))
      } else {
        val p = lit(q) * (col("_n") - 1)
        Seq(
          struct(lit(s"lo$i").as("role"), floor(p).cast("double").as("r"),
            p.as("p")),
          struct(lit(s"hi$i").as("role"), ceil(p).cast("double").as("r"),
            p.as("p")))
      }
    }
    val targets = perGroup
      .select(gc :+ explode(array(entries: _*)).as("_t"): _*)
      .select(gc ++ Seq(col("_t.role").as("_role"), col("_t.r").as("_r"),
        col("_t.p").as("_p")): _*)
      .join(offs.select((col("_pid") +: gc) :+ col("_off") :+
        col("_c").cast("double").as("_cd"): _*), grpCols)
      .filter(col("_r") >= col("_off") &&
        col("_r") < col("_off") + col("_cd"))
      .select((col("_pid") +: gc) ++ Seq(
        // LONG local rank: the histogram lookup compares against a
        // long cumulative count, so there is no 2^31 rows-per-bucket
        // ceiling (row_number, which the lookup replaced, was int)
        (col("_r") - col("_off") + 1).cast("long").as("_lrn"),
        col("_role"), col("_p")): _*)
    val tpids = targets.select(col("_pid") +: gc: _*).distinct()
    // Rank -> value within a target bucket WITHOUT sorting rows: the
    // bucket's DISTINCT-VALUE histogram with a cumulative count maps
    // every local rank to its value (rank r is covered by the first
    // value whose running count reaches it), so the only sorted
    // relation is the per-bucket distinct-value set — never the rows.
    // For all-distinct data that is the same row count the row_number
    // window sorted; for tie-heavy data the ties collapse in the
    // MAP-SIDE partial aggregate. This is what keeps a
    // 99%-of-mass-on-one-value column from one-task-sorting its whole
    // extent: the heavy value is ONE histogram row no matter how many
    // billions of rows carry it. (Low-cardinality groups fall out for
    // free: their bucket-0 fallback becomes a per-value histogram, not
    // a whole-group sort.)
    val wCum = Window.partitionBy(col("_pid") +: gc: _*).orderBy(col(v))
    val hist = data
      .join(broadcast(tpids), "_pid" +: grpCols) // only target buckets
      .groupBy((col("_pid") +: gc) :+ col(v): _*)
      .agg(count(lit(1)).as("_vc"))
      .withColumn("_cum", sum(col("_vc")).over(wCum))
    val vals = hist
      .join(broadcast(targets), "_pid" +: grpCols)
      // 1-based local rank _lrn is covered by this value iff the
      // running count first reaches it here
      .filter(col("_cum") >= col("_lrn") &&
        col("_cum") - col("_vc") < col("_lrn"))
    val aggs =
      if (disc) qs.zipWithIndex.map { case ((_, name), i) =>
        min(when(col("_role") === s"v$i", col(v))).as(name)
      }
      else qs.zipWithIndex.flatMap { case ((_, _), i) =>
        Seq(
          min(when(col("_role") === s"lo$i", col(v))).as(s"_lo$i"),
          min(when(col("_role") === s"hi$i", col(v))).as(s"_hi$i"),
          min(when(col("_role") === s"lo$i", col("_p"))).as(s"_p$i"))
      }
    val grouped = vals.groupBy(gc: _*).agg(aggs.head, aggs.tail: _*)
    if (disc) grouped.select(gc ++ qs.map { case (_, n) => col(n) }: _*)
    else {
      val outs = qs.zipWithIndex.map { case ((_, name), i) =>
        val (lo, hi, p) = (col(s"_lo$i"), col(s"_hi$i"), col(s"_p$i"))
        round(when(floor(p) === ceil(p), lo)
          .otherwise((ceil(p) - p) * lo + (p - floor(p)) * hi), 6).as(name)
      }
      grouped.select(gc ++ outs: _*)
    }
  }

  private[graft] def exactQuantilesRanged(df: DataFrame, grpCols: Seq[String],
      v: String, qs: Seq[(Double, String)]): DataFrame =
    quantilesRanged(df, grpCols, v, qs, disc = false)

  /** Memoized (lineitem, l_returnflag, l_extendedprice) rank core shared
    * by the two fence queries. rangedCore is EAGER (boundary-sample
    * collect + offset checkpoint), so without the memo each consumer
    * re-runs those jobs on the same session+sf. ScaleStress clears this
    * (invalidateStatCores) so scaling passes still pay the full build.
    */
  private val statCoreMemo = new scala.collection.concurrent.TrieMap[
    (SparkSession, String), (DataFrame, DataFrame)]

  private def lineitemPriceCore(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    statCoreMemo.getOrElseUpdate((s, d),
      rangedCore(lineitem(s, d), Seq("l_returnflag"), "l_extendedprice"))

  private[graft] def invalidateStatCores(): Unit = {
    // unpersist the evicted offset checkpoints eagerly — clearing only
    // the map strands their blocks until the ContextCleaner GCs them,
    // which defeats the cache-honesty ScaleStress invalidates for
    statCoreMemo.values.foreach { case (data, offs) =>
      data.unpersist(blocking = false)
      offs.unpersist(blocking = false)
    }
    statCoreMemo.clear()
  }

  /** Discrete quantiles on the same ranged-rank core: the reported
    * value is an actual data value — the element at 1-based sorted
    * index ceil(q*n) (DuckDB quantile_disc's convention) — so there is
    * no interpolation and no rounding anchor to manage.
    */
  private[graft] def discQuantilesRanged(df: DataFrame, grpCols: Seq[String],
      v: String, qs: Seq[(Double, String)]): DataFrame =
    quantilesRanged(df, grpCols, v, qs, disc = true)

  /** Correlated EXISTS / NOT EXISTS in dialect-common ANSI SQL — like
    * [[SqlQ3]], ONE string through both spark.sql and the DuckDB oracle.
    */
  private val SqlExists =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Correlated scalar subquery, same shared-string contract. */
  private val SqlScalarSub =
    """SELECT o_orderkey, o_totalprice,
      |  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey = o_orderkey)
      |    AS n_items
      |FROM orders ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1/2.2 scans, projections, filters -------------------------
    "q_scan" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        // full-OUTPUT order: (orderkey, linenumber) is NOT unique in the
        // synthetic data at sf>=0.1, and a tie under LIMIT/hashing is an
        // engine-dependent row choice. Sorting on every output column
        // makes any remaining tie a full-row duplicate — order-ambiguity
        // without value-ambiguity.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))),

    "q_filter_project" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 30)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("net_price"),
          lower(col("l_linestatus")).as("status"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("net_price"),
          col("status"))),

    // P3: conditional projection (the reference's sender-equality dispatch,
    // gmail_functions.py:299-302).
    "q_case_when" -> ((s, d) =>
      orders(s, d)
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 300000, "big")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("small").as("bucket"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("urgent"))
        .orderBy(col("o_orderkey"))),

    // ---- §2.6 sorts / limits / top-k ----------------------------------
    // L1: limit pushdown (reference fetch budget, gmail_functions.py:151).
    "q_limit" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .limit(100)),

    // Top-k → TakeOrderedAndProject (no global sort at scale).
    "q_topk" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)),

    // Null-safe equi-join (<=>): NULL keys hash and match like values —
    // a distinct join mode (EqualNullSafe keys stay a HASH join; a plain
    // = with NULLs silently drops rows). Both sides pre-aggregate to one
    // row per key so the NULL-bucket match stays 1:1 and bounded.
    "q_join_nullsafe" -> ((s, d) => {
      val a = orders(s, d)
        .withColumn("k",
          when(col("o_orderkey") % 11 === 0, lit(null))
            .otherwise(col("o_custkey") % 50))
        .groupBy(col("k")).agg(count(lit(1)).as("n_ord"))
      val b = customer(s, d)
        .withColumn("k",
          when(col("c_custkey") % 13 === 0, lit(null))
            .otherwise(col("c_custkey") % 50))
        .groupBy(col("k")).agg(count(lit(1)).as("n_cust"))
      a.join(b, a("k") <=> b("k"))
        .select(a("k").as("k"), col("n_ord"), col("n_cust"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // Pareto skyline (multi-objective top-k: the "best tradeoff" cut a
    // data-selection pipeline makes when no single score exists): the
    // non-dominated customers by (order count, total spend). NOT the
    // naive O(n^2) dominance anti-join — a grid-prune: per distinct
    // order-count only the max-spend rows can survive (same-n higher
    // spend dominates), the <=|distinct n| candidates resolve dominance
    // with one running-max window over that tiny relation, and the
    // winners broadcast back as a (n, spend) semi-join. Spend stays
    // decimal-exact through every comparison; double only at the edge.
    "q_skyline" -> ((s, d) => {
      val cust = orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("spend"))
      val cand = cust.groupBy(col("n_orders"))
        .agg(max(col("spend")).as("spend"))
      val wRun = Window.orderBy(col("n_orders").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = cand
        .withColumn("best_above", max(col("spend")).over(wRun))
        .filter(col("best_above").isNull ||
          col("spend") > col("best_above"))
        .select(col("n_orders"), col("spend"))
      cust.join(broadcast(sky), Seq("n_orders", "spend"), "left_semi")
        .select(col("o_custkey"), col("n_orders"),
          col("spend").cast("double").as("spend"))
        .orderBy(col("o_custkey"))
    }),

    // Two-stage salted aggregation — the hot-key agg pattern at cluster
    // scale: stage 1 aggregates on (key, salt) so a hot key's rows
    // spread over 16 reducers, stage 2 merges the 16 partials per key.
    // Salt is derived (event_id % 16), not random, and every sum is
    // decimal-exact, so the two-stage plan is provably equal to the
    // direct groupBy — which is exactly what the plain-GROUP-BY oracle
    // checks. (ops.Skew covers the join-side variant; this is the agg
    // side.)
    "q_agg_salted" -> ((s, d) => {
      val partial = events(s, d)
        .withColumn("salt", (col("event_id") % 16).cast("int"))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("ps"))
      partial.groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"),
          sum(col("ps")).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ---- §2.3 joins ----------------------------------------------------
    // J1: the reference's dedup anti-join (gmail_functions.py:173-178).
    "q_anti_join" -> ((s, d) => {
      val recent = orders(s, d)
        .filter(col("o_orderdate") >= lit("2001-01-01"))
        .select(col("o_custkey"))
      customer(s, d)
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // J2: semi-join (reference's seen-side probe, gmail_functions.py:175).
    "q_semi_join" -> ((s, d) => {
      val recent = orders(s, d)
        .filter(col("o_orderdate") >= lit("2001-01-01"))
        .select(col("o_custkey"))
      customer(s, d)
        .join(recent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q_join_inner" -> ((s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // Small-dimension join: explicit broadcast, no shuffle of the big side.
    "q_join_broadcast" -> ((s, d) =>
      nation(s, d)
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))),

    // Left outer against a pre-aggregated fact side + null handling.
    "q_join_outer" -> ((s, d) => {
      val perCust = orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("sp"))
      customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("sp"), lit(0.0)).as("spent"))
        .orderBy(col("c_custkey"))
    }),

    // Time-band self join, bucketed: assign each row to a fixed-width time
    // bucket, explode the probe side into (bucket-1, bucket), equi-join on
    // (user, bucket), then refine with the exact band predicate. This is a
    // shuffle hash/sort-merge join at any scale — never a cartesian.
    "q_join_range" -> ((s, d) => {
      val ev = events(s, d).select(
        col("event_id"), col("user_id"), unix_micros(col("ts")).as("u"))
      val probe = ev.select(
        col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("u").as("b_u"),
        explode(array(expr(s"(u div $BandUs) - 1"), expr(s"u div $BandUs")))
          .as("bkt"))
      val base = ev.withColumn("bkt", expr(s"u div $BandUs"))
      base.join(probe,
          base("user_id") === probe("b_user") && base("bkt") === probe("bkt"))
        .filter(col("b_u") > col("u") && col("b_u") - col("u") <= BandUs)
        .select(col("user_id"), col("event_id").as("a_id"), col("b_id"),
          (col("b_u") - col("u")).as("gap_us"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Backward as-of join (ops.AsOfJoin): each click picks up the user's
    // most recent purchase at-or-before it. Union + single window pass —
    // one shuffle on user_id, linear per partition, no pair explosion
    // (the brute-force twin exists only as the test oracle). The build
    // side is pre-aggregated to one row per (user_id, ts) so the
    // equal-timestamp winner is explicit on both engines.
    "q_join_asof" -> ((s, d) => {
      val clicks = events(s, d).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("p_value"),
          max(col("event_id")).as("p_event_id"))
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("p_event_id"), round(col("p_value"), 6).as("p_value"))
        .orderBy(col("event_id"))
    }),

    // As-of with a STALENESS TOLERANCE (merge_asof's tolerance knob):
    // the latest prior purchase matches only within a 1-hour lookback —
    // a match older than the horizon is as good as no match (the
    // trades/quotes "stale quote" rule, the feature-store "feature too
    // old" rule). Because as-of picks the LATEST prior row, dropping an
    // out-of-horizon match is exactly the tolerance semantics (every
    // earlier row is older still), which is also how the oracle
    // expresses it: DuckDB ASOF join, then NULL the payload when the
    // matched gap exceeds the horizon.
    "q_join_asof_tolerance" -> ((s, d) => {
      val clicks = events(s, d).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("p_value"),
          max(col("event_id")).as("p_event_id"))
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "ts",
          tolerance = Some(lit(3600000000L)))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("p_event_id"), round(col("p_value"), 6).as("p_value"))
        .orderBy(col("event_id"))
    }),

    // Forward as-of: "first purchase AFTER the click" — the conversion
    // attribution shape; the same union + one-window plan as q_join_asof
    // with the within-partition sort reversed, oracle = DuckDB ASOF with
    // the inequality flipped.
    "q_join_asof_forward" -> ((s, d) => {
      val clicks = events(s, d).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("p_value"),
          max(col("event_id")).as("p_event_id"))
      AsOfJoin.asofForward(clicks, purchases, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("p_event_id"), round(col("p_value"), 6).as("p_value"))
        .orderBy(col("event_id"))
    }),

    // The skew-resistant as-of variant against the SAME DuckDB ASOF
    // oracle: time-bucketed windows + cross-bucket carry must be a pure
    // physical rewrite of the plain as-of (hot keys parallelize across
    // their time range instead of serializing through one partition).
    "q_join_asof_bucketed" -> ((s, d) => {
      val clicks = events(s, d).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("p_value"),
          max(col("event_id")).as("p_event_id"))
      AsOfJoin.asofBucketed(clicks, purchases, Seq("user_id"), "ts", "ts",
          ts => floor(unix_micros(ts) / lit(3600000000L)))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("p_event_id"), round(col("p_value"), 6).as("p_value"))
        .orderBy(col("event_id"))
    }),

    // The NATIVE as-of operator (plans.AsofNative → AsofJoinExec): same
    // point-in-time lookup as q_join_asof but INNER semantics, planned
    // as a first-class sort-merge node — one shuffle per side, O(1)
    // carried state in the merge — instead of the union+window idiom.
    // Oracle is DuckDB's own ASOF JOIN.
    "q_join_asof_native" -> ((s, d) => {
      val clicks = events(s, d).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("p_value"),
          max(col("event_id")).as("p_event_id"))
      graft.plans.AsofNative.asofInner(
          clicks, purchases, Seq("user_id"), "ts", "ts")
        .select(clicks("event_id"), clicks("user_id"),
          unix_micros(clicks("ts")).as("ts_us"),
          col("p_event_id"), round(col("p_value"), 6).as("p_value"))
        .orderBy(col("event_id"))
    }),

    // Recursive SQL front-end path: ONE shared WITH RECURSIVE string
    // through spark.sql AND the DuckDB oracle — Spark 4 plans the
    // recursion as an iterative union loop (log2(maxkey) rounds here,
    // each a distributed step), the same execution shape as the
    // driver-coordinated loops in ops.Clusters but expressed purely in
    // the SQL surface.
    "q_sql_recursive" -> ((s, d) => {
      part(s, d).createOrReplaceTempView("part")
      s.sql(SqlRecursive)
    }),

    // SQL front-end path: the shared ANSI text (see SqlQ3 above).
    "q_sql_q3" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("customer")
      orders(s, d).createOrReplaceTempView("orders")
      lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlQ3)
    }),

    // Shared ANSI LATERAL join (see SqlLateral above).
    "q_sql_lateral" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("customer")
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlLateral)
    }),

    // Shared ANSI aggregate FILTER (see SqlFilterAgg above).
    "q_sql_filter_agg" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlFilterAgg)
    }),

    // Shared ANSI text with WINDOW functions (rank + moving frame +
    // named WINDOW clause) through both engines — extends the
    // same-text-two-engines parity family (Q3, recursive, EXISTS,
    // scalar subquery) to the windowed-SQL surface.
    "q_sql_window" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlWindow)
    }),

    // Multi-join star query (TPC-H Q9 shape): fact scans once, every
    // dimension broadcasts, aggregation on top — the join-reorder +
    // broadcast-selection path Catalyst owns at scale.
    "q_join_multi" -> ((s, d) =>
      lineitem(s, d)
        .join(broadcast(part(s, d).filter(col("p_size") > 30)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), col("p_brand"))),

    // ---- §2.4 aggregations ---------------------------------------------
    "q_agg_group" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumDec(col("l_quantity")).as("sum_qty"),
          sumDec(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          avgDec(col("l_quantity")).as("avg_qty"),
          avgDec(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // A2: global counts (reference len() logging, gmail_functions.py:102).
    "q_agg_count" -> ((s, d) =>
      orders(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_cust"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))),

    "q_agg_distinct" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),

    "q_agg_rollup" -> ((s, d) =>
      orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    "q_agg_cube" -> ((s, d) =>
      orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Second-moment statistics from EXACT decimal sums (S1, S2), so the
    // derived mean/variance/stddev are order-independent doubles — the
    // built-in one-pass stddev/var aggregates are partitioning-dependent
    // in their low bits and cannot be hash-compared across engines.
    "q_agg_stats" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("s1"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity")))
            .cast("double").as("s2"))
        .select(col("l_returnflag"), col("n"),
          round(col("s1") / col("n"), 6).as("mean_qty"),
          round((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1), 6).as("var_qty"),
          round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1)), 6).as("std_qty"))
        .orderBy(col("l_returnflag"))),

    // Partial-state re-aggregation (the algebra behind incremental view
    // maintenance): yesterday's rollup and today's delta each carry
    // composable state (count + exact decimal sum), and merging is just
    // re-aggregation of the union — no raw-row replay. Here the fact
    // table splits into two halves aggregated independently (as an
    // incremental pipeline would hold them), then the merged rollup is
    // oracle-checked against the direct aggregate of all rows: the
    // equality IS the composability proof. avg derives from merged
    // (sum, count), never from averaging averages.
    "q_agg_merge" -> ((s, d) => {
      def part(df: DataFrame) = df
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("s"))
      val o = orders(s, d)
      part(o.filter(col("o_orderkey") % 2 === 0))
        .unionByName(part(o.filter(col("o_orderkey") % 2 =!= 0)))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n_orders"),
          sum(col("s")).cast("double").as("total"))
        .select(col("o_orderpriority"), col("n_orders"), col("total"),
          round(col("total") / col("n_orders"), 6).as("avg_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // A/B experiment readout (Welch's t): users hash-assign to variants
    // with the same portable 31-bit digest the sampling family uses (a
    // pure function of user_id — assignment is reproducible anywhere,
    // no stored mapping). Means/variances come from exact decimal
    // moment sums, so the aggregation is partition-independent; floats
    // appear only in the final 1-row statistic, computed with the
    // identical expression tree in both engines.
    "q_ab_test" -> ((s, d) => {
      val assigned = events(s, d).select(
        when(graft.ext.TextOps.hash31(col("user_id").cast("string")) % 2
          === 0, "A").otherwise("B").as("variant"),
        col("value"))
      val m = assigned.groupBy(col("variant")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("s1"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("s2"))
      val w = m.agg(
        min(when(col("variant") === "A", col("n"))).as("n_a"),
        min(when(col("variant") === "A", col("s1"))).as("s1_a"),
        min(when(col("variant") === "A", col("s2"))).as("s2_a"),
        min(when(col("variant") === "B", col("n"))).as("n_b"),
        min(when(col("variant") === "B", col("s1"))).as("s1_b"),
        min(when(col("variant") === "B", col("s2"))).as("s2_b"))
      val vA = (col("s2_a") - col("s1_a") * col("s1_a") / col("n_a")) /
        (col("n_a") - 1)
      val vB = (col("s2_b") - col("s1_b") * col("s1_b") / col("n_b")) /
        (col("n_b") - 1)
      w.select(col("n_a"), col("n_b"),
        round(col("s1_a") / col("n_a"), 6).as("mean_a"),
        round(col("s1_b") / col("n_b"), 6).as("mean_b"),
        round(vA, 6).as("var_a"), round(vB, 6).as("var_b"),
        round((col("s1_a") / col("n_a") - col("s1_b") / col("n_b")) /
          sqrt(vA / col("n_a") + vB / col("n_b")), 6).as("t_welch"))
    }),

    // Exact median (full-sort percentile — the exact twin of the
    // approx-sketch path; both engines midpoint-interpolate sorted
    // doubles identically). Both metrics ride ONE sort pipeline:
    // unpivot (metric, value) into the window partitioning — one scan,
    // one exchange, one sort over 2n rows — instead of two full
    // sort-window pipelines joined at the end.
    "q_agg_median" -> ((s, d) => {
      val long = lineitem(s, d)
        .select(col("l_returnflag"),
          explode(map(
            lit("qty"), col("l_quantity").cast("double"),
            lit("price"), col("l_extendedprice").cast("double")))
            .as(Seq("metric", "v")))
      val q = exactQuantilesRanged(long, Seq("l_returnflag", "metric"), "v",
        Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75"))
      q.groupBy(col("l_returnflag"))
        .agg(
          min(when(col("metric") === "qty", col("q50"))).as("med_qty"),
          min(when(col("metric") === "price", col("q25"))).as("p25_price"),
          min(when(col("metric") === "price", col("q75"))).as("p75_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Per-customer median: the MANY-groups quantile shape. With
    // thousands of small groups, partitioning the sort BY GROUP is
    // exactly right (each task sorts whole groups, no cross-range
    // bookkeeping) — the complement of the few-groups range-partitioned
    // form used by q_agg_median / q_outlier_iqr.
    "q_quantile_by_group" -> ((s, d) =>
      exactQuantilesBy(orders(s, d), Seq("o_custkey"), "o_totalprice",
        Seq(0.5 -> "med_price"))
        .orderBy(col("o_custkey"))),

    // Robust outliers by MEDIAN ABSOLUTE DEVIATION: the group median,
    // then the median of |value - median|, then the 3-MAD flag (the
    // robust z-score rule that, unlike mean/stddev, a few extreme rows
    // cannot drag toward themselves; the standard companion to the IQR
    // fence q_outlier_iqr ships). The raw table is scanned ONCE: the
    // per-group (value, count) histogram is materialized and EVERY
    // later stage runs over it — the median via the histogram quantile
    // core, the deviation histogram by re-keying the SAME relation on
    // |v - med| (a groups x distinct-values relation, never the raw
    // rows), MAD as its weighted median, and the final count/flag
    // aggregation over the deviation histogram with the counts as
    // weights. At 100 TB the two avoided raw re-scans are the cost of
    // the query; no global sort, no raw stddev accumulation order to
    // diverge on.
    "q_outlier_mad" -> ((s, d) => {
      val hist = lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"))
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("_vc"))
        .localCheckpoint()
      // med (3 rows), devHist and mad (3 rows) each feed 2-4 consumers
      // in the final plan and exchange reuse does NOT fire across the
      // nested broadcasts (measured: 10 hist scans / 16 Windows warm) —
      // materialize each once so every window chain runs exactly once.
      // Values unchanged: checkpointing only pins already-computed rows.
      val med = exactQuantilesHist(hist, Seq("l_returnflag"),
        "l_extendedprice", "_vc", Seq(0.5 -> "med")).localCheckpoint()
      val devHist = hist.join(broadcast(med), Seq("l_returnflag"))
        .withColumn("adev", abs(col("l_extendedprice") - col("med")))
        .groupBy(col("l_returnflag"), col("adev"))
        .agg(sum(col("_vc")).as("_vc"))
        .localCheckpoint()
      val mad = exactQuantilesHist(devHist, Seq("l_returnflag"), "adev",
        "_vc", Seq(0.5 -> "mad")).localCheckpoint()
      devHist.join(broadcast(mad), Seq("l_returnflag"))
        .join(broadcast(med), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("_vc")).as("n"),
          first(round(col("med"), 6)).as("med"),
          first(round(col("mad"), 6)).as("mad"),
          sum(when(col("adev") > lit(3.0) * col("mad"), col("_vc"))
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("l_returnflag"))
    }),

    // CROSS-SOURCE quantile normalization readout: every source's
    // exact quartile grid aligned against the POOLED distribution's —
    // the alignment table a mixing pipeline consults to decide whether
    // a source's length/quality profile needs rescaling before
    // sampling (quantile normalization's first step; the per-row
    // remap is a broadcast join against exactly this table). Both
    // grids ride the distinct-value-histogram quantile core, so the
    // whole readout costs two scalable passes and a 1-row broadcast —
    // never a global sort.
    "q_quantile_normalize" -> ((s, d) => {
      val qs = Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75")
      val docs = documents(s, d).select(col("source"), col("n_chars"))
      val perSource = exactQuantilesBy(docs, Seq("source"), "n_chars", qs)
      val pooled = exactQuantilesBy(
          docs.withColumn("_all", lit(1)), Seq("_all"), "n_chars",
          Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))
        .drop("_all")
      perSource.crossJoin(broadcast(pooled))
        .select(col("source"), col("q25"), col("q50"), col("q75"),
          col("p25"), col("p50"), col("p75"),
          round(col("q50") - col("p50"), 6).as("median_shift"))
        .orderBy(col("source"))
    }),

    // Quantile normalization APPLIED — the per-row remap the alignment
    // table above exists for: every document's n_chars maps from its
    // SOURCE's quartile grid onto the POOLED grid by piecewise-linear
    // interpolation (below q25 / above q75: parallel shift by the knot
    // offset; between knots: linear interp). The remap runs MAP-ONLY
    // after the two quantile passes: the per-source knots broadcast-join
    // back onto the scan (|sources| rows), so at 100 TB the apply step
    // costs one pass with no shuffle. Arithmetic is EXACT by
    // construction: n_chars is integral and the quartile grid of
    // integers interpolates at p in quarter steps, so every knot times 4
    // is an exact integer — the whole remap then runs in integer
    // quarter-units with floor division (both operands non-negative:
    // quantiles are monotone), never a float division whose rounding
    // could diverge between engines. An interp branch can only fire
    // when its knot interval is non-empty (x in [lo, hi) implies
    // lo < hi), so the divisor is never zero.
    "q_quantile_remap" -> ((s, d) => {
      val qs = Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75")
      val docs = documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val perSource = exactQuantilesBy(docs, Seq("source"), "n_chars", qs)
      val pooled = exactQuantilesBy(
          docs.withColumn("_all", lit(1)), Seq("_all"), "n_chars",
          Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))
        .drop("_all")
      val knots = perSource.crossJoin(broadcast(pooled))
        .select(col("source"),
          (col("q25") * 4).cast("long").as("sq1"),
          (col("q50") * 4).cast("long").as("sq2"),
          (col("q75") * 4).cast("long").as("sq3"),
          (col("p25") * 4).cast("long").as("pq1"),
          (col("p50") * 4).cast("long").as("pq2"),
          (col("p75") * 4).cast("long").as("pq3"))
      docs.join(broadcast(knots), Seq("source"))
        .withColumn("x4", col("n_chars").cast("long") * 4)
        .select(col("doc_id"), col("source"), col("n_chars"),
          when(col("x4") < col("sq1"), "lo")
            .when(col("x4") < col("sq2"), "mid1")
            .when(col("x4") < col("sq3"), "mid2")
            .otherwise("hi").as("seg"),
          when(col("x4") < col("sq1"),
              col("x4") + col("pq1") - col("sq1"))
            .when(col("x4") < col("sq2"), col("pq1") +
              expr("(x4 - sq1) * (pq2 - pq1) div (sq2 - sq1)"))
            .when(col("x4") < col("sq3"), col("pq2") +
              expr("(x4 - sq2) * (pq3 - pq2) div (sq3 - sq2)"))
            .otherwise(col("x4") + col("pq3") - col("sq3"))
            .as("remap_q4"))
        .orderBy(col("doc_id"))
    }),

    // Unpivot (wide -> long): the reshaping inverse of q_pivot, a pure
    // map-side generator (each row fans out to one row per metric).
    "q_unpivot" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))),

    // Pivot: one output column per status value (explicit value list, so
    // the plan is a single pass of conditional aggregates — no second
    // distinct-scan at 100 TB).
    "q_pivot" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))),

    // The HLL++ sketch path: one pass, fixed memory per group. The raw
    // estimate is a function of Spark's register layout and bias tables,
    // not of the data alone (measured: 26 for 25 true distinct at
    // default rsd) — so instead of emitting the engine-private estimate,
    // emit the BOUND CHECK: within_bound = |approx - exact| <= 3*rsd*exact
    // computed inside Spark against count(distinct) on the same
    // relation. The DuckDB twin recomputes the boolean from exact counts
    // (TRUE — an in-bound sketch), so the hash matches IFF the HLL
    // estimate is inside its 3-sigma envelope: the sketch quality itself
    // is now under the oracle gate, with no engine-private bits in the
    // output. q_agg_kmv / q_sketch_cms still carry the oracle-EXACT
    // approximate-algorithm story.
    "q_agg_approx" -> ((s, d) => {
      val rsd = 0.05 // approx_count_distinct's default relative std dev
      customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(approx_count_distinct(col("c_nationkey")).as("approx"),
          countDistinct(col("c_nationkey")).as("n_nations_exact"),
          count(lit(1)).as("n_rows"))
        .select(col("c_mktsegment"), col("n_rows"), col("n_nations_exact"),
          (abs(col("approx").cast("double")
              - col("n_nations_exact").cast("double"))
            <= lit(3 * rsd) * col("n_nations_exact").cast("double"))
            .as("within_bound"))
        .orderBy(col("c_mktsegment"))
    }),

    // Custom typed Aggregator (bounded top-k state per group — the
    // collect_list-free shape that survives skewed groups at scale).
    "q_agg_topk_group" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(graft.ops.Aggregators.topKByScore(3)(
          col("o_totalprice"), col("o_orderkey")).as("top_orders"))
        .orderBy(col("o_custkey"))),

    // A1: collect + ordered join (reference body assembly,
    // gmail_functions.py:286-291) — array_join(sort_array(collect_list)).
    "q_collect_join" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(array_join(
          sort_array(collect_list(col("l_linenumber").cast("string"))), ",")
          .as("lines"))
        .orderBy(col("l_orderkey"))),

    // Column profiler (data-quality sweep): per column, row count, null
    // count, distinct count, min/max — the first query any ingestion
    // pipeline runs on a new 100 TB drop. TWO passes, each the cheap
    // shape for its aggregates, instead of one combined agg: mixing
    // multi-column countDistinct with string-buffered min/max plans as
    // Expand x4 into a KEYED SortAggregate — string aggregation buffers
    // are immutable, so hash agg is off the table and the whole
    // expanded relation full-sorts on (value, gid) before a single
    // partial aggregate runs (measured 2s+ at sf0.1 for a 150k-row
    // table). Pass 1 is keyless — string min/max buffers cost nothing
    // without grouping keys, no sort anywhere. Pass 2 unpivots the
    // profiled columns through one generator and counts distincts as
    // groupBy(column, value) -> groupBy(column): values are grouping
    // KEYS there (var-length keys hash fine), so both aggregates stay
    // hash + map-side partial. The joined results are single-row/
    // 3-row relations. Values stringify through DECIMAL so both
    // engines render identically.
    "q_profile" -> ((s, d) => {
      val o = orders(s, d)
      val prof = o.agg(
        count(lit(1)).as("n"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L))
          .as("nn_s"),
        min(col("o_orderstatus")).as("mn_s"),
        max(col("o_orderstatus")).as("mx_s"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
          .as("nn_p"),
        min(col("o_orderpriority")).as("mn_p"),
        max(col("o_orderpriority")).as("mx_p"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L))
          .as("nn_t"),
        min(dec(col("o_totalprice"))).cast("string").as("mn_t"),
        max(dec(col("o_totalprice"))).cast("string").as("mx_t"))
      // distinct-per-column: DECIMAL's string image is injective on the
      // decimal values, so counting distinct strings == distinct values
      val nd = o.select(explode(map(
          lit("s"), col("o_orderstatus"),
          lit("p"), col("o_orderpriority"),
          lit("t"), dec(col("o_totalprice")).cast("string")))
          .as(Seq("ck", "cv")))
        .filter(col("cv").isNotNull) // COUNT(DISTINCT x) ignores nulls
        .groupBy(col("ck"), col("cv")).agg(count(lit(1)).as("_u"))
        .groupBy(col("ck")).agg(count(lit(1)).as("nd"))
        .agg(min(when(col("ck") === "s", col("nd"))).as("nd_s"),
          min(when(col("ck") === "p", col("nd"))).as("nd_p"),
          min(when(col("ck") === "t", col("nd"))).as("nd_t"))
      prof.crossJoin(nd).select(explode(array(
          struct(lit("o_orderstatus").as("col_name"), col("n"),
            col("nn_s").as("n_null"), col("nd_s").as("n_distinct"),
            col("mn_s").as("min_v"), col("mx_s").as("max_v")),
          struct(lit("o_orderpriority").as("col_name"), col("n"),
            col("nn_p").as("n_null"), col("nd_p").as("n_distinct"),
            col("mn_p").as("min_v"), col("mx_p").as("max_v")),
          struct(lit("o_totalprice").as("col_name"), col("n"),
            col("nn_t").as("n_null"), col("nd_t").as("n_distinct"),
            col("mn_t").as("min_v"), col("mx_t").as("max_v")))).as("p"))
        .select(col("p.*"))
        .orderBy(col("col_name"))
    }),

    // Calendar-spine gap fill: daily order rollup left-joined onto a
    // generated continuous day spine so missing days appear as zero rows
    // (the shape every time-series ETL needs before resampling /
    // charting). The spine derives from one global min/max aggregate
    // (tiny, driver-free) exploded into ~one row per day; the big side
    // is the daily rollup (one shuffle), and the spine-daily join is a
    // broadcast of at most a few thousand day rows regardless of fact
    // size — the plan is scale-invariant in everything but the rollup.
    "q_date_spine" -> ((s, d) => {
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total_value"))
      val spine = orders(s, d)
        .agg(to_date(min(col("o_orderdate"))).as("lo"),
          to_date(max(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_value"), lit(0.0)).as("total_value"))
        .orderBy(col("day"))
    }),

    // ---- §2.5 windows ----------------------------------------------------
    "q_window_rank" -> ((s, d) => {
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wTyp = Window.partitionBy(col("user_id")).orderBy(col("event_type"))
      events(s, d)
        .select(col("event_id"),
          row_number().over(wSeq).as("rn"),
          rank().over(wTyp).as("rk"),
          dense_rank().over(wTyp).as("drk"))
        .orderBy(col("event_id"))
    }),

    "q_window_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("event_id"),
          sum(dec(col("value"))).over(w).cast("double").as("running_value"))
        .orderBy(col("event_id"))
    }),

    // Markov transition matrix over event streams: count event_type
    // bigrams per user timeline (lag window), then the transition
    // probability is the ratio of two exact counts — IEEE double
    // division of integers is deterministic, round(6) canonicalizes.
    // The lag rides the same (user, time) shuffle every sequence query
    // uses; the probability join is against a broadcast-sized
    // per-source rollup.
    "q_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val bigrams = events(s, d)
        .select(lag(col("event_type"), 1).over(w).as("from_type"),
          col("event_type").as("to_type"))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = bigrams.groupBy(col("from_type"))
        .agg(sum(col("n")).as("row_total"))
      bigrams.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("row_total").cast("double"),
            6).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Rolling dedup (debounce): drop events repeating the SAME (user,
    // type) within 5 minutes of the previous kept-or-dropped occurrence
    // — the batch twin of a streaming debounce filter. One lag window
    // per (user, type); survivors keep their full row.
    "q_dedup_rolling" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 300L * 1000000L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .orderBy(col("event_id"))
    }),

    // Share-of-total contribution WITHOUT a single-partition global
    // window (sum().over(no partition) funnels 100 TB through one
    // task): the global total is a 1-row aggregate broadcast back onto
    // the per-group rollup; both operands are exact decimal sums, so
    // the double ratio is deterministic.
    "q_share" -> ((s, d) => {
      val per = orders(s, d).groupBy(col("o_orderpriority"))
        .agg(sum(dec(col("o_totalprice"))).as("t"))
      val tot = per.agg(sum(col("t")).as("g"))
      per.crossJoin(broadcast(tot))
        .select(col("o_orderpriority"),
          col("t").cast("double").as("total"),
          round(col("t").cast("double") / col("g").cast("double"), 6)
            .as("share"))
        .orderBy(col("o_orderpriority"))
    }),

    // SCD2 dimension build (slowly-changing-dimension type 2): collapse
    // each user's event stream into versioned state rows — a version
    // opens when the state CHANGES (lag compare) and closes at the next
    // change's timestamp (lead over the change rows); the open version
    // is current. Two window passes over the same (user, time)
    // partitioning — one shuffle, then the dimension is ready for
    // point-in-time (as-of) joins.
    "q_scd2" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val changed = events(s, d)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      changed
        .select(col("user_id"), col("event_type").as("state"),
          unix_micros(col("ts")).as("valid_from_us"),
          lead(unix_micros(col("ts")), 1).over(w).as("valid_to_us"))
        .withColumn("is_current", col("valid_to_us").isNull)
        .orderBy(col("user_id"), col("valid_from_us"), col("valid_to_us"),
          col("state"))
    }),

    // Forward fill (time-series gap repair): carry the last non-null
    // observation forward within each user's timeline — the resample
    // primitive every feature pipeline needs after a sparse join. Nulls
    // are synthesized deterministically (event_id % 7) so both engines
    // repair the same holes. last(ignoreNulls) over a running frame is
    // one window pass, state O(1) per partition.
    "q_fill_forward" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("v_sparse",
          when(col("event_id") % 7 =!= 0, col("value")))
        .select(col("event_id"), col("v_sparse"),
          last(col("v_sparse"), ignoreNulls = true).over(w).as("v_filled"))
        .orderBy(col("event_id"))
    }),

    // Time-RANGE frame: per event, the rolling 1-hour count/sum for the
    // same user — the frame is defined by the ORDER BY VALUE (ts within
    // 3600 s), not by row position, so equal timestamps are peers and
    // the result is tie-order independent by construction. This is the
    // per-row twin of the tumbling/sliding bucket aggregations: exact
    // trailing-window state per event, one shuffle on user_id.
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      events(s, d)
        .select(col("event_id"),
          count(lit(1)).over(w).as("n_hour"),
          sum(dec(col("value"))).over(w).cast("double").as("hour_value"))
        .orderBy(col("event_id"))
    }),

    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("event_id"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
            .as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // Distribution windows: exact rational doubles in both engines.
    "q_window_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("event_id"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("event_id"))
    }),

    // Frame-edge window functions: first/last/nth over the full
    // partition frame (the default frame would make last_value a
    // running value — the explicit frame is the semantic everyone
    // actually wants).
    "q_window_firstlast" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, d)
        .select(col("event_id"),
          first(col("event_type")).over(w).as("first_type"),
          last(col("event_type")).over(w).as("last_type"),
          nth_value(col("event_type"), 2).over(w).as("second_type"))
        .orderBy(col("event_id"))
    }),

    // Batch sessionization (gaps-and-islands): the batch twin of
    // streaming.Streams.sessionize — new session when the gap to the
    // previous event exceeds 30 min; session id = running count of
    // session starts. Two window passes, both partitioned by user:
    // state never leaves the user's partition.
    "q_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val prev = lag(unix_micros(col("ts")), 1).over(byUser)
      val newSession =
        when(prev.isNull ||
          unix_micros(col("ts")) - prev > 1800L * 1000000L, 1L)
          .otherwise(0L)
      events(s, d)
        .withColumn("new_s", newSession)
        .withColumn("session_seq",
          sum(col("new_s")).over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          unix_micros(min(col("ts"))).as("session_start_us"),
          unix_micros(max(col("ts"))).as("session_end_us"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // The NATIVE session mechanism: Spark's session_window aggregation
    // (the same gap-merge the streaming engine uses for stateful
    // sessions) run in batch — sessions materialize inside the
    // aggregation operator itself, no window-function pass. Boundary
    // semantics: an event exactly gap seconds after the last one starts
    // a NEW session (merge requires ts < session end), which the oracle
    // mirrors with >=. Cross-checked against the gaps-and-islands
    // formulation (q_sessionize) by the shared oracle shape.
    "q_session_native" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "1800 seconds").as("sw"))
        .agg(unix_micros(min(col("ts"))).as("session_start_us"),
          unix_micros(max(col("ts"))).as("session_end_us"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"))
        .orderBy(col("user_id"), col("session_start_us"))),

    // Top-k per group through the WINDOW front door: Spark 4 rewrites a
    // rank-predicate over a window into WindowGroupLimit, which prunes
    // to k rows per group BEFORE the full sort — the plan-level reason
    // a "top 3 per user" query survives 100 TB (PlanAuditSpec asserts
    // the node). row_number over a fully tie-broken order keeps the
    // result deterministic.
    "q_window_group_limit" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      events(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("user_id"), col("rk"), col("event_id"),
          col("value"))
        .orderBy(col("user_id"), col("rk"))
    }),

    // ---- §2.7 set ops ----------------------------------------------------
    // U1: multi-blob union (gmail_functions.py:256-261).
    "q_union" -> ((s, d) => {
      val hi = customer(s, d).filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_name"), lit("hi").as("tag"))
      val lo = customer(s, d).filter(col("c_acctbal") < 100)
        .select(col("c_custkey"), col("c_name"), lit("lo").as("tag"))
      hi.unionByName(lo).orderBy(col("tag"), col("c_custkey"))
    }),

    // CSV sink -> CSV source roundtrip INSIDE the verify gate (S7's
    // format, gmail_functions.py:305-309): orders is written to a local
    // CSV (header, explicit lossless string encodings — DECIMAL(18,2)
    // for the price, yyyy-MM-dd for the date) and read back with an
    // explicit schema, then aggregated; the oracle computes the same
    // aggregate straight from parquet, so any encode/parse drift in the
    // roundtrip fails the hash. Text formats never carry binary doubles,
    // so the decimal-string encoding IS the portability contract.
    "q_csv_roundtrip" -> ((s, d) => {
      val dir = rtDir("csv", d)
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").cast("string")
            .as("price"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .write.mode("overwrite").option("header", "true").csv(dir)
      s.read
        .schema("o_orderkey LONG, o_orderstatus STRING, price STRING, day STRING")
        .option("header", "true").csv(dir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,2)")).cast("double")
            .as("revenue"),
          min(col("day")).as("first_day"), max(col("day")).as("last_day"))
        .orderBy(col("o_orderstatus"))
    }),

    // Hive-style partitioned parquet layout inside the verify gate:
    // write orders partitioned by status, read back with a partition
    // predicate — the query only ever opens the one matching partition
    // directory (PlanAuditSpec asserts PartitionFilters reach the scan;
    // at 100 TB this is the difference between reading 1/3 of the lake
    // and all of it). The oracle computes the same aggregate from the
    // unpartitioned source, so layout round-trip errors fail the hash.
    "q_partition_pruned" -> ((s, d) => {
      val dir = rtDir("part", d)
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
      s.read.parquet(dir)
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // BUCKETED tables + co-located join (the canonical repeated-join
    // optimization at 100 TB: pre-hash both fact tables into the same
    // bucket layout ONCE, then every subsequent equi-join on that key
    // runs with ZERO exchanges — the shuffle is paid at write time and
    // amortized over every downstream join). Both sides are written
    // with bucketBy(8, key) + sortBy into external tables, re-read
    // through the catalog, joined and aggregated; the oracle computes
    // the same aggregate from the raw tables, so any bucket-layout
    // write/read damage fails the hash. The PLAN property — no
    // Exchange on either side once broadcast is disabled, bucketed
    // scans on both — is asserted in PlanAuditSpec (broadcast wins at
    // this dim size in the verify run, which is also correct).
    "q_join_bucketed" -> ((s, d) => {
      val tag = Integer.toHexString(d.hashCode) +
        s"_p${ProcessHandle.current().pid}"
      val dir = rtDir("bkt", d)
      // idempotent re-register: a stale catalog entry (same-pid rerun,
      // or a persistent metastore) would otherwise point saveAsTable at
      // a dead location; the pid-tagged entries themselves die with the
      // in-memory catalog, so nothing accumulates across processes
      s.sql(s"DROP TABLE IF EXISTS graft_bkt_orders_$tag")
      s.sql(s"DROP TABLE IF EXISTS graft_bkt_customer_$tag")
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        .write.mode("overwrite")
        .option("path", s"$dir/orders")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"graft_bkt_orders_$tag")
      customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite")
        .option("path", s"$dir/customer")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(s"graft_bkt_customer_$tag")
      s.table(s"graft_bkt_orders_$tag")
        .join(s.table(s"graft_bkt_customer_$tag"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // ZONE-MAP data skipping (Iceberg manifest bounds / Delta file
    // stats): orders are committed to a snapshot table range-sorted on
    // price into 16 files whose manifest records each file's typed
    // min/max; the read descends the manifests
    // ([[sources.SnapshotTable.readPrunedCol]]) and opens only the
    // files whose bounds intersect the predicate range (~10% selective
    // here), then re-applies the exact predicate. At 100 TB this is the
    // layer above footer pruning — the planner reads kilobytes of stats
    // instead of listing thousands of files. The oracle recomputes the
    // aggregate with a plain WHERE over the raw table, so an UNSOUND
    // skip (a dropped file that held matches) fails the hash; the gated
    // `skipped` boolean additionally pins that the scan really did read
    // a strict, non-empty subset of the files (SnapshotTableSpec covers
    // the zero-candidate path's empty scan).
    "q_zonemap_prune" -> ((s, d) => {
      val dir = rtDir("zmap", d)
      // identical build to q_zonemap_delete's prologue — ONE cached
      // base ("zmdel") serves both gates' copies
      cachedPrologue("zmdel", d, dir)(b =>
        graft.sources.SnapshotTable.commitAppend(
          orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
          b, "price", 16))
      val (cand, read, total) = graft.sources.SnapshotTable
        .readPrunedCol(s, dir, "price", 100000, 150000)
      cand.filter(col("price").between(lit(100000), lit(150000)))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          min(col("o_orderkey")).as("min_key"))
        .withColumn("skipped", lit(read > 0 && read < total))
        .orderBy(col("o_orderpriority"))
    }),

    // DELETE composed with the zone map — data skipping must stay
    // sound through a takedown: [[sources.SnapshotTable.commitDelete]]
    // rewrites the touched files' survivors range-sorted on price,
    // rewrites the touched manifests minus their dead rows, and
    // publishes both in one new snapshot — so the post-delete pruned
    // read neither opens a replaced file nor skips a file it must
    // read. Tombstones by ORDER KEY against a PRICE-sorted table
    // deliberately spray across every file (the worst-case locality
    // for a delete), and the gated aggregate equals the oracle's
    // whole-table filter with the strict skip boolean intact.
    // `deleted_gone` counts the snapshot's LIVE rows: the directory
    // still holds the replaced files until vacuum.
    "q_zonemap_delete" -> ((s, d) => {
      val dir = rtDir("zmdel", d)
      cachedPrologue("zmdel", d, dir)(base =>
        graft.sources.SnapshotTable.commitAppend(
          orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").cast("decimal(18,2)").as("price")),
          base, "price", 16))
      val tomb = orders(s, d).filter(col("o_orderkey") % 97 === 3)
        .select(col("o_orderkey"))
      val nTomb = tomb.count()
      val (deleted, _) = graft.sources.SnapshotTable.commitDelete(
        s, dir, "o_orderkey", tomb, "price")
      val s2 = s.newSession()
      val deletedGone = deleted == nTomb &&
        graft.sources.SnapshotTable.read(s2, dir).count() ==
          orders(s2, d).count() - nTomb
      val (cand, read, total) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, "price", 100000, 150000)
      require(read > 0 && read < total,
        s"q_zonemap_delete: expected a strict non-empty file subset, " +
          s"scan read $read of $total files")
      cand.filter(col("price").between(lit(100000), lit(150000)))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          min(col("o_orderkey")).as("min_key"))
        .withColumn("skipped", lit(read > 0 && read < total))
        .withColumn("deleted_gone", lit(deletedGone))
        .orderBy(col("o_orderpriority"))
    }),

    // STREAMING INGESTION into the zone-mapped table — a Structured
    // Streaming pipeline lands micro-batches in the snapshot table
    // EXACTLY ONCE via [[sources.SnapshotTable.commitAppendOnce]] (the
    // batch id and the writer id — the checkpoint path — ride the
    // LATEST pointer, so a replay after a crash-after-swing
    // short-circuits and a crash-before-swing retry sweeps the
    // invisible orphans; SnapshotTableSpec replays both windows). Two
    // dated drops replay as micro-batches through runWithBatchCommit,
    // a second AvailableNow run over the same checkpoint proves no
    // re-commit, and the FRESH-SESSION pruned read must equal
    // q_zonemap_prune's whole-table answer with the skip boolean still
    // strict — streaming ingestion must cost the table none of its
    // zone-map pruning.
    "q_stream_zonemap_ingest" -> ((s, d) => {
      val dir = rtDir("zmsi", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val drop = java.nio.file.Files.createTempDirectory("graft_zmsi_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(o.filter(col("o_orderkey") % 2 === 0), drop,
          "0_orders.parquet", t0 - 60000)
        stageStreamFile(o.filter(col("o_orderkey") % 2 === 1), drop,
          "1_orders.parquet", t0 - 30000)
        val schema = s.read.parquet(s"$drop/0_orders.parquet").schema
        val table = s"$dir/t"
        def drainOnce(): Unit = {
          val raw = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(drop.toString)
          val ckpt = s"$dir/ckpt"
          graft.streaming.Streams.runWithBatchCommit(raw, ckpt) {
            (b, bid) =>
              graft.sources.SnapshotTable.commitAppendOnce(
                b, table, "price", 8, bid, writerId = ckpt)
              ()
          }.awaitTermination()
        }
        drainOnce()
        // restart with nothing new: restored offsets -> no batch, and
        // the pointer's provenance would refuse a re-commit even if one
        // replayed
        drainOnce()
        val s2 = s.newSession()
        val ingestedOnce =
          graft.sources.SnapshotTable.read(s2, table).count() == o.count()
        val (cand, read, total) = graft.sources.SnapshotTable
          .readPrunedCol(s2, table, "price", 100000, 150000)
        require(read > 0 && read < total,
          s"q_stream_zonemap_ingest: expected a strict non-empty file " +
            s"subset, scan read $read of $total files")
        cand.filter(col("price").between(lit(100000), lit(150000)))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("price")).cast("double").as("revenue"),
            min(col("o_orderkey")).as("min_key"))
          .withColumn("skipped", lit(read > 0 && read < total))
          .withColumn("ingested_once", lit(ingestedOnce))
          .orderBy(col("o_orderpriority"))
      } finally deleteRecursive(drop)
    }),

    // TYPED zone-map bounds — the STRING form of q_zonemap_prune:
    // string keys (names, ids, URLs) prune through the manifest's
    // typed bounds, compared in UTF-8 byte order — the order Spark's
    // own string min/max uses, so no double cast can misorder them.
    // This gates a name-range probe over a name-clustered table. Same
    // soundness contract: the pruned scan plus the exact residual must
    // equal the oracle's whole-table filter, and `skipped` pins a
    // strict non-empty file subset.
    "q_zonemap_string" -> ((s, d) => {
      val dir = rtDir("zms", d)
      // deterministic build fixture; the pruned-read teeth run on the
      // gate's own copy
      cachedPrologue("zms", d, dir)(b =>
        graft.sources.SnapshotTable.commitAppend(
          customer(s, d).select(col("c_custkey"), col("c_name"),
            col("c_mktsegment")),
          b, "c_name", 12))
      val (lo, hi) = ("Customer#000000020", "Customer#000000090")
      val (cand, read, total) = graft.sources.SnapshotTable
        .readPrunedCol(s, dir, "c_name", lo, hi)
      // fail DIAGNOSABLY on a pruning regression: the gated `skipped`
      // boolean is the point of the query, but a data/synth shift that
      // widens the probe to every file would surface as a misleading
      // oracle hash mismatch — name the counts instead
      require(read > 0 && read < total,
        s"q_zonemap_string: expected a strict non-empty file subset " +
          s"for probe [$lo,$hi], scan read $read of $total files — " +
          "pruning regression or data-distribution shift")
      cand.filter(col("c_name") >= lo && col("c_name") <= hi)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("keysum"),
          min(col("c_name")).as("first_name"))
        .withColumn("skipped", lit(read > 0 && read < total))
        .orderBy(col("c_mktsegment"))
    }),

    // The DATE form: a date renders losslessly as its ISO-8601 string,
    // whose lexicographic order IS the date order, so date-partitioned
    // pruning (the single most common lake predicate) rides the string
    // bounds unchanged — one quarter's probe over a date-sorted table.
    "q_zonemap_date" -> ((s, d) => {
      val dir = rtDir("zmd", d)
      // identical build to q_zonemap_delete_date's prologue — ONE
      // cached base ("zmdd") serves both gates' copies
      cachedPrologue("zmdd", d, dir)(b =>
        graft.sources.SnapshotTable.commitAppend(
          orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("day")),
          b, "day", 16))
      val (lo, hi) = ("1996-01-01", "1996-03-31")
      val (cand, read, total) = graft.sources.SnapshotTable
        .readPrunedCol(s, dir, "day", lo, hi)
      require(read > 0 && read < total,
        s"q_zonemap_date: expected a strict non-empty file subset " +
          s"for probe [$lo,$hi], scan read $read of $total files — " +
          "pruning regression or data-distribution shift")
      cand.filter(col("day") >= lo && col("day") <= hi)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("day")).as("first_day"),
          max(col("day")).as("last_day"),
          sum(col("o_orderkey").cast("long")).as("keysum"))
        .withColumn("skipped", lit(read > 0 && read < total))
        .orderBy(col("o_orderstatus"))
    }),

    // DELETE composed with the DATE/string bounds — the takedown a
    // production user actually runs first (order-key tombstones
    // against a date-sorted table): q_zonemap_delete's lexicographic
    // twin, the same [[sources.SnapshotTable.commitDelete]] with
    // survivors range-sorted on the day string. The spray-across-files
    // tombstones rewrite every file and manifest; the post-delete
    // quarter probe must stay a strict subset AND aggregate exactly
    // like the oracle's whole-table filter minus the tombstones.
    "q_zonemap_delete_date" -> ((s, d) => {
      val dir = rtDir("zmdd", d)
      cachedPrologue("zmdd", d, dir)(base =>
        graft.sources.SnapshotTable.commitAppend(
          orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("day")),
          base, "day", 16))
      val tomb = orders(s, d).filter(col("o_orderkey") % 97 === 3)
        .select(col("o_orderkey"))
      val nTomb = tomb.count()
      val (deleted, _) = graft.sources.SnapshotTable
        .commitDelete(s, dir, "o_orderkey", tomb, "day")
      val s2 = s.newSession()
      val deletedGone = deleted == nTomb &&
        graft.sources.SnapshotTable.read(s2, dir).count() ==
          orders(s2, d).count() - nTomb
      val (lo, hi) = ("1996-01-01", "1996-03-31")
      val (cand, read, total) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, "day", lo, hi)
      require(read > 0 && read < total,
        s"q_zonemap_delete_date: expected a strict non-empty file " +
          s"subset, scan read $read of $total files")
      cand.filter(col("day") >= lo && col("day") <= hi)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("day")).as("first_day"),
          max(col("day")).as("last_day"),
          sum(col("o_orderkey").cast("long")).as("keysum"))
        .withColumn("skipped", lit(read > 0 && read < total))
        .withColumn("deleted_gone", lit(deletedGone))
        .orderBy(col("o_orderstatus"))
    }),

    // DELETE composed with the Z-ORDERED two-column layout: after a
    // spray takedown, range probes on EITHER dimension must still each
    // read a strict subset and aggregate exactly like the oracle's
    // filtered whole table. The takedown is the MERGE-ON-READ delete
    // ([[sources.SnapshotTable.commitDeleteMor]]): the keys land as one
    // tombstone line that reads apply, and every Morton file keeps its
    // tight 2-D bounds — a copy-on-write rewrite would re-lay the
    // touched files (here: all of them) range-sorted on ONE column and
    // leave the other dimension unprunable.
    "q_zonemap_delete_zorder" -> ((s, d) => {
      val dir = rtDir("zzdel", d)
      val base = orders(s, d).select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      cachedPrologue("zzdel", d, dir)(b =>
        graft.sources.SnapshotTable.commitAppendZOrdered(
          base, b, "day", "price", 16))
      val tomb = orders(s, d).filter(col("o_orderkey") % 97 === 3)
        .select(col("o_orderkey"))
      val nTomb = tomb.count()
      val (tombKeys, _) = graft.sources.SnapshotTable
        .commitDeleteMor(s, dir, "o_orderkey", tomb)
      val s2 = s.newSession()
      val deletedGone = tombKeys == nTomb &&
        graft.sources.SnapshotTable.read(s2, dir).count() ==
          orders(s2, d).count() - nTomb
      val (dayDf, dayRead, total) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, "day", 365, 546)
      val (priceDf, priceRead, _) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, "price", 100000, 150000)
      require(dayRead > 0 && dayRead < total &&
        priceRead > 0 && priceRead < total,
        s"q_zonemap_delete_zorder: expected strict subsets, read " +
          s"day=$dayRead price=$priceRead of $total files")
      val aDay = dayDf
        .filter(col("day").between(lit(365), lit(546)))
        .agg(count(lit(1)).as("n_date"),
          sum(col("o_orderkey")).as("keysum_date"))
      val aPrice = priceDf
        .filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_price"),
          sum(col("price")).cast("double").as("revenue_price"))
      aDay.crossJoin(aPrice)
        .withColumn("skipped_date", lit(dayRead > 0 && dayRead < total))
        .withColumn("skipped_price",
          lit(priceRead > 0 && priceRead < total))
        .withColumn("deleted_gone", lit(deletedGone))
    }),

    // EXACTLY-ONCE streaming ingestion into the DATE/string bounds —
    // q_stream_zonemap_ingest's lexicographic twin: two dated drops as
    // micro-batches through [[sources.SnapshotTable.commitAppendOnce]]
    // range-sorted on the day string, a restart that must not
    // re-commit, and a fresh-session quarter probe that equals
    // q_zonemap_date's whole-table answer with the skip boolean strict.
    "q_stream_zonemap_ingest_date" -> ((s, d) => {
      val dir = rtDir("zmsd", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      val drop = java.nio.file.Files.createTempDirectory("graft_zmsd_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(o.filter(col("o_orderkey") % 2 === 0), drop,
          "0_orders.parquet", t0 - 60000)
        stageStreamFile(o.filter(col("o_orderkey") % 2 === 1), drop,
          "1_orders.parquet", t0 - 30000)
        val schema = s.read.parquet(s"$drop/0_orders.parquet").schema
        val table = s"$dir/t"
        def drainOnce(): Unit = {
          val raw = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(drop.toString)
          val ckpt = s"$dir/ckpt"
          graft.streaming.Streams.runWithBatchCommit(raw, ckpt) {
            (b, bid) =>
              graft.sources.SnapshotTable.commitAppendOnce(
                b, table, "day", 8, bid, writerId = ckpt)
              ()
          }.awaitTermination()
        }
        drainOnce()
        drainOnce()
        val s2 = s.newSession()
        val ingestedOnce =
          graft.sources.SnapshotTable.read(s2, table).count() == o.count()
        val (lo, hi) = ("1996-01-01", "1996-03-31")
        val (cand, read, total) = graft.sources.SnapshotTable
          .readPrunedCol(s2, table, "day", lo, hi)
        require(read > 0 && read < total,
          s"q_stream_zonemap_ingest_date: expected a strict non-empty " +
            s"file subset, scan read $read of $total files")
        cand.filter(col("day") >= lo && col("day") <= hi)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), min(col("day")).as("first_day"),
            max(col("day")).as("last_day"),
            sum(col("o_orderkey").cast("long")).as("keysum"))
          .withColumn("skipped", lit(read > 0 && read < total))
          .withColumn("ingested_once", lit(ingestedOnce))
          .orderBy(col("o_orderstatus"))
      } finally deleteRecursive(drop)
    }),

    // EXACTLY-ONCE streaming ingestion into the Z-ORDERED layout
    // ([[sources.SnapshotTable.commitAppendOnceZOrdered]]): each
    // micro-batch lands in its own Morton layout under the same
    // exactly-once pointer provenance, and after a no-op restart BOTH
    // single-dimension probes prune strictly and aggregate exactly.
    "q_stream_zonemap_ingest_zorder" -> ((s, d) => {
      val dir = rtDir("zzsi", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val drop = java.nio.file.Files.createTempDirectory("graft_zzsi_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(o.filter(col("o_orderkey") % 2 === 0), drop,
          "0_orders.parquet", t0 - 60000)
        stageStreamFile(o.filter(col("o_orderkey") % 2 === 1), drop,
          "1_orders.parquet", t0 - 30000)
        val schema = s.read.parquet(s"$drop/0_orders.parquet").schema
        val table = s"$dir/t"
        def drainOnce(): Unit = {
          val raw = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(drop.toString)
          val ckpt = s"$dir/ckpt"
          graft.streaming.Streams.runWithBatchCommit(raw, ckpt) {
            (b, bid) =>
              graft.sources.SnapshotTable.commitAppendOnceZOrdered(
                b, table, "day", "price", 8, bid, writerId = ckpt)
              ()
          }.awaitTermination()
        }
        drainOnce()
        drainOnce()
        val s2 = s.newSession()
        val ingestedOnce =
          graft.sources.SnapshotTable.read(s2, table).count() == o.count()
        val (dayDf, dayRead, total) = graft.sources.SnapshotTable
          .readPrunedCol(s2, table, "day", 365, 546)
        val (priceDf, priceRead, _) = graft.sources.SnapshotTable
          .readPrunedCol(s2, table, "price", 100000, 150000)
        require(dayRead > 0 && dayRead < total &&
          priceRead > 0 && priceRead < total,
          s"q_stream_zonemap_ingest_zorder: expected strict subsets, " +
            s"read day=$dayRead price=$priceRead of $total files")
        val aDay = dayDf
          .filter(col("day").between(lit(365), lit(546)))
          .agg(count(lit(1)).as("n_date"),
            sum(col("o_orderkey")).as("keysum_date"))
        val aPrice = priceDf
          .filter(col("price").between(lit(100000), lit(150000)))
          .agg(count(lit(1)).as("n_price"),
            sum(col("price")).cast("double").as("revenue_price"))
        aDay.crossJoin(aPrice)
          .withColumn("skipped_date", lit(dayRead > 0 && dayRead < total))
          .withColumn("skipped_price",
            lit(priceRead > 0 && priceRead < total))
          .withColumn("ingested_once", lit(ingestedOnce))
      } finally deleteRecursive(drop)
    }),

    // THE UNIFIED LAKEHOUSE TABLE — commit log AND file skipping in one
    // format ([[sources.SnapshotTable]]: snapshot -> manifest-list with
    // bound envelopes -> per-file-bounds manifests, the Iceberg pyramid
    // in miniature): two append commits, a COW delete commit, then
    // (a) a PRUNED read at the LATEST snapshot — tombstones gone,
    //     skipping strict;
    // (b) a PRUNED TIME-TRAVEL read at the pre-delete version — the
    //     deleted rows readable bit for bit, pruning still strict
    //     (bounds are immutable with the files they describe, so time
    //     travel and skipping compose for free);
    // (c) vacuum(keepLast=2) — the pre-delete version must SURVIVE
    //     retention while v1's snapshot entry goes.
    // The oracle recomputes both aggregates from the raw table, so an
    // unsound skip, a leaked tombstone, or a vacuum that reclaimed a
    // still-referenced file all fail the hash.
    "q_snapshot_time_travel" -> ((s, d) => {
      val dir = rtDir("snap", d)
      snapshotFixture(s, d, dir) // v1 = even keys, v2 = odd keys
      val o = ordersPrioPrice(s, d)
      val vPre = 2
      val tomb = o.filter(col("o_orderkey") % 97 === 3)
        .select(col("o_orderkey"))
      val nTomb = tomb.count()
      val (deleted, _) = graft.sources.SnapshotTable.commitDelete(
        s, dir, "o_orderkey", tomb, "price")
      val (sDel, _) = graft.sources.SnapshotTable.vacuum(dir, keepLast = 2)
      val s2 = s.newSession()
      val deletedGone = deleted == nTomb &&
        graft.sources.SnapshotTable.read(s2, dir).count() ==
          o.count() - nTomb
      val (lo, hi) = (100000.0, 150000.0)
      val (candL, readL, totalL) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi)
      val (candT, readT, totalT) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi, Some(vPre))
      require(readL > 0 && readL < totalL && readT > 0 && readT < totalT,
        s"q_snapshot_time_travel: expected strict subsets, read " +
          s"latest=$readL/$totalL travel=$readT/$totalT")
      val aL = candL.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_latest"),
          sum(col("price")).cast("double").as("revenue_latest"))
      val aT = candT.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_travel"),
          sum(col("price")).cast("double").as("revenue_travel"))
      aL.crossJoin(aT)
        .withColumn("skipped_latest", lit(readL > 0 && readL < totalL))
        .withColumn("skipped_travel", lit(readT > 0 && readT < totalT))
        .withColumn("deleted_gone", lit(deletedGone))
        .withColumn("travel_survived_vacuum", lit(sDel == 1))
    }),

    // COPY-ON-WRITE MERGE (upsert) on the unified snapshot table — the
    // CDC write path ([[sources.SnapshotTable.commitMerge]]): a change
    // batch UPDATES every key%10==7 row (price doubled) and INSERTS a
    // shifted twin per updated key, rewriting ONLY the files that held
    // a matched key (untouched manifests carry by reference); the
    // pre-merge version stays readable bit for bit. The oracle
    // recomputes both reads from the raw table (updates move rows in
    // and out of the probe band, so a lost update, doubled insert, or
    // leaked old row all fail the hash), and both pruned reads must
    // stay strict subsets.
    "q_snapshot_merge" -> ((s, d) => {
      val dir = rtDir("snapmg", d)
      snapshotFixture(s, d, dir) // v1 = even keys, v2 = odd keys
      val o = ordersPrioPrice(s, d)
      val vPre = 2
      val upd = o.filter(col("o_orderkey") % 10 === 7)
      // inserted twins take NEGATED keys: disjoint from every positive
      // orderkey at any scale replica (an additive offset collides with
      // the scale harness's own per-replica key offsets)
      val changes = upd
        .withColumn("price",
          (col("price") * 2).cast("decimal(18,2)"))
        .unionByName(upd.select(
          (-col("o_orderkey") - lit(1L)).as("o_orderkey"),
          col("o_orderpriority"),
          (col("price") + lit(7)).cast("decimal(18,2)").as("price")))
      val (replaced, carriedN, _) = graft.sources.SnapshotTable
        .commitMerge(s, dir, changes, "o_orderkey", "price")
      val s2 = s.newSession()
      val merged = replaced > 0 &&
        graft.sources.SnapshotTable.read(s2, dir).count() ==
          o.count() + upd.count()
      val (lo, hi) = (100000.0, 150000.0)
      val (candL, readL, totalL) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi)
      val (candT, readT, totalT) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi, Some(vPre))
      require(readL > 0 && readL < totalL && readT > 0 && readT < totalT,
        s"q_snapshot_merge: expected strict subsets, read " +
          s"latest=$readL/$totalL travel=$readT/$totalT")
      val aL = candL.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_latest"),
          sum(col("price")).cast("double").as("revenue_latest"))
      val aT = candT.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_travel"),
          sum(col("price")).cast("double").as("revenue_travel"))
      aL.crossJoin(aT)
        .withColumn("skipped_latest", lit(readL > 0 && readL < totalL))
        .withColumn("skipped_travel", lit(readT > 0 && readT < totalT))
        .withColumn("merged_cow", lit(merged && carriedN > 0))
    }),

    // STREAMING INGESTION + COMPACTION on the unified snapshot table —
    // the lifecycle arms every other table in the repo already has:
    // micro-batches land EXACTLY ONCE through
    // [[sources.SnapshotTable.commitAppendOnce]] (the batch id rides
    // the LATEST pointer itself — version and provenance publish in
    // ONE atomic move, so a replay after a crash-after-swing
    // short-circuits and a crash-before-swing retry sweeps the
    // invisible orphans), a restart over the same checkpoint must not
    // re-commit, then [[compactCommit]] rewrites the fragmented
    // per-batch layout into ~target-sized files AS A NEW VERSION —
    // same rows (the oracle proves none lost or doubled), fresh
    // layout, with the PRE-COMPACT version still readable bit for bit.
    // The fresh-session pruned read at latest and the pruned
    // time-travel read at the pre-compact version must both stay
    // strict subsets and aggregate exactly.
    "q_snapshot_stream_ingest" -> ((s, d) => {
      val dir = rtDir("snapsi", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val drop = java.nio.file.Files.createTempDirectory("graft_snapsi_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(o.filter(col("o_orderkey") % 2 === 0), drop,
          "0_orders.parquet", t0 - 60000)
        stageStreamFile(o.filter(col("o_orderkey") % 2 === 1), drop,
          "1_orders.parquet", t0 - 30000)
        val schema = s.read.parquet(s"$drop/0_orders.parquet").schema
        val table = s"$dir/t"
        def drainOnce(): Unit = {
          val raw = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(drop.toString)
          graft.streaming.Streams.runWithBatchCommit(raw, s"$dir/ckpt") {
            (b, bid) =>
              graft.sources.SnapshotTable.commitAppendOnce(
                b, table, "price", 6, bid, writerId = "ingest")
              ()
          }.awaitTermination()
        }
        drainOnce()
        drainOnce() // restored offsets: no batch, no re-commit
        val vPre = graft.sources.SnapshotTable.latestVersion(table).get
        val nO = o.count() // one base count serves sizing and the tooth
        val (before, after, _) = graft.sources.SnapshotTable
          .compactCommit(s, table, "price", nO / 4 + 1)
        val s2 = s.newSession()
        val ingestedOnce =
          graft.sources.SnapshotTable.read(s2, table).count() == nO
        val compacted = after < before
        val (lo, hi) = (100000.0, 150000.0)
        val (candL, readL, totalL) = graft.sources.SnapshotTable
          .readPruned(s2, table, lo, hi)
        val (candT, readT, totalT) = graft.sources.SnapshotTable
          .readPruned(s2, table, lo, hi, Some(vPre))
        require(readL > 0 && readL < totalL && readT > 0 && readT < totalT,
          s"q_snapshot_stream_ingest: expected strict subsets, read " +
            s"latest=$readL/$totalL travel=$readT/$totalT")
        val aL = candL
          .filter(col("price").between(lit(100000), lit(150000)))
          .agg(count(lit(1)).as("n_latest"),
            sum(col("price")).cast("double").as("revenue_latest"))
        val aT = candT
          .filter(col("price").between(lit(100000), lit(150000)))
          .agg(count(lit(1)).as("n_travel"),
            sum(col("price")).cast("double").as("revenue_travel"))
        aL.crossJoin(aT)
          .withColumn("skipped_latest", lit(readL > 0 && readL < totalL))
          .withColumn("skipped_travel", lit(readT > 0 && readT < totalT))
          .withColumn("ingested_once", lit(ingestedOnce))
          .withColumn("compacted", lit(compacted))
      } finally deleteRecursive(drop)
    }),

    // INCREMENTAL COMPACTION on the unified snapshot table — the
    // standing background job at 100 TB, where a full rewrite is not
    // an option ([[sources.SnapshotTable.compactSmallFiles]]): only
    // files under the row threshold rewrite (bin-packed), every big
    // file carries BY NAME (its manifest rewritten minus the compacted
    // files), and cost tracks the SMALL-FILE TAIL. The sharp edge is
    // live tombstones: the gate lands a merge-on-read delete spanning
    // BOTH eras first, so the compaction must PARTIALLY MATERIALIZE —
    // rewritten rows apply their tombstones before re-entering the
    // sequence at the new version, carried rows keep owing theirs at
    // read time (the rewrite manifest keeps the ORIGINAL version in
    // its name; a renumbered rewrite would resurrect deleted rows,
    // which the oracle's band aggregate makes hash-visible).
    "q_snapshot_compact_small" -> ((s, d) => {
      val dir = rtDir("snapcs", d)
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      // prologue: the fragmented 4-commit layout + the era-spanning MOR
      // delete — deterministic table building, cached per process
      cachedPrologue("snapcs", d, dir) { base =>
        graft.sources.SnapshotTable.commitAppend(
          o.filter(col("o_orderkey") % 2 === 0), base, "price", 4)
        Seq(1, 3, 5).foreach { m =>
          graft.sources.SnapshotTable.commitAppend(
            o.filter(col("o_orderkey") % 6 === m), base, "price", 2)
        }
        graft.sources.SnapshotTable.commitDeleteMor(s, base, "o_orderkey",
          o.filter(col("o_orderkey") % 97 === 3).select(col("o_orderkey")))
      }
      // the pre-delete, pre-compaction version the travel read targets
      val vPre = 4
      val nO = o.count() // one base count serves threshold, target, both compacts
      val (compacted, carried, v6) = graft.sources.SnapshotTable
        .compactSmallFiles(s, dir, "price", nO / 10, nO / 4 + 1)
      require(compacted == 6 && carried == 4,
        s"q_snapshot_compact_small: expected the 6-file small tail " +
          s"and 4 carried, got ($compacted, $carried)")
      require(graft.sources.SnapshotTable.snapshot(dir, Some(v6))
          .map(_.name).contains("m-1.json"),
        "q_snapshot_compact_small: the all-big v1 manifest must carry " +
          "by reference")
      require(graft.sources.SnapshotTable.deleteRefs(dir).nonEmpty,
        "q_snapshot_compact_small: tombstone refs must survive the " +
          "incremental compaction")
      val s2 = s.newSession()
      val (lo, hi) = (100000.0, 150000.0)
      val (candL, readL, totalL) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi)
      val (candT, readT, totalT) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi, Some(vPre))
      require(readL > 0 && readL < totalL && readT > 0 && readT < totalT,
        s"q_snapshot_compact_small: expected strict subsets, read " +
          s"latest=$readL/$totalL travel=$readT/$totalT")
      val aL = candL.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_latest"),
          sum(col("price")).cast("double").as("revenue_latest"))
      val aT = candT.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_travel"),
          sum(col("price")).cast("double").as("revenue_travel"))
      val latestN = graft.sources.SnapshotTable.read(s2, dir).count()
      graft.sources.SnapshotTable.compactCommit(s2, dir, "price",
        nO / 4 + 1)
      val fullyEq = graft.sources.SnapshotTable.deleteRefs(dir).isEmpty &&
        graft.sources.SnapshotTable.read(s2, dir).count() == latestN
      aL.crossJoin(aT)
        .withColumn("small_tail_only", lit(true))
        .withColumn("tombstones_carried", lit(true))
        .withColumn("fully_compacted_equal", lit(fullyEq))
        .withColumn("skipped_latest", lit(true))
        .withColumn("skipped_travel", lit(true))
    }),

    // INCREMENTAL VIEW MAINTENANCE off the changes feed — the consumer
    // the feed exists for ([[sources.SnapshotTable.incrementalAgg]]): a
    // standing per-group count+sum materializes once at v1, then each
    // commit's [[readChanges]] delta folds in at O(delta) + O(|view|)
    // — the base table is NEVER re-read. The three legs exercise the
    // three delta shapes: a pure-insert append, a pure-delete COW
    // takedown, and a MERGE whose CDC delete+insert pairs must NET to
    // the update's effect in exact decimal arithmetic. The gate
    // require()s the maintained view equals a from-scratch recompute
    // bag-exactly, and the oracle recomputes the final view from the
    // raw table — a drifted sum, a lost group, or a double-applied
    // delta all fail the hash.
    "q_snapshot_incremental_agg" -> ((s, d) => {
      val dir = rtDir("snapmv", d)
      // v1 even, v2 odd, v3 COW delete (%97==3), v4 COW merge (%10==7)
      snapshotMutatedFixture(s, d, dir)
      val s2 = s.newSession()
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("price")).as("price"))
      // the view materializes AT v1 (the time-travel read), then folds
      // each later version's delta — same three delta shapes as before
      var mv = aggOf(graft.sources.SnapshotTable.read(s2, dir, Some(1)))
        .localCheckpoint()
      Seq((1, 2), (2, 3), (3, 4)).foreach { case (a, b) =>
        val (ch, _, _) = graft.sources.SnapshotTable
          .readChanges(s2, dir, a, b)
        mv = graft.sources.SnapshotTable.incrementalAgg(mv, ch,
          Seq("o_orderpriority"), Seq("price")).localCheckpoint()
      }
      // teeth: the maintained view equals a from-scratch recompute
      val wide = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("o_orderpriority"), col("n"),
          col("price").cast("decimal(38,2)").as("price"))
      val fresh = wide(aggOf(graft.sources.SnapshotTable.read(s2, dir)))
      require(bagEqual(wide(mv), fresh),
        "q_snapshot_incremental_agg: maintained view diverged from " +
          "the recompute")
      mv.select(col("o_orderpriority"), col("n"),
          col("price").cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // MERGE-ON-READ DELETE on the unified snapshot table — the
    // O(metadata) takedown ([[sources.SnapshotTable.commitDeleteMor]]):
    // the keys land as an equality-delete tombstone file plus ONE
    // snapshot line, no data file rewrites (the gate requires v2's
    // manifest list to be IDENTICAL to v1's), and reads apply the
    // tombstone as a broadcast anti-join with sequence scoping — a
    // LATER append re-inserting deleted keys survives (Iceberg v2
    // semantics), which the oracle's +11-price re-insert band makes
    // hash-visible. compactCommit then materializes the tombstone and
    // the re-read must equal the merge-on-read answer exactly. Both
    // pruned reads stay strict subsets: tombstones only remove rows,
    // so file skipping composes with them soundly.
    "q_snapshot_mor_delete" -> ((s, d) => {
      val dir = rtDir("snapmor", d)
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      cachedPrologue("snapmor", d, dir)(base =>
        graft.sources.SnapshotTable.commitAppend(o, base, "price", 12))
      val (nTomb, _) = graft.sources.SnapshotTable.commitDeleteMor(
        s, dir, "o_orderkey",
        o.filter(col("o_orderkey") % 97 === 3).select(col("o_orderkey")))
      require(graft.sources.SnapshotTable.snapshot(dir, Some(2))
          .map(_.name) ==
        graft.sources.SnapshotTable.snapshot(dir, Some(1)).map(_.name),
        "q_snapshot_mor_delete: tombstone commit must touch no data file")
      val reins = o.filter(col("o_orderkey") % 97 === 3 &&
          col("o_orderkey") % 2 === 0)
        .withColumn("price", (col("price") + 11).cast("decimal(18,2)"))
      graft.sources.SnapshotTable.commitAppend(reins, dir, "price", 2)
      val s2 = s.newSession()
      val nO = o.count() // one base count serves the tooth and the sizing
      val latestN = graft.sources.SnapshotTable.read(s2, dir).count()
      require(latestN == nO - nTomb + reins.count(),
        s"q_snapshot_mor_delete: re-inserts must survive the older " +
          s"tombstone, read $latestN rows")
      val n1 = graft.sources.SnapshotTable.read(s2, dir, Some(1)).count()
      val (lo, hi) = (100000.0, 150000.0)
      val (candL, readL, totalL) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi)
      val (candT, readT, totalT) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi, Some(2))
      require(readL > 0 && readL < totalL && readT > 0 && readT < totalT,
        s"q_snapshot_mor_delete: expected strict subsets, read " +
          s"latest=$readL/$totalL travel=$readT/$totalT")
      val aL = candL.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_latest"),
          sum(col("price")).cast("double").as("revenue_latest"))
      val aT = candT.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_travel"),
          sum(col("price")).cast("double").as("revenue_travel"))
      graft.sources.SnapshotTable.compactCommit(s2, dir, "price",
        nO / 4 + 1)
      require(graft.sources.SnapshotTable.deleteRefs(dir).isEmpty,
        "q_snapshot_mor_delete: compaction must drop the tombstone refs")
      val compactedEq =
        graft.sources.SnapshotTable.read(s2, dir).count() == latestN
      aL.crossJoin(aT)
        .withColumn("n_v1", lit(n1))
        .withColumn("mor_metadata_only", lit(true))
        .withColumn("reinsert_survived", lit(true))
        .withColumn("compacted_equal", lit(compactedEq))
        .withColumn("skipped_latest", lit(true))
        .withColumn("skipped_travel", lit(true))
    }),

    // SCHEMA EVOLUTION on the unified snapshot table — the schema
    // travels in the commit log (`s-<v>.json`, the merge of every
    // commit's schema; [[sources.SnapshotTable.readSchema]]), so reads
    // apply the VERSION's schema explicitly: files written before a
    // column existed fill it with null, no footer-sampling mergeSchema
    // job ever runs, and time travel sees the schema AS OF that
    // version (the v1 read must surface exactly the two original
    // columns). The COW delete after the evolution is the sharp edge:
    // it rewrites survivors from old- and new-schema files TOGETHER,
    // and a schema-inferred read there would silently drop the evolved
    // column from the new files — the oracle recomputes the per-group
    // counts and sums from the raw table, so a dropped column, a
    // non-null backfill, or lost evolved values all fail the hash.
    "q_snapshot_schema_evolve" -> ((s, d) => {
      val dir = rtDir("snapse", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        col("o_orderpriority"))
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0)
          .drop("o_orderpriority"), dir, "price", 8)
      val v2 = graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1), dir, "price", 8)
      graft.sources.SnapshotTable.commitDelete(s, dir, "o_orderkey",
        o.filter(col("o_orderkey") % 97 === 3).select(col("o_orderkey")),
        "price")
      val s2 = s.newSession()
      val v1Df = graft.sources.SnapshotTable.read(s2, dir, Some(1))
      require(v1Df.schema.fields.length == 2,
        s"q_snapshot_schema_evolve: v1 must read its own two-column " +
          s"schema, got ${v1Df.schema.fieldNames.mkString(",")}")
      val latest = graft.sources.SnapshotTable.read(s2, dir)
      require(latest.schema.fields.length == 3,
        s"q_snapshot_schema_evolve: latest must read the merged " +
          s"schema, got ${latest.schema.fieldNames.mkString(",")}")
      latest.agg(
          count(lit(1)).as("n_total"),
          sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
            .as("n_prio_null"),
          sum(when(col("o_orderpriority").isNull, col("price")))
            .cast("double").as("price_null_sum"),
          countDistinct(col("o_orderpriority")).as("n_prio_values"),
          sum(when(col("o_orderpriority").isNotNull, col("price")))
            .cast("double").as("price_set_sum"))
        .crossJoin(v1Df.agg(
          count(lit(1)).as("n_v1"),
          sum(col("price")).cast("double").as("price_v1_sum")))
        .withColumn("travel_two_cols", lit(true))
        .withColumn("evolved_three_cols", lit(v2 == 2))
    }),

    // CHANGES FEED on the unified snapshot table — the row-level diff
    // between two versions ([[sources.SnapshotTable.readChanges]]),
    // the read that makes the table a SOURCE for incremental
    // consumers. Planning diffs manifest FILE sets so cost is
    // O(delta): the append leg (v1->v2) must read a strict subset of
    // files and emit inserts only; the COW-delete leg (v2->v3) puts
    // rewritten survivors on both sides of the file diff and the
    // full-row exceptAll must CANCEL them, leaving pure deletes; the
    // MERGE leg (v3->v4) emits standard CDC pairs — the old row as a
    // delete, the updated row as an insert, equal in number. The
    // oracle recomputes every leg's aggregate from the raw table, so a
    // leaked survivor, a swallowed delete, or a doubled insert all
    // fail the hash.
    "q_snapshot_changes" -> ((s, d) => {
      val dir = rtDir("snapch", d)
      // v1 even, v2 odd, v3 COW delete (%97==3), v4 COW merge (%10==7)
      snapshotMutatedFixture(s, d, dir)
      val s2 = s.newSession()
      val (c12, fr12, tot12) = graft.sources.SnapshotTable
        .readChanges(s2, dir, 1, 2)
      val (c23, _, _) = graft.sources.SnapshotTable.readChanges(s2, dir, 2, 3)
      val (c34, _, _) = graft.sources.SnapshotTable.readChanges(s2, dir, 3, 4)
      require(fr12 < tot12,
        s"q_snapshot_changes: append leg must be O(delta), read " +
          s"$fr12/$tot12 files")
      val ins = (c: org.apache.spark.sql.DataFrame) =>
        c.filter(col("_change") === "insert")
      val del = (c: org.apache.spark.sql.DataFrame) =>
        c.filter(col("_change") === "delete")
      require(del(c12).limit(1).collect().isEmpty,
        "q_snapshot_changes: append leg emitted deletes")
      require(ins(c23).limit(1).collect().isEmpty,
        "q_snapshot_changes: COW survivors failed to cancel")
      val a12 = ins(c12).agg(
        count(lit(1)).as("n_ins_12"),
        sum(col("o_orderkey")).as("keysum_ins_12"))
      val a23 = del(c23).agg(
        count(lit(1)).as("n_del_23"),
        sum(col("o_orderkey")).as("keysum_del_23"))
      val a34 = ins(c34).agg(
          count(lit(1)).as("n_ins_34"),
          sum(col("price")).cast("double").as("price_ins_34"))
        .crossJoin(del(c34).agg(
          count(lit(1)).as("n_del_34"),
          sum(col("o_orderkey")).as("keysum_del_34")))
      a12.crossJoin(a23).crossJoin(a34)
        .withColumn("delta_only", lit(true))
        .withColumn("cow_cancelled", lit(true))
    }),

    // METADATA-ONLY AGGREGATES on the unified snapshot table — the
    // planning payoff of exact per-file bounds in the commit log
    // ([[sources.SnapshotTable.statsAgg]] / [[countRange]]): COUNT,
    // MIN, MAX answer from manifest lines with ZERO data files opened
    // (O(metadata) on a 100 TB table), and a range COUNT opens ONLY the
    // files straddling a predicate edge — fully-inside files count
    // from their recorded row counts, disjoint files skip. The gate
    // commits two range-clustered batches, then requires: the
    // unbounded count scanned zero files, the range count drew >0 rows
    // from metadata AND scanned a strict subset of files. The oracle
    // recomputes all four aggregates from the raw table, so a stale
    // bound, a sentinel leaking into min/max, or an unsound full-inside
    // classification all fail the hash.
    "q_snapshot_stats_agg" -> ((s, d) => {
      val dir = rtDir("snapst", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), dir, "price", 24)
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1), dir, "price", 24)
      val s2 = s.newSession()
      val (nTotal, pMin, pMax) = graft.sources.SnapshotTable.statsAgg(dir)
      val (nFull, metaFull, scanFull, totFull) = graft.sources.SnapshotTable
        .countRange(s2, dir, "price", Double.NegativeInfinity,
          Double.PositiveInfinity)
      val (nRange, metaRange, scanRange, _) = graft.sources.SnapshotTable
        .countRange(s2, dir, "price", 100000.0, 150000.0)
      require(scanFull == 0 && nFull == nTotal && metaFull == nTotal,
        s"q_snapshot_stats_agg: unbounded count must be metadata-only, " +
          s"scanned $scanFull files, meta $metaFull vs total $nTotal")
      require(metaRange > 0 && scanRange > 0 && scanRange < totFull,
        s"q_snapshot_stats_agg: range count must mix metadata and a " +
          s"strict straddle scan, meta=$metaRange scanned=$scanRange" +
          s"/$totFull")
      s2.range(1).select(
        lit(nTotal).as("n_total"),
        lit(pMin).as("price_min"),
        lit(pMax).as("price_max"),
        lit(nRange).as("n_range"),
        lit(true).as("meta_only_total"),
        lit(true).as("straddle_only"))
    }),

    // TYPED ENVELOPES in the unified snapshot table — the manifests
    // carry per-column min/max for STRING and DATE columns (UTF-8 /
    // epoch-day order), so [[sources.SnapshotTable.readPrunedCol]]
    // serves a quarter probe on either representation with strict file
    // skipping, on a table whose cluster column is the STRING day (the
    // legacy double channel records only the never-pruning sentinel
    // there — the typed stats do all the work). Two commits, two
    // fresh-session probes (string day, DATE column), both required
    // strict subsets; the oracle recomputes the quarter aggregate and
    // the date-leg count from the raw table, so an unsound skip on
    // either type fails the hash.
    "q_snapshot_prune_date" -> ((s, d) => {
      val dir = rtDir("snaptd", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        to_date(col("o_orderdate")).as("odate"))
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), dir, "day", 8)
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1), dir, "day", 8)
      val s2 = s.newSession()
      val (lo, hi) = ("1996-01-01", "1996-03-31")
      val (candS, readS, totalS) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, "day", lo, hi)
      val (candD, readD, totalD) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, "odate", lo, hi)
      require(readS > 0 && readS < totalS && readD > 0 && readD < totalD,
        s"q_snapshot_prune_date: expected strict subsets, read " +
          s"string=$readS/$totalS date=$readD/$totalD")
      val nDateLeg = candD.filter(
        col("odate").between(lit(lo).cast("date"), lit(hi).cast("date")))
        .count()
      candS.filter(col("day") >= lo && col("day") <= hi)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), min(col("day")).as("first_day"),
          max(col("day")).as("last_day"),
          sum(col("o_orderkey").cast("long")).as("keysum"))
        .withColumn("n_date_leg", lit(nDateLeg))
        .withColumn("skipped_string", lit(readS > 0 && readS < totalS))
        .withColumn("skipped_date", lit(readD > 0 && readD < totalD))
        .orderBy(col("o_orderstatus"))
    }),

    // Z-ORDERED clustering in the unified snapshot table
    // ([[sources.SnapshotTable.commitAppendZOrdered]]): rows lay out on
    // the Morton interleave of (day, price), each file covers a
    // compact 2-D block, and the typed per-column envelopes make a
    // fresh-session range probe on EITHER dimension a strict subset —
    // where a one-column sort gives the second column the full value
    // range in every file and prunes nothing. The oracle recomputes
    // both aggregates from the raw table; q_zonemap_zorder probes a
    // copy of the shared cached prologue in the calling session, this
    // one commits its own table and probes it from a fresh session.
    "q_snapshot_zorder" -> ((s, d) => {
      val dir = rtDir("snapzz", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val base = orders(s, d).select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      graft.sources.SnapshotTable.commitAppendZOrdered(
        base, dir, "day", "price", 16)
      val s2 = s.newSession()
      val (dayDf, dayRead, total) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, "day", 365, 546)
      val (priceDf, priceRead, _) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, "price", 100000, 150000)
      require(dayRead > 0 && dayRead < total &&
        priceRead > 0 && priceRead < total,
        s"q_snapshot_zorder: expected strict subsets, read " +
          s"day=$dayRead price=$priceRead of $total files")
      val aDay = dayDf
        .filter(col("day").between(lit(365), lit(546)))
        .agg(count(lit(1)).as("n_date"),
          sum(col("o_orderkey")).as("keysum_date"))
      val aPrice = priceDf
        .filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_price"),
          sum(col("price")).cast("double").as("revenue_price"))
      aDay.crossJoin(aPrice)
        .withColumn("skipped_date", lit(dayRead > 0 && dayRead < total))
        .withColumn("skipped_price",
          lit(priceRead > 0 && priceRead < total))
    }),

    // PLANNED copy-on-write rewrites — the round's scale fix: on a
    // key-clustered table, a narrow-band DELETE and a narrow-band
    // MERGE find their touched files through the KEY column's typed
    // bounds in the metadata pyramid
    // ([[sources.SnapshotTable.commitDeletePlanned]] /
    // [[commitMergePlanned]]) — the probe scan opens a strict subset
    // of files instead of reading the whole table to learn what a
    // 10-key takedown touches (which is O(table) planning however
    // touched-files-only the rewrite itself is). Band edges derive
    // from min/max with the same integer arithmetic on both sides, so
    // the oracle recomputes the post-delete post-merge table exactly;
    // the planned/total strictness is require()d, and the inserted
    // twins take negated keys per the repo's collision convention.
    "q_snapshot_planned_rewrite" -> ((s, d) => {
      val dir = rtDir("snappl", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), dir, "o_orderkey", 12)
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1), dir, "o_orderkey", 12)
      // RANK-based band edges (the n/50-th and 2n/50-th smallest keys):
      // a fraction-of-RANGE band can land entirely in a gap of a sparse
      // key space (the scale harness's replicas stride keys by 1e9, so
      // 1/50th of the span holds zero keys at some replica counts) —
      // rank bands are dense by construction at every scale, and the
      // oracle computes the same edges with a row_number window
      val nRows = o.count()
      def kthMax(m: Long): Long = o.select(col("o_orderkey").as("k"))
        .orderBy(col("k")).limit(m.toInt).agg(max(col("k")))
        .head().getLong(0)
      val w = nRows / 50
      val e1 = kthMax(w)
      val e2 = kthMax(2 * w)
      val del = o.filter(col("o_orderkey") <= e1)
        .select(col("o_orderkey"))
      val (deleted, p1, t1, _) = graft.sources.SnapshotTable
        .commitDeletePlanned(s, dir, "o_orderkey", del, "o_orderkey")
      val upd = o.filter(col("o_orderkey") > e1 &&
        col("o_orderkey") <= e2)
      val changes = upd
        .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
        .unionByName(upd.select(
          (-col("o_orderkey") - lit(1L)).as("o_orderkey"),
          (col("price") + lit(7)).cast("decimal(18,2)").as("price")))
      val (rep, _, p2, t2, _) = graft.sources.SnapshotTable
        .commitMergePlanned(s, dir, changes, "o_orderkey", "o_orderkey")
      require(deleted > 0 && rep > 0,
        s"q_snapshot_planned_rewrite: bands matched nothing " +
          s"(deleted=$deleted, replaced=$rep)")
      require(p1 > 0 && p1 < t1 && p2 > 0 && p2 < t2,
        s"q_snapshot_planned_rewrite: planning must prune through the " +
          s"pyramid, read delete=$p1/$t1 merge=$p2/$t2")
      val s2 = s.newSession()
      graft.sources.SnapshotTable.read(s2, dir).agg(
          count(lit(1)).as("n_total"),
          sum(col("o_orderkey")).as("keysum"),
          sum(col("price")).cast("double").as("revenue"),
          sum(when(col("o_orderkey") < 0, 1L).otherwise(0L))
            .as("n_inserted"))
        .withColumn("planned_delete_subset", lit(p1 > 0 && p1 < t1))
        .withColumn("planned_merge_subset", lit(p2 > 0 && p2 < t2))
    }),

    // MANIFEST KEY BLOOMS — the pruner for the delete shape min/max
    // bounds can never serve: a SCATTERED-key takedown (three specific
    // ids against a price-clustered table, where every file spans
    // ~the full key RANGE but almost no file holds those keys' SET).
    // commitAppend(bloomCols=...) folds an xxhash64 bloom per file into
    // the manifest (distributed bloom_agg — only the KB-scale sketch
    // leaves the executors, union-merged up the manifest list), and
    // commitDeletePlanned consults it after the bounds test: the gate
    // requires the 3-key takedown to plan at most HALF the files (at
    // ~15k rows/file the FPP holds at every scale), while the oracle
    // recomputes the survivor aggregate — a false NEGATIVE (wrongly
    // pruned file) would leave a deleted row alive and fail the hash.
    "q_snapshot_bloom_delete" -> ((s, d) => {
      val dir = rtDir("snapbf", d)
      bloomFixture(s, d, dir)
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val r = o.agg(min(col("o_orderkey")), max(col("o_orderkey")),
        count(lit(1))).head()
      val (mn, mx, nRows) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // RANK-based middle key (the n/2-th smallest), matching min/max
      // (ranks 1 and n): a fraction-of-RANGE midpoint can land in a
      // gap of a sparse keyspace and collide with mn — the repo's
      // convention is rank selection, never range fractions. Selected
      // DISTRIBUTED ([[kthSmallest]]): the old orderBy.limit(n/2)
      // funneled half the keys through one task at 100x scale.
      val mid = kthSmallest(o.select(col("o_orderkey").as("k")), "k",
        nRows / 2).asInstanceOf[Long]
      val keys = s.createDataFrame(
        Seq(Tuple1(mn), Tuple1(mid), Tuple1(mx))).toDF("o_orderkey")
      val (deleted, planned, total, _) = graft.sources.SnapshotTable
        .commitDeletePlanned(s, dir, "o_orderkey", keys, "price")
      require(deleted == 3,
        s"q_snapshot_bloom_delete: expected the 3 picked keys deleted, " +
          s"got $deleted")
      require(planned > 0 && planned * 2 <= total,
        s"q_snapshot_bloom_delete: bloom planning must confine the " +
          s"probe to at most half the files, read $planned/$total")
      val s2 = s.newSession()
      graft.sources.SnapshotTable.read(s2, dir).agg(
          count(lit(1)).as("n_total"),
          sum(col("o_orderkey")).as("keysum"),
          sum(col("price")).cast("double").as("revenue"))
        .withColumn("bloom_planned_subset",
          lit(planned > 0 && planned * 2 <= total))
    }),

    // STRING-KEY MANIFEST BLOOMS — the q_snapshot_bloom_delete shape
    // with a VARCHAR key: the stat pass hashes string keys through the
    // same SQL xxhash64 (UTF-8 bytes, seed 42) the probe side computes
    // driver-side, so a 3-URL-style takedown against a price-clustered
    // table plans at most half the files even though every file spans
    // ~the whole key RANGE. The three keys pick by RANK of the string
    // order (both sides identically — no numeric/lexicographic
    // equivalence assumed), and the oracle recomputes the survivor
    // aggregate: a wrongly-pruned file leaves a deleted key alive and
    // fails the hash.
    "q_snapshot_bloom_delete_str" -> ((s, d) => {
      val dir = rtDir("snapbfs", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(
        concat(lit("ord-"),
          lpad(col("o_orderkey").cast("string"), 12, "0")).as("okey"),
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val nRows = o.count()
      val nFiles = math.max(4L, (nRows / 2 + 14999) / 15000).toInt
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 0), dir, "price", nFiles,
        bloomCols = Seq("okey"))
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 2 === 1), dir, "price", nFiles,
        bloomCols = Seq("okey"))
      // ranks 1 and n are min/max (one agg pass, no sort); only the
      // middle key needs the rank selection — distributed
      // ([[kthSmallest]]), not a one-task global limit
      val mm = o.agg(min(col("okey")), max(col("okey"))).head()
      val mid = kthSmallest(o.select(col("okey").as("k")), "k",
        nRows / 2).asInstanceOf[String]
      val keys = s.createDataFrame(Seq(
        Tuple1(mm.getString(0)), Tuple1(mid), Tuple1(mm.getString(1))))
        .toDF("okey")
      val (deleted, planned, total, _) = graft.sources.SnapshotTable
        .commitDeletePlanned(s, dir, "okey", keys, "price")
      require(deleted == 3,
        s"q_snapshot_bloom_delete_str: expected the 3 picked keys " +
          s"deleted, got $deleted")
      require(planned > 0 && planned * 2 <= total,
        s"q_snapshot_bloom_delete_str: string blooms must confine the " +
          s"probe to at most half the files, read $planned/$total")
      val s2 = s.newSession()
      graft.sources.SnapshotTable.read(s2, dir).agg(
          count(lit(1)).as("n_total"),
          sum(col("o_orderkey")).as("keysum"),
          sum(col("price")).cast("double").as("revenue"))
        .withColumn("bloom_planned_subset",
          lit(planned > 0 && planned * 2 <= total))
    }),

    // CATALYST-PUSHDOWN read of the snapshot table — the DSv2
    // TableProvider ([[sources.SnapshotTableSource]]): the band
    // predicate arrives through the optimizer (`load().filter(...)`),
    // the ScanBuilder's pushed filters drive the same metadata-pyramid
    // descent as readPrunedCols, and the gate requires the scan to
    // open a strict subset of files (the planning-evidence hook) at
    // BOTH the latest version and a versionAsOf time travel. Pushdown
    // is advisory — every filter stays residual — so the oracle's
    // recompute from the raw table catches an unsound prune as a lost
    // row, and a lost pushdown shows up as planned == total here.
    "q_snapshot_sql_prune" -> ((s, d) => {
      val dir = rtDir("snapsql", d)
      snapshotFixture(s, d, dir) // v1 = even keys, v2 = odd keys
      val s2 = s.newSession()
      val latest = s2.read.format("graft.sources.SnapshotTableSource")
        .option("path", dir).load()
        .filter(col("price") >= lit(100000) && col("price") <= lit(150000))
        .agg(count(lit(1)).as("n_band"),
          sum(col("price")).cast("double").as("revenue_band"))
        .head()
      val (p1, t1) = (graft.sources.SnapshotTableSource.lastPlanned,
        graft.sources.SnapshotTableSource.lastTotal)
      require(p1 > 0 && p1 < t1,
        s"q_snapshot_sql_prune: pushed band must open a strict subset, " +
          s"opened $p1/$t1")
      // the TWO-BAND backfill shape: a disjunction of ranges must plan
      // as a union of per-band candidate sets (any-disjunct-hits per
      // file), still a strict subset — the commonest OR a retention
      // backfill issues, which a conjunctions-only translator reads
      // whole-table
      val orBand = s2.read.format("graft.sources.SnapshotTableSource")
        .option("path", dir).load()
        .filter((col("price") >= lit(50000) && col("price") <= lit(80000))
          || (col("price") >= lit(200000) && col("price") <= lit(230000)))
        .agg(count(lit(1)).as("n_or"),
          sum(col("price")).cast("double").as("revenue_or"))
        .head()
      val (pOr, tOr) = (graft.sources.SnapshotTableSource.lastPlanned,
        graft.sources.SnapshotTableSource.lastTotal)
      require(pOr > 0 && pOr < tOr,
        s"q_snapshot_sql_prune: pushed OR of two bands must open a " +
          s"strict subset, opened $pOr/$tOr")
      val v1 = s2.read.format("graft.sources.SnapshotTableSource")
        .option("path", dir).option("versionAsOf", "1").load()
        .filter(col("price") >= lit(100000) && col("price") <= lit(150000))
        .agg(count(lit(1)).as("n_v1"),
          sum(col("o_orderkey")).as("keysum_v1"))
        .head()
      val (p2, t2) = (graft.sources.SnapshotTableSource.lastPlanned,
        graft.sources.SnapshotTableSource.lastTotal)
      require(p2 > 0 && p2 < t2 && t2 < t1,
        s"q_snapshot_sql_prune: travel pushdown must prune v1's " +
          s"smaller file set, opened $p2/$t2 (latest total $t1)")
      s2.range(1).select(
        lit(latest.getLong(0)).as("n_band"),
        lit(latest.getDouble(1)).as("revenue_band"),
        lit(orBand.getLong(0)).as("n_or"),
        lit(orBand.getDouble(1)).as("revenue_or"),
        lit(v1.getLong(0)).as("n_v1"),
        lit(v1.getLong(1)).as("keysum_v1"),
        lit(true).as("pushed_subset"),
        lit(true).as("or_pushed_subset"),
        lit(true).as("travel_pushed_subset"))
    }),

    // METADATA-ONLY AGGREGATES through Catalyst — the DSv2 source's
    // SupportsPushDownAggregates arm: COUNT(*)/MIN/MAX with no
    // group-by and no predicate answer from the MANIFEST LINES alone
    // (zero data files opened — the planning-evidence hook pins it),
    // the SQL surface of [[sources.SnapshotTable.statsAggCol]]. The
    // negative arm pins the SOUND fallback: the same aggregate under
    // a band predicate must DECLINE pushdown (file stats cannot answer
    // filtered aggregates) and scan normally — same exact answer, just
    // not metadata-only. The oracle recomputes all seven values from
    // the raw table, so a stale bound, a sentinel leak, or an unsound
    // pushdown under the filter all fail the hash.
    "q_snapshot_agg_push" -> ((s, d) => {
      val dir = rtDir("snapagg", d)
      snapshotFixture(s, d, dir) // v1 = even keys, v2 = odd keys
      val s2 = s.newSession()
      def src() = s2.read.format("graft.sources.SnapshotTableSource")
        .option("path", dir).load()
      val r = src().agg(
        count(lit(1)).as("n_total"),
        min(col("price")).as("price_min"),
        max(col("price")).as("price_max"),
        min(col("o_orderkey")).as("key_min"),
        max(col("o_orderkey")).as("key_max"),
        min(col("o_orderpriority")).as("prio_min")).head()
      require(graft.sources.SnapshotTableSource.lastAggPushed,
        "q_snapshot_agg_push: unfiltered COUNT/MIN/MAX must answer " +
          "from manifest metadata (pushed aggregation)")
      val band = src()
        .filter(col("price") >= lit(100000) && col("price") <= lit(150000))
        .agg(count(lit(1)).as("n_band")).head()
      require(!graft.sources.SnapshotTableSource.lastAggPushed,
        "q_snapshot_agg_push: a FILTERED aggregate must decline " +
          "pushdown and scan — file stats cannot answer it")
      s2.range(1).select(
        lit(r.getLong(0)).as("n_total"),
        lit(r.getDecimal(1).doubleValue).as("price_min"),
        lit(r.getDecimal(2).doubleValue).as("price_max"),
        lit(r.getLong(3)).as("key_min"),
        lit(r.getLong(4)).as("key_max"),
        lit(r.getString(5)).as("prio_min"),
        lit(band.getLong(0)).as("n_band"),
        lit(true).as("agg_pushed"),
        lit(true).as("filtered_declined"))
    }),

    // DSv2 WRITE PATH — `df.write.format(...).mode("append")` through
    // the connector ([[sources.SnapshotTableSource]] SupportsWrite →
    // V1Write → [[sources.SnapshotTable.commitAppend]]): the SQL-path
    // append lands as an ordinary claimed commit (new version, prior
    // manifests carried by reference), an ABORTED write publishes
    // NOTHING (the mid-job failure arm — version and rows unchanged,
    // spec'd by require), and the exactly-once foreachBatch shape
    // (batchId+writerId options → commitAppendOnce) short-circuits its
    // replay. The pruned read-back must still plan a strict subset, and
    // the oracle recomputes the union from the raw table — a doubled
    // replay, a lost abort rollback, or a wrong append all fail the
    // hash. Appended keys fabricate by NEGATION (collision-free at
    // every scale replica).
    "q_snapshot_sql_write" -> ((s, d) => {
      val dir = rtDir("snapsqlw", d)
      snapshotFixture(s, d, dir) // v1 = even keys, v2 = odd keys
      val o = ordersPrioPrice(s, d)
      val app = o.select((-col("o_orderkey") - 1L).as("o_orderkey"),
        col("o_orderpriority"),
        (col("price") + 5).cast("decimal(18,2)").as("price"))
        .filter(col("o_orderkey") % 3 === 0)
      app.write.format("graft.sources.SnapshotTableSource")
        .option("path", dir).option("zcol", "price").option("nFiles", "4")
        .mode("append").save()
      require(graft.sources.SnapshotTable.latestVersion(dir).contains(3),
        "q_snapshot_sql_write: the connector append must land as v3")
      // ABORT arm: a write whose job fails mid-flight must publish
      // nothing — same version, same rows, orphans swept by the next
      // commit (the V1Write body is commitAppend: the pointer never
      // swings on failure)
      val poisoned = app.withColumn("price",
        when(col("o_orderkey") % 7 === 0,
          raise_error(lit("q_snapshot_sql_write: simulated task failure"))
            .cast("decimal(18,2)"))
        .otherwise(col("price")))
      val aborted =
        try {
          poisoned.write.format("graft.sources.SnapshotTableSource")
            .option("path", dir).option("zcol", "price")
            .mode("append").save()
          false
        } catch { case _: Exception => true }
      require(aborted &&
        graft.sources.SnapshotTable.latestVersion(dir).contains(3),
        "q_snapshot_sql_write: an aborted write must publish nothing")
      // EXACTLY-ONCE arm: the foreachBatch replay shape through the
      // connector — same (writerId, batchId) twice, one commit
      val once = o.filter(col("o_orderkey") % 1000 === 7)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("price") * 3).cast("decimal(18,2)").as("price"))
      Seq(1, 2).foreach(_ =>
        once.write.format("graft.sources.SnapshotTableSource")
          .option("path", dir).option("zcol", "price")
          .option("batchId", "0").option("writerId", "sqlw")
          .mode("append").save())
      require(graft.sources.SnapshotTable.latestVersion(dir).contains(4),
        "q_snapshot_sql_write: the replayed batch must short-circuit")
      val s2 = s.newSession()
      val band = s2.read.format("graft.sources.SnapshotTableSource")
        .option("path", dir).load()
        .filter(col("price") >= lit(100000) && col("price") <= lit(150000))
        .agg(count(lit(1)).as("n_band")).head()
      val (pb, tb) = (graft.sources.SnapshotTableSource.lastPlanned,
        graft.sources.SnapshotTableSource.lastTotal)
      require(pb > 0 && pb < tb,
        s"q_snapshot_sql_write: post-append pruned read must stay a " +
          s"strict subset, opened $pb/$tb")
      graft.sources.SnapshotTable.read(s2, dir).agg(
          count(lit(1)).as("n_total"),
          sum(col("o_orderkey")).as("keysum"),
          sum(col("price")).cast("double").as("revenue"),
          sum(when(col("o_orderkey") < 0, 1L).otherwise(0L))
            .as("n_appended"))
        .withColumn("n_band", lit(band.getLong(0)))
        .withColumn("abort_published_nothing", lit(true))
        .withColumn("replay_short_circuited", lit(true))
        .withColumn("pruned_subset", lit(true))
    }),

    // SQL DML BY NAME — the [[sources.GraftCatalog]] + SupportsDelete
    // arm: a TableCatalog maps `gsql.<table>` to a snapshot-table
    // directory (existence = the committed pointer, no second
    // metastore), INSERT INTO routes through the same V1Write append,
    // and DELETE FROM routes the WHERE shape to the right tombstone —
    // a closed date range lands as a PREDICATE tombstone (required:
    // ZERO new files — not even a key file), an IN list as an EQUALITY
    // tombstone (exactly ONE key file), and an untranslatable shape
    // (strict <) refuses LOUDLY with the table unchanged — deletes must
    // be exact, so nothing widens. Time travel still reads v1 in full.
    // The oracle recomputes survivors + the SQL-inserted rows from the
    // raw table.
    "q_snapshot_sql_delete" -> ((s, d) => {
      val base = rtDir("snapsqld", d)
      deleteRecursive(java.nio.file.Paths.get(base))
      val dir = s"$base/t"
      val o = orders(s, d).select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      graft.sources.SnapshotTable.commitAppend(o, dir, "price", 10)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gsql.base", base)
      // INSERT INTO by name: the negated re-inserts land through the
      // catalog write path as v2
      s2.sql(("INSERT INTO gsql.t SELECT -o_orderkey - 1 AS o_orderkey," +
        " CAST(o_orderdate AS DATE) AS odate," +
        " CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 11" +
        "   AS DECIMAL(18,2)) AS price" +
        " FROM parquet.`%s/orders.parquet`" +
        " WHERE o_orderkey %% 13 = 0").format(d))
      require(graft.sources.SnapshotTable.latestVersion(dir).contains(2),
        "q_snapshot_sql_delete: INSERT INTO must land as v2")
      def nParquet(): Long = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try {
          val it = st.iterator()
          var n = 0L
          while (it.hasNext)
            if (it.next().getFileName.toString.endsWith(".parquet")) n += 1
          n
        } finally st.close()
      }
      // predicate DELETE: one snapshot line, zero files of any kind
      val before = nParquet()
      s2.sql("DELETE FROM gsql.t WHERE odate <= DATE '1995-12-31'")
      require(nParquet() == before &&
        graft.sources.SnapshotTable.latestVersion(dir).contains(3),
        "q_snapshot_sql_delete: a range DELETE must land as a " +
          "metadata-only predicate tombstone")
      // IN DELETE: exactly one staged key file, no data file
      val survBounds = graft.sources.SnapshotTable.read(s2, dir)
        .filter(col("o_orderkey") > 0)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (kLo, kHi) = (survBounds.getLong(0), survBounds.getLong(1))
      s2.sql(s"DELETE FROM gsql.t WHERE o_orderkey IN ($kLo, $kHi)")
      require(nParquet() == before + 1 &&
        graft.sources.SnapshotTable.latestVersion(dir).contains(4),
        "q_snapshot_sql_delete: an IN DELETE must stage exactly one " +
          "key file")
      // an inexact shape refuses loudly, table unchanged
      val refused =
        try { s2.sql("DELETE FROM gsql.t WHERE odate < DATE '1997-01-01'")
          false }
        catch { case _: Exception => true }
      require(refused &&
        graft.sources.SnapshotTable.latestVersion(dir).contains(4),
        "q_snapshot_sql_delete: a strict-bound DELETE must refuse " +
          "with the table unchanged")
      require(graft.sources.SnapshotTable.read(s2, dir, Some(1))
          .count() == o.count(),
        "q_snapshot_sql_delete: time travel lost the pre-delete rows")
      s2.sql("SELECT * FROM gsql.t").agg(
          count(lit(1)).as("n_total"),
          sum(col("o_orderkey")).as("keysum"),
          sum(col("price")).cast("double").as("revenue"),
          sum(when(col("o_orderkey") < 0, 1L).otherwise(0L))
            .as("n_inserted"))
        .withColumn("pred_delete_metadata_only", lit(true))
        .withColumn("in_delete_one_key_file", lit(true))
        .withColumn("inexact_refused", lit(true))
        .withColumn("travel_intact", lit(true))
    }),

    // POINT/IN LOOKUPS through the Catalyst read path — the manifest
    // KEY BLOOMS consulted by SQL ([[sources.SnapshotTableSource]]
    // translating `=`/`IN` to bloom-probing key-set tests): a 3-key
    // lookup against a price-clustered bloom-carrying table plans at
    // most HALF the files (min/max bounds alone cannot confine a
    // scattered-id probe — every file spans ~the full key range), and
    // a single `=` point probe prunes at least as hard. Keys pick by
    // RANK (1, n/2, n — distributed selection), the oracle recomputes
    // the same rows, and pruning stays advisory (all filters residual),
    // so a bloom false NEGATIVE would surface as a lost row, not a
    // wrong prune.
    "q_snapshot_sql_point" -> ((s, d) => {
      val dir = rtDir("snapsqlp", d)
      bloomFixture(s, d, dir) // v1 = even, v2 = odd, blooms on key
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val r = o.agg(min(col("o_orderkey")), max(col("o_orderkey")),
        count(lit(1))).head()
      val (mn, mx, nRows) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val mid = kthSmallest(o.select(col("o_orderkey").as("k")), "k",
        nRows / 2).asInstanceOf[Long]
      val s2 = s.newSession()
      def src() = s2.read.format("graft.sources.SnapshotTableSource")
        .option("path", dir).load()
      val in3 = src().filter(col("o_orderkey").isin(mn, mid, mx))
        .agg(count(lit(1)).as("n_in"),
          sum(col("o_orderkey")).as("keysum_in"),
          sum(col("price")).cast("double").as("revenue_in")).head()
      val (p1, t1) = (graft.sources.SnapshotTableSource.lastPlanned,
        graft.sources.SnapshotTableSource.lastTotal)
      require(p1 > 0 && p1 * 2 <= t1,
        s"q_snapshot_sql_point: the bloom-probed IN must plan at most " +
          s"half the files, opened $p1/$t1")
      val eq = src().filter(col("o_orderkey") === mid)
        .agg(count(lit(1)).as("n_eq"),
          sum(col("price")).cast("double").as("revenue_eq")).head()
      val (p2, t2) = (graft.sources.SnapshotTableSource.lastPlanned,
        graft.sources.SnapshotTableSource.lastTotal)
      require(p2 > 0 && p2 * 2 <= t2,
        s"q_snapshot_sql_point: the point probe must plan at most " +
          s"half the files, opened $p2/$t2")
      s2.range(1).select(
        lit(in3.getLong(0)).as("n_in"),
        lit(in3.getLong(1)).as("keysum_in"),
        lit(in3.getDouble(2)).as("revenue_in"),
        lit(eq.getLong(0)).as("n_eq"),
        lit(eq.getDouble(1)).as("revenue_eq"),
        lit(true).as("in_bloom_pruned"),
        lit(true).as("point_bloom_pruned"))
    }),

    // LIBRARY-LEVEL RUNTIME FILTERING — the dim-filtered star join over
    // a snapshot fact table ([[sources.SnapshotTable.readKeyedPruned]]):
    // the dim side's key set drives the SAME bounds+bloom pyramid
    // descent the planned rewrites use, at READ time — a 3-row dim
    // joined against a price-clustered fact opens at most HALF the
    // fact's files (require()d; min/max bounds alone cannot confine
    // scattered ids), which is exactly the file subset DSv2's
    // SupportsRuntimeFiltering would buy (the hook itself never fires
    // on a V1Scan — BASELINE.md r16 ledger documents the boundary).
    // The oracle recomputes the join from the raw table, so a wrongly
    // pruned file surfaces as a lost join row.
    "q_snapshot_join_prune" -> ((s, d) => {
      val dir = rtDir("snapjp", d)
      bloomFixture(s, d, dir) // v1 = even, v2 = odd, blooms on key
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val r = o.agg(min(col("o_orderkey")), max(col("o_orderkey")),
        count(lit(1))).head()
      val (mn, mx, nRows) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val mid = kthSmallest(o.select(col("o_orderkey").as("k")), "k",
        nRows / 2).asInstanceOf[Long]
      val dim = s.createDataFrame(
        Seq((mn, 1L), (mid, 2L), (mx, 3L))).toDF("o_orderkey", "w")
      val s2 = s.newSession()
      val (cand, read, total) = graft.sources.SnapshotTable
        .readKeyedPruned(s2, dir, "o_orderkey",
          dim.select(col("o_orderkey")))
      require(read > 0 && read * 2 <= total,
        s"q_snapshot_join_prune: the keyed probe must open at most " +
          s"half the fact files, opened $read/$total")
      cand.join(broadcast(dim), Seq("o_orderkey"))
        .agg(count(lit(1)).as("n_join"),
          sum(col("o_orderkey")).as("keysum_join"),
          sum(col("price")).cast("double").as("revenue_join"),
          sum(col("w")).as("wsum"))
        .withColumn("join_pruned_subset", lit(true))
    }),

    // RUNTIME FILTERING proper — the NATIVE DSv2 batch scan
    // ([[sources.SnapshotTableSource]] `nativeScan` option): a real
    // Batch over the pyramid-planned files (Spark's own vectorized
    // parquet readers underneath), which is what lets
    // SupportsRuntimeFiltering FIRE — a broadcast join's build-side
    // key set reaches the scan AT EXECUTION TIME, the file plan
    // re-runs with the keys as a bloom-probing InTest, and the
    // dim-filtered star join opens ≤ half the fact files (require()d)
    // with `dynamicpruning` pinned in the executed plan. Decoy dim
    // rows are filtered build-side (the DPP-selectivity shape), keys
    // pick by distributed rank, and the oracle recomputes the join.
    "q_snapshot_runtime_filter" -> ((s, d) => {
      val dir = rtDir("snaprtf", d)
      bloomFixture(s, d, dir) // v1 = even, v2 = odd, blooms on key
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      val r = o.agg(min(col("o_orderkey")), max(col("o_orderkey")),
        count(lit(1))).head()
      val (mn, mx, nRows) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val mid = kthSmallest(o.select(col("o_orderkey").as("k")), "k",
        nRows / 2).asInstanceOf[Long]
      val dimDir = rtDir("snaprtfd", d)
      deleteRecursive(java.nio.file.Paths.get(dimDir))
      s.createDataFrame(Seq((mn, 1L), (mid, 2L), (mx, 3L),
          (-5L, 4L), (-6L, 5L))).toDF("want", "w")
        .write.mode("overwrite").parquet(dimDir)
      val s2 = s.newSession()
      val dim = s2.read.parquet(dimDir).filter(col("want") >= 0)
      val fact = s2.read.format("graft.sources.SnapshotTableSource")
        .option("path", dir).option("nativeScan", "true").load()
      val joined = fact.join(broadcast(dim),
        col("o_orderkey") === col("want"))
      val res = joined.agg(count(lit(1)).as("n_join"),
        sum(col("o_orderkey")).as("keysum_join"),
        sum(col("price")).cast("double").as("revenue_join"),
        sum(col("w")).as("wsum")).head()
      val (p, t) = (graft.sources.SnapshotTableSource.lastPlanned,
        graft.sources.SnapshotTableSource.lastTotal)
      require(p > 0 && p * 2 <= t,
        s"q_snapshot_runtime_filter: the runtime filter must confine " +
          s"the fact scan to at most half the files, opened $p/$t")
      require(joined.queryExecution.executedPlan.toString
          .toLowerCase.contains("dynamicpruning"),
        "q_snapshot_runtime_filter: expected a dynamicpruning subquery " +
          "on the fact scan")
      s2.range(1).select(
        lit(res.getLong(0)).as("n_join"),
        lit(res.getLong(1)).as("keysum_join"),
        lit(res.getDouble(2)).as("revenue_join"),
        lit(res.getLong(3)).as("wsum"),
        lit(true).as("runtime_filtered_subset"),
        lit(true).as("dynamic_pruning_planned"))
    }),

    // PREDICATE MERGE-ON-READ DELETE — the O(METADATA) retention drop
    // ([[sources.SnapshotTable.commitDeleteMorPred]]): "drop every row
    // dated on or before the cutoff" lands as ONE serialized-comparison
    // snapshot line — the gate requires the commit to write NO new
    // parquet file at all (stricter than MOR equality's key file) —
    // applied at read as a sequence-scoped residual filter. A later
    // append re-inserting pre-cutoff rows survives (the scoping tooth),
    // time travel still reads the dropped rows, and compactCommit
    // materializes to the same answer with the refs gone. The oracle
    // recomputes survivors + re-inserts from the raw table.
    "q_snapshot_mor_delete_pred" -> ((s, d) => {
      val dir = rtDir("snappdl", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      graft.sources.SnapshotTable.commitAppend(o, dir, "price", 10)
      val cutoff = java.sql.Date.valueOf("1995-12-31")
      def nParquet(): Long = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try {
          val it = st.iterator()
          var n = 0L
          while (it.hasNext)
            if (it.next().getFileName.toString.endsWith(".parquet")) n += 1
          n
        } finally st.close()
      }
      val before = nParquet()
      val v2 = graft.sources.SnapshotTable.commitDeleteMorPred(
        s, dir, "odate", None, Some(cutoff))
      require(nParquet() == before && v2 == 2,
        "q_snapshot_mor_delete_pred: a predicate tombstone must write " +
          "no data or key file")
      // sequence scoping: re-insert a pre-cutoff band AFTER the drop
      val reins = o.filter(col("odate") <= lit(cutoff) &&
          col("o_orderkey") % 11 === 0)
        .withColumn("price", (col("price") + 13).cast("decimal(18,2)"))
      graft.sources.SnapshotTable.commitAppend(reins, dir, "price", 2)
      val s2 = s.newSession()
      val latest = graft.sources.SnapshotTable.read(s2, dir)
      val nOld = latest.filter(col("odate") <= lit(cutoff)).count()
      require(nOld == reins.count(),
        s"q_snapshot_mor_delete_pred: exactly the re-inserts may sit " +
          s"before the cutoff, found $nOld")
      val nV1 = graft.sources.SnapshotTable.read(s2, dir, Some(1)).count()
      val nO = o.count() // one base count serves the tooth and the sizing
      require(nV1 == nO,
        "q_snapshot_mor_delete_pred: time travel lost the dropped rows")
      val nLatest = latest.count()
      graft.sources.SnapshotTable.compactCommit(s2, dir, "price",
        nO / 4 + 1)
      val compactedEq =
        graft.sources.SnapshotTable.predDeleteRefs(dir).isEmpty &&
        graft.sources.SnapshotTable.read(s2, dir).count() == nLatest
      graft.sources.SnapshotTable.read(s2, dir).agg(
          count(lit(1)).as("n_total"),
          sum(col("o_orderkey")).as("keysum"),
          sum(col("price")).cast("double").as("revenue"),
          sum(when(col("odate") <= lit(cutoff), 1L).otherwise(0L))
            .as("n_reinserted"))
        .withColumn("metadata_only_commit", lit(true))
        .withColumn("travel_intact", lit(true))
        .withColumn("compacted_equal", lit(compactedEq))
    }),

    // PARTITION TRANSFORMS + DROP PARTITION — Iceberg-shaped hidden
    // partitioning ([[sources.SnapshotTable.commitAppendPartitioned]]):
    // a months(odate) spec in table metadata, every data file holding
    // exactly ONE month (recorded as a lo==hi `_pt` stat), so the
    // retention drop of the oldest month is PURE manifest surgery —
    // the gate requires zero new parquet files and the dropped month's
    // exact file count leaving the snapshot — while `_pt` pruning
    // stays strict through the ordinary typed-envelope descent. Time
    // travel reads the dropped month until vacuum reclaims its files
    // (required to reclaim at least that many). The oracle recomputes
    // the post-drop table with the same rank-free month arithmetic
    // (the MIN month — dense by construction at every scale).
    "q_snapshot_part_drop" -> ((s, d) => {
      val dir = rtDir("snappart", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val o = orders(s, d).select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      graft.sources.SnapshotTable.commitAppendPartitioned(o, dir,
        graft.sources.SnapshotTable.PartitionSpec("months", "odate"))
      val tm = o.agg(min(year(col("odate")) * 12 + month(col("odate")) - 1))
        .head().getInt(0).toLong
      val s2 = s.newSession()
      val (candM, readM, totalM) = graft.sources.SnapshotTable
        .readPrunedCol(s2, dir, graft.sources.SnapshotTable.PartCol, tm, tm)
      require(readM > 0 && readM < totalM,
        s"q_snapshot_part_drop: _pt pruning must be strict, " +
          s"read $readM/$totalM")
      val nMonth = candM.count()
      def nParquet(): Long = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try {
          val it = st.iterator()
          var n = 0L
          while (it.hasNext)
            if (it.next().getFileName.toString.endsWith(".parquet")) n += 1
          n
        } finally st.close()
      }
      val filesBefore = nParquet()
      val (dropped, files, v2) =
        graft.sources.SnapshotTable.dropPartition(dir, tm)
      require(dropped == nMonth && files == readM && v2 == 2,
        s"q_snapshot_part_drop: drop must retire exactly the month's " +
          s"$nMonth rows / $readM files, got ($dropped, $files)")
      require(nParquet() == filesBefore,
        "q_snapshot_part_drop: dropPartition must write no data file")
      val nTravel = graft.sources.SnapshotTable
        .read(s2, dir, Some(1)).count()
      require(nTravel == o.count(),
        "q_snapshot_part_drop: time travel lost the dropped month")
      val latest = graft.sources.SnapshotTable.read(s2, dir)
        .agg(count(lit(1)).as("n_total"),
          sum(col("o_orderkey")).as("keysum"),
          sum(col("price")).cast("double").as("revenue"))
        .head()
      val (_, reclaimed) = graft.sources.SnapshotTable
        .vacuum(dir, keepLast = 1)
      require(reclaimed >= files,
        s"q_snapshot_part_drop: vacuum must reclaim the dropped " +
          s"month's files, got $reclaimed < $files")
      val nAfterVacuum = graft.sources.SnapshotTable.read(
        s.newSession(), dir).count()
      s2.range(1).select(
        lit(latest.getLong(0)).as("n_total"),
        lit(latest.getLong(1)).as("keysum"),
        lit(latest.getDouble(2)).as("revenue"),
        lit(dropped).as("n_dropped"),
        lit(true).as("metadata_only_drop"),
        lit(true).as("pruned_strict"),
        lit(nAfterVacuum == latest.getLong(0)).as("vacuum_kept_latest"))
    }),

    // MERGE-ON-READ MERGE on the unified snapshot table — the O(batch)
    // upsert ([[sources.SnapshotTable.commitMergeMor]]): the change
    // keys land as an equality-delete tombstone and the change rows
    // append as ordinary data files, BOTH at v3 — sequence scoping
    // makes that an upsert (the tombstone deletes only from manifests
    // before it, so the batch's own rows are exempt) with NO existing
    // file touched: the gate requires v3's data-side manifest list to
    // be v2's VERBATIM plus the batch manifest. The fresh-session read
    // must equal the COW-merge answer (same oracle arithmetic as
    // q_snapshot_merge), both pruned probes stay strict, and
    // compactCommit must materialize to the same rows with the
    // tombstone refs dropped.
    "q_snapshot_mor_merge" -> ((s, d) => {
      val dir = rtDir("snapmrm", d)
      snapshotFixture(s, d, dir) // v1 = even keys, v2 = odd keys
      val o = ordersPrioPrice(s, d)
      val vPre = 2
      val upd = o.filter(col("o_orderkey") % 10 === 7)
      val changes = upd
        .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
        .unionByName(upd.select(
          (-col("o_orderkey") - lit(1L)).as("o_orderkey"),
          col("o_orderpriority"),
          (col("price") + lit(7)).cast("decimal(18,2)").as("price")))
      val preNames = graft.sources.SnapshotTable
        .snapshot(dir, Some(vPre)).map(_.name)
      val (nKeys, v3) = graft.sources.SnapshotTable
        .commitMergeMor(s, dir, changes, "o_orderkey", "price", 4)
      require(graft.sources.SnapshotTable.snapshot(dir, Some(v3))
          .map(_.name) == preNames :+ s"m-$v3.json",
        "q_snapshot_mor_merge: the data side must carry verbatim plus " +
          "the batch manifest — no existing file touched")
      val s2 = s.newSession()
      // one latest-table count serves the merged check, the compact
      // baseline, and the sizing (the table is immutable between them:
      // the next commit is the compact itself) — this was three
      // identical full-table count jobs
      val nO = o.count()
      val nLatest = graft.sources.SnapshotTable.read(s2, dir).count()
      val merged = nKeys > 0 && nLatest == nO + upd.count()
      val (lo, hi) = (100000.0, 150000.0)
      val (candL, readL, totalL) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi)
      val (candT, readT, totalT) = graft.sources.SnapshotTable
        .readPruned(s2, dir, lo, hi, Some(vPre))
      require(readL > 0 && readL < totalL && readT > 0 && readT < totalT,
        s"q_snapshot_mor_merge: expected strict subsets, read " +
          s"latest=$readL/$totalL travel=$readT/$totalT")
      val aL = candL.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_latest"),
          sum(col("price")).cast("double").as("revenue_latest"))
      val aT = candT.filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_travel"),
          sum(col("price")).cast("double").as("revenue_travel"))
      graft.sources.SnapshotTable.compactCommit(s2, dir, "price",
        nO / 4 + 1)
      val compactedEq =
        graft.sources.SnapshotTable.deleteRefs(dir).isEmpty &&
        graft.sources.SnapshotTable.read(s2, dir).count() == nLatest
      aL.crossJoin(aT)
        .withColumn("skipped_latest", lit(readL > 0 && readL < totalL))
        .withColumn("skipped_travel", lit(readT > 0 && readT < totalT))
        .withColumn("mor_data_side_verbatim", lit(merged))
        .withColumn("compacted_equal", lit(compactedEq))
    }),

    // EXACTLY-ONCE STREAMING UPSERT into the unified snapshot table —
    // the CDC INGEST path ([[sources.SnapshotTable.commitMergeMorOnce]]):
    // each micro-batch lands as one sequence-scoped tombstone + one
    // appended manifest (O(batch), NO existing file rewritten — the
    // gate requires v3's data side to be v1's manifests VERBATIM plus
    // the two batch manifests), with the batch id riding the LATEST
    // pointer so a restart over the same checkpoint re-commits
    // nothing. Two change batches stream through the real micro-batch
    // engine (updates ×2 on one key family, then updates ×3 plus
    // negated-key inserts), the fresh-session pruned reads at latest
    // AND at the pre-stream version stay strict subsets, and
    // compactCommit materializes both tombstones to the same rows.
    // The oracle recomputes every aggregate from the raw table.
    "q_stream_snapshot_upsert" -> ((s, d) => {
      val dir = rtDir("snapuo", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val table = s"$dir/t"
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      cachedPrologue("snapuo", d, table)(base =>
        graft.sources.SnapshotTable.commitAppend(o, base, "price", 8))
      val b0 = o.filter(col("o_orderkey") % 10 === 7)
        .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
      val b1 = o.filter(col("o_orderkey") % 10 === 3)
        .withColumn("price", (col("price") * 3).cast("decimal(18,2)"))
        .unionByName(o.filter(col("o_orderkey") % 5 === 0).select(
          (-col("o_orderkey") - lit(1L)).as("o_orderkey"),
          col("o_orderpriority"),
          (col("price") + lit(11)).cast("decimal(18,2)").as("price")))
      val drop = java.nio.file.Files.createTempDirectory("graft_snapuo_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(b0, drop, "0_changes.parquet", t0 - 60000)
        stageStreamFile(b1, drop, "1_changes.parquet", t0 - 30000)
        val schema = s.read.parquet(s"$drop/0_changes.parquet").schema
        def drainOnce(): Unit = {
          val raw = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(drop.toString)
          graft.streaming.Streams.runWithBatchCommit(raw, s"$dir/ckpt") {
            (b, bid) =>
              graft.sources.SnapshotTable.commitMergeMorOnce(
                b.sparkSession, table, b, "o_orderkey", "price", 2, bid,
                writerId = "upsert")
              ()
          }.awaitTermination()
        }
        drainOnce()
        drainOnce() // restored offsets: no batch, no re-commit
        val s2 = s.newSession()
        val nInserts = o.filter(col("o_orderkey") % 5 === 0).count()
        val nOrders = o.count()
        // counted once: no commit lands between here and the
        // compaction below, so this IS the pre-compaction row count
        val nLatest = graft.sources.SnapshotTable.read(s2, table).count()
        val upsertedOnce =
          graft.sources.SnapshotTable.latestVersion(table).contains(3) &&
          nLatest == nOrders + nInserts
        require(graft.sources.SnapshotTable.snapshot(table, Some(3))
            .map(_.name) ==
          graft.sources.SnapshotTable.snapshot(table, Some(1))
            .map(_.name) ++ Seq("m-2.json", "m-3.json"),
          "q_stream_snapshot_upsert: upsert batches must carry every " +
            "prior manifest verbatim")
        val (lo, hi) = (100000.0, 150000.0)
        val (candL, readL, totalL) = graft.sources.SnapshotTable
          .readPruned(s2, table, lo, hi)
        val (candT, readT, totalT) = graft.sources.SnapshotTable
          .readPruned(s2, table, lo, hi, Some(1))
        require(readL > 0 && readL < totalL && readT > 0 && readT < totalT,
          s"q_stream_snapshot_upsert: expected strict subsets, read " +
            s"latest=$readL/$totalL travel=$readT/$totalT")
        val aL = candL
          .filter(col("price").between(lit(100000), lit(150000)))
          .agg(count(lit(1)).as("n_latest"),
            sum(col("price")).cast("double").as("revenue_latest"))
        val aT = candT
          .filter(col("price").between(lit(100000), lit(150000)))
          .agg(count(lit(1)).as("n_travel"),
            sum(col("price")).cast("double").as("revenue_travel"))
        graft.sources.SnapshotTable.compactCommit(s2, table, "price",
          nOrders / 4 + 1)
        val compactedEq =
          graft.sources.SnapshotTable.deleteRefs(table).isEmpty &&
          graft.sources.SnapshotTable.read(s2, table).count() == nLatest
        aL.crossJoin(aT)
          .withColumn("skipped_latest", lit(readL > 0 && readL < totalL))
          .withColumn("skipped_travel", lit(readT > 0 && readT < totalT))
          .withColumn("upserted_once", lit(upsertedOnce))
          .withColumn("compacted_equal", lit(compactedEq))
      } finally deleteRecursive(drop)
    }),

    // STREAMING CHANGES-FEED CONSUMER — the snapshot table as a
    // first-class CDC SOURCE ([[sources.SnapshotChangesSource]]): each
    // committed version is announced as one control row through a real
    // checkpointed micro-batch stream (version cursor as offset, one
    // version per trigger), and [[sources.SnapshotTable.maintainAgg]]
    // folds each announced range into a durable materialized aggregate
    // at O(delta) — its own atomically-published cursor makes replayed
    // batches no-ops, so the at-least-once stream maintains the view
    // effectively-exactly-once. The gate drains append/append/COW-
    // delete/merge history, REQUIRES a checkpoint-restart drain to
    // re-announce nothing, commits one more version while the consumer
    // is down, drains the catch-up, and requires the final view to
    // equal a from-scratch recompute bag-exactly; the oracle recomputes
    // it from the raw table.
    "q_stream_snapshot_changes" -> ((s, d) => {
      val dir = rtDir("snapcdc", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val table = s"$dir/t"
      val view = s"$dir/view"
      // v1 even, v2 odd, v3 COW delete (%97==3), v4 COW merge (%10==7)
      snapshotMutatedFixture(s, d, table)
      val o = ordersPrioPrice(s, d)
      // each drain records the versions its batches ANNOUNCED, so one
      // restart drain carries BOTH teeth: the checkpoint-restored
      // cursor (nothing below it re-announced) AND the catch-up of a
      // version committed while the consumer was down
      def drain(): Seq[Int] = {
        val announced = scala.collection.mutable.ArrayBuffer[Int]()
        val raw = s.readStream
          .format("graft.sources.SnapshotChangesSource")
          .option("path", table).option("maxVersionsPerTrigger", 1).load()
        graft.streaming.Streams.runWithBatchCommit(raw, s"$dir/ckpt") {
          (b, _) =>
            val vs = b.select(col("version")).collect()
              .map(_.getInt(0)).sorted
            announced.synchronized { announced ++= vs }
            vs.lastOption.foreach { v =>
              graft.sources.SnapshotTable.maintainAgg(b.sparkSession,
                table, view, Seq("o_orderpriority"), Seq("price"), v)
            }
        }.awaitTermination()
        announced.toSeq
      }
      val a1 = drain()
      require(graft.sources.SnapshotTable.maintainedCursor(view) == 4 &&
        a1 == Seq(1, 2, 3, 4),
        s"q_stream_snapshot_changes: first drain must announce 1..4 " +
          s"one per trigger, got $a1")
      // a version committed while the consumer is down; the restart
      // drain must announce ONLY it (checkpoint restored, no replay)
      graft.sources.SnapshotTable.commitAppend(
        o.filter(col("o_orderkey") % 5 === 0).select(
          (-col("o_orderkey") - lit(1L)).as("o_orderkey"),
          col("o_orderpriority"),
          (col("price") + lit(11)).cast("decimal(18,2)").as("price")),
        table, "price", 4)
      val a2 = drain()
      require(graft.sources.SnapshotTable.maintainedCursor(view) == 5 &&
        a2 == Seq(5),
        s"q_stream_snapshot_changes: restart must re-announce nothing " +
          s"and catch up exactly v5, got $a2")
      val s2 = s.newSession()
      val mv = graft.sources.SnapshotTable.readMaintainedAgg(s2, view)
      val wide = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("o_orderpriority"), col("n"),
          col("price").cast("decimal(38,2)").as("price"))
      val fresh = wide(graft.sources.SnapshotTable.read(s2, table)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("price")))
      require(bagEqual(wide(mv), fresh),
        "q_stream_snapshot_changes: maintained view diverged from " +
          "the recompute")
      mv.select(col("o_orderpriority"), col("n"),
          col("price").cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // ORC sink -> source roundtrip: same contract as q_csv_roundtrip
    // but through the TYPED columnar format (decimals and strings
    // survive as their own types, no stringly CSV escape hatch) — the
    // second columnar lake format an engine migration actually meets.
    // The oracle recomputes the aggregate from the original table, so
    // any type coercion or value damage in the ORC write/read path
    // fails the hash; DuckDB never needs to read ORC itself.
    "q_orc_roundtrip" -> ((s, d) => {
      val dir = rtDir("orc", d)
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          min(col("day")).as("first_day"), max(col("day")).as("last_day"))
        .orderBy(col("o_orderstatus"))
    }),

    // INCREMENTAL zone-map maintenance: a base commit (keys % 5 < 3)
    // then a daily-style APPEND of the complement as a second commit,
    // whose manifest holds the NEW files' stats only — the maintenance
    // cost tracks the batch, not the table. The pruned read must then
    // span BOTH segments correctly: the gated aggregate equals the
    // oracle's whole-table filter (a snapshot that missed an appended
    // file or double-listed one loses/doubles rows), and the booleans
    // pin that the snapshot lists exactly the table's data files and
    // that the probe still skipped a strict subset.
    "q_zonemap_append" -> ((s, d) => {
      val dir = rtDir("zma", d)
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      cachedPrologue("zma", d, dir)(b =>
        graft.sources.SnapshotTable.commitAppend(
          base.filter(col("o_orderkey") % 5 < 3), b, "price", 12))
      graft.sources.SnapshotTable.commitAppend(
        base.filter(col("o_orderkey") % 5 >= 3), dir, "price", 4)
      val (cand, read, total) = graft.sources.SnapshotTable
        .readPrunedCol(s, dir, "price", 100000, 150000)
      val nFilesOnDisk = s.read.parquet(dir).inputFiles.length.toLong
      cand.filter(col("price").between(lit(100000), lit(150000)))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          min(col("o_orderkey")).as("min_key"))
        .withColumn("manifest_complete", lit(total == nFilesOnDisk))
        .withColumn("skipped", lit(read > 0 && read < total))
        .orderBy(col("o_orderpriority"))
    }),

    // MERGE-ON-READ with deletion vectors: the write path stays
    // append-only — immutable base files plus a tiny delete-key file
    // and an update file — and the READER composes current state:
    // (base ANTI-JOIN tombstones) UNION updates. Copy-on-write
    // (q_upsert) rewrites whole files to change one row; at 100 TB a
    // daily trickle of deletes/updates makes that unpayable, so every
    // lakehouse format grew this read path (Iceberg v2 delete files,
    // Delta deletion vectors). The tombstone side is broadcast (it is
    // small BY CONSTRUCTION — that's the design's premise), so the
    // base scan never shuffles. The oracle recomputes the merged state
    // from the raw table with CASE arithmetic: a reader that leaks a
    // deleted row, drops an update, or double-counts an updated key
    // fails the hash.
    "q_merge_on_read" -> ((s, d) => {
      val dir = rtDir("mor", d)
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      base.write.mode("overwrite").parquet(s"$dir/base")
      base.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$dir/deletes")
      base.filter(col("o_orderkey") % 10 === 7)
        .withColumn("price",
          (col("price") * 2).cast("decimal(18,2)"))
        .write.mode("overwrite").parquet(s"$dir/updates")
      val b = s.read.parquet(s"$dir/base")
      val tomb = s.read.parquet(s"$dir/deletes")
      val upd = s.read.parquet(s"$dir/updates")
      val shadowed = tomb
        .union(upd.select(col("o_orderkey")))
      val current = b.join(broadcast(shadowed), Seq("o_orderkey"),
          "left_anti")
        .unionByName(upd)
      current.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_orderpriority"))
    }),

    // DYNAMIC PARTITION PRUNING: the fact table is partitioned on the
    // join key and the selective filter lives on the DIMENSION side —
    // so no static rule can prune the fact scan; at runtime Catalyst
    // broadcasts the filtered dim, derives the surviving partition
    // keys, and injects them into the fact scan's PartitionFilters
    // (PlanAuditSpec asserts the dynamicpruning expression landed).
    // At 100 TB this is THE star-schema scan killer: the fact side
    // reads 1/3 of the lake because the dim filter said so, with no
    // hand-written predicate on the fact. The oracle recomputes the
    // join from the unpartitioned source, so a pruning bug that drops
    // or duplicates a partition fails the hash.
    "q_join_dpp" -> ((s, d) => {
      import s.implicits._
      val dir = rtDir("dpp", d)
      orders(s, d)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus")
        .parquet(dir)
      val fact = s.read.parquet(dir)
      // the dim must be a real scanned relation with the filter ON it:
      // DPP's planner rule looks for a selective predicate on the
      // other join side (a pre-filtered in-memory row would be
      // constant-folded away before the rule runs)
      Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
        .toDF("status", "label")
        .write.mode("overwrite").parquet(s"$dir-dim")
      val dim = s.read.parquet(s"$dir-dim")
        .filter(col("label") === "finished")
      fact.join(broadcast(dim),
          fact("o_orderstatus") === dim("status"))
        .groupBy(col("o_orderstatus"), col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // Z-ORDER + zone map, the read-side payoff: orders committed on the
    // Morton code of (order day, price)
    // ([[sources.SnapshotTable.commitAppendZOrdered]]) give every file
    // tight min/max bounds in BOTH dimensions, so a range probe on
    // EITHER column alone skips files — the property a lexicographic
    // (day, price) sort cannot provide for price. Two independent
    // probes (a ~7%
    // day band with price unconstrained, and a price band with day
    // unconstrained) each must read a strict subset of the 16 files
    // (gated booleans) AND aggregate exactly like a plain WHERE over
    // the raw table (gated sums — an unsound skip loses rows and
    // fails the hash). This is multi-dimensional data skipping as
    // Delta OPTIMIZE ZORDER / Iceberg sort orders ship it.
    "q_zonemap_zorder" -> ((s, d) => {
      val dir = rtDir("zz", d)
      val base = orders(s, d).select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      // identical build to q_zonemap_delete_zorder's prologue — ONE
      // cached base ("zzdel") serves both gates' copies
      cachedPrologue("zzdel", d, dir)(b =>
        graft.sources.SnapshotTable.commitAppendZOrdered(
          base, b, "day", "price", 16))
      val (dayDf, dayRead, total) = graft.sources.SnapshotTable
        .readPrunedCol(s, dir, "day", 365, 546)
      val (priceDf, priceRead, _) = graft.sources.SnapshotTable
        .readPrunedCol(s, dir, "price", 100000, 150000)
      val aDay = dayDf
        .filter(col("day").between(lit(365), lit(546)))
        .agg(count(lit(1)).as("n_date"),
          sum(col("o_orderkey")).as("keysum_date"))
      val aPrice = priceDf
        .filter(col("price").between(lit(100000), lit(150000)))
        .agg(count(lit(1)).as("n_price"),
          sum(col("price")).cast("double").as("revenue_price"))
      aDay.crossJoin(aPrice)
        .withColumn("skipped_date", lit(dayRead > 0 && dayRead < total))
        .withColumn("skipped_price",
          lit(priceRead > 0 && priceRead < total))
    }),

    // COMPACTION under the gate: a fragmented snapshot table (one
    // 50-file append — the standing outcome of streaming/incremental
    // appends) is rewritten to ~5000-row files by
    // SnapshotTable.compactCommit, a new version whose one manifest
    // replaces every previous one behind a single pointer swing; the
    // ORACLE proves the data level — the compacted snapshot must
    // aggregate exactly like the raw table (no row lost or doubled in
    // the rewrite), and the gated boolean pins that the manifest's file
    // count really shrank. At 100 TB compaction is a daily job; an
    // engine that can't prove rows survive it can't run one.
    "q_compact_roundtrip" -> ((s, d) => {
      val dir = rtDir("cmp", d)
      // the fragmented opening layout is deterministic fixture; the
      // teeth — the compaction commit and the aggregate equality — run
      // on the gate's own copy
      cachedPrologue("cmp", d, dir)(b =>
        graft.sources.SnapshotTable.commitAppend(
          orders(s, d)
            .select(col("o_orderkey"), col("o_orderstatus"),
              col("o_totalprice").cast("decimal(18,2)").as("price")),
          b, "o_orderkey", 50))
      val (before, after, _) = graft.sources.SnapshotTable
        .compactCommit(s, dir, "o_orderkey", 5000L)
      graft.sources.SnapshotTable.read(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"))
        .withColumn("compacted", lit(after < before))
        .orderBy(col("o_orderstatus"))
    }),

    // VACUUM under the gate: version 1 appends every order, version 2
    // is a copy-on-write DELETE of the o_orderkey % 3 = 0 keys — every
    // range file holds such a key, so every v1 file is rewritten and
    // v2's snapshot lists none of them — then retention keepLast=1
    // drops v1's snapshot AND physically deletes its now-unreferenced
    // data files. The gated aggregate proves the retained snapshot
    // still reads exactly the complement (vacuum may only delete what
    // no retained snapshot lists), and the boolean pins that v2 is now
    // the oldest travelable version, a snapshot was dropped, and data
    // files were actually reclaimed — the retention trade every
    // lakehouse table format documents.
    "q_vacuum" -> ((s, d) => {
      val dir = rtDir("vac", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val t = s"$dir/t"
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.sources.SnapshotTable.commitAppend(base, t, "o_orderkey", 4)
      graft.sources.SnapshotTable.commitDelete(s, t, "o_orderkey",
        base.filter(col("o_orderkey") % 3 === 0), "o_orderkey")
      val (droppedSnapshots, reclaimedFiles) =
        graft.sources.SnapshotTable.vacuum(t, keepLast = 1)
      val held =
        graft.sources.SnapshotTable.oldestRetainedVersion(t).contains(2) &&
          droppedSnapshots > 0 && reclaimedFiles > 0
      graft.sources.SnapshotTable.read(s, t)
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_orderpriority").as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("n"),
          sum(col("k")).as("keysum"))
        .select(col("p").as("o_orderpriority"), col("n"), col("keysum"),
          lit(held).as("retention_held"))
        .orderBy(col("o_orderpriority"))
    }),

    // COST-BASED join reorder: catalog statistics (ANALYZE TABLE ...
    // FOR ALL COLUMNS) feed Catalyst's CBO, and a join chain WRITTEN
    // fact-first (orders >< customer >< nation) replans dimension-first
    // ((customer >< nation) >< orders — the smaller intermediate) once
    // spark.sql.cbo.joinReorder is on. At 100 TB, written join order
    // is a bug surface CBO erases: the optimizer, not the author,
    // owns the join tree. The result is materialized (localCheckpoint)
    // WHILE the CBO flags are set, then the flags restore — the gated
    // hash proves the reordered plan computes the same answer, and
    // PlanAuditSpec asserts the reorder itself happened on the
    // optimized plan tree.
    "q_join_cbo" -> ((s, d) => {
      val tag = Integer.toHexString(d.hashCode) +
        s"_p${ProcessHandle.current().pid}"
      val dir = rtDir("cbo", d)
      def save(df: DataFrame, name: String): String = {
        val t = s"graft_cbo_${name}_$tag"
        s.sql(s"DROP TABLE IF EXISTS $t") // idempotent re-register
        df.write.mode("overwrite").option("path", s"$dir/$name")
          .saveAsTable(t)
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
        t
      }
      val o = save(orders(s, d).select(col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price")), "orders")
      val c = save(customer(s, d)
        .select(col("c_custkey"), col("c_nationkey")), "customer")
      val n = save(nation(s, d)
        .select(col("n_nationkey"), col("n_name")), "nation")
      val cbo = "spark.sql.cbo.enabled"
      val jr = "spark.sql.cbo.joinReorder.enabled"
      val prevCbo = s.conf.get(cbo)
      val prevJr = s.conf.get(jr)
      try {
        s.conf.set(cbo, "true"); s.conf.set(jr, "true")
        s.table(o)
          .join(s.table(c), col("o_custkey") === col("c_custkey"))
          .join(s.table(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n"),
            sum(col("price")).cast("double").as("revenue"))
          .orderBy(col("n_name"))
          .localCheckpoint()
      } finally { s.conf.set(cbo, prevCbo); s.conf.set(jr, prevJr) }
    }),

    // SINGLE-PASS pipeline observability (the Observation API): the
    // production shape for row-level metrics at 100 TB — counters ride
    // the SAME scan as the real work instead of a second full pass
    // (an AggregatingAccumulator attached to the plan, merged on the
    // driver as tasks finish). The query runs ONE action over orders
    // (the filtered count a pipeline would actually compute) and emits
    // the piggybacked metrics next to that independently-computed
    // count; the oracle recomputes all of it with plain SQL, so a
    // metric that misses rows, double-counts under retries, or drifts
    // from the driving action's own answer fails the hash.
    "q_observe" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation(
        s"graft_obs_${drainSeq.incrementAndGet()}")
      val observed = orders(s, d).observe(obs,
        count(lit(1)).as("n_all"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0))
          .as("n_f"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      // the driving action: ONE pass, metrics piggyback on it
      val nF = observed.filter(col("o_orderstatus") === "F").count()
      val m = obs.get
      import s.implicits._
      Seq((m("n_all").asInstanceOf[Long], m("n_f").asInstanceOf[Long],
        m("min_key").asInstanceOf[Long], m("max_key").asInstanceOf[Long],
        nF))
        .toDF("n_all", "n_f", "min_key", "max_key", "n_f_rows")
    }),

    // TIME TRAVEL through the snapshot table's versioned snapshots:
    // two committed appends split orders on o_orderkey % 3, then BOTH
    // snapshots are read back — version 1 must see exactly the first
    // batch forever (its snapshot is immutable; later commits only add
    // snapshots), latest must see the union. The oracle recomputes both
    // per-priority aggregates from the raw table with the same split
    // predicate, so a versioned read that leaks a later file, drops a
    // committed one, or mangles a value fails the hash. This is the
    // query-level gate over the snapshot-isolation protocol
    // SnapshotTableSpec/EndToEndPipelineSpec prove at the file level.
    "q_time_travel" -> ((s, d) => {
      val dir = rtDir("ttr", d)
      // every commit adds a version: a re-run in this process must
      // start from a fresh table, not stack a third version
      deleteRecursive(java.nio.file.Paths.get(dir))
      val t = s"$dir/t"
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.sources.SnapshotTable.commitAppend(
        base.filter(col("o_orderkey") % 3 === 0), t, "o_orderkey", 4)
      graft.sources.SnapshotTable.commitAppend(
        base.filter(col("o_orderkey") % 3 =!= 0), t, "o_orderkey", 4)
      def snap(version: Option[Int]) =
        graft.sources.SnapshotTable.read(s, t, version)
          .select(col("o_orderkey").cast("long").as("k"),
            col("o_orderpriority").as("p"))
      val v1 = snap(Some(1)).groupBy(col("p"))
        .agg(count(lit(1)).as("n_v1"), sum(col("k")).as("keysum_v1"))
      val latest = snap(None).groupBy(col("p"))
        .agg(count(lit(1)).as("n_latest"),
          sum(col("k")).as("keysum_latest"))
      v1.join(latest, Seq("p"))
        .select(col("p").as("o_orderpriority"), col("n_v1"),
          col("keysum_v1"), col("n_latest"), col("keysum_latest"))
        .orderBy(col("o_orderpriority"))
    }),

    // ADDITIVE SCHEMA EVOLUTION on the snapshot table: v1 commits two
    // columns, v2 appends rows carrying a THIRD — the commit log
    // records each version's merged schema (earlier columns first), so
    // the latest read returns three columns with NULL day for the v1
    // files and a v1 time-travel read still returns exactly two.
    // Without an evolvable schema a lakehouse table can only add
    // columns by rewriting history — the one migration a 100 TB table
    // cannot afford. The oracle recomputes
    // the merged aggregate from the raw table (CASE arithmetic for
    // which half carries day) and pins the old-reader boolean.
    "q_schema_evolve" -> ((s, d) => {
      val dir = rtDir("sev", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val t = s"$dir/t"
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      graft.sources.SnapshotTable.commitAppend(
        base.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        t, "o_orderkey", 4)
      graft.sources.SnapshotTable.commitAppend(
        base.filter(col("o_orderkey") % 2 === 1), t, "o_orderkey", 4)
      val v1Cols = graft.sources.SnapshotTable.read(s, t, Some(1)).columns
      val latest = graft.sources.SnapshotTable.read(s, t)
      val unevolved = v1Cols.toSeq == Seq("o_orderkey", "o_orderstatus") &&
        latest.columns.toSeq == Seq("o_orderkey", "o_orderstatus", "day")
      latest.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), count(col("day")).as("n_day"),
          min(col("day")).as("first_day"))
        .withColumn("v1_unevolved", lit(unevolved))
        .orderBy(col("o_orderstatus"))
    }),

    // COPY-ON-WRITE MERGE on the snapshot table — the upsert commit
    // (SnapshotTable.commitMerge): rows of a change batch replace
    // same-key rows and new keys insert, by rewriting ONLY the files
    // that contain a matched key; every untouched file is carried into
    // the new snapshot by reference. Two commits range-clustered on
    // status concentrate the matched keys ('F' rows) in a file subset
    // (one cached build serves this gate and q_tx_merge_delete), so
    // the gated cow_subset boolean pins that the merge both carried
    // files AND replaced files — whole-table rewrite or no-op would
    // fail it — and old_intact pins that the pre-merge snapshot still
    // reads bit-identically (replaced files stay on disk for time
    // travel until vacuum). The oracle
    // recomputes the merged table from raw orders (updates as CASE
    // arithmetic, inserts as a mirrored union).
    "q_tx_merge" -> ((s, d) => {
      val dir = rtDir("txm", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val t = s"$dir/t"
      val base = orders(s, d).select(
        col("o_orderkey").cast("string").as("k"),
        col("o_orderstatus").as("status"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .cast("string").as("cents"))
      cachedPrologue("txbase", d, t) { b =>
        Seq(0, 1).foreach(par => graft.sources.SnapshotTable.commitAppend(
          base.filter(col("k").cast("long") % 2 === par), b, "status", 6))
      }
      val preVersion = graft.sources.SnapshotTable.latestVersion(t).get
      val fRows = base.filter(col("status") === "F")
      val changes = fRows.select(col("k"), col("status"),
          (col("cents").cast("long") + 100000).cast("string").as("cents"))
        .unionByName(fRows.select(
          (col("k").cast("long") + 10000000).cast("string").as("k"),
          lit("N").as("status"), col("cents")))
      val (replaced, carried, _) = graft.sources.SnapshotTable
        .commitMerge(s, t, changes, "k", "status")
      val cow = replaced > 0 && carried > 0
      // the pre-merge snapshot must still read exactly as committed
      def sig(df: DataFrame): (Long, Long, Long) = {
        val r = df.agg(count(lit(1)),
          sum(col("cents").cast("long")), sum(col("k").cast("long"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val oldIntact =
        sig(graft.sources.SnapshotTable.read(s, t, Some(preVersion))) ==
          sig(base)
      graft.sources.SnapshotTable.read(s, t).groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast("long")).as("sum_cents"),
          min(col("k").cast("long")).as("min_k"))
        .withColumn("cow_subset", lit(cow))
        .withColumn("old_intact", lit(oldIntact))
        .orderBy(col("status"))
    }),

    // The DELETE arm of COPY-ON-WRITE MERGE (WHEN MATCHED DELETE),
    // composed with the update/insert arms in ONE commit: even-keyed
    // 'F' rows are updated, odd-keyed 'F' rows are DELETED, and 'N'
    // inserts mirror the updates — all by rewriting only the files
    // that hold an 'F' key, with every O/P file carried by reference
    // (cow_subset pins both sides). old_intact pins delete-then-
    // travel: the pre-merge snapshot still reads bit-identically, so
    // the deleted rows remain reachable until vacuum — deletion
    // changes the LATEST view, never history. The oracle recomputes
    // the merged table from raw orders (deletes as a WHERE exclusion,
    // updates as CASE arithmetic, inserts as a mirrored union).
    "q_tx_merge_delete" -> ((s, d) => {
      val dir = rtDir("txd", d)
      deleteRecursive(java.nio.file.Paths.get(dir))
      val t = s"$dir/t"
      val base = orders(s, d).select(
        col("o_orderkey").cast("string").as("k"),
        col("o_orderstatus").as("status"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .cast("string").as("cents"))
      cachedPrologue("txbase", d, t) { b =>
        Seq(0, 1).foreach(par => graft.sources.SnapshotTable.commitAppend(
          base.filter(col("k").cast("long") % 2 === par), b, "status", 6))
      }
      val preVersion = graft.sources.SnapshotTable.latestVersion(t).get
      val fEven = base.filter(col("status") === "F" &&
        col("k").cast("long") % 2 === 0)
      val changes = fEven.select(col("k"), col("status"),
          (col("cents").cast("long") + 100000).cast("string").as("cents"))
        .unionByName(fEven.select(
          (col("k").cast("long") + 10000000).cast("string").as("k"),
          lit("N").as("status"), col("cents")))
      val deletes = base.filter(col("status") === "F" &&
        col("k").cast("long") % 2 === 1).select(col("k"))
      val (replaced, carried, _) = graft.sources.SnapshotTable
        .commitMerge(s, t, changes, "k", "status", Some(deletes))
      val cow = replaced > 0 && carried > 0
      def sig(df: DataFrame): (Long, Long, Long) = {
        val r = df.agg(count(lit(1)),
          sum(col("cents").cast("long")), sum(col("k").cast("long"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val oldIntact =
        sig(graft.sources.SnapshotTable.read(s, t, Some(preVersion))) ==
          sig(base)
      graft.sources.SnapshotTable.read(s, t).groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast("long")).as("sum_cents"),
          min(col("k").cast("long")).as("min_k"))
        .withColumn("cow_subset", lit(cow))
        .withColumn("old_intact", lit(oldIntact))
        .orderBy(col("status"))
    }),

    // JSON sink -> JSON source roundtrip (S6's format,
    // gmail_functions.py:127-129): same contract as q_csv_roundtrip but
    // through JSON lines with typed (non-string) number fields — the
    // price survives as a JSON decimal literal re-read under an explicit
    // DECIMAL(18,2) schema.
    "q_json_roundtrip" -> ((s, d) => {
      val dir = rtDir("json", d)
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .write.mode("overwrite").json(dir)
      s.read
        .schema("o_orderkey LONG, o_orderpriority STRING, price DECIMAL(18,2), day STRING")
        .json(dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("revenue"),
          min(col("o_orderkey")).as("min_key"),
          max(col("day")).as("last_day"))
        .orderBy(col("o_orderpriority"))
    }),

    // Declarative data-quality audit (ops.Quality, the expectations gate
    // every pipeline runs before publishing): five constraint kinds —
    // not-null, range, set-membership, uniqueness, referential integrity
    // — compile into a fixed small plan (one aggregate pass for all
    // row-local checks + one groupBy + one anti-join), regardless of
    // table size. Violations are synthesized deterministically by keyed
    // arithmetic so every check reports a non-zero, oracle-verifiable
    // count.
    "q_data_quality" -> ((s, d) => {
      val m = orders(s, d)
        .withColumn("o_custkey",
          when(col("o_orderkey") % 83 === 0, lit(null))
            .when(col("o_orderkey") % 79 === 0, col("o_custkey") + 1000000)
            .otherwise(col("o_custkey")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, lit(-1.0))
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 97 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      val audited = m.unionAll(m.filter(col("o_orderkey") % 101 === 0))
      graft.ops.Quality.audit(audited, Seq(
        graft.ops.Quality.NotNull("o_custkey"),
        graft.ops.Quality.InRange("o_totalprice", 0.0, 1000000.0),
        graft.ops.Quality.InSet("o_orderstatus", Seq("O", "F", "P")),
        graft.ops.Quality.Unique(Seq("o_orderkey")),
        graft.ops.Quality.RefIntegrity("o_custkey", customer(s, d),
          "c_custkey")))
    }),

    // Corrupt-record-tolerant JSON ingestion (the engine-grade form of
    // the reference's blanket try/except, gmail_functions.py:187-188):
    // a synthesized JSON-lines file where every 10th record is broken
    // is read in PERMISSIVE mode with a _corrupt_record column — bad
    // rows quarantine instead of killing the job or silently
    // disappearing. The corruption rule is keyed arithmetic, so the
    // oracle knows exactly which rows were bad and checks both the
    // quarantine count and that revenue aggregates ONLY good rows.
    "q_json_corrupt" -> ((s, d) => {
      val dir = rtDir("corrupt", d)
      orders(s, d)
        .select(
          when(col("o_orderkey") % 10 === 0,
            concat(lit("{\"o_orderkey\": "), col("o_orderkey"),
              lit(", \"price\": BROKEN")))
          .otherwise(to_json(struct(col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,2)").as("price"))))
          .as("value"))
        .write.mode("overwrite").text(dir)
      s.read
        .schema("o_orderkey LONG, price DECIMAL(18,2), _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .agg(
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
            .as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_bad"),
          sum(when(col("_corrupt_record").isNull, col("price")))
            .cast("double").as("revenue_good"))
    }),

    // Schema-evolution union (the reference's pandas union-of-keys
    // NaN-alignment, gmail_functions.py:305): frames with different
    // column sets align by NAME, absent cells become NULL.
    "q_union_evolve" -> ((s, d) => {
      val a = orders(s, d).filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val b = orders(s, d).filter(col("o_orderkey") % 7 === 1)
        .select(col("o_orderkey"), col("o_orderpriority"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    }),

    "q_intersect" -> ((s, d) => {
      val f = orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      val o = orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      f.intersect(o).orderBy(col("o_custkey"))
    }),

    "q_except" -> ((s, d) => {
      val f = orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      val o = orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      f.except(o).orderBy(col("o_custkey"))
    }),

    // ---- §2.10 T5: tumbling window (batch-side twin of the streaming agg).
    "q_stream_tumble" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "300 seconds").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("total_value"))
        .select(unix_timestamp(col("w.start")).as("bucket_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("bucket_start"), col("event_type")))
    ,

    // Explicit cartesian product (tiny x tiny — the one shape where a
    // cross join is legitimate; anything larger must be an equi-join).
    "q_cross_join" -> ((s, d) =>
      region(s, d).select(col("r_name"))
        .crossJoin(orders(s, d).select(col("o_orderpriority")).distinct())
        .orderBy(col("r_name"), col("o_orderpriority"))),

    // The STREAMING ENGINE itself under the oracle gate
    // (q_stream_tumble above is the semantics twin; this one actually
    // DRAINS the micro-batch engine): readStream over the events
    // parquet -> AvailableNow micro-batches through the stateful
    // streaming-aggregation operator (complete mode) -> memory sink ->
    // the final state hash-compares to DuckDB's batch answer. Complete
    // mode + AvailableNow makes the final table a pure function of the
    // data — no watermark dropping, no trigger timing in the result —
    // so a green row pins that the streaming path (offset tracking,
    // state store, partial-agg merge ACROSS micro-batches) computes
    // exactly the batch semantics. Each invocation starts a fresh
    // temporary checkpoint, so re-runs in one session re-drain from
    // scratch.
    "q_stream_drain" -> ((s, d) =>
      drainStream(
        eventsReadStream(s, d)
          .groupBy(window(col("ts"), "300 seconds").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), sumDec(col("value")).as("total_value")),
        "complete")
        .select(unix_timestamp(col("w.start")).as("bucket_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("bucket_start"), col("event_type"))),

    // The STATEFUL STREAMING DEDUP under the oracle gate — the
    // reference's one piece of persistent state (the never-expiring
    // seen-id table) in its streaming form (Streams.dedup / T2). The
    // events table is staged TWICE as two files and replayed one file
    // per micro-batch, so every row of batch 2 is a duplicate that only
    // the STATE STORE (carrying batch 1's keys across the batch
    // boundary) can drop — an in-batch dedup would pass trivially. The
    // watermark delay (35 days) covers the whole corpus span, so no
    // state is evicted and the drained output must equal the plain
    // batch table; at real volume the same operator runs with a tight
    // delay and bounded state. Duplicate rows are byte-identical, so
    // which copy survives is immaterial to the hash.
    "q_stream_dedup_drain" -> ((s, d) => {
      val ev = events(s, d)
      // dedup state tracks EVERY key (the 35-day watermark covers the
      // whole corpus span), so like the interval join its state
      // partition count is sized from the input, not the 8-partition
      // staged-replay floor — at 100x the fixed-8 layout serialized
      // 20 M keys of state-store commit through 8 instances (measured
      // exponent 0.98); input-sizing restores the parallel slack
      val nEvents = ev.count()
      val parts = math.max(8L, math.min(64L, nEvents / 62500L)).toInt
      val dir = java.nio.file.Files.createTempDirectory("graft_dedup_drain_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(ev, dir, "0_events.parquet", t0 - 60000)
        stageStreamFile(ev, dir, "1_events.parquet", t0 - 30000)
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        drainStreamFiles(
          graft.streaming.Streams.dedup(raw, "event_id",
            withinWatermark = Some(("ts", "35 days"))),
          rtDir("deddrain", d), statePartitions = parts)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .orderBy(col("event_id"))
      } finally deleteRecursive(dir)
    }),

    // The STATEFUL SESSIONIZATION under the oracle gate: drain
    // Streams.sessionize (flatMapGroupsWithState, event-time timeout)
    // over the events table and hash-compare the sealed sessions to the
    // batch gaps-and-islands answer (q_sessionize's oracle shape). Two
    // far-future sentinel files replay AFTER the data (one file per
    // micro-batch), pushing the watermark past every real session's
    // end + gap so the event-time TIMEOUT — not end-of-stream
    // special-casing — seals them all; the sentinels' own sessions can
    // never seal and are filtered out. A green row pins the state
    // machine's merge/seal/timeout semantics (including the micros
    // extents) to the batch definition of a session.
    "q_stream_session_drain" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      // bounded readout: one max over the corpus locates the sentinels
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      def sentinel(id: Long, us: Long) =
        s.range(1).select(lit(id).as("event_id"),
          timestamp_micros(lit(us)).as("ts"), lit(id).as("user_id"),
          lit("sentinel").as("event_type"), lit(0.0).as("value"))
      val gapUs = 1800L * 1000000L
      val dir = java.nio.file.Files.createTempDirectory("graft_sess_drain_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(ev, dir, "0_events.parquet", t0 - 90000)
        stageStreamFile(sentinel(-1L, maxUs + gapUs + 86400L * 1000000L),
          dir, "1_sentinel.parquet", t0 - 60000)
        stageStreamFile(sentinel(-2L, maxUs + gapUs + 2L * 86400L * 1000000L),
          dir, "2_sentinel.parquet", t0 - 30000)
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        drainStream(
          graft.streaming.Streams.sessionize(
            raw.as[graft.streaming.Streams.Event],
            gapSeconds = 1800, lateness = "10 seconds").toDF(),
          "append")
          .filter(col("user_id") >= 0)
          .select(col("user_id"),
            unix_micros(col("session_start")).as("session_start_us"),
            unix_micros(col("session_end")).as("session_end_us"),
            col("n_events"))
          .orderBy(col("user_id"), col("session_start_us"))
      } finally deleteRecursive(dir)
    }),

    // The STREAM-STREAM INTERVAL JOIN under the oracle gate: drain
    // Streams.intervalJoin (symmetric stateful join, watermark-bounded
    // state on both sides) with clicks as the right stream and every
    // event as the left, matching left rows inside [click_ts,
    // click_ts + 300 s] per user — and hash-compare the drained matches
    // to DuckDB's batch range join. Completes the stateful-operator
    // gating: aggregation (q_stream_drain), dedup, arbitrary state
    // (sessionize), and now join state all pin to batch answers.
    "q_stream_interval_drain" -> ((s, d) => {
      // the join's state volume tracks the full input (both sides keep
      // a watermark-bounded window of EVERY user), so its state
      // partition count is sized from the input rather than the
      // 8-partition floor the staged-replay drains use — at 100 TB
      // this is the table-stats-driven sizing a deployment automates
      val nEvents = events(s, d).count()
      val parts = math.max(8L, math.min(64L, nEvents / 62500L)).toInt
      val left = eventsReadStream(s, d)
        .select(col("event_id").as("l_id"), col("ts").as("l_ts"),
          col("user_id"))
      val right = eventsReadStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
          col("user_id"))
      drainStreamFiles(
        graft.streaming.Streams.intervalJoin(left, right, "user_id",
          "l_ts", "r_ts", windowSeconds = 300L),
        rtDir("ivdrain", d), statePartitions = parts)
        .select(col("l_id"), col("r_id"), col("user_id"),
          unix_micros(col("l_ts")).as("l_ts_us"),
          unix_micros(col("r_ts")).as("r_ts_us"))
        .orderBy(col("l_id"), col("r_id"))
    }),

    // WATERMARK LATE-DATA ACCOUNTING under the oracle gate: the one
    // streaming contract the other drains don't pin — that the engine
    // discards EXACTLY the late groups the watermark says it must, and
    // that its own meter (numRowsDroppedByWatermark, the number an
    // operations team alerts on) accounts for them. Replay order:
    // even-id events; a sentinel that RAISES the watermark to a
    // mid-corpus, ms-aligned, mid-second value (never tying a
    // whole-second window end); a second sentinel 1 ms later whose
    // batch END evicts (emits) every window below the watermark —
    // eviction, not the watermark value, is what makes later input
    // late; then the odd-id events, whose below-watermark windows are
    // now discarded. Two gated quantities: the drained window counts
    // must hold even-id rows ONLY (a leaked late row inflates a
    // count), and the meter must equal the DISTINCT discarded-window
    // count — for aggregation the engine drops post-partial-agg rows,
    // one per (window, map task), and the replay stages each batch as
    // ONE file under a pinned maxPartitionBytes, so partials == late
    // windows; partcheck validates the count is core-count-independent.
    "q_stream_late_drop" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"))
      val (mnUs, mxUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .as[(Long, Long)].head()
      val wmUs = ((mnUs + (mxUs - mnUs) / 2) / 1000000L) * 1000000L +
        500000L
      val dSec = (mxUs - mnUs) / 1000000L + 1L // delay > corpus span
      val s1 = wmUs + dSec * 1000000L          // sentinel > every real ts
      val a = ev.filter(col("event_id") % 2 === 0)
      val b = ev.filter(col("event_id") % 2 === 1)
      def sent(id: Long, us: Long) = s.range(1)
        .select(lit(id).as("event_id"),
          timestamp_micros(lit(us)).as("ts"),
          lit("sentinel").as("event_type"))
      val dir =
        java.nio.file.Files.createTempDirectory("graft_late_drop_")
      val mpb = "spark.sql.files.maxPartitionBytes"
      val prevMpb = s.conf.get(mpb)
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(a, dir, "0_events.parquet", t0 - 120000)
        stageStreamFile(sent(-1L, s1), dir, "1_sentinel.parquet",
          t0 - 90000)
        stageStreamFile(sent(-2L, s1 + 1000L), dir, "2_sentinel.parquet",
          t0 - 60000)
        stageStreamFile(b, dir, "3_events.parquet", t0 - 30000)
        s.conf.set(mpb, (1L << 30).toString) // one split per staged file
        val raw = s.readStream.schema(a.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        val (drained, dropped) = drainStreamDrops(
          raw.withWatermark("ts", s"$dSec seconds")
            .groupBy(window(col("ts"), "300 seconds").as("w"))
            .agg(count(lit(1)).as("n")),
          "append")
        drained
          .select(unix_timestamp(col("w.start")).as("bucket_start"),
            col("n"))
          .withColumn("n_late_windows", lit(dropped))
          .orderBy(col("bucket_start"))
      } finally {
        s.conf.set(mpb, prevMpb)
        deleteRecursive(dir)
      }
    }),

    // CHECKPOINTED RESTART under the oracle gate — the crash/resume
    // contract no other drain pins: the SAME windowed aggregation runs
    // as TWO AvailableNow queries sharing one checkpoint and one
    // parquet sink (the memory sink refuses recovery). Run 1 sees only
    // the first half of the timeline and STOPS — open windows live
    // only in the checkpointed state store; run 2 must (a) skip run
    // 1's file via the restored source offsets (a re-read would double
    // counts and fail the hash), (b) restore the watermark, and (c)
    // restore and EXTEND the open-window state, then seal everything
    // real via two far-future sentinel batches (sentinel windows never
    // seal, so they never reach the sink). The accumulated sink equals
    // the batch tumble answer — exactly-once across a restart, which
    // is the property a daily 100 TB ingestion job actually relies on.
    "q_stream_restore_drain" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      val mm = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
      val midUs = mnUs + (mxUs - mnUs) / 2
      def sentinel(id: Long, us: Long) =
        s.range(1).select(lit(id).as("event_id"),
          timestamp_micros(lit(us)).as("ts"), lit(id).as("user_id"),
          lit("sentinel").as("event_type"), lit(0.0).as("value"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_restore_drain_")
      try {
        val dir = root.resolve("data")
        java.nio.file.Files.createDirectories(dir)
        val (out, ck) = (s"$root/out", s"$root/ck")
        val t0 = System.currentTimeMillis()
        def drain(): Unit = drainStreamToParquet(
          s.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(dir.toString)
            .withWatermark("ts", "10 seconds")
            .groupBy(window(col("ts"), "300 seconds").as("w"),
              col("event_type"))
            .agg(count(lit(1)).as("n"),
              sumDec(col("value")).as("total_value")),
          out, ck)
        stageStreamFile(ev.filter(unix_micros(col("ts")) < midUs), dir,
          "0_events.parquet", t0 - 120000)
        drain() // run 1: stops with open windows only in the checkpoint
        stageStreamFile(ev.filter(unix_micros(col("ts")) >= midUs), dir,
          "1_events.parquet", t0 - 90000)
        stageStreamFile(sentinel(-1L, mxUs + 86400L * 1000000L), dir,
          "2_sentinel.parquet", t0 - 60000)
        stageStreamFile(sentinel(-2L, mxUs + 2L * 86400L * 1000000L), dir,
          "3_sentinel.parquet", t0 - 30000)
        drain() // run 2: restored offsets + watermark + state
        import org.apache.spark.sql.types._
        val sinkSchema = StructType(Seq(
          StructField("w", StructType(Seq(
            StructField("start", TimestampType),
            StructField("end", TimestampType)))),
          StructField("event_type", StringType),
          StructField("n", LongType),
          StructField("total_value", DoubleType)))
        s.read.schema(sinkSchema).parquet(out)
          // the trailing no-data batch applies the final watermark and
          // can seal sentinel-1's own window — drop the markers
          .filter(col("event_type") =!= "sentinel")
          .select(unix_timestamp(col("w.start")).as("bucket_start"),
            col("event_type"), col("n"), col("total_value"))
          .orderBy(col("bucket_start"), col("event_type"))
          .localCheckpoint()
      } finally deleteRecursive(root)
    }),

    // Per-key admission cap (Streams.capPerKey) under the oracle gate:
    // events replay as two id-split files (one per micro-batch, ids
    // ascending across files), so admissions in batch 2 must respect
    // the COUNTER state carried from batch 1 — the drained admissions
    // are then exactly the first `cap` events per type in global id
    // order, which is the batch row_number answer the oracle computes.
    "q_stream_cap_drain" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select(col("event_type"), col("event_id"))
      // bounded readout: the id split point for the two-file staging
      val mid = ev.agg(expr("percentile_approx(event_id, 0.5)"))
        .head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("graft_cap_drain_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(ev.filter(col("event_id") < mid), dir,
          "0_events.parquet", t0 - 60000)
        stageStreamFile(ev.filter(col("event_id") >= mid), dir,
          "1_events.parquet", t0 - 30000)
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        drainStream(
          graft.streaming.Streams.capPerKey(
            raw.select(col("event_type").as("_1"),
              col("event_id").as("_2")).as[(String, Long)],
            cap = 30).toDF(),
          "append")
          .select(col("key").as("event_type"), col("id").as("event_id"),
            col("seq"))
          .orderBy(col("event_type"), col("event_id"))
      } finally deleteRecursive(dir)
    }),

    // Per-key bounded leaderboard (Streams.topKPerKey) under the oracle
    // gate: same id-split two-batch replay, Update-mode drain keeps
    // every emission, and the FINAL leaderboard per key is the
    // max-n_seen row (the counter is strictly increasing). k-truncated
    // merge is associative, so the drained final state must equal the
    // batch top-5 by (value desc, event_id) — a lost or mis-merged
    // cross-batch displacement shows as a hash mismatch.
    "q_stream_topk_drain" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select(col("event_type"), col("event_id"),
        col("value"))
      val mid = ev.agg(expr("percentile_approx(event_id, 0.5)"))
        .head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("graft_topk_drain_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(ev.filter(col("event_id") < mid), dir,
          "0_events.parquet", t0 - 60000)
        stageStreamFile(ev.filter(col("event_id") >= mid), dir,
          "1_events.parquet", t0 - 30000)
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        val drained = drainStream(
          graft.streaming.Streams.topKPerKey(
            raw.select(col("event_type").as("_1"), col("event_id").as("_2"),
              col("value").as("_3")).as[(String, Long, Double)],
            k = 5).toDF(),
          "update")
        val wFinal = Window.partitionBy(col("key"))
        drained
          .withColumn("_mx", max(col("n_seen")).over(wFinal))
          .filter(col("n_seen") === col("_mx"))
          .select(col("key").as("event_type"),
            posexplode(arrays_zip(col("ids"), col("scores"))))
          .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
            col("col.ids").as("event_id"), col("col.scores").as("value"))
          .orderBy(col("event_type"), col("rn"))
      } finally deleteRecursive(dir)
    }),

    // Running per-key profile (Streams.userProfiles, mapGroupsWithState
    // Update mode) under the oracle gate: the staged replay quantizes
    // value to floor(value*100) — an INTEGER-valued double, so the
    // streaming fold order and the oracle's SUM are bit-identical
    // (double addition of integers is associative below 2^53; raw
    // doubles would make the fold order observable). Final profile per
    // user = max-n_events emission; must equal the batch
    // count/sum/max(ts) aggregate.
    "q_stream_profile_drain" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"),
        floor(col("value") * 100).cast("double").as("value"))
      val mid = ev.agg(expr("percentile_approx(event_id, 0.5)"))
        .head().getLong(0)
      val dir = java.nio.file.Files.createTempDirectory("graft_prof_drain_")
      try {
        val t0 = System.currentTimeMillis()
        stageStreamFile(ev.filter(col("event_id") < mid), dir,
          "0_events.parquet", t0 - 60000)
        stageStreamFile(ev.filter(col("event_id") >= mid), dir,
          "1_events.parquet", t0 - 30000)
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        val drained = drainStream(
          graft.streaming.Streams.userProfiles(
            raw.as[graft.streaming.Streams.Event]).toDF(),
          "update")
        val wFinal = Window.partitionBy(col("user_id"))
        drained
          .withColumn("_mx", max(col("n_events")).over(wFinal))
          .filter(col("n_events") === col("_mx"))
          .select(col("user_id"), col("n_events"), col("total_value"),
            unix_micros(col("last_seen")).as("last_seen_us"))
          .orderBy(col("user_id"))
      } finally deleteRecursive(dir)
    }),

    // Sliding windows (batch twin of the streaming hop): each event
    // lands in size/slide = 2 buckets — the fan-out is a map-side
    // generator, then one agg shuffle, same as tumbling.
    "q_stream_slide" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "600 seconds", "300 seconds").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("total_value"))
        .select(unix_timestamp(col("w.start")).as("bucket_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("bucket_start"), col("event_type"))),

    // Salted equi-join (ops.Skew), oracle-checked against the PLAIN
    // join: salting must be a pure physical rewrite — identical result,
    // hot keys spread over numSalts reducers.
    // Bloom-pruned semi join (the scale form of the reference's seen-id
    // probe when the state side is too big to broadcast): build a bloom
    // sketch over the small side's keys (distributed agg — only the
    // KB-scale sketch leaves the executors, via a scalar subquery),
    // prefilter the big side BEFORE its shuffle, then run the exact
    // semi join on the ~surviving rows. False positives are removed by
    // the exact join, so the result is identical to the plain semi join
    // (which is exactly what the oracle runs) — the bloom only cuts
    // shuffle volume, here ~4x, proportionally more the rarer the keys.
    // Uses Spark's own runtime-filter expressions, registered as
    // bloom_agg / bloom_contains (functions.BloomExprs).
    "q_join_bloom" -> ((s, d) => {
      graft.functions.BloomExprs.ensureRegistered()
      orders(s, d).createOrReplaceTempView("orders")
      lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        """WITH sel AS (
          |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
          |cand AS (
          |  SELECT l_orderkey, l_quantity FROM lineitem
          |  WHERE bloom_contains(
          |    (SELECT bloom_agg(xxhash64(o_orderkey), 20000L, 160000L)
          |     FROM sel),
          |    xxhash64(l_orderkey)))
          |SELECT c.l_orderkey AS orderkey, count(*) AS n_lines,
          |  CAST(SUM(CAST(c.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty
          |FROM cand c
          |WHERE EXISTS (SELECT 1 FROM sel s WHERE s.o_orderkey = c.l_orderkey)
          |GROUP BY c.l_orderkey
          |ORDER BY orderkey""".stripMargin)
    }),

    "q_join_salted" -> ((s, d) => {
      val big = orders(s, d).select(col("o_custkey"), col("o_totalprice"))
      val small = customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Skew.saltedEquiJoin(big, small, "o_custkey", numSalts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sumDec(col("o_totalprice")).as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // NULL-handling scalars over synthesized nulls (the corpus tables
    // are fully populated, so nullability is injected deterministically).
    "q_null_funcs" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_orderpriority"))
            .as("p_n"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice")).as("v_n"))
        .select(col("o_orderkey"),
          coalesce(col("p_n"), lit("none")).as("p_or_default"),
          nullif(col("p_n"), lit("1-URGENT")).as("p_nullif"),
          col("p_n").isNull.as("is_missing"),
          coalesce(col("v_n"), lit(0.0)).as("v_or_zero"))
        .orderBy(col("o_orderkey"))),

    // Statistical mode per group with a deterministic tie-break
    // (arrival-order "mode()" builtins are not reproducible; rank on
    // (count DESC, value) is).
    "q_agg_mode" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("n").desc, col("o_orderpriority"))
      orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("n").as("mode_n"))
        .orderBy(col("o_orderstatus"))
    }),

    // IQR outlier rule composed from the sort-based exact quantiles:
    // per-group fences (q1 - 1.5*IQR, q3 + 1.5*IQR) broadcast back onto
    // the fact scan — the standard robust-statistics filter at scale.
    "q_outlier_iqr" -> ((s, d) => {
      val li = lineitem(s, d)
      // 3 groups only: the range-partitioned quantile shape, whose
      // parallelism does not cap at the group count (see
      // exactQuantilesRanged); the fences stay broadcast-sized. The
      // rank core is the memoized one q_winsorize also consumes.
      val fences = quantilesFromCore(lineitemPriceCore(s, d),
        Seq("l_returnflag"), "l_extendedprice",
        Seq(0.25 -> "q1", 0.75 -> "q3"), disc = false)
        .select(col("l_returnflag"),
          (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
          (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
      li.join(broadcast(fences), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("lo") ||
            col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("l_returnflag"))
    }),

    // Winsorized aggregate: clip the tails at per-group p05/p95 (from
    // the range-partitioned exact-quantile pipeline) instead of
    // dropping them — the robust mean when outliers are real data. The
    // fences broadcast, the clip is map-side, and the sum is
    // decimal-exact so the result is addition-order-free.
    "q_winsorize" -> ((s, d) => {
      val li = lineitem(s, d)
      val fences = quantilesFromCore(lineitemPriceCore(s, d),
        Seq("l_returnflag"), "l_extendedprice",
        Seq(0.05 -> "lo", 0.95 -> "hi"), disc = false)
      li.join(broadcast(fences), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          greatest(col("lo"), least(col("hi"), col("l_extendedprice")))
            .as("w"),
          (col("l_extendedprice") < col("lo")).cast("long").as("clip_lo"),
          (col("l_extendedprice") > col("hi")).cast("long").as("clip_hi"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("clip_lo")).as("n_clip_lo"),
          sum(col("clip_hi")).as("n_clip_hi"),
          // the sum is decimal-exact; only the FINAL value becomes a
          // double (13 sig digits -> one correctly-rounded conversion on
          // both engines). A decimal OUTPUT column would be the suite's
          // only one and hash-diverges: pyarrow renders Decimal
          // '...495000' where DuckDB's pandas path renders '...495'.
          sum(col("w").cast("decimal(18,6)")).cast("double")
            .as("w_sum"))
        .orderBy(col("l_returnflag"))
    }),

    // Weighted moving average (EWMA-style smoothing with a finite
    // kernel): weights 8/4/2/1 over the last four samples. NOT a frame
    // SUM — four explicit lag() terms combine in decimal-exact
    // arithmetic with one final division, so there is no
    // summation-order freedom for engines to disagree over (a frame
    // aggregate's internal order is unspecified; four named terms have
    // exactly one evaluation). Ramp-up rows (fewer than 4 samples)
    // renormalize over the weights actually present.
    "q_wma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      def dv(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
      val x0 = dv(col("value"))
      val x1 = dv(lag(col("value"), 1).over(w))
      val x2 = dv(lag(col("value"), 2).over(w))
      val x3 = dv(lag(col("value"), 3).over(w))
      val num = (x0 * 8) +
        coalesce(x1 * 4, lit(0).cast("decimal(18,2)")) +
        coalesce(x2 * 2, lit(0).cast("decimal(18,2)")) +
        coalesce(x3 * 1, lit(0).cast("decimal(18,2)"))
      val den = lit(8) + when(x1.isNotNull, 4).otherwise(0) +
        when(x2.isNotNull, 2).otherwise(0) +
        when(x3.isNotNull, 1).otherwise(0)
      events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          round(num.cast("double") / den, 6).as("wma"))
        .orderBy(col("event_id"))
    }),

    // Period-over-period change (the daily-revenue BI readout): lag over
    // the DAILY rollup — a bounded-by-the-calendar relation, so the
    // unpartitioned window sorts days, never orders, exactly like the
    // date-spine. Numerator stays decimal-exact; the division happens
    // once, in doubles, identically on both engines.
    "q_period_change" -> ((s, d) => {
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      val w = Window.orderBy(col("day"))
      daily.withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("day"), col("rev").cast("double").as("rev"),
          round((col("rev") - col("prev")).cast("double") /
            col("prev").cast("double") * 100, 6).as("pct_change"))
        .orderBy(col("day"))
    }),

    // Z-score anomaly gate from exact moments: per-type mean/std built
    // on decimal-exact (count, sum, sum-of-squares) — the same
    // composable state as q_agg_stats — broadcast back onto the scan,
    // flag |value - mean| > 2*std. The moments relation is group-sized,
    // the flagging pass is map-side; round-6 anchors on mean/std keep
    // the comparison engine-portable.
    "q_anomaly_zscore" -> ((s, d) => {
      val e = events(s, d)
      val m = e.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("s1"),
          sum(dec(col("value")) * dec(col("value"))).cast("double").as("s2"))
        .select(col("event_type"),
          round(col("s1") / col("n"), 6).as("mean_v"),
          round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1)), 6).as("std_v"))
      e.join(broadcast(m), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("value") - col("mean_v")) >
            lit(2.0) * col("std_v"), 1L).otherwise(0L)).as("n_anomalies"),
          min(col("mean_v")).as("mean_v"), min(col("std_v")).as("std_v"))
        .orderBy(col("event_type"))
    }),

    // Approximate quantile by deterministic hash-sampling: the estimate
    // is the EXACT quantile of a reproducible 10% sample, so — like the
    // KMV and count-min sketches — an approximate algorithm gets an
    // exact oracle. At 100 TB the sample bounds the sort to a tenth of
    // the data while every engine and every partitioning reproduces the
    // identical estimate.
    "q_quantile_sample" -> ((s, d) => {
      val sample = orders(s, d).filter(
        graft.ext.TextOps.hash31(col("o_orderkey").cast("string"))
          % 100 < 10)
      exactQuantilesBy(sample, Seq("o_orderstatus"), "o_totalprice",
        Seq(0.5 -> "med_sample"))
        .orderBy(col("o_orderstatus"))
    }),

    // Equi-depth histogram straight off the ranged-rank core: bucket =
    // floor(rank * NB / n). Tie order between equal values is
    // arbitrary, but bucket CONTENTS are fixed by sorted position, so
    // counts and min/max per bucket are deterministic. The fixed-width
    // q_histogram shows the other shape; equi-depth is what optimizers
    // and drift monitors actually want (every bucket equally populated).
    "q_histogram_eqdepth" -> ((s, d) =>
      rankedRanged(lineitem(s, d), Seq("l_returnflag"), "l_extendedprice")
        .withColumn("bucket",
          floor(col("_rn") * lit(8.0) / col("_n")).cast("long"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .orderBy(col("l_returnflag"), col("bucket"))),

    // Discrete quantiles (value-at-rank, no interpolation) through the
    // same range-partitioned rank core as the continuous variants —
    // two groups, so the group-partitioned sort would cap at two tasks.
    "q_quantile_disc" -> ((s, d) =>
      discQuantilesRanged(lineitem(s, d), Seq("l_linestatus"),
        "l_quantity", Seq(0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90"))
        .orderBy(col("l_linestatus"))),

    // The SKETCH quantile path (GK/KLL-class): percentile_approx is one
    // pass with fixed memory per group — at 100 TB this is the profile
    // pipeline's quantile, with the exact ranged-rank core reserved for
    // queries that need value-exactness. Like q_agg_approx, the emitted
    // row is the GUARANTEE, not the estimate: the returned value's exact
    // rank must sit within eps*n of the target rank (eps = 1/accuracy;
    // +1 absorbs the rank-definition boundary). The rank check joins the
    // 9-row sketch readout back as a broadcast and scans once with
    // conditional sums — the second scan exists only to put the sketch
    // under the oracle; production emits the sketch pass alone. The
    // DuckDB twin recomputes the boolean from exact ranks (TRUE), so the
    // hash matches iff the sketch honored its rank contract — which also
    // makes the output partitioning-independent even though GK merge
    // order is not.
    "q_quantile_approx" -> ((s, d) => {
      val acc = 1000 // real sketch regime at sf0.1 (200 k rows/group)
      val li = lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("x"))
      val sk = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("x"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(acc)).as("vs"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("n_rows"),
          posexplode(col("vs")))
        .select(col("l_returnflag"), col("n_rows"),
          ((col("pos") + 1) * lit(0.25)).as("q"), col("col").as("v"))
      val slack = col("n_rows").cast("double") / lit(acc.toDouble) + lit(1.0)
      val target = col("q") * col("n_rows").cast("double")
      li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("q"), col("n_rows"))
        .agg(sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("x") <= col("v"), 1L).otherwise(0L)).as("le"))
        .select(col("l_returnflag"), col("q"), col("n_rows"),
          (col("lt").cast("double") <= target + slack &&
            col("le").cast("double") >= target - slack).as("within_bound"))
        .orderBy(col("l_returnflag"), col("q"))
    }),

    // Linear interpolation of missing samples (the resample/repair step
    // of every sensor/metrics pipeline): anchor each gap on the nearest
    // non-null neighbors by window position and blend by distance. One
    // shuffle on user_id; all four anchor lookups ride the SAME sort.
    // The blend is pure IEEE arithmetic (+,-,*,/ are correctly rounded)
    // evaluated in the identical order on both engines.
    "q_interpolate" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = w.rowsBetween(1, Window.unboundedFollowing)
      events(s, d)
        .withColumn("v", when(col("event_id") % 5 =!= 0, col("value")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("prev_v", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("prev_rn",
          last(when(col("v").isNotNull, col("rn")), ignoreNulls = true)
            .over(wPrev))
        .withColumn("next_v", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("next_rn",
          first(when(col("v").isNotNull, col("rn")), ignoreNulls = true)
            .over(wNext))
        .select(col("event_id"), col("v").as("v_sparse"),
          round(when(col("v").isNotNull, col("v"))
            .when(col("prev_v").isNull, col("next_v"))
            .when(col("next_v").isNull, col("prev_v"))
            .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
              (col("rn") - col("prev_rn")).cast("double") /
              (col("next_rn") - col("prev_rn")).cast("double")), 6)
            .as("v_interp"))
        .orderBy(col("event_id"))
    }),

    // KMV (k-minimum-values) cardinality sketch: distinct-count
    // estimate from the k smallest portable hashes per group. Unlike
    // HLL (engine-private hashing), the KMV estimate is a pure function
    // of the data — BOTH engines compute the identical sketch AND
    // estimate, so an approximate algorithm gets an EXACT oracle. At
    // scale: per-group state is k longs; merge = k-way min-merge.
    "q_agg_kmv" -> ((s, d) => {
      val k = 64
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("h"))
      val mins = orders(s, d)
        .select(col("o_orderstatus"),
          graft.ext.TextOps.hash31(col("o_custkey").cast("string")).as("h"))
        .distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
      mins.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_mins"), max(col("h")).as("kth"))
        .select(col("o_orderstatus"),
          when(col("n_mins") < k, col("n_mins"))
            .otherwise(floor(lit((k - 1).toDouble) * 2147483647.0 / col("kth")))
            .cast("long").as("est_distinct"))
        .orderBy(col("o_orderstatus"))
    }),

    // CDC log compaction (keep-latest-per-key): the other half of the
    // upsert story — collapse an event log to current state by recency
    // rank. One shuffle on the key; bounded output regardless of log
    // length.
    "q_compact_latest" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("latest_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ in the parquet; the session is
          // pinned UTC, so the cast matches DuckDB's naive epoch_us
          unix_micros(col("o_orderdate").cast("timestamp"))
            .as("latest_date_us"),
          col("o_totalprice").as("latest_price"))
        .orderBy(col("o_custkey"))
    }),

    // CDC-style upsert (MERGE INTO semantics as a pure query): new rows
    // win on key collision, unmatched old rows survive — the full-outer
    // coalesce every incremental state rebuild runs. One co-partitioned
    // shuffle join at any scale.
    "q_upsert" -> ((s, d) => {
      val base = customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val updates = base.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), concat(col("c_name"), lit("*")).as("u_name"),
          (dec(col("c_acctbal")) + 100).cast("double").as("u_acctbal"))
      base.join(updates, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          coalesce(col("u_name"), col("c_name")).as("name"),
          coalesce(col("u_acctbal"), col("c_acctbal")).as("acctbal"),
          when(col("u_name").isNotNull, "updated").otherwise("kept")
            .as("action"))
        .orderBy(col("c_custkey"))
    }),

    // Explicit GROUPING SETS (the general form rollup/cube specialize):
    // one shuffle produces all four grouping combinations; grouping()
    // flags disambiguate a NULL key from a rolled-up one.
    "q_grouping_sets" -> ((s, d) =>
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          count(lit(1)).as("n"),
          sumDec(col("l_quantity")).as("sum_qty"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag"), col("l_linestatus"))),

    // Correlated (NOT) EXISTS — ONE ANSI string through both engines
    // (Catalyst decorrelates to semi/anti joins; no per-row subquery).
    "q_exists_sub" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("customer")
      orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlExists)
    }),

    // Correlated scalar subquery (decorrelates to an outer join + agg).
    "q_scalar_sub" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders")
      lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(SqlScalarSub)
    }),

    // Ordered string aggregation (listagg): deterministic via the sorted
    // collect — never depend on arrival order of a distributed agg.
    "q_string_agg" -> ((s, d) =>
      nation(s, d)
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy(col("r_name"))),

    // Correlation/covariance from EXACT decimal moments: the one-pass
    // builtin corr/covar_samp accumulate doubles in partition order and
    // are not reproducible across engines; five exact sums are.
    "q_corr" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sx"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sy"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity")))
            .cast("double").as("sxx"),
          sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice")))
            .cast("double").as("syy"),
          sum(dec(col("l_quantity")) * dec(col("l_extendedprice")))
            .cast("double").as("sxy"))
        .select(col("l_returnflag"),
          col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qp"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 6)
            .as("covar_pop_qp"))
        .orderBy(col("l_returnflag"))),

    // Fixed-width histogram: pure map-side bucketing + one agg shuffle.
    "q_histogram" -> ((s, d) =>
      orders(s, d)
        .groupBy(least(floor(col("o_totalprice") / 60000).cast("long"), lit(9L))
          .as("bucket"))
        .agg(count(lit(1)).as("n"),
          sumDec(col("o_totalprice")).as("sum_price"))
        .orderBy(col("bucket"))),

    // Two-stage event funnel: signup -> first later purchase, per user.
    // Both stages are per-user aggs sharing the user_id shuffle key.
    "q_funnel" -> ((s, d) => {
      val ev = events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
      val conv = ev.select(col("user_id"), col("event_type"), col("ts"))
        .join(su, Seq("user_id"))
        .filter(col("event_type") === "purchase" && col("ts") > col("t_signup"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_conv"))
      su.agg(count(lit(1)).as("n_signup"))
        .crossJoin(conv.agg(count(lit(1)).as("n_converted")))
        .select(col("n_signup"), col("n_converted"),
          round(col("n_converted").cast("double") / col("n_signup"), 6)
            .as("conv_rate"))
    }),

    // Weekly cohort retention: cohort = week of a user's first event;
    // activity re-keyed by weeks-since-cohort. Two shuffles (user, then
    // cohort-week) — the user-level first-event agg co-partitions with
    // the activity join so the fact table shuffles once.
    "q_retention" -> ((s, d) => {
      val ev = events(s, d)
      val fe = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"),
          date_trunc("week", col("first_ts")).cast("date").as("cohort"))
      ev.select(col("user_id"), col("ts")).join(fe, Seq("user_id"))
        .select(col("cohort"),
          floor(datediff(col("ts").cast("date"), col("cohort")) / 7)
            .cast("long").as("week_n"),
          col("user_id"))
        .groupBy(col("cohort"), col("week_n"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("week_n"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,

    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net_price,
        |  lower(l_linestatus) AS status
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30
        |ORDER BY l_orderkey, l_linenumber, net_price, status""".stripMargin,

    "q_case_when" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urgent
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_limit" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,

    "q_join_nullsafe" ->
      """WITH a AS (SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |      ELSE o_custkey % 50 END AS k, count(*) AS n_ord
        |    FROM orders GROUP BY 1),
        |b AS (SELECT CASE WHEN c_custkey % 13 = 0 THEN NULL
        |      ELSE c_custkey % 50 END AS k, count(*) AS n_cust
        |    FROM customer GROUP BY 1)
        |SELECT a.k, a.n_ord, b.n_cust
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY a.k NULLS FIRST""".stripMargin,

    // The oracle states the skyline DEFINITION (no dominating row
    // exists) rather than mirroring the engine's grid-prune plan — the
    // strongest possible check that the pruned algorithm is equivalent.
    "q_skyline" ->
      """WITH cust AS (SELECT o_custkey, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.o_custkey, c.n_orders,
        |  CAST(c.spend AS DOUBLE) AS spend
        |FROM cust c
        |WHERE NOT EXISTS (SELECT 1 FROM cust o
        |  WHERE o.n_orders >= c.n_orders AND o.spend >= c.spend
        |    AND (o.n_orders > c.n_orders OR o.spend > c.spend))
        |ORDER BY c.o_custkey""".stripMargin,

    "q_agg_salted" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "q_join_outer" ->
      """SELECT c_custkey, c_name,
        |  COALESCE(n, 0) AS n_orders, COALESCE(sp, 0.0) AS spent
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |  FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_join_range" ->
      """SELECT e1.user_id, e1.event_id AS a_id, e2.event_id AS b_id,
        |  epoch_us(e2.ts) - epoch_us(e1.ts) AS gap_us
        |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
        |  AND epoch_us(e2.ts) > epoch_us(e1.ts)
        |  AND epoch_us(e2.ts) - epoch_us(e1.ts) <= 3600000000
        |ORDER BY a_id, b_id""".stripMargin,

    "q_join_asof" ->
      """WITH p AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS p_value,
        |    max(event_id) AS p_event_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  p.p_event_id, round(p.p_value, 6) AS p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_join_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS p_value,
        |    max(event_id) AS p_event_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
        |    THEN p.p_event_id END AS p_event_id,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
        |    THEN round(p.p_value, 6) END AS p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_join_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS p_value,
        |    max(event_id) AS p_event_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  p.p_event_id, round(p.p_value, 6) AS p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_join_asof_bucketed" ->
      """WITH p AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS p_value,
        |    max(event_id) AS p_event_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  p.p_event_id, round(p.p_value, 6) AS p_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_join_asof_native" ->
      """WITH p AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS p_value,
        |    max(event_id) AS p_event_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
        |  p.p_event_id, round(p.p_value, 6) AS p_value
        |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_sql_q3" -> SqlQ3,
    "q_sql_recursive" -> SqlRecursive,
    "q_sql_window" -> SqlWindow,
    "q_sql_lateral" -> SqlLateral,
    "q_sql_filter_agg" -> SqlFilterAgg,

    "q_join_multi" ->
      """SELECT n_name, p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_size > 30
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, p_brand ORDER BY n_name, p_brand""".stripMargin,

    "q_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_count" ->
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_custkey) AS n_cust,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag, n, round(s1 / n, 6) AS mean_qty,
        |  round((s2 - s1 * s1 / n) / (n - 1), 6) AS var_qty,
        |  round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS std_qty
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q_agg_merge" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*), 6) AS avg_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_ab_test" ->
      """WITH a AS (
        |  SELECT variant, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) *
        |      CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM (SELECT CASE WHEN
        |      (('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |        ::BIGINT & 2147483647) % 2 = 0
        |      THEN 'A' ELSE 'B' END AS variant, value
        |    FROM events)
        |  GROUP BY variant),
        |w AS (SELECT
        |    min(CASE WHEN variant = 'A' THEN n END) AS n_a,
        |    min(CASE WHEN variant = 'A' THEN s1 END) AS s1_a,
        |    min(CASE WHEN variant = 'A' THEN s2 END) AS s2_a,
        |    min(CASE WHEN variant = 'B' THEN n END) AS n_b,
        |    min(CASE WHEN variant = 'B' THEN s1 END) AS s1_b,
        |    min(CASE WHEN variant = 'B' THEN s2 END) AS s2_b
        |  FROM a)
        |SELECT n_a, n_b,
        |  round(s1_a / n_a, 6) AS mean_a,
        |  round(s1_b / n_b, 6) AS mean_b,
        |  round((s2_a - s1_a * s1_a / n_a) / (n_a - 1), 6) AS var_a,
        |  round((s2_b - s1_b * s1_b / n_b) / (n_b - 1), 6) AS var_b,
        |  round((s1_a / n_a - s1_b / n_b) /
        |    sqrt(((s2_a - s1_a * s1_a / n_a) / (n_a - 1)) / n_a +
        |         ((s2_b - s1_b * s1_b / n_b) / (n_b - 1)) / n_b), 6)
        |    AS t_welch
        |FROM w""".stripMargin,

    "q_agg_median" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_unpivot" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |    l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount' AS metric,
        |    l_discount AS value FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (o_orderstatus = 'F') AS "F",
        |  COUNT(*) FILTER (o_orderstatus = 'O') AS "O",
        |  COUNT(*) FILTER (o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_window_dist" ->
      """SELECT event_id,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    // q_agg_approx emits the sketch's 3-sigma bound check, not the
    // engine-private estimate; the twin recomputes the boolean from
    // exact counts, so the hash pins "the HLL estimate is in-bound".
    "q_agg_approx" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        |  count(DISTINCT c_nationkey) AS n_nations_exact,
        |  TRUE AS within_bound
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_agg_topk_group" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY rn)
        |    AS top_orders
        |FROM r WHERE rn <= 3 GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q_collect_join" ->
      """SELECT l_orderkey,
        |  string_agg(CAST(l_linenumber AS VARCHAR), ','
        |    ORDER BY CAST(l_linenumber AS VARCHAR)) AS lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q_transitions" ->
      """WITH b AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM (SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type,
        |      event_type AS to_type FROM events)
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
        |  FROM b GROUP BY 1)
        |SELECT b.from_type, b.to_type, b.n,
        |  round(CAST(b.n AS DOUBLE) / CAST(t.row_total AS DOUBLE), 6) AS p
        |FROM b JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    "q_dedup_rolling" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |FROM (SELECT event_id, user_id, event_type, ts,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > 300000000
        |ORDER BY event_id""".stripMargin,

    "q_share" ->
      """WITH per AS (SELECT o_orderpriority,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS t
        |  FROM orders GROUP BY 1),
        |g AS (SELECT SUM(t) AS g FROM per)
        |SELECT o_orderpriority, CAST(t AS DOUBLE) AS total,
        |  round(CAST(t AS DOUBLE) / CAST(g AS DOUBLE), 6) AS share
        |FROM per, g ORDER BY o_orderpriority""".stripMargin,

    "q_scd2" ->
      """WITH c AS (
        |  SELECT user_id, event_type AS state, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |v AS (
        |  SELECT user_id, state, epoch_us(ts) AS valid_from_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS valid_to_us
        |  FROM c WHERE prev IS NULL OR prev <> state)
        |SELECT user_id, state, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM v
        |ORDER BY user_id, valid_from_us, valid_to_us, state""".stripMargin,

    "q_fill_forward" ->
      """SELECT event_id, v_sparse,
        |  last_value(v_sparse IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM (SELECT user_id, ts, event_id,
        |    CASE WHEN event_id % 7 <> 0 THEN value END AS v_sparse
        |  FROM events)
        |ORDER BY event_id""".stripMargin,

    "q_profile" ->
      """WITH a AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_s,
        |    count(DISTINCT o_orderstatus) AS nd_s,
        |    min(o_orderstatus) AS mn_s, max(o_orderstatus) AS mx_s,
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_p,
        |    count(DISTINCT o_orderpriority) AS nd_p,
        |    min(o_orderpriority) AS mn_p, max(o_orderpriority) AS mx_p,
        |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_t,
        |    count(DISTINCT o_totalprice) AS nd_t,
        |    CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS mn_t,
        |    CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS mx_t
        |  FROM orders)
        |SELECT 'o_orderstatus' AS col_name, n, nn_s AS n_null,
        |  nd_s AS n_distinct, mn_s AS min_v, mx_s AS max_v FROM a
        |UNION ALL
        |SELECT 'o_orderpriority', n, nn_p, nd_p, mn_p, mx_p FROM a
        |UNION ALL
        |SELECT 'o_totalprice', n, nn_t, nd_t, mn_t, mx_t FROM a
        |ORDER BY col_name""".stripMargin,

    "q_date_spine" ->
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
        |    CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
        |spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
        |    AS DATE) AS day FROM b),
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value
        |  FROM orders GROUP BY 1)
        |SELECT s.day, coalesce(d.n_orders, 0) AS n_orders,
        |  coalesce(d.total_value, 0.0) AS total_value
        |FROM spine s LEFT JOIN daily d USING (day)
        |ORDER BY day""".stripMargin,

    "q_window_rank" ->
      """SELECT event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  rank() OVER (PARTITION BY user_id ORDER BY event_type) AS rk,
        |  dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS drk
        |FROM events ORDER BY event_id""".stripMargin,

    "q_window_frame" ->
      """SELECT event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_window_range" ->
      """SELECT event_id,
        |  COUNT(*) OVER w AS n_hour,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS hour_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_join_bloom" ->
      """WITH sel AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT l_orderkey AS orderkey, count(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM sel)
        |GROUP BY 1
        |ORDER BY orderkey""".stripMargin,

    "q_window_lag" ->
      """SELECT event_id,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_union" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, 'hi' AS tag FROM customer WHERE c_acctbal > 9000
        |  UNION ALL
        |  SELECT c_custkey, c_name, 'lo' AS tag FROM customer WHERE c_acctbal < 100)
        |ORDER BY tag, c_custkey""".stripMargin,

    "q_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
        |  max(strftime(o_orderdate, '%Y-%m-%d')) AS last_day
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // the bucketed layout must preserve exactly what the raw join yields
    "q_join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the ORC roundtrip must preserve exactly what the source held
    "q_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
        |  max(strftime(o_orderdate, '%Y-%m-%d')) AS last_day
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_data_quality" ->
      """WITH m AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 83 = 0 THEN NULL
        |         WHEN o_orderkey % 79 = 0 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 89 = 0 THEN -1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 97 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus
        |  FROM orders),
        |a AS (SELECT * FROM m
        |  UNION ALL SELECT * FROM m WHERE o_orderkey % 101 = 0),
        |checks AS (
        |  SELECT 'not_null(o_custkey)' AS chk,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS violations FROM a
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice)',
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 0.0 OR o_totalprice > 1000000.0)
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM a
        |  UNION ALL
        |  SELECT 'in_set(o_orderstatus)',
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM a
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0)
        |      AS BIGINT)
        |  FROM (SELECT count(*) AS n FROM a GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'ref(o_custkey)', CAST(count(*) AS BIGINT) FROM a
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        |SELECT chk AS "check", violations, violations = 0 AS pass
        |FROM checks ORDER BY chk""".stripMargin,

    "q_json_corrupt" ->
      """SELECT
        |  CAST(sum(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bad,
        |  CAST(sum(CASE WHEN o_orderkey % 10 <> 0
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS revenue_good
        |FROM orders""".stripMargin,

    "q_partition_pruned" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(o_orderkey) AS min_key
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_zonemap_prune" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(o_orderkey) AS min_key,
        |  TRUE AS skipped
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) BETWEEN 100000 AND 150000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_zonemap_delete" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(o_orderkey) AS min_key,
        |  TRUE AS skipped, TRUE AS deleted_gone
        |FROM orders
        |WHERE o_orderkey % 97 <> 3
        |  AND CAST(o_totalprice AS DECIMAL(18,2)) BETWEEN 100000 AND 150000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_stream_zonemap_ingest" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(o_orderkey) AS min_key,
        |  TRUE AS skipped, TRUE AS ingested_once
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) BETWEEN 100000 AND 150000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_zonemap_string" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(c_custkey) AS BIGINT) AS keysum,
        |  min(c_name) AS first_name,
        |  TRUE AS skipped
        |FROM customer
        |WHERE c_name >= 'Customer#000000020'
        |  AND c_name <= 'Customer#000000090'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_zonemap_date" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |    strftime(o_orderdate, '%Y-%m-%d') AS day FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |  min(day) AS first_day, max(day) AS last_day,
        |  CAST(sum(o_orderkey) AS BIGINT) AS keysum,
        |  TRUE AS skipped
        |FROM o WHERE day >= '1996-01-01' AND day <= '1996-03-31'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_snapshot_time_travel" ->
      """SELECT
        |  CAST(sum(CASE WHEN o_orderkey % 97 <> 3
        |      AND CAST(o_totalprice AS DECIMAL(18,2))
        |        BETWEEN 100000 AND 150000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_latest,
        |  CAST(sum(CASE WHEN o_orderkey % 97 <> 3
        |      AND CAST(o_totalprice AS DECIMAL(18,2))
        |        BETWEEN 100000 AND 150000
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS revenue_latest,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_travel,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS revenue_travel,
        |  TRUE AS skipped_latest,
        |  TRUE AS skipped_travel,
        |  TRUE AS deleted_gone,
        |  TRUE AS travel_survived_vacuum
        |FROM orders""".stripMargin,

    "q_snapshot_merge" ->
      """WITH merged AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 7
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |        AS DECIMAL(18,2))
        |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 7
        |      AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 10 = 7),
        |l AS (SELECT count(*) AS n_latest,
        |    CAST(sum(price) AS DOUBLE) AS revenue_latest
        |  FROM merged WHERE price BETWEEN 100000 AND 150000),
        |t AS (SELECT count(*) AS n_travel,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue_travel
        |  FROM orders
        |  WHERE CAST(o_totalprice AS DECIMAL(18,2))
        |    BETWEEN 100000 AND 150000)
        |SELECT l.n_latest, l.revenue_latest, t.n_travel, t.revenue_travel,
        |  TRUE AS skipped_latest, TRUE AS skipped_travel,
        |  TRUE AS merged_cow
        |FROM l CROSS JOIN t""".stripMargin,

    "q_snapshot_stream_ingest" ->
      """WITH b AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders
        |  WHERE CAST(o_totalprice AS DECIMAL(18,2))
        |    BETWEEN 100000 AND 150000)
        |SELECT
        |  CAST(count(*) AS BIGINT) AS n_latest,
        |  CAST(sum(price) AS DOUBLE) AS revenue_latest,
        |  CAST(count(*) AS BIGINT) AS n_travel,
        |  CAST(sum(price) AS DOUBLE) AS revenue_travel,
        |  TRUE AS skipped_latest,
        |  TRUE AS skipped_travel,
        |  TRUE AS ingested_once,
        |  TRUE AS compacted
        |FROM b""".stripMargin,

    "q_snapshot_compact_small" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |l AS (SELECT CAST(count(*) AS BIGINT) AS n_latest,
        |    CAST(sum(price) AS DOUBLE) AS revenue_latest
        |  FROM o WHERE k % 97 <> 3
        |    AND price BETWEEN 100000 AND 150000),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_travel,
        |    CAST(sum(price) AS DOUBLE) AS revenue_travel
        |  FROM o WHERE price BETWEEN 100000 AND 150000)
        |SELECT l.n_latest, l.revenue_latest, t.n_travel, t.revenue_travel,
        |  TRUE AS small_tail_only, TRUE AS tombstones_carried,
        |  TRUE AS fully_compacted_equal, TRUE AS skipped_latest,
        |  TRUE AS skipped_travel
        |FROM l CROSS JOIN t""".stripMargin,

    "q_snapshot_incremental_agg" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |cur AS (SELECT o_orderpriority,
        |    CASE WHEN k % 10 = 7
        |      THEN CAST(price * 2 AS DECIMAL(18,2)) ELSE price END
        |      AS price
        |  FROM o WHERE k % 97 <> 3)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price) AS DOUBLE) AS revenue
        |FROM cur GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_snapshot_mor_delete" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |cur AS (
        |  SELECT price FROM o WHERE k % 97 <> 3
        |  UNION ALL
        |  SELECT CAST(price + 11 AS DECIMAL(18,2)) AS price FROM o
        |  WHERE k % 97 = 3 AND k % 2 = 0),
        |l AS (SELECT CAST(count(*) AS BIGINT) AS n_latest,
        |    CAST(sum(price) AS DOUBLE) AS revenue_latest
        |  FROM cur WHERE price BETWEEN 100000 AND 150000),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_travel,
        |    CAST(sum(price) AS DOUBLE) AS revenue_travel
        |  FROM o WHERE k % 97 <> 3
        |    AND price BETWEEN 100000 AND 150000),
        |v1 AS (SELECT CAST(count(*) AS BIGINT) AS n_v1 FROM o)
        |SELECT l.n_latest, l.revenue_latest, t.n_travel, t.revenue_travel,
        |  v1.n_v1, TRUE AS mor_metadata_only, TRUE AS reinsert_survived,
        |  TRUE AS compacted_equal, TRUE AS skipped_latest,
        |  TRUE AS skipped_travel
        |FROM l CROSS JOIN t CROSS JOIN v1""".stripMargin,

    "q_snapshot_schema_evolve" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    o_orderpriority AS prio FROM orders),
        |latest AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_prio_null,
        |    CAST(sum(CASE WHEN k % 2 = 0 THEN price END) AS DOUBLE)
        |      AS price_null_sum,
        |    CAST(count(DISTINCT CASE WHEN k % 2 = 1 THEN prio END)
        |      AS BIGINT) AS n_prio_values,
        |    CAST(sum(CASE WHEN k % 2 = 1 THEN price END) AS DOUBLE)
        |      AS price_set_sum
        |  FROM o WHERE k % 97 <> 3),
        |v1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_v1,
        |    CAST(sum(price) AS DOUBLE) AS price_v1_sum
        |  FROM o WHERE k % 2 = 0)
        |SELECT latest.n_total, latest.n_prio_null, latest.price_null_sum,
        |  latest.n_prio_values, latest.price_set_sum,
        |  v1.n_v1, v1.price_v1_sum,
        |  TRUE AS travel_two_cols, TRUE AS evolved_three_cols
        |FROM latest CROSS JOIN v1""".stripMargin,

    "q_snapshot_changes" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |i12 AS (SELECT CAST(count(*) AS BIGINT) AS n_ins_12,
        |    CAST(sum(k) AS BIGINT) AS keysum_ins_12
        |  FROM o WHERE k % 2 = 1),
        |d23 AS (SELECT CAST(count(*) AS BIGINT) AS n_del_23,
        |    CAST(sum(k) AS BIGINT) AS keysum_del_23
        |  FROM o WHERE k % 97 = 3),
        |u34 AS (SELECT CAST(count(*) AS BIGINT) AS n_ins_34,
        |    CAST(sum(CAST(price * 2 AS DECIMAL(18,2))) AS DOUBLE)
        |      AS price_ins_34,
        |    CAST(count(*) AS BIGINT) AS n_del_34,
        |    CAST(sum(k) AS BIGINT) AS keysum_del_34
        |  FROM o WHERE k % 10 = 7 AND k % 97 <> 3)
        |SELECT i12.n_ins_12, i12.keysum_ins_12,
        |  d23.n_del_23, d23.keysum_del_23,
        |  u34.n_ins_34, u34.price_ins_34, u34.n_del_34, u34.keysum_del_34,
        |  TRUE AS delta_only, TRUE AS cow_cancelled
        |FROM i12 CROSS JOIN d23 CROSS JOIN u34""".stripMargin,

    "q_snapshot_stats_agg" ->
      """SELECT
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS price_min,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS price_max,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_range,
        |  TRUE AS meta_only_total,
        |  TRUE AS straddle_only
        |FROM orders""".stripMargin,

    "q_snapshot_prune_date" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |    strftime(o_orderdate, '%Y-%m-%d') AS day FROM orders),
        |g AS (SELECT o_orderstatus, count(*) AS n,
        |    min(day) AS first_day, max(day) AS last_day,
        |    CAST(sum(o_orderkey) AS BIGINT) AS keysum
        |  FROM o WHERE day >= '1996-01-01' AND day <= '1996-03-31'
        |  GROUP BY o_orderstatus),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_date_leg FROM o
        |  WHERE day >= '1996-01-01' AND day <= '1996-03-31')
        |SELECT g.o_orderstatus, g.n, g.first_day, g.last_day, g.keysum,
        |  t.n_date_leg, TRUE AS skipped_string, TRUE AS skipped_date
        |FROM g CROSS JOIN t ORDER BY g.o_orderstatus""".stripMargin,

    "q_snapshot_zorder" ->
      """SELECT
        |  CAST(sum(CASE WHEN date_diff('day', DATE '1995-01-01',
        |      o_orderdate) BETWEEN 365 AND 546 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_date,
        |  CAST(sum(CASE WHEN date_diff('day', DATE '1995-01-01',
        |      o_orderdate) BETWEEN 365 AND 546 THEN o_orderkey END)
        |    AS BIGINT) AS keysum_date,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_price,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS revenue_price,
        |  TRUE AS skipped_date,
        |  TRUE AS skipped_price
        |FROM orders""".stripMargin,

    "q_snapshot_planned_rewrite" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn,
        |    count(*) OVER () AS n FROM o),
        |e AS (SELECT max(CASE WHEN rn <= n // 50 THEN k END) AS e1,
        |    max(CASE WHEN rn <= 2 * (n // 50) THEN k END) AS e2 FROM r),
        |cur AS (
        |  SELECT k, CASE WHEN k > e.e1 AND k <= e.e2
        |      THEN CAST(price * 2 AS DECIMAL(18,2)) ELSE price END
        |      AS price
        |    FROM o, e WHERE k > e.e1
        |  UNION ALL
        |  SELECT -k - 1 AS k, CAST(price + 7 AS DECIMAL(18,2)) AS price
        |    FROM o, e WHERE k > e.e1 AND k <= e.e2)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(k) AS BIGINT) AS keysum,
        |  CAST(sum(price) AS DOUBLE) AS revenue,
        |  CAST(sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inserted,
        |  TRUE AS planned_delete_subset,
        |  TRUE AS planned_merge_subset
        |FROM cur""".stripMargin,

    "q_snapshot_bloom_delete" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |b AS (SELECT min(k) AS mn, max(k) AS mx FROM o),
        |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn,
        |    count(*) OVER () AS n FROM o),
        |m AS (SELECT max(CASE WHEN rn <= n // 2 THEN k END) AS mid FROM r),
        |cur AS (SELECT k, price FROM o, b, m
        |  WHERE k <> b.mn AND k <> b.mx AND k <> m.mid)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(k) AS BIGINT) AS keysum,
        |  CAST(sum(price) AS DOUBLE) AS revenue,
        |  TRUE AS bloom_planned_subset
        |FROM cur""".stripMargin,

    "q_snapshot_bloom_delete_str" ->
      """WITH o AS (SELECT
        |    'ord-' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS okey,
        |    o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |r AS (SELECT okey, row_number() OVER (ORDER BY okey) AS rn,
        |    count(*) OVER () AS n FROM o),
        |m AS (SELECT max(CASE WHEN rn <= 1 THEN okey END) AS k1,
        |    max(CASE WHEN rn <= n // 2 THEN okey END) AS k2,
        |    max(okey) AS k3 FROM r),
        |cur AS (SELECT k, price FROM o, m
        |  WHERE okey <> m.k1 AND okey <> m.k2 AND okey <> m.k3)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(k) AS BIGINT) AS keysum,
        |  CAST(sum(price) AS DOUBLE) AS revenue,
        |  TRUE AS bloom_planned_subset
        |FROM cur""".stripMargin,

    "q_snapshot_sql_prune" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n_band,
        |    CAST(sum(price) AS DOUBLE) AS revenue_band
        |  FROM o WHERE price BETWEEN 100000 AND 150000),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS n_or,
        |    CAST(sum(price) AS DOUBLE) AS revenue_or
        |  FROM o WHERE price BETWEEN 50000 AND 80000
        |    OR price BETWEEN 200000 AND 230000),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS n_v1,
        |    CAST(sum(k) AS BIGINT) AS keysum_v1
        |  FROM o WHERE k % 2 = 0 AND price BETWEEN 100000 AND 150000)
        |SELECT b.n_band, b.revenue_band, r.n_or, r.revenue_or,
        |  v.n_v1, v.keysum_v1,
        |  TRUE AS pushed_subset, TRUE AS or_pushed_subset,
        |  TRUE AS travel_pushed_subset
        |FROM b CROSS JOIN r CROSS JOIN v""".stripMargin,

    "q_snapshot_agg_push" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS price_min,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS price_max,
        |  CAST(min(o_orderkey) AS BIGINT) AS key_min,
        |  CAST(max(o_orderkey) AS BIGINT) AS key_max,
        |  min(o_orderpriority) AS prio_min,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_band,
        |  TRUE AS agg_pushed,
        |  TRUE AS filtered_declined
        |FROM orders""".stripMargin,

    "q_snapshot_sql_write" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |app AS (SELECT -k - 1 AS k,
        |    CAST(price + 5 AS DECIMAL(18,2)) AS price
        |  FROM o WHERE (-k - 1) % 3 = 0),
        |onc AS (SELECT k, CAST(price * 3 AS DECIMAL(18,2)) AS price
        |  FROM o WHERE k % 1000 = 7),
        |cur AS (SELECT k, price FROM o
        |  UNION ALL SELECT k, price FROM app
        |  UNION ALL SELECT k, price FROM onc)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(k) AS BIGINT) AS keysum,
        |  CAST(sum(price) AS DOUBLE) AS revenue,
        |  CAST(sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_appended,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cur
        |    WHERE price BETWEEN 100000 AND 150000) AS n_band,
        |  TRUE AS abort_published_nothing,
        |  TRUE AS replay_short_circuited,
        |  TRUE AS pruned_subset
        |FROM cur""".stripMargin,

    "q_snapshot_sql_delete" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_orderdate AS DATE) AS odate,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |ins AS (SELECT -k - 1 AS k, odate,
        |    CAST(price + 11 AS DECIMAL(18,2)) AS price
        |  FROM o WHERE k % 13 = 0),
        |surv AS (SELECT k, odate, price FROM o
        |    WHERE odate > DATE '1995-12-31'
        |  UNION ALL SELECT k, odate, price FROM ins
        |    WHERE odate > DATE '1995-12-31'),
        |b AS (SELECT min(k) AS klo, max(k) AS khi FROM surv WHERE k > 0),
        |cur AS (SELECT s.k, s.price FROM surv s, b
        |  WHERE s.k <> b.klo AND s.k <> b.khi)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(k) AS BIGINT) AS keysum,
        |  CAST(sum(price) AS DOUBLE) AS revenue,
        |  CAST(sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inserted,
        |  TRUE AS pred_delete_metadata_only,
        |  TRUE AS in_delete_one_key_file,
        |  TRUE AS inexact_refused,
        |  TRUE AS travel_intact
        |FROM cur""".stripMargin,

    "q_snapshot_sql_point" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn,
        |    count(*) OVER () AS n FROM o),
        |m AS (SELECT max(CASE WHEN rn = 1 THEN k END) AS k1,
        |    max(CASE WHEN rn = n // 2 THEN k END) AS k2,
        |    max(CASE WHEN rn = n THEN k END) AS k3 FROM r),
        |sel AS (SELECT k, price FROM o, m
        |  WHERE k IN (m.k1, m.k2, m.k3))
        |SELECT CAST(count(*) AS BIGINT) AS n_in,
        |  CAST(sum(k) AS BIGINT) AS keysum_in,
        |  CAST(sum(price) AS DOUBLE) AS revenue_in,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o, m WHERE k = m.k2)
        |    AS n_eq,
        |  (SELECT CAST(sum(price) AS DOUBLE) FROM o, m WHERE k = m.k2)
        |    AS revenue_eq,
        |  TRUE AS in_bloom_pruned,
        |  TRUE AS point_bloom_pruned
        |FROM sel""".stripMargin,

    "q_snapshot_join_prune" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn,
        |    count(*) OVER () AS n FROM o),
        |m AS (SELECT max(CASE WHEN rn = 1 THEN k END) AS k1,
        |    max(CASE WHEN rn = n // 2 THEN k END) AS k2,
        |    max(CASE WHEN rn = n THEN k END) AS k3 FROM r),
        |dim AS (SELECT k1 AS k, CAST(1 AS BIGINT) AS w FROM m
        |  UNION ALL SELECT k2, CAST(2 AS BIGINT) FROM m
        |  UNION ALL SELECT k3, CAST(3 AS BIGINT) FROM m),
        |j AS (SELECT o.k, o.price, dim.w FROM o JOIN dim ON o.k = dim.k)
        |SELECT CAST(count(*) AS BIGINT) AS n_join,
        |  CAST(sum(k) AS BIGINT) AS keysum_join,
        |  CAST(sum(price) AS DOUBLE) AS revenue_join,
        |  CAST(sum(w) AS BIGINT) AS wsum,
        |  TRUE AS join_pruned_subset
        |FROM j""".stripMargin,

    "q_snapshot_runtime_filter" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn,
        |    count(*) OVER () AS n FROM o),
        |m AS (SELECT max(CASE WHEN rn = 1 THEN k END) AS k1,
        |    max(CASE WHEN rn = n // 2 THEN k END) AS k2,
        |    max(CASE WHEN rn = n THEN k END) AS k3 FROM r),
        |dim AS (SELECT k1 AS k, CAST(1 AS BIGINT) AS w FROM m
        |  UNION ALL SELECT k2, CAST(2 AS BIGINT) FROM m
        |  UNION ALL SELECT k3, CAST(3 AS BIGINT) FROM m),
        |j AS (SELECT o.k, o.price, dim.w FROM o JOIN dim ON o.k = dim.k)
        |SELECT CAST(count(*) AS BIGINT) AS n_join,
        |  CAST(sum(k) AS BIGINT) AS keysum_join,
        |  CAST(sum(price) AS DOUBLE) AS revenue_join,
        |  CAST(sum(w) AS BIGINT) AS wsum,
        |  TRUE AS runtime_filtered_subset,
        |  TRUE AS dynamic_pruning_planned
        |FROM j""".stripMargin,

    "q_snapshot_mor_delete_pred" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_orderdate AS DATE) AS odate,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |cur AS (
        |  SELECT k, odate, price FROM o WHERE odate > DATE '1995-12-31'
        |  UNION ALL
        |  SELECT k, odate, CAST(price + 13 AS DECIMAL(18,2)) AS price
        |  FROM o WHERE odate <= DATE '1995-12-31' AND k % 11 = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(k) AS BIGINT) AS keysum,
        |  CAST(sum(price) AS DOUBLE) AS revenue,
        |  CAST(sum(CASE WHEN odate <= DATE '1995-12-31' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_reinserted,
        |  TRUE AS metadata_only_commit,
        |  TRUE AS travel_intact,
        |  TRUE AS compacted_equal
        |FROM cur""".stripMargin,

    "q_snapshot_part_drop" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_orderdate AS DATE) AS odate,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |t AS (SELECT min(year(odate) * 12 + month(odate) - 1) AS tm
        |  FROM o),
        |cur AS (SELECT k, price FROM o, t
        |  WHERE year(odate) * 12 + month(odate) - 1 <> tm)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(k) AS BIGINT) AS keysum,
        |  CAST(sum(price) AS DOUBLE) AS revenue,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o, t
        |    WHERE year(odate) * 12 + month(odate) - 1 = tm) AS n_dropped,
        |  TRUE AS metadata_only_drop,
        |  TRUE AS pruned_strict,
        |  TRUE AS vacuum_kept_latest
        |FROM cur""".stripMargin,

    "q_snapshot_mor_merge" ->
      """WITH merged AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 7
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |        AS DECIMAL(18,2))
        |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 7
        |      AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 10 = 7),
        |l AS (SELECT count(*) AS n_latest,
        |    CAST(sum(price) AS DOUBLE) AS revenue_latest
        |  FROM merged WHERE price BETWEEN 100000 AND 150000),
        |t AS (SELECT count(*) AS n_travel,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue_travel
        |  FROM orders
        |  WHERE CAST(o_totalprice AS DECIMAL(18,2))
        |    BETWEEN 100000 AND 150000)
        |SELECT l.n_latest, l.revenue_latest, t.n_travel, t.revenue_travel,
        |  TRUE AS skipped_latest, TRUE AS skipped_travel,
        |  TRUE AS mor_data_side_verbatim, TRUE AS compacted_equal
        |FROM l CROSS JOIN t""".stripMargin,

    "q_stream_snapshot_upsert" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |cur AS (
        |  SELECT CASE WHEN k % 10 = 7
        |      THEN CAST(price * 2 AS DECIMAL(18,2))
        |    WHEN k % 10 = 3 THEN CAST(price * 3 AS DECIMAL(18,2))
        |    ELSE price END AS price
        |  FROM o
        |  UNION ALL
        |  SELECT CAST(price + 11 AS DECIMAL(18,2)) AS price
        |  FROM o WHERE k % 5 = 0),
        |l AS (SELECT count(*) AS n_latest,
        |    CAST(sum(price) AS DOUBLE) AS revenue_latest
        |  FROM cur WHERE price BETWEEN 100000 AND 150000),
        |t AS (SELECT count(*) AS n_travel,
        |    CAST(sum(price) AS DOUBLE) AS revenue_travel
        |  FROM o WHERE price BETWEEN 100000 AND 150000)
        |SELECT l.n_latest, l.revenue_latest, t.n_travel, t.revenue_travel,
        |  TRUE AS skipped_latest, TRUE AS skipped_travel,
        |  TRUE AS upserted_once, TRUE AS compacted_equal
        |FROM l CROSS JOIN t""".stripMargin,

    "q_stream_snapshot_changes" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |cur AS (
        |  SELECT o_orderpriority, CASE WHEN k % 10 = 7
        |      THEN CAST(price * 2 AS DECIMAL(18,2)) ELSE price END
        |      AS price
        |  FROM o WHERE k % 97 <> 3
        |  UNION ALL
        |  SELECT o_orderpriority, CAST(price + 11 AS DECIMAL(18,2))
        |      AS price
        |  FROM o WHERE k % 5 = 0)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(price) AS DOUBLE) AS revenue
        |FROM cur GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_zonemap_delete_date" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |    strftime(o_orderdate, '%Y-%m-%d') AS day FROM orders
        |    WHERE o_orderkey % 97 <> 3)
        |SELECT o_orderstatus, count(*) AS n,
        |  min(day) AS first_day, max(day) AS last_day,
        |  CAST(sum(o_orderkey) AS BIGINT) AS keysum,
        |  TRUE AS skipped, TRUE AS deleted_gone
        |FROM o WHERE day >= '1996-01-01' AND day <= '1996-03-31'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_zonemap_delete_zorder" ->
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 3)
        |SELECT
        |  CAST(sum(CASE WHEN date_diff('day', DATE '1995-01-01',
        |      o_orderdate) BETWEEN 365 AND 546 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_date,
        |  CAST(sum(CASE WHEN date_diff('day', DATE '1995-01-01',
        |      o_orderdate) BETWEEN 365 AND 546 THEN o_orderkey END)
        |    AS BIGINT) AS keysum_date,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_price,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS revenue_price,
        |  TRUE AS skipped_date,
        |  TRUE AS skipped_price,
        |  TRUE AS deleted_gone
        |FROM o""".stripMargin,

    "q_stream_zonemap_ingest_date" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |    strftime(o_orderdate, '%Y-%m-%d') AS day FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |  min(day) AS first_day, max(day) AS last_day,
        |  CAST(sum(o_orderkey) AS BIGINT) AS keysum,
        |  TRUE AS skipped, TRUE AS ingested_once
        |FROM o WHERE day >= '1996-01-01' AND day <= '1996-03-31'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_stream_zonemap_ingest_zorder" ->
      """SELECT
        |  CAST(sum(CASE WHEN date_diff('day', DATE '1995-01-01',
        |      o_orderdate) BETWEEN 365 AND 546 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_date,
        |  CAST(sum(CASE WHEN date_diff('day', DATE '1995-01-01',
        |      o_orderdate) BETWEEN 365 AND 546 THEN o_orderkey END)
        |    AS BIGINT) AS keysum_date,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_price,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS revenue_price,
        |  TRUE AS skipped_date,
        |  TRUE AS skipped_price,
        |  TRUE AS ingested_once
        |FROM orders""".stripMargin,

    "q_zonemap_append" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(o_orderkey) AS min_key,
        |  TRUE AS manifest_complete,
        |  TRUE AS skipped
        |FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) BETWEEN 100000 AND 150000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_merge_on_read" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderkey % 10 <> 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n,
        |  CAST(sum(CASE
        |      WHEN o_orderkey % 10 = 3 THEN NULL
        |      WHEN o_orderkey % 10 = 7
        |        THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |          AS DECIMAL(18,2))
        |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS revenue,
        |  min(CASE WHEN o_orderkey % 10 <> 3 THEN o_orderkey END)
        |    AS min_key
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_join_dpp" ->
      """SELECT o_orderstatus, 'finished' AS label, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(o_orderkey) AS min_key
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_zonemap_zorder" ->
      """SELECT
        |  CAST(sum(CASE WHEN date_diff('day', DATE '1995-01-01',
        |      o_orderdate) BETWEEN 365 AND 546 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_date,
        |  CAST(sum(CASE WHEN date_diff('day', DATE '1995-01-01',
        |      o_orderdate) BETWEEN 365 AND 546 THEN o_orderkey END)
        |    AS BIGINT) AS keysum_date,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_price,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(18,2))
        |      BETWEEN 100000 AND 150000
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS revenue_price,
        |  TRUE AS skipped_date,
        |  TRUE AS skipped_price
        |FROM orders""".stripMargin,

    "q_compact_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  TRUE AS compacted
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_vacuum" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS keysum,
        |  TRUE AS retention_held
        |FROM orders WHERE o_orderkey % 3 <> 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_join_cbo" ->
      """SELECT n_name, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_observe" ->
      """SELECT count(*) AS n_all,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_f,
        |  min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_f_rows
        |FROM orders""".stripMargin,

    "q_time_travel" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_v1,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey END)
        |    AS BIGINT) AS keysum_v1,
        |  count(*) AS n_latest,
        |  CAST(sum(o_orderkey) AS BIGINT) AS keysum_latest
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_schema_evolve" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_day,
        |  min(CASE WHEN o_orderkey % 2 = 1
        |    THEN strftime(o_orderdate, '%Y-%m-%d') END) AS first_day,
        |  true AS v1_unevolved
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_tx_merge" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS status,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |merged AS (
        |  SELECT k, status,
        |    CASE WHEN status='F' THEN cents+100000 ELSE cents END AS cents
        |  FROM base
        |  UNION ALL
        |  SELECT k+10000000 AS k, 'N' AS status, cents
        |  FROM base WHERE status='F')
        |SELECT status, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(k) AS min_k,
        |  true AS cow_subset, true AS old_intact
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,

    "q_tx_merge_delete" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    o_orderstatus AS status,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |merged AS (
        |  SELECT k, status,
        |    CASE WHEN status='F' AND k % 2 = 0 THEN cents+100000
        |         ELSE cents END AS cents
        |  FROM base WHERE NOT (status='F' AND k % 2 = 1)
        |  UNION ALL
        |  SELECT k+10000000 AS k, 'N' AS status, cents
        |  FROM base WHERE status='F' AND k % 2 = 0)
        |SELECT status, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(k) AS min_k,
        |  true AS cow_subset, true AS old_intact
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  min(o_orderkey) AS min_key,
        |  max(strftime(o_orderdate, '%Y-%m-%d')) AS last_day
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_session_native" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w
        |              >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM flagged)
        |SELECT user_id,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start_us""".stripMargin,

    "q_window_group_limit" ->
      """SELECT user_id, rk, event_id, value
        |FROM (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events)
        |WHERE rk <= 3
        |ORDER BY user_id, rk""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "q_stream_tumble" ->
      """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS bucket_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin,

    // the streaming drain's final state must equal the batch answer —
    // the oracle IS the batch answer
    "q_stream_drain" ->
      """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS bucket_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin,

    // the restart-spanning sink must accumulate exactly the batch
    // tumble answer — exactly-once across the checkpoint restore
    "q_stream_restore_drain" ->
      """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS bucket_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin,

    // streaming dedup of the doubled replay = the plain batch table
    "q_stream_dedup_drain" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |  value, props
        |FROM events ORDER BY event_id""".stripMargin,

    // the drained session state machine must equal the batch
    // gaps-and-islands definition (q_sessionize's oracle, keyed by
    // session start instead of the engine-internal session_seq)
    "q_stream_session_drain" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM flagged)
        |SELECT user_id,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start_us""".stripMargin,

    // the drained stream-stream join must equal the batch range join
    "q_stream_late_drop" ->
      """WITH bnd AS (SELECT epoch_us(min(ts)) AS mn,
        |    epoch_us(max(ts)) AS mx FROM events),
        |wm AS (SELECT ((mn + (mx - mn) // 2) // 1000000) * 1000000
        |    + 500000 AS wm_us FROM bnd),
        |a AS (SELECT epoch_us(ts) AS us FROM events
        |  WHERE event_id % 2 = 0),
        |drp AS (SELECT count(DISTINCT epoch_us(ts) // 300000000)
        |    AS n_late_windows
        |  FROM events, wm
        |  WHERE event_id % 2 = 1
        |    AND (epoch_us(ts) // 300000000) * 300000000
        |      + 300000000 <= wm_us)
        |SELECT (us // 300000000) * 300 AS bucket_start,
        |  count(*) AS n,
        |  (SELECT n_late_windows FROM drp) AS n_late_windows
        |FROM a, wm
        |WHERE (us // 300000000) * 300000000 + 300000000 <= wm_us
        |GROUP BY bucket_start
        |ORDER BY bucket_start""".stripMargin,

    "q_stream_interval_drain" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id,
        |  epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |  AND r.event_type = 'click'
        |  AND l.ts >= r.ts AND l.ts <= r.ts + INTERVAL 300 SECOND
        |ORDER BY l_id, r_id""".stripMargin,

    // drained cross-batch admissions = first `cap` per key in id order
    "q_stream_cap_drain" ->
      """SELECT event_type, event_id, rn AS seq FROM (
        |  SELECT event_type, event_id, row_number() OVER (
        |    PARTITION BY event_type ORDER BY event_id) AS rn
        |  FROM events)
        |WHERE rn <= 30 ORDER BY event_type, event_id""".stripMargin,

    // drained final leaderboards = the batch top-5 per type
    "q_stream_topk_drain" ->
      """SELECT event_type, rn, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin,

    // drained final profiles = the batch per-user aggregate (value
    // pre-quantized to integer-valued doubles on BOTH sides, so the
    // streaming fold order is unobservable)
    "q_stream_profile_drain" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(floor(value * 100)) AS DOUBLE) AS total_value,
        |  epoch_us(max(ts)) AS last_seen_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_window_firstlast" ->
      """SELECT event_id,
        |  first_value(event_type) OVER w AS first_type,
        |  last_value(event_type) OVER w AS last_type,
        |  nth_value(event_type, 2) OVER w AS second_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, o_orderpriority
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
        |ORDER BY r_name, o_orderpriority""".stripMargin,

    "q_null_funcs" ->
      """SELECT o_orderkey,
        |  coalesce(p_n, 'none') AS p_or_default,
        |  nullif(p_n, '1-URGENT') AS p_nullif,
        |  p_n IS NULL AS is_missing,
        |  coalesce(v_n, 0.0) AS v_or_zero
        |FROM (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority END AS p_n,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice END AS v_n
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_agg_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_n
        |FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY count(*) DESC, o_orderpriority) AS rn
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,

    "q_quantile_by_group" ->
      """SELECT o_custkey, round(quantile_cont(o_totalprice, 0.5), 6)
        |    AS med_price
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q_outlier_mad" ->
      """WITH m AS (SELECT l_returnflag,
        |    round(quantile_cont(l_extendedprice, 0.5), 6) AS med
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (SELECT l.l_returnflag, med,
        |    abs(l_extendedprice - med) AS adev
        |  FROM lineitem l JOIN m USING (l_returnflag)),
        |md AS (SELECT l_returnflag,
        |    round(quantile_cont(adev, 0.5), 6) AS mad
        |  FROM d GROUP BY l_returnflag)
        |SELECT d.l_returnflag, count(*) AS n,
        |  min(med) AS med, min(mad) AS mad,
        |  CAST(sum(CASE WHEN adev > 3.0 * mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (l_returnflag)
        |GROUP BY d.l_returnflag ORDER BY d.l_returnflag""".stripMargin,

    "q_quantile_normalize" ->
      """WITH s AS (SELECT source,
        |    round(quantile_cont(n_chars, 0.25), 6) AS q25,
        |    round(quantile_cont(n_chars, 0.5), 6) AS q50,
        |    round(quantile_cont(n_chars, 0.75), 6) AS q75
        |  FROM documents GROUP BY source),
        |g AS (SELECT
        |    round(quantile_cont(n_chars, 0.25), 6) AS p25,
        |    round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |    round(quantile_cont(n_chars, 0.75), 6) AS p75
        |  FROM documents)
        |SELECT source, q25, q50, q75, p25, p50, p75,
        |  round(q50 - p50, 6) AS median_shift
        |FROM s, g ORDER BY source""".stripMargin,

    "q_quantile_remap" ->
      """WITH s AS (SELECT source,
        |    CAST(round(quantile_cont(n_chars, 0.25), 6) * 4 AS BIGINT) AS sq1,
        |    CAST(round(quantile_cont(n_chars, 0.5), 6) * 4 AS BIGINT) AS sq2,
        |    CAST(round(quantile_cont(n_chars, 0.75), 6) * 4 AS BIGINT) AS sq3
        |  FROM documents GROUP BY source),
        |g AS (SELECT
        |    CAST(round(quantile_cont(n_chars, 0.25), 6) * 4 AS BIGINT) AS pq1,
        |    CAST(round(quantile_cont(n_chars, 0.5), 6) * 4 AS BIGINT) AS pq2,
        |    CAST(round(quantile_cont(n_chars, 0.75), 6) * 4 AS BIGINT) AS pq3
        |  FROM documents),
        |j AS (SELECT doc_id, d.source, n_chars,
        |    CAST(n_chars AS BIGINT) * 4 AS x4,
        |    sq1, sq2, sq3, pq1, pq2, pq3
        |  FROM documents d JOIN s USING (source), g)
        |SELECT doc_id, source, n_chars,
        |  CASE WHEN x4 < sq1 THEN 'lo' WHEN x4 < sq2 THEN 'mid1'
        |       WHEN x4 < sq3 THEN 'mid2' ELSE 'hi' END AS seg,
        |  CAST(CASE WHEN x4 < sq1 THEN x4 + pq1 - sq1
        |       WHEN x4 < sq2 THEN pq1 + (x4 - sq1) * (pq2 - pq1) // (sq2 - sq1)
        |       WHEN x4 < sq3 THEN pq2 + (x4 - sq2) * (pq3 - pq2) // (sq3 - sq2)
        |       ELSE x4 + pq3 - sq3 END AS BIGINT) AS remap_q4
        |FROM j ORDER BY doc_id""".stripMargin,

    "q_outlier_iqr" ->
      """WITH f AS (SELECT l_returnflag,
        |    round(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
        |    round(quantile_cont(l_extendedprice, 0.75), 6) AS q3
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice < q1 - 1.5 * (q3 - q1)
        |             OR l_extendedprice > q3 + 1.5 * (q3 - q1)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM lineitem l JOIN f USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    "q_winsorize" ->
      """WITH f AS (SELECT l_returnflag,
        |    round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |    round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clip_hi,
        |  CAST(CAST(sum(CAST(greatest(lo, least(hi, l_extendedprice))
        |    AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS w_sum
        |FROM lineitem l JOIN f USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    "q_wma" ->
      """WITH l AS (SELECT event_id, user_id, value,
        |    CAST(value AS DECIMAL(18,2)) AS x0,
        |    CAST(lag(value, 1) OVER w AS DECIMAL(18,2)) AS x1,
        |    CAST(lag(value, 2) OVER w AS DECIMAL(18,2)) AS x2,
        |    CAST(lag(value, 3) OVER w AS DECIMAL(18,2)) AS x3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, value,
        |  round(CAST(x0 * 8 + coalesce(x1 * 4, CAST(0 AS DECIMAL(18,2)))
        |      + coalesce(x2 * 2, CAST(0 AS DECIMAL(18,2)))
        |      + coalesce(x3 * 1, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
        |    / (8 + CASE WHEN x1 IS NOT NULL THEN 4 ELSE 0 END
        |         + CASE WHEN x2 IS NOT NULL THEN 2 ELSE 0 END
        |         + CASE WHEN x3 IS NOT NULL THEN 1 ELSE 0 END), 6)
        |    AS wma
        |FROM l ORDER BY event_id""".stripMargin,

    "q_period_change" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |l AS (SELECT day, rev, lag(rev, 1) OVER (ORDER BY day) AS prev
        |  FROM daily)
        |SELECT day, CAST(rev AS DOUBLE) AS rev,
        |  round(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE) * 100, 6)
        |    AS pct_change
        |FROM l ORDER BY day""".stripMargin,

    "q_anomaly_zscore" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) *
        |      CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type),
        |f AS (SELECT event_type, round(s1 / n, 6) AS mean_v,
        |    round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS std_v FROM m)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN abs(value - mean_v) > 2.0 * std_v
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  min(mean_v) AS mean_v, min(std_v) AS std_v
        |FROM events e JOIN f USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_quantile_sample" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS med_sample
        |FROM orders
        |WHERE (('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
        |    ::BIGINT & 2147483647) % 100 < 10
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_histogram_eqdepth" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) - 1 AS DOUBLE) AS rn,
        |    CAST(count(*) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(floor(rn * 8.0 / n) AS BIGINT) AS bucket,
        |  count(*) AS n_rows, min(l_extendedprice) AS lo,
        |  max(l_extendedprice) AS hi
        |FROM r GROUP BY l_returnflag, bucket
        |ORDER BY l_returnflag, bucket""".stripMargin,

    "q_quantile_disc" ->
      """SELECT l_linestatus,
        |  quantile_disc(l_quantity, 0.25) AS p25,
        |  quantile_disc(l_quantity, 0.5) AS p50,
        |  quantile_disc(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    // q_quantile_approx emits the sketch's rank-contract check, not the
    // engine-private GK estimate; the twin recomputes the boolean from
    // exact ranks, so the hash pins "the sketch honored eps = 1/accuracy".
    "q_quantile_approx" ->
      """SELECT l_returnflag, CAST(t.q AS DOUBLE) AS q, n_rows,
        |  TRUE AS within_bound
        |FROM (SELECT l_returnflag, count(*) AS n_rows
        |      FROM lineitem GROUP BY 1) g
        |CROSS JOIN (VALUES (0.25), (0.50), (0.75)) t(q)
        |ORDER BY l_returnflag, q""".stripMargin,

    "q_interpolate" ->
      """WITH b AS (SELECT user_id, ts, event_id,
        |    CASE WHEN event_id % 5 <> 0 THEN value END AS v,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM events),
        |x AS (SELECT event_id, v, rn,
        |    last_value(v IGNORE NULLS) OVER w_prev AS prev_v,
        |    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER w_prev AS prev_rn,
        |    first_value(v IGNORE NULLS) OVER w_next AS next_v,
        |    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER w_next AS next_rn
        |  FROM b
        |  WINDOW w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    w_next AS (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id, v AS v_sparse,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    WHEN prev_v IS NULL THEN next_v
        |    WHEN next_v IS NULL THEN prev_v
        |    ELSE prev_v + (next_v - prev_v) *
        |      CAST(rn - prev_rn AS DOUBLE) / CAST(next_rn - prev_rn AS DOUBLE)
        |    END, 6) AS v_interp
        |FROM x ORDER BY event_id""".stripMargin,

    "q_agg_kmv" ->
      """WITH h AS (SELECT DISTINCT o_orderstatus,
        |    (('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
        |      & 2147483647) AS h
        |  FROM orders),
        |m AS (SELECT o_orderstatus, h,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rn
        |  FROM h)
        |SELECT o_orderstatus,
        |  CAST(CASE WHEN count(*) < 64 THEN count(*)
        |    ELSE floor(63.0 * 2147483647.0 / max(h)) END AS BIGINT)
        |    AS est_distinct
        |FROM m WHERE rn <= 64
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_union_evolve" ->
      """SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 0
        |UNION ALL BY NAME
        |SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 7 = 1
        |ORDER BY o_orderkey""".stripMargin,

    "q_compact_latest" ->
      """SELECT o_custkey, o_orderkey AS latest_orderkey,
        |  epoch_us(o_orderdate) AS latest_date_us,
        |  o_totalprice AS latest_price
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_upsert" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |u AS (SELECT c_custkey, c_name || '*' AS u_name,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS DOUBLE) AS u_acctbal
        |  FROM base WHERE c_custkey % 3 = 0)
        |SELECT base.c_custkey,
        |  coalesce(u_name, c_name) AS name,
        |  coalesce(u_acctbal, c_acctbal) AS acctbal,
        |  CASE WHEN u_name IS NOT NULL THEN 'updated' ELSE 'kept' END AS action
        |FROM base FULL OUTER JOIN u ON base.c_custkey = u.c_custkey
        |ORDER BY base.c_custkey""".stripMargin,

    "q_stream_slide" ->
      """WITH x AS (SELECT
        |    unnest([CAST(floor(epoch(ts)/300)*300 - 300 AS BIGINT),
        |            CAST(floor(epoch(ts)/300)*300 AS BIGINT)]) AS bucket_start,
        |    event_type, value
        |  FROM events)
        |SELECT bucket_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin,

    "q_join_salted" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,

    "q_exists_sub" -> SqlExists,

    "q_scalar_sub" -> SqlScalarSub,

    "q_string_agg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_corr" ->
      """WITH m AS (SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |       * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |       * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |       * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qp,
        |  round((sxy - sx * sy / n) / n, 6) AS covar_pop_qp
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q_histogram" ->
      """SELECT least(CAST(floor(o_totalprice / 60000) AS BIGINT), 9) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_funnel" ->
      """WITH s AS (SELECT user_id, min(ts) AS t_signup FROM events
        |    WHERE event_type = 'signup' GROUP BY user_id),
        |  c AS (SELECT e.user_id, min(e.ts) AS t_conv
        |    FROM events e JOIN s USING (user_id)
        |    WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
        |    GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM s) AS n_signup,
        |  (SELECT COUNT(*) FROM c) AS n_converted,
        |  round(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM s), 6) AS conv_rate""".stripMargin,

    "q_retention" ->
      """WITH fe AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY user_id)
        |SELECT cohort,
        |  CAST(floor(date_diff('day', cohort, CAST(ts AS DATE)) / 7) AS BIGINT)
        |    AS week_n,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN fe USING (user_id)
        |GROUP BY cohort, week_n ORDER BY cohort, week_n""".stripMargin
  )
}
