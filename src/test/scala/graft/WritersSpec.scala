package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotTable, Writers}

/** Sink-side layout control (Writers): bounded files per partition dir,
  * within-file ordering, and compaction — asserted on the actual file
  * layout the write produced, not just the data. The last two tests
  * hold the zone-mapped sink contracts on [[SnapshotTable]], the one
  * format that keeps file-level zone maps.
  */
class WritersSpec extends SparkSpec {

  private def partFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toIndexedSeq
      .filter(f => f.getName.endsWith(".parquet") && f.isFile)

  test("writePartitioned bounds files per partition dir and round-trips") {
    val d = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-write").toString
    val events = Tables.events(spark, d)
    // worst-case input layout: many tasks, every partition value in each
    val fragmented = events.repartition(16)
    Writers.writePartitioned(fragmented, out, Seq("event_type"),
      filesPerDir = 2, sortCols = Seq("user_id"))

    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
    assert(dirs.nonEmpty)
    dirs.foreach { dir =>
      val n = partFiles(dir).size
      assert(n >= 1 && n <= 2, s"${dir.getName} has $n files")
    }

    val back = spark.read.parquet(out)
    assert(back.count() == events.count())
    // same multiset of (event_id) — layout changed, data didn't
    assert(back.agg(sum(col("event_id"))).head.getLong(0) ==
      events.agg(sum(col("event_id"))).head.getLong(0))

    // within-file ordering: each file is sorted by user_id, so per-file
    // min/max footers are tight and a user_id filter prunes files
    val files = dirs.flatMap(partFiles)
    files.foreach { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select("user_id").collect().map(_.getLong(0)).toIndexedSeq
      assert(ids == ids.sorted, s"${f.getName} not sorted by user_id")
    }
  }

  test("writePartitioned rejects all-columns partitioning up front") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-write-all").toString
    // Spark disallows partitioning by every column; the writer must
    // say so clearly instead of dying in analysis on a zero-arg hash()
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Writers.writePartitioned(df, out, Seq("k", "v"), filesPerDir = 3)
    }
    assert(e.getMessage.contains("non-partition column"))
  }

  test("writeZOrdered clusters BOTH columns; lexicographic sorts only the first") {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d).select(col("l_orderkey"),
      col("l_partkey"))

    val lex = Files.createTempDirectory("graft-lex").toString
    li.repartitionByRange(8, col("l_orderkey"), col("l_partkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_partkey"))
      .write.mode("overwrite").parquet(lex)
    val zo = Files.createTempDirectory("graft-zo").toString
    Writers.writeZOrdered(li, zo, "l_orderkey", "l_partkey", nFiles = 8)

    // avg normalized per-file span of a column = how much of its global
    // range a scan of one file must consider; 1.0 = no pruning possible
    def span(path: String, c: String): Double = {
      val df = spark.read.parquet(path)
        .select(col(c), input_file_name().as("f"))
      val g = df.agg(min(col(c)).cast("double"),
        max(col(c)).cast("double")).head()
      val (mn, mx) = (g.getDouble(0), g.getDouble(1))
      val rows = df.groupBy(col("f"))
        .agg(((max(col(c)) - min(col(c))).cast("double") / (mx - mn))
          .as("s"))
        .agg(avg(col("s"))).head()
      rows.getDouble(0)
    }

    // same data, same file count — both layouts round-trip
    assert(spark.read.parquet(zo).count() == li.count())
    // lexicographic: first column clustered, second spans ~everything
    assert(span(lex, "l_orderkey") < 0.3, span(lex, "l_orderkey"))
    assert(span(lex, "l_partkey") > 0.8, span(lex, "l_partkey"))
    // z-order: BOTH columns materially clustered — min/max footers can
    // prune scans filtered on either one
    assert(span(zo, "l_partkey") < 0.6 * span(lex, "l_partkey"),
      s"zo=${span(zo, "l_partkey")} lex=${span(lex, "l_partkey")}")
    assert(span(zo, "l_orderkey") < 0.8, span(zo, "l_orderkey"))
  }

  test("compact merges a fragmented layout to the target file count") {
    val d = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-compact").toString + "/t"
    val events = Tables.events(spark, d) // 1000 rows
    events.repartition(50).write.parquet(out)
    assert(spark.read.parquet(out).inputFiles.length == 50)

    val (rows, before) = Writers.compact(spark, out, targetRowsPerFile = 400)
    assert(rows == 1000 && before == 50)
    val after = spark.read.parquet(out)
    assert(after.inputFiles.length == 3) // ceil(1000/400)
    assert(after.count() == 1000)
  }

  test("deleteKeys rewrites only touched files; untouched files carry " +
      "over byte-identical; absent keys are a no-op") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-del").toString + "/t"
    // 4 files clustered by id range: ids 0-24, 25-49, 50-74, 75-99
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")).write.parquet(out)
    val pre = spark.read.parquet(out)
    assert(pre.inputFiles.length == 4)
    val preNames = pre.inputFiles.map(_.split('/').last).toSet
    // tombstones hit files 1 and 3 only
    val tomb = Seq(30L, 31L, 80L).toDF("id")
    val (deleted, touched, before) =
      Writers.deleteKeys(spark, out, "id", tomb)
    assert(deleted == 3 && before == 4 && touched.length == 2)
    val post = spark.read.parquet(out)
    assert(post.count() == 97)
    assert(post.filter(col("id").isin(30L, 31L, 80L)).count() == 0)
    // survivors of the touched files are intact
    assert(post.filter(col("id") === 32L).select(col("v"))
      .head.getString(0) == "v32")
    val postNames = post.inputFiles.map(_.split('/').last).toSet
    // exactly the touched files disappeared; untouched names remain
    assert((preNames -- postNames) == touched.toSet)
    assert((preNames -- touched.toSet).subsetOf(postNames))
    // a tombstone batch matching nothing must not rewrite anything
    val (d2, t2, b2) = Writers.deleteKeys(spark, out, "id",
      Seq(12345L).toDF("id"))
    assert(d2 == 0 && t2.isEmpty)
    assert(spark.read.parquet(out).inputFiles.map(_.split('/').last)
      .toSet == postNames)
    // deleting every remaining id in one file leaves the table readable
    val (d3, t3, _) = Writers.deleteKeys(spark, out, "id",
      (75 until 100).filter(_ != 80).map(_.toLong).toDF("id"))
    assert(d3 == 24 && t3.length == 1)
    assert(spark.read.parquet(out).count() == 73)
  }

  test("deleteKeys stages metadata before the swap and rescues " +
      "metadata stranded in a crashed old layout") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-del-meta").toString + "/t"
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")).write.parquet(t)
    // a ledger dir the table's ingest protocol owns — deleteKeys must
    // carry it through the swap with no window where the published
    // layout lacks it
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$t/_commits"))
    fs.create(new org.apache.hadoop.fs.Path(s"$t/_commits/b7"), true)
      .close()
    val (d1, _, _) = Writers.deleteKeys(spark, t, "id", Seq(30L).toDF("id"))
    assert(d1 == 1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$t/_commits/b7")),
      "ledger lost across the COW swap")
    // RESCUE path: a pre-copy-era crash left metadata only in
    // ._delete_old (published layout lost it); the next run must
    // recover it before discarding the leftovers
    val old = new org.apache.hadoop.fs.Path(s"$t._delete_old")
    fs.mkdirs(new org.apache.hadoop.fs.Path(old, "_stranded"))
    fs.create(new org.apache.hadoop.fs.Path(s"$old/_stranded/marker"),
      true).close()
    val (d2, _, _) = Writers.deleteKeys(spark, t, "id", Seq(40L).toDF("id"))
    assert(d2 == 1)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$t/_stranded/marker")),
      "metadata stranded in ._delete_old was destroyed, not rescued")
    assert(!fs.exists(old))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$t/_commits/b7")))
    assert(spark.read.parquet(t).count() == 98)
  }

  test("zoneMapIngestCommitString and zoneMapIngestCommit2 commit " +
      "exactly once and keep pruning strict") {
    import spark.implicits._
    // STRING table: two batches + a replay + an empty batch
    val ts = Files.createTempDirectory("graft-zmis").toString + "/t"
    val b0 = (0 until 500).map(i => (i.toLong, f"n$i%04d")).toDF("id", "z")
    val b1 = (500 until 800).map(i => (i.toLong, f"n$i%04d")).toDF("id", "z")
    assert(SnapshotTable.commitAppendOnce(b0, ts, "z", 4, 0L, writerId = "w"))
    assert(SnapshotTable.commitAppendOnce(b1, ts, "z", 4, 1L, writerId = "w"))
    assert(!SnapshotTable.commitAppendOnce(b1, ts, "z", 4, 1L,
      writerId = "w"), "a replayed batch must short-circuit")
    assert(SnapshotTable.commitAppendOnce(b0.filter(col("id") < 0), ts,
      "z", 4, 2L, writerId = "w"))
    assert(SnapshotTable.read(spark, ts).count() == 800)
    val (cs, rs, tots) =
      SnapshotTable.readPrunedCol(spark, ts, "z", "n0100", "n0199")
    assert(rs > 0 && rs < tots, s"string probe read $rs of $tots")
    assert(cs.filter(col("z").between("n0100", "n0199")).count() == 100)
    // MORTON table: two batches + a replay; both dims prune after
    val t2 = Files.createTempDirectory("graft-zmi2").toString + "/t"
    val m0 = (0 until 1000).map(i =>
      (i.toLong, (i % 50).toDouble, (i * 13 % 997).toDouble))
      .toDF("id", "x", "y")
    val m1 = (1000 until 1600).map(i =>
      (i.toLong, (i % 50).toDouble, (i * 13 % 997).toDouble))
      .toDF("id", "x", "y")
    assert(SnapshotTable.commitAppendOnceZOrdered(m0, t2, "x", "y", 8, 0L,
      "w"))
    assert(SnapshotTable.commitAppendOnceZOrdered(m1, t2, "x", "y", 8, 1L,
      "w"))
    assert(!SnapshotTable.commitAppendOnceZOrdered(m1, t2, "x", "y", 8, 1L,
      "w"), "a replayed batch must short-circuit")
    val all = SnapshotTable.read(spark, t2)
    assert(all.count() == 1600)
    for ((c, lo, hi) <- Seq(("x", 5.0, 10.0), ("y", 100.0, 300.0))) {
      val (cand, read, total) =
        SnapshotTable.readPrunedCol(spark, t2, c, lo, hi)
      assert(read > 0 && read < total, s"$c-probe read $read of $total")
      assert(cand.filter(col(c).between(lo, hi)).count() ==
        all.filter(col(c).between(lo, hi)).count())
    }
  }

  test("full-table takedown leaves an empty, readable, zone-mapped " +
      "table that a later append revives") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-zm-takedown").toString + "/t"
    SnapshotTable.commitAppend(
      (0 until 200).map(i => (i.toLong, i.toDouble)).toDF("id", "z"),
      t, "z", 4)
    // every key deleted: zero survivors
    val (deleted, _) = SnapshotTable.commitDelete(spark, t, "id",
      (0L until 200L).toDF("id"), "z")
    assert(deleted == 200)
    // the table reads as EMPTY, not as a schema-inference crash
    val empty = SnapshotTable.read(spark, t)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "z"))
    // pruned readers degrade to a sound empty plan
    val (cand, read, _) = SnapshotTable.readPrunedCol(spark, t, "z",
      0.0, 1000.0)
    assert(read == 0 && cand.count() == 0)
    // and the table comes back to life: the next append's manifest
    // prunes strictly (no stale envelope to select against)
    SnapshotTable.commitAppend(
      (500 until 600).map(i => (i.toLong, i.toDouble)).toDF("id", "z"),
      t, "z", 2)
    assert(SnapshotTable.read(spark, t).count() == 100)
    val (c2, r2, tot2) = SnapshotTable.readPrunedCol(spark, t, "z",
      500.0, 540.0)
    assert(r2 > 0 && r2 < tot2, s"revived probe read $r2 of $tot2")
    assert(c2.filter(col("z").between(500.0, 540.0)).count() == 41)
    val (_, r3, _) = SnapshotTable.readPrunedCol(spark, t, "z", 0.0, 100.0)
    assert(r3 == 0, "the revived table should prune a now-empty range fully")
  }
}
