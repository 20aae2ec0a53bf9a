package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.between

/** The unified snapshot table (commit log + zone-map skipping in one
  * format): snapshot isolation, time travel, pruned reads at any
  * version, copy-on-write delete, vacuum retention, and the
  * pointer-swing crash window.
  */
class SnapshotTableSpec extends SparkSpec {

  import spark.implicits._

  private def rows(r: Range) =
    r.map(i => (i.toLong, i.toDouble, s"p${i % 7}")).toDF("id", "z", "tag")

  test("append commits are snapshot-isolated and time travel reads " +
      "each version bit for bit") {
    val t = Files.createTempDirectory("graft-snap").toString + "/t"
    assert(SnapshotTable.commitAppend(rows(0 until 500), t, "z", 4) == 1)
    val v1Sum = SnapshotTable.read(spark, t)
      .agg(sum(col("id"))).head.getLong(0)
    assert(SnapshotTable.commitAppend(rows(500 until 900), t, "z", 3) == 2)
    assert(SnapshotTable.read(spark, t).count() == 900)
    // v1 is unchanged by the later commit
    assert(SnapshotTable.read(spark, t, Some(1)).count() == 500)
    assert(SnapshotTable.read(spark, t, Some(1))
      .agg(sum(col("id"))).head.getLong(0) == v1Sum)
  }

  test("pruned reads descend the manifest pyramid soundly at every " +
      "version") {
    val t = Files.createTempDirectory("graft-snapp").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 1000), t, "z", 8)
    SnapshotTable.commitAppend(rows(1000 until 1500), t, "z", 4)
    for (v <- Seq(None, Some(1), Some(2));
         (lo, hi) <- Seq((0.0, 120.0), (450.0, 700.0), (1100.0, 1200.0),
           (5000.0, 9000.0), (-10.0, 20000.0))) {
      val (cand, read, total) =
        SnapshotTable.scan(spark, t, Seq(between("z", lo, hi)), v)
      val full = SnapshotTable.read(spark, t, v)
      assert(cand.filter(col("z").between(lo, hi)).count() ==
        full.filter(col("z").between(lo, hi)).count(),
        s"unsound skip v=$v [$lo,$hi]")
      assert(read <= total)
    }
    // a v1-era probe on a range only v2 covers reads zero files at v1
    val (_, r1, _) = SnapshotTable.scan(spark, t,
      Seq(between("z", 1100, 1200)), Some(1))
    assert(r1 == 0)
    // and a strict subset at v2
    val (_, r2, tot2) = SnapshotTable.scan(spark, t,
      Seq(between("z", 1100, 1200)))
    assert(r2 > 0 && r2 < tot2)
  }

  test("a probe that prunes every file answers an empty relation of the " +
      "committed schema, with no file relation in its plan") {
    val t = Files.createTempDirectory("graft-snapep").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 400), t, "z", 4)
    val (cand, read, total) =
      SnapshotTable.scan(spark, t, Seq(between("z", 5000.0, 9000.0)))
    assert(read == 0 && total == 4)
    assert(cand.count() == 0)
    assert(cand.schema == SnapshotTable.read(spark, t).schema)
    val plan = cand.queryExecution.analyzed
    assert(plan.collect { case r: org.apache.spark.sql.execution
      .datasources.LogicalRelation => r }.isEmpty, plan.treeString)
  }

  test("copy-on-write delete: the new version loses exactly the keys, " +
      "old versions stay intact, untouched manifests carry by reference") {
    val t = Files.createTempDirectory("graft-snapd").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 600), t, "z", 4)
    SnapshotTable.commitAppend(rows(600 until 1000), t, "z", 4)
    // keys living only in v2's range: v1's manifest must survive
    // untouched (by-reference carry), v2's gets rewritten
    val (deleted, v) = SnapshotTable.commitDelete(spark, t, "id",
      (700L until 750L).toDF("id"), "z")
    assert(deleted == 50 && v == 3)
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 950)
    assert(latest.filter(col("id").between(700, 749)).count() == 0)
    assert(SnapshotTable.read(spark, t, Some(2)).count() == 1000)
    assert(SnapshotTable.read(spark, t, Some(2))
      .filter(col("id").between(700, 749)).count() == 50)
    val refs3 = SnapshotTable.snapshot(t, Some(3)).map(_.name)
    assert(refs3.contains("m-1.json"),
      s"v1's untouched manifest should carry by reference: $refs3")
    assert(!refs3.contains("m-2.json"),
      s"v2's touched manifest must not carry unrewritten: $refs3")
    // deleting keys that match nothing is a no-op commit: an id outside
    // every file's bounds (plans no file), and a tag inside every
    // file's [p0, p6] bounds (plans every file; the probe finds no row)
    for ((c, keys) <- Seq("id" -> Seq(999999L).toDF("id"),
        "tag" -> Seq("p3x").toDF("tag"))) {
      val (d0, v0) = SnapshotTable.commitDelete(spark, t, c, keys, "z")
      assert(d0 == 0 && v0 == 3, s"$c: ($d0, $v0)")
    }
    assert(SnapshotTable.latestVersion(t).contains(3))
    // pruning stays strict after the delete
    val (cand, read, total) = SnapshotTable.scan(spark, t,
      Seq(between("z", 100, 200)))
    assert(read > 0 && read < total)
    assert(cand.filter(col("z").between(100, 200)).count() == 101)
  }

  test("vacuum reclaims unreferenced versions; retained reads are " +
      "unaffected") {
    val t = Files.createTempDirectory("graft-snapv").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 300), t, "z", 3)
    SnapshotTable.commitAppend(rows(300 until 500), t, "z", 2)
    val (deleted, _) = SnapshotTable.commitDelete(spark, t, "id",
      (0L until 300L by 2).toDF("id"), "z")
    assert(deleted == 150)
    // keepLast=2 retains v2+v3; v1's files are still referenced BY v2
    // (the COW carry), so only the v1 snapshot entry goes — no data
    // file may be reclaimed while any retained snapshot lists it
    val (sDel2, fDel2) = SnapshotTable.vacuum(t, keepLast = 2)
    assert(sDel2 == 1 && fDel2 == 0, s"vacuum removed ($sDel2, $fDel2)")
    assert(SnapshotTable.read(spark, t, Some(2)).count() == 500)
    // keepLast=1 retains only v3: the files the delete replaced are now
    // unreferenced and reclaimed; v2 stops being time-travelable
    val (sDel1, fDel1) = SnapshotTable.vacuum(t, keepLast = 1)
    assert(sDel1 == 1 && fDel1 > 0, s"vacuum removed ($sDel1, $fDel1)")
    assert(SnapshotTable.read(spark, t, Some(3)).count() == 350)
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, t, Some(2))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, t, Some(1))
    }
    // pruning still sound on the survivors
    val (cand, _, _) = SnapshotTable.scan(spark, t, Seq(between("z", 0, 100)))
    assert(cand.filter(col("z").between(0, 100)).count() ==
      SnapshotTable.read(spark, t).filter(col("z").between(0, 100))
        .count())
  }

  test("commitMerge upserts copy-on-write: matched keys replaced, new " +
      "keys inserted, untouched manifests carried, history intact") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-snapmg").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 500), t, "z", 4)
    SnapshotTable.commitAppend(rows(500 until 900), t, "z", 4)
    // updates hit only v2's key range; inserts are brand-new keys
    val changes = (700 until 720).map(i =>
        (i.toLong, i * 10.0, "upd")) ++
      (5000 until 5010).map(i => (i.toLong, i.toDouble, "ins"))
    val (replaced, carried, v) = SnapshotTable.commitMerge(spark, t,
      changes.toDF("id", "z", "tag"), "id", "z")
    assert(v == 3 && replaced > 0 && carried > 0)
    val refs3 = SnapshotTable.snapshot(t, Some(3)).map(_.name)
    assert(refs3.contains("m-1.json"),
      s"v1's untouched manifest should carry by reference: $refs3")
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 910)
    // matched rows really replaced (z rewritten), inserts present
    assert(latest.filter(col("id") === 705L).head.getDouble(1) == 7050.0)
    assert(latest.filter(col("tag") === "upd").count() == 20)
    assert(latest.filter(col("tag") === "ins").count() == 10)
    // the pre-merge version still reads the ORIGINAL values
    val pre = SnapshotTable.read(spark, t, Some(2))
    assert(pre.count() == 900)
    assert(pre.filter(col("id") === 705L).head.getDouble(1) == 705.0)
    // multiple change rows per MATCHED key are rejected
    val dup = Seq((700L, 1.0, "a"), (700L, 2.0, "b")).toDF("id", "z", "tag")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitMerge(spark, t, dup, "id", "z")
    }
    assert(e.getMessage.contains("multiple rows per matched key"))
    // pruning stays strict and sound over the merged layout
    val (cand, read, total) = SnapshotTable.scan(spark, t,
      Seq(between("z", 0, 300)))
    assert(read > 0 && read < total)
    assert(cand.filter(col("z").between(0, 300)).count() ==
      latest.filter(col("z").between(0, 300)).count())
    // duplicate change keys that match NO target row are legal MERGE:
    // both rows insert...
    SnapshotTable.commitMerge(spark, t,
      Seq((7777L, 1.0, "ins-a"), (7777L, 2.0, "ins-b"))
        .toDF("id", "z", "tag"), "id", "z")
    assert(SnapshotTable.read(spark, t).filter(col("id") === 7777L)
      .count() == 2)
    // ...and once duplicated in the TARGET, a later change matching that
    // key is a multiple-target match and is rejected, committing nothing
    val vDup = SnapshotTable.latestVersion(t)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.commitMerge(spark, t,
        Seq((7777L, 3.0, "x"), (7777L, 4.0, "y")).toDF("id", "z", "tag"),
        "id", "z")
    }
    assert(e2.getMessage.contains("multiple rows per matched key"))
    assert(SnapshotTable.latestVersion(t) == vDup)
  }

  test("commitMerge delete arm: latest view only, history kept until " +
      "vacuum") {
    val t = Files.createTempDirectory("graft-snapmd").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 400), t, "z", 4)
    // one commit: update 1-2, insert 1001, DELETE 3-5 and 111; the
    // absent 99999 is a WHEN MATCHED no-op
    val (replaced, carried, v) = SnapshotTable.commitMerge(spark, t,
      Seq((1L, 1.0, "upd"), (2L, 2.0, "upd"), (1001L, 1001.0, "ins"))
        .toDF("id", "z", "tag"), "id", "z",
      deletes = Some(Seq(3L, 4L, 5L, 111L, 99999L).toDF("id")))
    assert(v == 2 && replaced == 2 && carried == 2,
      (replaced, carried, v))
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 400 - 4 + 1)
    assert(latest.filter(col("id").isin(3L, 4L, 5L, 111L)).count() == 0)
    assert(latest.filter(col("tag") === "upd").count() == 2)
    assert(latest.filter(col("id") === 1001L).count() == 1)
    // the previous version still reads every deleted row
    val old = SnapshotTable.read(spark, t, Some(1))
    assert(old.count() == 400)
    assert(old.filter(col("id").isin(3L, 4L, 5L, 111L)).count() == 4)
    // a key in BOTH arms is order-dependent: rejected, nothing commits
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitMerge(spark, t,
        Seq((7L, 7.0, "x")).toDF("id", "z", "tag"), "id", "z",
        deletes = Some(Seq(7L).toDF("id")))
    }
    assert(e.getMessage.contains("both changes and deletes"))
    assert(SnapshotTable.latestVersion(t).contains(2))
    // vacuum to the latest snapshot reclaims exactly the replaced files
    // and ends the deleted rows' travelability
    assert(SnapshotTable.vacuum(t, keepLast = 1) == ((1, replaced)))
    assert(SnapshotTable.read(spark, t).count() == 397)
  }

  test("commitAppendOnce is exactly-once across both replay windows") {
    val t = Files.createTempDirectory("graft-snapso").toString + "/t"
    // batch 0 commits; a replay of the SAME batch id (crash after the
    // pointer swing) must short-circuit without a new version
    assert(SnapshotTable.commitAppendOnce(rows(0 until 300), t, "z", 3, 0L))
    assert(!SnapshotTable.commitAppendOnce(rows(0 until 300), t, "z", 3, 0L))
    assert(SnapshotTable.latestVersion(t).contains(1))
    assert(SnapshotTable.read(spark, t).count() == 300)
    // crash BEFORE the swing: a dead attempt left v2 orphans (data +
    // manifest + snapshot, no pointer) — the retry sweeps them and
    // commits the real batch exactly once
    rows(900 until 920).coalesce(1).write.mode("overwrite")
      .parquet(s"$t/_log/_stage_dead")
    val dead = Files.list(Paths.get(s"$t/_log/_stage_dead")).iterator()
    val part = Iterator.continually(dead).flatMap(p =>
      if (p.hasNext) Some(p.next()) else None)
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.move(part, Paths.get(t, "v2-p00000.parquet"))
    Files.write(Paths.get(s"$t/_log/m-2.json"),
      """{"file":"v2-p00000.parquet","z_min":900.0,"z_max":919.0,"rows":20}"""
        .getBytes("UTF-8"))
    assert(SnapshotTable.commitAppendOnce(rows(300 until 500), t, "z", 2, 1L))
    assert(SnapshotTable.latestVersion(t).contains(2))
    val got = SnapshotTable.read(spark, t)
    assert(got.count() == 500)
    assert(got.filter(col("id") >= 900).count() == 0,
      "dead attempt's orphan rows leaked into the committed snapshot")
    // a NON-batch commit after the stream CARRIES the stream's batch
    // id forward (the background-compaction-between-crash-and-restart
    // window): the replay of batch 1 must STILL short-circuit, and a
    // genuinely new batch must still commit
    SnapshotTable.commitAppend(rows(500 until 550), t, "z", 1)
    assert(!SnapshotTable.commitAppendOnce(rows(300 until 500), t, "z", 2, 1L),
      "an interleaved non-streaming commit erased the stream's " +
        "provenance - the replayed batch committed twice")
    assert(SnapshotTable.read(spark, t).count() == 550)
    assert(SnapshotTable.commitAppendOnce(rows(550 until 560), t, "z", 1, 2L),
      "a new batch id must commit after the carried provenance")
    assert(SnapshotTable.read(spark, t).count() == 560)
  }

  test("compactCommit merges the fragmented layout as a new version; " +
      "the pre-compact version still reads the original files") {
    val t = Files.createTempDirectory("graft-snapcp").toString + "/t"
    // five tiny per-batch commits fragment the layout
    for (b <- 0 until 5)
      SnapshotTable.commitAppendOnce(
        rows(b * 100 until (b + 1) * 100), t, "z", 3, b.toLong)
    val vPre = SnapshotTable.latestVersion(t).get
    val preFiles = SnapshotTable.snapshot(t, Some(vPre)).map(_.files).sum
    val (before, after, v) =
      SnapshotTable.compactCommit(spark, t, "z", 200L)
    assert(before == preFiles && after < before && v == vPre + 1,
      s"compact $before -> $after at v$v")
    // same rows, fresh layout
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 500)
    assert(latest.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 500L).sum)
    assert(latest.inputFiles.length == after)
    // the pre-compact version is untouched
    assert(SnapshotTable.read(spark, t, Some(vPre)).count() == 500)
    // pruning stays strict over the compacted layout
    val (cand, read, total) = SnapshotTable.scan(spark, t,
      Seq(between("z", 100, 180)))
    assert(read > 0 && read < total)
    assert(cand.filter(col("z").between(100, 180)).count() == 81)
    // vacuum to the compacted version reclaims every pre-compact file
    val (sDel, fDel) = SnapshotTable.vacuum(t, keepLast = 1)
    assert(sDel == vPre && fDel == preFiles, s"vacuum ($sDel, $fDel)")
    assert(SnapshotTable.read(spark, t).count() == 500)
  }

  test("compactSmallFiles rewrites only the small tail, carries big " +
      "files by name, and partially materializes live tombstones " +
      "without breaking sequence scoping") {
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("graft-snapcs").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 350), t, "z", 2) // 2x175 big
    SnapshotTable.commitAppend(rows(350 until 400), t, "z", 2) // 2x25 small
    // hand-merge m-2's lines into m-1.json: a MIXED manifest (the API
    // writes even files; production mixtures arrive from upstream) —
    // the sharp edge is a partial rewrite of a manifest whose carried
    // rows still owe a tombstone
    val log = Paths.get(t, "_log")
    val merged = (Files.readAllLines(log.resolve("m-1.json")).asScala ++
      Files.readAllLines(log.resolve("m-2.json")).asScala).asJava
    Files.write(log.resolve("m-1.json"), merged)
    Files.delete(log.resolve("m-2.json"))
    Files.write(log.resolve("v2"),
      ("""{"manifest":"m-1.json","z_min":0.0,"z_max":399.0,""" +
        """"files":4,"rows":400}""").getBytes("UTF-8"))
    assert(SnapshotTable.read(spark, t).count() == 400)
    // tombstone hits BOTH eras: big-file rows and small-file rows
    SnapshotTable.commitDeleteMor(spark, t, "id",
      ((10L until 20L) ++ (360L until 370L)).toDF("id"))
    assert(SnapshotTable.read(spark, t).count() == 380)
    val (compacted, carried, v) =
      SnapshotTable.compactSmallFiles(spark, t, "z", 100L, 200L)
    assert(compacted == 2 && carried == 2 && v == 4,
      s"($compacted, $carried, $v)")
    // the rewrite manifest keeps the ORIGINAL manifest version in its
    // name; tombstone refs carried too
    assert(SnapshotTable.snapshot(t, Some(v)).map(_.name)
      .contains(s"m-1-r$v-1.json"))
    assert(SnapshotTable.deleteRefs(t).nonEmpty)
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 380)
    // sequence scoping held: the carried big-file rows still owe the
    // tombstone (a version-renumbered rewrite would resurrect 10..19)
    assert(latest.filter(col("id").between(10, 19)).count() == 0,
      "carried rows escaped their tombstone - scoping broke")
    // and the small rows were materialized (physically gone)
    assert(latest.filter(col("id").between(360, 369)).count() == 0)
    // fewer than two small files: a no-op that keeps the version
    val (c0, _, v0) = SnapshotTable.compactSmallFiles(spark, t, "z",
      100L, 200L)
    assert(c0 == 0 && v0 == v)
    // pruning stays strict and sound over the mixed layout
    val (cand, rd, tot) = SnapshotTable.scan(spark, t,
      Seq(between("z", 300, 399)))
    assert(rd > 0 && rd < tot)
    assert(cand.filter(col("z").between(300, 399)).count() == 90)
    // a full compact afterwards materializes everything
    SnapshotTable.compactCommit(spark, t, "z", 400L)
    assert(SnapshotTable.deleteRefs(t).isEmpty)
    assert(SnapshotTable.read(spark, t).count() == 380)
  }

  test("incrementalAgg maintains a grouped count+sum exactly: groups " +
      "drop at zero, merge pairs net, empty deltas no-op") {
    val t = Files.createTempDirectory("graft-snapmv").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 300), t, "z", 3)
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("tag")).agg(count(lit(1)).as("n"),
        sum(col("z")).as("z"))
    var mv = aggOf(SnapshotTable.read(spark, t)).localCheckpoint()
    // leg 1: append
    SnapshotTable.commitAppend(rows(300 until 400), t, "z", 1)
    // leg 2: delete EVERY p3 row — the group must drop out of the view
    val p3 = (0 until 400).filter(_ % 7 == 3).map(_.toLong)
    SnapshotTable.commitDelete(spark, t, "id", p3.toDF("id"), "z")
    // leg 3: merge that only UPDATES (CDC pairs must net, counts flat)
    SnapshotTable.commitMerge(spark, t,
      Seq((0L, 1000.0, "p0")).toDF("id", "z", "tag"), "id", "z")
    for (Seq(a, b) <- (1 to 4).sliding(2)) {
      val (ch, _, _) = SnapshotTable.readChanges(spark, t, a, b)
      mv = SnapshotTable.incrementalAgg(mv, ch, Seq("tag"), Seq("z"))
        .localCheckpoint()
    }
    val fresh = aggOf(SnapshotTable.read(spark, t))
    assert(mv.exceptAll(fresh).isEmpty && fresh.exceptAll(mv).isEmpty,
      "maintained view diverged from recompute")
    assert(mv.filter(col("tag") === "p3").count() == 0,
      "fully-deleted group must leave the view")
    assert(mv.count() == 6)
    // counts unchanged by the update leg, sum moved by exactly the delta
    assert(mv.filter(col("tag") === "p0").head.getLong(1) ==
      fresh.filter(col("tag") === "p0").head.getLong(1))
    // an empty delta is a no-op
    val (same, _, _) = SnapshotTable.readChanges(spark, t, 4, 4)
    val mv2 = SnapshotTable.incrementalAgg(mv, same, Seq("tag"), Seq("z"))
    assert(mv2.exceptAll(mv).isEmpty && mv.exceptAll(mv2).isEmpty)
  }

  test("merge-on-read delete: O(metadata) tombstone commit, sequence-" +
      "scoped reads, re-inserts survive, compaction materializes") {
    val t = Files.createTempDirectory("graft-snapmor").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 1000), t, "z", 8)
    val (nTomb, v2) = SnapshotTable.commitDeleteMor(spark, t, "id",
      (100L until 160L).toDF("id"))
    assert(nTomb == 60 && v2 == 2)
    // NO data file was touched: v2 lists exactly v1's manifests
    assert(SnapshotTable.snapshot(t, Some(2)).map(_.name) ==
      SnapshotTable.snapshot(t, Some(1)).map(_.name))
    assert(SnapshotTable.deleteRefs(t).map(_.rows) == Seq(60L))
    // reads apply the tombstone; v1 still reads everything
    assert(SnapshotTable.read(spark, t).count() == 940)
    assert(SnapshotTable.read(spark, t)
      .filter(col("id").between(100, 159)).count() == 0)
    assert(SnapshotTable.read(spark, t, Some(1)).count() == 1000)
    // pruned reads stay sound under the tombstone
    val (cand, read2, tot2) = SnapshotTable.scan(spark, t,
      Seq(between("z", 50, 300)))
    assert(read2 > 0 && read2 < tot2)
    assert(cand.filter(col("z").between(50, 300)).count() == 191)
    // sequence scoping: a LATER append re-inserting deleted keys
    // survives the older tombstone
    SnapshotTable.commitAppend(
      (100L until 110L).map(i => (i, i.toDouble, "re")).toDF("id", "z", "tag"),
      t, "z", 1)
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 950)
    assert(latest.filter(col("id") === 105L).count() == 1)
    // a SECOND tombstone composes (and hits both eras it postdates)
    SnapshotTable.commitDeleteMor(spark, t, "id",
      Seq(105L, 500L).toDF("id"))
    assert(SnapshotTable.read(spark, t).count() == 948)
    // COW rewrites and metadata stats refuse until compaction
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete(spark, t, "id", Seq(1L).toDF("id"), "z")
    }
    intercept[IllegalArgumentException] { SnapshotTable.statsAggCol(t, "z") }
    intercept[IllegalArgumentException] {
      SnapshotTable.readChanges(spark, t, 2, 4)
    }
    // compaction materializes the tombstones and drops the refs
    val vPre = SnapshotTable.latestVersion(t).get
    SnapshotTable.compactCommit(spark, t, "z", 500L)
    assert(SnapshotTable.deleteRefs(t).isEmpty)
    val compacted = SnapshotTable.read(spark, t)
    assert(compacted.count() == 948)
    assert(compacted.filter(col("id") === 105L).count() == 0)
    assert(compacted.filter(col("id") === 106L).count() == 1)
    // the pre-compact version still applies its tombstones when read
    assert(SnapshotTable.read(spark, t, Some(vPre)).count() == 948)
    // stats answer again after materialization
    val (n, _) = SnapshotTable.statsAggCol(t, "z")
    assert(n == 948)
    // vacuum keeps tombstone files while a retained snapshot lists them
    val (_, _) = SnapshotTable.vacuum(t, keepLast = 2)
    assert(SnapshotTable.read(spark, t, Some(vPre)).count() == 948,
      "retained pre-compact read lost its tombstone file")
    SnapshotTable.vacuum(t, keepLast = 1)
    assert(Option(new java.io.File(t).listFiles()).get
      .forall(f => !f.getName.contains("-d0")),
      "unreferenced tombstone files must be reclaimed")
    assert(SnapshotTable.read(spark, t).count() == 948)
  }

  test("schema evolution: the commit log carries the merged schema, " +
      "time travel sees the version's own, COW rewrites keep evolved " +
      "columns, type changes are rejected") {
    val t = Files.createTempDirectory("graft-snapse").toString + "/t"
    SnapshotTable.commitAppend(
      (0 until 400).map(i => (i.toLong, i.toDouble)).toDF("id", "z"),
      t, "z", 4)
    // evolve: a new string column arrives with the second commit
    SnapshotTable.commitAppend(
      (400 until 600).map(i => (i.toLong, i.toDouble, s"t${i % 3}"))
        .toDF("id", "z", "tag"), t, "z", 2)
    val latest = SnapshotTable.read(spark, t)
    assert(latest.schema.fieldNames.toSeq == Seq("id", "z", "tag"))
    assert(latest.filter(col("tag").isNull).count() == 400)
    assert(latest.filter(col("tag") === "t0").count() ===
      (400 until 600).count(_ % 3 == 0))
    // time travel reads v1 under v1's OWN schema
    assert(SnapshotTable.read(spark, t, Some(1))
      .schema.fieldNames.toSeq == Seq("id", "z"))
    // pruned reads carry the version schema too
    val (cand, _, _) = SnapshotTable.scan(spark, t,
      Seq(between("z", 450.0, 500.0)))
    assert(cand.schema.fieldNames.contains("tag"))
    // the sharp edge: a COW delete touching old- AND new-schema files
    // rewrites survivors together without dropping the evolved column
    SnapshotTable.commitDelete(spark, t,
      "id", (Seq(100L, 500L)).toDF("id"), "z")
    val after = SnapshotTable.read(spark, t)
    assert(after.count() == 598)
    assert(after.filter(col("tag").isNotNull).count() == 199)
    assert(after.filter(col("id") === 501L).select(col("tag"))
      .head.getString(0) == "t0")
    // merge inserts with the evolved schema; pre-evolution survivors null
    SnapshotTable.commitMerge(spark, t,
      Seq((100L, 100.0, "back")).toDF("id", "z", "tag"), "id", "z")
    assert(SnapshotTable.read(spark, t)
      .filter(col("tag") === "back").count() == 1)
    // a type change is rejected outright
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(
        (0 until 5).map(i => (i.toLong, i.toDouble, i))
          .toDF("id", "z", "tag"), t, "z", 1)
    }
    assert(e.getMessage.contains("cannot change the type"))
    // readChanges under an evolved span compares like with like
    val (c12, _, _) = SnapshotTable.readChanges(spark, t, 1, 2)
    assert(c12.filter(col("_change") === "insert").count() == 200)
    assert(c12.schema.fieldNames.contains("tag"))
  }

  test("readChanges diffs versions at O(delta): appends emit inserts " +
      "only, COW survivors cancel, merges emit delete+insert pairs") {
    val t = Files.createTempDirectory("graft-snapch").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 600), t, "z", 6)
    SnapshotTable.commitAppend(rows(600 until 800), t, "z", 2)
    // append leg: only v2's two files read, inserts only
    val (c12, fr12, tot12) = SnapshotTable.readChanges(spark, t, 1, 2)
    assert(fr12 == 2 && tot12 == 8)
    assert(c12.filter(col("_change") === "delete").count() == 0)
    assert(c12.filter(col("_change") === "insert").count() == 200)
    assert(c12.agg(sum(col("id"))).head.getLong(0) ==
      (600L until 800L).sum)
    // same-version diff is empty without reading anything
    val (c22, fr22, _) = SnapshotTable.readChanges(spark, t, 2, 2)
    assert(fr22 == 0 && c22.count() == 0)
    // COW delete leg: the touched files' survivors land on BOTH sides
    // of the file diff and must cancel — deletes only, exactly the keys
    SnapshotTable.commitDelete(spark, t, "id",
      (100L until 130L).toDF("id"), "z")
    val (c23, _, _) = SnapshotTable.readChanges(spark, t, 2, 3)
    assert(c23.filter(col("_change") === "insert").count() == 0,
      "rewritten survivors leaked as inserts")
    val dels = c23.filter(col("_change") === "delete")
    assert(dels.count() == 30)
    assert(dels.agg(sum(col("id"))).head.getLong(0) ==
      (100L until 130L).sum)
    // merge leg: updates surface as CDC pairs (old row delete, new row
    // insert), brand-new keys as bare inserts
    val changes = ((200 until 210).map(i => (i.toLong, i * 10.0, "upd")) ++
      Seq((9000L, 9000.0, "new"))).toDF("id", "z", "tag")
    SnapshotTable.commitMerge(spark, t, changes, "id", "z")
    val (c34, _, _) = SnapshotTable.readChanges(spark, t, 3, 4)
    val ins34 = c34.filter(col("_change") === "insert")
    val del34 = c34.filter(col("_change") === "delete")
    assert(ins34.count() == 11 && del34.count() == 10)
    assert(ins34.filter(col("tag") === "upd").count() == 10)
    assert(del34.agg(sum(col("id"))).head.getLong(0) ==
      (200L until 210L).sum)
    // multi-version span composes the legs: vs v1, inserts are the
    // appended 200 plus the 10 updated rows plus the new key; deletes
    // are the 30 COW-deleted plus the 10 pre-update rows
    val (c14, _, _) = SnapshotTable.readChanges(spark, t, 1, 4)
    assert(c14.filter(col("_change") === "insert").count() == 211)
    assert(c14.filter(col("_change") === "delete").count() == 40)
  }

  test("statsAgg and countRange answer from metadata: zero files for " +
      "unbounded aggregates, straddle-only scans for ranges") {
    val t = Files.createTempDirectory("graft-snapsa").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 800), t, "z", 8)
    SnapshotTable.commitAppend(rows(800 until 1000), t, "z", 2)
    val (n, Some((_, mn, mx))) = SnapshotTable.statsAggCol(t, "z")
    assert(n == 1000 && mn.toDouble == 0.0 && mx.toDouble == 999.0)
    // unbounded count: every file fully inside, nothing scanned
    val (nF, metaF, scanF, totF) = SnapshotTable.countRange(spark, t, "z",
      None, None)
    assert(nF == 1000 && metaF == 1000 && scanF == 0 && totF == 10)
    // a mid-range count: exact, with a strict straddle subset and a
    // real metadata contribution (the 8 v1 files each span 100 ids)
    val (nR, metaR, scanR, _) = SnapshotTable.countRange(spark, t, "z",
      Some(50.0), Some(449.0))
    assert(nR == 400, s"range count $nR")
    assert(metaR > 0 && scanR > 0 && scanR < totF,
      s"meta=$metaR scanned=$scanR/$totF")
    // disjoint range: zero everything
    val (n0, meta0, scan0, _) = SnapshotTable.countRange(spark, t, "z",
      Some(5000.0), Some(9000.0))
    assert(n0 == 0 && meta0 == 0 && scan0 == 0)
    // boundary-exact: bounds are inclusive min/max, so a range that
    // ENDS exactly on a file boundary keeps that file metadata-only
    val (nB, _, _, _) = SnapshotTable.countRange(spark, t, "z",
      Some(0.0), Some(99.0))
    assert(nB == 100)
    // versioned: v1's stats exclude the later commit
    val (n1, Some((_, mn1, mx1))) =
      SnapshotTable.statsAggCol(t, "z", Some(1))
    assert(n1 == 800 && mn1.toDouble == 0.0 && mx1.toDouble == 799.0)
    // stats stay exact after a COW delete rewrites bounds
    SnapshotTable.commitDelete(spark, t, "id",
      (990L until 1000L).toDF("id"), "z")
    val (nD, Some((_, _, mxD))) = SnapshotTable.statsAggCol(t, "z")
    assert(nD == 990 && mxD.toDouble == 989.0)
    val (nRD, _, _, _) = SnapshotTable.countRange(spark, t, "z",
      Some(900.0), Some(2000.0))
    assert(nRD == 90)
  }

  test("dead tombstone and compaction attempts are invisible and " +
      "swept by the retry") {
    val t = Files.createTempDirectory("graft-snapdw").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 200), t, "z", 2)
    // a MOR delete that died between the tombstone-file move and the
    // snapshot write: the orphan d-file references nothing and readers
    // see v1 untouched
    (900L until 910L).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(s"$t/_log/_stage_dead")
    val part = Files.list(Paths.get(s"$t/_log/_stage_dead")).iterator()
    val first = Iterator.continually(part).flatMap(p =>
      if (p.hasNext) Some(p.next()) else None)
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.move(first, Paths.get(t, "v2-d00000.parquet"))
    assert(SnapshotTable.latestVersion(t).contains(1))
    assert(SnapshotTable.read(spark, t).count() == 200)
    assert(SnapshotTable.deleteRefs(t).isEmpty)
    // the retry sweeps the orphan and commits the REAL tombstone
    val (n, v) = SnapshotTable.commitDeleteMor(spark, t, "id",
      (0L until 5L).toDF("id"))
    assert(n == 5 && v == 2)
    assert(SnapshotTable.read(spark, t).count() == 195)
    // the swept orphan's keys (900..909) never took effect
    assert(SnapshotTable.read(spark, t)
      .filter(col("id") >= 100).count() == 100)
    // a compactSmallFiles attempt that died after writing its
    // carry-rewrite manifest but before the pointer swing: the
    // original-version rewrite name (m-1-r3-1) must be swept by the
    // v3 retry, not mistaken for live metadata
    Files.write(Paths.get(s"$t/_log/m-1-r3-1.json"),
      """{"file":"v9-p00000.parquet","z_min":0.0,"z_max":1.0,"rows":1}"""
        .getBytes("UTF-8"))
    SnapshotTable.commitAppend(rows(200 until 300), t, "z", 1) // v3
    assert(!Files.exists(Paths.get(s"$t/_log/m-1-r3-1.json")),
      "dead carry-rewrite manifest survived the v3 retry sweep")
    assert(SnapshotTable.read(spark, t).count() == 295)
  }

  test("a commit that dies before the pointer swing is invisible and " +
      "swept by the retry") {
    val t = Files.createTempDirectory("graft-snapc").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 200), t, "z", 2)
    // simulate the dead attempt: v2 data + manifest + snapshot written,
    // pointer NEVER swung — readers must still see v1
    rows(200 until 260).coalesce(1).write.mode("overwrite")
      .parquet(s"$t/_log/_stage2")
    val part = Files.list(Paths.get(s"$t/_log/_stage2")).iterator()
    val first = Iterator.continually(part).flatMap(p =>
      if (p.hasNext) Some(p.next()) else None)
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.move(first, Paths.get(t, "v2-p00000.parquet"))
    Files.write(Paths.get(s"$t/_log/m-2.json"),
      """{"file":"v2-p00000.parquet","z_min":200.0,"z_max":259.0,"rows":60}"""
        .getBytes("UTF-8"))
    Files.write(Paths.get(s"$t/_log/v2"),
      """{"manifest":"m-2.json","z_min":200.0,"z_max":259.0,"files":1,"rows":60}"""
        .getBytes("UTF-8"))
    assert(SnapshotTable.latestVersion(t).contains(1))
    assert(SnapshotTable.read(spark, t).count() == 200)
    // the retry sweeps the orphans and commits the REAL batch
    assert(SnapshotTable.commitAppend(rows(200 until 300), t, "z", 2) == 2)
    assert(SnapshotTable.read(spark, t).count() == 300)
    assert(SnapshotTable.read(spark, t)
      .filter(col("id").between(200, 259)).count() == 60)
  }

  test("planned COW delete finds touched files through the key " +
      "column's bounds instead of scanning the table") {
    val t = Files.createTempDirectory("graft-snappd").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 800), t, "z", 8)
    SnapshotTable.commitAppend(rows(800 until 1200), t, "z", 4)
    // narrow key band: the id column is range-clustered with z, so the
    // per-file id bounds confine the candidates to a couple of files
    val (deleted, planned, total, v) = SnapshotTable.commitDeletePlanned(
      spark, t, "id", (700L until 750L).toDF("id"), "z")
    assert(deleted == 50 && v == 3)
    assert(planned > 0 && planned < total,
      s"planning must prune through the pyramid: read $planned/$total")
    assert(SnapshotTable.read(spark, t).count() == 1150)
    assert(SnapshotTable.read(spark, t)
      .filter(col("id").between(700, 749)).count() == 0)
    // keys wholly OUTSIDE the table's key range plan ZERO files
    val (d0, p0, _, v0) = SnapshotTable.commitDeletePlanned(
      spark, t, "id", Seq(50000L, 60000L).toDF("id"), "z")
    assert(d0 == 0 && p0 == 0 && v0 == 3,
      s"out-of-range keys must not open any file, planned $p0")
  }

  test("commitDelete counts rows off metadata, fully consumed files " +
      "included") {
    val t = Files.createTempDirectory("graft-snapdc").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 400), t, "z", 4)
    def live(v: Int) = SnapshotTable.statsAggCols(t, Nil, Some(v))._1
    // keys covering one whole range file: its survivors are empty, so
    // the rewrite records no file for it at all
    val (d1, v1) = SnapshotTable.commitDelete(spark, t, "id",
      (0L until 100L).toDF("id"), "z")
    assert(v1 == 2 && d1 == 100 && d1 == live(1) - live(2), (d1, v1))
    // a whole file plus part of another in one commit
    val (d2, v2) = SnapshotTable.commitDelete(spark, t, "id",
      ((100L until 200L) ++ (250L until 260L)).toDF("id"), "z")
    assert(v2 == 3 && d2 == 110 && d2 == live(2) - live(3), (d2, v2))
    assert(SnapshotTable.read(spark, t).count() == 190)
  }

  test("a first commitAppend whose task throws leaves no snapshot") {
    val t = Files.createTempDirectory("graft-snapff").toString + "/t"
    val boom = udf((i: Long) =>
      if (i == 99L) throw new RuntimeException("induced") else i)
    intercept[Exception] {
      SnapshotTable.commitAppend(
        rows(0 until 100).withColumn("id", boom(col("id"))), t, "z", 4)
    }
    assert(SnapshotTable.latestVersion(t).isEmpty)
    val e = intercept[IllegalArgumentException](SnapshotTable.read(spark, t))
    assert(e.getMessage.contains("no committed snapshot"))
  }

  test("escaped and line-break string values round-trip data and bounds") {
    val t = Files.createTempDirectory("graft-snapes").toString + "/t"
    // every value ends in a character the manifest line must escape or
    // carry verbatim, so every file's string min/max holds one
    val tails = Seq("\n", "\r", "\t", "\\", "\"", "]}", "\u0085",
      "\u2028")
    val vals = (0 until 400).map(i => f"k$i%03d" + tails(i % tails.size))
    SnapshotTable.commitAppend(vals.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "s"), t, "s", 8)
    val full = SnapshotTable.read(spark, t)
    assert(full.select("s").as[String].collect().sorted.toSeq ==
      vals.sorted)
    val (n, bounds) = SnapshotTable.statsAggCol(t, "s")
    assert(n == 400 && bounds == Some(("s", vals.min, vals.max)), bounds)
    // a probe bounded by such values stays sound and strict
    val (lo, hi) = (vals(100), vals(149))
    val (cand, read, total) =
      SnapshotTable.scan(spark, t, Seq(between("s", lo, hi)))
    assert(read > 0 && read < total, s"string prune $read/$total")
    assert(cand.filter(col("s").between(lo, hi)).count() == 50)
    val (one, oneRead, _) =
      SnapshotTable.scan(spark, t, Seq(between("s", vals(7), vals(7))))
    assert(oneRead == 1 && one.filter(col("s") === vals(7)).count() == 1)
  }

  test("planned COW merge confines the matched-file probe the same " +
      "way, and the fallback caps give the same answer") {
    val t = Files.createTempDirectory("graft-snappm").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 1000), t, "z", 10)
    val changes = rows(100 until 120)
      .withColumn("z", col("z") + 10000.0)
    val (replaced, _, planned, total, _) = SnapshotTable
      .commitMergePlanned(spark, t, changes, "id", "z")
    assert(replaced > 0 && planned > 0 && planned < total,
      s"merge planning must prune: $planned/$total")
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 1000)
    assert(latest.filter(col("z") >= 10000.0).count() == 20)
    // degraded caps: values beyond collectCap fall back to min/max
    // planning, keys beyond broadcastCap to a shuffle probe — SAME rows
    val (d2, p2, _, _) = SnapshotTable.commitDeletePlanned(spark, t,
      "id", (200L until 230L).toDF("id"), "z",
      collectKeyCap = 4, broadcastKeyCap = 2L)
    assert(d2 == 30, s"fallback path deleted $d2")
    assert(p2 > 0 && p2 < total)
    assert(SnapshotTable.read(spark, t).count() == 970)
    assert(SnapshotTable.read(spark, t)
      .filter(col("id").between(200, 229)).count() == 0)
  }

  test("typed pruned reads: string and date bounds prune strictly " +
      "and soundly") {
    val t = Files.createTempDirectory("graft-snapty").toString + "/t"
    val df = (0 until 400).map(i => (i.toLong, f"d$i%03d")).toDF("id", "day")
      .withColumn("dt",
        date_add(to_date(lit("2020-01-01")), col("id").cast("int")))
    // STRING cluster column: the typed envelopes do the skipping
    SnapshotTable.commitAppend(df, t, "day", 8)
    SnapshotTable.commitAppend(
      df.withColumn("id", col("id") + 400)
        .withColumn("day", concat(lit("e"), col("day"))), t, "day", 4)
    val full = SnapshotTable.read(spark, t)
    val (sCand, sRead, sTotal) =
      SnapshotTable.scan(spark, t, Seq(between("day", "d100", "d149")))
    assert(sRead > 0 && sRead < sTotal, s"string prune $sRead/$sTotal")
    assert(sCand.filter(col("day") >= "d100" && col("day") <= "d149")
      .count() ==
      full.filter(col("day") >= "d100" && col("day") <= "d149").count())
    val (dCand, dRead, dTotal) = SnapshotTable.scan(
      spark, t, Seq(between("dt", "2020-02-01", "2020-02-15")))
    assert(dRead > 0 && dRead < dTotal, s"date prune $dRead/$dTotal")
    assert(dCand
      .filter(col("dt").between(lit("2020-02-01"), lit("2020-02-15")))
      .count() ==
      full.filter(col("dt").between(lit("2020-02-01"), lit("2020-02-15")))
        .count())
    // a range beyond every recorded bound opens zero files
    val (_, zRead, _) =
      SnapshotTable.scan(spark, t, Seq(between("day", "zzz", "zzzz")))
    assert(zRead == 0)
    // pruning composes with time travel: v1 has no 'e…' days at all
    val (_, eRead, _) = SnapshotTable.scan(
      spark, t, Seq(between("day", "ed000", "ed050")), Some(1))
    assert(eRead == 0)
    // a 100,000-character string bound round-trips through the manifest
    // and snapshot lines (a regex that recursed per character would
    // overflow the stack parsing them) and still prunes exactly
    val long = "f" + "x" * 100000
    SnapshotTable.commitAppend(Seq((900L, long)).toDF("id", "day")
      .withColumn("dt", to_date(lit("2021-06-01"))), t, "day", 1)
    val (lCand, lRead, lTotal) =
      SnapshotTable.scan(spark, t, Seq(between("day", long, long)))
    assert(lRead == 1 && lRead < lTotal, s"long-bound prune $lRead/$lTotal")
    assert(lCand.filter(col("day") === long).count() == 1)
  }

  test("z-ordered append prunes typed probes on either dimension") {
    val t = Files.createTempDirectory("graft-snapzo").toString + "/t"
    val df = (0 until 4096)
      .map(i => (i.toLong, (i % 64).toDouble, (i / 64).toDouble))
      .toDF("id", "x", "y")
    SnapshotTable.commitAppendZOrdered(df, t, "x", "y", 16)
    for ((c, lo, hi, expect) <- Seq(("x", 10.0, 19.0, 64L * 10),
        ("y", 20.0, 27.0, 64L * 8))) {
      val (cand, read, total) =
        SnapshotTable.scan(spark, t, Seq(between(c, lo, hi)))
      assert(read > 0 && read < total, s"$c prune read $read/$total")
      assert(cand.filter(col(c).between(lo, hi)).count() == expect)
    }
    // the COW delete survives on a z-ordered table and keeps pruning
    val (deleted, _) = SnapshotTable.commitDelete(spark, t, "id",
      (0L until 64L).toDF("id"), "x")
    assert(deleted == 64)
    val (cand2, r2, t2) = SnapshotTable.scan(spark, t,
      Seq(between("y", 0.0, 0.0)))
    assert(r2 < t2)
    assert(cand2.filter(col("y") === 0.0).count() == 0)
  }

  test("merge-on-read merge: upsert from one tombstone and one append, " +
      "no existing file touched, compaction materializes") {
    val t = Files.createTempDirectory("graft-snapmm").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 600), t, "z", 4)
    SnapshotTable.commitAppend(rows(600 until 1000), t, "z", 4)
    val preNames = SnapshotTable.snapshot(t, Some(2)).map(_.name)
    // updates for 100..149 (z shifted up) + brand-new negated keys
    val changes = rows(100 until 150).withColumn("z", col("z") + 10000.0)
      .unionByName(rows(0 until 20)
        .select((-col("id") - 1L).as("id"), col("z"), col("tag")))
    val (nKeys, v3) =
      SnapshotTable.commitMergeMor(spark, t, changes, "id", "z", 2)
    assert(nKeys == 70 && v3 == 3)
    // the data side of v3 is v2's manifests VERBATIM plus the batch's
    assert(SnapshotTable.snapshot(t, Some(3)).map(_.name) ==
      preNames :+ "m-3.json",
      "MOR merge must not rewrite or drop any existing manifest")
    assert(SnapshotTable.deleteRefs(t).map(_.v) == Seq(3))
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 1020)
    assert(latest.filter(col("id").between(100, 149) &&
      col("z") < 10000.0).count() == 0, "old matched rows leaked")
    assert(latest.filter(col("id") < 0).count() == 20)
    // pre-merge version reads bit for bit
    assert(SnapshotTable.read(spark, t, Some(2)).count() == 1000)
    assert(SnapshotTable.read(spark, t, Some(2))
      .filter(col("z") >= 10000.0).count() == 0)
    // a LATER append re-inserting a merged-away key survives (the
    // tombstone scopes to manifests before it)
    SnapshotTable.commitAppend(rows(100 until 105), t, "z", 1)
    assert(SnapshotTable.read(spark, t)
      .filter(col("id").between(100, 104)).count() == 10)
    // compaction materializes: same rows, tombstone refs gone
    val n4 = SnapshotTable.read(spark, t).count()
    SnapshotTable.compactCommit(spark, t, "z", 400L)
    assert(SnapshotTable.deleteRefs(t).isEmpty)
    assert(SnapshotTable.read(spark, t).count() == n4)
    // duplicate keys in one batch are rejected in O(changes)
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.commitMergeMor(spark, t,
        rows(0 until 2).unionByName(rows(0 until 2)), "id", "z", 1)
    }
    assert(ex.getMessage.contains("multiple rows per key"))
  }

  test("merge-on-read commits validate the key column against the " +
      "committed schema before anything lands") {
    val t = Files.createTempDirectory("graft-snapkv").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 100), t, "z", 2)
    val phantom = intercept[IllegalArgumentException] {
      SnapshotTable.commitDeleteMor(spark, t, "nope",
        (0L until 5L).toDF("nope"))
    }
    assert(phantom.getMessage.contains("no committed column 'nope'"))
    val mistyped = intercept[IllegalArgumentException] {
      SnapshotTable.commitDeleteMor(spark, t, "id",
        Seq("0", "1").toDF("id"))
    }
    assert(mistyped.getMessage.contains("type mismatch"))
    val missing = intercept[IllegalArgumentException] {
      SnapshotTable.commitMergeMor(spark, t,
        rows(0 until 2).withColumnRenamed("id", "key"), "id", "z", 1)
    }
    assert(missing.getMessage.contains("keys relation has no column"))
    // nothing landed: still v1, no tombstones, table intact
    assert(SnapshotTable.latestVersion(t).contains(1))
    assert(SnapshotTable.deleteRefs(t).isEmpty)
    assert(SnapshotTable.read(spark, t).count() == 100)
  }

  test("concurrent appends both land: the claim CAS serializes the " +
      "pointer swing, a stale claim is broken after its lease") {
    val t = Files.createTempDirectory("graft-snapocc").toString + "/t"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try {
          for (b <- 0 until 3)
            SnapshotTable.commitAppend(
              rows((w * 300 + b * 100) until (w * 300 + b * 100 + 100)),
              t, "z", 2)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent appends failed: ${errs.peek()}")
    assert(SnapshotTable.latestVersion(t).contains(6),
      "six racing appends must produce six versions — none lost")
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 600)
    assert(latest.select(col("id")).distinct().count() == 600)
    // a claim whose holder died (file exists, no progress) blocks only
    // for the lease, then is broken and the commit proceeds
    java.nio.file.Files.createFile(Paths.get(s"$t/_log/c-7"))
    val prevLease = SnapshotTable.claimStaleMs
    SnapshotTable.claimStaleMs = 300L
    try assert(SnapshotTable.commitAppend(rows(600 until 650), t, "z", 1) == 7)
    finally SnapshotTable.claimStaleMs = prevLease
    // a COW rewrite under a live competing claim fails cleanly
    java.nio.file.Files.createFile(Paths.get(s"$t/_log/c-8"))
    try intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitDelete(spark, t, "id", Seq(1L).toDF("id"), "z")
    } finally java.nio.file.Files.delete(Paths.get(s"$t/_log/c-8"))
  }

  test("incrementalAgg merges null group keys null-safely and raises " +
      "on a null measure value instead of drifting") {
    val grp = (g: Any, n: Long, s: Double) => (g, n, s)
    val mv = Seq[(String, Long, Double)](("a", 2L, 10.0), (null, 3L, 7.0))
      .toDF("g", "n", "s")
    val ch = Seq[(String, Double, String)](
      (null, 5.0, "insert"), (null, 1.0, "delete"), ("a", 2.0, "insert"))
      .toDF("g", "s", "_change")
    val out = SnapshotTable.incrementalAgg(mv, ch, Seq("g"), Seq("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // the null group merged into ONE row (3+1-1=3, 7+5-1=11)
    assert(out == Set(("a", 3L, 12.0), (null, 3L, 11.0)), out.toString)
    val bad = Seq[(String, java.lang.Double, String)](
      ("a", null, "insert")).toDF("g", "s", "_change")
    val ex = intercept[Exception] {
      SnapshotTable.incrementalAgg(mv, bad, Seq("g"), Seq("s")).collect()
    }
    assert(ex.getMessage.contains("null value in measure column"),
      s"got: ${ex.getMessage}")
  }

  test("the changes-feed stream announces each version exactly once " +
      "and maintainAgg folds replays idempotently") {
    val base = Files.createTempDirectory("graft-snapcdc").toString
    val t = s"$base/t"
    val view = s"$base/view"
    SnapshotTable.commitAppend(rows(0 until 300), t, "z", 3)
    SnapshotTable.commitAppend(rows(300 until 500), t, "z", 2)
    SnapshotTable.commitDelete(spark, t, "id",
      (0L until 50L).toDF("id"), "z")
    def drain(): Unit = {
      val raw = spark.readStream
        .format("graft.sources.SnapshotChangesSource")
        .option("path", t).option("maxVersionsPerTrigger", 1).load()
      graft.streaming.Streams.runWithBatchCommit(raw, s"$base/ckpt") {
        (b, _) =>
          Option(b.agg(max(col("version"))).head().get(0))
            .map(_.asInstanceOf[Int]).foreach { v =>
              SnapshotTable.maintainAgg(b.sparkSession, t, view,
                Seq("tag"), Seq("z"), v)
            }
      }.awaitTermination()
    }
    drain()
    assert(SnapshotTable.maintainedCursor(view) == 3)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("tag"), col("n"), col("z").cast("double").as("z"))
    def recompute() = norm(SnapshotTable.read(spark, t)
      .groupBy(col("tag")).agg(count(lit(1)).as("n"), sum(col("z")).as("z")))
    def mv() = norm(SnapshotTable.readMaintainedAgg(spark, view))
    assert(mv().exceptAll(recompute()).isEmpty &&
      recompute().exceptAll(mv()).isEmpty,
      "maintained view diverged from the recompute after the drain")
    // restart over the same checkpoint: nothing re-announced
    drain()
    assert(SnapshotTable.maintainedCursor(view) == 3,
      "a restart with no new commits must not move the cursor")
    // a version committed while the consumer was down catches up alone
    SnapshotTable.commitMerge(spark, t,
      rows(100 until 120).withColumn("z", col("z") + 1000.0), "id", "z")
    drain()
    assert(SnapshotTable.maintainedCursor(view) == 4)
    assert(mv().exceptAll(recompute()).isEmpty &&
      recompute().exceptAll(mv()).isEmpty,
      "maintained view diverged after the catch-up refresh")
  }

  test("manifest key blooms prune scattered-key takedowns that " +
      "min/max bounds cannot") {
    // id is a PERMUTATION of 0..9999 uncorrelated with the cluster
    // column z: every z-range file spans ~the full id range, so key
    // bounds keep every file — only the bloom can prune
    val df = (0 until 10000)
      .map(i => ((i * 7919L) % 10000L, i.toDouble, s"p${i % 7}"))
      .toDF("id", "z", "tag")
    val keys = Seq(12L, 4567L, 9876L).toDF("id")
    val t1 = Files.createTempDirectory("graft-snapbf").toString + "/t"
    SnapshotTable.commitAppend(df, t1, "z", 20, bloomCols = Seq("id"))
    val (d1, p1, tot1, _) = SnapshotTable.commitDeletePlanned(
      spark, t1, "id", keys, "z")
    assert(d1 == 3)
    assert(p1 > 0 && p1 <= 6 && p1 < tot1,
      s"bloom planning must confine the probe: read $p1/$tot1 files")
    assert(SnapshotTable.read(spark, t1).count() == 9997)
    // the bloom-free twin CANNOT prune (bounds keep everything) but
    // still deletes the same rows — blooms only cut planning I/O
    val t2 = Files.createTempDirectory("graft-snapbf2").toString + "/t"
    SnapshotTable.commitAppend(df, t2, "z", 20)
    val (d2, p2, tot2, _) = SnapshotTable.commitDeletePlanned(
      spark, t2, "id", keys, "z")
    assert(d2 == 3 && p2 == tot2,
      s"without blooms every full-range file stays a candidate ($p2/$tot2)")
    assert(SnapshotTable.read(spark, t2).count() == 9997)
  }

  test("readChanges from v0 is the empty-table baseline: everything " +
      "is an insert") {
    val t = Files.createTempDirectory("graft-snapc0").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 100), t, "z", 2)
    SnapshotTable.commitAppend(rows(100 until 150), t, "z", 1)
    val (ch, read, total) = SnapshotTable.readChanges(spark, t, 0, 2)
    assert(read == total)
    assert(ch.filter(col("_change") === "delete").count() == 0)
    assert(ch.count() == 150)
  }

  test("commitMergeMorOnce upserts exactly-once: replays short-circuit, " +
      "empty batches commit nothing, manifests carry verbatim") {
    val t = Files.createTempDirectory("graft-snapuo").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 500), t, "z", 4)
    val batch0 = rows(100 until 120).withColumn("z", col("z") + 1000.0)
    assert(SnapshotTable.commitMergeMorOnce(spark, t, batch0,
      "id", "z", 1, 0L))
    // a replayed batch (same id) must not commit a second version
    assert(!SnapshotTable.commitMergeMorOnce(spark, t, batch0,
      "id", "z", 1, 0L))
    assert(SnapshotTable.latestVersion(t).contains(2))
    // an empty batch is a no-op, not an empty version
    assert(!SnapshotTable.commitMergeMorOnce(spark, t, rows(0 until 0),
      "id", "z", 1, 1L))
    assert(SnapshotTable.latestVersion(t).contains(2))
    val batch1 = rows(0 until 10)
      .select((-col("id") - 1L).as("id"), col("z"), col("tag"))
    assert(SnapshotTable.commitMergeMorOnce(spark, t, batch1,
      "id", "z", 1, 2L))
    // every prior manifest carried verbatim through both upserts
    assert(SnapshotTable.snapshot(t, Some(3)).map(_.name) ==
      SnapshotTable.snapshot(t, Some(1)).map(_.name) ++
        Seq("m-2.json", "m-3.json"))
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 510)
    assert(latest.filter(col("id").between(100, 119) &&
      col("z") < 1000.0).count() == 0, "old matched rows leaked")
    assert(latest.filter(col("id") < 0).count() == 10)
    // compaction materializes both tombstones to the same rows
    val n = latest.count()
    SnapshotTable.compactCommit(spark, t, "z", 200L)
    assert(SnapshotTable.deleteRefs(t).isEmpty)
    assert(SnapshotTable.read(spark, t).count() == n)
  }

  test("readPrunedCols intersects single-column prunes: a 2-D box " +
      "probe on a z-ordered table opens ~one block") {
    val t = Files.createTempDirectory("graft-snapmc").toString + "/t"
    val df = (0 until 4096)
      .map(i => (i.toLong, (i % 64).toDouble, (i / 64).toDouble))
      .toDF("id", "x", "y")
    SnapshotTable.commitAppendZOrdered(df, t, "x", "y", 16)
    val (_, rx, _) = SnapshotTable.scan(spark, t, Seq(between("x", 10.0, 19.0)))
    val (_, ry, _) = SnapshotTable.scan(spark, t, Seq(between("y", 20.0, 27.0)))
    val (both, rBoth, total) = SnapshotTable.scan(spark, t,
      Seq(between("x", 10.0, 19.0), between("y", 20.0, 27.0)))
    assert(rBoth <= math.min(rx, ry) && rBoth < total,
      s"box probe must intersect: box=$rBoth x=$rx y=$ry total=$total")
    assert(both.filter(col("x").between(10, 19) &&
      col("y").between(20, 27)).count() == 80)
    // an unknown column drops out of the conjunction instead of
    // wrongly pruning
    val (all, rAll, tot2) = SnapshotTable.scan(spark, t,
      Seq(between("nope", 0, 1)))
    assert(rAll == tot2 && all.count() == 4096)
  }

  test("statsAggCol answers typed min/max from metadata alone") {
    val t = Files.createTempDirectory("graft-snapsc").toString + "/t"
    val df = (0 until 400).map(i => (i.toLong, f"d$i%03d")).toDF("id", "day")
    SnapshotTable.commitAppend(df, t, "day", 8)
    val (rows1, bounds) = SnapshotTable.statsAggCol(t, "day")
    assert(rows1 == 400)
    assert(bounds.contains(("s", "d000", "d399")))
    val (rows2, idBounds) = SnapshotTable.statsAggCol(t, "id")
    assert(rows2 == 400 && idBounds.contains(("l", "0", "399")))
    assert(SnapshotTable.statsAggCol(t, "nope")._2.isEmpty)
  }

  test("over-cap MOR tombstones stage as multiple part files and read " +
      "through a shuffle anti-join; under-cap stays broadcast") {
    val t = Files.createTempDirectory("graft-snapbig").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 900), t, "z", 4)
    val prevRows = SnapshotTable.TombstoneRowsPerFile
    val prevCap = SnapshotTable.ReadBroadcastKeyCap
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      SnapshotTable.TombstoneRowsPerFile = 100
      SnapshotTable.ReadBroadcastKeyCap = 100
      // disable size-estimate auto-broadcast so the plan shape below
      // reflects ONLY the guard's hint decision
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (n, v) = SnapshotTable.commitDeleteMor(spark, t, "id",
        (0L until 250L).toDF("id"))
      assert(n == 250 && v == 2)
      val refs = SnapshotTable.deleteRefs(t)
      assert(refs.size == 3 && refs.map(_.rows).sum == 250,
        s"250 keys at 100/file must stage as 3 parts, got $refs")
      val guarded = SnapshotTable.read(spark, t)
      assert(!guarded.queryExecution.sparkPlan.toString
          .contains("BroadcastHashJoin"),
        "an over-cap tombstone must not be forced through broadcast")
      assert(guarded.count() == 650)
      assert(guarded.filter(col("id") < 250).count() == 0)
      // the under-cap twin on the same table: a later takedown-sized
      // tombstone still broadcasts (one part, total under the cap)
      val (n2, _) = SnapshotTable.commitDeleteMor(spark, t, "id",
        (300L until 320L).toDF("id"))
      assert(n2 == 20)
      assert(SnapshotTable.deleteRefs(t).size == 4)
      val mixed = SnapshotTable.read(spark, t)
      assert(mixed.queryExecution.sparkPlan.toString
          .contains("BroadcastHashJoin"),
        "an under-cap tombstone should keep the broadcast fast path")
      assert(mixed.count() == 630)
      // compaction materializes BOTH regardless of path
      SnapshotTable.compactCommit(spark, t, "z", 500L)
      assert(SnapshotTable.deleteRefs(t).isEmpty)
      assert(SnapshotTable.read(spark, t).count() == 630)
    } finally {
      SnapshotTable.TombstoneRowsPerFile = prevRows
      SnapshotTable.ReadBroadcastKeyCap = prevCap
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("predicate MOR delete is O(metadata), sequence-scoped, " +
      "null-safe, and materializes under compaction") {
    val t = Files.createTempDirectory("graft-snappd").toString + "/t"
    val df = (0 until 600).map(i =>
      (i.toLong, i.toDouble, if (i % 50 == 0) null else s"g${i % 5}"))
      .toDF("id", "z", "tag")
    SnapshotTable.commitAppend(df, t, "z", 4)
    val filesBefore = Files.list(Paths.get(t)).iterator()
    val nData = Iterator.continually(filesBefore)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString)
      .count(_.endsWith(".parquet"))
    // drop z in [100, 299] — one snapshot line, no file written
    val v2 = SnapshotTable.commitDeleteMorPred(spark, t, "z",
      Some(100.0), Some(299.0))
    assert(v2 == 2)
    val filesAfter = Files.list(Paths.get(t)).iterator()
    val nData2 = Iterator.continually(filesAfter)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString)
      .count(_.endsWith(".parquet"))
    assert(nData2 == nData,
      "a predicate tombstone must write NO data or key file")
    assert(SnapshotTable.read(spark, t).count() == 400)
    assert(SnapshotTable.read(spark, t)
      .filter(col("z").between(100, 299)).count() == 0)
    // time travel: v1 still sees the range
    assert(SnapshotTable.read(spark, t, Some(1)).count() == 600)
    // sequence scoping: a LATER append back into the range survives
    SnapshotTable.commitAppend(rows(150 until 160), t, "z", 1)
    assert(SnapshotTable.read(spark, t).count() == 410)
    assert(SnapshotTable.read(spark, t)
      .filter(col("z").between(100, 299)).count() == 10)
    // a null value in a DIFFERENT predicate column never matches
    val v4 = SnapshotTable.commitDeleteMorPred(spark, t, "tag",
      Some("g1"), Some("g1"))
    val afterTag = SnapshotTable.read(spark, t)
    assert(afterTag.filter(col("tag").isNull).count() > 0,
      "null predicate-column values must survive a range tombstone")
    assert(afterTag.filter(col("tag") === "g1" && col("id") < 600)
      .count() == 0)
    // COW rewrites refuse while a predicate tombstone is live
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDelete(spark, t, "id", Seq(5L).toDF("id"), "z")
    }
    intercept[IllegalArgumentException] { SnapshotTable.statsAggCol(t, "z") }
    // compaction materializes and drops the refs
    val n = SnapshotTable.read(spark, t).count()
    SnapshotTable.compactCommit(spark, t, "z", 500L)
    assert(SnapshotTable.predDeleteRefs(t).isEmpty)
    assert(SnapshotTable.read(spark, t).count() == n)
    assert(v4 == 4)
  }

  test("partitioned append records one value per file; dropPartition " +
      "is manifest surgery with zero data files opened") {
    val t = Files.createTempDirectory("graft-snappt").toString + "/t"
    val df = (0 until 800).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-${1 + i % 4}%02d-15"),
        i.toDouble)
    }.toDF("id", "d", "z")
    val spec = SnapshotTable.PartitionSpec("months", "d")
    SnapshotTable.commitAppendPartitioned(df, t, spec)
    assert(SnapshotTable.readPartitionSpec(t).contains(spec))
    // months(2024-02) = 2024*12 + 2 - 1
    val feb = 2024L * 12 + 1
    // every file single-valued: the _pt prune is exact, not a subset
    val (candP, readP, totalP) =
      SnapshotTable.scan(spark, t,
        Seq(between(SnapshotTable.PartCol, feb, feb)))
    assert(readP > 0 && readP < totalP)
    assert(candP.count() == 200)
    val dataFiles0 = SnapshotTable.snapshot(t).map(_.files).sum
    val (dropped, files, v2) = SnapshotTable.dropPartition(t, feb)
    assert(dropped == 200 && files == readP && v2 == 2,
      s"drop: $dropped rows / $files files at v$v2")
    // no new data file: the new snapshot's files are a strict subset
    val before = SnapshotTable.snapshot(t, Some(1))
      .flatMap(r => Seq(r.name)).toSet
    assert(SnapshotTable.snapshot(t).map(_.files).sum ==
      dataFiles0 - files)
    val latest = SnapshotTable.read(spark, t)
    assert(latest.count() == 600)
    assert(latest.filter(month(col("d")) === 2).count() == 0)
    // time travel still reads the dropped partition
    assert(SnapshotTable.read(spark, t, Some(1)).count() == 800)
    // a second commit must match the spec
    intercept[IllegalArgumentException] {
      SnapshotTable.commitAppendPartitioned(df, t,
        SnapshotTable.PartitionSpec("days", "d"))
    }
    // an empty partition returns prev without committing
    assert(SnapshotTable.dropPartition(t, feb)._3 == 2)
    // vacuum reclaims the dropped partition's files
    val (_, reclaimed) = SnapshotTable.vacuum(t, keepLast = 1)
    assert(reclaimed >= files.toInt,
      s"vacuum must reclaim the dropped partition, got $reclaimed")
    assert(SnapshotTable.read(spark, t).count() == 600)
    assert(before.nonEmpty)
  }

  test("bucket transform partitions by hash residue and drops by bucket") {
    val t = Files.createTempDirectory("graft-snapbk").toString + "/t"
    val df = (0 until 500).map(i => (i.toLong, i.toDouble)).toDF("id", "z")
    val spec = SnapshotTable.PartitionSpec("bucket", "id", 8)
    SnapshotTable.commitAppendPartitioned(df, t, spec)
    val total = SnapshotTable.read(spark, t).count()
    assert(total == 500)
    val (dropped, files, _) = SnapshotTable.dropPartition(t, 3L)
    assert(dropped > 0 && files > 0)
    val left = SnapshotTable.read(spark, t)
    assert(left.count() == 500 - dropped)
    assert(left.filter(pmod(xxhash64(col("id")), lit(8)) === 3)
      .count() == 0, "bucket-3 rows leaked past the drop")
  }

  test("a slower-than-the-lease writer loses its commit CLEANLY: the " +
      "takeover winner's version is never clobbered") {
    val t = Files.createTempDirectory("graft-snapnc").toString + "/t"
    val prevStale = SnapshotTable.claimStaleMs
    try {
      SnapshotTable.claimStaleMs = 400
      val slowEval = udf { (i: Long) => Thread.sleep(8); i }
      val slowDf = rows(0 until 600)
        .withColumn("id", slowEval(col("id")))
      @volatile var slowFailed: Throwable = null
      val slow = new Thread(() =>
        try SnapshotTable.commitAppend(slowDf, t, "z", 1)
        catch { case e: Throwable => slowFailed = e })
      slow.start()
      Thread.sleep(600) // past the lease; slow writer still staging
      SnapshotTable.commitAppend(rows(1000 until 1100), t, "z", 2)
      slow.join()
      // the winner's v1 must be intact whatever the slow writer did
      val v1 = SnapshotTable.read(spark, t, Some(1))
      assert(v1.count() == 100 &&
        v1.agg(min(col("id"))).head.getLong(0) == 1000L,
        "takeover winner's committed version was clobbered")
      assert(slowFailed != null &&
        slowFailed.isInstanceOf[java.util.ConcurrentModificationException],
        s"slow holder must abort with CME, got $slowFailed")
    } finally SnapshotTable.claimStaleMs = prevStale
  }

  test("the changes feed starts at the oldest RETAINED version after " +
      "vacuum; a fresh consumer rebuilds from the baseline") {
    val t = Files.createTempDirectory("graft-snaphz").toString + "/t"
    for (b <- 0 until 5)
      SnapshotTable.commitAppend(rows(b * 100 until (b + 1) * 100), t, "z", 1)
    SnapshotTable.vacuum(t, keepLast = 2)
    assert(SnapshotTable.oldestRetainedVersion(t).contains(4))
    val announced = spark.read
      .format("graft.sources.SnapshotChangesSource")
      .option("path", t).load()
      .orderBy(col("version")).collect().map(_.getInt(0)).toSeq
    assert(announced == Seq(4, 5),
      s"batch feed must skip vacuumed versions, announced $announced")
    // a fresh consumer (cursor 0) folds the first announced version as
    // the empty-table baseline and lands exactly
    val view = Files.createTempDirectory("graft-snaphzv").toString
    announced.foreach(v => SnapshotTable.maintainAgg(spark, t, view,
      Seq("tag"), Seq("z"), v))
    val mv = SnapshotTable.readMaintainedAgg(spark, view)
    val fresh = SnapshotTable.read(spark, t).groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("z"))
    assert(mv.select(col("tag"), col("n"), col("z"))
      .exceptAll(fresh).isEmpty && fresh.exceptAll(
        mv.select(col("tag"), col("n"), col("z"))).isEmpty)
  }

  test("DSv2 aggregate pushdown answers COUNT/MIN/MAX from metadata " +
      "and declines soundly under live tombstones") {
    val t = Files.createTempDirectory("graft-snapag").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 700), t, "z", 5)
    def agg() = spark.read.format("graft.sources.SnapshotTableSource")
      .option("path", t).load()
      .agg(count(lit(1)), min(col("id")), max(col("id")),
        min(col("tag")), max(col("z"))).head()
    val r1 = agg()
    assert(graft.sources.SnapshotTableSource.lastAggPushed,
      "unfiltered COUNT/MIN/MAX must answer from manifest metadata")
    assert(r1.getLong(0) == 700 && r1.getLong(1) == 0 &&
      r1.getLong(2) == 699 && r1.getString(3) == "p0" &&
      r1.getDouble(4) == 699.0)
    // a live tombstone's rows still count in the stats: the pushdown
    // must DECLINE and the ordinary scan answer exactly
    SnapshotTable.commitDeleteMor(spark, t, "id",
      (0L until 10L).toDF("id"))
    val r2 = agg()
    assert(!graft.sources.SnapshotTableSource.lastAggPushed,
      "aggregate pushdown must decline while tombstones are live")
    assert(r2.getLong(0) == 690 && r2.getLong(1) == 10)
  }

  test("string-key manifest blooms prune scattered string takedowns") {
    val t = Files.createTempDirectory("graft-snapsb").toString + "/t"
    val df = (0 until 3000).map(i =>
      (f"key$i%06d", (i % 600).toDouble)).toDF("k", "z")
    // z-clustered: every file spans ~the whole k RANGE, only the bloom
    // can confine a 3-key takedown
    SnapshotTable.commitAppend(df, t, "z", 10, bloomCols = Seq("k"))
    val keys = Seq("key000000", "key001499", "key002999").toDF("k")
    val (deleted, planned, total, _) =
      SnapshotTable.commitDeletePlanned(spark, t, "k", keys, "z")
    assert(deleted == 3)
    assert(planned > 0 && planned * 2 <= total,
      s"string bloom must confine the probe, read $planned/$total")
    val left = SnapshotTable.read(spark, t)
    assert(left.count() == 2997)
    assert(left.filter(col("k").isin("key000000", "key001499",
      "key002999")).count() == 0)
  }

  test("partitioned append salts within a hot value: filesPerValue " +
      "tasks write one partition, every file still single-valued") {
    val t = Files.createTempDirectory("graft-snapsal").toString + "/t"
    // ONE partition value (a daily ingest's single day): without the
    // salt this funnels through one task and lands as one giant file
    val df = (0 until 900).map(i =>
      (i.toLong, java.sql.Date.valueOf("2024-03-15"), i.toDouble))
      .toDF("id", "d", "z")
    val spec = SnapshotTable.PartitionSpec("days", "d")
    SnapshotTable.commitAppendPartitioned(df, t, spec, filesPerValue = 3)
    val nFiles = SnapshotTable.snapshot(t).map(_.files).sum
    assert(nFiles >= 2,
      s"a hot value must fan out across salted tasks, got $nFiles file")
    // the manifest invariant is per-FILE, not per-value: every salted
    // file carries the exact lo==hi _pt stat (dropPartition require()s
    // it on every live file), so the drop still retires them all
    val day = java.time.LocalDate.of(2024, 3, 15).toEpochDay
    val (dropped, filesDropped, _) = SnapshotTable.dropPartition(t, day)
    assert(dropped == 900 && filesDropped == nFiles,
      s"drop must retire all $nFiles salted files, got $filesDropped")
    assert(SnapshotTable.read(spark, t).count() == 0)
  }

  test("partitioned append's DEFAULT fan-out is size-adaptive: a hot " +
      "value splits across advisory-sized tasks with no caller knob") {
    val t = Files.createTempDirectory("graft-snapauto").toString + "/t"
    // ONE partition value again, but the DEFAULT call shape: the AQE
    // rebalance must split the oversized value by actual bytes (the
    // advisory size is lowered so the batch is 'hot' at test scale)
    val df = (0 until 20000).map(i =>
      (i.toLong, java.sql.Date.valueOf("2024-03-15"),
        f"payload-$i%08d-${"x" * 64}"))
      .toDF("id", "d", "s")
    val spec = SnapshotTable.PartitionSpec("days", "d")
    val k = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "64KB")
    try SnapshotTable.commitAppendPartitioned(df, t, spec)
    finally spark.conf.set(k, prev)
    val nFiles = SnapshotTable.snapshot(t).map(_.files).sum
    assert(nFiles >= 2,
      s"auto fan-out must split a hot value by size, got $nFiles file")
    // per-FILE single-valued _pt invariant survives the split
    val day = java.time.LocalDate.of(2024, 3, 15).toEpochDay
    val (dropped, filesDropped, _) = SnapshotTable.dropPartition(t, day)
    assert(dropped == 20000 && filesDropped == nFiles)
    assert(SnapshotTable.read(spark, t).count() == 0)
  }

  test("partition spec records atomically, first writer wins; the " +
      "in-claim verification aborts a lost spec race cleanly") {
    val t = Files.createTempDirectory("graft-snapsr").toString + "/t"
    Files.createDirectories(Paths.get(t))
    val specA = SnapshotTable.PartitionSpec("months", "d")
    val specB = SnapshotTable.PartitionSpec("days", "d")
    SnapshotTable.recordSpecIfAbsent(t, specA)
    // the loser's CAS is a no-op — first writer's spec is the table's
    SnapshotTable.recordSpecIfAbsent(t, specB)
    assert(SnapshotTable.readPartitionSpec(t).contains(specA))
    // and its in-claim verification aborts instead of committing files
    // whose _pt was computed under a transform that never landed
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.requireSpecIs(t, specB)
    }
    SnapshotTable.requireSpecIs(t, specA) // the winner passes
  }

  test("streaming provenance is scoped per writer: a fresh stream's " +
      "batch 0 commits instead of short-circuiting on a stale id") {
    val t = Files.createTempDirectory("graft-snapwid").toString + "/t"
    // stream A commits batch 0, then its replay short-circuits
    assert(SnapshotTable.commitAppendOnce(rows(0 until 100), t, "z", 2,
      batchId = 0L, writerId = "streamA"))
    assert(!SnapshotTable.commitAppendOnce(rows(0 until 100), t, "z", 2,
      batchId = 0L, writerId = "streamA"))
    assert(SnapshotTable.read(spark, t).count() == 100)
    // a BRAND-NEW stream (fresh checkpoint, ids restarting at 0) must
    // NOT be deduped against stream A's provenance — that would be
    // silent data loss, not replay protection
    assert(SnapshotTable.commitAppendOnce(rows(100 until 150), t, "z", 2,
      batchId = 0L, writerId = "streamB"))
    assert(SnapshotTable.read(spark, t).count() == 150)
    // a non-streaming commit carries BOTH id and writer forward, so
    // stream B's replay of batch 0 still short-circuits after it
    SnapshotTable.compactCommit(spark, t, "z", 1000)
    assert(!SnapshotTable.commitAppendOnce(rows(100 until 150), t, "z", 2,
      batchId = 0L, writerId = "streamB"))
    assert(SnapshotTable.read(spark, t).count() == 150)
  }

  test("a changes consumer stranded below the vacuum horizon gets the " +
      "dedicated exception; maintainAgg self-heals from the baseline") {
    val t = Files.createTempDirectory("graft-snapvh").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 300), t, "z", 3)   // v1
    val view = Files.createTempDirectory("graft-snapvw").toString + "/mv"
    assert(SnapshotTable.maintainAgg(spark, t, view,
      Seq("tag"), Seq("z"), 1) == 1)
    SnapshotTable.commitAppend(rows(300 until 500), t, "z", 2) // v2
    SnapshotTable.commitAppend(rows(500 until 600), t, "z", 1) // v3
    SnapshotTable.vacuum(t, keepLast = 1) // v1, v2 gone — cursor 1 stranded
    // hand-rolled consumers get the NAMED recovery, not an opaque require
    intercept[graft.sources.SnapshotVacuumedException] {
      SnapshotTable.readChanges(spark, t, 1, 3)
    }
    // maintainAgg resets to the v0 baseline and rebuilds exactly
    assert(SnapshotTable.maintainAgg(spark, t, view,
      Seq("tag"), Seq("z"), 3) == 3)
    val mv = SnapshotTable.readMaintainedAgg(spark, view)
    val expect = SnapshotTable.read(spark, t).groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("z"))
    assert(mv.orderBy(col("tag")).collect().toSeq ==
      expect.orderBy(col("tag")).collect().toSeq)
  }

  test("footer-decoded manifest stats are bit-identical to the scan " +
      "path across types, nulls, all-null columns and empty files") {
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("graft-snapfs").toString + "/t"
    // long key, decimal (incl. negatives crossing 0), string (incl.
    // non-ASCII so UTF-8 byte order matters), date, a nullable string
    // with real nulls, an ALL-null decimal — plus an empty staged file
    // (3 rows ranged into 8 partitions leaves empty parts)
    val df = spark.range(0, 200).toDF("k")
      .select(col("k"),
        ((col("k") - 100) / 100.0).cast("decimal(18,2)").as("price"),
        concat(lit("naïve-"), col("k")).as("s"),
        date_add(lit(java.sql.Date.valueOf("2020-01-01")),
          col("k").cast("int")).as("d"),
        when(col("k") % 3 === 0, concat(lit("t"), col("k")))
          .otherwise(lit(null)).cast("string").as("maybe"),
        lit(null).cast("decimal(10,4)").as("void"))
    SnapshotTable.commitAppend(df, t, "k", 4)
    SnapshotTable.commitAppend(df.limit(3), t, "k", 8) // empty files
    val names = Files.list(Paths.get(t)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .toSeq.sorted
    assert(names.nonEmpty)
    val (footer, scan) =
      SnapshotTable.statPathsForTest(spark, t, names, df.schema)
    assert(footer.isDefined, "fast path must engage for l/dec/s/dt")
    assert(footer.get == scan,
      s"footer stats diverged from scan:\n${footer.get}\nvs\n$scan")
    // a schema carrying a double column must DECLINE the fast path
    // (parquet widens ±0.0 bounds; exactness over speed)
    val dbl = df.withColumn("x", col("k").cast("double") * 0.5)
    val t2 = Files.createTempDirectory("graft-snapfs2").toString + "/t"
    SnapshotTable.commitAppend(dbl, t2, "k", 2)
    val names2 = Files.list(Paths.get(t2)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .toSeq.sorted
    val (f2, s2) =
      SnapshotTable.statPathsForTest(spark, t2, names2, dbl.schema)
    assert(f2.isEmpty, "double columns must fall back to the scan")
    assert(s2.nonEmpty)
  }

  test("footer-decoded manifest stats cover timestamp columns " +
      "bit-identically under the INT64 TIMESTAMP_MICROS writer " +
      "encoding, including sub-second precision and nulls") {
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("graft-snapts").toString + "/t"
    // micros-precision values (odd micro remainders so any millis
    // truncation would diverge), a nullable ts with real nulls, and an
    // all-null ts column
    val df = spark.range(0, 200).toDF("k")
      .select(col("k"),
        timestamp_micros(lit(1577836800000000L) + col("k") * 86400000001L)
          .as("ts"),
        when(col("k") % 3 === 0,
          timestamp_micros(col("k") * 999983L)).otherwise(lit(null))
          .as("maybe_ts"),
        lit(null).cast("timestamp").as("void_ts"))
    SnapshotTable.commitAppend(df, t, "k", 4)
    val names = Files.list(Paths.get(t)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .toSeq.sorted
    assert(names.nonEmpty)
    val (footer, scan) =
      SnapshotTable.statPathsForTest(spark, t, names, df.schema)
    assert(footer.isDefined,
      "fast path must engage for timestamp columns under " +
        "TIMESTAMP_MICROS output")
    assert(footer.get == scan,
      s"footer ts stats diverged from scan:\n${footer.get}\nvs\n$scan")
  }

  test("bloom-carrying commits take min/max/rows from footers and the " +
      "sketches from a key-columns-only pass, byte-identical to the " +
      "full scan") {
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("graft-snapbf").toString + "/t"
    val df = spark.range(0, 300).toDF("k")
      .select(col("k"), (col("k") * 37 % 1000).as("id"),
        concat(lit("u"), col("k") % 41).as("name"),
        ((col("k") - 150) / 10.0).cast("decimal(18,3)").as("price"))
    SnapshotTable.commitAppend(df, t, "k", 5,
      bloomCols = Seq("id", "name"))
    val names = Files.list(Paths.get(t)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .toSeq.sorted
    val (fast, scan) = SnapshotTable.bloomStatPathsForTest(spark, t,
      names, df.schema, Seq("id", "name"))
    assert(fast == scan,
      s"narrow bloom path diverged from the full scan:\n$fast\nvs\n$scan")
    assert(fast.forall(f => f.rows == 0 || f.blooms.map(_.c) ==
      Seq("id", "name")), "every live file must carry both sketches")
  }

  test("zoneMapIngestCommitString and zoneMapIngestCommit2 commit " +
      "exactly once and keep pruning strict") {
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
      SnapshotTable.scan(spark, ts, Seq(between("z", "n0100", "n0199")))
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
        SnapshotTable.scan(spark, t2, Seq(between(c, lo, hi)))
      assert(read > 0 && read < total, s"$c-probe read $read of $total")
      assert(cand.filter(col(c).between(lo, hi)).count() ==
        all.filter(col(c).between(lo, hi)).count())
    }
  }

  test("full-table takedown leaves an empty, readable, zone-mapped " +
      "table that a later append revives") {
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
    val (cand, read, _) = SnapshotTable.scan(spark, t,
      Seq(between("z", 0.0, 1000.0)))
    assert(read == 0 && cand.count() == 0)
    // and the table comes back to life: the next append's manifest
    // prunes strictly (no stale envelope to select against)
    SnapshotTable.commitAppend(
      (500 until 600).map(i => (i.toLong, i.toDouble)).toDF("id", "z"),
      t, "z", 2)
    assert(SnapshotTable.read(spark, t).count() == 100)
    val (c2, r2, tot2) = SnapshotTable.scan(spark, t,
      Seq(between("z", 500.0, 540.0)))
    assert(r2 > 0 && r2 < tot2, s"revived probe read $r2 of $tot2")
    assert(c2.filter(col("z").between(500.0, 540.0)).count() == 41)
    val (_, r3, _) = SnapshotTable.scan(spark, t, Seq(between("z", 0.0, 100.0)))
    assert(r3 == 0, "the revived table should prune a now-empty range fully")
  }

  test("an empty micro-batch commits as a no-op ledger entry — " +
      "first-ever batch and mid-stream, no crash, no table churn") {
    // the exactly-once ingest commit the q_stream_zonemap_ingest* gates
    // run, with the checkpoint path as writerId
    val t = Files.createTempDirectory("graft-zmi-empty").toString + "/t"
    val ckpt = s"$t-checkpoint"
    def batch(r: Range, tag: String) =
      r.map(i => (i.toLong, tag, (i * 37 % 1000).toLong))
        .toDF("id", "tag", "price")
    val none = batch(0 until 1, "x").filter(col("id") < 0)

    // FIRST-EVER batch empty: commits, the table reads empty, a probe
    // plans zero files
    assert(SnapshotTable.commitAppendOnce(none, t, "price", 4, 0L,
      writerId = ckpt))
    assert(!SnapshotTable.commitAppendOnce(none, t, "price", 4, 0L,
      writerId = ckpt), "replay of a committed empty batch must short-circuit")
    assert(SnapshotTable.read(spark, t).count() == 0)
    val (eCand, eRead, _) =
      SnapshotTable.scan(spark, t, Seq(between("price", 0L, 1000L)))
    assert(eRead == 0 && eCand.count() == 0)

    // a real batch lands next
    assert(SnapshotTable.commitAppendOnce(batch(0 until 60, "b1"), t,
      "price", 4, 1L, writerId = ckpt))
    assert(SnapshotTable.read(spark, t).count() == 60)

    // MID-STREAM empty batch: rows and data files untouched, its replay
    // short-circuits, pruning stays strict and sound
    val filesBefore = SnapshotTable.read(spark, t).inputFiles.toSet
    assert(SnapshotTable.commitAppendOnce(none, t, "price", 4, 2L,
      writerId = ckpt))
    assert(!SnapshotTable.commitAppendOnce(none, t, "price", 4, 2L,
      writerId = ckpt))
    val after = SnapshotTable.read(spark, t)
    assert(after.count() == 60)
    assert(after.inputFiles.toSet == filesBefore)
    val (cand, read, total) =
      SnapshotTable.scan(spark, t, Seq(between("price", 0L, 500L)))
    assert(read > 0 && read < total, s"read $read of $total")
    assert(cand.filter(col("price").between(0, 500)).count() ==
      after.filter(col("price").between(0, 500)).count())
  }

  test("a tombstone on a key column whose name needs JSON escaping " +
      "deletes its rows") {
    for (key <- Seq("a\"b", "a\nb")) {
      val t = Files.createTempDirectory("graft-snapkey").toString + "/t"
      SnapshotTable.commitAppend((0L until 100L)
        .map(i => (i, i.toDouble)).toDF(key, "z"), t, "z", 2)
      val (n, v) = SnapshotTable.commitDeleteMor(spark, t, key,
        Seq(3L, 50L, 99L).toDF(key))
      assert(n == 3 && v == 2)
      assert(SnapshotTable.read(spark, t).count() == 97,
        s"tombstoned rows came back on key column ${key.replace("\n", "\\n")}")
      assert(SnapshotTable.deleteRefs(t).map(_.key).distinct == Seq(key))
    }
  }

  test("a corrupted metadata line fails the read loudly, naming its " +
      "file, instead of dropping the files it lists") {
    val t = Files.createTempDirectory("graft-snapbad").toString + "/t"
    SnapshotTable.commitAppend(rows(0 until 200), t, "z", 2)
    SnapshotTable.commitAppend(rows(200 until 300), t, "z", 1)
    for (name <- Seq("v2", "m-1.json")) {
      val p = Paths.get(t, "_log", name)
      val good = Files.readAllLines(p)
      val bad = new java.util.ArrayList(good)
      bad.set(bad.size - 1, bad.get(bad.size - 1).dropRight(1))
      Files.write(p, bad)
      val e = intercept[IllegalStateException](SnapshotTable.read(spark, t))
      assert(e.getMessage.contains(s"line ${bad.size} of $p"), e.getMessage)
      Files.write(p, good)
      assert(SnapshotTable.read(spark, t).count() == 300)
    }
  }
}
