package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Edge batches for the exactly-once zone-mapped ingest commit that the
  * `q_stream_zonemap_ingest*` gates run ([[SnapshotTable.commitAppendOnce]]
  * with the checkpoint path as `writerId`): foreachBatch may deliver an
  * empty micro-batch, and the commit must take it without a crash, a
  * replay must short-circuit, and the table's rows, files and pruning
  * must come through untouched. Its crash-window replays are in
  * SnapshotTableSpec ("commitAppendOnce is exactly-once across both
  * replay windows").
  */
class ZoneMapIngestSpec extends SparkSpec {

  private def rows(n: Range, tag: String) = {
    import spark.implicits._
    n.map(i => (i.toLong, tag, (i * 37 % 1000).toLong)).toSeq
      .toDF("id", "tag", "price")
  }

  test("an empty micro-batch commits as a no-op ledger entry — " +
      "first-ever batch and mid-stream, no crash, no table churn") {
    val t = Files.createTempDirectory("graft-zmi-empty").toString + "/t"
    val ckpt = s"$t-checkpoint"
    val none = rows(0 until 1, "x").filter(col("id") < 0)

    // FIRST-EVER batch empty: commits, the table reads empty, a probe
    // plans zero files
    assert(SnapshotTable.commitAppendOnce(none, t, "price", 4, 0L,
      writerId = ckpt))
    assert(!SnapshotTable.commitAppendOnce(none, t, "price", 4, 0L,
      writerId = ckpt), "replay of a committed empty batch must short-circuit")
    assert(SnapshotTable.read(spark, t).count() == 0)
    val (eCand, eRead, _) =
      SnapshotTable.readPrunedCol(spark, t, "price", 0L, 1000L)
    assert(eRead == 0 && eCand.count() == 0)

    // a real batch lands next
    assert(SnapshotTable.commitAppendOnce(rows(0 until 60, "b1"), t,
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
      SnapshotTable.readPrunedCol(spark, t, "price", 0L, 500L)
    assert(read > 0 && read < total, s"read $read of $total")
    assert(cand.filter(col("price").between(0, 500)).count() ==
      after.filter(col("price").between(0, 500)).count())
  }
}
