package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layout-controlled parquet writes — the sink-side half of the 100 TB
  * playbook. A petabyte table lives or dies by its file layout: a write
  * that lets every reducer emit one file per partition value produces
  * tasks x partitions tiny files (the "small files problem"), and a
  * write that doesn't co-sort rows loses min/max pruning for every
  * later scan.
  *
  * The reference's sink is a single CSV append per daily batch
  * (reference resources/gmail_functions.py:305, `to_csv(..., mode="a")`)
  * — correct at 300 rows/day, meaningless at scale. These writers are
  * the Spark-native replacement: hive-style partition dirs, a bounded
  * file count per partition dir, optional within-file ordering for
  * pruning, and a compaction pass for layouts that have already gone
  * bad.
  */
object Writers {

  /** Write `df` as parquet partitioned by `partCols`, with AT MOST
    * `filesPerDir` files in each partition directory regardless of the
    * input's partitioning or cluster size.
    *
    * The repartition keys are (partCols, salt) where salt is a
    * deterministic per-row hash bounded by `filesPerDir`: every row of
    * one partition value lands in one of `filesPerDir` reducer groups,
    * so each directory receives at most that many files — the shuffle
    * fans the write out across the cluster (filesPerDir tasks can write
    * one directory concurrently) while still bounding the file count.
    * `sortCols` orders rows WITHIN each file so later scans can prune on
    * parquet min/max footers for those columns.
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
      filesPerDir: Int = 1, sortCols: Seq[String] = Nil): Unit = {
    require(partCols.nonEmpty, "partCols must be non-empty")
    require(filesPerDir >= 1, "filesPerDir must be >= 1")
    val dataCols = df.columns.filterNot(partCols.contains).toIndexedSeq
    // fail early with a clear message: Spark itself rejects
    // all-columns partitioning (ALL_PARTITION_COLUMNS_NOT_ALLOWED),
    // and a zero-arg hash() would die in analysis before reaching it
    require(dataCols.nonEmpty,
      "writePartitioned: at least one non-partition column is required")
    val salt = pmod(hash(dataCols.map(col): _*), lit(filesPerDir))
    df.repartition((partCols.map(col) :+ salt): _*)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write.partitionBy(partCols: _*).mode("overwrite").parquet(path)
  }

  /** Morton (Z-order) code of two numeric columns: each value is scaled
    * to 16 bits against its global [min, max] (computed in one tiny
    * pre-pass, floor-quantized so the mapping is engine-exact), and the
    * bits interleave via the standard mask-spread ladder — pure integer
    * Column arithmetic, fully codegen'd, no UDF.
    */
  private def spread16(c: org.apache.spark.sql.Column) = {
    // spread the low 16 bits of c so bit i lands at position 2i
    val a = c.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val d = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Write `df` Z-ORDERED on two columns into `nFiles` files: rows sort
    * by the interleaved Morton code, so each file covers a compact 2-D
    * BLOCK of the (c1, c2) space and parquet min/max footers prune scans
    * filtered on EITHER column — where a lexicographic (c1, c2) sort
    * gives c2 the full value range in every file and prunes nothing for
    * it. This is the multi-dimensional clustering every lakehouse table
    * format ships (Delta OPTIMIZE ZORDER BY, Iceberg sort orders).
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
      nFiles: Int): Unit =
    zOrderLayout(df, c1, c2, nFiles).write.mode("overwrite").parquet(path)

  /** The Morton layout WITHOUT the write — `df` range-partitioned and
    * sorted on the interleaved code of (c1, c2), scaled against the
    * input's own min/max. Exposed separately so the snapshot table's
    * Z-ordered appends lay rows out exactly like [[writeZOrdered]].
    */
  private[sources] def zOrderLayout(df: DataFrame, c1: String, c2: String,
      nFiles: Int): DataFrame = {
    val mm = df.agg(
      min(col(c1)).cast("double").as("mn1"),
      max(col(c1)).cast("double").as("mx1"),
      min(col(c2)).cast("double").as("mn2"),
      max(col(c2)).cast("double").as("mx2"))
    def scaled(c: String, mn: org.apache.spark.sql.Column,
        mx: org.apache.spark.sql.Column) =
      when(mx === mn, lit(0L)).otherwise(
        floor((col(c).cast("double") - mn) * 65535.0 / (mx - mn))
          .cast("long"))
    val z = df.crossJoin(broadcast(mm))
      .withColumn("_z",
        spread16(scaled(c1, col("mn1"), col("mx1")))
          .bitwiseOR(shiftleft(
            spread16(scaled(c2, col("mn2"), col("mx2"))), 1)))
      .drop("mn1", "mx1", "mn2", "mx2")
    z.repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Rewrite an existing parquet directory into ~`targetRowsPerFile`
    * rows per file — the standing compaction job every streaming or
    * incremental sink needs once appends have fragmented the layout.
    * Returns (rowCount, filesBefore). The rewrite goes through a temp
    * dir and swaps via two renames with the original parked at
    * `._compact_old` — at every instant either the old or the new
    * layout exists under a recoverable name, so a crash anywhere
    * leaves the data reachable (a delete-then-rename swap has a
    * window where the table is simply GONE). The filesystem resolves
    * FROM the path, not the default scheme, so compacting an
    * s3a://... table on an hdfs-default cluster works.
    */
  def compact(spark: SparkSession, path: String,
      targetRowsPerFile: Long): (Long, Int) = {
    val df = spark.read.parquet(path)
    val filesBefore = df.inputFiles.length
    // exact row count from the parquet footers (driver metadata) — the
    // compact's sizing pass was a full-table count job; the scan
    // fallback covers non-local/non-flat layouts
    val rows = parquetRowCount(path).getOrElse(df.count())
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) /
      targetRowsPerFile).toInt
    val tmp = path.stripSuffix("/") + "._compact_tmp"
    df.repartition(nFiles).write.mode("overwrite").parquet(tmp)
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "._compact_old")
    fs.delete(old, true) // leftover from a previous crashed swap
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"compact: could not park $dst")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)) {
      fs.rename(old, dst) // roll back: restore the original layout
      throw new java.io.IOException(s"compact: could not publish $tmp")
    }
    fs.delete(old, true)
    (rows, filesBefore)
  }

  /** TOUCHED-FILES-ONLY copy-on-write DELETE over a plain parquet dir —
    * the deletion-propagation primitive (takedown / PII-removal
    * requests against a standing index): rows whose `keyCol` appears
    * in the `keys` relation are removed by rewriting ONLY the files
    * that contain at least one such row; untouched files carry over
    * byte-identical (hard-linked into the staging dir on a local
    * filesystem — the analog of a manifest table re-listing them by
    * metadata only; any other scheme degrades to a filesystem-level
    * copy, O(bytes), since a cluster table format would carry them in
    * a manifest instead), and the swap is the same crash-safe
    * double-rename as [[compact]]. Table METADATA (ledgers and other
    * underscore-prefixed entries, invisible to parquet reads) is
    * copied into the staging dir BEFORE the swap, so every crash
    * window really does leave either the complete old layout or the
    * complete new one, metadata included — a post-swap metadata move
    * would leave a window where the published layout has data but no
    * ledger. The touched-file list is the sanctioned bounded collect:
    * in a band-clustered index a key's rows land in at most (cluster
    * buckets) files, so the list is sized by the TOMBSTONE BATCH, not
    * the table. The touched files' survivors coalesce back into at
    * most as many files as were touched. Returns (rows deleted,
    * touched file names, file count before).
    */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): (Long, Seq[String], Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(conf)
    // the local-FS fast path is hard links; anything else (hdfs, s3a)
    // carries bytes via FileUtil.copy — correct everywhere, O(1) only
    // locally
    val isLocal = {
      val scheme = dst.toUri.getScheme
      scheme == null || scheme == "file"
    }
    val old = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "._delete_old")
    // leftovers from a previous crashed swap: before discarding, rescue
    // any underscore metadata a pre-copy-era run stranded there (the
    // current protocol stages metadata before the swap, so a healthy
    // old layout only ever holds copies the new layout also has)
    if (fs.exists(old)) {
      for (st <- fs.listStatus(old)
           if st.getPath.getName.startsWith("_")
             && !st.getPath.getName.startsWith("_SUCCESS")
             && !fs.exists(new org.apache.hadoop.fs.Path(dst,
               st.getPath.getName)))
        fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(dst, st.getPath.getName))
      fs.delete(old, true)
    }
    val df = spark.read.parquet(path)
    val before = df.inputFiles.toSeq
    val k = broadcast(keys.select(col(keyCol)).distinct())
    val touched = df.withColumn("_file", input_file_name())
      .join(k, Seq(keyCol), "left_semi")
      .select(col("_file")).distinct().collect().map(_.getString(0)).toSeq
    if (touched.isEmpty) return (0L, Nil, before.length)
    val touchedNames =
      touched.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    val tmp = path.stripSuffix("/") + "._delete_tmp"
    val touchedDf = spark.read.parquet(touched: _*)
    val survivors = touchedDf.join(k, Seq(keyCol), "left_anti")
    survivors.coalesce(touched.length).write.mode("overwrite").parquet(tmp)
    // rows deleted = touched-file rows minus staged-survivor rows, both
    // from parquet footers (exact block row counts, driver metadata) —
    // the rewrite is then the ONLY pass over the touched bytes, where
    // two count jobs re-read them before (guide §1.2: fewer passes).
    // Non-local/unreadable footers fall back to the scan counts.
    val rowsTouched = parquetRowCount(touched: _*)
      .getOrElse(touchedDf.count())
    // fallback recomputes the anti-join, not a read of tmp: an all-rows
    // -deleted rewrite can stage ZERO part files, which a parquet read
    // of tmp would refuse to infer a schema for
    val survivorRows = parquetRowCount(tmp)
      .getOrElse(survivors.count())
    val rowsDeleted = rowsTouched - survivorRows
    // carry the untouched files over: hard link locally (O(1) per
    // file, no data movement — the rewrite cost tracks the touched
    // subset), FileUtil.copy on any other scheme
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    for (f <- before.map(new org.apache.hadoop.fs.Path(_))
         if !touchedNames(f.getName)) {
      if (isLocal) {
        val p = localPath(f.toString)
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(tmp).resolve(p.getFileName), p)
      } else
        org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
          new org.apache.hadoop.fs.Path(tmpPath, f.getName), false, conf)
    }
    // stage the table METADATA into the new layout BEFORE the swap (a
    // copy, so the live table keeps its own until the rename): after
    // the swap the published layout is complete — ledger, manifests
    // and all — and a crash at ANY point leaves one complete layout
    // under a recoverable name. Spark's own _SUCCESS marker is already
    // in the staged write.
    for (st <- fs.listStatus(dst)
         if st.getPath.getName.startsWith("_")
           && !st.getPath.getName.startsWith("_SUCCESS")
           && !fs.exists(new org.apache.hadoop.fs.Path(tmpPath,
             st.getPath.getName)))
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new org.apache.hadoop.fs.Path(tmpPath, st.getPath.getName),
        false, conf)
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"delete: could not park $dst")
    if (!fs.rename(tmpPath, dst)) {
      fs.rename(old, dst) // roll back: restore the original layout
      throw new java.io.IOException(s"delete: could not publish $tmp")
    }
    fs.delete(old, true)
    (rowsDeleted, touchedNames.toSeq.sorted, before.length)
  }

  /** A local file's java.nio path from a plain path or a `file:` URI in
    * any of the spellings Hadoop and Spark render (`file:/x`,
    * `file:///x`). Any other scheme throws: its bytes are not local.
    */
  private def localPath(p: String): java.nio.file.Path =
    if (p.startsWith("file:")) java.nio.file.Paths.get(java.net.URI.create(p))
    else if (!p.contains(":")) java.nio.file.Paths.get(p)
    else throw new java.io.IOException(s"non-local scheme: $p")

  /** Total row count of parquet data from its FOOTERS — one small
    * driver metadata read per part file instead of a Spark job (row
    * counts are schema-independent and exact). Each path is a part
    * file or a flat table directory, whose visible `.parquet` parts
    * count. None when no part file is found, a path is non-local, or
    * any footer fails to read — callers fall back to a scan count.
    */
  private[graft] def parquetRowCount(paths: String*): Option[Long] = {
    import scala.jdk.CollectionConverters._
    def parts(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!java.nio.file.Files.isDirectory(p)) Seq(p)
      else {
        val st = java.nio.file.Files.list(p)
        try st.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }.toIndexedSeq
        finally st.close()
      }
    try {
      val files = paths.flatMap(p => parts(localPath(p)))
      if (files.isEmpty) None
      else Some(files.map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          new org.apache.parquet.io.LocalInputFile(f))
        try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
