package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 TRANSACTIONAL sink — the write-side counterpart of
  * [[PagedApiSource]], and the scale form of the reference's
  * write-then-commit protocol (raw JSON written first, the state-DB
  * insert only after success: resources/gmail_functions.py:118-126 —
  * commit order is what makes its daily batch idempotent).
  *
  * Protocol (the standard two-phase DSv2 contract):
  *  - each task writes its rows to an invisible `_tmp_` file and returns
  *    the (path, rowCount) as its [[WriterCommitMessage]];
  *  - the DRIVER commits: renames every task file into place, writes an
  *    immutable, VERSIONED manifest `_COMMIT-v<N>` (N = 1 + latest) that
  *    lists every file visible at that snapshot — the files inherited
  *    from version N-1 plus this batch's — and then, last, atomically
  *    swings the `_COMMIT` latest-pointer onto it. Readers treat a
  *    manifest as the source of truth, so a job that dies mid-write
  *    leaves NO visible data and the previous snapshot intact;
  *  - on job abort the temp files are deleted; nothing becomes visible.
  *
  * Snapshot isolation / time travel in miniature: every committed
  * version remains readable forever via its immutable manifest
  * ([[TxJsonSink.read]] with a version), which is the mechanism
  * (manifest list + latest pointer + atomic swap) that Iceberg/Delta
  * commit logs build on. Single-writer by design — concurrent commits
  * would need a lock or CAS on the pointer, exactly as in the real
  * ones. Single-FILESYSTEM by design too: task files and the driver's
  * commit renames go through java.nio against one shared path
  * namespace (true on local[*] and any shared mount); an object-store
  * deployment would swap the java.nio calls for the Hadoop FileSystem
  * API — the protocol (tmp file, rename-into-place, versioned
  * manifest, atomic pointer swing) is unchanged, which is the part
  * this connector demonstrates.
  *
  * Rows are written as line-JSON of the row's string rendering — the
  * payload format is deliberately minimal: the point of this connector
  * is the COMMIT PROTOCOL surface.
  *
  * Usage:
  * {{{
  *   df.write.format("graft.sources.TxJsonSink")
  *     .option("path", dir).mode("append").save()
  *   TxJsonSink.read(spark, dir)             // latest snapshot
  *   TxJsonSink.read(spark, dir, Some(1))    // time travel to v1
  * }}}
  */
object TxJsonSink {
  /** One committed snapshot: its version, the (file, rows) list visible
    * at that version, the total row count, and the snapshot's COLUMN
    * LIST (additive schema evolution: each commit may extend it; a
    * reader of any version sees exactly that version's columns, with
    * nulls where an old file predates a column). Empty for manifests
    * written before schema tracking — those fall back to JSON
    * inference.
    */
  case class Manifest(version: Int, files: Seq[(String, Long)],
      totalRows: Long, columns: Seq[String] = Nil)

  private val FileRe = """\{"file":"([^"]+)","rows":(\d+)\}""".r
  private val VerRe = """\{"version":(\d+)\}""".r
  private val TotalRe = """\{"total_rows":(\d+)\}""".r
  private val SchemaRe = """\{"schema":\[(.*)\]\}""".r
  private val ColRe = """"((?:[^"\\]|\\.)*)"""".r

  private[sources] def parseManifest(p: java.nio.file.Path): Manifest = {
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala
    var v = 0; var total = 0L
    var cols = Seq.empty[String]
    val files = Seq.newBuilder[(String, Long)]
    lines.foreach {
      case VerRe(n) => v = n.toInt
      case FileRe(f, r) => files += (f -> r.toLong)
      case TotalRe(t) => total = t.toLong
      case SchemaRe(body) =>
        cols = ColRe.findAllMatchIn(body).map(m => unescape(m.group(1)))
          .toSeq
      case _ => ()
    }
    Manifest(v, files.result(), total, cols)
  }

  private[graft] def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          // a \u escape counts only when all four hex digits are
          // present and valid — a truncated `\uXXX` at end-of-string or
          // a non-hex body (both possible in a hand-edited or torn
          // manifest) falls through to the literal-char default instead
          // of throwing StringIndexOutOfBounds / NumberFormatException
          case 'u' if i + 6 <= s.length &&
              (2 to 5).forall(k =>
                Character.digit(s.charAt(i + k), 16) >= 0) =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case o => b.append(o); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.result()
  }

  /** The manifest of `version` (or the latest); None if never committed. */
  def manifest(dir: String, version: Option[Int] = None): Option[Manifest] = {
    val p = version match {
      case Some(v) => Paths.get(dir, s"_COMMIT-v$v")
      case None => Paths.get(dir, "_COMMIT")
    }
    if (Files.exists(p)) Some(parseManifest(p)) else None
  }

  /** Retention GC — the third leg of the commit-log pattern (commit,
    * time travel, vacuum): drop manifests older than the last `keepLast`
    * versions and delete every data file no retained manifest
    * references. Readers of retained versions are unaffected; vacuumed
    * versions stop being time-travelable, which is the explicit
    * retention trade every table format makes. Returns
    * (manifestsDeleted, filesDeleted).
    */
  def vacuum(dir: String, keepLast: Int = 1): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    manifest(dir) match {
      case None => (0, 0)
      case Some(latest) =>
        val cutoff = latest.version - keepLast + 1
        val keepFiles = (cutoff to latest.version)
          .flatMap(v => manifest(dir, Some(v)))
          .flatMap(_.files.map(_._1)).toSet
        var mDel = 0
        (1 until cutoff).foreach { v =>
          if (Files.deleteIfExists(Paths.get(dir, s"_COMMIT-v$v"))) mDel += 1
        }
        var fDel = 0
        Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
          .filter(f => f.getName.startsWith("part-") &&
            !keepFiles(f.getName))
          .foreach { f => if (f.delete()) fDel += 1 }
        (mDel, fDel)
    }
  }

  /** Result of a [[merge]] commit: how many of the previous snapshot's
    * files were rewritten vs carried by reference, and the new version.
    */
  case class MergeResult(filesReplaced: Int, filesCarried: Int,
      version: Int)

  /** COPY-ON-WRITE MERGE (upsert): commit a new snapshot where rows of
    * `changes` REPLACE same-key rows of the latest snapshot and new keys
    * are inserted — rewriting ONLY the files that contain a matched key.
    * Every untouched file is carried into the new manifest BY REFERENCE
    * (the `replacedFiles` commit option drops the rewritten ones from
    * inheritance), so merge write cost scales with the touched-file
    * fraction, not the table size — the Iceberg/Delta copy-on-write
    * MERGE shape, and the write-side complement of the merge-on-read
    * deletion-vector composition (`q_merge_on_read`). Old snapshots stay
    * time-travelable and bit-identical (their manifests still list the
    * replaced files, which remain on disk until vacuum).
    *
    * The probe is distributed end to end: the snapshot scan joins the
    * change keys (left-semi, broadcast-sized daily batch) to find
    * affected files — only DISTINCT FILE NAMES are collected, bounded by
    * the manifest's own file count, which is already driver-side by
    * design. Survivor rows are read only from affected files. At lake
    * scale the probe scan itself would be pruned by per-file key
    * bounds (as [[SnapshotTable]] records them) before the semi join;
    * the sink's minimal JSON payload carries no per-file stats, so here
    * the probe reads the snapshot once.
    *
    * `deletes` is the WHEN MATCHED DELETE arm: snapshot rows whose key
    * appears in it are dropped from the new version — their files are
    * rewritten without them, by the same touched-files-only protocol
    * (a delete of a key that matches nothing is a no-op, the standard
    * WHEN MATCHED contract). Prior snapshots still list the replaced
    * files, so the deleted rows remain TIME-TRAVELABLE until vacuum —
    * deletion here is copy-on-write; the merge-on-read tombstone path
    * (`q_merge_on_read`) is the deferred-rewrite alternative. A key in
    * BOTH `changes` and `deletes` is rejected (upsert-then-delete is
    * order-dependent; the caller must resolve intent). Column sets may
    * differ — the rewritten file unions survivors and changes by name,
    * composing with additive schema evolution.
    */
  def merge(spark: org.apache.spark.sql.SparkSession, dir: String,
      changes: org.apache.spark.sql.DataFrame, key: String,
      deletes: Option[org.apache.spark.sql.DataFrame] = None): MergeResult = {
    import org.apache.spark.sql.functions._
    val prev = manifest(dir).getOrElse(throw new IllegalArgumentException(
      s"merge requires a committed snapshot in $dir"))
    // the sink's payload is all-string: probe and union on string forms
    val ch = changes.select(changes.columns.map(c =>
      col(c).cast("string").as(c)).toIndexedSeq: _*)
    // standard MERGE semantics: a TARGET row matched by MORE THAN ONE
    // source row is an error (nondeterministic which one would win) —
    // but multiple NOT-MATCHED inserts of one key are legal (they all
    // insert), so the rejection is scoped to duplicate change keys
    // that actually MATCH the snapshot. The cheap batch-only precheck
    // runs every merge; the snapshot probe only when duplicates exist
    // at all (the rare/error path), so the common case costs one pass
    // over the broadcast-sized daily batch, never the table.
    val dupCand = ch.groupBy(col(key))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select(col(key))
    if (dupCand.limit(1).collect().nonEmpty) {
      val dupMatched = read(spark, dir)
        .join(broadcast(dupCand), Seq(key), "left_semi")
        .select(col(key)).distinct().limit(5).collect().map(_.getString(0))
      require(dupMatched.isEmpty,
        s"merge: changes contain multiple rows per matched key ($key): " +
          dupMatched.mkString(",") + " — MERGE rejects multiple source " +
          "matches per target row; pre-aggregate the changes to one row " +
          "per key")
    }
    val changeKeys = ch.select(col(key)).distinct()
    val deleteKeys = deletes.map(_.select(col(key).cast("string").as(key))
      .distinct())
    deleteKeys.foreach { dk =>
      val both = dk.join(broadcast(changeKeys), Seq(key), "left_semi")
        .limit(5).collect().map(_.getString(0))
      require(both.isEmpty,
        s"merge: key(s) in both changes and deletes: ${both.mkString(",")}" +
          " — upsert-then-delete is order-dependent, resolve before merging")
    }
    // a file is touched if it holds a matched key from EITHER arm
    val touchedKeys = deleteKeys.fold(changeKeys)(changeKeys.unionByName(_))
    val snap = read(spark, dir)
      .withColumn("_file", element_at(split(input_file_name(), "/"), -1))
    val affected = snap.join(broadcast(touchedKeys), Seq(key), "left_semi")
      .select(col("_file")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq.sorted
    val prevNames = prev.files.map(_._1).toSet
    require(affected.forall(prevNames), // input_file_name must match manifest
      s"probe returned files outside the snapshot manifest: " +
        affected.filterNot(prevNames).mkString(","))
    val survivors = snap
      .filter(col("_file").isInCollection(affected))
      .join(broadcast(touchedKeys), Seq(key), "left_anti")
      .drop("_file")
    val rewritten = survivors.unionByName(ch, allowMissingColumns = true)
    rewritten.write.format("graft.sources.TxJsonSink")
      .option("path", dir)
      .option("replacedFiles", affected.mkString(","))
      .mode("append").save()
    MergeResult(affected.size, prevNames.size - affected.size,
      prev.version + 1)
  }

  /** Read a snapshot: exactly the files its manifest lists (all-string
    * columns — the sink's minimal payload format). Files committed by
    * LATER versions are invisible, which is the snapshot-isolation
    * guarantee. The manifest's recorded column list drives the read
    * schema, so a file written before a column existed yields NULL for
    * it deterministically (the unionByName-allowMissingColumns
    * semantics) — never inference-dependent column sets; pre-schema
    * manifests fall back to inference.
    */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String,
      version: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val m = manifest(dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot ${version.getOrElse("(latest)")} in $dir"))
    val paths = m.files.map { case (f, _) => s"$dir/$f" }
    if (paths.isEmpty) spark.emptyDataFrame
    else if (m.columns.nonEmpty)
      spark.read.schema(StructType(m.columns.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType, nullable = true))))
        .json(paths: _*)
    else spark.read.json(paths: _*)
  }
}

class TxJsonSink extends TableProvider {
  // sink-only: the schema is whatever the written DataFrame carries —
  // declaring external metadata makes Spark pass it into getTable
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TxJsonTable(schema)
}

private[sources] class TxJsonTable(schema: StructType)
    extends Table with SupportsWrite {
  override def name(): String = "tx_json_sink"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // mode("overwrite") plans a truncate because the table declares
      // the TRUNCATE capability; without this implementation Spark's
      // V2Writes rule rejects the builder at runtime. Truncation is
      // snapshot-semantic: the new manifest simply does not inherit
      // the previous version's file list — prior versions stay
      // time-travelable until vacuum, exactly like a commit-log table.
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new TxJsonBatchWrite(info.options.get("path"), info.schema(),
            doTruncate,
            Option(info.options.get("replacedFiles"))
              .map(_.split(",").filter(_.nonEmpty).toSet)
              .getOrElse(Set.empty))
      }
    }
}

/** Line-JSON string escape shared by the data writer and the manifest:
  * backslash, quote, and ALL control chars (a raw newline in a value
  * would tear the record across physical lines and corrupt the
  * per-line reader; a raw tab/CR is invalid JSON).
  */
private[sources] object TxJsonEscape {
  def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"'  => b.append("\\\"")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.result()
  }
}

private[sources] case class TxFileCommit(tmpPath: String, rows: Long)
    extends WriterCommitMessage

private[sources] class TxJsonBatchWrite(path: String, schema: StructType,
    truncate: Boolean = false,
    replacedFiles: Set[String] = Set.empty) extends BatchWrite {
  require(path != null, "TxJsonSink requires a 'path' option")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new TxJsonWriterFactory(path, schema)

  /** Driver-side commit: publish every task file, write the immutable
    * versioned manifest (inheriting the previous snapshot's file list),
    * THEN atomically swing the `_COMMIT` latest-pointer onto it. A crash
    * before the final move leaves the previous snapshot fully intact.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val prev = TxJsonSink.manifest(path)
    val version = prev.map(_.version).getOrElse(0) + 1
    val entries = messages.toIndexedSeq.collect {
      case TxFileCommit(tmp, rows) =>
        val visible = tmp.replace("_tmp_", s"part-v$version-")
        Files.move(Paths.get(tmp), Paths.get(visible),
          StandardCopyOption.ATOMIC_MOVE)
        (Paths.get(visible).getFileName.toString, rows)
    }
    // COPY-ON-WRITE: a merge commit names the files it rewrote; they
    // drop out of inheritance (their replacement rows are in this
    // batch), every other previous file is carried by reference. The
    // replaced files stay on disk — older manifests still list them, so
    // prior snapshots remain time-travelable until vacuum.
    val prevFiles = if (truncate) Seq.empty
      else prev.map(_.files).getOrElse(Seq.empty)
    if (replacedFiles.nonEmpty) {
      val prevNames = prevFiles.map(_._1).toSet
      val unknown = replacedFiles.filterNot(prevNames)
      require(unknown.isEmpty,
        s"replacedFiles not in previous snapshot (concurrent commit?): " +
          unknown.mkString(","))
    }
    val all = prevFiles.filterNot { case (f, _) => replacedFiles(f) } ++
      entries
    // ADDITIVE schema evolution: the snapshot's column list is the
    // previous version's columns extended (in order) by this batch's
    // new ones — an old column absent from this batch stays, and old
    // files read as NULL for the additions. Truncate starts the list
    // fresh (a truncated table's history keeps its own schemas).
    // Pre-schema manifests contribute no columns, so the first
    // post-upgrade commit simply records the batch schema.
    val prevCols =
      if (truncate) Seq.empty else prev.map(_.columns).getOrElse(Nil)
    val cols = prevCols ++
      schema.fieldNames.toIndexedSeq.filterNot(prevCols.contains)
    val manifest =
      (s"""{"version":$version}""" +:
        s"""{"schema":[${cols.map(c =>
          "\"" + TxJsonEscape.esc(c) + "\"").mkString(",")}]}""" +:
        all.map { case (f, n) => s"""{"file":"$f","rows":$n}""" } :+
        s"""{"total_rows":${all.map(_._2).sum}}""").mkString("\n")
    // the versioned manifest gets the same tmp-file + ATOMIC_MOVE as the
    // pointer: a crash mid-write must not leave a torn _COMMIT-vN that a
    // later explicit-version read would silently parse as a partial
    // snapshot
    val versioned = dir.resolve(s"_COMMIT-v$version")
    val tmpVersioned = dir.resolve(s"_COMMIT-v$version.tmp")
    Files.write(tmpVersioned, manifest.getBytes(StandardCharsets.UTF_8))
    Files.move(tmpVersioned, versioned, StandardCopyOption.ATOMIC_MOVE)
    val tmpManifest = dir.resolve("_COMMIT.tmp")
    Files.write(tmpManifest, manifest.getBytes(StandardCharsets.UTF_8))
    Files.move(tmpManifest, dir.resolve("_COMMIT"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toIndexedSeq.foreach {
      case TxFileCommit(tmp, _) => Files.deleteIfExists(Paths.get(tmp))
      case _ => ()
    }
}

private[sources] class TxJsonWriterFactory(path: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new TxJsonDataWriter(path, schema, partitionId, taskId)
}

private[sources] class TxJsonDataWriter(path: String, schema: StructType,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  private val dir = new File(path)
  dir.mkdirs()
  private val tmp = new File(dir, s"_tmp_$partitionId-$taskId.jsonl")
  // a THROWING writer, deliberately not PrintWriter: PrintWriter
  // swallows IOExceptions into an internal flag, so a disk-full task
  // would still "commit" a truncated file with a full row count — the
  // one failure mode a transactional sink exists to prevent. Here any
  // write failure propagates, the task fails, and Spark retries it.
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(tmp), StandardCharsets.UTF_8))
  private var rows = 0L

  private def esc(s: String): String = TxJsonEscape.esc(s)

  override def write(record: InternalRow): Unit = {
    val fields = schema.fields.indices.map { i =>
      val v = record.get(i, schema.fields(i).dataType)
      val s = if (v == null) "null" else "\"" + esc(v.toString) + "\""
      s""""${esc(schema.fields(i).name)}":$s"""
    }
    out.write(fields.mkString("{", ",", "}"))
    out.write("\n")
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close() // flushes; any buffered-write failure throws here
    TxFileCommit(tmp.getAbsolutePath, rows)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: java.io.IOException => () }
    tmp.delete()
  }

  override def close(): Unit = out.close()
}
