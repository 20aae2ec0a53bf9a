package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.annotation.{JsonIgnoreProperties, JsonInclude,
  JsonProperty}
import com.fasterxml.jackson.annotation.JsonInclude.Include.{NON_ABSENT, NON_EMPTY}
import com.fasterxml.jackson.databind.{DeserializationFeature => DF}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SNAPSHOT TABLE — the repo's one table format: a commit log
  * (immutable versioned manifests, atomic latest-pointer, time travel,
  * vacuum, additive schema evolution, copy-on-write and merge-on-read
  * MERGE/DELETE) with per-file bounds for data skipping in the same
  * manifests — the Iceberg/Delta shape in miniature, over plain
  * parquet data files:
  *
  * {{{
  *   path/
  *     v3-p00000.parquet …      immutable data files, one prefix/commit
  *     _log/
  *       m-3.json               manifest: per-FILE stats of one commit's
  *                              files (batch-sized): row count + typed
  *                              PER-COLUMN min/max (+ key blooms)
  *       v1 v2 v3               snapshots: the MANIFEST LIST — one line
  *                              per manifest with its per-column bound
  *                              ENVELOPE
  *       s-3.json               the schema AS OF v3 (see below)
  *       c-4                    a claim: version 4 is being written
  *       LATEST                 atomic pointer to the current version
  * }}}
  *
  * The three-level metadata tree is what makes planning scale: a probe
  * reads the snapshot's manifest list (O(commits) lines), drops whole
  * manifests whose envelope misses the range, parses only surviving
  * manifests (each batch-sized), and opens only the files whose bounds
  * intersect — the driver never materializes the full file list of a
  * 100 TB table. This is exactly Iceberg's snapshot → manifest-list →
  * manifest pyramid.
  *
  * PER-COLUMN STATS (this is what lets keyed writes plan through the
  * pyramid, not only reads): every data file's manifest line carries
  * typed min/max for each supported top-level column — integral,
  * float/double, decimal, string (UTF-8 byte order, matching Spark's
  * UTF8String comparison), date (epoch day), timestamp (epoch micros).
  * ONE file planner ([[planFiles]]) descends the pyramid for every
  * pruned file set: [[scan]] serves range, key-set and disjunctive
  * probes on ANY stat-carrying column, and
  * [[commitDeletePlanned]]/[[commitMergePlanned]] plan their touched
  * files through the same descent on the key column's bounds and
  * blooms BEFORE any data I/O — a 10-key delete on a 100 TB table
  * opens the handful of files whose recorded key range can hold those
  * keys, instead of scanning the table to learn which files it
  * touches.
  *
  * CRASH SAFETY: data files and manifests are written before the
  * snapshot file, the snapshot before the pointer swing, and every
  * metadata write is tmp + ATOMIC_MOVE — a crash anywhere leaves the
  * previous snapshot fully intact (readers resolve through LATEST) and
  * the orphaned files invisible; the next commit of that version
  * sweeps them.
  *
  * CONCURRENT WRITERS (optimistic concurrency on the pointer swing):
  * a committer CLAIMS its target version by atomically creating
  * `_log/c-<v>` (createFile is the filesystem's CAS), verifies the
  * pointer did not move between read and claim, writes, swings the
  * pointer, and releases the claim. Appends that lose the race WAIT
  * for the winner's swing and re-plan against the new snapshot (their
  * payload is position-independent); copy-on-write rewrites FAIL
  * CLEANLY instead (their plan is version-specific). A claim whose
  * holder died without releasing blocks waiters for [[claimStaleMs]],
  * then is broken and its orphans swept — the standard lease trade
  * every lock-service-free format makes on a plain filesystem.
  * Single-FILESYSTEM by design: every commit step goes through
  * java.nio against one shared path namespace (true on local[*] and
  * any shared mount); an object-store port swaps java.nio for the
  * FileSystem API plus a conditional-put, and the protocol is
  * unchanged.
  *
  * Deletion is COPY-ON-WRITE at the file level and O(metadata) at the
  * manifest level: touched files' survivors rewrite as new files,
  * touched MANIFESTS rewrite minus their dead rows, untouched
  * manifests carry into the new snapshot BY REFERENCE. Old snapshots
  * still list the replaced files, so every prior version stays
  * readable bit for bit until [[vacuum]] reclaims it.
  *
  * METADATA CODEC: every JSON line under `_log` — a manifest's `file`
  * lines, a snapshot's `manifest`/`delete`/`pdelete` lines and
  * `part.json` — is one of the case classes below ([[FileStat]],
  * [[ManifestRef]], [[DeleteRef]], [[PredDeleteRef]], [[PartitionSpec]])
  * written and read by ONE Jackson mapper. A line that decodes as none
  * of its file's kinds throws, naming the file and the line: a
  * metadata line is never skipped, so a codec fault is loud instead of
  * a silent row loss. `LATEST` and the claim files are plain text.
  */
/** A changes-feed consumer's cursor points BELOW the vacuum horizon:
  * the snapshot its incremental fold would diff against no longer
  * exists. RECOVERY: reset the cursor to 0 and rebuild from the
  * empty-table baseline — `readChanges(0, latestAnnounced)` needs no
  * earlier snapshot and replays the whole table as inserts.
  * [[SnapshotTable.maintainAgg]] performs that reset automatically;
  * hand-rolled consumers catch this (instead of an opaque require)
  * and do the same.
  */
class SnapshotVacuumedException(msg: String)
  extends IllegalStateException(msg)

object SnapshotTable {

  /** Typed min/max of one column in one data file (or, on a manifest
    * ref, the envelope over its files). `lo`/`hi` are canonical string
    * forms under tag `t`: l=integral (long), d=float/double,
    * dec=decimal (plain string), s=string (UTF-8 byte order), dt=date
    * (epoch day), ts=timestamp (epoch micros). Both None means the
    * column holds NO non-null value — prunable for any non-null
    * predicate. A column of unsupported type simply has no ColStat,
    * which planning treats as "unknown: keep".
    */
  case class ColStat(@JsonProperty("c") col: String, t: String,
      lo: Option[String], hi: Option[String])

  /** Base64 of column `c`'s key bloom (Spark's sketch format). */
  case class Bloom(c: String, b: String)

  /** One data file: a manifest's `file` line. `cols` and `bf` are
    * omitted when empty — such a line (written before per-column
    * stats, or a hand-crafted fixture) reads as "no stats: keep".
    * Lines written before the typed stats replaced the double zone
    * bounds still carry `z_min`/`z_max`; exactly those two keys are
    * ignored on read, every other unknown key still fails the decode.
    */
  @JsonIgnoreProperties(Array("z_min", "z_max"))
  case class FileStat(file: String, rows: Long,
      @JsonInclude(NON_EMPTY) cols: Seq[ColStat] = Nil,
      @JsonProperty("bf") @JsonInclude(NON_EMPTY) blooms: Seq[Bloom] = Nil)
  /** One manifest: a snapshot's `manifest` line, with its envelope
    * (the same `z_min`/`z_max` read compatibility as [[FileStat]]).
    */
  @JsonIgnoreProperties(Array("z_min", "z_max"))
  case class ManifestRef(@JsonProperty("manifest") name: String,
      files: Int, rows: Long,
      @JsonInclude(NON_EMPTY) cols: Seq[ColStat] = Nil,
      @JsonProperty("bf") @JsonInclude(NON_EMPTY) blooms: Seq[Bloom] = Nil)
  /** An equality-delete tombstone: `file` holds the distinct keys of
    * column `key`; it applies to rows in manifests COMMITTED BEFORE
    * version `v` (Iceberg v2's sequence-number scoping) — a later
    * re-insert of a deleted key survives. A key set larger than
    * [[TombstoneRowsPerFile]] stages as SEVERAL files, one ref each
    * (same `v`, same `key`): the refs' recorded row counts are what
    * lets the read path pick broadcast vs shuffle per tombstone.
    */
  case class DeleteRef(@JsonProperty("delete") file: String, key: String,
      rows: Long, v: Int)

  /** A PREDICATE merge-on-read delete: rows of stat-carrying column
    * `col` inside the closed range [lo, hi] (canonical forms under tag
    * `t`; an open side is None) vanish from manifests COMMITTED BEFORE
    * version `v` — the same sequence scoping as [[DeleteRef]], with the
    * key SET replaced by a serialized comparison, so a retention drop
    * ("everything before this date") lands as ONE snapshot line and no
    * data file or key file is written at all. NULL values never match
    * a range predicate and always survive.
    */
  case class PredDeleteRef(@JsonProperty("pdelete") col: String, t: String,
      lo: Option[String], hi: Option[String], v: Int)

  // ---- typed column stats: tags, canonical forms, comparison ---------

  private[sources] def colTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("l")
    case FloatType | DoubleType => Some("d")
    case _: DecimalType => Some("dec")
    case StringType => Some("s")
    case DateType => Some("dt")
    case TimestampType => Some("ts")
    case _ => None
  }

  /** Canonical string of a collected min/max (or caller-supplied bound)
    * under `t`. Accepts both the java.sql and java.time externals (the
    * session's datetime.java8API flag decides which Spark hands back)
    * and, for bounds arriving from a caller, plain "yyyy-MM-dd" /
    * ISO-instant strings.
    */
  private def canonOf(t: String, v: Any): String = (t, v) match {
    case ("l", n: java.lang.Number) => n.longValue.toString
    case ("l", s: String) => s.trim.toLong.toString
    case ("d", n: java.lang.Number) => n.doubleValue.toString
    case ("d", s: String) => s.trim.toDouble.toString
    case ("dec", d: java.math.BigDecimal) => d.toPlainString
    case ("dec", d: scala.math.BigDecimal) => d.bigDecimal.toPlainString
    case ("dec", x) => new java.math.BigDecimal(x.toString).toPlainString
    case ("s", x) => x.toString
    case ("dt", d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
    case ("dt", d: java.time.LocalDate) => d.toEpochDay.toString
    case ("dt", s: String) =>
      java.time.LocalDate.parse(s.trim).toEpochDay.toString
    case ("ts", x) =>
      val i = x match {
        case ts: java.sql.Timestamp => ts.toInstant
        case in: java.time.Instant => in
        case s: String => java.time.Instant.parse(s.trim)
        case other => throw new IllegalArgumentException(
          s"cannot canonicalize $other as a timestamp bound")
      }
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    case (tag, other) => throw new IllegalArgumentException(
      s"cannot canonicalize ${other.getClass.getName} under tag '$tag'")
  }

  /** Order of two canonical values under tag `t`. Strings compare as
    * UTF-8 bytes — the SAME total order as Spark's UTF8String binary
    * comparison, so bounds recorded by a Spark min/max stay sound
    * against bounds compared here (Java's String.compareTo differs for
    * supplementary characters and would not be).
    */
  private def cmpCanon(t: String, a: String, b: String): Int = t match {
    case "l" | "dt" | "ts" => java.lang.Long.compare(a.toLong, b.toLong)
    case "d" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "dec" =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case "s" =>
      val x = a.getBytes(StandardCharsets.UTF_8)
      val y = b.getBytes(StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    case other =>
      throw new IllegalArgumentException(s"unknown stat tag '$other'")
  }

  private def statFor(cols: Seq[ColStat], c: String): Option[ColStat] =
    cols.find(_.col == c)

  // ---- driver-side metadata I/O (tmp + ATOMIC_MOVE everywhere) --------

  private def logDir(path: String) = Paths.get(path, "_log")

  private def writeAtomic(p: java.nio.file.Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The LATEST pointer's payload: (version, batch id of the LAST
    * STREAMING commit — −1 before any, that commit's WRITER id — ""
    * before any). One file, one ATOMIC_MOVE, so version AND provenance
    * publish together: that is what makes the streaming commit
    * exactly-once (see [[commitAppendOnce]]) without a separate ledger
    * whose write would open a crash window after the pointer swing.
    * Non-streaming commits CARRY the previous pointer's (batchId,
    * writerId) forward instead of erasing them: the docs recommend
    * compaction as a standing background job on streamed-into tables,
    * and a compaction landing between a stream crash (after the sink
    * swing, before Spark's checkpoint commit) and the restart must not
    * make the replayed batch commit twice — the provenance survives
    * every interleaved non-streaming commit, exactly like Delta's
    * per-appId txn versions. The writer id SCOPES the provenance the
    * same way Delta's appId does: a brand-new streaming query (fresh
    * checkpoint, batch ids restarting at 0) attached to a table whose
    * carried id happens to equal its first batch id must NOT
    * short-circuit another writer's provenance — that would be silent
    * data loss, not dedup. Pointers written before the writer-id era
    * parse with writerId = "" and keep their old (id-only) semantics.
    */
  private def readPointer(path: String): Option[(Int, Long, String)] = {
    val p = logDir(path).resolve("LATEST")
    if (!Files.exists(p)) None
    else {
      val parts = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .trim.split("\\s+")
      Some((parts(0).toInt,
        if (parts.length > 1) parts(1).toLong else -1L,
        if (parts.length > 2) parts(2) else ""))
    }
  }

  private def swingPointer(path: String, v: Int, batchId: Long,
      writerId: String = ""): Unit = {
    require(!writerId.exists(_.isWhitespace),
      s"writerId must not contain whitespace: '$writerId'")
    writeAtomic(logDir(path).resolve("LATEST"),
      if (writerId.isEmpty) s"$v $batchId" else s"$v $batchId $writerId")
  }

  /** The (batchId, writerId) a NON-streaming commit must carry forward
    * (see [[readPointer]]) — the previous pointer's, or (−1, "") on a
    * fresh table.
    */
  private def carriedBatchId(
      prevPtr: Option[(Int, Long, String)]): (Long, String) =
    prevPtr.map(p => (p._2, p._3)).getOrElse((-1L, ""))

  /** Latest committed version, resolved through the atomic pointer —
    * None before the first commit.
    */
  def latestVersion(path: String): Option[Int] =
    readPointer(path).map(_._1)

  // ---- optimistic concurrency: version claims -------------------------

  /** How long a waiter lets a competing claim block before declaring
    * its holder dead and breaking it. A lease, not a proof — a holder
    * merely SLOWER than this can lose its in-flight commit to the
    * takeover (the standard trade of lock-service-free formats on a
    * plain filesystem; Delta on S3 pre-conditional-put had the same).
    * Volatile test hook; production default 60 s.
    */
  @volatile private[graft] var claimStaleMs: Long = 60000L

  private def claimPath(path: String, v: Int) =
    logDir(path).resolve(s"c-$v")

  /** Atomically claim version `v` — CREATE_NEW IS the filesystem CAS.
    * The claim file carries the claimant's NONCE, so a holder can
    * re-verify ownership before its destructive writes (see
    * [[requireClaimHeld]]): after a stale-claim takeover, the slow
    * holder's nonce no longer matches and it aborts instead of
    * overwriting the takeover winner's already-committed files.
    */
  private def tryClaim(path: String, v: Int, nonce: String): Boolean = {
    Files.createDirectories(logDir(path))
    try {
      Files.write(claimPath(path, v),
        nonce.getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      true
    }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  private def newNonce(): String = java.util.UUID.randomUUID().toString

  /** Abort (without publishing) unless this writer STILL holds its
    * claim. Checked immediately before the staged-part moves and again
    * before the manifest/snapshot writes + pointer swing, so a
    * slower-than-the-lease holder loses its in-flight commit CLEANLY
    * instead of clobbering the takeover winner's committed version.
    * The residual window (between a check and the write it guards) is
    * milliseconds; keep [[claimStaleMs]] well above worst-case commit
    * time regardless — the lease trade is narrowed here, not removed.
    */
  private def requireClaimHeld(path: String, v: Int,
      nonce: String): Unit = {
    val p = claimPath(path, v)
    val held = Files.exists(p) &&
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8) == nonce
    if (!held) throw new java.util.ConcurrentModificationException(
      s"claim on v$v of $path was broken (stale-lease takeover) — " +
        "aborting before any published state is touched")
  }

  private def releaseClaim(path: String, v: Int): Unit =
    Files.deleteIfExists(claimPath(path, v))

  /** Claim the next commit slot for an APPEND: loop of (read pointer,
    * claim prev+1, verify the pointer did not move under the claim);
    * on contention, wait for the holder's swing (or its release, or
    * staleness) and re-plan against whatever is latest then. Returns
    * (pointer as read, claimed version, claim nonce) with the claim
    * HELD — the caller must release it in a finally.
    */
  private def claimNext(path: String)
      : (Option[(Int, Long, String)], Int, String) = {
    while (true) {
      val ptr = readPointer(path)
      val v = ptr.map(_._1).getOrElse(0) + 1
      val nonce = newNonce()
      if (tryClaim(path, v, nonce)) {
        // a racing writer may have committed v and released between our
        // pointer read and the claim — verify, else re-plan
        if (readPointer(path) == ptr) return (ptr, v, nonce)
        releaseClaim(path, v)
      } else {
        val t0 = System.currentTimeMillis()
        var moved = false
        while (!moved && System.currentTimeMillis() - t0 < claimStaleMs) {
          if (latestVersion(path).exists(_ >= v) ||
            !Files.exists(claimPath(path, v))) moved = true
          else Thread.sleep(2)
        }
        // stale holder: break the claim; the next claimant's
        // sweepUncommitted clears its orphans
        if (!moved) releaseClaim(path, v)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Claim `prev + 1` for a COPY-ON-WRITE rewrite (delete/merge/
    * compact/tombstone): these plan against `prev` specifically, so a
    * lost race FAILS CLEANLY instead of re-planning — the caller
    * re-runs against the new snapshot if it still wants to. Claim is
    * HELD on return; release in a finally. Returns (version, nonce).
    */
  private def claimCow(path: String, prev: Int, op: String)
      : (Int, String) = {
    val v = prev + 1
    val nonce = newNonce()
    if (!tryClaim(path, v, nonce))
      throw new java.util.ConcurrentModificationException(
        s"$op: another writer holds the claim on v$v of $path")
    if (!latestVersion(path).contains(prev)) {
      releaseClaim(path, v)
      throw new java.util.ConcurrentModificationException(
        s"$op: table $path moved past v$prev while planning")
    }
    (v, nonce)
  }

  // ---- the metadata codec: one Jackson mapper, one case class per line

  /** Writes omit absent Options (and the annotated empty `cols`/`bf`);
    * reads fail on a missing or null field, an unknown key or trailing
    * text instead of defaulting them.
    */
  private val Json = JsonMapper.builder().addModule(DefaultScalaModule)
    .defaultPropertyInclusion(JsonInclude.Value.construct(NON_ABSENT, NON_ABSENT))
    .enable(DF.FAIL_ON_NULL_FOR_PRIMITIVES, DF.FAIL_ON_NULL_CREATOR_PROPERTIES,
      DF.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** A file's line kinds, each named by the key that marks it. */
  private[sources] type Kinds = Seq[(String, Class[_ <: AnyRef])]
  private[sources] val ManifestKinds: Kinds = Seq("file" -> classOf[FileStat])
  private[sources] val SnapshotKinds: Kinds = Seq(
    "manifest" -> classOf[ManifestRef], "delete" -> classOf[DeleteRef],
    "pdelete" -> classOf[PredDeleteRef])
  private[sources] val PartSpecKinds: Kinds =
    Seq("transform" -> classOf[PartitionSpec])

  private[sources] def encodeLine(line: AnyRef): String =
    Json.writeValueAsString(line)

  /** Decode each of `file`'s lines as the first of `kinds` whose key it
    * carries. A line that decodes as none of them throws, naming the
    * file and the line — never skipped.
    */
  private[sources] def decodeLines(file: String, lines: Seq[String],
      kinds: Kinds): Seq[AnyRef] =
    lines.zipWithIndex.map { case (line, i) =>
      try {
        val node = Json.readTree(line)
        val cls = kinds.collectFirst { case (k, c) if node.has(k) => c }
          .getOrElse(throw new IllegalArgumentException(
            "no key of " + kinds.map(_._1).mkString("/")))
        Json.treeToValue(node, cls)
      } catch {
        case e: Exception => throw new IllegalStateException(
          s"undecodable metadata line ${i + 1} of $file: ${line.take(200)}",
          e)
      }
    }

  private def writeLines(p: java.nio.file.Path, lines: Seq[AnyRef]): Unit =
    writeAtomic(p, lines.map(encodeLine).mkString("\n"))

  private def readLines(p: java.nio.file.Path, kinds: Kinds): Seq[AnyRef] =
    decodeLines(p.toString,
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toIndexedSeq, kinds)

  private def writeManifest(path: String, name: String,
      stats: Seq[FileStat]): Unit =
    writeLines(logDir(path).resolve(name), stats)

  private def parseManifest(path: String, name: String): Seq[FileStat] =
    readLines(logDir(path).resolve(name), ManifestKinds)
      .map { case f: FileStat => f }

  /** A snapshot file decoded once: its manifest list and the tombstones
    * that append commits carry forward until a compaction materializes
    * them.
    */
  private[sources] case class Snap(refs: Seq[ManifestRef],
      dels: Seq[DeleteRef] = Nil, pdels: Seq[PredDeleteRef] = Nil)

  private def readSnap(path: String, v: Int): Snap = {
    val p = logDir(path).resolve(s"v$v")
    require(Files.exists(p), s"snapshot v$v does not exist (vacuumed?)")
    val lines = readLines(p, SnapshotKinds)
    Snap(lines.collect { case r: ManifestRef => r },
      lines.collect { case d: DeleteRef => d },
      lines.collect { case d: PredDeleteRef => d })
  }

  /** No merge-on-read tombstones: the manifests alone describe the rows. */
  private def tombstoneFree(s: Snap): Boolean = s.dels.isEmpty && s.pdels.isEmpty

  private def writeSnap(path: String, v: Int, s: Snap): Unit =
    writeLines(logDir(path).resolve(s"v$v"), s.refs ++ s.dels ++ s.pdels)

  private def snapOf(path: String, version: Option[Int]): Snap =
    readSnap(path, version.orElse(latestVersion(path)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path")))

  /** The equality-delete tombstones of `version`'s snapshot. */
  def deleteRefs(path: String, version: Option[Int] = None)
      : Seq[DeleteRef] = snapOf(path, version).dels

  /** The predicate-delete tombstones of `version`'s snapshot. */
  def predDeleteRefs(path: String, version: Option[Int] = None)
      : Seq[PredDeleteRef] = snapOf(path, version).pdels

  /** The commit version a manifest's FILES belong to for tombstone
    * scoping ("m-5.json" and the COW rewrite "m-5-r2.json" are both 5
    * — a rewrite can only happen tombstone-free, see [[commitDelete]],
    * so its rows re-enter the sequence at the rewrite version).
    */
  private def manifestVersion(name: String): Int =
    name.stripPrefix("m-").takeWhile(_.isDigit).toInt

  /** The manifest list of `version` (or latest). */
  def snapshot(path: String, version: Option[Int] = None)
      : Seq[ManifestRef] = snapOf(path, version).refs

  /** The manifest's envelope over its files: the per-column merge. A
    * column's envelope exists only when EVERY live file carries a stat
    * for it under one tag — claiming bounds over a file with unknown
    * values would make envelope-level pruning unsound. Zero-row files
    * carry no stats and are excluded; an all-empty manifest records
    * zero rows, which the planner never selects.
    */
  private def envelope(stats: Seq[FileStat], name: String): ManifestRef = {
    val live = stats.filter(_.rows > 0)
    if (live.isEmpty) ManifestRef(name, stats.size, 0L)
    else ManifestRef(name, stats.size, stats.map(_.rows).sum,
      colEnvelope(live), bloomEnvelope(live))
  }

  /** The new snapshot's manifest list: `refs` minus the files `gone`
    * names. A manifest absent from `parsed` (never parsed: its envelope
    * ruled it out) or losing no file carries by reference, one losing
    * every file drops out, and any other rewrites minus the gone files
    * under `rename(ref, i)` for the i-th rewrite.
    */
  private def carryManifests(path: String, refs: Seq[ManifestRef],
      parsed: Seq[(ManifestRef, Seq[FileStat])], gone: String => Boolean,
      rename: (ManifestRef, Int) => String): Seq[ManifestRef] = {
    val parsedOf = parsed.toMap
    var ri = 0
    refs.flatMap { ref =>
      val fs = parsedOf.getOrElse(ref, Nil)
      val kept = fs.filterNot(f => gone(f.file))
      if (kept.size == fs.size) Some(ref)
      else if (kept.isEmpty) None
      else {
        ri += 1
        val rn = rename(ref, ri)
        writeManifest(path, rn, kept)
        Some(envelope(kept, rn))
      }
    }
  }

  /** Union of the files' key blooms (same commit ⇒ same sizing, so
    * mergeInPlace is well-defined); a column's envelope bloom exists
    * only when EVERY live file carries one — a file with unknown keys
    * would make envelope-level bloom pruning unsound.
    */
  private def bloomEnvelope(live: Seq[FileStat])
      : Seq[Bloom] = {
    val enc = java.util.Base64.getEncoder
    live.head.blooms.map(_.c).flatMap { c =>
      val per = live.map(f => f.blooms.find(_.c == c))
      if (per.exists(_.isEmpty)) None
      else try {
        val bfs = per.map(b => readBloom(b.get.b))
        val merged = bfs.reduce { (a, b) => a.mergeInPlace(b); a }
        val bos = new java.io.ByteArrayOutputStream()
        merged.writeTo(bos)
        Some(Bloom(c, enc.encodeToString(bos.toByteArray)))
      } catch { case _: Exception => None } // incompatible: no envelope
    }
  }

  private def readBloom(b64: String)
      : org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        java.util.Base64.getDecoder.decode(b64)))

  private def colEnvelope(live: Seq[FileStat]): Seq[ColStat] = {
    live.head.cols.flatMap { lead =>
      val per = live.map(f => statFor(f.cols, lead.col))
      if (per.exists(s => s.isEmpty || s.get.t != lead.t)) None
      else {
        val bounded = per.flatMap(s =>
          for (l <- s.get.lo; h <- s.get.hi) yield (l, h))
        if (bounded.isEmpty) Some(ColStat(lead.col, lead.t, None, None))
        else Some(ColStat(lead.col, lead.t,
          Some(bounded.map(_._1).reduce((a, b) =>
            if (cmpCanon(lead.t, a, b) <= 0) a else b)),
          Some(bounded.map(_._2).reduce((a, b) =>
            if (cmpCanon(lead.t, a, b) >= 0) a else b))))
      }
    }
  }

  // ---- schema evolution: the schema travels in the commit log --------
  // Every commit writes `s-<v>.json` — the MERGE of the previous
  // version's schema with the committed batch's (new columns append;
  // a column absent on either side becomes nullable; a TYPE change is
  // rejected). Reads apply the version's schema explicitly, so (a) old
  // files fill evolved columns with null, (b) planning never runs a
  // footer-sampling mergeSchema job over a 100 TB file list — the same
  // reason Iceberg/Delta keep schemas in metadata — and (c) time
  // travel sees the schema AS OF that version.

  private def schemaPath(path: String, v: Int) =
    logDir(path).resolve(s"s-$v.json")

  /** The committed schema of `version` — None for tables written
    * before schema tracking (reads then fall back to file inference).
    */
  def readSchema(path: String, version: Int): Option[StructType] = {
    val p = schemaPath(path, version)
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .asInstanceOf[StructType])
  }

  private def mergeSchemas(prev: StructType, next: StructType)
      : StructType = {
    val pNames = prev.fieldNames.toSet
    val nNames = next.fieldNames.toSet
    next.fields.filter(f => pNames(f.name)).foreach { f =>
      require(prev(f.name).dataType == f.dataType,
        s"schema evolution cannot change the type of '${f.name}': " +
          s"${prev(f.name).dataType} -> ${f.dataType}")
    }
    StructType(
      prev.fields.map(f => if (nNames(f.name)) f
        else f.copy(nullable = true)) ++
      next.fields.filterNot(f => pNames(f.name))
        .map(_.copy(nullable = true)))
  }

  private def writeMergedSchema(path: String, v: Int, prevV: Option[Int],
      batch: StructType): Unit = {
    val merged = prevV.flatMap(readSchema(path, _)) match {
      case Some(p) => mergeSchemas(p, batch)
      case None => batch
    }
    writeAtomic(schemaPath(path, v), merged.json)
  }

  /** Read `paths` under `version`'s committed schema — files written
    * before a column existed fill it with null; without a schema file
    * the read falls back to inference (pre-evolution tables).
    */
  private def readFiles(spark: SparkSession, path: String, version: Int,
      paths: Seq[String]): DataFrame = readSchema(path, version) match {
    case Some(sc) => spark.read.schema(sc).parquet(paths: _*)
    case None => spark.read.parquet(paths: _*)
  }

  /** Sweep data files and metadata of an uncommitted version `v` — the
    * leftovers of an attempt that died before its pointer swing. They
    * were never visible (readers resolve through LATEST), and the
    * retrying commit must not interleave with them. Claims (`c-$v`)
    * are NOT swept — ownership is the claimant's to release.
    */
  private def sweepUncommitted(path: String, v: Int): Unit = {
    Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => (f.getName.startsWith(s"v$v-p") ||
        f.getName.startsWith(s"v$v-d")) && f.isFile)
      .foreach(_.delete())
    val log = logDir(path).toFile
    Option(log.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName == s"v$v" || f.getName == s"m-$v.json" ||
        f.getName == s"s-$v.json" || f.getName.startsWith(s"m-$v-r") ||
        f.getName.matches(s"m-\\d+-r$v-\\d+\\.json"))
      .foreach(_.delete())
  }

  // ---- write path: layout, staging, per-file stat collection ---------

  /** Range-clustered layout on one column of ANY orderable type —
    * string/date clustering is what makes the typed envelopes
    * selective: each file then holds one compact slice of the
    * column's lexicographic (or date) order.
    */
  private def rangeLayout(df: DataFrame, zcol: String,
      nFiles: Int): DataFrame =
    df.repartitionByRange(nFiles, col(zcol)).sortWithinPartitions(col(zcol))

  /** Morton (Z-order) layout on two numeric columns: each value is
    * scaled to 16 bits against the input's own [min, max] (one tiny
    * pre-pass, floor-quantized so the mapping is engine-exact), the
    * bits interleave via the standard mask-spread ladder — pure integer
    * Column arithmetic, fully codegen'd, no UDF — and rows
    * range-partition and sort on the interleaved code, so each file
    * covers a compact 2-D block of the (c1, c2) space.
    */
  private def zOrderLayout(df: DataFrame, c1: String, c2: String,
      nFiles: Int): DataFrame = {
    val mm = df.agg(
      min(col(c1)).cast("double").as("mn1"),
      max(col(c1)).cast("double").as("mx1"),
      min(col(c2)).cast("double").as("mn2"),
      max(col(c2)).cast("double").as("mx2"))
    def scaled(c: String, mn: Column, mx: Column) =
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

  /** Spread the low 16 bits of `c` so bit i lands at position 2i. */
  private def spread16(c: Column): Column = {
    val a = c.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val d = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Pin the snapshot writer's own parquet timestamp encoding to INT64
    * TIMESTAMP_MICROS for the duration of a stage write, whatever the
    * caller's session carries: values are identical on read (Spark
    * timestamps ARE micros), but INT96 footers hold no usable column
    * statistics, so a legacy-encoded commit would pay the full
    * read-back stats scan forever. Scoped set/restore — even if it
    * leaked into a concurrent write in the same session, the encoding
    * choice never changes values.
    */
  private def withMicrosTs[T](s: SparkSession)(body: => T): T = {
    val k = "spark.sql.parquet.outputTimestampType"
    val prev = s.conf.get(k)
    s.conf.set(k, "TIMESTAMP_MICROS")
    try body finally s.conf.set(k, prev)
  }

  /** Stage an already-laid-out `df`, move the staged parts to their
    * immutable `v<N>-p<i>.parquet` names, and collect their stats: row
    * count and the typed per-column min/max of every supported column
    * (see [[collectFileStats]]).
    */
  private def stageLaidOut(laid: DataFrame, path: String, v: Int,
      bloomCols: Seq[String] = Nil,
      nonce: Option[String] = None): Seq[FileStat] = {
    val s = laid.sparkSession
    val stage = s"$path/_log/_stage"
    withMicrosTs(s)(laid.write.mode("overwrite").parquet(stage))
    val stageDir = Paths.get(stage)
    val parts = listDirNames(stageDir).filter(_.startsWith("part-")).sorted
    // ownership re-check AFTER the (slow) distributed write, BEFORE the
    // moves that could replace a takeover winner's committed files
    nonce.foreach(n => requireClaimHeld(path, v, n))
    val moved = parts.zipWithIndex.map { case (nm, i) =>
      val dst = f"v$v-p$i%05d.parquet"
      Files.move(stageDir.resolve(nm), Paths.get(path, dst),
        StandardCopyOption.ATOMIC_MOVE)
      dst
    }
    // Spark writes one zero-row file for an empty input; the committed
    // schema lives in the log, so that file is dropped, never listed:
    // an empty batch adds no data file for every later read to open
    val (live, empty) = collectFileStats(s, path, moved, bloomCols,
      laid.schema).partition(_.rows > 0)
    empty.foreach(f => Files.delete(Paths.get(path, f.file)))
    live
  }

  /** Stats dispatcher: per-file manifest stats from the parquet FOOTERS
    * the write just produced (O(files) driver metadata reads, no Spark
    * job, no second pass over the data) whenever every stat column's
    * footer statistic is exactly decodable; otherwise the one-job scan
    * [[fileColStats]]. At the 100 TB design point this is the
    * difference between an ingest that writes W bytes and one that
    * writes W then READS W back to learn what it wrote — the
    * Iceberg/Delta shape is stats-from-the-writer's-own-footers, and
    * the values here are bit-identical by construction (verified
    * column-by-column in SnapshotTableSpec against the scan path).
    *
    * A BLOOM-carrying commit needs one data pass for the sketches (a
    * footer cannot yield them) — but min/max/rows still come from the
    * footers, so that pass reads ONLY the key columns
    * ([[fileBlooms]]: ReadSchema = bloomCols, not the whole row). On a
    * wide table that turns the post-write job from "read W back" into
    * "read the key bytes back". Sketch bytes are order-insensitive
    * (bit-OR of per-item hashes under a fixed sizing), so the narrow
    * pass's blooms are byte-identical to the full scan's.
    */
  private def collectFileStats(s: SparkSession, path: String,
      names: Seq[String], bloomCols: Seq[String],
      schema: StructType): Seq[FileStat] =
    footerColStats(s, path, names, schema) match {
      case Some(stats) if bloomCols.isEmpty => stats
      case Some(stats) =>
        val blooms = fileBlooms(s, path, names, bloomCols)
        stats.map(f =>
          if (f.rows == 0) f
          else f.copy(blooms = blooms.getOrElse(f.file, Nil)))
      case None => fileColStats(s, path, names, bloomCols)
    }

  /** Per-file manifest blooms from a KEY-COLUMNS-ONLY pass: the narrow
    * companion of the footer fast path for bloom-carrying commits.
    * Bit-identical to [[fileColStats]]'s sketches: same bloom_agg
    * sizing, same xxhash64 key normalization, and a bloom's bitset is
    * insertion-order-independent.
    */
  /** The key-columns-only sketch relation — exposed as a DataFrame
    * builder so the plan-evidence tool can show its ReadSchema carries
    * ONLY the key columns. [[fileBlooms]] collects it.
    */
  private[graft] def fileBloomsDF(s: SparkSession, path: String,
      names: Seq[String], bloomCols: Seq[String]): DataFrame = {
    val src = s.read.parquet(names.map(n => s"$path/$n"): _*)
    requireBloomable(src, bloomCols)
    graft.functions.BloomExprs.ensureRegistered(s)
    val aggs = bloomCols.map(c => call_function("bloom_agg",
      bloomKeyHash(src, c), lit(BloomExpectedKeys)).as(s"_bf_$c"))
    src.select((input_file_name().as("_f") +:
        bloomCols.map(col)): _*)
      .groupBy(substring_index(col("_f"), "/", -1).as("_n"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def fileBlooms(s: SparkSession, path: String,
      names: Seq[String], bloomCols: Seq[String])
      : Map[String, Seq[Bloom]] = {
    val enc = java.util.Base64.getEncoder
    fileBloomsDF(s, path, names, bloomCols)
      .collect().map { r =>
        r.getString(0) -> bloomCols.zipWithIndex.flatMap { case (c, i) =>
          Option(r.get(1 + i)).map(b =>
            Bloom(c, enc.encodeToString(b.asInstanceOf[Array[Byte]])))
        }
      }.toMap
  }

  /** Footer tags whose min/max round-trip EXACTLY to the canonical
    * forms the scan path records: integral (INT32/64), decimal
    * (unscaled INT32/64/binary + declared scale), string (un-truncated
    * UTF-8 binary under parquet's unsigned order = [[cmpCanon]]'s), and
    * date (INT32 epoch day), and timestamp (INT64 epoch micros — the
    * TIMESTAMP_MICROS encoding [[Graft.configure]] pins; a legacy
    * INT96 or non-micros/non-UTC annotation fails the decode's
    * annotation check and declines to the scan). Deliberately NOT
    * doubles (parquet widens ±0.0 bounds conservatively, so the footer
    * value can differ from the scanned min/max) — schemas holding them
    * fall back to the scan, trading speed for the exactness the
    * manifests are gated on.
    */
  private def footerExactTag(t: String): Boolean =
    t == "l" || t == "dec" || t == "s" || t == "dt" || t == "ts"

  /** Per-file stats decoded from parquet footers — None when ANY
    * column of ANY file lacks an exactly-decodable statistic (missing
    * chunk stats, truncated/oversized binary bounds, unexpected
    * physical type), in which case the caller runs the scan. False
    * "unusable" only costs the fallback job; a wrong decode is ruled
    * out by taking only bit-exact representations.
    */
  private def footerColStats(s: SparkSession, path: String,
      names: Seq[String], schema: StructType): Option[Seq[FileStat]] = {
    val fields = schema.fields.toIndexedSeq
      .flatMap(f => colTag(f.dataType).map(t => (f.name, f.dataType, t)))
    if (!fields.forall { case (_, _, t) => footerExactTag(t) }) return None
    val conf = s.sparkContext.hadoopConfiguration
    // plain-path files open through java.nio (LocalInputFile): the
    // Hadoop LocalFileSystem wrapper CRC-checksums every read, which
    // measured ~30 ms per footer — as slow as the scan job this path
    // exists to remove; scheme-carrying paths keep the Hadoop route
    def inputFile(p: String): org.apache.parquet.io.InputFile =
      if (p.startsWith("file:"))
        // java.net.URI handles every 'file:' spelling Hadoop/Spark
        // render ('file:/x', 'file:///x'); the old stripPrefix turned
        // the single-slash form into a bogus relative path whose raw
        // IO error ABORTED the commit instead of falling back
        new org.apache.parquet.io.LocalInputFile(
          Paths.get(java.net.URI.create(p)))
      else if (!p.contains(":"))
        new org.apache.parquet.io.LocalInputFile(Paths.get(p))
      else org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf)
    def decode(t: String, dt: DataType,
        pt: org.apache.parquet.schema.PrimitiveType, raw: Any)
        : Option[String] =
      (t, raw) match {
        case ("l", n: java.lang.Integer) => Some(n.longValue.toString)
        case ("l", n: java.lang.Long) => Some(n.toString)
        case ("dt", n: java.lang.Integer) => Some(n.toString)
        case ("ts", n: java.lang.Long) =>
          // exact ONLY for the micros/UTC-adjusted INT64 encoding the
          // writer pins — the canonical form IS epoch micros; any
          // other annotation (millis, non-UTC) or legacy INT96 (raw
          // Binary, no case) declines to the scan
          pt.getLogicalTypeAnnotation match {
            case a: org.apache.parquet.schema.LogicalTypeAnnotation
                .TimestampLogicalTypeAnnotation
                if a.getUnit == org.apache.parquet.schema
                  .LogicalTypeAnnotation.TimeUnit.MICROS &&
                  a.isAdjustedToUTC =>
              Some(n.toString)
            case _ => None
          }
        case ("dec", n: java.lang.Integer) =>
          Some(java.math.BigDecimal.valueOf(n.longValue,
            dt.asInstanceOf[DecimalType].scale).toPlainString)
        case ("dec", n: java.lang.Long) =>
          Some(java.math.BigDecimal.valueOf(n.longValue,
            dt.asInstanceOf[DecimalType].scale).toPlainString)
        case ("dec", b: org.apache.parquet.io.api.Binary) =>
          Some(new java.math.BigDecimal(
            new java.math.BigInteger(b.getBytes),
            dt.asInstanceOf[DecimalType].scale).toPlainString)
        case ("s", b: org.apache.parquet.io.api.Binary) =>
          Some(new String(b.getBytes, StandardCharsets.UTF_8))
        case _ => None
      }
    // footers read CONCURRENTLY (driver metadata I/O, one small read
    // per file) — the Iceberg manifest-read shape; order of the
    // returned stats stays names.sorted regardless of completion order.
    // Each per-file read SETTLES (Either) instead of failing its
    // future: a failed future would make Await rethrow while sibling
    // reads are still in flight, and the finally's pool.shutdown would
    // then reject their continuations with RejectedExecutionException
    // stack traces from pool threads. Awaiting ALL settled results
    // first means shutdown always finds an idle pool. Any non-fatal
    // error (unusable stat, unexpected scheme, IO failure) declines to
    // the scan — the fallback is exact by construction.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, names.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val settled =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.traverse(names.sorted.toList)(n =>
          scala.concurrent.Future(
            try Right(footerStatOne(path, n, fields, inputFile, decode))
            catch { case scala.util.control.NonFatal(_) => Left(()) })),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    if (settled.forall(_.isRight)) Some(settled.flatMap(_.toOption))
    else None
  }

  private def footerStatOne(path: String, n: String,
      fields: IndexedSeq[(String, DataType, String)],
      inputFile: String => org.apache.parquet.io.InputFile,
      decode: (String, DataType, org.apache.parquet.schema.PrimitiveType,
        Any) => Option[String]): FileStat = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      inputFile(s"$path/$n"))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toIndexedSeq
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0L) FileStat(n, 0L)
      else {
        val cols = fields.map { case (cName, dt, t) =>
          var lo: Option[String] = None
          var hi: Option[String] = None
          blocks.foreach { b =>
            val chunk = b.getColumns.asScala
              .find(_.getPath.toDotString == cName)
              .getOrElse(throw FooterUnusable)
            val st = chunk.getStatistics
            if (st == null) throw FooterUnusable
            else if (st.hasNonNullValue) {
              val pt = chunk.getPrimitiveType
              val mn = decode(t, dt, pt, st.genericGetMin)
                .getOrElse(throw FooterUnusable)
              val mx = decode(t, dt, pt, st.genericGetMax)
                .getOrElse(throw FooterUnusable)
              lo = Some(lo.filter(cmpCanon(t, _, mn) <= 0)
                .getOrElse(mn))
              hi = Some(hi.filter(cmpCanon(t, _, mx) >= 0)
                .getOrElse(mx))
            } else if (!(st.isNumNullsSet &&
                st.getNumNulls == b.getRowCount))
              // can't tell "all null" from "stats dropped": scan
              throw FooterUnusable
          }
          ColStat(cName, t, lo, hi)
        }
        FileStat(n, rows, cols)
      }
    } finally reader.close()
  }

  private object FooterUnusable
    extends RuntimeException("footer stats unusable")
      with scala.util.control.NoStackTrace

  /** Test hook: BOTH stat paths over the same committed files —
    * SnapshotTableSpec pins the footer decode bit-identical to the
    * scan (manifest values are oracle-gated downstream, so "close" is
    * not good enough).
    */
  private[graft] def statPathsForTest(s: SparkSession, path: String,
      names: Seq[String], schema: StructType)
      : (Option[Seq[FileStat]], Seq[FileStat]) =
    (footerColStats(s, path, names, schema),
      fileColStats(s, path, names, Nil))

  /** Test hook for BLOOM-carrying commits: the dispatcher's
    * footer-stats + key-columns-only-bloom path vs the one-job full
    * scan — the spec pins them byte-identical (sketches included).
    */
  private[graft] def bloomStatPathsForTest(s: SparkSession, path: String,
      names: Seq[String], schema: StructType,
      bloomCols: Seq[String]): (Seq[FileStat], Seq[FileStat]) =
    (collectFileStats(s, path, names, bloomCols, schema),
      fileColStats(s, path, names, bloomCols))

  /** Expected distinct keys per file for the manifest blooms — sizes
    * the sketch (Spark's 2-arg bloom_agg allocates items×8 bits, ~2%
    * FPP at the expectation). Overshooting only raises the false-
    * positive rate, never unsoundness: a bloom can only ADD candidate
    * files, and the probe's semi-join removes false positives.
    */
  private val BloomExpectedKeys = 20000L

  // both tags feed the sketch the SQL xxhash64 (seed 42) of the key —
  // integral keys normalized through a long cast, string keys hashed
  // on their UTF-8 bytes directly; the probe side ([[planKeys]])
  // hashes identically
  private def bloomKeyHash(src: DataFrame, c: String)
      : org.apache.spark.sql.Column =
    if (colTag(src.schema(c).dataType).contains("l"))
      xxhash64(col(c).cast("long"))
    else xxhash64(col(c))

  private def requireBloomable(src: DataFrame,
      bloomCols: Seq[String]): Unit =
    bloomCols.foreach { c =>
      require(colTag(src.schema(c).dataType).exists(t =>
          t == "l" || t == "s"),
        s"manifest blooms support integral and string key columns; " +
          s"'$c' is " + src.schema(c).dataType.toString)
    }

  /** The full-scan stats relation (one row per file: count, per-column
    * min/max, optional sketches) — exposed as a DataFrame builder so
    * the plan-evidence tool can dump the exact job the scan fallback
    * runs. [[fileColStats]] collects it.
    */
  private[graft] def fileColStatsDF(s: SparkSession, path: String,
      names: Seq[String], bloomCols: Seq[String])
      : (DataFrame, IndexedSeq[(String, String)]) = {
    val src = s.read.parquet(names.map(n => s"$path/$n"): _*)
    val fields = src.schema.fields.toIndexedSeq
      .flatMap(f => colTag(f.dataType).map(t => (f.name, t)))
    requireBloomable(src, bloomCols)
    if (bloomCols.nonEmpty) graft.functions.BloomExprs.ensureRegistered(s)
    val aggs = (count(lit(1)).as("_nr") +:
      fields.zipWithIndex.flatMap { case ((c, _), i) =>
        Seq(min(col(c)).as(s"_mn$i"), max(col(c)).as(s"_mx$i")) }) ++
      bloomCols.map(c => call_function("bloom_agg",
        bloomKeyHash(src, c), lit(BloomExpectedKeys))
        .as(s"_bf_$c"))
    (src.groupBy(substring_index(input_file_name(), "/", -1).as("_f"))
      .agg(aggs.head, aggs.tail: _*), fields)
  }

  private def fileColStats(s: SparkSession, path: String,
      names: Seq[String], bloomCols: Seq[String]): Seq[FileStat] = {
    val (grouped, fields) = fileColStatsDF(s, path, names, bloomCols)
    val nF = fields.size
    val byFile = grouped.collect().map(r => r.getString(0) -> r).toMap
    val enc = java.util.Base64.getEncoder
    names.sorted.map { n =>
      byFile.get(n) match {
        case None => FileStat(n, 0L) // empty file: no stats
        case Some(r) =>
          val rows = r.getLong(1)
          val cols = fields.zipWithIndex.map { case ((c, t), i) =>
            ColStat(c, t, Option(r.get(2 + 2 * i)).map(canonOf(t, _)),
              Option(r.get(3 + 2 * i)).map(canonOf(t, _)))
          }
          val blooms = bloomCols.zipWithIndex.flatMap { case (c, i) =>
            Option(r.get(2 + 2 * nF + i)).map(b =>
              Bloom(c, enc.encodeToString(b.asInstanceOf[Array[Byte]])))
          }
          FileStat(n, rows, cols, blooms)
      }
    }
  }

  private def writeDataFiles(df: DataFrame, path: String, v: Int,
      zcol: String, nFiles: Int,
      nonce: Option[String] = None): Seq[FileStat] =
    stageLaidOut(rangeLayout(df, zcol, nFiles), path, v, Nil, nonce)

  // seed 42 = the SQL xxhash64's default, which the stat pass feeds
  // bloom_agg — both sides of the bloom probe hash identically
  private def xx64(v: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)), 42L)
      .eval().asInstanceOf[Long]

  // the string twin: UTF8String bytes under the same seed — identical
  // to the SQL xxhash64 of a string column
  private def xx64Str(v: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        v, StringType)), 42L)
      .eval().asInstanceOf[Long]

  // ---- commits ---------------------------------------------------------

  /** Shared append tail: sweep, merged schema, staged data + manifest,
    * snapshot inheriting every previous line by reference, pointer
    * swing. Cost tracks the batch — inherited metadata is copied as
    * lines, never re-derived. The caller holds the claim on `v`.
    */
  private def appendCore(path: String, v: Int, prev: Option[Int],
      prov: (Long, String), laid: DataFrame,
      bloomCols: Seq[String] = Nil, nonce: Option[String] = None): Unit = {
    sweepUncommitted(path, v)
    writeMergedSchema(path, v, prev, laid.schema)
    val stats = stageLaidOut(laid, path, v, bloomCols, nonce)
    nonce.foreach(n => requireClaimHeld(path, v, n))
    val mName = s"m-$v.json"
    writeManifest(path, mName, stats)
    val prevSnap = prev.map(readSnap(path, _)).getOrElse(Snap(Nil))
    writeSnap(path, v,
      prevSnap.copy(refs = prevSnap.refs :+ envelope(stats, mName)))
    swingPointer(path, v, prov._1, prov._2)
  }

  /** Pointer swing for non-streaming commits: carry the previous
    * pointer's (batchId, writerId) provenance forward.
    */
  private def swingPointerCarried(path: String, v: Int): Unit = {
    val (b, w) = carriedBatchId(readPointer(path))
    swingPointer(path, v, b, w)
  }

  /** APPEND commit: new data files + their manifest + a new snapshot
    * inheriting every previous manifest by reference + the pointer
    * swing. Returns the committed version. `zcol` is the range-layout
    * column and may be ANY orderable type: every supported column's
    * typed bounds are recorded whatever the layout, and clustering on
    * `zcol` is what makes its bounds selective. Concurrent appends
    * serialize through the claim CAS — a loser re-plans and lands at
    * the next slot, so two racing appends BOTH commit.
    */
  def commitAppend(df: DataFrame, path: String, zcol: String,
      nFiles: Int, bloomCols: Seq[String] = Nil): Int =
    append(path, rangeLayout(df, zcol, nFiles), bloomCols)

  /** Z-ORDERED append: rows lay out on the Morton interleave of
    * (`c1`, `c2`) — each file covers a compact 2-D block, so the typed
    * per-column envelopes are selective on EITHER column and [[scan]]
    * prunes both probe dimensions, where a one-column range sort
    * leaves `c2` the full value range in every file.
    */
  def commitAppendZOrdered(df: DataFrame, path: String, c1: String,
      c2: String, nFiles: Int): Int =
    append(path, zOrderLayout(df, c1, c2, nFiles), Nil)

  /** Claim the next slot and append the already-laid-out `laid`. */
  private def append(path: String, laid: DataFrame,
      bloomCols: Seq[String]): Int = {
    val (prevPtr, v, nonce) = claimNext(path)
    try {
      appendCore(path, v, prevPtr.map(_._1), carriedBatchId(prevPtr),
        laid, bloomCols, Some(nonce))
      v
    } finally releaseClaim(path, v)
  }

  // ---- partition transforms: the Iceberg hidden-partitioning shape ----
  // A PartitionSpec recorded in table metadata (`_log/part.json`) maps
  // each row to a partition VALUE via a transform of one source column
  // — days(ts), months(ts), bucket(k, n) — and the partitioned append
  // guarantees every data file holds exactly ONE value, recorded as a
  // synthetic lo==hi stat `_pt` in its manifest line. That single
  // invariant buys the two partition payoffs at O(metadata): reads
  // prune on `_pt` through the ordinary typed-envelope descent
  // ([[scan]] — no special partition path), and
  // [[dropPartition]] retires a whole partition by manifest surgery
  // alone — no data file opened, the retention drop a 100 TB
  // time-series table runs daily.

  /** transform ∈ days|months|bucket of `col`; `n` = bucket count. */
  case class PartitionSpec(transform: String, col: String, n: Int = 0)

  /** The synthetic per-file stat carrying the partition value. */
  val PartCol = "_pt"

  private def partSpecPath(path: String) = logDir(path).resolve("part.json")

  /** List a directory's entries with the stream CLOSED on every path —
    * `Files.list` leaks a directory fd until GC otherwise, and a
    * standing compactor/ingester on a long-lived driver accumulates
    * them.
    */
  private def listDirNames(dir: java.nio.file.Path): Seq[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toIndexedSeq
    finally st.close()
  }

  /** Record the partition spec ATOMICALLY, first writer wins: the
    * tmp+move CAS (no REPLACE) is what serializes two concurrent FIRST
    * partitioned commits with different specs — both then VERIFY the
    * recorded spec ([[requireSpecIs]]) before any staged-part move, so
    * the loser aborts instead of committing files whose `_pt` values
    * were computed under a transform that never became the table's.
    */
  private[graft] def recordSpecIfAbsent(path: String, spec: PartitionSpec): Unit = {
    val p = partSpecPath(path)
    if (Files.exists(p)) return
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"part-${newNonce()}.tmp")
    Files.write(tmp, encodeLine(spec).getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, p)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp) // a racer recorded first: verify theirs
    }
  }

  /** Abort unless the RECORDED spec (immutable once written) matches
    * this commit's — the in-claim re-validation a lost spec race needs.
    */
  private[graft] def requireSpecIs(path: String, spec: PartitionSpec): Unit = {
    val recorded = readPartitionSpec(path)
    if (!recorded.contains(spec))
      throw new java.util.ConcurrentModificationException(
        s"partition spec race on $path: this commit carries $spec but " +
          s"the table recorded ${recorded.orNull} — re-plan under the " +
          "recorded spec")
  }

  def readPartitionSpec(path: String): Option[PartitionSpec] = {
    val p = partSpecPath(path)
    if (!Files.exists(p)) None
    else readLines(p, PartSpecKinds) match {
      case Seq(spec: PartitionSpec) => Some(spec)
      case lines => throw new IllegalStateException(
        s"$p holds ${lines.size} partition specs, not one")
    }
  }

  /** The transform's value expression — a LONG for every transform so
    * `_pt` stats always carry tag "l": days/months count from epoch,
    * bucket is the non-negative xxhash64 residue (seed 42, the same
    * hash family as the manifest blooms).
    */
  private def partValueExpr(spec: PartitionSpec)
      : org.apache.spark.sql.Column = spec.transform match {
    case "days" =>
      datediff(col(spec.col).cast("date"),
        to_date(lit("1970-01-01"))).cast("long")
    case "months" =>
      (year(col(spec.col)).cast("long") * 12 +
        month(col(spec.col)).cast("long") - 1)
    case "bucket" =>
      require(spec.n > 0, "bucket transform needs n > 0")
      pmod(xxhash64(col(spec.col)), lit(spec.n.toLong))
    case other => throw new IllegalArgumentException(
      s"unknown partition transform '$other' (days|months|bucket)")
  }

  /** PARTITIONED append: every data file holds exactly ONE partition
    * value (the stage write is partitionBy on the transform value, so
    * the single-VALUE-per-FILE invariant holds by construction), each
    * file's manifest line carrying `_pt` = that value as an exact
    * lo==hi stat. The fan-out WITHIN a value is the skew story of a
    * daily ingest into days(ts), where the whole batch IS one
    * partition value: the DEFAULT (`filesPerValue = 0`, "auto") lays
    * the batch out with an AQE REBALANCE on the transform value, which
    * coalesces small values and SPLITS an oversized value across
    * tasks sized by `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * — fan-out derived from the batch's actual bytes, not a constant
    * (without AQE it degrades to the plain by-value shuffle). An
    * explicit `filesPerValue > 1` instead SALTS the shuffle WITHIN
    * each value (a row hash modulo `filesPerValue` joins the value in
    * the shuffle keys, so one value spreads over that many tasks)
    * across a pinned partition count, and `filesPerValue = 1` pins the legacy
    * one-task-per-value shuffle. Either way the manifest invariant is
    * untouched because it is per-FILE, not per-value (the stage write
    * is partitionBy, so a task holding several values still emits
    * single-valued files). The FIRST partitioned
    * commit records the spec in table metadata ATOMICALLY
    * ([[recordSpecIfAbsent]] — tmp+move CAS, first writer wins) and
    * EVERY commit re-verifies the recorded spec inside its held claim
    * before any staged file moves: two concurrent first commits with
    * different specs cannot both land (the loser's `_pt` values were
    * computed under a transform that never became the table's, and the
    * per-file single-valued-`_pt` require cannot detect that). Null
    * transform values are rejected: a null has no partition and would
    * silently escape every drop/prune. Returns the committed version.
    */
  def commitAppendPartitioned(df: DataFrame, path: String,
      spec: PartitionSpec, filesPerValue: Int = 0): Int = {
    require(filesPerValue >= 0,
      "filesPerValue must be >= 1, or 0 for size-adaptive auto fan-out")
    readPartitionSpec(path).foreach(existing => require(existing == spec,
      s"partition spec mismatch: table has $existing, commit carries " +
        s"$spec - spec evolution is not supported"))
    val (prevPtr, v, nonce) = claimNext(path)
    try {
      sweepUncommitted(path, v)
      writeMergedSchema(path, v, prevPtr.map(_._1), df.schema)
      // record-or-verify INSIDE the claim: once the CAS settles, the
      // spec is immutable, so one verification here covers the commit
      recordSpecIfAbsent(path, spec)
      requireSpecIs(path, spec)
      val s = df.sparkSession
      val stage = s"$path/_log/_stage"
      // auto (0): REBALANCE by the partition value — AQE coalesces
      // small values and splits an oversized (hot) value into
      // advisory-sized tasks, so the fan-out tracks the batch's actual
      // bytes at any scale. Explicit >1: salt within the value across
      // a PINNED partition count — the no-number repartition is
      // AQE-coalescible, and coalescing the salt combos back into one
      // task would undo exactly the fan-out the salt exists for.
      val salted = df.withColumn(PartCol, partValueExpr(spec))
      val laid =
        if (filesPerValue == 0) salted.hint("rebalance", PartCol)
        else if (filesPerValue == 1) salted.repartition(col(PartCol))
        else {
          val shuffleN = math.max(filesPerValue,
            s.conf.get("spark.sql.shuffle.partitions").toInt)
          salted.repartition(shuffleN, col(PartCol),
            pmod(hash(df.columns.map(col).toIndexedSeq: _*),
              lit(filesPerValue)))
        }
      withMicrosTs(s)(
        laid.write.mode("overwrite").partitionBy(PartCol).parquet(stage))
      val stageDir = Paths.get(stage)
      val valueDirs = listDirNames(stageDir)
        .filter(n => n.startsWith(s"$PartCol=") &&
          Files.isDirectory(stageDir.resolve(n))).sorted
      require(!valueDirs.exists(_.endsWith("__HIVE_DEFAULT_PARTITION__")),
        s"commitAppendPartitioned: null ${spec.transform}(${spec.col}) " +
          "values - a null has no partition; filter or backfill first")
      requireClaimHeld(path, v, nonce)
      var i = -1
      val movedWithVal = valueDirs.flatMap { vn =>
        val vd = stageDir.resolve(vn)
        val pval = vn.stripPrefix(s"$PartCol=").toLong
        listDirNames(vd).filter(_.startsWith("part-")).sorted.map { nm =>
          i += 1
          val dst = f"v$v-p$i%05d.parquet"
          Files.move(vd.resolve(nm), Paths.get(path, dst),
            StandardCopyOption.ATOMIC_MOVE)
          (dst, pval)
        }
      }
      val valOf = movedWithVal.toMap
      val stats = collectFileStats(s, path, movedWithVal.map(_._1),
          Nil, df.schema)
        .map(f => f.copy(cols = f.cols :+ ColStat(PartCol, "l",
          Some(valOf(f.file).toString), Some(valOf(f.file).toString))))
      requireClaimHeld(path, v, nonce)
      val mName = s"m-$v.json"
      writeManifest(path, mName, stats)
      val prevSnap = prevPtr.map(p => readSnap(path, p._1)).getOrElse(Snap(Nil))
      writeSnap(path, v,
        prevSnap.copy(refs = prevSnap.refs :+ envelope(stats, mName)))
      val (cb, cw) = carriedBatchId(prevPtr)
      swingPointer(path, v, cb, cw)
      v
    } finally releaseClaim(path, v)
  }

  /** DROP PARTITION — the O(METADATA) retention commit: every data
    * file whose recorded `_pt` equals `value` leaves the new snapshot
    * by manifest surgery alone (envelope-excluded manifests carry by
    * reference and never parse; touched manifests rewrite minus their
    * dead rows, KEEPING the original version in the rewrite name so
    * their surviving rows stay at their old sequence number), and NO
    * data file is opened — zero Spark jobs. Prior versions still read
    * the dropped partition bit for bit until [[vacuum]]. Requires a
    * partitioned table (every live file carries a single-valued `_pt`
    * stat — violated only by mixing unpartitioned commits in, which
    * is rejected here) and a tombstone-free snapshot, like every COW
    * surgery. Returns (rowsDropped, filesDropped, newVersion; prev
    * when the partition is empty).
    */
  def dropPartition(path: String, value: Long): (Long, Int, Int) = {
    val prev = latestVersion(path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    require(readPartitionSpec(path).nonEmpty,
      s"dropPartition: $path has no partition spec")
    val prevSnap = readSnap(path, prev)
    require(tombstoneFree(prevSnap),
      "dropPartition: snapshot carries merge-on-read tombstones - run " +
        "compactCommit to materialize them first")
    val vs = value.toString
    val (v, nonce) = claimCow(path, prev, "dropPartition")
    try {
      // a manifest whose _pt envelope excludes the value carries by
      // reference, unparsed — the pyramid payoff
      val plan = planFiles(path, prevSnap,
        testHits(CRange(PartCol, "l", Some(vs), Some(vs)), _, _))
      plan.parsed.flatMap(_._2).filter(_.rows > 0).foreach(f => require(
        statFor(f.cols, PartCol).exists(c => c.t == "l" &&
          c.lo.nonEmpty && c.lo == c.hi),
        s"dropPartition: ${f.file} carries no single-valued " +
          s"$PartCol stat - the table mixes unpartitioned commits"))
      val dead = plan.cands.map(_._2)
      if (dead.isEmpty) return (0L, 0, prev)
      sweepUncommitted(path, v)
      val carried = carryManifests(path, prevSnap.refs, plan.parsed,
        dead.map(_.file).toSet,
        (r, i) => s"m-${manifestVersion(r.name)}-r$v-$i.json")
      requireClaimHeld(path, v, nonce)
      readSchema(path, prev).foreach(sc =>
        writeAtomic(schemaPath(path, v), sc.json))
      writeSnap(path, v, Snap(carried))
      swingPointerCarried(path, v)
      (dead.map(_.rows).sum, dead.size, v)
    } finally releaseClaim(path, v)
  }

  /** EXACTLY-ONCE streaming append — the foreachBatch body that makes
    * the snapshot table a streaming sink: Spark's contract is
    * at-least-once (a batch can replay after a crash anywhere in the
    * commit), and a naive [[commitAppend]] would commit the replay as
    * a SECOND version. The batch id rides the LATEST pointer itself
    * (one file, one ATOMIC_MOVE — version and provenance publish
    * together), so the two crash windows both converge:
    *  - crash BEFORE the pointer swing: nothing became visible, the
    *    retry sweeps the uncommitted version's orphans and re-commits;
    *  - crash AFTER the swing: the retry reads its own batch id off
    *    the pointer and short-circuits to "already committed".
    * Checking only the LAST batch id suffices because foreachBatch is
    * sequential — batch N+1 never starts until N's commit returned,
    * so no per-batch ledger is needed; the stream must be the table's
    * only streaming writer for the same reason. Non-streaming commits
    * (compaction, COW/MOR rewrites) CARRY the id forward (see
    * [[readPointer]]), so a background OPTIMIZE landing between a
    * stream crash and its restart cannot erase the provenance the
    * replay check needs. `writerId` scopes the provenance per STREAM
    * (Delta's appId): pass the query's checkpoint identity so a
    * brand-new stream (fresh checkpoint, batch ids restarting at 0)
    * attached to a table whose carried id equals its first batch id
    * commits instead of silently short-circuiting — the short-circuit
    * fires only when BOTH the id and the writer match. The legacy ""
    * writer keeps pre-writer-id pointers replay-safe for their own
    * (single, anonymous) stream. Returns false on the short-circuit.
    */
  def commitAppendOnce(df: DataFrame, path: String, zcol: String,
      nFiles: Int, batchId: Long,
      bloomCols: Seq[String] = Nil, writerId: String = ""): Boolean =
    appendOnce(path, rangeLayout(df, zcol, nFiles), bloomCols, batchId,
      writerId)

  /** [[commitAppendOnce]] in the Morton layout of
    * [[commitAppendZOrdered]]: each micro-batch lands as Z-ordered
    * files on (`c1`, `c2`) — the batch's own grid, which only moves
    * where file boundaries fall, never what bounds the manifest
    * records — with the same exactly-once claim and short-circuit.
    */
  def commitAppendOnceZOrdered(df: DataFrame, path: String, c1: String,
      c2: String, nFiles: Int, batchId: Long,
      writerId: String = ""): Boolean =
    appendOnce(path, zOrderLayout(df, c1, c2, nFiles), Nil, batchId,
      writerId)

  private def appendOnce(path: String, laid: DataFrame,
      bloomCols: Seq[String], batchId: Long, writerId: String): Boolean = {
    require(batchId >= 0, "batchId must be >= 0 (-1 marks non-batch commits)")
    val (prevPtr, v, nonce) = claimNext(path)
    try {
      if (prevPtr.exists(p => p._2 == batchId && p._3 == writerId))
        return false
      appendCore(path, v, prevPtr.map(_._1), (batchId, writerId), laid,
        bloomCols, Some(nonce))
      true
    } finally releaseClaim(path, v)
  }

  /** COMPACTION commit — the OPTIMIZE job every streaming sink needs
    * once per-batch appends have fragmented the layout: the latest
    * snapshot's rows rewrite into ~`targetRowsPerFile` files as a NEW
    * version whose manifest replaces every previous one (same rows,
    * fresh layout — the oracle proves no row lost or doubled), while
    * prior versions keep reading the ORIGINAL files bit for bit until
    * vacuum. Cost is table-sized by definition; at scale this runs as
    * the standing background job, bin-packing only the small-file tail
    * — the full rewrite here keeps the gate's oracle sharp. Returns
    * (filesBefore, filesAfter, newVersion).
    */
  def compactCommit(spark: SparkSession, path: String, zcol: String,
      targetRowsPerFile: Long): (Int, Int, Int) = {
    val prev = latestVersion(path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    val (v, nonce) = claimCow(path, prev, "compactCommit")
    try {
      val refs = snapshot(path, Some(prev))
      val stats = refs.flatMap(r => parseManifest(path, r.name))
      val filesBefore = stats.size
      val rows = stats.map(_.rows).sum
      val nFiles = math.max(1L,
        (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      sweepUncommitted(path, v)
      val df = read(spark, path, Some(prev))
      writeMergedSchema(path, v, Some(prev), df.schema)
      val newStats = writeDataFiles(df, path, v, zcol, nFiles, Some(nonce))
      requireClaimHeld(path, v, nonce)
      val mName = s"m-$v.json"
      writeManifest(path, mName, newStats)
      writeSnap(path, v, Snap(Seq(envelope(newStats, mName))))
      swingPointerCarried(path, v)
      (filesBefore, newStats.size, v)
    } finally releaseClaim(path, v)
  }

  /** INCREMENTAL COMPACTION — the standing background job of a
    * streamed-into table at scale, where [[compactCommit]]'s full
    * rewrite is not an option: only files UNDER `smallThresholdRows`
    * rewrite (bin-packed to ~`targetRowsPerFile`); every file at or
    * above the threshold carries — its name unchanged, its manifest
    * rewritten minus the compacted files (the COW delete's metadata
    * surgery), untouched manifests by reference. Cost tracks the
    * SMALL-FILE TAIL, not the table. Live tombstones are handled by
    * PARTIAL MATERIALIZATION: the rewritten rows read through
    * [[readApplying]], so each small file's applicable tombstones are
    * applied before its rows re-enter the sequence at the new version
    * (they would otherwise escape scoping), while carried files keep
    * their tombstone refs and read-time anti-joins — the same rows
    * before and after, which the gate's oracle pins. Returns
    * (filesCompacted, filesCarried, newVersion; the previous version
    * when fewer than two files are under the threshold).
    */
  def compactSmallFiles(spark: SparkSession, path: String, zcol: String,
      smallThresholdRows: Long, targetRowsPerFile: Long)
      : (Int, Int, Int) = {
    val prev = latestVersion(path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    val prevSnap = readSnap(path, prev)
    val byManifest = prevSnap.refs.map(r => r -> parseManifest(path, r.name))
    val isSmall = (f: FileStat) => f.rows < smallThresholdRows
    val small = byManifest.flatMap { case (r, fs) =>
      fs.filter(isSmall).map(f => (manifestVersion(r.name), f)) }
    val carriedCount = byManifest.map(_._2.count(f => !isSmall(f))).sum
    if (small.size <= 1) return (0, carriedCount + small.size, prev)
    val (v, nonce) = claimCow(path, prev, "compactSmallFiles")
    try {
      sweepUncommitted(path, v)
      val df = readApplying(spark, path, prev, prevSnap,
        small.map { case (mv, f) => (mv, s"$path/${f.file}") })
      val smallRows = small.map(_._2.rows).sum
      val nFiles = math.max(1L,
        (smallRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      readSchema(path, prev).foreach(sc =>
        writeAtomic(schemaPath(path, v), sc.json))
      val newStats = writeDataFiles(df, path, v, zcol, nFiles, Some(nonce))
      requireClaimHeld(path, v, nonce)
      val mName = s"m-$v.json"
      writeManifest(path, mName, newStats)
      // the rewrite KEEPS the original version in its name: the
      // carried rows were NOT materialized, so they must stay at their
      // old sequence number or pending tombstones (dv < v) would stop
      // applying to them — unlike the COW delete/merge rewrites, which
      // run tombstone-free by contract
      val carried = carryManifests(path, prevSnap.refs, byManifest,
        small.map(_._2.file).toSet,
        (r, i) => s"m-${manifestVersion(r.name)}-r$v-$i.json")
      // carried files still need their tombstones; the compacted rows
      // had theirs applied in the rewrite
      writeSnap(path, v,
        prevSnap.copy(refs = carried :+ envelope(newStats, mName)))
      swingPointerCarried(path, v)
      (small.size, carriedCount, v)
    } finally releaseClaim(path, v)
  }

  // ---- keyed copy-on-write: pyramid-planned delete / merge -----------

  /** Keys a rewrite collects to the driver for exact per-file pruning
    * (values beyond the cap fall back to min/max-envelope pruning),
    * and the broadcast ceiling past which the touch-detection joins
    * run as shuffle joins (the [[graft.ops.Clusters]] guard pattern —
    * a table-sized tombstone batch must not be forced through a
    * driver broadcast).
    */
  private val CollectKeyCapDefault = 100000
  private val BroadcastKeyCapDefault = 2000000L

  /** The distinct keys of `keyCol`, whether the probe joins must
    * shuffle instead of broadcast, and the file test they compile to
    * under the KEYS' own tag: an [[InTest]] of the keys collected under
    * `collectCap` (exact per-file bounds + bloom probe), else the key
    * set's min/max range. A key type with no stat tag compiles to
    * always-hit, and one whose tag differs from the column's keeps
    * every file ([[testHits]]' tag check).
    */
  private def planKeys(keys: DataFrame, keyCol: String,
      collectCap: Int, bcastCap: Long): (DataFrame, Boolean, CompiledTest) = {
    val k = keys.select(col(keyCol)).distinct()
    val tag = colTag(k.schema(keyCol).dataType)
    val head = k.limit(collectCap + 1).collect()
    if (head.length <= collectCap)
      (k, false, tag.fold[CompiledTest](CAlways)(t =>
        compileIn(keyCol, t, head.toIndexedSeq.map(_.get(0)))))
    else {
      val r = k.agg(count(lit(1)), min(col(keyCol)), max(col(keyCol))).head()
      (k, r.getLong(0) > bcastCap, tag.fold[CompiledTest](CAlways)(t =>
        CRange(keyCol, t, Option(r.get(1)).map(canonOf(t, _)),
          Option(r.get(2)).map(canonOf(t, _)))))
    }
  }

  private def anyKeyIn(sorted: Array[String], t: String, lo: String,
      hi: String): Boolean = {
    var a = 0
    var b = sorted.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (cmpCanon(t, sorted(m), lo) < 0) a = m + 1 else b = m
    }
    a < sorted.length && cmpCanon(t, sorted(a), hi) <= 0
  }

  /** COPY-ON-WRITE DELETE commit: rows whose `keyCol` appears in `keys`
    * vanish from the NEW snapshot — touched files' survivors rewrite
    * as new files, touched manifests rewrite minus their dead rows
    * (metadata-sized), untouched manifests carry by reference, and
    * every PRIOR snapshot still reads the original files bit for bit.
    * Returns (rows deleted, new version; the previous version when the
    * keys match nothing).
    */
  def commitDelete(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame, zcol: String, nFiles: Int = 0): (Long, Int) = {
    val (deleted, _, _, v) =
      commitDeletePlanned(spark, path, keyCol, keys, zcol, nFiles)
    (deleted, v)
  }

  /** [[commitDelete]] with its PLANNING made visible — and made
    * O(candidate files): touched-file detection descends the metadata
    * pyramid on `keyCol`'s typed bounds (manifest envelopes first,
    * then per-file stats — only surviving manifests even parse) and
    * reads ONLY the candidate files for the semi-join probe, instead
    * of scanning the table to learn what a 10-key delete touches.
    * `collectKeyCap` bounds the exact-value plan (beyond it, the key
    * set's min/max envelope prunes); `broadcastKeyCap` bounds the
    * probe-side broadcast (beyond it the joins fall back to shuffle —
    * same answer, no driver OOM). Returns (rowsDeleted, filesPlanned,
    * filesTotal, newVersion).
    */
  def commitDeletePlanned(spark: SparkSession, path: String,
      keyCol: String, keys: DataFrame, zcol: String, nFiles: Int = 0,
      collectKeyCap: Int = CollectKeyCapDefault,
      broadcastKeyCap: Long = BroadcastKeyCapDefault)
      : (Long, Long, Long, Int) = {
    val prev = latestVersion(path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    val prevSnap = readSnap(path, prev)
    require(tombstoneFree(prevSnap),
      "snapshot carries merge-on-read tombstones - run compactCommit " +
        "to materialize them before a copy-on-write rewrite")
    val (v, nonce) = claimCow(path, prev, "commitDelete")
    try {
      val (k, big, test) =
        planKeys(keys, keyCol, collectKeyCap, broadcastKeyCap)
      val plan = planFiles(path, prevSnap, testHits(test, _, _))
      val total = plan.total
      val candFiles = plan.cands.map(_._2)
      val planned = candFiles.size.toLong
      if (planned == 0) return (0L, 0L, total, prev)
      val candDf = readFiles(spark, path, prev,
        candFiles.map(f => s"$path/${f.file}"))
      val kj = if (big) k else broadcast(k)
      val touched = candDf.withColumn("_f", input_file_name())
        .join(kj, Seq(keyCol), "left_semi")
        .select(col("_f")).distinct().collect()
        .map(_.getString(0).split('/').last).toSet
      if (touched.isEmpty) return (0L, planned, total, prev)
      val touchedPaths = touched.toIndexedSeq.sorted.map(n => s"$path/$n")
      val survivors = readFiles(spark, path, prev, touchedPaths)
        .join(kj, Seq(keyCol), "left_anti")
      sweepUncommitted(path, v)
      writeMergedSchema(path, v, Some(prev), survivors.schema)
      val survStats = writeDataFiles(survivors, path, v, zcol,
        if (nFiles > 0) nFiles else touched.size, Some(nonce))
      // both counts come off metadata: the touched files' manifest rows
      // (exact — the snapshot carries no tombstones) minus the rows the
      // survivor write recorded, so the delete runs no counting job
      val rowsDeleted = candFiles.filter(f => touched(f.file))
        .map(_.rows).sum - survStats.map(_.rows).sum
      requireClaimHeld(path, v, nonce)
      val mName = s"m-$v.json"
      writeManifest(path, mName, survStats)
      val carried = carryManifests(path, prevSnap.refs, plan.parsed,
        touched, (_, i) => s"m-$v-r$i.json")
      writeSnap(path, v, Snap(carried :+ envelope(survStats, mName)))
      swingPointerCarried(path, v)
      (rowsDeleted, planned, total, v)
    } finally releaseClaim(path, v)
  }

  /** Fail-fast guard for merge-on-read commits: a tombstone on a
    * mistyped or phantom key column would COMMIT fine and then poison
    * every subsequent read of the table (the read-time anti-join dies
    * at plan time) with no clean repair path — so validate against the
    * committed schema BEFORE anything lands, the way the COW paths
    * fail naturally at their own plan time.
    */
  private def requireKeyCompatible(path: String, prev: Int,
      keyCol: String, keys: DataFrame, op: String): Unit = {
    require(keys.schema.fieldNames.contains(keyCol),
      s"$op: keys relation has no column '$keyCol' " +
        s"(columns: ${keys.schema.fieldNames.mkString(",")})")
    readSchema(path, prev).foreach { sc =>
      require(sc.fieldNames.contains(keyCol),
        s"$op: table $path has no committed column '$keyCol' " +
          s"(columns: ${sc.fieldNames.mkString(",")}) — a committed " +
          "tombstone on a phantom key column poisons every later read")
      val t = sc(keyCol).dataType
      val kt = keys.schema(keyCol).dataType
      require(t == kt ||
        (t.isInstanceOf[NumericType] && kt.isInstanceOf[NumericType]),
        s"$op: key column '$keyCol' type mismatch — table has $t, " +
          s"keys carry $kt (not join-compatible)")
    }
  }

  /** Row cap per staged tombstone FILE: a takedown-sized key set stays
    * one file, a CDC-batch-sized set splits so no single tombstone file
    * outgrows what one task (and one read-side join build) should hold.
    * Volatile test hook; production default 2M keys/file.
    */
  @volatile private[graft] var TombstoneRowsPerFile: Long = 2000000L

  /** Tombstone key count past which [[readApplying]] stops hinting
    * `broadcast()` for the anti-join and lets the planner run it as a
    * shuffle join — the [[planKeys]] cap-and-fallback pattern applied
    * to the READ side: an unguarded broadcast of a table-sized CDC
    * tombstone batch is a driver OOM, not a plan. Volatile test hook.
    */
  @volatile private[graft] var ReadBroadcastKeyCap: Long =
    BroadcastKeyCapDefault

  /** A local file's java.nio path from a plain path or a `file:` URI in
    * any of the spellings Hadoop and Spark render (`file:/x`,
    * `file:///x`). Any other scheme throws: its bytes are not local.
    */
  private def localPath(p: String): java.nio.file.Path =
    if (p.startsWith("file:")) Paths.get(java.net.URI.create(p))
    else if (!p.contains(":")) Paths.get(p)
    else throw new java.io.IOException(s"non-local scheme: $p")

  /** Total row count of parquet data from its FOOTERS — one small
    * driver metadata read per part file instead of a Spark job (row
    * counts are schema-independent and exact). Each path is a part
    * file or a flat table directory, whose visible `.parquet` parts
    * count. None when no part file is found, a path is non-local, or
    * any footer fails to read — callers fall back to a scan count.
    */
  private[graft] def parquetRowCount(paths: String*): Option[Long] = {
    def parts(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.isDirectory(p)) Seq(p)
      else listDirNames(p).filter { n =>
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.map(p.resolve)
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

  /** Stage the distinct `keyCol` values of `keys` as immutable
    * tombstone files `v<N>-d<i>.parquet`, at most
    * [[TombstoneRowsPerFile]] keys per file (one file for takedowns;
    * a CDC-sized batch splits — single-task staging of an unbounded
    * key set is the same scale bug as an unguarded broadcast).
    * Returns one (fileName, keys) pair PER staged file; empty for a
    * zero-key set.
    */
  private def stageTombstone(spark: SparkSession, path: String, v: Int,
      keys: DataFrame, keyCol: String): Seq[(String, Long)] = {
    val stage = s"$path/_log/_stage"
    val k = keys.select(col(keyCol)).distinct()
    val n = k.count()
    if (n == 0) return Nil
    val parts =
      ((n + TombstoneRowsPerFile - 1) / TombstoneRowsPerFile).toInt
    (if (parts == 1) k.coalesce(1) else k.repartition(parts))
      .write.mode("overwrite").parquet(stage)
    val stageDir = Paths.get(stage)
    val staged = listDirNames(stageDir).filter(_.startsWith("part-")).sorted
    val moved = staged.zipWithIndex.map { case (nm, i) =>
      val dst = f"v$v-d$i%05d.parquet"
      Files.move(stageDir.resolve(nm), Paths.get(path, dst),
        StandardCopyOption.ATOMIC_MOVE)
      dst
    }
    // per-file key counts from the staged files' own FOOTERS (row
    // counts are schema-independent and exact — no decode caveats, so
    // no scan fallback needed); drop empty round-robin leftovers
    moved.flatMap { m =>
      val rows = parquetRowCount(s"$path/$m").getOrElse(
        throw new java.io.IOException(s"unreadable footer: $path/$m"))
      if (rows > 0) Some((m, rows))
      else { Files.deleteIfExists(Paths.get(path, m)); None }
    }
  }

  /** MERGE-ON-READ DELETE commit — the O(metadata) takedown: the keys
    * land as an equality-delete TOMBSTONE file and a one-line snapshot
    * entry; NO data file is touched, so the commit costs the tombstone
    * regardless of table size (the COW [[commitDelete]] rewrite is the
    * right tool when the delete is large or read-amplification
    * matters; this is the right tool when a takedown must land NOW on
    * a 100 TB table). Reads apply the tombstone as a broadcast
    * anti-join, scoped by sequence number: it deletes only from
    * manifests committed BEFORE it, so a later re-insert of a deleted
    * key survives (Iceberg v2 semantics). [[compactCommit]]
    * materializes tombstones and drops them from the new snapshot.
    * Returns (distinct tombstone keys, new version; the previous
    * version when `keys` is empty).
    */
  def commitDeleteMor(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): (Long, Int) = {
    val prev = latestVersion(path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    requireKeyCompatible(path, prev, keyCol, keys, "commitDeleteMor")
    val (v, nonce) = claimCow(path, prev, "commitDeleteMor")
    try {
      sweepUncommitted(path, v)
      val staged = stageTombstone(spark, path, v, keys, keyCol)
      if (staged.isEmpty) return (0L, prev)
      val n = staged.map(_._2).sum
      requireClaimHeld(path, v, nonce)
      // the schema is unchanged by a tombstone; carry it so readFiles
      // keeps resolving this version without inference
      readSchema(path, prev).foreach(sc =>
        writeAtomic(schemaPath(path, v), sc.json))
      val prevSnap = readSnap(path, prev)
      writeSnap(path, v, prevSnap.copy(dels = prevSnap.dels ++
        staged.map { case (dst, nk) => DeleteRef(dst, keyCol, nk, v) }))
      swingPointerCarried(path, v)
      (n, v)
    } finally releaseClaim(path, v)
  }

  /** PREDICATE MERGE-ON-READ DELETE — the O(METADATA) retention drop:
    * rows whose stat-carrying column `colName` falls inside the closed
    * range [lo, hi] (either side open with None) vanish from the new
    * snapshot as ONE serialized-comparison tombstone line — NO data
    * file is touched, NO key file is even written, so the commit costs
    * a snapshot write regardless of table size or match count (where
    * an equality tombstone is a takedown and a COW delete a rewrite,
    * this is "drop everything before the cutoff" landing instantly on
    * a 100 TB table). Reads apply it as a residual filter with the
    * same sequence scoping as equality tombstones — it deletes only
    * from manifests committed BEFORE it, so later re-inserts into the
    * range survive; NULL values never match and always survive.
    * [[compactCommit]] materializes and drops it; COW rewrites refuse
    * while one is live, exactly like equality tombstones. Bounds
    * accept the column's natural external forms ([[canonOf]]).
    * Returns the new version.
    */
  def commitDeleteMorPred(spark: SparkSession, path: String,
      colName: String, lo: Option[Any], hi: Option[Any]): Int = {
    require(lo.nonEmpty || hi.nonEmpty,
      "commitDeleteMorPred: at least one bound is required (an " +
        "unbounded predicate deletes the whole table - use a rewrite)")
    val prev = latestVersion(path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    val sc = readSchema(path, prev).getOrElse(
      throw new IllegalArgumentException(
        "commitDeleteMorPred: table has no committed schema - a " +
          "predicate tombstone needs the column's committed type"))
    require(sc.fieldNames.contains(colName),
      s"commitDeleteMorPred: table $path has no committed column " +
        s"'$colName' (columns: ${sc.fieldNames.mkString(",")})")
    val t = colTag(sc(colName).dataType).getOrElse(
      throw new IllegalArgumentException(
        s"commitDeleteMorPred: column '$colName' has unsupported type " +
          s"${sc(colName).dataType} - predicate tombstones need a " +
          "stat-carrying (orderable) column"))
    val ref = PredDeleteRef(colName, t, lo.map(canonOf(t, _)),
      hi.map(canonOf(t, _)), prev + 1)
    val (v, nonce) = claimCow(path, prev, "commitDeleteMorPred")
    try {
      sweepUncommitted(path, v)
      requireClaimHeld(path, v, nonce)
      writeAtomic(schemaPath(path, v), sc.json)
      val prevSnap = readSnap(path, prev)
      writeSnap(path, v, prevSnap.copy(pdels = prevSnap.pdels :+ ref))
      swingPointerCarried(path, v)
      v
    } finally releaseClaim(path, v)
  }

  /** MERGE-ON-READ MERGE (upsert) commit — the O(batch) upsert a
    * CDC-heavy feed needs where [[commitMerge]]'s COW rewrite per
    * batch is unpayable: the change keys land as an equality-delete
    * tombstone AND the change rows append as ordinary data files, BOTH
    * at version v. Sequence scoping does the rest — the tombstone
    * applies only to manifests committed BEFORE v, so old rows with a
    * matched key vanish at read time while the batch's own rows (at v)
    * are exempt: upsert semantics from one tombstone line and one
    * manifest line, no existing file touched (prior manifests carry
    * verbatim). [[compactCommit]] (or [[compactSmallFiles]])
    * materializes later. `changes` must carry ONE row per key — with a
    * same-commit tombstone there is no "insert-only duplicate" carve-
    * out to reason about, so the contract is stricter than COW merge
    * and checked in O(changes). Returns (changeKeys, newVersion; the
    * previous version when `changes` is empty).
    */
  def commitMergeMor(spark: SparkSession, path: String,
      changes: DataFrame, key: String, zcol: String,
      nFiles: Int): (Long, Int) = {
    val prev = latestVersion(path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    requireKeyCompatible(path, prev, key, changes, "commitMergeMor")
    val dup = changes.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col(key)).limit(5)
      .collect().map(_.get(0))
    require(dup.isEmpty,
      s"commitMergeMor: changes carry multiple rows per key ($key): " +
        dup.mkString(",") + " — pre-aggregate to one row per key")
    val (v, nonce) = claimCow(path, prev, "commitMergeMor")
    try {
      sweepUncommitted(path, v)
      val staged = stageTombstone(spark, path, v, changes, key)
      if (staged.isEmpty) return (0L, prev)
      val n = staged.map(_._2).sum
      writeMergedSchema(path, v, Some(prev), changes.schema)
      val stats = writeDataFiles(changes, path, v, zcol, nFiles,
        Some(nonce))
      requireClaimHeld(path, v, nonce)
      val mName = s"m-$v.json"
      writeManifest(path, mName, stats)
      val prevSnap = readSnap(path, prev)
      writeSnap(path, v, prevSnap.copy(
        refs = prevSnap.refs :+ envelope(stats, mName),
        dels = prevSnap.dels ++
          staged.map { case (dst, nk) => DeleteRef(dst, key, nk, v) }))
      swingPointerCarried(path, v)
      (n, v)
    } finally releaseClaim(path, v)
  }

  /** EXACTLY-ONCE STREAMING UPSERT — [[commitMergeMor]] as a
    * foreachBatch body, the CDC INGEST path: each micro-batch's change
    * rows land as one tombstone + one appended manifest (O(batch), no
    * existing file touched), and the batch id rides the LATEST pointer
    * exactly as in [[commitAppendOnce]], so both replay windows
    * converge — a crash before the swing sweeps invisible orphans and
    * re-commits, a crash after it short-circuits. An EMPTY batch
    * commits nothing and returns false (its replay is deterministically
    * empty again, so skipping it cannot double-apply a later batch).
    * The upsert stream must target an EXISTING table (the key column
    * is validated against the committed schema) and be the table's
    * only streaming writer, as with every pointer-provenance sink.
    * `writerId` scopes the provenance per stream exactly as in
    * [[commitAppendOnce]]. Returns true iff the batch committed.
    */
  def commitMergeMorOnce(spark: SparkSession, path: String,
      changes: DataFrame, key: String, zcol: String, nFiles: Int,
      batchId: Long, writerId: String = ""): Boolean = {
    require(batchId >= 0, "batchId must be >= 0 (-1 marks non-batch commits)")
    val (prevPtr, v, nonce) = claimNext(path)
    try {
      if (prevPtr.exists(p => p._2 == batchId && p._3 == writerId))
        return false
      val prev = prevPtr.map(_._1).getOrElse(
        throw new IllegalArgumentException(
          s"commitMergeMorOnce: no committed snapshot in $path — a CDC " +
            "upsert stream needs an existing table"))
      requireKeyCompatible(path, prev, key, changes, "commitMergeMorOnce")
      val dup = changes.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).select(col(key)).limit(5)
        .collect().map(_.get(0))
      require(dup.isEmpty,
        s"commitMergeMorOnce: batch carries multiple rows per key " +
          s"($key): " + dup.mkString(","))
      sweepUncommitted(path, v)
      val staged = stageTombstone(spark, path, v, changes, key)
      if (staged.isEmpty) return false
      writeMergedSchema(path, v, Some(prev), changes.schema)
      val stats = writeDataFiles(changes, path, v, zcol, nFiles,
        Some(nonce))
      requireClaimHeld(path, v, nonce)
      val mName = s"m-$v.json"
      writeManifest(path, mName, stats)
      val prevSnap = readSnap(path, prev)
      writeSnap(path, v, prevSnap.copy(
        refs = prevSnap.refs :+ envelope(stats, mName),
        dels = prevSnap.dels ++
          staged.map { case (dst, nk) => DeleteRef(dst, key, nk, v) }))
      swingPointer(path, v, batchId, writerId)
      true
    } finally releaseClaim(path, v)
  }

  /** COPY-ON-WRITE MERGE (upsert) commit — the CDC write path: rows of
    * `changes` REPLACE same-key rows of the latest snapshot, new keys
    * INSERT, and only the files holding a matched key rewrite; their
    * manifests rewrite minus the dead rows, untouched manifests carry
    * by reference, and the pre-merge version stays readable bit for
    * bit until vacuum. A change set with MULTIPLE rows per matched key
    * is rejected (nondeterministic which would win — the standard
    * MERGE contract; multiple inserts of one NEW key are the caller's
    * own data).
    *
    * `deletes` is the WHEN MATCHED DELETE arm: rows whose key appears
    * in it vanish from the new version by the same touched-files-only
    * rewrite (a key that matches nothing is a no-op), while prior
    * versions still read them until vacuum. A key in BOTH arms is
    * rejected before anything is claimed — upsert-then-delete is
    * order-dependent, so the caller must resolve intent. Returns
    * (filesReplaced, filesCarried, newVersion).
    */
  def commitMerge(spark: SparkSession, path: String,
      changes: DataFrame, key: String, zcol: String,
      deletes: Option[DataFrame] = None): (Int, Int, Int) = {
    val (replaced, carried, _, _, v) =
      commitMergePlanned(spark, path, changes, key, zcol, deletes)
    (replaced, carried, v)
  }

  /** [[commitMerge]] with planning made visible and O(candidate
    * files): matched-file detection (and the duplicate-matched-key
    * check) descend the metadata pyramid on `key`'s typed bounds and
    * read only the files whose recorded key range can hold a change
    * key — a narrow upsert against a 100 TB table opens a handful of
    * files to learn what it replaces. `deletes` as in [[commitMerge]],
    * caps as in [[commitDeletePlanned]]. Returns (filesReplaced,
    * filesCarried, filesPlanned, filesTotal, newVersion).
    */
  def commitMergePlanned(spark: SparkSession, path: String,
      changes: DataFrame, key: String, zcol: String,
      deletes: Option[DataFrame] = None,
      collectKeyCap: Int = CollectKeyCapDefault,
      broadcastKeyCap: Long = BroadcastKeyCapDefault)
      : (Int, Int, Long, Long, Int) = {
    val prev = latestVersion(path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    val prevSnap = readSnap(path, prev)
    require(tombstoneFree(prevSnap),
      "snapshot carries merge-on-read tombstones - run compactCommit " +
        "to materialize them before a copy-on-write rewrite")
    val changeKeys = changes.select(col(key))
    val deleteKeys = deletes.map(_.select(col(key)))
    deleteKeys.foreach { dk =>
      val both = dk.join(changeKeys, Seq(key), "left_semi").distinct()
        .limit(5).collect().map(_.get(0))
      require(both.isEmpty,
        s"merge: key(s) in both changes and deletes: ${both.mkString(",")}" +
          " — upsert-then-delete is order-dependent, resolve before merging")
    }
    val (v, nonce) = claimCow(path, prev, "commitMerge")
    try {
      // a file is touched when it holds a key of EITHER arm; survivors
      // anti-join the same plan, so deleted rows drop with replaced ones
      val touchKeys = deleteKeys.fold(changeKeys)(changeKeys.unionByName(_))
      val (k, big, test) =
        planKeys(touchKeys, key, collectKeyCap, broadcastKeyCap)
      val plan = planFiles(path, prevSnap, testHits(test, _, _))
      val total = plan.total
      val planned = plan.cands.size.toLong
      val candDf =
        if (planned == 0) null
        else readFiles(spark, path, prev,
          plan.cands.map { case (_, f) => s"$path/${f.file}" })
      // duplicate keys are fatal only when MATCHED; a matched key can
      // only live in a candidate file, so the check scans candidates
      val dupCand = changes.groupBy(col(key))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).select(col(key))
      if (planned > 0 && dupCand.limit(1).collect().nonEmpty) {
        val dupMatched = candDf
          .join(broadcast(dupCand), Seq(key), "left_semi")
          .select(col(key)).distinct().limit(5).collect().map(_.get(0))
        require(dupMatched.isEmpty,
          s"merge: changes carry multiple rows per matched key ($key): " +
            dupMatched.mkString(",") + " — pre-aggregate to one row per key")
      }
      val kj = if (big) k else broadcast(k)
      val touched =
        if (planned == 0) Set.empty[String]
        else candDf.withColumn("_f", input_file_name())
          .join(kj, Seq(key), "left_semi")
          .select(col("_f")).distinct().collect()
          .map(_.getString(0).split('/').last).toSet
      val survivors =
        if (touched.isEmpty) changes.limit(0)
        else readFiles(spark, path, prev,
            touched.toIndexedSeq.sorted.map(n => s"$path/$n"))
          .join(kj, Seq(key), "left_anti")
      val rewrite = survivors.unionByName(changes,
        allowMissingColumns = true)
      sweepUncommitted(path, v)
      writeMergedSchema(path, v, Some(prev), rewrite.schema)
      val newStats = writeDataFiles(rewrite, path, v, zcol,
        math.max(1, touched.size), Some(nonce))
      requireClaimHeld(path, v, nonce)
      val mName = s"m-$v.json"
      writeManifest(path, mName, newStats)
      val carried = carryManifests(path, prevSnap.refs, plan.parsed,
        touched, (_, i) => s"m-$v-r$i.json")
      writeSnap(path, v, Snap(carried :+ envelope(newStats, mName)))
      swingPointerCarried(path, v)
      (touched.size, (total - touched.size).toInt, planned, total, v)
    } finally releaseClaim(path, v)
  }

  // ---- reads ----------------------------------------------------------

  /** Typed Column literal from a canonical stat value (see [[ColStat]])
    * — the read-side inverse of [[canonOf]]; Catalyst coerces the
    * literal to the column's exact type at comparison time.
    */
  private def canonToLit(t: String, v: String)
      : org.apache.spark.sql.Column = t match {
    case "l" => lit(v.toLong)
    case "d" => lit(v.toDouble)
    case "dec" => lit(new java.math.BigDecimal(v))
    case "s" => lit(v)
    case "dt" => lit(java.time.LocalDate.ofEpochDay(v.toLong))
    case "ts" =>
      val us = v.toLong
      lit(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    case other =>
      throw new IllegalArgumentException(s"unknown stat tag '$other'")
  }

  /** `c` inside [lo, hi] (canonical bounds under `t`, None = an open
    * side); with both sides open, simply non-null.
    */
  private def inRange(c: String, t: String, lo: Option[String],
      hi: Option[String]): Column =
    (lo.map(l => col(c) >= canonToLit(t, l)) ++
      hi.map(h => col(c) <= canonToLit(t, h)))
      .reduceOption(_ && _).getOrElse(col(c).isNotNull)

  /** Read `(manifestVersion, filePath)` pairs under `v`'s schema and
    * apply the tombstones of `snap` (`v`'s decoded snapshot) with
    * sequence scoping: a tombstone at version d deletes only from files
    * whose manifest committed before d. Files sharing an
    * applicable-tombstone set read as ONE scan (at most #tombstones+1
    * groups — no tombstones means the single-scan fast path). PREDICATE tombstones apply as residual filters (null
    * values never match a range and survive); equality tombstones as
    * anti-joins against their key files — broadcast while the ref's
    * recorded key count fits [[ReadBroadcastKeyCap]], shuffle beyond
    * it (a CDC-upsert stream can accumulate table-sized tombstone
    * batches between compactions; forcing those through a driver
    * broadcast is an OOM, not a plan).
    */
  private def readApplying(spark: SparkSession, path: String, v: Int,
      snap: Snap, pairs: Seq[(Int, String)]): DataFrame = {
    val Snap(_, dels, pdels) = snap
    if (tombstoneFree(snap))
      readFiles(spark, path, v, pairs.map(_._2))
    else pairs.groupBy { case (mv, _) =>
        (dels.filter(_.v > mv).map(_.file).sorted,
          pdels.filter(_.v > mv)) }
      .toSeq
      .sortBy { case ((fs, ps), _) =>
        fs.mkString(",") + "|" + ps.map(encodeLine).mkString(",") }
      .map { case ((delFiles, pds), grp) =>
        val base = readFiles(spark, path, v, grp.map(_._2))
        val predApplied = pds.foldLeft(base) { (df, pd) =>
          df.filter(col(pd.col).isNull || !inRange(pd.col, pd.t, pd.lo, pd.hi))
        }
        // one anti-join per TOMBSTONE (all its part files union as one
        // key relation), guarded by the tombstone's TOTAL recorded key
        // count — per-part guarding would broadcast a 10M-key CDC
        // tombstone 2M keys at a time through a join chain
        delFiles.map(f => dels.find(_.file == f).get)
          .groupBy(d => (d.v, d.key)).toSeq.sortBy(_._1)
          .foldLeft(predApplied) { case (df, ((_, key), refs)) =>
            val keys = spark.read.parquet(
              refs.map(r => s"$path/${r.file}").sorted: _*)
            val side = if (refs.map(_.rows).sum > ReadBroadcastKeyCap)
              keys else broadcast(keys)
            df.join(side, Seq(key), "left_anti")
          }
      }.reduce(_ unionByName _)
  }

  private def manifestFilePairs(path: String, refs: Seq[ManifestRef])
      : Seq[(Int, String)] =
    refs.flatMap(r =>
      parseManifest(path, r.name).map(f =>
        (manifestVersion(r.name), s"$path/${f.file}")))

  /** Read a snapshot: exactly the files its manifests list — later
    * commits are invisible (snapshot isolation), earlier versions stay
    * readable (time travel).
    */
  def read(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(path)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    val snap = readSnap(path, v)
    readApplying(spark, path, v, snap, manifestFilePairs(path, snap.refs))
  }

  // ---- the one file planner: ranges, key sets, disjunctions ----------
  // Every pruned file set of the table — the pruned read [[scan]], the
  // Catalyst-pushdown source ([[SnapshotTableSource]]), [[countRange]]
  // and the touched-file searches of the planned COW delete/merge —
  // comes from ONE descent of the metadata pyramid ([[planFiles]]):
  // manifest envelopes first (a manifest that fails never parses), the
  // surviving manifests' files second, every leaf tested by
  // [[testHits]]. A probe is a conjunction of predicates, each an OR of
  // ANDs of leaf tests (disjunctive normal form): a file survives iff
  // EVERY predicate has SOME disjunct all of whose leaves admit it.
  // RangeTest is a typed range on one column (either side may be
  // open); InTest is the point/IN shape, which additionally probes the
  // manifest KEY BLOOMS — the pruner min/max bounds can never serve for
  // scattered ids on a value-clustered table (every file spans ~the
  // full key RANGE but almost no file holds the keys' SET). Soundness
  // is per-leaf: each leaf only ever drops a file its recorded metadata
  // PROVES cannot match (bloom false positives only ADD candidates),
  // OR-ing admits a superset, and a column without a recorded tag
  // compiles to always-hit — so the candidates plus the caller's exact
  // residual equal a full scan's answer, at any version (bounds are
  // immutable with the files they describe).

  sealed trait FileTest
  case class RangeTest(col: String, lo: Option[Any],
      hi: Option[Any]) extends FileTest
  case class InTest(col: String, keys: Seq[Any]) extends FileTest
  /** One pushed predicate in DNF: OR over `disjuncts`, AND within. */
  case class PredDnf(disjuncts: Seq[Seq[FileTest]])

  /** The closed range [lo, hi] on `c` as a one-leaf predicate. Bounds
    * take the column's natural external forms (a number, a string, a
    * "yyyy-MM-dd" date …).
    */
  def between(c: String, lo: Any, hi: Any): PredDnf =
    PredDnf(Seq(Seq(RangeTest(c, Some(lo), Some(hi)))))

  /** A leaf compiled against a tag: canonical bounds for ranges; sorted
    * canonical keys + xxhash64 probes (the bloom family both commit
    * paths feed) for key sets. CAlways = the column has no recorded tag
    * — the leaf cannot prune.
    */
  private sealed trait CompiledTest
  private case class CRange(col: String, t: String, lo: Option[String],
      hi: Option[String]) extends CompiledTest
  private case class CIn(col: String, t: String, sorted: Array[String],
      hashes: Option[Array[Long]]) extends CompiledTest
  private case object CAlways extends CompiledTest

  private def compileIn(c: String, t: String, keys: Seq[Any]): CIn = {
    val a = keys.iterator.filter(_ != null).map(v => canonOf(t, v)).toArray
    scala.util.Sorting.stableSort(a,
      (x: String, y: String) => cmpCanon(t, x, y) < 0)
    val hashes = t match {
      case "l" => Some(a.map(v => xx64(v.toLong)))
      case "s" => Some(a.map(xx64Str))
      case _ => None
    }
    CIn(c, t, a, hashes)
  }

  private def compileTest(test: FileTest,
      tagOf: String => Option[String]): CompiledTest = test match {
    case RangeTest(c, lo, hi) => tagOf(c).fold[CompiledTest](CAlways)(t =>
      CRange(c, t, lo.map(canonOf(t, _)), hi.map(canonOf(t, _))))
    case InTest(c, keys) =>
      tagOf(c).fold[CompiledTest](CAlways)(compileIn(c, _, keys))
  }

  /** `c`'s stat tag: the committed schema's, else the first recorded
    * stat's (tables written before schema tracking).
    */
  private def tagIn(sc: Option[StructType], refs: Seq[ManifestRef],
      c: String): Option[String] =
    sc.flatMap(_.fields.find(_.name == c).flatMap(f => colTag(f.dataType)))
      .orElse(refs.flatMap(r => statFor(r.cols, c)).headOption.map(_.t))

  /** May a file (or a manifest, through its envelope) with these stats
    * hold a row the leaf admits? Missing stats or another tag mean
    * "unknown: keep"; an all-null column admits nothing.
    */
  private def testHits(ct: CompiledTest, cols: Seq[ColStat],
      blooms: Seq[Bloom]): Boolean = ct match {
    case CAlways => true
    case CRange(c, t, l, h) => statFor(cols, c) match {
      case None => true
      case Some(s) if s.t != t => true
      case Some(ColStat(_, _, Some(mn), Some(mx))) =>
        l.forall(lv => cmpCanon(t, mx, lv) >= 0) &&
          h.forall(hv => cmpCanon(t, mn, hv) <= 0)
      case Some(ColStat(_, _, None, None)) => false
      case Some(_) => true
    }
    case CIn(c, t, sorted, hashes) =>
      if (sorted.isEmpty) false // only-null IN set: no row can match
      else {
        val boundsHit = statFor(cols, c) match {
          case None => true
          case Some(s) if s.t != t => true
          case Some(ColStat(_, _, Some(mn), Some(mx))) =>
            anyKeyIn(sorted, t, mn, mx)
          case Some(ColStat(_, _, None, None)) => false
          case Some(_) => true
        }
        boundsHit && ((blooms.find(_.c == c), hashes) match {
          case (Some(Bloom(_, b64)), Some(hs)) =>
            try { val bf = readBloom(b64); hs.exists(bf.mightContainLong) }
            catch { case _: Exception => true } // unreadable: keep
          case _ => true
        })
      }
  }

  /** The planner's answer: the manifests whose envelope passed, each
    * with ALL its parsed files (what a COW rewrite carries or
    * rewrites), the candidate (manifestVersion, file) pairs in file
    * order, and the snapshot's file total.
    */
  private[sources] case class FilePlan(
      parsed: Seq[(ManifestRef, Seq[FileStat])],
      cands: Seq[(Int, FileStat)], total: Long)

  /** THE file planner: one pyramid descent of `snap` under `hits`. A
    * zero-row manifest or file is never a candidate.
    */
  private def planFiles(path: String, snap: Snap,
      hits: (Seq[ColStat], Seq[Bloom]) => Boolean): FilePlan = {
    val parsed = snap.refs.filter(r => r.rows > 0 && hits(r.cols, r.blooms))
      .map(r => r -> parseManifest(path, r.name))
    val cands = parsed.flatMap { case (r, fs) =>
        fs.filter(f => f.rows > 0 && hits(f.cols, f.blooms))
          .map(f => (manifestVersion(r.name), f)) }
      .sortBy(_._2.file)
    FilePlan(parsed, cands, snap.refs.map(_.files.toLong).sum)
  }

  /** [[planFiles]] for the conjunction `where` at `version` (latest
    * when None), its leaves compiled against the version's tags.
    * Returns the resolved version, its decoded snapshot and the plan.
    */
  private[sources] def planScan(path: String, version: Option[Int],
      where: Seq[PredDnf]): (Int, Snap, FilePlan) = {
    val v = version.orElse(latestVersion(path)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    val snap = readSnap(path, v)
    val sc = readSchema(path, v)
    val compiled = where.map(_.disjuncts.map(_.map(
      compileTest(_, tagIn(sc, snap.refs, _)))))
    (v, snap, planFiles(path, snap, (cs, bs) =>
      compiled.forall(_.exists(_.forall(testHits(_, cs, bs))))))
  }

  /** PRUNED snapshot read: the files [[planFiles]] keeps for the
    * conjunction `where` (ranges, key sets, disjunctions — see
    * [[FileTest]]), read under the version's schema with its
    * tombstones applied. The caller re-applies its exact predicate:
    * the candidates hold every matching row, not only matching rows.
    * Returns (candidates, filesRead, filesTotal). A plan that keeps no
    * file answers an empty relation of the version's committed schema
    * without listing a single file.
    */
  def scan(spark: SparkSession, path: String, where: Seq[PredDnf] = Nil,
      version: Option[Int] = None): (DataFrame, Long, Long) = {
    val (v, snap, plan) = planScan(path, version, where)
    val pairs = plan.cands.map { case (mv, f) => (mv, s"$path/${f.file}") }
    val df =
      if (pairs.nonEmpty) readApplying(spark, path, v, snap, pairs)
      else readSchema(path, v) match {
        case Some(sc) => spark.createDataFrame(
          java.util.List.of[Row](), asNullable(sc).asInstanceOf[StructType])
        case None => read(spark, path, Some(v)).filter(lit(false))
      }
    (df, pairs.size.toLong, plan.total)
  }

  /** `t` with every field, element and value nullable — the schema a
    * parquet scan of the table reports.
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), true)
    case other => other
  }

  /** The OLDEST still-time-travelable version — the smallest `v<N>`
    * snapshot file surviving [[vacuum]]; None before the first commit.
    * The changes feed starts announcing here: announcing a vacuumed
    * version would fail every consumer that resolves it.
    */
  def oldestRetainedVersion(path: String): Option[Int] = {
    val log = logDir(path).toFile
    val vs = Option(log.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.matches("v\\d+")).map(_.drop(1).toInt)
    if (vs.isEmpty) None else Some(vs.min)
  }

  /** METADATA-ONLY aggregates: COUNT(*) plus MIN/MAX of ANY
    * stat-carrying column answered from the manifest lines alone —
    * ZERO data files opened, cost O(manifest lines) regardless of table
    * size. Sound because the stat pass records the TRUE per-file
    * min/max and row count at write time and files are immutable
    * afterwards; works at any `version` for the same reason time travel
    * does. Bounds return in canonical form under the returned tag (see
    * [[ColStat]]); None when no file recorded the column (pre-stats
    * manifests or an unsupported type) — the caller's signal to scan
    * instead. A snapshot carrying merge-on-read tombstones is refused:
    * the manifest stats still count the rows they delete.
    */
  def statsAggCol(path: String, colName: String,
      version: Option[Int] = None)
      : (Long, Option[(String, String, String)]) = {
    val (rows, by) = statsAggCols(path, Seq(colName), version)
    (rows, by(colName))
  }

  /** [[statsAggCol]] over SEVERAL columns in ONE manifest pass — the
    * pushed-aggregate planner's shape (one query's MIN/MAX list), so a
    * million-file table's manifests parse once per query, not once per
    * aggregate expression. Returns (rowCount, per-column bounds under
    * [[statsAggCol]]'s contract).
    */
  def statsAggCols(path: String, colNames: Seq[String],
      version: Option[Int] = None)
      : (Long, Map[String, Option[(String, String, String)]]) = {
    val snap = snapOf(path, version)
    require(tombstoneFree(snap),
      "statsAggCol: snapshot carries merge-on-read tombstones whose " +
        "rows the manifest stats still count - run compactCommit first")
    val stats = snap.refs
      .flatMap(r => parseManifest(path, r.name)).filter(_.rows > 0)
    require(stats.nonEmpty, s"statsAggCol: snapshot of $path holds no rows")
    val rows = stats.map(_.rows).sum
    val byCol = colNames.distinct.map { colName =>
      val per = stats.map(f => statFor(f.cols, colName))
      val bounds =
        if (per.exists(_.isEmpty)) None
        else {
          val cs = per.map(_.get)
          val t = cs.head.t
          if (cs.exists(_.t != t)) None
          else {
            val bounded = cs.flatMap(s =>
              for (l <- s.lo; h <- s.hi) yield (l, h))
            if (bounded.isEmpty) None
            else Some((t,
              bounded.map(_._1).reduce((a, b) =>
                if (cmpCanon(t, a, b) <= 0) a else b),
              bounded.map(_._2).reduce((a, b) =>
                if (cmpCanon(t, a, b) >= 0) a else b)))
          }
        }
      colName -> bounds
    }.toMap
    (rows, byCol)
  }

  /** CHANGES FEED — the row-level diff between two committed versions,
    * the read that makes the table a source for INCREMENTAL consumers
    * (a downstream index, a materialized aggregate, a replication
    * stream) without re-reading the table. Cost is O(delta), not
    * O(table): planning diffs the two manifest lists as FILE sets and
    * reads only files present on one side — an append-only history
    * reads exactly the appended files. A COW rewrite (delete/merge/
    * compact) moves surviving rows into new files, putting them on
    * BOTH sides of the file diff; the full-row `exceptAll` cancels
    * them (bag semantics, so duplicate rows cancel pairwise), leaving
    * the true inserts and deletes. `fromV = 0` is the EMPTY table —
    * the baseline a brand-new consumer diffs against (everything in
    * `toV` is an insert). Returns (changes with a `_change` column of
    * "insert"/"delete", filesRead, filesTotal-at-`to`).
    */
  def readChanges(spark: SparkSession, path: String, fromV: Int,
      toV: Int): (DataFrame, Long, Long) = {
    require(fromV >= 0 && fromV <= toV,
      s"readChanges: bad version range v$fromV..v$toV")
    // a vacuumed endpoint gets the DEDICATED exception naming the
    // recovery (reset to the v0 baseline), not an opaque missing-file
    // require deep inside snapshot resolution
    Seq(fromV, toV).filter(_ > 0)
      .filterNot(v => Files.exists(logDir(path).resolve(s"v$v")))
      .foreach(v => throw new SnapshotVacuumedException(
        s"readChanges: snapshot v$v of $path no longer exists " +
          "(vacuumed) — reset the cursor to 0 and rebuild from the " +
          "empty-table baseline (readChanges(0, latest) needs no " +
          "earlier snapshot)"))
    val refsAt = Seq(fromV, toV).distinct.map { v =>
      if (v == 0) v -> Seq.empty[ManifestRef]
      else {
        val snap = readSnap(path, v)
        require(tombstoneFree(snap),
          s"readChanges: v$v carries merge-on-read tombstones - run " +
            "compactCommit to materialize them first")
        v -> snap.refs
      }
    }.toMap
    def fileSet(v: Int): Set[String] =
      refsAt(v).flatMap(r => parseManifest(path, r.name))
        .filter(_.rows > 0).map(_.file).toSet
    val from = fileSet(fromV)
    val to = fileSet(toV)
    val total = refsAt(toV).map(_.files.toLong).sum
    val addedF = (to -- from).toIndexedSeq.sorted.map(n => s"$path/$n")
    val removedF = (from -- to).toIndexedSeq.sorted.map(n => s"$path/$n")
    // both sides read under toV's schema (a superset of fromV's — the
    // s-files accumulate merges), so exceptAll compares like with like
    // and pre-evolution rows fill the evolved columns with null
    def readOr(paths: Seq[String], other: Seq[String]): DataFrame =
      if (paths.nonEmpty) readFiles(spark, path, toV, paths)
      else readFiles(spark, path, toV, other).filter(lit(false))
    if (addedF.isEmpty && removedF.isEmpty) {
      val empty = read(spark, path, Some(toV)).filter(lit(false))
      return (empty.withColumn("_change", lit("insert")), 0L, total)
    }
    val added = readOr(addedF, removedF)
    val removed = readOr(removedF, addedF)
    // ONE signed-count aggregation replaces the added.exceptAll(removed)
    // / removed.exceptAll(added) pair: Spark rewrites EACH exceptAll
    // into union(+1/-1) -> aggregate -> replicate, so the old shape
    // scanned both sides twice and shuffled them twice. Tagging once,
    // summing the signs, and replicating |net| copies yields the exact
    // multiset differences (net > 0 <=> the row survives
    // added∖removed that many times; net < 0 the delete side) with one
    // scan of each side and one exchange. groupBy's null handling is
    // exceptAll's (nulls equal), so row-for-row identical output bags.
    val dataCols = added.columns.toIndexedSeq
    val changes = added.withColumn("_sgn", lit(1L))
      .unionByName(removed.withColumn("_sgn", lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("_sgn")).as("_d"))
      .filter(col("_d") =!= 0L)
      .select(dataCols.map(col) :+
        when(col("_d") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change") :+
        explode(array_repeat(lit(1), abs(col("_d")).cast("int")))
          .as("_rep"): _*)
      .drop("_rep")
    (changes, (addedF.size + removedF.size).toLong, total)
  }

  /** INCREMENTAL VIEW MAINTENANCE — apply a [[readChanges]] delta to a
    * standing grouped aggregate instead of recomputing it: count and
    * SUM are self-maintainable (insert adds, delete subtracts — min/
    * max are not; they need a recompute leg on deletes), so a
    * downstream materialized aggregate stays exact at O(delta) +
    * O(|view|) per refresh and the base table is never re-read. The
    * view's schema contract: `groupCols` ++ a long count `n` ++
    * `sumCols` under their own names; groups whose count reaches zero
    * drop out. Decimal sums stay in exact decimal arithmetic
    * throughout. The CDC delete+insert pairs a MERGE emits net to the
    * update's true effect.
    *
    * Group keys join NULL-SAFELY (`<=>` per column), so a null group —
    * the shape schema evolution mints when it null-fills an evolved
    * column — merges into ONE view row instead of accumulating
    * duplicates. Measure columns are CONTRACTUALLY NON-NULL: an
    * all-null group sums to NULL in a recompute but to 0 in any
    * delta-maintained view (the information "no non-null value
    * remains" is not maintainable without a per-column non-null
    * count), so rather than drift silently the delta fold raises on
    * the first null measure value it meets.
    */
  def incrementalAgg(mv: DataFrame, changes: DataFrame,
      groupCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    val sign = when(col("_change") === lit("insert"), lit(1))
      .otherwise(lit(-1))
    val aggs = (sum(sign.cast("long")).as("_dn") +:
      sumCols.map(c => sum(col(c) * sign).as(s"_d_$c"))) ++
      sumCols.map(c =>
        max(when(col(c).isNull, lit(1)).otherwise(lit(0))).as(s"_nul_$c"))
    val delta = changes.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val m = mv.alias("_l")
    val d = delta.alias("_r")
    val cond = groupCols.map(c => col(s"_l.$c") <=> col(s"_r.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    m.join(d, cond, "full_outer")
      .select((groupCols.map(c =>
          coalesce(col(s"_l.$c"), col(s"_r.$c")).as(c)) :+
        (coalesce(col("_l.n"), lit(0L)) +
          coalesce(col("_r._dn"), lit(0L))).as("n")) ++
        sumCols.map(c =>
          when(col(s"_r._nul_$c") === lit(1), raise_error(lit(
            s"incrementalAgg: null value in measure column '$c' — the " +
              "view contract requires non-null measures (a null sum is " +
              "not maintainable without a per-column non-null count)")))
          .otherwise(coalesce(col(s"_l.$c"), lit(0)) +
            coalesce(col(s"_r._d_$c"), lit(0))).as(c)): _*)
      .filter(col("n") > 0)
  }

  // ---- stream-maintained aggregate: the changes feed's consumer ------
  // [[SnapshotChangesSource]] announces committed versions as a
  // checkpointed micro-batch stream; [[maintainAgg]] is the idempotent
  // foreachBatch body that folds each announced range into a DURABLE
  // materialized aggregate. Its own version cursor publishes atomically
  // AFTER the view, so Spark's at-least-once batch replay (same
  // versions re-announced after a crash) short-circuits instead of
  // double-applying — the [[commitAppendOnce]] argument, applied to the
  // consumer side. A deleted view directory self-heals: cursor 0 makes
  // the next refresh rebuild from the v0 empty-table baseline.

  private def cursorPath(viewDir: String) = Paths.get(viewDir, "CURSOR")

  /** The table version the maintained view at `viewDir` reflects —
    * 0 before the first refresh (the empty-table baseline).
    */
  def maintainedCursor(viewDir: String): Int = {
    val p = cursorPath(viewDir)
    if (!Files.exists(p)) 0
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .trim.toInt
  }

  /** The maintained view's current rows (empty-schema failure before
    * the first refresh is the caller's signal to drain the stream).
    */
  def readMaintainedAgg(spark: SparkSession, viewDir: String): DataFrame =
    spark.read.parquet(s"$viewDir/v${maintainedCursor(viewDir)}")

  /** Fold table versions (cursor, toV] into the standing aggregate at
    * `viewDir` — O(delta) via [[readChanges]] + [[incrementalAgg]],
    * the base table never re-read. Idempotent: a replayed batch
    * (toV <= cursor) is a no-op, and a crash anywhere leaves the
    * previous (view, cursor) pair intact — the view lands as a new
    * `v<toV>` directory and the cursor swings atomically afterwards;
    * stale view directories are swept lazily after the swing. Returns
    * the cursor after the call.
    */
  def maintainAgg(spark: SparkSession, tablePath: String, viewDir: String,
      groupCols: Seq[String], sumCols: Seq[String], toV: Int): Int = {
    val cur0 = maintainedCursor(viewDir)
    if (toV <= cur0) return cur0 // replayed batch: already applied
    // SELF-HEAL a cursor stranded below the vacuum horizon (the view
    // fell further behind than the table's retention): its snapshot is
    // gone, so the O(delta) fold is impossible — rebuild from the v0
    // empty-table baseline instead of dying on [[SnapshotVacuumedException]]
    val cur =
      if (cur0 > 0 &&
        !Files.exists(logDir(tablePath).resolve(s"v$cur0"))) 0
      else cur0
    val (ch, _, _) = readChanges(spark, tablePath, cur, toV)
    val mv =
      if (cur == 0) {
        val aggs = count(lit(1)).as("n") +:
          sumCols.map(c => sum(col(c)).as(c))
        ch.limit(0).groupBy(groupCols.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
      }
      else spark.read.parquet(s"$viewDir/v$cur")
    incrementalAgg(mv, ch, groupCols, sumCols)
      .write.mode("overwrite").parquet(s"$viewDir/v$toV")
    writeAtomic(cursorPath(viewDir), toV.toString)
    // lazy GC of superseded view generations (best-effort: a crash
    // here just leaves a stale dir for the next refresh to sweep)
    Option(new java.io.File(viewDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        f.getName != s"v$toV")
      .foreach(deleteDirRecursive)
    toV
  }

  private def deleteDirRecursive(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach(deleteDirRecursive)
    f.delete()
  }

  /** Zone-accelerated COUNT of `colName` inside [lo, hi] (either side
    * open with None; both open counts the non-null values): files
    * whose typed bounds fall FULLY inside the range are counted from
    * metadata (no I/O), files the planner rules out are skipped, and
    * only the files that STRADDLE a boundary (or carry no bounds) are
    * scanned with the residual filter. On a range-clustered table the
    * straddle set is O(boundary) — two files per predicate edge —
    * independent of how many files the range covers, so a count over
    * 10% of a 100 TB table opens a handful of files. Sound by the
    * zone-map argument both ways: full-inside files can hold no row
    * outside the range, ruled-out files no row inside it. Bounds take
    * the column's natural external forms ([[canonOf]]). Returns
    * (count, rowsFromMetadata, filesScanned, filesTotal) — the second
    * component is the evidence that the metadata path contributed,
    * not just a narrowed scan.
    */
  def countRange(spark: SparkSession, path: String, colName: String,
      lo: Option[Any], hi: Option[Any], version: Option[Int] = None)
      : (Long, Long, Long, Long) = {
    val v = version.orElse(latestVersion(path)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $path"))
    val snap = readSnap(path, v)
    require(tombstoneFree(snap),
      "countRange: snapshot carries merge-on-read tombstones whose " +
        "rows the manifest stats still count - run compactCommit first")
    val t = tagIn(readSchema(path, v), snap.refs, colName).getOrElse(
      throw new IllegalArgumentException(
        s"countRange: column '$colName' of $path carries no stats"))
    val (l, h) = (lo.map(canonOf(t, _)), hi.map(canonOf(t, _)))
    val plan = planFiles(path, snap, testHits(CRange(colName, t, l, h), _, _))
    val (inside, straddle) = plan.cands.map(_._2).partition(f =>
      statFor(f.cols, colName).exists {
        case ColStat(_, `t`, Some(mn), Some(mx)) =>
          l.forall(cmpCanon(t, mn, _) >= 0) && h.forall(cmpCanon(t, mx, _) <= 0)
        case _ => false
      })
    val metaRows = inside.map(_.rows).sum
    val scanned =
      if (straddle.isEmpty) 0L
      else readFiles(spark, path, v, straddle.map(f => s"$path/${f.file}"))
        .filter(inRange(colName, t, l, h)).count()
    (metaRows + scanned, metaRows, straddle.size.toLong, plan.total)
  }

  /** Retention GC — drop snapshots older than the last `keepLast`
    * versions, then every manifest and data file no retained snapshot
    * references (plus any dead claim at or below the latest committed
    * version — a claim for a version that EXISTS can never be
    * re-claimed and is pure leftover). Vacuumed versions stop being
    * time-travelable (the explicit retention trade every table format
    * makes); retained reads are unaffected. Returns (snapshotsDeleted,
    * filesDeleted).
    */
  def vacuum(path: String, keepLast: Int = 1): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val latest = latestVersion(path).getOrElse(return (0, 0))
    val cutoff = latest - keepLast + 1
    val retained = (math.max(1, cutoff) to latest)
      .filter(v => Files.exists(logDir(path).resolve(s"v$v")))
    val snaps = retained.map(readSnap(path, _))
    val keepManifests = snaps.flatMap(_.refs).map(_.name).toSet
    val keepFiles = keepManifests
      .flatMap(m => parseManifest(path, m)).map(_.file) ++
      snaps.flatMap(_.dels).map(_.file)
    var sDel = 0
    (1 until cutoff).foreach { v =>
      if (Files.deleteIfExists(logDir(path).resolve(s"v$v"))) sDel += 1
      Files.deleteIfExists(schemaPath(path, v))
    }
    (1 to latest).foreach(v => releaseClaim(path, v))
    val log = logDir(path).toFile
    Option(log.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("m-") &&
        f.getName.endsWith(".json") && !keepManifests(f.getName))
      .foreach(_.delete())
    var fDel = 0
    Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("v") &&
        f.getName.endsWith(".parquet") && !keepFiles(f.getName))
      .foreach { f => if (f.delete()) fDel += 1 }
    (sDel, fDel)
  }
}
