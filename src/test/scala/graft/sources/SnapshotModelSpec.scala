package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalacheck.Gen

import graft.SparkSpec

/** Model-based check of SnapshotTable: fixed-seed random sequences of
  * appends, copy-on-write deletes, merge-on-read key and predicate
  * deletes, compactions, vacuums and time-travel reads on a table of
  * at most 200 rows whose string keys are drawn from all of Unicode.
  * Every read is compared with an in-memory model that keeps each
  * committed version's rows; every operation's version number and
  * failure mode is compared too. The seed and the operations run are
  * logged with each sequence.
  */
class SnapshotModelSpec extends SparkSpec {

  import spark.implicits._

  private type Rows = Vector[(String, Double)]
  private val MaxRows = 200

  /** Spark's string order: UTF-8 bytes, unsigned. */
  private def cmpUtf8(a: String, b: String): Int = {
    val (x, y) = (a.getBytes(UTF_8), b.getBytes(UTF_8))
    x.iterator.zip(y.iterator).map { case (p, q) => (p & 0xff) - (q & 0xff) }
      .find(_ != 0).getOrElse(x.length - y.length)
  }

  private def runSequence(seed: Long, steps: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val pool = UnicodeGen.sampled(Gen.listOfN(24, UnicodeGen.text), seed)
      .distinct.toVector
    val t = Files.createTempDirectory("graft-snapmodel").toString + "/t"
    var model = Map.empty[Int, Rows] // retained version -> its rows
    var latest = 0
    var tombstoned = false // live merge-on-read tombstones at latest
    var z = 0.0
    val log = Vector.newBuilder[String]

    def keysOf(n: Int) = Vector.fill(n)(pool(rnd.nextInt(pool.size)))
    def readRows(v: Option[Int]): Rows = SnapshotTable.read(spark, t, v)
      .select("k", "z").as[(String, Double)].collect().toVector
    def check(v: Int, what: String): Unit = {
      // z is unique per row, so it orders both sides the same way
      val got = readRows(Some(v)).sortBy(_._2)
      assert(got == model(v).sortBy(_._2),
        s"seed $seed, $what: v$v read ${got.size} rows, model " +
          s"${model(v).size}; ops so far:\n" + log.result().mkString("\n"))
    }
    def commit(v: Int, rows: Rows): Unit = {
      assert(v == latest + 1, s"seed $seed: expected v${latest + 1}, got v$v")
      latest = v
      model += v -> rows
    }

    for (step <- 0 until steps) {
      val cur = if (latest == 0) Vector.empty else model(latest)
      val room = MaxRows - cur.size
      val op = if (latest == 0) 0 else rnd.nextInt(8)
      op match {
        case 0 | 1 if room > 0 =>
          val n = 1 + rnd.nextInt(math.min(room, 40))
          val batch = keysOf(n).map { k => z += 1; (k, z) }
          val files = 1 + rnd.nextInt(3)
          log += s"append $n rows in $files files"
          commit(SnapshotTable.commitAppend(batch.toDF("k", "z"), t, "z",
            files), cur ++ batch)
        case 2 =>
          val keys = keysOf(1 + rnd.nextInt(3)).toSet
          log += s"commitDelete ${keys.size} keys"
          if (tombstoned) {
            intercept[IllegalArgumentException] {
              SnapshotTable.commitDelete(spark, t, "k", keys.toSeq.toDF("k"),
                "z")
            }
          } else {
            val (n, v) = SnapshotTable.commitDelete(spark, t, "k",
              keys.toSeq.toDF("k"), "z")
            val kept = cur.filterNot(r => keys(r._1))
            assert(n == cur.size - kept.size, s"seed $seed: deleted $n")
            if (n == 0) assert(v == latest) else commit(v, kept)
          }
        case 3 =>
          val keys = keysOf(1 + rnd.nextInt(3)).toSet
          log += s"commitDeleteMor ${keys.size} keys"
          val (n, v) = SnapshotTable.commitDeleteMor(spark, t, "k",
            keys.toSeq.toDF("k"))
          assert(n == keys.size, s"seed $seed: staged $n keys")
          commit(v, cur.filterNot(r => keys(r._1)))
          tombstoned = true
        case 4 =>
          val Seq(a, b) = keysOf(2).sortWith(cmpUtf8(_, _) < 0)
          val (lo, hi) = rnd.nextInt(3) match {
            case 0 => (Some(a), None)
            case 1 => (None, Some(b))
            case _ => (Some(a), Some(b))
          }
          log += s"commitDeleteMorPred lo=${lo.isDefined} hi=${hi.isDefined}"
          val v = SnapshotTable.commitDeleteMorPred(spark, t, "k", lo, hi)
          commit(v, cur.filterNot(r => lo.forall(cmpUtf8(r._1, _) >= 0) &&
            hi.forall(cmpUtf8(r._1, _) <= 0)))
          tombstoned = true
        case 5 =>
          log += "compactCommit"
          val (_, _, v) = SnapshotTable.compactCommit(spark, t, "z",
            1 + rnd.nextInt(80))
          commit(v, cur)
          tombstoned = false
        case 6 =>
          val keep = 1 + rnd.nextInt(3)
          log += s"vacuum keepLast=$keep"
          SnapshotTable.vacuum(t, keep)
          model = model.filter(_._1 > latest - keep)
        case _ =>
          val v = model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          log += s"time-travel read v$v"
          check(v, s"step $step time travel")
          val gone = (1 until model.keys.min).filterNot(model.contains)
          if (gone.nonEmpty) intercept[IllegalArgumentException] {
            SnapshotTable.read(spark, t, Some(gone(rnd.nextInt(gone.size))))
          }
      }
      check(latest, s"step $step")
    }
    log.result()
  }

  test("random operation sequences on Unicode keys read back exactly " +
      "what an in-memory model of every version holds") {
    for (seed <- Seq(101L, 202L, 303L)) {
      val ops = runSequence(seed, steps = 12)
      info(s"seed $seed: " + ops.mkString("; "))
    }
  }
}
