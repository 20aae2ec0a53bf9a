package graft.sources

import java.io.{BufferedReader, StringReader}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotTable._

/** Fixed-seed Unicode text for the metadata specs: every run draws the
  * same inputs (see PropertySpec), biased to the characters a
  * hand-rolled JSON codec gets wrong.
  */
object UnicodeGen {

  def sampled[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val specialChars = Seq('"', '\\', '\n', '\r', '\t', '\u0000',
    '\u001f', '\u007f', '\u0085', '\u2028', '\u2029', '\ufeff', '/', '{',
    '}', ',', ':', '[', ']')

  /** One code point; surrogates are excluded (not scalar values). */
  val codePoint: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(specialChars).map(_.toString),
    2 -> Gen.choose(0, 0x1f).map(_.toChar.toString),
    2 -> Gen.choose(0x10000, 0x10ffff)
      .map(cp => new String(Character.toChars(cp))),
    2 -> Gen.choose(0x80, 0xffff).filterNot(c => c >= 0xd800 && c <= 0xdfff)
      .map(_.toChar.toString))

  val text: Gen[String] = Gen.chooseNum(0, 12)
    .flatMap(n => Gen.listOfN(n, codePoint)).map(_.mkString)
}

/** Driver-only round trip of SnapshotTable's `_log` line codec: every
  * line kind, over strings drawn from all of Unicode (quotes,
  * backslashes, C0 controls, NEL/LS/PS, astral code points) in column
  * names, bounds and delete keys, the special doubles the envelopes
  * carry, and Base64 blooms. Lines are joined and split exactly as a
  * metadata file is written and read back, so a character that breaks
  * a line shows up as a lost or undecodable line.
  */
class MetaCodecSpec extends AnyFunSuite {

  import UnicodeGen._

  private val dbl: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(Double.MaxValue, -Double.MaxValue, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NaN, -0.0, 0.0, Double.MinPositiveValue),
    2 -> Gen.choose(-1e12, 1e12))

  private val tag = Gen.oneOf("l", "d", "dec", "s", "dt", "ts")
  private val colStat: Gen[ColStat] = for {
    c <- text; t <- tag; lo <- Gen.option(text); hi <- Gen.option(text)
  } yield ColStat(c, t, lo, hi)
  private val bloom: Gen[Bloom] = for {
    c <- text; n <- Gen.chooseNum(0, 40)
    bytes <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield Bloom(c, java.util.Base64.getEncoder.encodeToString(bytes.toArray))
  private def few[A](g: Gen[A]) =
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, g))

  private val fileStat: Gen[FileStat] = for {
    f <- text; a <- dbl; b <- dbl; n <- Gen.chooseNum(0L, Long.MaxValue)
    cs <- few(colStat); bs <- few(bloom)
  } yield FileStat(f, a, b, n, cs, bs)
  private val manifestRef: Gen[ManifestRef] = for {
    m <- text; a <- dbl; b <- dbl; nf <- Gen.chooseNum(0, Int.MaxValue)
    n <- Gen.chooseNum(0L, Long.MaxValue); cs <- few(colStat); bs <- few(bloom)
  } yield ManifestRef(m, a, b, nf, n, cs, bs)
  private val deleteRef: Gen[DeleteRef] = for {
    f <- text; k <- text; n <- Gen.chooseNum(0L, Long.MaxValue)
    v <- Gen.chooseNum(1, Int.MaxValue)
  } yield DeleteRef(f, k, n, v)
  private val predDeleteRef: Gen[PredDeleteRef] = for {
    c <- text; t <- tag; lo <- Gen.option(text); hi <- Gen.option(text)
    v <- Gen.chooseNum(1, Int.MaxValue)
  } yield PredDeleteRef(c, t, lo, hi, v)
  private val partSpec: Gen[PartitionSpec] = for {
    t <- Gen.oneOf("days", "months", "bucket"); c <- text
    n <- Gen.chooseNum(0, Int.MaxValue)
  } yield PartitionSpec(t, c, n)

  /** Write `lines` as a metadata file and read it back line by line
    * (the same splitting as `Files.readAllLines`).
    */
  private def roundTrip(lines: Seq[AnyRef], kinds: Kinds): Seq[AnyRef] = {
    val r = new BufferedReader(new StringReader(
      lines.map(encodeLine).mkString("\n")))
    decodeLines("roundtrip", Iterator.continually(r.readLine())
      .takeWhile(_ != null).toIndexedSeq, kinds)
  }

  /** Field equality with doubles compared bit-for-bit (NaN equals NaN,
    * -0.0 differs from 0.0), which case-class equality does not do.
    */
  private def same(a: AnyRef, b: AnyRef): Boolean = (a, b) match {
    case (x: FileStat, y: FileStat) =>
      sameD(x.zMin, y.zMin) && sameD(x.zMax, y.zMax) &&
        x.copy(zMin = 0, zMax = 0) == y.copy(zMin = 0, zMax = 0)
    case (x: ManifestRef, y: ManifestRef) =>
      sameD(x.zMin, y.zMin) && sameD(x.zMax, y.zMax) &&
        x.copy(zMin = 0, zMax = 0) == y.copy(zMin = 0, zMax = 0)
    case _ => a == b
  }
  private def sameD(a: Double, b: Double) =
    java.lang.Double.compare(a, b) == 0

  private def check(lines: Seq[AnyRef], kinds: Kinds): Unit = {
    val back = roundTrip(lines, kinds)
    assert(back.size == lines.size, "a line was split or lost")
    lines.zip(back).foreach { case (a, b) =>
      assert(same(a, b), s"\n$a\nencoded ${encodeLine(a)}\ndecoded $b")
    }
  }

  test("every _log line kind round-trips any Unicode, special doubles " +
      "and Base64 blooms") {
    for (seed <- 1L to 40L) {
      check(sampled(Gen.listOfN(20, fileStat), seed), ManifestKinds)
      check(sampled(Gen.listOfN(8, Gen.oneOf(
        manifestRef.map(x => x: AnyRef), deleteRef.map(x => x: AnyRef),
        predDeleteRef.map(x => x: AnyRef))), seed), SnapshotKinds)
      check(Seq(sampled(partSpec, seed)), PartSpecKinds)
    }
  }

  test("the special doubles round-trip bit for bit in both line kinds") {
    val ds = Seq(Double.MaxValue, -Double.MaxValue, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NaN, -0.0)
    check(ds.map(d => FileStat("f", d, d, 0L)), ManifestKinds)
    check(ds.map(d => ManifestRef("m", d, d, 0, 0L)), SnapshotKinds)
  }

  test("hand-written lines of every kind still decode, with optional " +
      "keys absent") {
    val got = decodeLines("fixture", Seq(
      """{"file":"v2-p00000.parquet","z_min":900.0,"z_max":919.0,"rows":20}""",
      """{"manifest":"m-2.json","z_min":200.0,"z_max":259.0,"files":1,"rows":60}""",
      """{"delete":"_del-3-0.parquet","key":"id","rows":5,"v":3}""",
      """{"pdelete":"d","t":"dt","hi":"19000","v":4}"""),
      ManifestKinds ++ SnapshotKinds)
    assert(got == Seq(FileStat("v2-p00000.parquet", 900.0, 919.0, 20L),
      ManifestRef("m-2.json", 200.0, 259.0, 1, 60L),
      DeleteRef("_del-3-0.parquet", "id", 5L, 3),
      PredDeleteRef("d", "dt", None, Some("19000"), 4)))
  }

  test("a line that decodes as no kind throws, naming the file and the " +
      "line") {
    for (bad <- Seq("", "garbage", """{"manifest":"m-1.json"}""",
      """{"file":"x","z_min":1.0,"z_max":2.0,"rows":3}""",
      """{"delete":"d","key":"k","rows":1,"v":2} trailing""",
      """{"delete":"d","key":"k","rows":1,"v":2,"extra":0}""")) {
      val e = intercept[IllegalStateException] {
        decodeLines("_log/v7", Seq(
          """{"manifest":"m-1.json","z_min":0.0,"z_max":1.0,"files":1,"rows":1}""",
          bad), SnapshotKinds)
      }
      assert(e.getMessage.contains("line 2 of _log/v7"), e.getMessage)
    }
  }
}
