package graft

import java.io.File

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.Parity

/** The lattice-division helpers against an exact driver-side BigInt
  * reference, plus a source scan that keeps `Parity` the only place
  * that defines floor / half-up division.
  */
class ParitySpec extends SparkSpec {

  private def floorRef(n: BigInt, d: BigInt): BigInt = {
    val (q, r) = n /% d
    if (r < 0) q - 1 else q
  }
  private def halfUpRef(n: BigInt, d: BigInt): BigInt = floorRef(2 * n + d, 2 * d)
  private def signedHalfUpRef(n: BigInt, d: BigInt): BigInt =
    if (n < 0) -halfUpRef(-n, d) else halfUpRef(n, d)

  private val helpers: Seq[(String, (Column, Column) => Column,
      (BigInt, BigInt) => BigInt)] = Seq(
    ("floorDiv", Parity.floorDiv, floorRef),
    ("halfUp", Parity.halfUp, halfUpRef),
    ("signedHalfUp", Parity.signedHalfUp, signedHalfUpRef))

  /** Every helper on every (num, den) pair, as (num, den, got) rows. */
  private def evalAll(pairs: Seq[(String, String)], typ: String,
      only: Set[String] = Set.empty): Unit = {
    import spark.implicits._
    val df = pairs.toDF("n", "d")
      .select(col("n").cast(typ).as("n"), col("d").cast(typ).as("d"))
    helpers.filter { case (name, _, _) => only.isEmpty || only(name) }
      .foreach { case (name, f, ref) =>
        val out = df.select(col("n"), col("d"), f(col("n"), col("d")).as("q"))
        assert(out.schema("q").dataType == LongType, s"$name on $typ")
        out.collect().foreach { r =>
          val n = BigInt(r.get(0).toString)
          val d = BigInt(r.get(1).toString)
          assert(BigInt(r.getLong(2)) == ref(n, d), s"$name($n, $d) on $typ")
        }
      }
  }

  test("exact ties of both signs, negative numerators and den = 1") {
    val pairs = for {
      n <- -9L to 9L
      d <- Seq(1L, 2L, 3L, 4L, 6L, 10L)
    } yield (n.toString, d.toString)
    evalAll(pairs ++ Seq(("-999999", "1000000"), ("500000", "1000000"),
      ("-500000", "1000000"), ("1500000", "1000000")), "long")
  }

  test("ties round toward +inf (halfUp) vs away from zero (signedHalfUp)") {
    val got = spark.range(1).select(
      Parity.halfUp(lit(5L), lit(2L)), Parity.halfUp(lit(-5L), lit(2L)),
      Parity.signedHalfUp(lit(5L), lit(2L)),
      Parity.signedHalfUp(lit(-5L), lit(2L)),
      Parity.floorDiv(lit(-7L), lit(2L))).head()
    assert((0 until 5).map(got.getLong) == Seq(3L, -2L, 3L, -3L, -4L))
  }

  test("magnitudes near the long range") {
    val big = Long.MaxValue
    // floorDiv needs num − pmod(num, den) to fit; halfUp needs 2·num + den
    val floorPairs = Seq((big, 1L), (big, 7L), (big - 1, big), (10 - big, 3L),
      (Long.MinValue + 1000, 1000L), (big, big), (-big, big))
    evalAll(floorPairs.map { case (n, d) => (n.toString, d.toString) },
      "long", Set("floorDiv"))
    val h = big / 2 - 1000
    val halfPairs = Seq((h, 1L), (h, 999L), (-h, 999L), (h - 1, 2L),
      (-(h - 1), 2L), (h - 1, 1000L), (1 - h, 1000L))
    evalAll(halfPairs.map { case (n, d) => (n.toString, d.toString) },
      "long", Set("halfUp", "signedHalfUp"))
  }

  test("decimal(38,0) operands past the long range") {
    // numerators far beyond 2^63 whose quotients still fit a long —
    // the widened call sites (pass@k, Krippendorff, PCA power steps)
    val e30 = BigInt(10).pow(30)
    val tie = (BigInt(10).pow(15) * 2 + 1) * BigInt(10).pow(14)
    val pairs = Seq(
      (e30 + 7, BigInt(10).pow(14)),
      (-(e30 + 7), BigInt(10).pow(14)),
      // tie / (2·10¹⁴) = 10¹⁵ + ½: exact ties of both signs
      (tie, BigInt(10).pow(14) * 2),
      (-tie, BigInt(10).pow(14) * 2),
      (e30 * 3 + 1, BigInt(10).pow(15) * 3),
      (BigInt(123456789), BigInt(1)))
    evalAll(pairs.map { case (n, d) => (n.toString, d.toString) },
      "decimal(38,0)")
  }

  test("no lattice-division helper is defined outside Parity") {
    val root = new File("src/main/scala")
    assert(root.isDirectory,
      s"source root not found from ${new File(".").getAbsolutePath}")
    val defPat = """(?i)\bdef\s+\w*(halfUp|floorDiv|exactDiv)""".r
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    def lines(f: File): List[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "Parity.scala"))
    val offenders = for {
      f <- files if f.getName != "Parity.scala"
      (line, i) <- lines(f).zipWithIndex
      if defPat.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "lattice division must go through graft.ops.Parity:\n" +
        offenders.mkString("\n"))
  }
}
