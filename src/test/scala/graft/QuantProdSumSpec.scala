package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `quant_dot`'s contract: BIT-IDENTICAL to the higher-order-function
  * spelling it replaces — same per-element HALF_UP rounding, same
  * left-to-right double accumulation, same null poisoning. The vector
  * gates' oracle parity rests on this equivalence, so it is pinned over
  * random data AND the adversarial rounding inputs (ties, the
  * double-rounding near-tie, negatives, huge magnitudes). */
class QuantProdSumSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val hof =
    "aggregate(zip_with(a, b, (x, y) -> round(x * y * 1e9)), 0D, (acc, p) -> acc + p)"

  test("roundHalfAway equals Spark round(double) element-wise on adversarial values") {
    import spark.implicits._
    val adversarial = Seq(
      0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 1e9 + 0.5, -(1e9 + 0.5),
      0.49999999999999994, -0.49999999999999994, // the JDK Math.round bug value
      0.4999999999999999, 1.4999999999999998, 4503599627370495.5,
      0.0, -0.0, 123.456, -987.654321, 1e-300, -1e-300,
      4.9e9, -4.9e9, 999999999.4999999, -999999999.4999999)
    val rnd = new scala.util.Random(7)
    val vals = adversarial ++ Seq.fill(20000)(
      (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(12)))
    val df = vals.toDF("x")
    val got = df.select(col("x"), round(col("x")).cast("double").as("spark_r"))
      .collect()
    got.foreach { r =>
      val x = r.getDouble(0)
      val mine = graft.functions.QuantProdSum.roundHalfAway(x)
      val sp = r.getDouble(1)
      assert(java.lang.Double.doubleToRawLongBits(mine) ==
        java.lang.Double.doubleToRawLongBits(sp) ||
        (mine == 0.0 && sp == 0.0), // -0.0 vs 0.0: sums treat them equal
        s"roundHalfAway($x) = $mine but Spark round = $sp")
    }
  }

  test("quant_dot ≡ the HOF spelling over random vectors (values, nulls, lengths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def vec(n: Int): Seq[java.lang.Double] =
      Seq.fill(n)(java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 2))
    val rows: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] =
      (1 to 400).map { i =>
        val n = 1 + rnd.nextInt(96)
        val a = vec(n).toArray
        val b = (if (i % 17 == 0) vec(n + 1) else vec(n)).toArray // length mismatch
        if (i % 13 == 0) a(rnd.nextInt(a.length)) = null          // null element
        (a.toSeq, b.toSeq)
      } :+ ((null: Seq[java.lang.Double], vec(4))) // null array
    val df = rows.toDF("a", "b")
    val out = df.select(
      expr(hof).as("want"),
      expr("quant_dot(a, b, 1e9)").as("got")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      val want = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val got = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      assert((want == null) == (got == null) &&
        (want == null || java.lang.Double.doubleToRawLongBits(want) ==
          java.lang.Double.doubleToRawLongBits(got)),
        s"row $i: hof=$want quant_dot=$got")
    }
  }

  test("int_dot ≡ the long HOF spelling incl. overflow raising like ANSI") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] =
      (1 to 200).map { i =>
        val n = 1 + rnd.nextInt(64)
        val a = Seq.fill(n)(java.lang.Long.valueOf(rnd.nextInt(255) - 127L)).toArray
        val b = (if (i % 19 == 0) Seq.fill(n + 1)(java.lang.Long.valueOf(1L))
                 else Seq.fill(n)(java.lang.Long.valueOf(rnd.nextInt(255) - 127L))).toArray
        if (i % 23 == 0) a(rnd.nextInt(a.length)) = null
        (a.toSeq, b.toSeq)
      }
    val df = rows.toDF("a", "b")
    val out = df.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, p) -> acc + p)").as("want"),
      expr("int_dot(a, b)").as("got")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      val want = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      val got = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      assert(want == got, s"row $i: hof=$want int_dot=$got")
    }
    // overflow raises (the ANSI parity of the lambda spelling)
    val big = Seq((Seq(Long.MaxValue), Seq(2L))).toDF("a", "b")
    intercept[Exception](big.select(expr("int_dot(a, b)")).collect())
  }

  test("arity errors are loud: wrong argument counts refuse at registration") {
    import spark.implicits._
    val df = Seq((Seq(1.0), Seq(1.0))).toDF("a", "b")
    val e = intercept[Exception](df.select(expr("quant_dot(a, b)")).collect())
    assert(e.getMessage.contains("3 arguments"), e.getMessage)
    val e2 = intercept[Exception](
      df.select(expr("quant_dot(a, b, 1e9, 1e6)")).collect())
    assert(e2.getMessage.contains("3 arguments"), e2.getMessage)
    val e3 = intercept[Exception](df.select(expr("int_dot(a)")).collect())
    assert(e3.getMessage.contains("2 arguments"), e3.getMessage)
  }

  test("quant_dot(e, e, s) is the quantized norm; works inside higher-order lambdas") {
    import spark.implicits._
    val df = Seq((Seq(0.3, -0.7, 0.9), Seq(Seq(0.1, 0.2, 0.3), Seq(-0.5, 0.5, 0.25))))
      .toDF("e", "cents")
    val r = df.select(
      expr("aggregate(e, 0D, (a, x) -> a + round(x * x * 1e9))").as("w_n2"),
      expr("quant_dot(e, e, 1e9)").as("g_n2"),
      // nested inside transform: one compiled call per centroid
      expr("transform(cents, c -> quant_dot(e, c, 1e9))").as("dots"),
      expr("transform(cents, c -> aggregate(zip_with(e, c, (x, y) -> round(x * y * 1e9)), 0D, (a, p) -> a + p))").as("want_dots"))
      .collect().head
    assert(r.getDouble(0) == r.getDouble(1))
    assert(r.getSeq[Double](2) == r.getSeq[Double](3))
  }

  test("annEncode gives an all-NaN subvector the lowest code, like row_number over (d, code)") {
    import spark.implicits._
    // subvector 0 is all NaN, so every codeword distance is NaN; the other
    // seven sit nearer code 5 (0.5) than code 3 (0.3)
    val src = Seq((7L, Seq.fill(8)(Double.NaN) ++ Seq.fill(56)(0.5))).toDF("vec_id", "e")
    val cent = Seq((0L, Seq.fill(64)(1.0))).toDF("cid", "ce")
    val book = (for (j <- 0 until 8; code <- Seq(3L, 5L))
      yield (code, j, Seq.fill(8)(code / 10.0))).toDF("code", "j", "cv")
    val got = graft.queries.Engine2.annEncode(src, cent, book)
      .select("j", "code").collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(got == (0, 3L) +: (1 until 8).map(j => (j, 5L)), got)
  }
}
