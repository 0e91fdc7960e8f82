package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `window_md5`'s contract: for `length(text) >= width` it equals the
  * higher-order-function spelling it replaces in q51 — same windows (the
  * character boundaries `substring` uses, over 1- to 4-byte code points),
  * same digests, same prefix sampling, same first-occurrence distinct
  * order — on both the interpreted `eval` path and the generated-code
  * path. Shorter text, nulls and malformed calls are pinned separately. */
class WindowMd5Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val hof =
    "array_distinct(filter(transform(sequence(1, length(text) - width + 1), " +
      "i -> md5(cast(substring(text, i, width) as binary))), h -> startswith(h, prefix)))"

  /** One code point of each UTF-8 length (surrogates excluded), and a
    * four-symbol alphabet of all four lengths whose strings repeat
    * windows, so the distinct step has duplicates to drop. */
  private val anyCodePoint: Gen[Int] = Gen.oneOf(
    Gen.choose(0x20, 0x7e), Gen.choose(0x80, 0x7ff),
    Gen.choose(0x800, 0xd7ff), Gen.choose(0x10000, 0x10ffff))
  private val fewCodePoints: Gen[Int] = Gen.oneOf(0x61, 0xe9, 0x4e2d, 0x1f600)

  private val rows: Seq[(Int, String, Int, String)] = {
    val row = for {
      cps <- Gen.oneOf(anyCodePoint, fewCodePoints).flatMap(g =>
        Gen.choose(0, 120).flatMap(Gen.listOfN(_, g)))
      width <- Gen.choose(1, 60)
      prefix <- Gen.oneOf("", "0", "00", "a")
    } yield (new String(cps.toArray, 0, cps.length), width, prefix)
    Gen.listOfN(600, row).pureApply(Gen.Parameters.default, Seed(51L))
      .zipWithIndex.map { case ((t, w, p), i) => (i, t, w, p) }
  }

  /** Rows where kernel and spelling differ, plus whether `window_md5`
    * ran inside whole-stage codegen. The first repartition keeps the
    * optimizer from folding the projection over the local relation, so
    * the configured path really runs. */
  private def compare(codegen: Boolean): (Seq[String], Boolean) = {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = rows.toDF("id", "text", "width", "prefix").repartition(3)
        .filter(length(col("text")) >= col("width"))
        .withColumn("got", expr("window_md5(text, width, prefix)"))
        .repartition(3) // the lambdas are CodegenFallback: keep them out of its stage
        .select(col("id"), expr(hof).as("want"), col("got"))
      val out = df.collect()
      assert(out.length > rows.length / 4, s"only ${out.length} rows compared")
      val plan = df.queryExecution.executedPlan.toString
      val compiled = plan.linesIterator.exists(l => l.contains("*(") && l.contains("window_md5"))
      (out.toSeq.collect {
        case r if r.getSeq[String](1) != r.getSeq[String](2) =>
          s"row ${r.getInt(0)}: hof=${r.getSeq[String](1)} window_md5=${r.getSeq[String](2)}"
      }, compiled)
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("window_md5 ≡ the HOF spelling on the interpreted eval path") {
    val (diffs, compiled) = compare(codegen = false)
    assert(!compiled)
    assert(diffs.isEmpty, diffs.take(3).mkString("\n"))
  }

  test("window_md5 ≡ the HOF spelling on the generated-code path") {
    val (diffs, compiled) = compare(codegen = true)
    assert(compiled, "window_md5 did not run inside whole-stage codegen")
    assert(diffs.isEmpty, diffs.take(3).mkString("\n"))
  }

  test("null text gives null; text shorter than width gives an empty array") {
    val r = spark.sql(
      """SELECT window_md5(CAST(NULL AS STRING), 5, '0') AS n,
        |       window_md5('abc', CAST(NULL AS INT), '') AS nw,
        |       window_md5('abcd', 5, '') AS short,
        |       window_md5('', 1, '') AS empty,
        |       window_md5('abcd', 4, '') AS one,
        |       window_md5('aaaa', 2, '') AS dup""".stripMargin).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getSeq[String](2).isEmpty && r.getSeq[String](3).isEmpty)
    assert(r.getSeq[String](4) == Seq("e2fc714c4727ee9395f324cd2e7f331f")) // md5('abcd')
    assert(r.getSeq[String](5) == Seq("4124bc0a9335c27f086f24ba207a4912")) // md5('aa')
  }

  test("wrong argument counts and types fail loudly") {
    import spark.implicits._
    val df = Seq("some text").toDF("text")
    def failure(call: String): String =
      intercept[Exception](df.select(expr(call)).collect()).getMessage
    assert(failure("window_md5(text, 50)").contains("3 arguments"))
    assert(failure("window_md5(text, 50, '0', 1)").contains("3 arguments"))
    assert(failure("window_md5(text, '50', '0')").contains("window_md5 requires"))
    assert(failure("window_md5(1, 50, '0')").contains("window_md5 requires"))
    assert(failure("window_md5(text, 50, 0)").contains("window_md5 requires"))
    assert(failure("window_md5(text, 0, '0')").contains("width must be >= 1"))
  }

  test("NativeFunctions.register installs every native function in a bare registry") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    graft.functions.NativeFunctions.registrations.foreach { case (fid, _, _) =>
      reg.dropFunction(fid)
    }
    intercept[Exception](s.sql("SELECT rolling_hash('abc')").collect())
    graft.functions.NativeFunctions.register(s)
    val r = s.sql("SELECT rolling_hash('abc'), window_md5('abcd', 4, '')").collect().head
    assert(r.getLong(0) == graft.functions.RollingHash.hash("abc".getBytes("UTF-8")))
    assert(r.getSeq[String](1) == Seq("e2fc714c4727ee9395f324cd2e7f331f"))
  }
}
