package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

import graft.ml.KMeans

class KMeansSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("k-means objective is non-decreasing and the fit is deterministic") {
    val emb = KMeans.embFrame(spark, dir).cache()
    val init = emb.orderBy("id").limit(8)
      .selectExpr("cast(id as int) as cluster", "e as c")
    val o0 = KMeans.objective(emb, init)
    val c1 = KMeans.fit(emb, 8, 1)
    val o1 = KMeans.objective(emb, c1)
    val c2 = KMeans.fit(emb, 8, 2)
    val o2 = KMeans.objective(emb, c2)
    assert(o1 >= o0 - 1e-9, s"iteration 1 worsened objective: $o0 -> $o1")
    assert(o2 >= o1 - 1e-9, s"iteration 2 worsened objective: $o1 -> $o2")

    // determinism: same input → bitwise-identical centroids
    val a = KMeans.fit(emb, 8, 2).collect().map(r =>
      (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val b = KMeans.fit(emb, 8, 2).collect().map(r =>
      (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 8 && a.forall(_._2.length == 64))
  }

  test("fitConverged stops at the exact fixed point and matches unrolled fit") {
    import spark.implicits._
    // two tight, well-separated blobs -> converges in very few iterations
    val pts = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 10.0 else -10.0
      (i.toLong, Seq(base + (i % 5) * 0.01, base - (i % 3) * 0.01))
    }
    val emb = pts.toDF("id", "e").cache()
    val (cent, used) = KMeans.fitConverged(emb, 2, 10)
    assert(used < 10, s"expected early convergence, used all $used iterations")
    // idempotence: the converged model equals the fully unrolled one
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    assert(key(cent) == key(KMeans.fit(emb, 2, 10)))
    // and one more Lloyd step changes nothing
    assert(key(KMeans.update(KMeans.assign(emb, cent))) == key(cent))
  }

  test("a row with every similarity -Infinity joins no centroid (zero-norm centroid, negative dot)") {
    import spark.implicits._
    // id 0 seeds the only centroid; its quantized norm Σ round(c²·1e9)
    // is 0, so ids 1-2 (negative dot) score -Infinity against it, while
    // id 0 itself scores 0/0 = NaN, which Spark's double order ranks
    // above -Infinity
    val emb = Seq(
      (0L, Seq(-1e-5, -1e-5)), (1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 1.0)))
      .toDF("id", "e")
    val got = KMeans.fit(emb, 1, 1).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    assert(got == Seq((0, Seq(-1e-5, -1e-5))), got)
  }

  test("fitGrouped is bit-identical to per-group fit (subspaces + mixed dims)") {
    import org.apache.spark.sql.functions._
    val emb = KMeans.embFrame(spark, dir).cache()
    // the requantize shape: groups 0..7 = 8-dim subspace slices, group 8
    // = the full 64-dim vector — one grouped dataflow must reproduce
    // nine independent fits exactly (init, ties, quantized means)
    val grouped = emb.select(col("id"),
        explode(expr("sequence(0, 8)")).as("gi"), col("e"))
      .select(col("gi").cast("int").as("g"), col("id"),
        expr("CASE WHEN gi = 8 THEN e ELSE slice(e, gi * 8 + 1, 8) END").as("e"))
    val got = KMeans.fitGrouped(grouped, 16, 3).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq).toMap
    val want = ((0 until 8).map { j =>
      j -> KMeans.fit(
        emb.select(col("id"), expr(s"slice(e, ${j * 8 + 1}, 8)").as("e")), 16, 3)
    } :+ (8 -> KMeans.fit(emb, 16, 3))).flatMap { case (g, df) =>
      df.collect().map(r => (g, r.getInt(0)) -> r.getSeq[Double](1).toSeq)
    }.toMap
    assert(got.keySet == want.keySet,
      s"cluster sets diverged: ${(got.keySet diff want.keySet).take(5)} / " +
        s"${(want.keySet diff got.keySet).take(5)}")
    got.keys.foreach { k =>
      assert(got(k) == want(k), s"centroid $k diverged")
    }
  }
}
