package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic Lloyd's k-means over an embedding column — the training
  * loop for the IVF coarse quantizer (q40 uses fixed seed centroids; this
  * produces trained ones with the same dataflow):
  *
  *  - init: the first k vectors by id (deterministic, no RNG — scripts
  *    and retries converge identically);
  *  - assign: the k×d model rides into the plan as a LITERAL array of
  *    (cluster, centroid, ‖centroid‖²) structs and each row picks its
  *    argmax-sim cluster with nested higher-order functions — a purely
  *    NARROW map over the corpus, zero shuffle, zero per-row join;
  *  - update: per-cluster quantized means via [[graft.functions.CentroidAggD]]
  *    — ONE hash aggregate with map-side partial merge, so the only
  *    shuffle per iteration moves O(partitions × k × d) buffer bytes,
  *    independent of corpus size.
  *
  * The corpus is cached across iterations (the standard iterative-ML
  * shape: scan the source once, not once per step); the k×d model is the
  * only thing ever collected.
  */
object KMeans {

  private val centroidD =
    udaf(graft.functions.CentroidAggD, ExpressionEncoder[Seq[Double]]())

  /** Driver-side model: (cluster, centroid, Σ round(cᵢ²·1e9)). */
  private type Model = IndexedSeq[(Int, IndexedSeq[Double], Double)]

  /** Matches SQL `quant_dot(c, c, 1e9)`:
    * x² ≥ 0 so HALF_UP coincides with math.round's toward-+∞ tie rule. */
  private def norm2Q(c: IndexedSeq[Double]): Double =
    c.foldLeft(0d)((a, x) => a + math.round(x * x * 1e9).toDouble)

  private def toModel(rows: Seq[Row]): Model =
    rows.map { r =>
      val c = r.getSeq[Double](1).toIndexedSeq
      (r.getInt(0), c, norm2Q(c))
    }.toIndexedSeq.sortBy(_._1)

  /** The model as a literal column: array<struct<cluster, c, cn2>>,
    * ascending cluster so the fold's strict `>` keeps the lower cluster
    * on sim ties (same rule as max_by(cluster, struct(sim, -cluster))). */
  private def modelLit(m: Model): Column =
    array(m.map { case (cl, c, cn2) =>
      struct(lit(cl).as("cluster"), typedLit(c.toSeq).as("c"), lit(cn2).as("cn2"))
    }: _*)

  /** Adds `cluster` to each row by argmax quantized cosine against the
    * literal model — narrow, no shuffle. Same arithmetic as the oracle:
    * sim = Σ round(eᵢ·cᵢ·1e9) / sqrt(Σ round(cᵢ²·1e9)). The inner
    * product is the native `quant_dot` (bit-identical to the spelled-out
    * aggregate/zip_with — QuantProdSumSpec): the per-CENTROID fold stays
    * a higher-order lambda (k steps/row, model-sized), but the per-
    * ELEMENT work — k×d/row, the entire cost of Lloyd's at corpus
    * scale — runs as one compiled loop instead of an interpreted
    * closure + BigDecimal round per element. */
  private def withCluster(emb: DataFrame, m: Model): DataFrame = {
    graft.functions.NativeFunctions.register(emb.sparkSession)
    emb.withColumn("cents", modelLit(m))
      .withColumn("cluster", expr(
        """aggregate(
          |  transform(cents, cc -> struct(
          |    cc.cluster AS cluster,
          |    quant_dot(e, cc.c, 1e9) / sqrt(cc.cn2) AS sim)),
          |  struct(CAST(-1 AS INT) AS cluster, CAST('-Infinity' AS DOUBLE) AS sim),
          |  (best, s) -> CASE WHEN s.sim > best.sim THEN s ELSE best END
          |).cluster""".stripMargin))
      .drop("cents")
  }

  private def modelFrame(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    m.map { case (cl, c, _) => (cl, c.toSeq) }.toDF("cluster", "c")
  }

  // ---- primitive-RDD Lloyd core -------------------------------------------
  // The iteration loop used to run through the DataFrame API: per step one
  // plan carrying the whole model as a ~k×d-literal expression tree, the
  // interpreted argmax fold, and the CentroidAggD UDAF (per-row Seq
  // encoding). At corpus scale the arithmetic dominates and that is fine;
  // at bench scale (2 000 vectors) the 5-6 jobs spent ~0.5 s EACH in
  // analysis + codegen of the literal tree — measured 2.5-6.9 s for a
  // 4-iteration grouped fit whose actual compute is milliseconds. The
  // loop below runs the identical dataflow (narrow assignment map + one
  // k×d-bounded partial-merge aggregate per step) over a cached primitive
  // RDD with treeAggregate: zero Catalyst work per iteration, zero
  // shuffle (the k×d buffers merge driver-ward), and the same job count.
  // BIT-IDENTICAL by construction:
  //  - sim = Σᵢ roundHalfAway(eᵢ·cᵢ·1e9) / sqrt(cn2) — the exact
  //    [[graft.functions.QuantProdSum.compute]] accumulation the SQL
  //    `quant_dot` runs, same left-to-right order, same rounding;
  //  - the argmax scans the model cluster-ASCENDING with Spark SQL's
  //    total double order (NaN greatest, strict >), so ties keep the
  //    lower cluster exactly like the old fold / row_number tie rule;
  //  - the update accumulates Σ roundHalfAway(eᵢ·1e9) — exact integers
  //    (≤ 1e10 per element), so partition/merge order cannot change the
  //    sum, and the mean is (s / n) / 1e9 exactly like CentroidAggD;
  //  - empty clusters drop out (n == 0), matching GROUP BY semantics.
  // KMeansSpec pins fitGrouped ≡ per-group fit ≡ assign+update fixpoint,
  // so a divergence in any of these rules fails loudly in the suite.

  /** Spark SQL's `>` on doubles (nanSafeCompareDoubles): NaN is greater
    * than any non-NaN and equal to itself. */
  private def sqlGreater(a: Double, b: Double): Boolean =
    java.lang.Double.compare(a, b) > 0

  private def qdot(a: Array[Double], b: IndexedSeq[Double]): Double = {
    var s = 0d
    var i = 0
    val n = a.length
    while (i < n) {
      s += graft.functions.QuantProdSum.roundHalfAway(a(i) * b(i) * 1e9)
      i += 1
    }
    s
  }

  /** (g, id, e) rows as a cached primitive RDD; `gCol = None` fits the
    * ungrouped shape as group 0. */
  private def corpusRdd(emb: DataFrame, grouped: Boolean)
      : org.apache.spark.rdd.RDD[(Int, Long, Array[Double])] = {
    val df =
      if (grouped) emb.select(col("g").cast("int"), col("id").cast("long"), col("e"))
      else emb.select(lit(0).cast("int"), col("id").cast("long"), col("e"))
    df.queryExecution.toRdd.map { row =>
      (row.getInt(0), row.getLong(1), row.getArray(2).toDoubleArray())
    }
  }

  /** First-k-ids-per-group init (deterministic, no RNG): one bounded
    * aggregate — each partition keeps at most k smallest (id, e) per
    * group, merges keep the k smallest overall. Same rows as the old
    * row_number().over(partitionBy(g).orderBy(id)) <= k window. */
  private def initGrouped(rows: org.apache.spark.rdd.RDD[(Int, Long, Array[Double])],
      k: Int): Map[Int, Model] = {
    type Acc = scala.collection.mutable.Map[Int, scala.collection.mutable.TreeMap[Long, Array[Double]]]
    def insert(acc: Acc, g: Int, id: Long, e: Array[Double]): Acc = {
      val m = acc.getOrElseUpdate(g, scala.collection.mutable.TreeMap.empty)
      m(id) = e
      if (m.size > k) m.remove(m.lastKey)
      acc
    }
    val got = rows.treeAggregate(
      scala.collection.mutable.Map.empty[Int, scala.collection.mutable.TreeMap[Long, Array[Double]]])(
      (acc, r) => insert(acc, r._1, r._2, r._3),
      (a, b) => { b.foreach { case (g, m) => m.foreach { case (id, e) => insert(a, g, id, e) } }; a })
    got.map { case (g, m) =>
      g -> m.toIndexedSeq.map { case (id, e) =>
        (id.toInt, e.toIndexedSeq, norm2Q(e.toIndexedSeq))
      }
    }.toMap
  }

  /** One grouped Lloyd step over the cached rows: narrow argmax +
    * treeAggregate of exact-integer (sum, count) buffers. */
  private def stepGrouped(rows: org.apache.spark.rdd.RDD[(Int, Long, Array[Double])],
      m: Map[Int, Model]): Map[Int, Model] = {
    val sc = rows.sparkContext
    val bc = sc.broadcast(m)
    try {
      // per group: sums(clusterIdx)(dim), counts(clusterIdx) — cluster
      // order = the model's ascending-label order
      type Acc = scala.collection.mutable.Map[Int, (Array[Array[Double]], Array[Long])]
      def group(acc: Acc, g: Int, dims: Int): (Array[Array[Double]], Array[Long]) =
        acc.getOrElseUpdate(g, {
          val kk = bc.value(g).size
          (Array.fill(kk)(null: Array[Double]), new Array[Long](kk))
        })
      val agg = rows.treeAggregate(
        scala.collection.mutable.Map.empty[Int, (Array[Array[Double]], Array[Long])])(
        seqOp = (acc, r) => {
          val (g, _, e) = r
          val model = bc.value(g)
          var bestIdx = -1
          var bestSim = Double.NegativeInfinity
          var ci = 0
          while (ci < model.size) {
            val (_, c, cn2) = model(ci)
            val sim = qdot(e, c) / math.sqrt(cn2)
            if (sqlGreater(sim, bestSim)) { bestIdx = ci; bestSim = sim }
            ci += 1
          }
          // every similarity -Infinity (zero-quantized-norm centroids and
          // negative dots): no cluster wins, so the row joins no
          // centroid's sum or count
          if (bestIdx >= 0) {
            val (sums, counts) = group(acc, g, e.length)
            if (sums(bestIdx) == null) sums(bestIdx) = new Array[Double](e.length)
            val s = sums(bestIdx)
            var i = 0
            while (i < e.length) {
              s(i) += graft.functions.QuantProdSum.roundHalfAway(e(i) * 1e9)
              i += 1
            }
            counts(bestIdx) += 1
          }
          acc
        },
        combOp = (a, b) => {
          b.foreach { case (g, (bs, bn)) =>
            a.get(g) match {
              case None => a(g) = (bs, bn)
              case Some((as_, an)) =>
                var ci = 0
                while (ci < bs.length) {
                  if (bs(ci) != null) {
                    if (as_(ci) == null) as_(ci) = bs(ci)
                    else {
                      var i = 0
                      while (i < bs(ci).length) { as_(ci)(i) += bs(ci)(i); i += 1 }
                    }
                  }
                  an(ci) += bn(ci)
                  ci += 1
                }
            }
          }
          a
        })
      m.keysIterator.map { g =>
        g -> (agg.get(g) match {
          case None => IndexedSeq.empty[(Int, IndexedSeq[Double], Double)]
          case Some((sums, counts)) =>
            m(g).indices.flatMap { ci =>
              if (counts(ci) == 0) None // empty cluster drops out (GROUP BY)
              else {
                val c = sums(ci).map(s => (s / counts(ci)) / 1e9).toIndexedSeq
                Some((m(g)(ci)._1, c, norm2Q(c)))
              }
            }.sortBy(_._1)
        })
      }.toMap
    } finally bc.destroy()
  }

  /** SemDeDup-style cluster count: k grows WITH the corpus so the
    * expected cluster stays near `targetClusterSize` and the
    * within-cluster pair space (Σ cᵢ² ≈ n · target) stays LINEAR in the
    * corpus — a fixed k makes clusters grow with n and the pair space
    * quadratic again. Clamped to [2, maxK]; beyond maxK · target rows,
    * raise maxK (the model is k×d driver bytes) or pre-shard the corpus. */
  def sizeK(n: Long, targetClusterSize: Int = 64, maxK: Int = 4096): Int =
    math.min(maxK.toLong,
      math.max(2L, (n + targetClusterSize - 1) / targetClusterSize)).toInt

  /** SEVERAL independent k-means fits in ONE dataflow, keyed by `g` —
    * for the PQ-codebook shape (8 subspace fits) and the whole
    * requantize retrain (8 subspaces + the coarse fit as a 9th group,
    * different dimensionality per group is fine: every step is
    * array-length-agnostic). Per iteration the grouped fit runs ONE
    * narrow assignment map + ONE (g, cluster) hash aggregate for ALL
    * groups, where g separate [[fit]] calls pay g × iters stage
    * barriers — at small data that's the whole cost (job overhead), at
    * 100 TB it's g× fewer full-corpus scans if the caller's input
    * couldn't be cached.
    *
    * Bit-identical to running [[fit]] per group: init is the first k
    * ids WITHIN each group (same rows), the assignment fold and the
    * quantized means are per-group arithmetic with no cross-group
    * interaction, and ties break identically (the model rides in
    * cluster-ascending per group).
    *
    * @param emb (g: Int, id: Long, e: array<double>)
    * @return (g: Int, cluster: Int, c: array<double>) */
  def fitGrouped(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val rows = corpusRdd(emb, grouped = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var m = initGrouped(rows, k)
      val groups = m.keys.toSeq.sorted
      require(groups == (0 until groups.size),
        s"graft: fitGrouped needs contiguous groups from 0, got $groups")
      for (_ <- 1 to iters) m = stepGrouped(rows, m)
      import emb.sparkSession.implicits._
      m.toSeq.sortBy(_._1).flatMap { case (g, model) =>
        model.map { case (cl, c, _) => (g, cl, c.toSeq) }
      }.toDF("g", "cluster", "c")
    } finally rows.unpersist(blocking = false)
  }

  /** @param emb (id: Long, e: array<double>) input
    * @return (cluster: Int, centroid: array<double>) after `iters` steps */
  def fit(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val rows = corpusRdd(emb, grouped = false)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var m = initGrouped(rows, k).getOrElse(0, IndexedSeq.empty)
      for (_ <- 1 to iters)
        m = stepGrouped(rows, Map(0 -> m)).getOrElse(0, IndexedSeq.empty)
      modelFrame(emb.sparkSession, m)
    } finally rows.unpersist(blocking = false)
  }

  /** Lloyd's to convergence with a hard iteration cap: stops as soon as an
    * update reproduces the previous model EXACTLY (quantized means are
    * deterministic, so the fixed point is decidable by value equality — no
    * epsilon). Because Lloyd's update is idempotent at a fixed point,
    * `fitConverged(e, k, maxIters)` equals `fit(e, k, maxIters)` whenever
    * convergence happens within the cap — which is what lets a SQL oracle
    * replay it by unconditionally unrolling `maxIters` iterations.
    *
    * @return (centroids, iterations actually computed) */
  def fitConverged(emb: DataFrame, k: Int, maxIters: Int): (DataFrame, Int) = {
    val rows = corpusRdd(emb, grouped = false)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var m = initGrouped(rows, k).getOrElse(0, IndexedSeq.empty)
      var used = 0
      var converged = false
      while (used < maxIters && !converged) {
        val next = stepGrouped(rows, Map(0 -> m)).getOrElse(0, IndexedSeq.empty)
        used += 1
        if (next.map(c => (c._1, c._2)) == m.map(c => (c._1, c._2)))
          converged = true // fixed point: model is final
        else m = next
      }
      (modelFrame(emb.sparkSession, m), used)
    } finally rows.unpersist(blocking = false)
  }

  /** Nearest-centroid assignment: (id, e, cluster). Narrow — the model is
    * collected (k×d, a few KB) and folded into a literal; ties break to
    * the lower cluster id exactly like max_by(cluster, struct(sim, -cluster)). */
  def assign(emb: DataFrame, centroids: DataFrame): DataFrame =
    withCluster(emb, toModel(centroids.collect().toIndexedSeq))
      .select(col("id"), col("e"), col("cluster"))

  /** Quantized-exact per-cluster means: (cluster, c) — one map-side-
    * combining hash aggregate ([[graft.functions.CentroidAggD]]). */
  def update(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster")).agg(centroidD(col("e")).as("c"))

  /** Mean cosine of each vector to its assigned centroid — the objective
    * (higher is better); used to check convergence. */
  def objective(emb: DataFrame, centroids: DataFrame): Double = {
    graft.functions.NativeFunctions.register(emb.sparkSession)
    assign(emb, centroids)
      .join(centroids.select(col("cluster"), col("c")), "cluster")
      .withColumn("dot",
        expr("quant_dot(e, c, 1e9)"))
      .withColumn("en2", expr("quant_dot(e, e, 1e9)"))
      .withColumn("cn2", expr("quant_dot(c, c, 1e9)"))
      .withColumn("cos", expr("dot / sqrt(en2 * cn2)"))
      .agg(avg(col("cos"))).head().getDouble(0)
  }

  /** Convenience: embeddings table → (id, e) frame. */
  def embFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("e"))
}
