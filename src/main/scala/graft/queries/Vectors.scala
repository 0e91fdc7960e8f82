package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * Numerics: each per-element double product is quantized to an integer
  * at 1e9 scale (round(x*y*1e9)); integer-valued doubles below 2^53 sum
  * exactly and order-independently, so Spark's partial aggregation and
  * DuckDB's scan order produce bit-identical cosines (the 1e9 scale
  * cancels in dot/sqrt(n2*n2)) and results hash-match. Both engines round
  * ties away from zero, so the quantization itself is also identical.
  *
  * Scale design: the brute-force path is "small query set × full corpus"
  * (query side broadcast, corpus side never shuffled — one narrow pass).
  * The LSH path buckets vectors by an 8-bit sign-random-projection code
  * (axis projections), turning the pair space into per-bucket blocks; at
  * 100 TB the bucket join replaces the cross product entirely.
  */
object Vectors {

  /** Per-vector embeddings as array<double> plus the 8-bit SRP bucket. */
  private def emb(t: Tables): DataFrame = {
    val bucketExpr = (0 to 7)
      .map(j => s"(case when e[$j] > 0 then ${1 << j} else 0 end)")
      .mkString(" + ")
    graft.functions.NativeFunctions.register(t.embeddings.sparkSession)
    t.embeddings.select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
      .withColumn("bucket", expr(bucketExpr).cast("int"))
  }

  /** Exact squared norms at 1e9 quantization: (vec_id, n2). A codegen'd
    * array fold — integer-valued terms sum exactly in any order, so no
    * shuffle is needed and the result is deterministic. */
  private def norms(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      expr("quant_dot(e, e, 1e9)").as("n2"))

  private val duckBucket = (1 to 8)
    .map(j => s"(CASE WHEN embedding[$j] > 0 THEN ${1 << (j - 1)} ELSE 0 END)")
    .mkString(" + ")

  private val duckNorms =
    """norms AS (SELECT vec_id,
                   list_sum(list_transform(embedding,
                     x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                 FROM embeddings)"""

  /** Pair dot products + cosine for a joined (qid, qe) × (vid, ve) frame. */
  private def cosine(pairs: DataFrame, n: DataFrame): DataFrame =
    pairs
      .withColumn("dot",
        expr("quant_dot(qe, ve, 1e9)"))
      .join(n.select(col("vec_id").as("qid"), col("n2").as("qn2")), "qid")
      .join(n.select(col("vec_id").as("vid"), col("n2").as("vn2")), "vid")
      .withColumn("cos", expr("dot / sqrt(qn2 * vn2)"))

  val defs: Seq[QueryDef] = Seq(

    // ---- q27: brute-force cosine top-3 for a small query set -------------
    QueryDef(
      "q27_ann_bruteforce",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val q = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("e").as("qe"))
        val c = e.select(col("vec_id").as("vid"), col("e").as("ve"))
        val pairs = broadcast(q).crossJoin(c).filter(col("qid") =!= col("vid"))
        // top-3 per query via the map-side-combining TopK aggregate: the
        // shuffle carries only #queries × 3 rows per partition — never the
        // (queries × corpus) pair stream a per-qid window would funnel
        // through #queries reducers
        val topk = udaf(graft.functions.TopKAgg(3),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKIn]())
        cosine(pairs, n)
          .groupBy(col("qid"))
          .agg(topk(col("cos"), col("vid")).as("top"))
          .select(col("qid"), posexplode(col("top")))
          .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
            col("col.id").as("vid"), col("col.score").as("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH $duckNorms,
        dots AS (
          SELECT q.vec_id AS qid, c.vec_id AS vid,
            list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9))) AS dot
          FROM embeddings q, embeddings c
            WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
        scored AS (
          SELECT qid, vid,
            dot / sqrt(nq.n2 * nv.n2) AS cos
          FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nv ON nv.vec_id = vid)
        SELECT qid, rank, vid, cos FROM (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
          FROM scored)
        WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- q28: LSH-bucketed ANN top-3 (the scale path) --------------------
    QueryDef(
      "q28_ann_lsh",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("bucket"))
        val c = e.select(col("vec_id").as("vid"), col("e").as("ve"), col("bucket"))
        val pairs = q.join(c, "bucket").filter(col("qid") =!= col("vid"))
        val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vid"))
        cosine(pairs, n)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vid"), col("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH $duckNorms,
        e AS (SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings),
        dots AS (
          SELECT q.vec_id AS qid, c.vec_id AS vid,
            list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9))) AS dot
          FROM e q JOIN e c ON q.bucket = c.bucket
            WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
        scored AS (
          SELECT qid, vid,
            dot / sqrt(nq.n2 * nv.n2) AS cos
          FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nv ON nv.vec_id = vid)
        SELECT qid, rank, vid, cos FROM (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
          FROM scored)
        WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- q40: IVF-flat ANN — coarse quantizer + nprobe=2 probe -----------
    // Inverted-file index with deterministic centroids (the first 16
    // vectors): every vector is assigned to its nearest centroid, a query
    // probes its 2 best centroid lists, and only those lists are scored —
    // at 100 TB the per-centroid lists are the unit of distribution and a
    // trained coarse quantizer (k-means) drops in without changing the
    // dataflow. Centroids broadcast; assignment is one narrow pass.
    QueryDef(
      "q40_ann_ivf",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val cent = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("vid"), col("e").as("ve"))
        val all = e.select(col("vec_id").as("qid"), col("e").as("qe"))
        val assignScored = cosine(all.crossJoin(broadcast(cent)), n)
        val wNear = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vid"))
        val assign = assignScored
          .withColumn("rn", row_number().over(wNear)).filter(col("rn") === 1)
          .select(col("qid").as("member"), col("vid").as("cid"))
        val probe = assignScored.filter(col("qid") < 20)
          .withColumn("rn", row_number().over(wNear)).filter(col("rn") <= 2)
          .select(col("qid"), col("vid").as("cid"))
        val cand = probe.join(assign, "cid")
          .filter(col("qid") =!= col("member"))
          .select(col("qid"), col("member").as("vid"))
          .distinct()
        val scored = cosine(
          cand.join(all, "qid").join(e.select(col("vec_id").as("vid"), col("e").as("ve")), "vid"), n)
        val wRank = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vid"))
        scored
          .withColumn("rank", row_number().over(wRank).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vid"), col("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      Some {
        def fold(a: String, b: String): String =
          s"""list_sum(list_transform(range(1, len($a.embedding) + 1),
             |  i -> round(CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) * 1e9)))""".stripMargin
        s"""WITH $duckNorms,
        e AS (SELECT vec_id, embedding FROM embeddings),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            ${fold("a", "c")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM e a JOIN e c ON c.vec_id < 16
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN norms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT qid, vid AS cid FROM ranked WHERE rn <= 2 AND qid < 20),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> p.qid),
        cscore AS (
          SELECT cand.qid, cand.vid,
            ${fold("q", "v")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM cand JOIN e q ON q.vec_id = cand.qid JOIN e v ON v.vec_id = cand.vid
          JOIN norms nq ON nq.vec_id = cand.qid JOIN norms nv ON nv.vec_id = cand.vid)
        SELECT qid, rank, vid, cos FROM (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
          FROM cscore)
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // ---- q42: per-label centroids via the custom typed Aggregator --------
    // graft.functions.CentroidAgg — the k-means update step; buffer sums
    // are 1e9-quantized integers so partial-merge order cannot change the
    // mean. Output flattened to (label, pos, v) rows for the oracle.
    QueryDef(
      "q42_label_centroids",
      (s, dir) => {
        val t = Tables(s, dir)
        import s.implicits._
        val ds = t.embeddings
          .select(col("label"), col("embedding"))
          .as[(Int, Seq[Float])]
        ds.groupByKey(_._1)
          .mapValues(_._2)
          .agg(graft.functions.CentroidAgg.toColumn.name("centroid"))
          .toDF("label", "centroid")
          .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "v")))
          .select(col("label"), col("pos").cast("long").as("pos"), col("v"))
          .orderBy(col("label"), col("pos"))
      },
      Some("""SELECT label, pos, (SUM(q) / COUNT(*)) / 1e9 AS v FROM (
          SELECT label, r.i AS pos,
                 round(CAST(embedding[r.i + 1] AS DOUBLE) * 1e9) AS q
          FROM embeddings, range(0, 64) r(i))
        GROUP BY label, pos ORDER BY label, pos""")),

    // ---- q48: product-quantization encoding (IVF-PQ building block) ------
    // 64 dims → 8 subvectors of 8; each subvector maps to the nearest of
    // 16 deterministic codewords (the first 16 vectors' subvectors) by
    // quantized squared distance — 64 bits per vector instead of 2 KB.
    // Codebooks broadcast; encoding is one narrow pass over the corpus,
    // which is what makes PQ viable at 100 TB.
    QueryDef(
      "q48_pq_encode",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val subs = e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("j"), col("e"))
          .select(col("vec_id"), col("j"),
            expr("slice(e, j * 8 + 1, 8)").as("sv"))
        val codewords = subs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cw"), col("j"), col("sv").as("cv"))
        val w = Window.partitionBy(col("vec_id"), col("j"))
          .orderBy(col("dist"), col("cw"))
        subs.join(broadcast(codewords), "j")
          .withColumn("dist",
            expr("quant_dist2(sv, cv, 1e9)"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("j").cast("long").as("subv"),
            col("cw").cast("long").as("code"))
          .orderBy(col("vec_id"), col("subv"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        subs AS (SELECT vec_id, j FROM e, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM (SELECT vec_id, j FROM e, range(0, 8) r(j)) s
          JOIN e a ON a.vec_id = s.vec_id
          JOIN e c ON c.vec_id < 16)
        SELECT vec_id, CAST(j AS BIGINT) AS subv, CAST(cw AS BIGINT) AS code FROM (
          SELECT vec_id, j, cw,
            ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
          FROM dists)
        WHERE rn = 1 ORDER BY vec_id, subv"""))
      ,

    // ---- q49: asymmetric-distance (ADC) search over PQ codes -------------
    // The query side stays un-quantized: per (query, subvector, codeword)
    // distances form a small lookup table, and a candidate's approximate
    // distance is the sum of 8 table entries selected by its PQ codes —
    // the search never touches raw corpus vectors (8 adds per candidate),
    // which is the entire point of IVF-PQ at scale.
    QueryDef(
      "q49_pq_adc_search",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val subs = e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("j"), col("e"))
          .select(col("vec_id"), col("j"), expr("slice(e, j * 8 + 1, 8)").as("sv"))
        val codewords = subs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cw"), col("j"), col("sv").as("cv"))
        val distExpr =
          expr("quant_dist2(sv, cv, 1e9)")
        // PQ codes for the whole corpus (as in q48)
        val wCode = Window.partitionBy(col("vec_id"), col("j")).orderBy(col("dist"), col("cw"))
        val codes = subs.join(broadcast(codewords), "j")
          .withColumn("dist", distExpr)
          .withColumn("rn", row_number().over(wCode)).filter(col("rn") === 1)
          .select(col("vec_id").as("vid"), col("j"), col("cw").as("code"))
        // per-query lookup tables (raw query subvectors vs codewords)
        val lut = subs.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("j"), col("sv"))
          .join(broadcast(codewords), "j")
          .withColumn("d", distExpr)
          .select(col("qid"), col("j"), col("cw").as("code"), col("d"))
        val wRank = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vid"))
        codes.join(lut, Seq("j", "code"))
          .filter(col("qid") =!= col("vid"))
          .groupBy(col("qid"), col("vid"))
          .agg(sum(col("d")).as("adist"))
          .withColumn("rank", row_number().over(wRank).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vid"), col("adist"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        subs AS (SELECT vec_id, j FROM e, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM subs s JOIN e a ON a.vec_id = s.vec_id JOIN e c ON c.vec_id < 16),
        codes AS (
          SELECT vec_id AS vid, j, cw AS code FROM (
            SELECT vec_id, j, cw,
              ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT vec_id AS qid, j, cw AS code, dist AS d
                FROM dists WHERE vec_id < 10)
        SELECT qid, rank, vid, adist FROM (
          SELECT qid, vid, adist,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
          FROM (
            SELECT l.qid, c.vid, SUM(l.d) AS adist
            FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
            WHERE l.qid <> c.vid GROUP BY l.qid, c.vid))
        WHERE rank <= 3 ORDER BY qid, rank""")),

    // ---- q29: embedding near-dup pairs within SRP buckets ----------------
    QueryDef(
      "q29_embedding_neardup",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val a = e.select(col("vec_id").as("qid"), col("e").as("qe"), col("bucket"))
        val b = e.select(col("vec_id").as("vid"), col("e").as("ve"), col("bucket"))
        val pairs = a.join(b, "bucket").filter(col("qid") < col("vid"))
        cosine(pairs, n)
          .filter(col("cos") > 0.3)
          .select(col("qid").as("v1"), col("vid").as("v2"), col("cos"))
          .orderBy(col("v1"), col("v2"))
      },
      Some(s"""WITH $duckNorms,
        e AS (SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings),
        dots AS (
          SELECT q.vec_id AS qid, c.vec_id AS vid,
            list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9))) AS dot
          FROM e q JOIN e c ON q.bucket = c.bucket
            WHERE q.vec_id < c.vec_id),
        scored AS (
          SELECT qid, vid,
            dot / sqrt(nq.n2 * nv.n2) AS cos
          FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nv ON nv.vec_id = vid)
        SELECT qid AS v1, vid AS v2, cos FROM scored WHERE cos > 0.3 ORDER BY v1, v2""")),

    // ---- q56: IVF with a TRAINED coarse quantizer --------------------------
    // graft.ml.KMeans (deterministic Lloyd: first-k init, quantized-exact
    // assignment and means) trains the 8-centroid inverted file; the same
    // two iterations are unrolled in the DuckDB oracle, so the trained
    // centroids — and the ANN results through them — hash-match exactly.
    // Scale: each iteration is one broadcast of 8 centroids + one shuffle
    // by cluster id; the corpus is never collected or self-joined.
    QueryDef(
      "q56_ann_ivf_trained",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val ke = e.select(col("vec_id").as("id"), col("e"))
        val cent = graft.ml.KMeans.fit(ke, 8, 2) // (cluster, c)
        // final assignment + probes score exactly like KMeans.assign
        val scored = ke.crossJoin(broadcast(cent))
          .withColumn("dot",
            expr("quant_dot(e, c, 1e9)"))
          .withColumn("cn2", expr("quant_dot(c, c, 1e9)"))
          .withColumn("sim", expr("dot / sqrt(cn2)"))
        val w = Window.partitionBy(col("id")).orderBy(desc("sim"), col("cluster"))
        val ranked = scored.withColumn("rn", row_number().over(w))
        val assign = ranked.filter(col("rn") === 1)
          .select(col("id").as("member"), col("cluster").as("cid"))
        val probe = ranked.filter(col("rn") <= 2 && col("id") < 20)
          .select(col("id").as("qid"), col("cluster").as("cid"))
        val cand = probe.join(assign, "cid")
          .filter(col("qid") =!= col("member"))
          .select(col("qid"), col("member").as("vid"))
          .distinct()
        val all = e.select(col("vec_id").as("qid"), col("e").as("qe"))
        val cscored = cosine(
          cand.join(all, "qid")
            .join(e.select(col("vec_id").as("vid"), col("e").as("ve")), "vid"), n)
        val wR = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vid"))
        cscored
          .withColumn("rank", row_number().over(wR).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vid"), col("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      Some {
        // one Lloyd iteration, expressed once and instantiated per round
        def sim(cent: String, out: String) =
          s"""$out AS (
             |  SELECT e.id, c.cluster,
             |    list_sum(list_transform(range(1, len(e.embedding) + 1),
             |      i -> round(CAST(e.embedding[i] AS DOUBLE) * c.c[i] * 1e9))) /
             |    sqrt(list_sum(list_transform(c.c, x -> round(x * x * 1e9)))) AS sim
             |  FROM e CROSS JOIN $cent c)""".stripMargin
        def assignCte(scores: String, out: String) =
          s"""$out AS (
             |  SELECT id, cluster FROM (
             |    SELECT id, cluster,
             |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cluster) AS rn
             |    FROM $scores) WHERE rn = 1)""".stripMargin
        def updateCte(assignName: String, out: String) =
          s"""${out}_s AS (
             |  SELECT a.cluster, p.i,
             |    SUM(round(CAST(e.embedding[p.i] AS DOUBLE) * 1e9)) AS sm,
             |    COUNT(*) AS n
             |  FROM $assignName a JOIN e ON e.id = a.id CROSS JOIN pos p
             |  GROUP BY a.cluster, p.i),
             |$out AS (
             |  SELECT cluster, list((sm / n) / 1e9 ORDER BY i) AS c
             |  FROM ${out}_s GROUP BY cluster)""".stripMargin
        s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings),
        pos AS (SELECT CAST(i AS BIGINT) AS i FROM range(1, 65) t(i)),
        c0 AS (SELECT CAST(id AS INT) AS cluster,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
               FROM e WHERE id < 8),
        ${sim("c0", "s1")}, ${assignCte("s1", "a1")}, ${updateCte("a1", "c1")},
        ${sim("c1", "s2")}, ${assignCte("s2", "a2")}, ${updateCte("a2", "c2")},
        ${sim("c2", "s3")},
        ranked AS (
          SELECT id, cluster,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cluster) AS rn
          FROM s3),
        assign AS (SELECT id AS member, cluster AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT id AS qid, cluster AS cid FROM ranked WHERE rn <= 2 AND id < 20),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> p.qid),
        norms AS (SELECT id AS vec_id,
                    list_sum(list_transform(embedding,
                      x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                  FROM e),
        cscore AS (
          SELECT cand.qid, cand.vid,
            list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE) * 1e9)))
              / sqrt(nq.n2 * nv.n2) AS cos
          FROM cand JOIN e q ON q.id = cand.qid JOIN e v ON v.id = cand.vid
          JOIN norms nq ON nq.vec_id = cand.qid JOIN norms nv ON nv.vec_id = cand.vid)
        SELECT qid, rank, vid, cos FROM (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
          FROM cscore)
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // ---- q66: k-means trained TO CONVERGENCE (capped) ----------------------
    // fitConverged stops at the exact fixed point (quantized means make
    // equality decidable); because Lloyd's update is idempotent at a fixed
    // point, the oracle replays it by unconditionally unrolling the SAME
    // maxIters=4 iterations — an early-stopped Spark model and the fully
    // unrolled SQL model coincide. Output: per surviving cluster, its
    // member count and the quantized-centroid checksum.
    QueryDef(
      "q66_kmeans_converged",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val ke = e.select(col("vec_id").as("id"), col("e"))
        val (cent, _) = graft.ml.KMeans.fitConverged(ke, 8, 4)
        val scored = ke.crossJoin(broadcast(cent))
          .withColumn("dot",
            expr("quant_dot(e, c, 1e9)"))
          .withColumn("cn2", expr("quant_dot(c, c, 1e9)"))
          .withColumn("sim", expr("dot / sqrt(cn2)"))
        val w = Window.partitionBy(col("id")).orderBy(desc("sim"), col("cluster"))
        val sizes = scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("cluster")).agg(count(lit(1)).cast("long").as("n"))
        cent
          .withColumn("csum",
            expr("CAST(aggregate(c, 0D, (a, x) -> a + round(x * 1e9)) AS BIGINT)"))
          .join(sizes, Seq("cluster"), "left")
          .select(col("cluster").cast("int").as("cluster"), col("n"), col("csum"))
          .orderBy(col("cluster"))
      },
      Some {
        def sim(cent: String, out: String) =
          s"""$out AS (
             |  SELECT e.id, c.cluster,
             |    list_sum(list_transform(range(1, len(e.embedding) + 1),
             |      i -> round(CAST(e.embedding[i] AS DOUBLE) * c.c[i] * 1e9))) /
             |    sqrt(list_sum(list_transform(c.c, x -> round(x * x * 1e9)))) AS sim
             |  FROM e CROSS JOIN $cent c)""".stripMargin
        def assignCte(scores: String, out: String) =
          s"""$out AS (
             |  SELECT id, cluster FROM (
             |    SELECT id, cluster,
             |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cluster) AS rn
             |    FROM $scores) WHERE rn = 1)""".stripMargin
        def updateCte(assignName: String, out: String) =
          s"""${out}_s AS (
             |  SELECT a.cluster, p.i,
             |    SUM(round(CAST(e.embedding[p.i] AS DOUBLE) * 1e9)) AS sm,
             |    COUNT(*) AS n
             |  FROM $assignName a JOIN e ON e.id = a.id CROSS JOIN pos p
             |  GROUP BY a.cluster, p.i),
             |$out AS (
             |  SELECT cluster, list((sm / n) / 1e9 ORDER BY i) AS c
             |  FROM ${out}_s GROUP BY cluster)""".stripMargin
        s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings),
        pos AS (SELECT CAST(i AS BIGINT) AS i FROM range(1, 65) t(i)),
        c0 AS (SELECT CAST(id AS INT) AS cluster,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
               FROM e WHERE id < 8),
        ${sim("c0", "s1")}, ${assignCte("s1", "a1")}, ${updateCte("a1", "c1")},
        ${sim("c1", "s2")}, ${assignCte("s2", "a2")}, ${updateCte("a2", "c2")},
        ${sim("c2", "s3")}, ${assignCte("s3", "a3")}, ${updateCte("a3", "c3")},
        ${sim("c3", "s4")}, ${assignCte("s4", "a4")}, ${updateCte("a4", "c4")},
        ${sim("c4", "s5")}, ${assignCte("s5", "a5")},
        sizes AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n FROM a5 GROUP BY cluster)
        SELECT CAST(c4.cluster AS INT) AS cluster, sizes.n,
               CAST(list_sum(list_transform(c4.c, x -> round(x * 1e9))) AS BIGINT) AS csum
        FROM c4 LEFT JOIN sizes ON sizes.cluster = c4.cluster
        ORDER BY c4.cluster"""
      }),

    // ---- q80: k-NN graph — every vector's nearest neighbor ----------------
    // The whole-corpus neighbor graph (dedup clustering, diversity
    // sampling, and graph-based ANN indexes like HNSW all start here).
    // Brute force is O(n²) and dead at scale; the SRP bucket turns it
    // into per-bucket blocks — the same equality-join blocking as q28,
    // but corpus × corpus instead of query × corpus. Each vector links
    // to its best same-bucket neighbor (cosine, id tiebreak): the
    // standard LSH approximation of the exact graph, recall tunable by
    // bucket bits/repetitions without changing the dataflow.
    QueryDef(
      "q80_knn_graph",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val q = e.select(col("vec_id").as("qid"), col("e").as("qe"), col("bucket"))
        val c = e.select(col("vec_id").as("vid"), col("e").as("ve"), col("bucket"))
        val pairs = q.join(c, "bucket").filter(col("qid") =!= col("vid"))
        val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vid"))
        cosine(pairs, n)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") === 1)
          .select(col("qid"), col("vid").as("nn"), col("cos"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH $duckNorms,
        e AS (SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings),
        dots AS (
          SELECT q.vec_id AS qid, c.vec_id AS vid,
            list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9))) AS dot
          FROM e q JOIN e c ON q.bucket = c.bucket
            WHERE q.vec_id <> c.vec_id),
        scored AS (
          SELECT qid, vid,
            dot / sqrt(nq.n2 * nv.n2) AS cos
          FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nv ON nv.vec_id = vid)
        SELECT qid, nn, cos FROM (
          SELECT qid, vid AS nn, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
          FROM scored)
        WHERE rank = 1 ORDER BY qid""")),

    // ---- q81: IVF-PQ — probe inverted lists, rank by ADC -------------------
    // The full FAISS-style index composed end to end: a coarse quantizer
    // routes every vector into an inverted list (q40's IVF), vectors are
    // stored as 8 PQ codes (q48), and a query scores ONLY its nprobe=2
    // probed lists via an asymmetric-distance lookup table (q49) — the
    // search touches neither raw corpus vectors nor unprobed lists. At
    // 100 TB: lists are the unit of distribution, codes are 64 bits/vector
    // (parquet-friendly), LUTs are (queries × 8 × 16) rows broadcast; the
    // only corpus-wide work is the narrow assign+encode pass, exactly the
    // build cost of the index.
    QueryDef(
      "q81_ivf_pq_search",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        // coarse quantizer: first 16 vectors, nearest-centroid assignment
        val cent = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("vid"), col("e").as("ve"))
        val all = e.select(col("vec_id").as("qid"), col("e").as("qe"))
        val ascored = cosine(all.crossJoin(broadcast(cent)), n)
        val wNear = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vid"))
        val assign = ascored
          .withColumn("rn", row_number().over(wNear)).filter(col("rn") === 1)
          .select(col("qid").as("member"), col("vid").as("cid"))
        val probe = ascored.filter(col("qid") < 10)
          .withColumn("rn", row_number().over(wNear)).filter(col("rn") <= 2)
          .select(col("qid"), col("vid").as("cid"))
        val cand = probe.join(assign, "cid")
          .filter(col("qid") =!= col("member"))
          .select(col("qid"), col("member").as("vid"))
          .distinct()
        // PQ codes + per-query LUTs (same codebooks as q48/q49)
        val subs = e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("j"), col("e"))
          .select(col("vec_id"), col("j"), expr("slice(e, j * 8 + 1, 8)").as("sv"))
        val codewords = subs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cw"), col("j"), col("sv").as("cv"))
        val distExpr =
          expr("quant_dist2(sv, cv, 1e9)")
        val wCode = Window.partitionBy(col("vec_id"), col("j")).orderBy(col("dist"), col("cw"))
        val codes = subs.join(broadcast(codewords), "j")
          .withColumn("dist", distExpr)
          .withColumn("rn", row_number().over(wCode)).filter(col("rn") === 1)
          .select(col("vec_id").as("vid"), col("j"), col("cw").as("code"))
        val lut = subs.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("j"), col("sv"))
          .join(broadcast(codewords), "j")
          .withColumn("d", distExpr)
          .select(col("qid"), col("j"), col("cw").as("code"), col("d"))
        // ADC restricted to the probed lists' members
        val wRank = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vid"))
        cand.join(codes, "vid")
          .join(lut, Seq("qid", "j", "code"))
          .groupBy(col("qid"), col("vid"))
          .agg(sum(col("d")).as("adist"))
          .withColumn("rank", row_number().over(wRank).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vid"), col("adist"))
          .orderBy(col("qid"), col("rank"))
      },
      Some {
        def fold(a: String, b: String): String =
          s"""list_sum(list_transform(range(1, len($a.embedding) + 1),
             |  i -> round(CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) * 1e9)))""".stripMargin
        s"""WITH $duckNorms,
        e AS (SELECT vec_id, embedding FROM embeddings),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            ${fold("a", "c")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM e a JOIN e c ON c.vec_id < 16
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN norms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT qid, vid AS cid FROM ranked WHERE rn <= 2 AND qid < 10),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> p.qid),
        subs AS (SELECT vec_id, j FROM e, range(0, 8) r(j)),
        dists AS (
          SELECT s.vec_id, s.j, c.vec_id AS cw,
            list_sum(list_transform(range(0, 8),
              i -> round((CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                          - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE))
                         * (CAST(a.embedding[s.j * 8 + i + 1] AS DOUBLE)
                            - CAST(c.embedding[s.j * 8 + i + 1] AS DOUBLE)) * 1e9))) AS dist
          FROM subs s JOIN e a ON a.vec_id = s.vec_id JOIN e c ON c.vec_id < 16),
        codes AS (
          SELECT vec_id AS vid, j, cw AS code FROM (
            SELECT vec_id, j, cw,
              ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT vec_id AS qid, j, cw AS code, dist AS d
                FROM dists WHERE vec_id < 10),
        adc AS (
          SELECT cand.qid, cand.vid, SUM(l.d) AS adist
          FROM cand JOIN codes c ON c.vid = cand.vid
          JOIN lut l ON l.qid = cand.qid AND l.j = c.j AND l.code = c.code
          GROUP BY cand.qid, cand.vid)
        SELECT qid, rank, vid, adist FROM (
          SELECT qid, vid, adist,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
          FROM adc)
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // ---- q91: ANN index evaluation — recall@3 of IVF vs exact -------------
    // The measurement every approximate index ships with: per query, how
    // many of the TRUE top-3 neighbors (brute force, the q27 ground
    // truth) the IVF probe path (q40) actually returned. Deterministic
    // quantized scoring on both sides makes recall an EXACT integer per
    // query — no tolerance bands. Scale shape: ground truth on a sampled
    // query set only (here 20 queries), never corpus × corpus; the
    // evaluation joins two top-k lists, trivial beside index build.
    QueryDef(
      "q91_ann_recall",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val queries = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("e").as("qe"))
        val corpus = e.select(col("vec_id").as("vid"), col("e").as("ve"))
        val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vid"))
        // exact ground truth: brute-force top-3 via the map-side-combining
        // TopK aggregate (q27's shape) — a per-qid window here would push
        // the whole (queries × corpus) pair stream through 20 reducers.
        // The aggregate's (score DESC, id ASC) tie-break matches the
        // window's ORDER BY exactly, so rows stay oracle-identical. The
        // remaining windows below run over bounded groups only: assign /
        // probe partition by qid with exactly 16 centroid rows per group,
        // and `approx` scores the nprobe-bounded candidate set.
        val topk = udaf(graft.functions.TopKAgg(3),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKIn]())
        val truth = cosine(broadcast(queries).crossJoin(corpus)
            .filter(col("qid") =!= col("vid")), n)
          .groupBy(col("qid"))
          .agg(topk(col("cos"), col("vid")).as("top"))
          .select(col("qid"), explode(col("top")).as("t"))
          .select(col("qid"), col("t.id").as("vid"))
        // IVF top-3 (the q40 dataflow: 16 fixed centroids, nprobe=2)
        val cent = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("vid"), col("e").as("ve"))
        val all = e.select(col("vec_id").as("qid"), col("e").as("qe"))
        val ascored = cosine(all.crossJoin(broadcast(cent)), n)
        val assign = ascored
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("qid").as("member"), col("vid").as("cid"))
        val probe = ascored.filter(col("qid") < 20)
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
          .select(col("qid"), col("vid").as("cid"))
        val cand = probe.join(assign, "cid")
          .filter(col("qid") =!= col("member"))
          .select(col("qid"), col("member").as("vid"))
          .distinct()
        val approx = cosine(
          cand.join(all, "qid")
            .join(e.select(col("vec_id").as("vid"), col("e").as("ve")), "vid"), n)
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select(col("qid"), col("vid"))
        // recall@3: exact integer hits per query (0 hits kept via left join)
        val hits = truth.join(approx.withColumn("hit", lit(1L)), Seq("qid", "vid"), "left")
          .groupBy(col("qid"))
          .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("hits"),
            count(lit(1)).cast("long").as("k"))
        hits.select(col("qid"), col("hits"), col("k")).orderBy(col("qid"))
      },
      Some {
        def fold(a: String, b: String): String =
          s"""list_sum(list_transform(range(1, len($a.embedding) + 1),
             |  i -> round(CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) * 1e9)))""".stripMargin
        s"""WITH $duckNorms,
        e AS (SELECT vec_id, embedding FROM embeddings),
        tdots AS (
          SELECT q.vec_id AS qid, c.vec_id AS vid,
            ${fold("q", "c")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
          JOIN norms nq ON nq.vec_id = q.vec_id JOIN norms nv ON nv.vec_id = c.vec_id),
        truth AS (
          SELECT qid, vid FROM (
            SELECT qid, vid,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
            FROM tdots) WHERE rn <= 3),
        ascore AS (
          SELECT a.vec_id AS qid, c.vec_id AS vid,
            ${fold("a", "c")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM e a JOIN e c ON c.vec_id < 16
          JOIN norms nq ON nq.vec_id = a.vec_id JOIN norms nv ON nv.vec_id = c.vec_id),
        ranked AS (
          SELECT qid, vid, cos,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
          FROM ascore),
        assign AS (SELECT qid AS member, vid AS cid FROM ranked WHERE rn = 1),
        probe AS (SELECT qid, vid AS cid FROM ranked WHERE rn <= 2 AND qid < 20),
        cand AS (
          SELECT DISTINCT p.qid, a.member AS vid
          FROM probe p JOIN assign a ON a.cid = p.cid WHERE a.member <> p.qid),
        cscore AS (
          SELECT cand.qid, cand.vid,
            ${fold("q", "v")} / sqrt(nq.n2 * nv.n2) AS cos
          FROM cand JOIN e q ON q.vec_id = cand.qid JOIN e v ON v.vec_id = cand.vid
          JOIN norms nq ON nq.vec_id = cand.qid JOIN norms nv ON nv.vec_id = cand.vid),
        approx AS (
          SELECT qid, vid FROM (
            SELECT qid, vid,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rn
            FROM cscore) WHERE rn <= 3)
        SELECT t.qid,
          CAST(SUM(CASE WHEN a.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
          CAST(COUNT(*) AS BIGINT) AS k
        FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.vid = t.vid
        GROUP BY t.qid ORDER BY t.qid"""
      }),

    // ---- q94: SemDeDup — semantic dedup via cluster-then-prune ------------
    // The SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): k-means
    // the embedding space, then look for near-duplicate pairs ONLY within
    // each cluster and keep the lowest-id member of every duplicate pair.
    // Differs from q29's LSH blocking in that the blocking structure is
    // LEARNED (the same trained quantizer as q56), which is what makes it
    // robust to paraphrase-level duplication at corpus scale. Scale shape:
    // train = 2 broadcast+shuffle Lloyd rounds; prune = per-cluster
    // self-join (clusters bound the pair space, corpus never crossed);
    // one final per-cluster aggregate.
    QueryDef(
      "q94_semdedup",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val ke = e.select(col("vec_id").as("id"), col("e"))
        // k ∝ corpus size (n / target-cluster-size, clamped): the expected
        // cluster stays bounded, so the within-cluster pair space grows
        // linearly with the corpus instead of quadratically (fixed-k trap)
        val k = graft.ml.KMeans.sizeK(ke.count())
        val cent = graft.ml.KMeans.fit(ke, k, 2)
        val scored = ke.crossJoin(broadcast(cent))
          .withColumn("dot",
            expr("quant_dot(e, c, 1e9)"))
          .withColumn("cn2", expr("quant_dot(c, c, 1e9)"))
          .withColumn("sim", expr("dot / sqrt(cn2)"))
        val w = Window.partitionBy(col("id")).orderBy(desc("sim"), col("cluster"))
        // assignment is consumed THREE times below (both pair sides + the
        // members rollup); checkpoint it so the corpus × centroids scoring
        // pass runs once, not three times — parquet-backed, cluster-safe
        val assign = graft.functions.IterCheckpoint.round(
          scored.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).select(col("id"), col("cluster")),
          graft.functions.IterCheckpoint.newRun(s), "semdedup-assign")
        val a = assign.select(col("id").as("qid"), col("cluster"))
          .join(e.select(col("vec_id").as("qid"), col("e").as("qe")), "qid")
        val b = assign.select(col("id").as("vid"), col("cluster"))
          .join(e.select(col("vec_id").as("vid"), col("e").as("ve")), "vid")
        val pairs = a.join(b, "cluster").filter(col("qid") < col("vid"))
        val dropped = cosine(pairs, n).filter(col("cos") > 0.3)
          .select(col("cluster"), col("vid")).distinct()
        assign.groupBy(col("cluster"))
          .agg(count(lit(1)).cast("long").as("members"))
          .join(dropped.groupBy(col("cluster"))
              .agg(count(lit(1)).cast("long").as("n_dropped"),
                sum(col("vid")).cast("long").as("dropped_id_sum")),
            Seq("cluster"), "left")
          .select(col("cluster").cast("int").as("cluster"), col("members"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
            coalesce(col("dropped_id_sum"), lit(0L)).as("dropped_id_sum"))
          .orderBy(col("cluster"))
      },
      Some {
        // the same two unrolled Lloyd iterations as the q56 oracle
        def sim(cent: String, out: String) =
          s"""$out AS (
             |  SELECT e.id, c.cluster,
             |    list_sum(list_transform(range(1, len(e.embedding) + 1),
             |      i -> round(CAST(e.embedding[i] AS DOUBLE) * c.c[i] * 1e9))) /
             |    sqrt(list_sum(list_transform(c.c, x -> round(x * x * 1e9)))) AS sim
             |  FROM e CROSS JOIN $cent c)""".stripMargin
        def assignCte(scores: String, out: String) =
          s"""$out AS (
             |  SELECT id, cluster FROM (
             |    SELECT id, cluster,
             |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cluster) AS rn
             |    FROM $scores) WHERE rn = 1)""".stripMargin
        def updateCte(assignName: String, out: String) =
          s"""${out}_s AS (
             |  SELECT a.cluster, p.i,
             |    SUM(round(CAST(e.embedding[p.i] AS DOUBLE) * 1e9)) AS sm,
             |    COUNT(*) AS n
             |  FROM $assignName a JOIN e ON e.id = a.id CROSS JOIN pos p
             |  GROUP BY a.cluster, p.i),
             |$out AS (
             |  SELECT cluster, list((sm / n) / 1e9 ORDER BY i) AS c
             |  FROM ${out}_s GROUP BY cluster)""".stripMargin
        s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings),
        pos AS (SELECT CAST(i AS BIGINT) AS i FROM range(1, 65) t(i)),
        c0 AS (SELECT CAST(id AS INT) AS cluster,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
               FROM e WHERE id <
                 (SELECT LEAST(4096, GREATEST(2, CEIL(COUNT(*) / 64.0))) FROM e)),
        ${sim("c0", "s1")}, ${assignCte("s1", "a1")}, ${updateCte("a1", "c1")},
        ${sim("c1", "s2")}, ${assignCte("s2", "a2")}, ${updateCte("a2", "c2")},
        ${sim("c2", "s3")}, ${assignCte("s3", "assign")},
        norms AS (SELECT id AS vec_id,
                    list_sum(list_transform(embedding,
                      x -> round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9))) AS n2
                  FROM e),
        pairs AS (
          SELECT qa.cluster, qa.id AS qid, va.id AS vid,
            list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE) * 1e9)))
              / sqrt(nq.n2 * nv.n2) AS cos
          FROM assign qa JOIN assign va ON qa.cluster = va.cluster AND qa.id < va.id
          JOIN e q ON q.id = qa.id JOIN e v ON v.id = va.id
          JOIN norms nq ON nq.vec_id = qa.id JOIN norms nv ON nv.vec_id = va.id),
        dropped AS (
          SELECT DISTINCT cluster, vid FROM pairs WHERE cos > 0.3)
        SELECT CAST(a.cluster AS INT) AS cluster,
               CAST(COUNT(*) AS BIGINT) AS members,
               CAST(COALESCE(MAX(d.n_dropped), 0) AS BIGINT) AS n_dropped,
               CAST(COALESCE(MAX(d.dropped_id_sum), 0) AS BIGINT) AS dropped_id_sum
        FROM assign a LEFT JOIN (
          SELECT cluster, COUNT(*) AS n_dropped, SUM(vid) AS dropped_id_sum
          FROM dropped GROUP BY cluster) d ON d.cluster = a.cluster
        GROUP BY a.cluster ORDER BY cluster"""
      }),

    // ---- q109: TRAINED PQ codebooks — per-subspace k-means + ADC ----------
    // q48/q49's deterministic codebooks replaced by per-subspace Lloyd
    // training (two quantized-mean updates, all 8 subspaces trained in ONE
    // dataflow keyed by (subspace, codeword) — not 8 separate jobs), then
    // the same ADC search over codes from the TRAINED books. This
    // completes the trained IVF-PQ composition (q56 trained coarse +
    // trained PQ + q81 ADC). Scale shape: codebooks are 8×16×8 doubles
    // (broadcast); each Lloyd round is one narrow assign pass + one
    // map-side-combining aggregate; encoding is one narrow pass. The
    // oracle replays the training with the same 1e9-quantized arithmetic,
    // so codes and ADC distances hash-match exactly.
    QueryDef(
      "q109_trained_pq",
      (s, dir) => {
        import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
        val t = Tables(s, dir)
        val e = emb(t)
        val subs = e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("j"), col("e"))
          .select(col("vec_id"), col("j"), expr("slice(e, j * 8 + 1, 8)").as("sv"))
        val distExpr = expr(
          "quant_dist2(sv, cv, 1e9)")
        val centroidD =
          udaf(graft.functions.CentroidAggD, ExpressionEncoder[Seq[Double]]())
        // nearest codeword per (vector, subspace) against a broadcast book
        def assign(cb: DataFrame): DataFrame = {
          val w = Window.partitionBy(col("vec_id"), col("j"))
            .orderBy(col("dist"), col("cw"))
          subs.join(broadcast(cb), "j")
            .withColumn("dist", distExpr)
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        }
        // quantized per-element means per (subspace, codeword) — one hash
        // aggregate with map-side combine, same arithmetic as ml.KMeans
        def update(assigned: DataFrame): DataFrame =
          assigned.groupBy(col("j"), col("cw")).agg(centroidD(col("sv")).as("cv"))
        // materialize the codebook between Lloyd rounds: it is MODEL data
        // (8 subspaces × 16 codewords = 128 rows — the justified
        // model-only collect, same as ml.KMeans), and without this each
        // downstream consumer re-executes the whole training lineage
        // (assign scans the corpus; cb2 is consumed twice below)
        def mat(df: DataFrame): DataFrame = {
          val rows = java.util.Arrays.asList(df.collect(): _*)
          s.createDataFrame(rows, df.schema)
        }
        val cb0 = subs.filter(col("vec_id") < 16)
          .select(col("j"), col("vec_id").as("cw"), col("sv").as("cv"))
        val cb2 = mat(update(assign(mat(update(assign(cb0))))))
        val codes = assign(cb2)
          .select(col("vec_id").as("vid"), col("j"), col("cw").as("code"))
        val lut = subs.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("j"), col("sv"))
          .join(broadcast(cb2), "j")
          .withColumn("d", distExpr)
          .select(col("qid"), col("j"), col("cw").as("code"), col("d"))
        val wRank = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vid"))
        codes.join(lut, Seq("j", "code"))
          .filter(col("qid") =!= col("vid"))
          .groupBy(col("qid"), col("vid"))
          .agg(sum(col("d")).as("adist"))
          .withColumn("rank", row_number().over(wRank).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("vid"), col("adist"))
          .orderBy(col("qid"), col("rank"))
      },
      Some {
        // one Lloyd round: distances to the current book, argmin
        // assignment, quantized per-element means keyed by (j, cw)
        def distCte(cb: String, out: String) =
          s"""$out AS MATERIALIZED (
             |  SELECT a.vec_id, c.j, c.cw,
             |    list_sum(list_transform(range(0, 8),
             |      i -> round((CAST(a.embedding[c.j * 8 + i + 1] AS DOUBLE) - c.cv[i + 1])
             |                 * (CAST(a.embedding[c.j * 8 + i + 1] AS DOUBLE) - c.cv[i + 1])
             |                 * 1e9))) AS dist
             |  FROM e a CROSS JOIN $cb c)""".stripMargin
        def argminCte(dists: String, out: String) =
          s"""$out AS MATERIALIZED (
             |  SELECT vec_id, j, cw FROM (
             |    SELECT vec_id, j, cw,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, cw) AS rn
             |    FROM $dists) WHERE rn = 1)""".stripMargin
        def updateCte(assigned: String, out: String) =
          s"""${out}_s AS (
             |  SELECT a.j, a.cw, p.i,
             |    SUM(round(CAST(e.embedding[a.j * 8 + p.i + 1] AS DOUBLE) * 1e9)) AS sm,
             |    COUNT(*) AS n
             |  FROM $assigned a JOIN e ON e.vec_id = a.vec_id CROSS JOIN pos p
             |  GROUP BY a.j, a.cw, p.i),
             |$out AS MATERIALIZED (
             |  SELECT j, cw, list((sm / n) / 1e9 ORDER BY i) AS cv
             |  FROM ${out}_s GROUP BY j, cw)""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        js AS (SELECT CAST(j AS BIGINT) AS j FROM range(0, 8) t(j)),
        pos AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 8) t(i)),
        cb0 AS MATERIALIZED (
          SELECT js.j, e.vec_id AS cw,
            list_transform(range(0, 8),
              i -> CAST(e.embedding[js.j * 8 + i + 1] AS DOUBLE)) AS cv
          FROM e CROSS JOIN js WHERE e.vec_id < 16),
        ${distCte("cb0", "d1")}, ${argminCte("d1", "a1")}, ${updateCte("a1", "cb1")},
        ${distCte("cb1", "d2")}, ${argminCte("d2", "a2")}, ${updateCte("a2", "cb2")},
        ${distCte("cb2", "d3")}, ${argminCte("d3", "enc")},
        codes AS (SELECT vec_id AS vid, j, cw AS code FROM enc),
        lut AS (SELECT vec_id AS qid, j, cw AS code, dist AS d
                FROM d3 WHERE vec_id < 10)
        SELECT qid, rank, vid, adist FROM (
          SELECT qid, vid, adist,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
          FROM (
            SELECT l.qid, c.vid, SUM(l.d) AS adist
            FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
            WHERE l.qid <> c.vid GROUP BY l.qid, c.vid))
        WHERE rank <= 3 ORDER BY qid, rank"""
      }),

    // ---- q114: int8 scalar quantization + recall@3 ------------------------
    // The 4×-compression serving format: per-vector symmetric int8
    // (scale = 127 / max|x|, round, clamp-free since the max maps to
    // ±127), top-3 by INTEGER-EXACT quantized cosine, scored against the
    // full-precision top-3 — recall@3 per query. At 100 TB the int8 side
    // is what lives in memory; this gate measures what the compression
    // costs. All-integer dots/norms → bit-identical across engines.
    QueryDef(
      "q114_int8_recall",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val q8 = e
          .withColumn("m", expr("aggregate(e, 0D, (a, y) -> greatest(a, abs(y)))"))
          .withColumn("v8", expr(
            "transform(e, x -> cast(round(x * case when m = 0 then 0D else 127.0 / m end) as bigint))"))
          .select(col("vec_id"), col("v8"))
        // top-3 per query via the map-side-combining TopK aggregate (same
        // shape as q27/q135): a per-qid window here would funnel a
        // corpus-sized pair stream through 20 reducers on BOTH the exact
        // and quantized sides; the aggregate shuffles only
        // O(partitions × queries × 3) buffered rows. Tie-break is
        // identical ((score DESC, vid ASC)) so rows stay oracle-exact.
        val topk = udaf(graft.functions.TopKAgg(3),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKIn]())
        def top3(scored: DataFrame, score: String): DataFrame =
          scored.groupBy(col("qid"))
            .agg(topk(col(score), col("vid")).as("top"))
            .select(col("qid"), explode(col("top")).as("t"))
            .select(col("qid"), col("t.id").as("vid"))
        val qs = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("e").as("qe"))
        val exact = top3(
          cosine(broadcast(qs).crossJoin(
            e.select(col("vec_id").as("vid"), col("e").as("ve")))
            .filter(col("qid") =!= col("vid")), n), "cos")
        val n8 = q8.select(col("vec_id"),
          expr("int_dot(v8, v8)").as("n8"))
        val quant = top3(
          broadcast(q8.filter(col("vec_id") < 20)
              .select(col("vec_id").as("qid"), col("v8").as("q8")))
            .crossJoin(q8.select(col("vec_id").as("vid"), col("v8").as("c8")))
            .filter(col("qid") =!= col("vid"))
            .withColumn("dot",
              expr("int_dot(q8, c8)"))
            .join(n8.select(col("vec_id").as("qid"), col("n8").as("qn")), "qid")
            .join(n8.select(col("vec_id").as("vid"), col("n8").as("vn")), "vid")
            .withColumn("qcos", expr("dot / sqrt(cast(qn as double) * cast(vn as double))")),
          "qcos")
        exact.as("x").join(quant.as("g"),
            col("x.qid") === col("g.qid") && col("x.vid") === col("g.vid"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
          .select(col("qid"), col("hits"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH $duckNorms,
        q8 AS (
          SELECT vec_id,
            list_transform(embedding, x ->
              CAST(round(CAST(x AS DOUBLE) * (CASE WHEN m = 0 THEN 0 ELSE 127.0 / m END)) AS BIGINT)) AS v8
          FROM (SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
                FROM embeddings)),
        exact AS (
          SELECT qid, vid FROM (
            SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
            FROM (
              SELECT q.vec_id AS qid, c.vec_id AS vid,
                list_sum(list_transform(range(1, len(q.embedding) + 1),
                  i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9)))
                  / sqrt(nq.n2 * nv.n2) AS cos
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              JOIN norms nq ON nq.vec_id = q.vec_id
              JOIN norms nv ON nv.vec_id = c.vec_id
              WHERE q.vec_id < 20))
          WHERE rank <= 3),
        n8 AS (SELECT vec_id, list_sum(list_transform(v8, x -> x * x)) AS n8 FROM q8),
        quant AS (
          SELECT qid, vid FROM (
            SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qcos DESC, vid) AS rank
            FROM (
              SELECT q.vec_id AS qid, c.vec_id AS vid,
                list_sum(list_transform(range(1, len(q.v8) + 1),
                  i -> q.v8[i] * c.v8[i]))
                  / sqrt(CAST(nq.n8 AS DOUBLE) * CAST(nv.n8 AS DOUBLE)) AS qcos
              FROM q8 q JOIN q8 c ON q.vec_id <> c.vec_id
              JOIN n8 nq ON nq.vec_id = q.vec_id
              JOIN n8 nv ON nv.vec_id = c.vec_id
              WHERE q.vec_id < 20))
          WHERE rank <= 3)
        SELECT x.qid, CAST(COUNT(*) AS BIGINT) AS hits
        FROM exact x JOIN quant g ON g.qid = x.qid AND g.vid = x.vid
        GROUP BY x.qid ORDER BY x.qid""")),

    // ---- q135: kNN-classifier label evaluation ---------------------------
    // The standard embedding-quality probe: predict each query vector's
    // label by MAJORITY VOTE of its 5 nearest neighbors (exact quantized
    // cosine, ties → more votes then smaller label) and score against the
    // true label. Same broadcast-queries × corpus shape as q27 — the
    // corpus is never self-joined or shuffled; voting is a per-query
    // aggregate over 5 rows. This is the evaluation loop that tunes k and
    // the metric before committing to an index build at 100 TB.
    QueryDef(
      "q135_knn_label_eval",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val labels = t.embeddings.select(col("vec_id"), col("label"))
        val q = e.filter(col("vec_id") < 40)
          .select(col("vec_id").as("qid"), col("e").as("qe"))
        val c = e.select(col("vec_id").as("vid"), col("e").as("ve"))
        val pairs = broadcast(q).crossJoin(c).filter(col("qid") =!= col("vid"))
        // top-5 per query via the TopK aggregate (see q27): map-side
        // combining keeps every reducer's input at #queries × 5 rows; the
        // remaining windows below run over ≤ 5 vote rows per query
        val topk = udaf(graft.functions.TopKAgg(5),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.TopKIn]())
        val top = cosine(pairs, n)
          .groupBy(col("qid"))
          .agg(topk(col("cos"), col("vid")).as("top"))
          .select(col("qid"), explode(col("top.id")).as("vid"))
        val votes = top
          .join(labels.withColumnRenamed("vec_id", "vid"), "vid")
          .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("votes"))
        val wv = Window.partitionBy(col("qid")).orderBy(desc("votes"), col("label"))
        votes.withColumn("r", row_number().over(wv)).filter(col("r") === 1)
          .select(col("qid"), col("label").cast("long").as("pred"))
          .join(labels.select(col("vec_id").as("qid"),
            col("label").cast("long").as("truth")), "qid")
          .withColumn("correct", (col("pred") === col("truth")).cast("long"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH $duckNorms,
        top AS (
          SELECT qid, vid FROM (
            SELECT qid, vid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
            FROM (
              SELECT q.vec_id AS qid, c.vec_id AS vid,
                list_sum(list_transform(range(1, len(q.embedding) + 1),
                  i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9)))
                  / sqrt(nq.n2 * nv.n2) AS cos
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              JOIN norms nq ON nq.vec_id = q.vec_id
              JOIN norms nv ON nv.vec_id = c.vec_id
              WHERE q.vec_id < 40))
          WHERE rank <= 5),
        votes AS (
          SELECT t.qid, e.label, COUNT(*) AS votes
          FROM top t JOIN embeddings e ON e.vec_id = t.vid
          GROUP BY t.qid, e.label),
        pred AS (
          SELECT qid, CAST(label AS BIGINT) AS pred FROM (
            SELECT qid, label,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS r
            FROM votes)
          WHERE r = 1)
        SELECT p.qid, p.pred, CAST(e.label AS BIGINT) AS truth,
               CAST(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
        FROM pred p JOIN embeddings e ON e.vec_id = p.qid
        ORDER BY p.qid""")),

    // ---- q141: PageRank over the kNN similarity graph --------------------
    // Graph centrality on the near-duplicate graph: vectors that many
    // others point to as a nearest neighbor are the CANONICAL/hub
    // documents of their semantic cluster — the natural "which copy do I
    // keep" signal, and the representative-picking step of cluster-based
    // data curation. Edges are each vector's top-3 bucket-local
    // neighbors (bounded out-degree 3 — the edge set is O(n), never
    // corpus²); two damped power-iteration rounds in EXACT integer
    // arithmetic (rank scaled 1e6, contributions integer-divided, the
    // recurrence r' = 150000 + 850·Σ(r/deg) div 1000) so both engines
    // agree bit-for-bit. Each round is one join + one aggregate; a
    // convergence loop at scale would add the parquet checkpointing the
    // q92/q111 component queries already demonstrate.
    QueryDef(
      "q141_pagerank_knn",
      (s, dir) => {
        val t = Tables(s, dir)
        val e = emb(t)
        val n = norms(e)
        val q = e.select(col("vec_id").as("qid"), col("e").as("qe"), col("bucket"))
        val c = e.select(col("vec_id").as("vid"), col("e").as("ve"), col("bucket"))
        val pairs = q.join(c, "bucket").filter(col("qid") =!= col("vid"))
        val w = Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vid"))
        val edges = cosine(pairs, n)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("qid").as("src"), col("vid").as("dst"))
        val nodes = e.select(col("vec_id").as("id"))
        val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        def step(r: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
          val contrib = edges
            .join(r.withColumnRenamed("id", "src"), "src")
            .join(outdeg, "src")
            .select(col("dst"), expr("pr div deg").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("inm"))
          nodes.join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
            .select(col("id"),
              expr("150000L + (850 * coalesce(inm, 0L)) div 1000").as("pr"))
        }
        val r0 = nodes.withColumn("pr", lit(1000000L))
        step(step(r0))
          .orderBy(desc("pr"), col("id"))
          .limit(20)
          .select(col("id"), col("pr"))
      },
      Some(s"""WITH $duckNorms,
        e AS (SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS vid,
            list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) * 1e9)))
              / sqrt(nq.n2 * nv.n2) AS cos
          FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          JOIN norms nq ON nq.vec_id = q.vec_id
          JOIN norms nv ON nv.vec_id = c.vec_id),
        edges AS (
          SELECT qid AS src, vid AS dst FROM (
            SELECT qid, vid,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rank
            FROM scored)
          WHERE rank <= 3),
        deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT vec_id AS id, CAST(1000000 AS BIGINT) AS pr FROM embeddings),
        s1 AS (SELECT d.dst, SUM(r.pr // g.deg) AS inm
               FROM edges d JOIN r0 r ON r.id = d.src JOIN deg g ON g.src = d.src
               GROUP BY d.dst),
        r1 AS (SELECT n.id, CAST(150000 + (850 * COALESCE(s1.inm, 0)) // 1000 AS BIGINT) AS pr
               FROM r0 n LEFT JOIN s1 ON s1.dst = n.id),
        s2 AS (SELECT d.dst, SUM(r.pr // g.deg) AS inm
               FROM edges d JOIN r1 r ON r.id = d.src JOIN deg g ON g.src = d.src
               GROUP BY d.dst),
        r2 AS (SELECT n.id, CAST(150000 + (850 * COALESCE(s2.inm, 0)) // 1000 AS BIGINT) AS pr
               FROM r1 n LEFT JOIN s2 ON s2.dst = n.id)
        SELECT id, pr FROM r2 ORDER BY pr DESC, id LIMIT 20"""))
  )
}
