package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents`: n-gram Jaccard via a shingle
  * self-join, MinHash+LSH banding, and SimHash fingerprints.
  *
  * Scale design: none of these ever materialize the O(n²) pair space.
  *  - Jaccard: explode word-3-gram shingles, self-join on the shingle,
  *    count common shingles per pair — cost is Σ df(shingle)², bounded by
  *    a document-frequency cap on shingles (ultra-frequent shingles carry
  *    no dedup signal and would otherwise create join skew at 100 TB).
  *  - MinHash: 16 hash functions (min over md5(seed‖shingle)), banded 4×4;
  *    candidate pairs come from an equality join on (band, signature) —
  *    near-linear, the standard web-scale dedup shape.
  *  - SimHash: 32-bit signature from per-token hashes; per-doc only
  *    (pairing would group by rotated bit-bands at scale).
  */
object Dedup {

  /** Distinct word-3-gram shingles per doc: (doc_id, shingle).
    * Deduplication is PER DOCUMENT, so it happens row-locally with
    * `array_distinct` BEFORE the explode — a `.distinct()` after it
    * would shuffle the full exploded corpus for the same result (~2×
    * on this query family at sf0.1; a full extra pass at 100 TB). */
  private def shingles(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), split(col("text"), " ").as("sp"))
      .filter(size(col("sp")) >= 3)
      .select(col("doc_id"),
        explode(expr("array_distinct(transform(sequence(0, size(sp) - 3), " +
          "i -> concat_ws(' ', sp[i], sp[i+1], sp[i+2])))"))
          .as("shingle"))

  /** Shared SQL for the oracle's shingle CTEs (DuckDB dialect). */
  private val shingleSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents WHERE len(string_split(text, ' ')) >= 3),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(len(sp) - 2),
                 i -> sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3])) AS shingle
             FROM t)"""

  /** Document-frequency cap: shingles appearing in more docs than this are
    * dropped before the pair join (skew guard; no shingle reaches it at
    * test scale, so results are unchanged — it exists for the 100 TB path). */
  private val DfCap = 10000

  /** The df cap as a WINDOW over the shingle partition rather than an
    * aggregate + join-back: one shuffle on the shingle axis, whose
    * exchange the pair self-join downstream reuses on both sides (the
    * aggregate+join shape cost an extra shuffle and a corpus-sized hash
    * join for the same rows). */
  private def cappedShingles(sh: DataFrame): DataFrame = sh
    .withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
    .filter(col("df") <= DfCap).drop("df")

  /** MinHash universal-hash family h_i(x) = (a_i·x + b_i) mod p with a
    * 60-bit x from md5 — coefficients fixed so Spark and the oracle agree;
    * a_i·x stays under 2^63 (no BIGINT overflow on either engine). */
  private val MinHashP = 1000000007L
  private def hashA(i: Int): Long = 1000003L + 7919L * i
  private def hashB(i: Int): Long = 7L + 104729L * i

  /** Per-doc LSH bands: (doc_id, band, sig) — 16 MinHash signature hashes
    * from one md5 per shingle, stacked into 4 bands × 4 rows. Shared by
    * the pair join ([[minhashPairs]]) and the cross-set decontamination
    * join (q138). */
  private def minhashBands(t: Tables): DataFrame = {
    val withX = shingles(t).withColumn("x",
      expr(s"${QueryDef.md5Long60("shingle")} % $MinHashP"))
    val minCols = (0 to 15).map(i =>
      min(expr(s"(${hashA(i)}L * x + ${hashB(i)}L) % $MinHashP")).as(s"h$i"))
    val sig = withX.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 to 3).flatMap { b =>
      Seq(s"$b", s"concat_ws(',', h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3})")
    }
    sig.select(col("doc_id"),
      expr(s"stack(4, ${bandCols.mkString(", ")})").as(Seq("band", "sig")))
  }

  /** MinHash+LSH candidate pairs (d1 < d2) via the band-equality join.
    * Shared by q25 (pair listing) and q60 (cluster assignment). */
  private def minhashPairs(t: Tables): DataFrame = {
    val bands = minhashBands(t)
    bands.select(col("doc_id").as("d1"), col("band"), col("sig"))
      .join(bands.select(col("doc_id").as("d2"), col("band"), col("sig")), Seq("band", "sig"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** DuckDB CTE chain ending in `pairs(d1, d2)` — the oracle mirror of
    * [[minhashPairs]]. */
  private val minhashPairsSql: String = {
    // 60-bit integer from the first 15 hex chars of md5(shingle)
    val hex15 = QueryDef.duckMd5Long60("m")
    val minCols = (0 to 15)
      .map(i => s"MIN((${hashA(i)} * x + ${hashB(i)}) % $MinHashP) AS h$i")
      .mkString(", ")
    val bandSelects = (0 to 3).map { b =>
      s"SELECT doc_id, $b AS band, concat_ws(',', h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3}) AS sig FROM mh"
    }.mkString(" UNION ALL ")
    s"""$shingleSql,
        hx AS (SELECT doc_id, ($hex15) % $MinHashP AS x
               FROM (SELECT doc_id, md5(shingle) AS m FROM sh)),
        mh AS (SELECT doc_id, $minCols FROM hx GROUP BY doc_id),
        bands AS ($bandSelects),
        pairs AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
          WHERE a.doc_id < b.doc_id)"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q24: n-gram Jaccard near-dup pairs (threshold 0.6) --------------
    QueryDef(
      "q24_ngram_jaccard",
      (s, dir) => {
        val t = Tables(s, dir)
        val sh = shingles(t)
        val shk = cappedShingles(sh)
        val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val pairs = shk.select(col("doc_id").as("d1"), col("shingle"))
          .join(shk.select(col("doc_id").as("d2"), col("shingle")), "shingle")
          .filter(col("d1") < col("d2"))
          .groupBy(col("d1"), col("d2"))
          .agg(count(lit(1)).as("common"))
        pairs
          .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
          .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
          .withColumn("jaccard", expr("common / (n1 + n2 - common)"))
          .filter(col("jaccard") >= 0.6)
          .select(col("d1"), col("d2"), col("common"), col("jaccard"))
          .orderBy(col("d1"), col("d2"))
      },
      Some(s"""WITH $shingleSql,
        kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= $DfCap),
        shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
                  FROM shk a JOIN shk b USING (shingle)
                  WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
        SELECT d1, d2, common, common / (n1 + n2 - common) AS jaccard
        FROM (SELECT d1, d2, common, ca.n AS n1, cb.n AS n2
              FROM pairs JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2)
        WHERE common / (n1 + n2 - common) >= 0.6
        ORDER BY d1, d2""")),

    // ---- q25: MinHash + LSH banding candidate pairs ----------------------
    // One md5 per shingle → 16 affine universal-hash variants
    // h_i = (a_i·x + b_i) mod p over primitive longs, min-aggregated in a
    // single pass (map-side partial min, one shuffle on doc_id). Earlier
    // variants benched far worse: seed-explode multiplied the shuffle 16×
    // (19 s), and 16 inlined md5 aggregates produced a generated method so
    // large that cold-JVM codegen alone took >70 s.
    QueryDef(
      "q25_minhash_lsh",
      (s, dir) => minhashPairs(Tables(s, dir)).orderBy(col("d1"), col("d2")),
      Some(s"""WITH $minhashPairsSql
        SELECT d1, d2 FROM pairs ORDER BY d1, d2""")),

    // ---- q51: exact-substring duplicate pairs (shared 50-char span) ------
    // Every 50-char window is hashed, then content-defined sampling keeps
    // only hashes starting with hex '0' (1/16): selection depends on the
    // window's CONTENT, not its position, so two documents sharing a long
    // span still select the same windows (P ≈ 1-(15/16)^(L-49) — ~1 for
    // spans over ~150 chars) while the distinct+join input shrinks 16×.
    // Hashing is the native `window_md5` kernel (one compiled call per
    // document; the interpreted transform/md5 lambda it replaces was most
    // of q51's time at sf0.1), spread over shuffle-partitions tasks
    // by a round-robin repartition: the corpus is one small parquet row
    // group, so without it the whole hashing stage is one task.
    // Window join is df-capped like the shingle join (boilerplate spans
    // would otherwise create skew at corpus scale).
    QueryDef(
      "q51_substring_dups",
      (s, dir) => {
        graft.functions.NativeFunctions.register(s)
        val t = Tables(s, dir)
        // sample (1/16 of windows, content-defined) and dedup ROW-LOCALLY
        // inside the kernel: the rows that emerge are already distinct
        // (doc_id, h) pairs, no corpus-wide post-explode DISTINCT shuffle
        val win = t.documents
          .filter(length(col("text")) >= 50)
          .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
          .select(col("doc_id"), explode(expr("window_md5(text, 50, '0')")).as("h"))
        // df cap as a window over the window-hash partition (not an
        // aggregate joined back): the pair self-join below reuses the same
        // exchange on both sides
        val wk = win.withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
          .filter(col("df") <= DfCap).drop("df")
        wk.select(col("doc_id").as("d1"), col("h"))
          .join(wk.select(col("doc_id").as("d2"), col("h")), "h")
          .filter(col("d1") < col("d2"))
          .groupBy(col("d1"), col("d2"))
          .agg(count(lit(1)).as("shared_windows"))
          .orderBy(col("d1"), col("d2"))
      },
      Some(s"""WITH win AS (
          SELECT DISTINCT doc_id, h FROM (
            SELECT doc_id,
              unnest(list_transform(range(1, length(text) - 48),
                i -> md5(substr(text, CAST(i AS INT), 50)))) AS h
            FROM documents WHERE length(text) >= 50)
          WHERE h LIKE '0%'),
        kept AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) <= $DfCap),
        wk AS (SELECT win.doc_id, win.h FROM win JOIN kept USING (h))
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared_windows
        FROM wk a JOIN wk b USING (h)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id ORDER BY d1, d2""")),

    // ---- q26: SimHash 32-bit signatures ----------------------------------
    QueryDef(
      "q26_simhash",
      (s, dir) => {
        val t = Tables(s, dir)
        val h = t.documents
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .withColumn("hv",
            expr("cast(conv(substring(md5(cast(tok as binary)), 1, 8), 16, 10) as bigint)"))
        h.select(col("doc_id"), col("hv"), explode(expr("sequence(0, 31)")).as("bit"))
          .groupBy(col("doc_id"), col("bit"))
          .agg(sum(when(expr("(shiftright(hv, bit) & 1) = 1"), 1L).otherwise(-1L)).as("s"))
          .groupBy(col("doc_id"))
          .agg(sum(when(col("s") > 0, expr("shiftleft(cast(1 as bigint), bit)")).otherwise(0L))
            .as("simhash"))
          .orderBy(col("doc_id"))
      },
      Some {
        // 32-bit value of the first 8 hex chars of md5(tok), via per-char
        // arithmetic (DuckDB has no base-conversion function).
        val hex8 = (1 to 8)
          .map(j => s"(strpos('0123456789abcdef', substr(m, $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
          .mkString(" + ")
        s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          h AS (SELECT doc_id, $hex8 AS hv FROM (SELECT doc_id, md5(tok) AS m FROM toks)),
          bits AS (SELECT doc_id, b.bit,
                     SUM(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
                   FROM h CROSS JOIN (SELECT bit FROM range(0, 32) r(bit)) b
                   GROUP BY doc_id, b.bit)
          SELECT doc_id,
            CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id ORDER BY doc_id"""
      }),

    // ---- q60: duplicate-cluster assignment (min-label propagation) -------
    // The step BETWEEN pair detection and deletion: LSH candidate pairs
    // become an undirected graph and every involved doc gets a cluster
    // label — two rounds of min-label propagation (each round = one join
    // on the edge list + one min-aggregate, the scalable connected-
    // components shape; production would loop rounds to a fixpoint, the
    // oracle replays the same fixed two).
    QueryDef(
      "q60_dup_clusters",
      (s, dir) => {
        val p = minhashPairs(Tables(s, dir))
        val edges = p.select(col("d1").as("a"), col("d2").as("b"))
          .union(p.select(col("d2").as("a"), col("d1").as("b")))
        val l1 = edges.groupBy(col("a")).agg(min(col("b")).as("mn"))
          .select(col("a").as("id"), least(col("a"), col("mn")).as("l"))
        val nbl = edges
          .join(l1.select(col("id").as("b"), col("l").as("lb")), "b")
          .groupBy(col("a")).agg(min(col("lb")).as("mnl"))
          .select(col("a").as("id"), col("mnl"))
        l1.join(nbl, "id")
          .select(col("id").as("doc_id"), least(col("l"), col("mnl")).as("cluster"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $minhashPairsSql,
        edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
        l1 AS (SELECT a AS id, LEAST(a, MIN(b)) AS l FROM edges GROUP BY a),
        nbl AS (SELECT e.a AS id, MIN(l1.l) AS mnl
                FROM edges e JOIN l1 ON l1.id = e.b GROUP BY e.a)
        SELECT l1.id AS doc_id, LEAST(l1.l, nbl.mnl) AS cluster
        FROM l1 JOIN nbl USING (id) ORDER BY doc_id"""))
    ,

    // ---- q70: benchmark decontamination --------------------------------
    // Training corpora must exclude evaluation data: docs sharing word-
    // 3-grams with a held-out benchmark set (here: doc_id % 97 = 5) are
    // flagged with how many benchmark docs they overlap and how many
    // distinct shingles they share. Scale shape: the benchmark shingle
    // set is tiny relative to the corpus, so it BROADCASTS — the corpus
    // is scanned once, never self-joined (the same reason real
    // decontamination uses bloom filters of benchmark n-grams).
    QueryDef(
      "q70_decontaminate",
      (s, dir) => {
        val sh = shingles(Tables(s, dir))
        val bench = sh.filter(col("doc_id") % 97 === 5)
          .select(col("shingle"), col("doc_id").as("bdoc"))
        val corpus = sh.filter(col("doc_id") % 97 =!= 5)
        corpus.join(broadcast(bench), "shingle")
          .groupBy(col("doc_id"), col("bdoc"))
          .agg(countDistinct(col("shingle")).as("shared"))
          .filter(col("shared") >= 3) // >=3 shared 3-grams = contamination
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_bench"),
            sum(col("shared")).cast("long").as("shared_grams"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $shingleSql,
        bench AS (SELECT shingle, doc_id AS bdoc FROM sh WHERE doc_id % 97 = 5),
        hits AS (
          SELECT c.doc_id, b.bdoc, COUNT(DISTINCT c.shingle) AS shared
          FROM sh c JOIN bench b ON b.shingle = c.shingle
          WHERE c.doc_id % 97 <> 5
          GROUP BY c.doc_id, b.bdoc
          HAVING COUNT(DISTINCT c.shingle) >= 3)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench,
               CAST(SUM(shared) AS BIGINT) AS shared_grams
        FROM hits GROUP BY doc_id ORDER BY doc_id""")),

    // ---- q82: C4-style cross-corpus line dedup ---------------------------
    // The C4/RefinedWeb curation step BETWEEN document-level dedup and
    // training: any "line" (here: deterministic non-overlapping 8-word
    // chunk — the corpus has no newlines) that occurs anywhere else in the
    // corpus survives only at its first occurrence (lowest doc_id, then
    // lowest position); every other copy is cut and the document is
    // reassembled from its surviving chunks in order. Scale shape: one
    // explode, one hash-aggregate picking each chunk's owner (min struct —
    // map-side partial min, no window over the global chunk space), one
    // equality join back on the chunk — all linear in corpus size; the
    // reassembly groups by doc_id, never collecting across documents.
    QueryDef(
      "q82_line_dedup",
      (s, dir) => {
        val t = Tables(s, dir)
        val occ = t.documents
          .select(col("doc_id"), split(col("text"), " ").as("sp"))
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, cast((size(sp) + 7) div 8 as int) - 1), i -> concat_ws(' ', slice(sp, i * 8 + 1, 8)))"))
              .as(Seq("pos", "chunk")))
        val owner = occ.groupBy(col("chunk"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("o"))
        occ.join(owner, "chunk")
          .withColumn("kept",
            col("doc_id") === col("o.doc_id") && col("pos") === col("o.pos"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("kept"), 0L).otherwise(1L)).cast("long").as("n_removed"),
            expr("""md5(cast(concat_ws(' ',
                 transform(array_sort(collect_list(CASE WHEN kept THEN struct(pos, chunk) END)),
                           x -> x.chunk)) as binary))""").as("digest"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        occ0 AS (SELECT doc_id, sp, unnest(range((len(sp) + 7) // 8)) AS pos FROM t),
        occ AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  array_to_string(sp[pos * 8 + 1 : pos * 8 + 8], ' ') AS chunk
                FROM occ0),
        flags AS (SELECT doc_id, pos, chunk,
                    ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
                  FROM occ)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
          md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos), '')) AS digest
        FROM flags GROUP BY doc_id ORDER BY doc_id""")),

    // ---- q92: duplicate clusters to the FIXPOINT --------------------------
    // q60's two propagation rounds, run to actual convergence: each round
    // is one join on the edge list + one min-aggregate (the scalable
    // connected-components shape), the driver stops as soon as NO label
    // changed (or at the round cap). Min-label propagation is idempotent
    // at its fixpoint, so the oracle soundly unrolls the cap
    // unconditionally — an early-stopped Spark run and the fully unrolled
    // SQL coincide (same trick as the k-means gate, q66). Each round
    // materializes through [[graft.functions.IterCheckpoint]] (parquet
    // under spark.graft.checkpoint.dir): lineage depth stays CONSTANT
    // across rounds and the round state survives executor loss — unlike
    // localCheckpoint's executor-local blocks, which die with their
    // executor under dynamic allocation at cluster scale.
    QueryDef(
      "q92_dup_clusters_fixpoint",
      (s, dir) => {
        import graft.functions.IterCheckpoint
        val MaxRounds = 8
        val run = IterCheckpoint.newRun(s)
        val p = minhashPairs(Tables(s, dir))
        val edges = p.select(col("d1").as("a"), col("d2").as("b"))
          .union(p.select(col("d2").as("a"), col("d1").as("b")))
          .persist()
        var labels = IterCheckpoint.round(
          edges.groupBy(col("a")).agg(min(col("b")).as("mn"))
            .select(col("a").as("id"), least(col("a"), col("mn")).as("l")),
          run, "r0")
        var round = 0
        var converged = false
        var finalRound = "r0"
        while (round < MaxRounds && !converged) {
          // fresh aliases on every side: labels joins itself via edges
          val cur = labels.select(col("id").as("cid"), col("l").as("cl"))
          val nbr = labels.select(col("id").as("nid"), col("l").as("nl"))
          val e2 = edges.select(col("a").as("ea"), col("b").as("eb"))
          val name = s"r${round + 1}"
          val next = IterCheckpoint.round(
            cur.join(e2, col("cid") === col("ea"))
              .join(nbr, col("eb") === col("nid"))
              .groupBy(col("cid"), col("cl"))
              .agg(min(col("nl")).as("mnl"))
              .select(col("cid").as("id"), least(col("cl"), col("mnl")).as("l")),
            run, name)
          val changed = next.join(
              labels.select(col("id"), col("l").as("ol")), "id")
            .filter(col("l") =!= col("ol")).count()
          labels = next
          finalRound = name
          round += 1
          if (changed == 0) converged = true
        }
        edges.unpersist()
        // drop every round file except the one backing the result
        IterCheckpoint.reclaim(s, run, Some(finalRound))
        labels.select(col("id").as("doc_id"), col("l").as("cluster"))
          .orderBy(col("doc_id"))
      },
      Some {
        // unconditionally unroll MaxRounds rounds (fixpoint idempotence).
        // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        // each round references its predecessor TWICE — inlining would
        // blow the plan up 2^rounds-fold.
        def roundCte(prev: String, out: String) =
          s"""$out AS MATERIALIZED (
             |  SELECT l.id, LEAST(l.l, MIN(ln.l)) AS l
             |  FROM $prev l JOIN edges e ON e.a = l.id JOIN $prev ln ON ln.id = e.b
             |  GROUP BY l.id, l.l)""".stripMargin
        val rounds = (1 to 8).map(k => roundCte(s"l${k - 1}", s"l$k")).mkString(",\n")
        s"""WITH $minhashPairsSql,
        edges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
        l0 AS MATERIALIZED (SELECT a AS id, LEAST(a, MIN(b)) AS l FROM edges GROUP BY a),
        $rounds
        SELECT id AS doc_id, l AS cluster FROM l8 ORDER BY doc_id"""
      }),

    // ---- q104: MinHash-LSH evaluation against exact Jaccard ---------------
    // "Measure, don't guess" for the dedup stack: the LSH candidate pairs
    // (q25's banding) scored against exact n-gram-Jaccard ground truth
    // (q24's threshold-0.6 pairs) — recall says how many true near-dups
    // the bands surface, precision how much of the candidate set is
    // worth verifying. Both integer-quantized (1e6 scale) so the engines
    // agree bit-for-bit. At corpus scale this is the tuning loop for the
    // band/row trade-off, run on a sample; the expensive exact side is
    // already df-capped.
    QueryDef(
      "q104_lsh_eval",
      (s, dir) => {
        val t = Tables(s, dir)
        val sh = shingles(t)
        val shk = cappedShingles(sh)
        val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val exactPairs = shk.select(col("doc_id").as("d1"), col("shingle"))
          .join(shk.select(col("doc_id").as("d2"), col("shingle")), "shingle")
          .filter(col("d1") < col("d2"))
          .groupBy(col("d1"), col("d2"))
          .agg(count(lit(1)).as("common"))
          .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
          .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
          .filter(expr("common / (n1 + n2 - common) >= 0.6"))
          .select(col("d1"), col("d2"))
        val lsh = minhashPairs(t)
        val both = exactPairs.join(lsh, Seq("d1", "d2"))
        exactPairs.agg(count(lit(1)).cast("long").as("n_exact"))
          .crossJoin(lsh.agg(count(lit(1)).cast("long").as("n_lsh")))
          .crossJoin(both.agg(count(lit(1)).cast("long").as("n_both")))
          .select(col("n_exact"), col("n_lsh"), col("n_both"),
            floor(col("n_both") * lit(1000000.0) / col("n_exact")).cast("long")
              .as("recall_q"),
            floor(col("n_both") * lit(1000000.0) / col("n_lsh")).cast("long")
              .as("precision_q"))
      },
      Some(s"""WITH $minhashPairsSql,
        kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= $DfCap),
        shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        jp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
               FROM shk a JOIN shk b USING (shingle)
               WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
        exact AS (
          SELECT d1, d2 FROM (
            SELECT d1, d2, common, ca.n AS n1, cb.n AS n2
            FROM jp JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2)
          WHERE common / (n1 + n2 - common) >= 0.6),
        hits AS (SELECT e.d1, e.d2 FROM exact e JOIN pairs p
                 ON p.d1 = e.d1 AND p.d2 = e.d2)
        SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
               CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_lsh,
               CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_both,
               CAST(FLOOR((SELECT COUNT(*) FROM hits) * 1000000.0 /
                 (SELECT COUNT(*) FROM exact)) AS BIGINT) AS recall_q,
               CAST(FLOOR((SELECT COUNT(*) FROM hits) * 1000000.0 /
                 (SELECT COUNT(*) FROM pairs)) AS BIGINT) AS precision_q""")),

    // ---- q111: duplicate clusters via large-star/small-star ---------------
    // The same clusters as q92, computed with the two-operation contraction
    // scheme (graft.plans.ConnectedComponents): O(log² n) rounds regardless
    // of component DIAMETER, where q92's min-label propagation needs
    // O(diameter) shuffles — the scale answer for the 100-hop duplicate
    // chains real corpora produce. The component-min labels are
    // algorithm-independent, so the oracle is q92's unrolled propagation.
    QueryDef(
      "q111_dup_clusters_bigstar",
      (s, dir) => {
        val p = minhashPairs(Tables(s, dir))
        graft.plans.ConnectedComponents.labels(s, p, "d1", "d2")
          .select(col("id").as("doc_id"), col("label").as("cluster"))
          .orderBy(col("doc_id"))
      },
      Some {
        def roundCte(prev: String, out: String) =
          s"""$out AS MATERIALIZED (
             |  SELECT l.id, LEAST(l.l, MIN(ln.l)) AS l
             |  FROM $prev l JOIN edges e ON e.a = l.id JOIN $prev ln ON ln.id = e.b
             |  GROUP BY l.id, l.l)""".stripMargin
        val rounds = (1 to 8).map(k => roundCte(s"l${k - 1}", s"l$k")).mkString(",\n")
        s"""WITH $minhashPairsSql,
        edges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
        l0 AS MATERIALIZED (SELECT a AS id, LEAST(a, MIN(b)) AS l FROM edges GROUP BY a),
        $rounds
        SELECT id AS doc_id, l AS cluster FROM l8 ORDER BY doc_id"""
      }),

    // ---- q121: fuzzy near-dup pairs via blocked edit distance -------------
    // Edit-distance dedup (the title/citation-matching shape): candidates
    // come from an EQUALITY blocking key — the document's first two words —
    // so the quadratic Levenshtein DP runs only inside blocks, never over
    // the corpus; the distance itself compares fixed 64-char prefixes, so
    // per-pair cost is a constant 64×64 DP cell grid (codegen'd
    // `levenshtein`, no UDF). Scale shape: one shuffle on the block key,
    // per-block pair loops bounded by block size (salt an oversized block
    // or tighten the key — same playbook as the df-capped shingle joins).
    QueryDef(
      "q121_fuzzy_dedup",
      (s, dir) => {
        val d = Tables(s, dir).documents
          .filter(length(col("text")) > 0)
          .select(col("doc_id"),
            expr("concat_ws(' ', slice(split(text, ' '), 1, 2))").as("blk"),
            substring(col("text"), 1, 64).as("pfx"))
        d.select(col("blk"), col("doc_id").as("d1"), col("pfx").as("p1"))
          .join(d.select(col("blk"), col("doc_id").as("d2"), col("pfx").as("p2")), "blk")
          .filter(col("d1") < col("d2"))
          .withColumn("dist", levenshtein(col("p1"), col("p2")))
          .filter(col("dist") <= 20)
          .select(col("d1"), col("d2"), col("dist").cast("long").as("dist"))
          .orderBy(col("d1"), col("d2"))
      },
      Some("""WITH d AS (SELECT doc_id,
                array_to_string(string_split(text, ' ')[1:2], ' ') AS blk,
                substr(text, 1, 64) AS pfx
              FROM documents WHERE length(text) > 0)
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
        FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pfx, b.pfx) <= 20
        ORDER BY d1, d2""")),

    // ---- q123: TF-IDF sparse cosine similarity join -----------------------
    // WEIGHTED near-dup, complementing the set-based MinHash family:
    // candidate pairs come from an inverted index over RARE 4-word
    // shingles (2 <= df <= 8 — common shingles generate quadratic
    // candidate lists and carry no signal; at corpus scale the df band is
    // the knob that keeps the index join linear), then each candidate is
    // verified with an exact TF-IDF cosine over the full shingle vectors.
    // All arithmetic INTEGER: idf ≈ N div df, cosine >= 0.9 tested as
    // 100·dot² >= 81·|a|²·|b|² in DECIMAL(38,0) — both engines agree
    // bit-for-bit, no ln()/sqrt() cross-libm hazard. Scale shape: explode →
    // two hash aggregates (tf, df) → rare-key equality join for candidates
    // → candidates joined back to vectors — verification touches only
    // candidate pairs, never the corpus square.
    QueryDef(
      "q123_tfidf_cosine_join",
      (s, dir) => {
        val t = Tables(s, dir)
        val occ = t.documents
          .select(col("doc_id"), split(col("text"), " ").as("sp"))
          .filter(size(col("sp")) >= 4)
          .select(col("doc_id"), expr(
            "explode(transform(sequence(0, size(sp) - 4), i -> concat_ws(' ', slice(sp, i + 1, 4))))").as("g"))
        // ONE explode + ONE (doc, gram) shuffle: tf's aggregate IS the
        // distinct (doc_id, g) set, so document frequency and the rare-
        // gram candidate index both derive from tf — the corpus is never
        // re-exploded, and the three consumers share tf's exchange
        // (ReusedExchange) instead of recomputing the n-gram scan
        val tf = occ.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("g")).agg(count(lit(1)).as("df"))
        // idf scale constant; any fixed N works (sf-independent)
        val v = tf.join(df, "g")
          .select(col("doc_id"), col("g"),
            expr("cast(tf * (2500 div df) as bigint)").as("w"))
        val nrm = v.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("nsq"))
        val rare = df.filter(col("df").between(2, 8)).select(col("g"))
        val keyed = tf.select(col("doc_id"), col("g")).join(rare, "g")
        val cand = keyed.select(col("g"), col("doc_id").as("d1"))
          .join(keyed.select(col("g"), col("doc_id").as("d2")), "g")
          .filter(col("d1") < col("d2")).select(col("d1"), col("d2")).distinct()
        val dots = cand
          .join(v.select(col("doc_id").as("d1"), col("g"), col("w").as("w1")), Seq("d1"))
          .join(v.select(col("doc_id").as("d2"), col("g"), col("w").as("w2")), Seq("d2", "g"))
          .groupBy(col("d1"), col("d2")).agg(sum(col("w1") * col("w2")).as("dot"))
        dots
          .join(nrm.select(col("doc_id").as("d1"), col("nsq").as("n1sq")), "d1")
          .join(nrm.select(col("doc_id").as("d2"), col("nsq").as("n2sq")), "d2")
          .filter(col("dot") > 0 &&
            col("dot").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
              col("dot") * 100 >=
              col("n1sq").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
                col("n2sq") * 81)
          .select(col("d1"), col("d2"), col("dot"), col("n1sq"), col("n2sq"))
          .orderBy(col("d1"), col("d2"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        occ AS (SELECT doc_id, array_to_string(sp[i + 1 : i + 4], ' ') AS g
                FROM (SELECT doc_id, sp, unnest(range(len(sp) - 3)) AS i
                      FROM t WHERE len(sp) >= 4)),
        tf AS (SELECT doc_id, g, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
        df AS (SELECT g, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, g FROM occ) GROUP BY g),
        v AS (SELECT t.doc_id, t.g, CAST(t.tf * (2500 // d.df) AS BIGINT) AS w
              FROM tf t JOIN df d USING (g)),
        nrm AS (SELECT doc_id, SUM(w * w) AS nsq FROM v GROUP BY doc_id),
        rare AS (SELECT g FROM df WHERE df BETWEEN 2 AND 8),
        keyed AS (SELECT DISTINCT doc_id, g FROM occ WHERE g IN (SELECT g FROM rare)),
        cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                 FROM keyed a JOIN keyed b ON a.g = b.g AND a.doc_id < b.doc_id),
        dots AS (SELECT c.d1, c.d2, SUM(x.w * y.w) AS dot
                 FROM cand c JOIN v x ON x.doc_id = c.d1
                 JOIN v y ON y.doc_id = c.d2 AND y.g = x.g
                 GROUP BY c.d1, c.d2)
        SELECT d1, d2, CAST(dot AS BIGINT) AS dot,
               CAST(a.nsq AS BIGINT) AS n1sq, CAST(b.nsq AS BIGINT) AS n2sq
        FROM dots JOIN nrm a ON a.doc_id = d1 JOIN nrm b ON b.doc_id = d2
        WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 100 >=
              CAST(a.nsq AS HUGEINT) * b.nsq * 81
        ORDER BY d1, d2""")),

    // ---- q138: fuzzy decontamination (MinHash-LSH vs a benchmark set) ----
    // q70 removes EXACT n-gram overlap with a held-out benchmark; this is
    // the fuzzy complement every eval pipeline also runs: a corpus doc
    // sharing any LSH band signature with any benchmark doc (a likely
    // near-duplicate, paraphrase, or template match) is dropped. The join
    // is corpus-bands × benchmark-bands — the benchmark side is tiny, the
    // corpus side is the same banded signatures the dedup pass already
    // computes, and nothing is ever corpus × corpus. Output: per-lang
    // survivor stats + the total flagged count.
    QueryDef(
      "q138_lsh_decontam",
      (s, dir) => {
        val t = Tables(s, dir)
        val bands = minhashBands(t)
        val bench = bands.filter(col("doc_id") % 97 === 0)
          .select(col("band"), col("sig")).distinct()
        val flagged = bands.filter(col("doc_id") % 97 =!= 0)
          .join(broadcast(bench), Seq("band", "sig"))
          .select(col("doc_id")).distinct()
        val survivors = t.documents.filter(col("doc_id") % 97 =!= 0)
          .join(flagged, Seq("doc_id"), "left_anti")
        survivors.groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("n_kept"),
            sum(col("n_chars")).cast("long").as("chars_kept"))
          .crossJoin(broadcast(
            flagged.agg(count(lit(1)).cast("long").as("n_flagged"))))
          .orderBy(col("lang"))
      },
      Some(s"""WITH $minhashPairsSql,
        bench AS (SELECT DISTINCT band, sig FROM bands WHERE doc_id % 97 = 0),
        flagged AS (
          SELECT DISTINCT b.doc_id FROM bands b JOIN bench x
            ON b.band = x.band AND b.sig = x.sig
          WHERE b.doc_id % 97 <> 0),
        surv AS (
          SELECT d.lang, d.n_chars FROM documents d
          WHERE d.doc_id % 97 <> 0
            AND d.doc_id NOT IN (SELECT doc_id FROM flagged))
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged) AS n_flagged
        FROM surv GROUP BY lang ORDER BY lang"""))
  )
}
