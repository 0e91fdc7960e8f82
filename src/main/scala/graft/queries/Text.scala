package graft.queries

import scala.jdk.CollectionConverters._

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristics, and document fingerprinting / exact deduplication.
  *
  * All implementations are per-row expression pipelines (narrow, no
  * shuffle except final aggregates) so they scale linearly with input —
  * the same plan shape a 100 TB corpus sweep needs. Everything stays
  * inside whole-stage codegen: no UDFs, only built-in expressions.
  */
object Text {

  /** q119's vocabulary bound: the perceptron's per-round gradient collect
    * is vocabulary-sized, so the feature space is capped at the top-`cap`
    * tokens by document frequency (ties broken by token asc — fully
    * deterministic, so the DuckDB oracle replays the same cap). At any
    * corpus scale the model/gradient stays O(cap), not O(distinct tokens). */
  val PerceptronVocabCap = 2048

  /** Top-`cap` rows of a (doc_id, j, …) token frame's vocabulary, by
    * document frequency then token. The result is model-sized: safe to
    * broadcast. */
  def perceptronVocab(raw: org.apache.spark.sql.DataFrame, cap: Int): org.apache.spark.sql.DataFrame =
    raw.groupBy(col("j")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("j")).limit(cap).select(col("j"))

  val defs: Seq[QueryDef] = Seq(

    // ---- q19: token counting — whitespace split + a BPE-ish regex -------
    QueryDef(
      "q19_token_counts",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .select(
            col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ws_tokens"),
            regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long")
              .as("re_tokens"),
            length(col("text")).cast("long").as("n_chars_m"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS re_tokens,
        CAST(length(text) AS BIGINT) AS n_chars_m
        FROM documents ORDER BY doc_id""")),

    // ---- q20: quality scoring — length / stopword-ratio / word-length ---
    QueryDef(
      "q20_text_quality",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .withColumn("sp", split(col("text"), " "))
          .select(
            col("doc_id"),
            size(col("sp")).cast("long").as("n_tokens"),
            expr("cast(size(filter(sp, x -> x IN ('the', 'a', 'of', 'and', 'is', 'to', 'in'))) as bigint)")
              .as("stop_tokens"),
            length(col("text")).cast("long").as("n_chars_m"))
          .withColumn("avg_wlen",
            expr("cast(n_chars_m as double) / cast(n_tokens as double)"))
          .withColumn("stop_ratio",
            expr("cast(stop_tokens as double) / cast(n_tokens as double)"))
          .withColumn("quality", expr("stop_ratio + 0.1 * avg_wlen"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, n_tokens, stop_tokens, n_chars_m, avg_wlen, stop_ratio,
        stop_ratio + 0.1 * avg_wlen AS quality
        FROM (
          SELECT doc_id, n_tokens, stop_tokens, n_chars_m,
            CAST(n_chars_m AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_wlen,
            CAST(stop_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio
          FROM (
            SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ('the', 'a', 'of', 'and', 'is', 'to', 'in'))) AS BIGINT) AS stop_tokens,
              CAST(length(text) AS BIGINT) AS n_chars_m
            FROM documents))
        ORDER BY doc_id""")),

    // ---- q21: language-ID — marker-n-gram scoring with argmax ------------
    // Same structure as a real character/word-n-gram language classifier:
    // count marker hits per class, pick the argmax with a fixed tiebreak.
    QueryDef(
      "q21_langid",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .select(
            col("doc_id"),
            regexp_count(col("text"), lit("\\b(join|merge|sort)\\b")).cast("long").as("s_a"),
            regexp_count(col("text"), lit("\\b(scan|filter|query)\\b")).cast("long").as("s_b"),
            regexp_count(col("text"), lit("\\b(stream|batch|window)\\b")).cast("long").as("s_c"),
            regexp_count(col("text"), lit("\\b(vector|hash|key)\\b")).cast("long").as("s_d"))
          .withColumn("lang_pred",
            expr("""case when s_a >= s_b and s_a >= s_c and s_a >= s_d then 'A'
                         when s_b >= s_c and s_b >= s_d then 'B'
                         when s_c >= s_d then 'C'
                         else 'D' end"""))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, s_a, s_b, s_c, s_d,
        CASE WHEN s_a >= s_b AND s_a >= s_c AND s_a >= s_d THEN 'A'
             WHEN s_b >= s_c AND s_b >= s_d THEN 'B'
             WHEN s_c >= s_d THEN 'C'
             ELSE 'D' END AS lang_pred
        FROM (
          SELECT doc_id,
            CAST(len(regexp_extract_all(text, '\b(join|merge|sort)\b')) AS BIGINT) AS s_a,
            CAST(len(regexp_extract_all(text, '\b(scan|filter|query)\b')) AS BIGINT) AS s_b,
            CAST(len(regexp_extract_all(text, '\b(stream|batch|window)\b')) AS BIGINT) AS s_c,
            CAST(len(regexp_extract_all(text, '\b(vector|hash|key)\b')) AS BIGINT) AS s_d
          FROM documents)
        ORDER BY doc_id""")),

    // ---- q22: exact dedup — md5 fingerprint groups, min-doc_id keeper ----
    // The canonical hash-groupBy dedup: one shuffle on the fingerprint,
    // map-side partial agg; at 100 TB the fingerprint is computed in the
    // scan stage and only (fp, doc_id) shuffles.
    QueryDef(
      "q22_exact_dedup",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .select(col("doc_id"), md5(lower(trim(col("text"))).cast("binary")).as("fp"))
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
          .orderBy(col("fp"))
      },
      Some("""SELECT md5(lower(trim(text))) AS fp, COUNT(*) AS n_docs,
        MIN(doc_id) AS keeper
        FROM documents GROUP BY 1 ORDER BY fp""")),

    // ---- q32: rolling-hash fingerprints via the native codegen
    //           expression (graft.functions.RollingHash, registered as
    //           rolling_hash by NativeFunctions) -------------------------
    QueryDef(
      "q32_rolling_fingerprint",
      (s, dir) => {
        graft.functions.NativeFunctions.register(s)
        val t = Tables(s, dir)
        t.documents.createOrReplaceTempView("graft_docs_rh")
        s.sql("""SELECT doc_id, rolling_hash(text) AS fp
                 FROM graft_docs_rh ORDER BY doc_id""")
      },
      // same Karp-Rabin fold in DuckDB; ord(char) == UTF-8 byte for the
      // ASCII corpus, and list_reduce seeds with the first element which
      // equals our h=0 start after one step
      Some("""SELECT doc_id,
        CAST(CASE WHEN length(text) = 0 THEN 0
             ELSE list_reduce(list_transform(regexp_split_to_array(text, ''), c -> ord(c)),
                              (a, b) -> (CAST(a AS BIGINT) * 31 + b) % 1000000007) END AS BIGINT) AS fp
        FROM documents ORDER BY doc_id""")),

    // ---- q45: normalization pipeline + dedup on the canonical form -------
    // lowercase → strip non-alphanumerics → collapse runs of spaces →
    // trim → md5; catches near-dups that differ only in case/punct/spacing.
    QueryDef(
      "q45_normalized_dedup",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .withColumn("norm",
            trim(regexp_replace(
              regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
          .select(col("doc_id"), md5(col("norm").cast("binary")).as("fp"),
            length(col("norm")).cast("long").as("norm_len"))
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"),
            max(col("norm_len")).as("norm_len"))
          .orderBy(col("fp"))
      },
      Some("""SELECT md5(norm) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper,
        CAST(MAX(length(norm)) AS BIGINT) AS norm_len
        FROM (SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                     ' +', ' ', 'g')) AS norm
              FROM documents)
        GROUP BY fp ORDER BY fp""")),

    // ---- q47: the full corpus-preparation pipeline in one plan -----------
    // quality gate → canonical form → exact dedup (min-id keeper) →
    // near-dup removal (3-gram Jaccard ≥ 0.6 pairs, larger id dropped).
    // This is the end-to-end training-set builder; every stage is the
    // operator proven individually in q19-q25/q45, composed declaratively
    // so Catalyst plans the whole thing (one scan feeds all stages).
    QueryDef(
      "q47_corpus_pipeline",
      (s, dir) => {
        val t = Tables(s, dir)
        val base = t.documents
          .withColumn("sp", split(col("text"), " "))
          .withColumn("n_tokens", size(col("sp")).cast("long"))
          .withColumn("avg_wlen", expr("cast(length(text) as double) / n_tokens"))
          .filter(col("n_tokens") >= 20 && col("avg_wlen") <= 8.0)
          .withColumn("norm",
            trim(regexp_replace(
              regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
          .withColumn("fp", md5(col("norm").cast("binary")))
        // exact-dedup keeper = first doc per fingerprint: ONE window pass
        // (row_number over fp) instead of a min-aggregate joined back —
        // one shuffle fewer at any scale
        val wFp = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))
        val surv = base
          .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
          .drop("rn")
        val withSh = surv
          .filter(size(col("sp")) >= 3)
          // per-doc dedup happens row-locally (array_distinct), not as
          // a corpus-wide DISTINCT shuffle — same rows, one less pass
          .withColumn("shingles",
            expr("array_distinct(transform(sequence(0, size(sp) - 3), " +
              "i -> concat_ws(' ', sp[i], sp[i+1], sp[i+2])))"))
        val sh = withSh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
        // per-doc shingle count is row-local (array size) — no aggregate
        // over the exploded rows
        val cnt = withSh.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
        // document-frequency cap before the pair join — the same 100 TB
        // skew guard as the q24 family (a shingle in >10k docs carries no
        // dedup signal and would quadratically dominate the join); a
        // window over the shingle partition, whose exchange the self-join
        // reuses. No shingle reaches the cap at test scale.
        val shk = sh.withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
          .filter(col("df") <= 10000).drop("df")
        val dropped = shk.select(col("doc_id").as("d1"), col("shingle"))
          .join(shk.select(col("doc_id").as("d2"), col("shingle")), "shingle")
          .filter(col("d1") < col("d2"))
          .groupBy(col("d1"), col("d2"))
          .agg(count(lit(1)).as("common"))
          .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
          .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
          .filter(expr("common / (n1 + n2 - common) >= 0.6"))
          .select(col("d2").as("doc_id"))
          .distinct()
        surv.join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_tokens"), col("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
          SELECT doc_id, text, string_split(text, ' ') AS sp,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
            CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_wlen,
            md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                ' +', ' ', 'g'))) AS fp
          FROM documents
          WHERE len(string_split(text, ' ')) >= 20
            AND CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) <= 8.0),
        keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM base GROUP BY fp),
        surv AS (SELECT b.* FROM base b JOIN keepers k ON b.fp = k.fp AND b.doc_id = k.doc_id),
        sh AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(range(len(sp) - 2),
                   i -> sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3])) AS shingle
               FROM surv WHERE len(sp) >= 3),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shk AS (SELECT doc_id, shingle FROM (
                  SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
                  FROM sh)
                WHERE df <= 10000),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
                  FROM shk a JOIN shk b USING (shingle)
                  WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
        dropped AS (SELECT DISTINCT d2 AS doc_id
                    FROM pairs JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
                    WHERE common / (ca.n + cb.n - common) >= 0.6)
        SELECT doc_id, n_tokens, fp FROM surv
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        ORDER BY doc_id""")),

    // ---- q50: vocabulary induction — document/corpus frequency table -----
    // The df/cf statistics a tokenizer-training (BPE-style) pipeline
    // computes over a corpus; one explode + one shuffle on the token.
    QueryDef(
      "q50_vocabulary",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy(col("token"))
          .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
          .filter(col("df") >= 5)
          .orderBy(desc("df"), desc("cf"), col("token"))
          .limit(50)
      },
      Some("""SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
        COUNT(*) AS cf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token HAVING COUNT(DISTINCT doc_id) >= 5
        ORDER BY df DESC, cf DESC, token LIMIT 50""")),

    // ---- q23: corpus stats by (lang, source) — metadata sweep ------------
    QueryDef(
      "q23_doc_stats",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""SELECT lang, source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // ---- q59: Gopher-style repetition/quality signals --------------------
    // The repetition family of quality filters (type-token ratio, top-token
    // mass, hapax fraction, duplicate-trigram mass, mean word length) in
    // INTEGER-EXACT form: every signal is a ratio of two exact counts, so
    // there is exactly one float op per output value and both engines agree
    // bit-for-bit. One token explode + one trigram explode, all map-side
    // partial aggregation — no pair joins, linear at 100 TB.
    QueryDef(
      "q59_repetition_signals",
      (s, dir) => {
        val t = Tables(s, dir)
        val docs = t.documents
          .select(col("doc_id"), split(col("text"), " ").as("sp"))
          .filter(size(col("sp")) >= 3)
        val toks = docs.select(col("doc_id"), explode(col("sp")).as("tok"))
        val tokCnt = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        val perDoc = tokCnt.groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_tok"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
        val lenSum = toks.groupBy(col("doc_id"))
          .agg(sum(length(col("tok")).cast("long")).as("len_sum"))
        val tris = docs.select(col("doc_id"),
          explode(expr("transform(sequence(0, size(sp) - 3), i -> concat_ws(' ', sp[i], sp[i+1], sp[i+2]))"))
            .as("tri"))
        val triCnt = tris.groupBy(col("doc_id"), col("tri")).agg(count(lit(1)).as("c"))
        val triDoc = triCnt.groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_tris"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_tris"))
        perDoc.join(lenSum, "doc_id").join(triDoc, "doc_id")
          .select(col("doc_id"),
            col("n_tokens"),
            expr("n_distinct / n_tokens").as("ttr"),
            expr("top_tok / n_tokens").as("top_token_frac"),
            expr("hapax / n_distinct").as("hapax_frac"),
            expr("len_sum / n_tokens").as("mean_word_len"),
            expr("dup_tris / n_tris").as("dup_trigram_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents
                 WHERE len(string_split(text, ' ')) >= 3),
        toks AS (SELECT doc_id, unnest(sp) AS tok FROM d),
        tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
        pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
                      MAX(c) AS top_tok,
                      CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
               FROM tc GROUP BY doc_id),
        ls AS (SELECT doc_id, CAST(SUM(len(tok)) AS BIGINT) AS len_sum
               FROM toks GROUP BY doc_id),
        tgrams AS (SELECT doc_id,
                     unnest(list_transform(range(len(sp) - 2),
                       i -> sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3])) AS tri
                   FROM d),
        trc AS (SELECT doc_id, tri, COUNT(*) AS c FROM tgrams GROUP BY doc_id, tri),
        td AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tris,
                      CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_tris
               FROM trc GROUP BY doc_id)
        SELECT pd.doc_id, n_tokens,
          n_distinct / n_tokens AS ttr,
          top_tok / n_tokens AS top_token_frac,
          hapax / n_distinct AS hapax_frac,
          len_sum / n_tokens AS mean_word_len,
          dup_tris / n_tris AS dup_trigram_frac
        FROM pd JOIN ls USING (doc_id) JOIN td USING (doc_id)
        ORDER BY pd.doc_id""")),

    // ---- q68: deterministic train/valid/test split -------------------------
    // Held-out splits for training corpora must be STABLE: a document's
    // split is a pure function of its id (salted md5 -> bucket 0-99 ->
    // 80/10/10), never of row order, partitioning, or engine — so the
    // same doc lands in the same split on every run of every system that
    // implements the contract. One narrow codegen pass, no shuffle
    // beyond the final per-(lang, split) rollup.
    QueryDef(
      "q68_dataset_split",
      (s, dir) => {
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("h", expr(
            QueryDef.md5Long60("concat('split:', cast(doc_id as string))") + " % 100"))
          .withColumn("split", expr(
            "CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid' ELSE 'test' END"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("n_chars")).cast("long").as("chars"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy(col("lang"), col("split"))
      },
      Some {
        val hex15 = QueryDef.duckMd5Long60("m")
        s"""WITH h AS (
          SELECT doc_id, lang, n_chars, ($hex15) % 100 AS b
          FROM (SELECT doc_id, lang, n_chars,
                  md5('split:' || CAST(doc_id AS VARCHAR)) AS m
                FROM documents)),
        sp AS (SELECT lang, n_chars, doc_id,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
                      ELSE 'test' END AS split
               FROM h)
        SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM sp GROUP BY lang, split ORDER BY lang, split"""
      }),

    // ---- q69: sequence packing into fixed token budgets --------------------
    // Contiguous packing for context-window training: within each lang,
    // documents in stable doc_id order accumulate into 512-token packs
    // (pack = floor(tokens-before-me / budget)). One running-sum window
    // per lang partition and a rollup — no shuffle beyond the window's
    // own partitioning, deterministic pack assignment at any scale.
    QueryDef(
      "q69_sequence_packing",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .withColumn("toks", size(split(col("text"), " ")).cast("long"))
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.withColumn("cum", sum(col("toks")).over(w))
          .withColumn("pack_id", expr("CAST(floor((cum - toks) / 512.0) AS BIGINT)"))
          .groupBy(col("lang"), col("pack_id"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("toks")).cast("long").as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("lang"), col("pack_id"))
      },
      Some("""WITH d AS (SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        c AS (SELECT lang, doc_id, toks,
                SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
        SELECT lang, CAST(floor((cum - toks) / 512.0) AS BIGINT) AS pack_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""")),

    // ---- q71: BM25 keyword retrieval ---------------------------------------
    // Keyword search over the corpus (the sparse half of hybrid
    // retrieval): BM25 with a rational idf variant — (N-df+0.5)/(df+0.5)
    // without the log, keeping every operation rational so both engines
    // compute bit-identical doubles; per-(doc, term) scores are quantized
    // to integers BEFORE the per-doc sum so aggregation order cannot
    // matter. Scale shape: df and corpus stats are tiny aggregates that
    // broadcast; the corpus is scanned once.
    QueryDef(
      "q71_bm25",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), split(col("text"), " ").as("sp"))
          .withColumn("dl", size(col("sp")).cast("long"))
        val glob = docs.agg(sum(col("dl")).cast("double").as("sl"),
          count(lit(1)).cast("double").as("nd"))
        val tf = docs.select(col("doc_id"), col("dl"), explode(col("sp")).as("tok"))
          .filter(col("tok").isin("join", "scan", "hash"))
          .groupBy(col("doc_id"), col("dl"), col("tok"))
          .agg(count(lit(1)).cast("double").as("tf"))
        val dfx = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
        tf.join(broadcast(dfx), "tok").crossJoin(broadcast(glob))
          .withColumn("part", expr(
            "round(((nd - df + 0.5) / (df + 0.5)) * tf * 2.2 / " +
              "(tf + 1.2 * (0.25 + 0.75 * dl / (sl / nd))) * 1e6)"))
          .groupBy(col("doc_id"))
          .agg(sum(col("part")).cast("long").as("score_micro"))
          .orderBy(desc("score_micro"), col("doc_id"))
          .limit(20)
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        dd AS (SELECT doc_id, CAST(len(sp) AS BIGINT) AS dl, sp FROM d),
        g AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sl, CAST(COUNT(*) AS DOUBLE) AS nd FROM dd),
        t AS (SELECT doc_id, dl, unnest(sp) AS tok FROM dd),
        tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS DOUBLE) AS tf
               FROM t WHERE tok IN ('join', 'scan', 'hash') GROUP BY doc_id, dl, tok),
        dfx AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
        parts AS (
          SELECT tf.doc_id,
            round(((g.nd - dfx.df + 0.5) / (dfx.df + 0.5)) * tf.tf * 2.2 /
              (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (g.sl / g.nd))) * 1e6) AS part
          FROM tf JOIN dfx USING (tok) CROSS JOIN g)
        SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score_micro
        FROM parts GROUP BY doc_id
        ORDER BY score_micro DESC, doc_id LIMIT 20""")),

    // ---- q77: stratified sampling — per-language keep rates ---------------
    // Corpus rebalancing (upsample scarce languages, downsample dominant
    // ones) as a pure function of the document id: the same salted-md5
    // bucket as q68 compared against a per-stratum rate. No shuffle at
    // all before the final aggregate; deciding membership costs one hash
    // per row, identical on any engine and any cluster size — rerunning
    // the pipeline yields the same sample, the property training-data
    // reproducibility depends on.
    QueryDef(
      "q77_stratified_sample",
      (s, dir) => {
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("b", expr(
            QueryDef.md5Long60("concat('strat:', cast(doc_id as string))") + " % 100"))
          .withColumn("rate", expr(
            "CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 25 ELSE 10 END"))
          .filter(col("b") < col("rate"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("n_chars")).cast("long").as("chars"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy(col("lang"))
      },
      Some {
        val hex15 = QueryDef.duckMd5Long60("m")
        s"""WITH h AS (
          SELECT doc_id, lang, n_chars, ($hex15) % 100 AS b
          FROM (SELECT doc_id, lang, n_chars,
                  md5('strat:' || CAST(doc_id AS VARCHAR)) AS m
                FROM documents)),
        kept AS (SELECT * FROM h
                 WHERE b < CASE WHEN lang = 'en' THEN 50
                                WHEN lang = 'de' THEN 25 ELSE 10 END)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM kept GROUP BY lang ORDER BY lang"""
      }),

    // ---- q78: PII redaction — regex scrubbing with audit counts -----------
    // The scrubbing pass every published training corpus needs: match
    // email-shaped and long-digit-run spans, replace them with typed
    // placeholders, and count what was removed (the audit trail). PII is
    // injected deterministically per doc so the gate exercises real
    // matches; patterns stay in the RE2-safe subset (character classes
    // and counted repetition only — no backrefs/lookaround) so Java and
    // RE2 engines agree. Per-row codegen'd expressions, zero shuffle:
    // the 100 TB shape is "one narrow pass over the corpus". The md5 of
    // the redacted text proves both engines produced byte-identical
    // scrubbed output, not just equal counts.
    QueryDef(
      "q78_pii_redaction",
      (s, dir) => {
        val email = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
        val num = "[0-9]{7,}"
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("t2", expr(
            "concat(text, ' contact user', cast(doc_id as string), " +
              "'@mail.example.com or +1', cast(doc_id * 7919 + 10000000 as string), ' now')"))
          .select(
            col("doc_id"),
            regexp_count(col("t2"), lit(email)).cast("long").as("emails"),
            regexp_count(col("t2"), lit(num)).cast("long").as("digit_runs"),
            md5(regexp_replace(regexp_replace(col("t2"), email, "<EMAIL>"),
              num, "<NUM>")).as("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (
          SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR) ||
              '@mail.example.com or +1' ||
              CAST(doc_id * 7919 + 10000000 AS VARCHAR) || ' now' AS t2
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t2, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+')) AS BIGINT) AS emails,
          CAST(len(regexp_extract_all(t2, '[0-9]{7,}')) AS BIGINT) AS digit_runs,
          md5(regexp_replace(regexp_replace(t2, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'),
            '[0-9]{7,}', '<NUM>', 'g')) AS fp
        FROM p ORDER BY doc_id""")),

    // ---- q79: trigram novelty — per-doc contribution scoring --------------
    // Data-curation signal: how much of a document's content is FIRST
    // seen there (vs already covered by earlier docs)? Novelty = the
    // fraction of a doc's distinct word trigrams whose minimum doc_id is
    // this doc. Shape: one explode + one min-aggregate on the shingle
    // key + one join back — the vocabulary-induction/df dataflow, linear
    // in corpus size, no all-pairs anything. Counts stay integer-exact.
    QueryDef(
      "q79_trigram_novelty",
      (s, dir) => {
        val tris = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"), explode(expr(
            // row-local per-doc dedup — no corpus-wide DISTINCT shuffle
            "array_distinct(transform(sequence(0, size(t) - 3), " +
              "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))"))
            .as("tri"))
        val first = tris.groupBy(col("tri")).agg(min(col("doc_id")).as("first_doc"))
        tris.join(first, "tri")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("tris"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .cast("long").as("novel"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 3),
        tri0 AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(t) - 1),
              i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tri
          FROM d),
        tris AS (SELECT DISTINCT doc_id, tri FROM tri0),
        fst AS (SELECT tri, MIN(doc_id) AS first_doc FROM tris GROUP BY tri)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tris,
               CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel
        FROM tris JOIN fst USING (tri)
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- q85: mixture weighting — deterministic fractional upsampling ------
    // Training mixtures assign each source a sampling TEMPERATURE (src0
    // ×2.4, src1 ×1.0, rest ×0.3): the integer part repeats every doc,
    // the fractional part keeps a salted-hash-selected subset one extra
    // time — so the realized epoch counts hit the target weights exactly
    // in expectation while staying a pure per-row function (any engine,
    // any parallelism, same mixture). One explode by the per-doc
    // repetition count, no shuffle before the final aggregate; at 100 TB
    // the explode is the materialization step feeding sequence packing.
    QueryDef(
      "q85_mixture_weights",
      (s, dir) => {
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("b", expr(
            QueryDef.md5Long60("concat('mix:', cast(doc_id as string))") + " % 100"))
          .withColumn("w100", expr(
            "CASE WHEN source = 'src0' THEN 240 WHEN source = 'src1' THEN 100 ELSE 30 END"))
          .withColumn("reps", expr("w100 div 100 + CASE WHEN b < w100 % 100 THEN 1 ELSE 0 END"))
          .select(col("source"), col("n_chars"), col("doc_id"),
            explode(expr("CASE WHEN reps = 0 THEN array() ELSE sequence(1, reps) END")).as("epoch"))
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as("n_samples"),
            countDistinct(col("doc_id")).cast("long").as("n_docs"),
            sum(col("n_chars")).cast("long").as("chars"))
          .orderBy(col("source"))
      },
      Some {
        val hex15 = QueryDef.duckMd5Long60("m")
        s"""WITH h AS (
          SELECT doc_id, source, n_chars, ($hex15) % 100 AS b
          FROM (SELECT doc_id, source, n_chars,
                  md5('mix:' || CAST(doc_id AS VARCHAR)) AS m
                FROM documents)),
        r AS (SELECT doc_id, source, n_chars,
                (w100 // 100) + CASE WHEN b < w100 % 100 THEN 1 ELSE 0 END AS reps
              FROM (SELECT *, CASE WHEN source = 'src0' THEN 240
                                   WHEN source = 'src1' THEN 100 ELSE 30 END AS w100
                    FROM h)),
        x AS (SELECT doc_id, source, n_chars, unnest(range(reps)) AS epoch
              FROM r WHERE reps > 0)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM x GROUP BY source ORDER BY source"""
      }),

    // ---- q86: per-language exact-median quality gate -----------------------
    // Per-stratum adaptive thresholds (keep docs at or above their
    // language's median length) with an EXACT, engine-independent median:
    // the value at rank ceil(n/2) under (n_chars, doc_id) order — integer
    // arithmetic only, no interpolation, so both engines agree bit-for-
    // bit. Scale shape: one window pass per language partition to rank,
    // one tiny (lang, median) broadcast join back — never a global sort.
    QueryDef(
      "q86_median_quality_gate",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
        val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        val med = docs
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(cw))
          .filter(expr("rn = (cnt + 1) div 2"))
          .select(col("lang"), col("n_chars").as("med"))
        docs.join(med, "lang")
          .filter(col("n_chars") >= col("med"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("long").as("kept"),
            sum(col("n_chars")).cast("long").as("chars"),
            min(col("n_chars")).cast("long").as("floor_chars"))
          .orderBy(col("lang"))
      },
      Some("""WITH ranked AS (
          SELECT lang, n_chars, doc_id,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY lang) AS cnt
          FROM documents),
        med AS (SELECT lang, n_chars AS med FROM ranked WHERE rn = (cnt + 1) // 2)
        SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS kept,
               CAST(SUM(d.n_chars) AS BIGINT) AS chars,
               CAST(MIN(d.n_chars) AS BIGINT) AS floor_chars
        FROM documents d JOIN med ON med.lang = d.lang
        WHERE d.n_chars >= med.med
        GROUP BY d.lang ORDER BY d.lang""")),

    // ---- q95: bigram-LM likelihood scoring (perplexity-style filter) ------
    // The CCNet-style quality signal: train a word-bigram language model
    // on the corpus itself (conditional probabilities from one grouped
    // count), then score every document by its mean quantized conditional
    // probability — low scores mark documents whose word sequences the
    // corpus finds surprising (boilerplate, noise, wrong language). All
    // arithmetic is integer-exact: per-occurrence scores are
    // floor(1e6 * c(w1,w2) / c(w1)) so both engines sum identical
    // integers in any order. Scale: two shuffles (bigram count, per-doc
    // sum) over an exploded-but-narrow stream; the model is never
    // collected — it joins back distributively.
    QueryDef(
      "q95_bigram_lm_score",
      (s, dir) => {
        val t = Tables(s, dir)
        val toks = t.documents.select(col("doc_id"), split(col("text"), " ").as("ws"))
          // single-token documents have no bigrams — and sequence(0, -1)
          // counts DOWN, indexing past the array (same guard as q99)
          .filter(size(col("ws")) >= 2)
        val big = toks
          .select(col("doc_id"),
            explode(expr(
              "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"))
              .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
        val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        big.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
          .withColumn("q", floor(col("c12") * lit(1000000.0) / col("c1")).cast("long"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_bigrams"),
            sum(col("q")).as("total"))
          .select(col("doc_id"), col("n_bigrams"),
            floor(col("total") / col("n_bigrams")).cast("long").as("lm_score"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        idx AS (
          SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks),
        big AS (
          SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM idx),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2)
        SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(FLOOR(SUM(FLOOR(c12.c12 * 1000000.0 / c1.c1)) / COUNT(*)) AS BIGINT)
                 AS lm_score
        FROM big b JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
        JOIN c1 ON c1.w1 = b.w1
        GROUP BY b.doc_id ORDER BY b.doc_id""")),

    // ---- q96: RAG chunking — overlapping token windows --------------------
    // The retrieval-corpus preparation step: every document splits into
    // 64-token chunks with a 16-token overlap (stride 48), each chunk
    // carrying its span and boundary tokens. Pure per-row array algebra
    // (sequence + slice inside codegen, one explode) — no shuffle at all
    // until the final order, so it streams at corpus scale.
    QueryDef(
      "q96_rag_chunks",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"), size(col("ws")).as("n"),
            explode(expr("sequence(0, greatest(size(ws) - 1, 0), 48)")).as("start"),
            col("ws"))
          .select(col("doc_id"),
            (col("start") / 48).cast("long").as("chunk_idx"),
            least(lit(64), col("n") - col("start")).cast("long").as("chunk_len"),
            expr("ws[start]").as("first_tok"),
            expr("ws[least(start + 63, n - 1)]").as("last_tok"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS ws, len(string_split(text, ' ')) AS n
          FROM documents),
        starts AS (
          SELECT doc_id, ws, n,
                 unnest(range(0, GREATEST(n - 1, 0) + 1, 48)) AS i
          FROM toks)
        SELECT doc_id,
               CAST(i // 48 AS BIGINT) AS chunk_idx,
               CAST(LEAST(64, n - i) AS BIGINT) AS chunk_len,
               ws[i + 1] AS first_tok,
               ws[LEAST(i + 64, n)] AS last_tok
        FROM starts
        ORDER BY doc_id, chunk_idx""")),

    // ---- q98: DSIR-style importance weights -------------------------------
    // Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169): weight every document by how much its token
    // distribution looks like a TARGET domain (here: the 'en' slice)
    // relative to the whole corpus — w(doc) = mean over tokens of
    // P_target(w)/P_source(w), add-one smoothed and integer-quantized so
    // both engines agree bit-for-bit. High-weight documents are the ones
    // importance resampling keeps when fitting a corpus to a target
    // domain. Scale: two token-count aggregates (target + corpus) joined
    // back distributively — the model is never collected; DSIR's hashed
    // feature space is an executor-memory optimization this declarative
    // shape doesn't need.
    QueryDef(
      "q98_dsir_weights",
      (s, dir) => {
        val t = Tables(s, dir)
        val toks = t.documents
          .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        val cs = toks.groupBy("w").agg(count(lit(1)).as("cs"))
        val ct = toks.filter(col("lang") === "en")
          .groupBy("w").agg(count(lit(1)).as("ct"))
        toks.join(cs, Seq("w")).join(ct, Seq("w"), "left")
          .withColumn("q",
            floor((coalesce(col("ct"), lit(0L)) + lit(1)) * lit(1000000.0) /
              (col("cs") + lit(1))).cast("long"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_tokens"), sum(col("q")).as("total"))
          .select(col("doc_id"), col("n_tokens"),
            floor(col("total") / col("n_tokens")).cast("long").as("dsir_w"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        cs AS (SELECT w, COUNT(*) AS cs FROM toks GROUP BY w),
        ct AS (SELECT w, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY w)
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(FLOOR(SUM(FLOOR((COALESCE(ct.ct, 0) + 1) * 1000000.0 /
                 (cs.cs + 1))) / COUNT(*)) AS BIGINT) AS dsir_w
        FROM toks t JOIN cs ON cs.w = t.w LEFT JOIN ct ON ct.w = t.w
        GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // ---- q99: BPE merge induction (tokenizer training) --------------------
    // Two rounds of byte-pair-encoding training over the corpus: words
    // are spelled as space-separated symbols, the highest-count adjacent
    // pair (ties broken lexicographically) becomes the round's merge rule
    // and is fused everywhere, then the next round recounts. The classic
    // weighting trick keeps it cheap at any corpus size: pair statistics
    // run over DISTINCT words weighted by word frequency, so the heavy
    // recount is proportional to the vocabulary, not the corpus; each
    // rule is one row broadcast back. Both engines fuse with left-to-
    // right non-overlapping replace on the space-delimited spelling —
    // BPE's canonical merge order — so the rules and counts hash-match.
    // Output: the learned rules (rounds 1-2) and the round-3 candidate.
    QueryDef(
      "q99_bpe_merges",
      (s, dir) => {
        val t = Tables(s, dir)
        val words = t.documents
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("wc"))
          .withColumn("seq",
            concat(lit(" "),
              array_join(expr("regexp_extract_all(word, '.', 0)"), " "), lit(" ")))
        def pairCounts(wordsDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          wordsDf
            .select(col("wc"), expr("split(trim(seq), ' ')").as("ss"))
            // single-symbol words have no pairs (and sequence(0, -1)
            // would count DOWN, indexing past the array)
            .filter(size(col("ss")) >= 2)
            .select(col("wc"), explode(expr(
              "transform(sequence(0, size(ss) - 2), i -> concat(ss[i], ' ', ss[i + 1]))"))
              .as("pair"))
            .groupBy("pair").agg(sum(col("wc")).cast("long").as("cnt"))
        def best(pc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          pc.orderBy(desc("cnt"), col("pair")).limit(1)
        def fuse(wordsDf: org.apache.spark.sql.DataFrame, rule: org.apache.spark.sql.DataFrame) =
          wordsDf.crossJoin(broadcast(rule.select(col("pair").as("p"))))
            .withColumn("seq", expr(
              "replace(seq, concat(' ', p, ' '), concat(' ', replace(p, ' ', ''), ' '))"))
            .drop("p")
        val pc1 = pairCounts(words)
        val r1 = best(pc1)
        val w1 = fuse(words, r1)
        val pc2 = pairCounts(w1)
        val r2 = best(pc2)
        val w2 = fuse(w1, r2)
        val r3 = best(pairCounts(w2))
        r1.withColumn("round", lit(1L))
          .unionByName(r2.withColumn("round", lit(2L)))
          .unionByName(r3.withColumn("round", lit(3L)))
          .select(col("round"), col("pair"), col("cnt"))
          .orderBy(col("round"))
      },
      Some {
        def pc(src: String, out: String) =
          s"""${out}_s AS (
             |  SELECT wc, string_split(trim(seq), ' ') AS ss FROM $src),
             |${out}_p AS (
             |  SELECT wc, ss[i] || ' ' || ss[i + 1] AS pair
             |  FROM (SELECT wc, ss, unnest(range(1, len(ss))) AS i FROM ${out}_s)),
             |$out AS (
             |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM ${out}_p GROUP BY pair)"""
            .stripMargin
        def best(pcName: String, out: String) =
          s"""$out AS (
             |  SELECT pair, cnt FROM $pcName ORDER BY cnt DESC, pair LIMIT 1)"""
            .stripMargin
        def fuse(src: String, rule: String, out: String) =
          s"""$out AS (
             |  SELECT wc, replace(seq, ' ' || r.pair || ' ',
             |    ' ' || replace(r.pair, ' ', '') || ' ') AS seq
             |  FROM $src CROSS JOIN $rule r)""".stripMargin
        s"""WITH words AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE length(word) > 0 GROUP BY word),
        w0 AS (
          SELECT wc, ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' ' AS seq
          FROM words),
        ${pc("w0", "pc1")}, ${best("pc1", "r1")}, ${fuse("w0", "r1", "w1")},
        ${pc("w1", "pc2")}, ${best("pc2", "r2")}, ${fuse("w1", "r2", "w2")},
        ${pc("w2", "pc3")}, ${best("pc3", "r3")}
        SELECT CAST(1 AS BIGINT) AS round, pair, cnt FROM r1
        UNION ALL SELECT CAST(2 AS BIGINT), pair, cnt FROM r2
        UNION ALL SELECT CAST(3 AS BIGINT), pair, cnt FROM r3
        ORDER BY round"""
      }),

    // ---- q105: BPE encoding — apply the learned merges --------------------
    // The train→apply pair to q99: every document is encoded with the two
    // learned merge rules and reports its token count, character mass,
    // and post-merge SYMBOL count — the compression the tokenizer buys.
    // Scale shape: the encoder runs over the VOCABULARY (distinct words
    // fused through the broadcast rules) and joins back to the token
    // stream — per-word work never repeats per occurrence.
    QueryDef(
      "q105_bpe_encode",
      (s, dir) => {
        val t = Tables(s, dir)
        val words = t.documents
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("wc"))
          .withColumn("seq",
            concat(lit(" "),
              array_join(expr("regexp_extract_all(word, '.', 0)"), " "), lit(" ")))
        def pairCounts(wordsDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          wordsDf
            .select(col("wc"), expr("split(trim(seq), ' ')").as("ss"))
            .filter(size(col("ss")) >= 2)
            .select(col("wc"), explode(expr(
              "transform(sequence(0, size(ss) - 2), i -> concat(ss[i], ' ', ss[i + 1]))"))
              .as("pair"))
            .groupBy("pair").agg(sum(col("wc")).cast("long").as("cnt"))
        def best(pc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          pc.orderBy(desc("cnt"), col("pair")).limit(1)
        def fuse(wordsDf: org.apache.spark.sql.DataFrame, rule: org.apache.spark.sql.DataFrame) =
          wordsDf.crossJoin(broadcast(rule.select(col("pair").as("p"))))
            .withColumn("seq", expr(
              "replace(seq, concat(' ', p, ' '), concat(' ', replace(p, ' ', ''), ' '))"))
            .drop("p")
        val w1 = fuse(words, best(pairCounts(words)))
        val w2 = fuse(w1, best(pairCounts(w1)))
        val encoded = w2.select(col("word"),
          size(expr("split(trim(seq), ' ')")).cast("long").as("n_sym"))
        t.documents
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .join(encoded, "word")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_tokens"),
            sum(length(col("word"))).cast("long").as("n_chars_tok"),
            sum(col("n_sym")).cast("long").as("n_symbols"))
          .orderBy(col("doc_id"))
      },
      Some {
        def pc(src: String, out: String) =
          s"""${out}_s AS (
             |  SELECT wc, string_split(trim(seq), ' ') AS ss FROM $src),
             |${out}_p AS (
             |  SELECT wc, ss[i] || ' ' || ss[i + 1] AS pair
             |  FROM (SELECT wc, ss, unnest(range(1, len(ss))) AS i FROM ${out}_s)),
             |$out AS (
             |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM ${out}_p GROUP BY pair)"""
            .stripMargin
        def best(pcName: String, out: String) =
          s"""$out AS (
             |  SELECT pair, cnt FROM $pcName ORDER BY cnt DESC, pair LIMIT 1)"""
            .stripMargin
        def fuse(src: String, rule: String, out: String) =
          s"""$out AS (
             |  SELECT word, wc, replace(seq, ' ' || r.pair || ' ',
             |    ' ' || replace(r.pair, ' ', '') || ' ') AS seq
             |  FROM $src CROSS JOIN $rule r)""".stripMargin
        s"""WITH words AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
          WHERE length(word) > 0 GROUP BY word),
        w0 AS (
          SELECT word, wc,
                 ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' ' AS seq
          FROM words),
        ${pc("w0", "pc1")}, ${best("pc1", "r1")}, ${fuse("w0", "r1", "w1")},
        ${pc("w1", "pc2")}, ${best("pc2", "r2")}, ${fuse("w1", "r2", "w2")},
        encoded AS (
          SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_sym
          FROM w2),
        toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(length(t.word)) AS BIGINT) AS n_chars_tok,
               CAST(SUM(e.n_sym) AS BIGINT) AS n_symbols
        FROM toks t JOIN encoded e ON e.word = t.word
        WHERE length(t.word) > 0
        GROUP BY t.doc_id ORDER BY t.doc_id"""
      }),

    // ---- q117: boilerplate removal (corpus-frequency filter) --------------
    // The C4/CCNet boilerplate pass, distinct from q82's keep-first
    // dedup: a 6-word chunk that appears in >= 3 DISTINCT documents is
    // boilerplate (nav bars, footers, license blurbs) and is removed from
    // EVERY document (no survivor); trailing fragments shorter than 3
    // words are dropped as noise. Scale shape: explode → distinct →
    // map-side-combining doc-frequency aggregate → equality join back —
    // all linear, no pairwise work.
    QueryDef(
      "q117_boilerplate",
      (s, dir) => {
        val t = Tables(s, dir)
        val occ = t.documents
          .select(col("doc_id"), split(col("text"), " ").as("sp"))
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, cast((size(sp) + 5) div 6 as int) - 1), i -> concat_ws(' ', slice(sp, i * 6 + 1, 6)))"))
              .as(Seq("pos", "chunk")))
        val dfreq = occ.select(col("doc_id"), col("chunk")).distinct()
          .groupBy(col("chunk")).agg(count(lit(1)).as("docs"))
        occ.join(dfreq, "chunk")
          .withColumn("boiler",
            col("docs") >= 3 || size(split(col("chunk"), " ")) < 3)
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("boiler"), 1L).otherwise(0L)).cast("long").as("n_boiler"),
            expr("""md5(cast(concat_ws(' ',
                 transform(array_sort(collect_list(CASE WHEN NOT boiler THEN struct(pos, chunk) END)),
                           x -> x.chunk)) as binary))""").as("digest"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        occ0 AS (SELECT doc_id, sp, unnest(range((len(sp) + 5) // 6)) AS pos FROM t),
        occ AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  array_to_string(sp[pos * 6 + 1 : pos * 6 + 6], ' ') AS chunk
                FROM occ0),
        dfreq AS (SELECT chunk, COUNT(*) AS docs
                  FROM (SELECT DISTINCT doc_id, chunk FROM occ) GROUP BY chunk),
        flags AS (SELECT o.doc_id, o.pos, o.chunk,
                    (d.docs >= 3 OR len(string_split(o.chunk, ' ')) < 3) AS boiler
                  FROM occ o JOIN dfreq d USING (chunk))
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
          md5(coalesce(string_agg(CASE WHEN NOT boiler THEN chunk END, ' ' ORDER BY pos), '')) AS digest
        FROM flags GROUP BY doc_id ORDER BY doc_id""")),

    // ---- q119: quality-classifier TRAINING (averaged perceptron) ---------
    // The fastText-filter shape, trained distributively: per-doc
    // VOCABULARY-count features (q50's induction — hash only when the
    // vocabulary outgrows the model broadcast), centered integer-exactly
    // (x = 32·count − total, killing the common document-length
    // direction), label +1 when the doc's join/merge/sort token mass
    // beats its scan/filter/query mass — a linear function of the
    // features, so honestly learnable (the corpus' lang column is
    // INDEPENDENT of its text; nothing can learn that). Four batch
    // perceptron rounds (w += Σ y·x over the misclassified; with w₀ = 0
    // every doc starts misclassified), scored under the AVERAGED model
    // Σᵣ wᵣ (Freund & Schapire 1999 — the raw batch iterate oscillates,
    // the average reaches ~87%). All-INTEGER updates, so the engines
    // agree bit-for-bit and the oracle UNROLLS the training (the k-means
    // trick, q66). Scale shape: per round one broadcast of the
    // vocabulary-sized model + one margin aggregate + one gradient
    // aggregate — the corpus shuffles once per round, the MODEL is the
    // only collect (vocabulary rows, the justified k-means pattern).
    QueryDef(
      "q119_perceptron",
      (s, dir) => {
        val t = Tables(s, dir)
        val toks = t.documents
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val labels = toks.groupBy(col("doc_id")).agg(
          sum(when(col("w").isin("join", "merge", "sort"), 1L).otherwise(0L))
            .as("pa"),
          sum(when(col("w").isin("scan", "filter", "query"), 1L).otherwise(0L))
            .as("pb"))
          .select(col("doc_id"),
            when(col("pa") > col("pb"), 1L).otherwise(-1L).as("y"))
        val raw = toks.groupBy(col("doc_id"), col("w").as("j"))
          .agg(count(lit(1)).as("c"))
        // cap the feature space (see PerceptronVocabCap): counts and totals
        // are computed over the capped vocabulary so features stay
        // self-consistent, and the per-round gradient is O(cap)
        val capped = raw.join(
          broadcast(perceptronVocab(raw, PerceptronVocabCap)), "j")
        val tot = capped.groupBy(col("doc_id")).agg(sum(col("c")).as("t"))
        val feats = capped.join(tot, "doc_id")
          .select(col("doc_id"), col("j"),
            (lit(32L) * col("c") - col("t")).as("x"))
          .join(labels, "doc_id")
          .persist()
        val wSchema = org.apache.spark.sql.types.StructType
          .fromDDL("j STRING, wj BIGINT")
        var w = Map.empty[String, Long]
        var wSum = Map.empty[String, Long]
        for (_ <- 1 to 4) {
          val wDf = if (w.isEmpty)
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], wSchema)
          else s.createDataFrame(w.toSeq.map(p =>
            org.apache.spark.sql.Row(p._1, p._2)).asJava, wSchema)
          val mis = feats.join(broadcast(wDf), Seq("j"), "left")
            .groupBy(col("doc_id"), col("y"))
            .agg(sum(col("x") * coalesce(col("wj"), lit(0L))).as("m"))
            .filter(col("y") * col("m") <= 0)
            .select(col("doc_id"), col("y").as("ym"))
          val grad = feats.join(mis, "doc_id")
            .groupBy(col("j")).agg(sum(col("ym") * col("x")).as("g"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          w = (w.keySet ++ grad.keySet).iterator
            .map(j => j -> (w.getOrElse(j, 0L) + grad.getOrElse(j, 0L))).toMap
          wSum = (wSum.keySet ++ w.keySet).iterator
            .map(j => j -> (wSum.getOrElse(j, 0L) + w.getOrElse(j, 0L))).toMap
        }
        val wDf = s.createDataFrame(wSum.toSeq.sortBy(_._1).map(p =>
          org.apache.spark.sql.Row(p._1, p._2)).asJava, wSchema)
        val out = feats.join(broadcast(wDf), Seq("j"), "left")
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(col("x") * coalesce(col("wj"), lit(0L))).as("m"))
          .groupBy(col("y"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("m") > 0, 1L).otherwise(0L)).cast("long").as("pred_pos"),
            sum(abs(col("m"))).cast("long").as("margin_mass"))
          .orderBy(col("y"))
        feats.unpersist()
        out
      },
      Some {
        // one perceptron round: margins under `in`, gradient over the
        // misclassified, `out` = in + gradient
        def perceptronRound(in: String, out: String) =
          s"""${out}_m AS (
             |  SELECT f.doc_id, f.y, SUM(f.x * COALESCE($in.wj, 0)) AS m
             |  FROM feats f LEFT JOIN $in USING (j) GROUP BY f.doc_id, f.y),
             |${out}_g AS (
             |  SELECT f.j, CAST(SUM(s.y * f.x) AS BIGINT) AS gj
             |  FROM feats f JOIN (SELECT doc_id, y FROM ${out}_m WHERE y * m <= 0) s
             |    USING (doc_id) GROUP BY f.j),
             |$out AS (
             |  SELECT COALESCE($in.j, g.j) AS j,
             |    COALESCE($in.wj, 0) + COALESCE(g.gj, 0) AS wj
             |  FROM $in FULL JOIN ${out}_g g ON $in.j = g.j)""".stripMargin
        s"""WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        labels AS (
          SELECT doc_id,
            CASE WHEN SUM(CASE WHEN w IN ('join','merge','sort') THEN 1 ELSE 0 END) >
                      SUM(CASE WHEN w IN ('scan','filter','query') THEN 1 ELSE 0 END)
                 THEN 1 ELSE -1 END AS y
          FROM toks WHERE length(w) > 0 GROUP BY doc_id),
        raw AS (
          SELECT doc_id, w AS j, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks WHERE length(w) > 0 GROUP BY doc_id, w),
        vocab AS ( -- the deterministic top-N cap, mirrored from Spark
          SELECT j FROM (SELECT j, COUNT(*) AS df FROM raw GROUP BY j)
          ORDER BY df DESC, j LIMIT ${PerceptronVocabCap}),
        capped AS (SELECT r.* FROM raw r JOIN vocab USING (j)),
        tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t FROM capped GROUP BY doc_id),
        feats AS (
          SELECT r.doc_id, r.j, 32 * r.c - tt.t AS x, l.y
          FROM capped r JOIN tot tt USING (doc_id) JOIN labels l USING (doc_id)),
        w1 AS ( -- w0 = 0: every margin is 0, every doc misclassified
          SELECT j, CAST(SUM(y * x) AS BIGINT) AS wj FROM feats GROUP BY j),
        ${perceptronRound("w1", "w2")},
        ${perceptronRound("w2", "w3")},
        ${perceptronRound("w3", "w4")},
        wsum AS (
          SELECT j, CAST(SUM(wj) AS BIGINT) AS wj FROM (
            SELECT j, wj FROM w1 UNION ALL
            SELECT j, wj FROM w2 UNION ALL
            SELECT j, wj FROM w3 UNION ALL
            SELECT j, wj FROM w4)
          GROUP BY j),
        mf AS (
          SELECT f.doc_id, f.y, SUM(f.x * COALESCE(wsum.wj, 0)) AS m
          FROM feats f LEFT JOIN wsum USING (j) GROUP BY f.doc_id, f.y)
        SELECT CAST(y AS BIGINT) AS y, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pred_pos,
          CAST(SUM(ABS(m)) AS BIGINT) AS margin_mass
        FROM mf GROUP BY y ORDER BY y"""
      }),

    // ---- q122: per-source document cap (crawl-style domain capping) -------
    // The per-domain cap every crawl-derived corpus applies (no single
    // domain may dominate training): keep at most 10 documents per source,
    // chosen by SALTED-HASH rank — a pure function of (salt, doc_id), so
    // the kept subset is stable across runs, engines, and partitionings,
    // and is uncorrelated with doc order or content. Scale shape: one
    // window per source partition (rank by hash) + the final per-source
    // aggregate; no global sort, no collect. A skewed mega-source ranks
    // inside its own partition only — the cap is exactly the skew bound.
    QueryDef(
      "q122_source_cap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables(s, dir).documents
          .withColumn("hk", md5(concat(lit("cap:"), col("doc_id").cast("string"))
            .cast("binary")))
        d.withColumn("rk",
            row_number().over(Window.partitionBy(col("source"))
              .orderBy(col("hk"), col("doc_id"))))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).cast("long").as("n_total"),
            sum(when(col("rk") <= 10, 1L).otherwise(0L)).cast("long").as("n_kept"),
            sum(when(col("rk") <= 10, col("n_chars"))).cast("long").as("chars_kept"),
            expr("""md5(cast(concat_ws(',',
                 array_sort(collect_list(CASE WHEN rk <= 10 THEN doc_id END))) as binary))""")
              .as("digest"))
          .orderBy(col("source"))
      },
      Some("""WITH h AS (SELECT source, doc_id, n_chars,
                md5('cap:' || CAST(doc_id AS VARCHAR)) AS hk
              FROM documents),
        r AS (SELECT source, doc_id, n_chars,
                ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk
              FROM h)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
          CAST(SUM(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN rk <= 10 THEN n_chars END) AS BIGINT) AS chars_kept,
          md5(string_agg(CASE WHEN rk <= 10 THEN CAST(doc_id AS VARCHAR) END, ','
                         ORDER BY doc_id)) AS digest
        FROM r GROUP BY source ORDER BY source"""))
  )
}
