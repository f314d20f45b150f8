package graft.queries

import graft.cdc.ChangeLog
import graft.dedup.SimHash
import graft.multimodal.Multimodal
import graft.sim.Vectors
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond the reference's surface (SURVEY §7
  * phase E): deduplication (exact / MinHash+LSH / SimHash / n-gram Jaccard /
  * embedding cosine), similarity search (brute-force, IVF-pruned, sign-LSH
  * buckets), text analysis (tokens, quality, language-ID, fingerprints) and
  * multimodal binary columns.
  *
  * Parity design: md5 hex strings are the only hash primitive (identical in
  * Spark and DuckDB); MinHash minimizes md5 strings lexicographically; all
  * float outputs are rounded; all counts cast to BIGINT on both sides.
  *
  * Scale design notes are on each operator — the LSH family exists exactly so
  * the O(n²) work never happens: candidates come from equality joins on band
  * hashes (shuffle on a well-distributed key), and expensive verification
  * (exact Jaccard) runs only on candidates.
  */
object ExtQueries {
  import CdcQueries.QFn

  private def docs(s: SparkSession, dir: String) = ChangeLog.table(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = ChangeLog.table(s, dir, "embeddings")

  private val toksCte =
    """WITH toks AS (
      |  SELECT doc_id, lang, source, text,
      |         regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents)""".stripMargin

  // ---------------- text analysis ----------------

  val textTokens: (QFn, String) = (
    (s, dir) => docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(TextAnalysis.tokensCol(col("text"))).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_bpe")),
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe
       |FROM documents""".stripMargin)

  // Ratios and the composite score are INTEGER per-million values — a
  // rounded double composite sits on round-at-boundary cases where Spark
  // (HALF_UP on the exact binary value) and DuckDB (scaled-double rounding)
  // disagree by one ulp; integer floor-division arithmetic is exact in both.
  val textQuality: (QFn, String) = {
    val fn: QFn = (s, dir) => {
      val t = TextAnalysis.tokensCol(col("text"))
      val nTok = size(t).cast("long")
      val nChars = length(col("text")).cast("long")
      val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
      val stops = TextAnalysis.vocabHits(t, TextAnalysis.Stopwords).cast("long")
      docs(s, dir)
        .select(col("doc_id"), nChars.as("n_chars"), nTok.as("n_tokens"),
          alpha.as("alpha"), stops.as("stops"))
        .select(
          col("doc_id"), col("n_chars"), col("n_tokens"),
          expr("alpha * 1000000 div greatest(n_chars, 1)").as("alpha_pm"),
          expr("stops * 1000000 div greatest(n_tokens, 1)").as("stop_pm"),
          (expr("alpha * 250000 div greatest(n_chars, 1)")
            + expr("least(stops * 5, n_tokens) * 250000 div greatest(n_tokens, 1)")
            + expr("least(n_tokens, 100) * 500000 div 100")).as("quality_pm"))
    }
    val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    (fn,
      s"""$toksCte, m AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(t) AS BIGINT) AS n_tokens,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha,
         |    CAST(len(list_filter(t, x -> list_contains($stopList, x))) AS BIGINT) AS stops
         |  FROM toks)
         |SELECT doc_id, n_chars, n_tokens,
         |  alpha * 1000000 // greatest(n_chars, 1) AS alpha_pm,
         |  stops * 1000000 // greatest(n_tokens, 1) AS stop_pm,
         |  (alpha * 250000 // greatest(n_chars, 1))
         |    + (least(stops * 5, n_tokens) * 250000 // greatest(n_tokens, 1))
         |    + (least(n_tokens, 100) * 500000 // 100) AS quality_pm
         |FROM m""".stripMargin)
  }

  val textLangId: (QFn, String) = {
    val fn: QFn = (s, dir) => {
      val t = TextAnalysis.tokensCol(col("text"))
      val scores = TextAnalysis.LangProfiles.map { case (l, ws) =>
        TextAnalysis.vocabHits(t, ws).cast("long").as(s"s_$l")
      }
      val base = docs(s, dir).select(col("doc_id") +: col("lang") +: scores: _*)
      base.withColumn("pred_lang",
        when(col("s_en") === 0 && col("s_de") === 0 && col("s_fr") === 0, "und")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
    }
    val profs = TextAnalysis.LangProfiles.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"CAST(len(list_filter(t, x -> list_contains($lst, x))) AS BIGINT) AS s_$l"
    }.mkString(",\n  ")
    (fn,
      s"""$toksCte, scored AS (
         |SELECT doc_id, lang, $profs FROM toks)
         |SELECT doc_id, lang, s_en, s_de, s_fr,
         |  CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
         |       WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang
         |FROM scored""".stripMargin)
  }

  // Corpus vocabulary statistics: document frequency, total term frequency
  // and df-rank for the TOP 100 tokens — the integer core of tf-idf
  // (log-free: libm differences between engines make ln() outputs unsafe to
  // hash-compare). The orderBy+limit plans as TakeOrderedAndProject — a
  // distributed partial top-k where each partition forwards at most 100
  // rows — and the rank window then runs on 100 rows. (The previous form
  // ranked the WHOLE vocabulary through one unpartitioned window task — a
  // single-task global sort of 10^8+ rows on a real corpus.)
  val textVocabStats: (QFn, String) = (
    (s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokensCol(col("text"))).as("w"))
        .groupBy("w")
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      val top = tf.orderBy(col("df").desc, col("w")).limit(100)
      val w = Window.orderBy(col("df").desc, col("w"))
      top.withColumn("df_rank", row_number().over(w).cast("long"))
    },
    s"""$toksCte, tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
       |tf AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       |         CAST(count(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY w),
       |top AS (SELECT * FROM tf ORDER BY df DESC, w LIMIT 100)
       |SELECT w, df, tf,
       |  CAST(row_number() OVER (ORDER BY df DESC, w) AS BIGINT) AS df_rank
       |FROM top""".stripMargin)

  // IDF-flavored rarity scoring in EXACT integers — the "how unusual is
  // this document's vocabulary" signal used for corpus curation (rare-token
  // documents are either high-value long tail or garbage; either way they
  // get routed differently). Per token: weight = 1e6 div df (integer
  // division — no log(), whose libm rounding differs across engines and
  // breaks hash-exactness); per document: sum and integer mean over
  // DISTINCT tokens. Two shuffles — the df build and the join back — the
  // canonical IDF shape; the df side is corpus-vocabulary-sized and AQE
  // broadcasts it when small.
  val textRarityScore: (QFn, String) = (
    (s, dir) => {
      val tok = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokensCol(col("text")))).as("w"))
      val dfx = tok.groupBy("w").agg(count(lit(1)).as("df"))
      tok.join(dfx, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_distinct"),
          sum(expr("1000000 div df")).as("rarity_sum"))
        .withColumn("rarity_mean", expr("rarity_sum div n_distinct"))
    },
    s"""$toksCte,
       |tok AS (SELECT doc_id, unnest(list_distinct(t)) AS w FROM toks),
       |dfx AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY w),
       |j AS (SELECT t.doc_id, 1000000 // d.df AS wgt
       |      FROM tok t JOIN dfx d ON t.w = d.w)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
       |  CAST(sum(wgt) AS BIGINT) AS rarity_sum,
       |  CAST(sum(wgt) // count(*) AS BIGINT) AS rarity_mean
       |FROM j GROUP BY doc_id""".stripMargin)

  // Repeated n-gram fraction — the standard repetition quality gate for
  // training corpora (the "duplicate n-gram fraction" family of filter
  // rules): documents dominated by repeated 2/3-grams are boilerplate or
  // degenerate generations. Integer per-million (same parity rationale as
  // text_quality). Pure codegen'd array expressions over one scan — the
  // grams never explode into rows, so the per-doc work is bounded by
  // doc length and shuffles nothing.
  val textRepetition: (QFn, String) = (
    (s, dir) => {
      def grams(n: Int) = expr(
        s"CASE WHEN size(t) >= $n THEN transform(sequence(0, size(t) - $n), " +
          s"i -> concat_ws(' ', slice(t, i + 1, $n))) " +
          "ELSE array() END")
      // fanned (r19): the per-row gram build + two array_distinct passes
      // are the one text kernel heavy enough that parallelizing the
      // single-task fixture scan beats the added exchange (A/B: 0.82 ->
      // 0.62 s; the same fan on the LIGHT text queries measured net
      // negative and is deliberately absent there — see OPTIMIZATION_r19)
      graft.util.ScanFanout.fan(docs(s, dir))
        .withColumn("t", TextAnalysis.tokensCol(col("text")))
        .withColumn("g2", grams(2)).withColumn("g3", grams(3))
        .select(col("doc_id"),
          size(col("g2")).cast("long").as("n2"),
          size(col("g3")).cast("long").as("n3"),
          expr("CAST(size(g2) - size(array_distinct(g2)) AS BIGINT) " +
            "* 1000000 div greatest(size(g2), 1)").as("dup2_pm"),
          expr("CAST(size(g3) - size(array_distinct(g3)) AS BIGINT) " +
            "* 1000000 div greatest(size(g3), 1)").as("dup3_pm"))
    },
    s"""$toksCte, g AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 2 THEN list_transform(range(len(t) - 1),
       |      i -> t[i+1] || ' ' || t[i+2]) ELSE [] END AS g2,
       |    CASE WHEN len(t) >= 3 THEN list_transform(range(len(t) - 2),
       |      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) ELSE [] END AS g3
       |  FROM toks)
       |SELECT doc_id, CAST(len(g2) AS BIGINT) AS n2,
       |  CAST(len(g3) AS BIGINT) AS n3,
       |  CAST(len(g2) - len(list_distinct(g2)) AS BIGINT) * 1000000
       |    // greatest(len(g2), 1) AS dup2_pm,
       |  CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) * 1000000
       |    // greatest(len(g3), 1) AS dup3_pm
       |FROM g""".stripMargin)

  val textFingerprint: (QFn, String) = (
    (s, dir) => {
      val norm = TextAnalysis.normalizedCol(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        md5(norm).as("fp_norm"),
        md5(array_join(array_sort(array_distinct(
          TextAnalysis.tokensCol(col("text")))), " ")).as("fp_tokens"))
    },
    s"""$toksCte
       |SELECT doc_id,
       |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS fp_norm,
       |  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp_tokens
       |FROM toks""".stripMargin)

  // ---------------- dedup family ----------------

  // Exact dedup: hash-groupBy on content — one shuffle on md5(text); the
  // canonical id is the group min (keep-first policy).
  val dedupExact: (QFn, String) = (
    (s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      docs(s, dir).select(
        col("doc_id"),
        min(col("doc_id")).over(w).as("canonical_id"),
        count(lit(1)).over(w).cast("long").as("group_n"))
        .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
    },
    """SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
      |  CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_n,
      |  doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      |FROM documents""".stripMargin)

  /** Persist-once registry for the shared LSH subtrees, keyed by (session,
    * kind, dir): repeat invocations of the query family reuse the SAME
    * cached DataFrame instead of re-persisting a fresh copy per call — the
    * per-invocation `.persist()` this replaces leaked one cached plan per
    * query run in a long-lived session. Entries are bounded by the number of
    * distinct data dirs the session touches.
    *
    * ASSUMPTION: a data dir is immutable for the lifetime of its cache entry
    * (true for the engine's inputs — parquet fixture dirs are written once).
    * If a dir's contents change in-session, call [[invalidateSubtreeCache]]
    * or the LSH family serves the stale persisted snapshot. Entries pin
    * their SparkSession until invalidated; stopped-session entries are
    * cleared by the same call. */
  private val subtreeCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Unpersist + drop cache entries: all of them (no args), or only those
    * for `dir`. Also reaps entries whose session has been stopped. */
  def invalidateSubtreeCache(dir: Option[String] = None): Unit =
    subtreeCache.keys.toSeq.foreach { k =>
      val stale = dir.forall(_ == k._3) || k._1.sparkContext.isStopped
      if (stale) subtreeCache.remove(k).foreach { df =>
        if (!k._1.sparkContext.isStopped) df.unpersist()
      }
    }

  /** Shared Spark-side shingle set (distinct word-3-shingles, exploded).
    * Persisted: the LSH family (candidates, estimator, exact Jaccard) reuses
    * this subtree several times within and across queries, and Spark's cache
    * manager matches it by canonicalized plan. Small relative to the corpus
    * (≈80 shingles/doc). */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    subtreeCache.getOrElseUpdate((s, "shingles", dir),
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          explode(TextAnalysis.shinglesCol(col("t"), 3)).as("s"))
        .persist())

  private val shCte =
    """sh AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(generate_series(1, len(t)-2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |  FROM toks WHERE len(t) >= 3)""".stripMargin

  private val sigCte = {
    val mins = (1 to 8).map(j => s"min(md5('$j:' || s)) AS m$j").mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"
  }

  private val bandsCte = {
    val rows = (1 to 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(m${2 * b - 1} || m${2 * b}) AS h FROM sig")
    s"bands AS (${rows.mkString(" UNION ALL ")})"
  }

  /** Benchmark gram set (distinct word-3-shingles of the doc_id % 97 = 0
    * eval slice), persisted once per (session, dir): the decontamination
    * family evaluates it up to three times per run (bloom sizing count,
    * bloom bitmap build, exact broadcast join) — without this entry each of
    * those re-ran the filter→distinct shuffle over the shingle subtree. */
  private def benchGrams(s: SparkSession, dir: String): DataFrame =
    subtreeCache.getOrElseUpdate((s, "bench_grams", dir),
      shingles(s, dir).withColumnRenamed("s", "gram")
        .filter(col("doc_id") % 97 === 0)
        .select("gram").distinct().persist())

  /** MinHash signatures (8 hashes), persisted for the same reuse reason. */
  private def sigDF(s: SparkSession, dir: String): DataFrame =
    subtreeCache.getOrElseUpdate((s, "sig", dir), {
      // minOrd, not min: a string buffer demotes the whole aggregate to a
      // SortAggregate (two full sorts of the shingle set per
      // materialization); the typed-imperative form stays an
      // ObjectHashAggregate (r19, MinMaxOrdSpec pins equivalence)
      val mins = (1 to 8).map(j => graft.functions.MinMaxOrd
        .minOrd(md5(concat(lit(s"$j:"), col("s")))).as(s"m$j"))
      shingles(s, dir).groupBy("doc_id").agg(mins.head, mins.tail: _*).persist()
    })

  /** Spark-side LSH bands (4 bands × 2 rows) over the signatures. */
  private def lshBands(s: SparkSession, dir: String): DataFrame = {
    sigDF(s, dir).select(col("doc_id"), explode(array((1 to 4).map(b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"m${2 * b - 1}"), col(s"m${2 * b}"))).as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
  }

  private def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val bands = lshBands(s, dir)
    bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Memoized near-dup pair graph — the [[dedupNgramJaccard]] pair output
    * (doc_a, doc_b), persisted once per (session, dir) and shared by the
    * FIVE cluster-tier consumers (components, components_doubling,
    * keep_best, soft_weights, cluster_stats), each of which previously
    * re-ran the full candidate→verify join chain per invocation. Same
    * discipline as [[knnEdgeCache]] on the embedding side: a real pipeline
    * materializes the verified pair list once and every clustering
    * analytic reads that materialization; `dedup_ngram_jaccard` itself
    * stays on the raw build path so the bench keeps pricing the pair
    * build honestly (r19, guide §1.2 step 1 — don't recompute what the
    * tier already computed). */
  private def jacPairs(s: SparkSession, dir: String): DataFrame =
    subtreeCache.getOrElseUpdate((s, "jac_pairs", dir),
      dedupNgramJaccard._1(s, dir).select(col("doc_a"), col("doc_b"))
        .persist())

  // MinHash + LSH near-dup candidates: shingle → 8-way minhash → band hash →
  // equality self-join on (band, h). The join key is a hash — uniformly
  // distributed, no skew; candidate count ≪ n² by construction.
  val dedupMinhashLsh: (QFn, String) = (
    (s, dir) => lshCandidates(s, dir),
    s"""$toksCte, $shCte, $sigCte, $bandsCte
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id""".stripMargin)

  // n-gram Jaccard verification over LSH candidates only (the scale path:
  // exact set similarity never touches non-candidate pairs).
  val dedupNgramJaccard: (QFn, String) = (
    (s, dir) => {
      val sh = shingles(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n"))
      val cand = lshCandidates(s, dir)
      val common = cand
        .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
        .join(sh.as("sb"), col("sb.doc_id") === col("doc_b") && col("sb.s") === col("sa.s"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      common
        .join(sizes.as("za"), col("za.doc_id") === col("doc_a"))
        .join(sizes.as("zb"), col("zb.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("n_common") * lit(1.0) /
            (col("za.n") + col("zb.n") - col("n_common")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    },
    s"""$toksCte, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
       |           FROM cand c
       |           JOIN sh a ON a.doc_id = c.doc_a
       |           JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |           GROUP BY c.doc_a, c.doc_b)
       |SELECT * FROM (
       |  SELECT m.doc_a, m.doc_b,
       |    round(m.n_common * 1.0 / (za.n + zb.n - m.n_common), 4) AS jaccard
       |  FROM common m
       |  JOIN sizes za ON za.doc_id = m.doc_a
       |  JOIN sizes zb ON zb.doc_id = m.doc_b)
       |WHERE jaccard >= 0.5""".stripMargin)

  // Connected components over the near-dup pair graph — the step every
  // large-scale dedup pipeline runs AFTER pair generation: near-dup is
  // transitive in practice (A~B, B~C ⇒ one cluster), so keep-one-per-pair
  // under-deletes; clusters need a canonical id. Implementation is
  // min-label propagation to fixpoint — the same algorithm GraphX/
  // GraphFrames connected-components runs: each round is one join + one
  // min-aggregate (all partial-aggregable), rounds = graph diameter
  // (log-ish for near-dup clusters, which are dense), `localCheckpoint`
  // truncates the growing lineage each round (a reliable checkpoint dir at
  // 100 TB). Oracle: DuckDB recursive CTE propagating seeds transitively.
  val dedupComponents: (QFn, String) = (
    (s, dir) => graft.dedup.Components
      .connected(jacPairs(s, dir))
      .select(col("node").as("doc_id"), col("component")),
    s"""${toksCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
       |           FROM cand c
       |           JOIN sh a ON a.doc_id = c.doc_a
       |           JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |           GROUP BY c.doc_a, c.doc_b),
       |jac AS (SELECT * FROM (
       |  SELECT m.doc_a, m.doc_b,
       |    round(m.n_common * 1.0 / (za.n + zb.n - m.n_common), 4) AS jaccard
       |  FROM common m
       |  JOIN sizes za ON za.doc_id = m.doc_a
       |  JOIN sizes zb ON zb.doc_id = m.doc_b)
       |  WHERE jaccard >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
       |          UNION ALL SELECT doc_b, doc_a FROM jac),
       |r(node, seed) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.seed FROM r JOIN edges e ON e.src = r.node)
       |SELECT node AS doc_id, CAST(min(seed) AS BIGINT) AS component
       |FROM r GROUP BY node""".stripMargin)

  // The high-diameter components variant behind the same API: alternating
  // large-star/small-star rounds (Kiveris et al., SoCC'14) contract path
  // length geometrically — O(log d) rounds where min propagation needs
  // O(d). Same pair graph, same oracle SQL: the two implementations must
  // agree value-exact, which is itself a cross-check of both fixpoints.
  val dedupComponentsDoubling: (QFn, String) = (
    (s, dir) => graft.dedup.Components
      .connectedDoubling(jacPairs(s, dir))
      .select(col("node").as("doc_id"), col("component")),
    dedupComponents._2)

  // Canonical-document selection — the step AFTER clustering in a real
  // dedup pipeline: inside each near-dup cluster keep exactly one document
  // (longest by n_chars, doc_id as the deterministic tiebreak); docs in no
  // cluster keep themselves. argmax is the partial-aggregable max(struct)
  // — the payload rides the maximum through map-side combine, no per-
  // cluster sort window. The components frame joins back un-hinted (AQE
  // broadcasts while it fits; at 100 TB it shuffle-joins on doc_id like
  // any keyed frame); only the |clusters|-row best frame gets an explicit
  // broadcast. Output is ALL docs with a keep flag — the downstream filter
  // is the caller's choice (hard drop vs soft weight).
  val dedupKeepBest: (QFn, String) = (
    (s, dir) => {
      val comp = graft.dedup.Components
        .connected(jacPairs(s, dir))
        .select(col("node").as("doc_id"), col("component"))
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
      val withComp = d.join(comp, Seq("doc_id"), "left")
      val best = withComp.filter(col("component").isNotNull)
        .groupBy(col("component"))
        .agg(graft.functions.MinMaxOrd
          .maxOrd(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("b"))
        .select(col("component"), col("b.neg_id").as("best_neg_id"))
      withComp.join(broadcast(best), Seq("component"), "left")
        .select(col("doc_id"),
          (col("component").isNull ||
            (-col("doc_id")) === col("best_neg_id")).as("keep"))
    },
    s"""${toksCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
       |           FROM cand c
       |           JOIN sh a ON a.doc_id = c.doc_a
       |           JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |           GROUP BY c.doc_a, c.doc_b),
       |jac AS (SELECT * FROM (
       |  SELECT m.doc_a, m.doc_b,
       |    round(m.n_common * 1.0 / (za.n + zb.n - m.n_common), 4) AS jaccard
       |  FROM common m
       |  JOIN sizes za ON za.doc_id = m.doc_a
       |  JOIN sizes zb ON zb.doc_id = m.doc_b)
       |  WHERE jaccard >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
       |          UNION ALL SELECT doc_b, doc_a FROM jac),
       |r(node, seed) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.seed FROM r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT node AS doc_id, CAST(min(seed) AS BIGINT) AS component
       |         FROM r GROUP BY node),
       |best AS (SELECT component, doc_id AS best_id FROM (
       |  SELECT c.component, c.doc_id,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY d.n_chars DESC, c.doc_id) AS rn
       |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id) WHERE rn = 1)
       |SELECT d.doc_id,
       |  (c.component IS NULL OR d.doc_id = b.best_id) AS keep
       |FROM documents d
       |LEFT JOIN comp c ON c.doc_id = d.doc_id
       |LEFT JOIN best b ON b.component = c.component""".stripMargin)

  // SoftDeDup weighting: instead of DROPPING near-duplicates, every doc in
  // an n-member near-dup cluster gets sampling weight 1/n (per-million) —
  // the total probability mass of a duplicated document stays ~constant,
  // which modern data recipes prefer over hard removal (dropping loses the
  // distributional signal that a doc was popular). Composition: the
  // components operator labels the near-dup graph, cluster sizes come from
  // ONE aggregate of the (tiny, checkpointed) label frame, and the corpus
  // left-joins the weights — docs outside the graph coalesce to weight 1.
  val dedupSoftWeights: (QFn, String) = (
    (s, dir) => {
      // tiny (near-dup docs only) and consumed twice — sizes + join
      val comp = graft.dedup.Components
        .connected(jacPairs(s, dir))
        .select(col("node").as("cdoc"), col("component"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      val sizes = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("csize"))
      val weights = comp.join(sizes, Seq("component"))
        .select(col("cdoc"), col("csize"))
      docs(s, dir).select(col("doc_id"))
        .join(weights, col("doc_id") === col("cdoc"), "left_outer")
        .select(col("doc_id"),
          expr("cast(1000000 as bigint) div coalesce(csize, cast(1 as bigint))")
            .as("weight_pm"))
    },
    s"""${toksCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
       |           FROM cand c
       |           JOIN sh a ON a.doc_id = c.doc_a
       |           JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |           GROUP BY c.doc_a, c.doc_b),
       |jac AS (SELECT * FROM (
       |  SELECT m.doc_a, m.doc_b,
       |    round(m.n_common * 1.0 / (za.n + zb.n - m.n_common), 4) AS jaccard
       |  FROM common m
       |  JOIN sizes za ON za.doc_id = m.doc_a
       |  JOIN sizes zb ON zb.doc_id = m.doc_b)
       |  WHERE jaccard >= 0.5),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
       |          UNION ALL SELECT doc_b, doc_a FROM jac),
       |r(node, seed) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.seed FROM r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT node, CAST(min(seed) AS BIGINT) AS component
       |         FROM r GROUP BY node),
       |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
       |       FROM comp GROUP BY 1),
       |w AS (SELECT c.node, s2.csize FROM comp c JOIN sz s2 USING (component))
       |SELECT d.doc_id,
       |  CAST(1000000 // coalesce(w.csize, 1) AS BIGINT) AS weight_pm
       |FROM documents d LEFT JOIN w ON d.doc_id = w.node""".stripMargin)

  // INCREMENTAL dedup — admit or reject a NEW batch against the EXISTING
  // corpus without re-clustering anything: the op a continuously-ingesting
  // 100 TB pipeline actually runs (the all-pairs tier re-labels the world;
  // this one prices a day's crawl against it). The corpus splits
  // deterministically (doc_id % 5 = 0 is the "new batch", ~20%); the new
  // side's LSH bands probe the base side's bands — in production the base
  // bands are a WRITTEN-ONCE index the daily job only reads, so per-batch
  // cost is |batch| signatures + one equality join on uniformly-hashed
  // (band, h) keys + exact verification on candidates only; nothing
  // rescales with corpus size except the (bucketed, pre-partitioned) index
  // probe itself. Every new doc gets a verdict row: admitted = 1 (no base
  // near-dup at j ≥ 0.5) or 0 with dup_of = its best base match (highest
  // j_e6, largest doc_id on ties — one rank-1 window over the tiny
  // candidate frame, both engines agree on the total order). Jaccard in
  // exact e6 integers, same headroom rule as the rest of the tier.
  val dedupIncremental: (QFn, String) = (
    (s, dir) => {
      val bands = lshBands(s, dir)
      val cand = bands.filter(col("doc_id") % 5 === 0).as("a")
        .join(bands.filter(col("doc_id") % 5 =!= 0).as("b"),
          col("a.band") === col("b.band") && col("a.h") === col("b.h"))
        .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("base_id"))
        .distinct()
      val sh = shingles(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n"))
      val jac = cand
        .join(sh.as("sa"), col("sa.doc_id") === col("new_id"))
        .join(sh.as("sb"),
          col("sb.doc_id") === col("base_id") && col("sb.s") === col("sa.s"))
        .groupBy(col("new_id"), col("base_id"))
        .agg(count(lit(1)).cast("long").as("n_common"))
        .join(sizes.as("za"), col("za.doc_id") === col("new_id"))
        .join(sizes.as("zb"), col("zb.doc_id") === col("base_id"))
        .select(col("new_id"), col("base_id"),
          expr("n_common * 1000000 div (za.n + zb.n - n_common)").as("j_e6"))
        .filter(col("j_e6") >= 500000)
      val best = jac.withColumn("rk", row_number().over(
          Window.partitionBy(col("new_id"))
            .orderBy(col("j_e6").desc, col("base_id").desc)))
        .filter(col("rk") === 1)
        .select(col("new_id").as("bid"), col("base_id").as("dup_of"),
          col("j_e6"))
      docs(s, dir).filter(col("doc_id") % 5 === 0).select(col("doc_id"))
        .join(best, col("doc_id") === col("bid"), "left_outer")
        .select(col("doc_id"),
          when(col("dup_of").isNull, lit(1L)).otherwise(lit(0L))
            .as("admitted"),
          col("dup_of"), col("j_e6"))
    },
    s"""$toksCte, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS base_id
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h
       |         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |jac AS (
       |  SELECT new_id, base_id,
       |    CAST(n_common * 1000000 // (za.n + zb.n - n_common) AS BIGINT) AS j_e6
       |  FROM (SELECT c.new_id, c.base_id, CAST(count(*) AS BIGINT) AS n_common
       |        FROM cand c
       |        JOIN sh a ON a.doc_id = c.new_id
       |        JOIN sh b ON b.doc_id = c.base_id AND b.s = a.s
       |        GROUP BY c.new_id, c.base_id) m
       |  JOIN sizes za ON za.doc_id = m.new_id
       |  JOIN sizes zb ON zb.doc_id = m.base_id
       |  WHERE n_common * 1000000 // (za.n + zb.n - n_common) >= 500000),
       |best AS (SELECT new_id, base_id AS dup_of, j_e6 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY new_id
       |    ORDER BY j_e6 DESC, base_id DESC) AS rk FROM jac) WHERE rk = 1)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admitted,
       |  dup_of, j_e6
       |FROM documents d LEFT JOIN best ON d.doc_id = best.new_id
       |WHERE d.doc_id % 5 = 0""".stripMargin)

  // Shingle CONTAINMENT (|A∩B| / |A|) on LSH candidate pairs — the
  // asymmetric near-dup signal Jaccard misses: a short document quoted
  // wholesale inside a long one has low Jaccard (the union is huge) but
  // containment ≈ 1 from the short side. Same candidate generation and the
  // same single intersection count as the Jaccard verifier; only the
  // normalization differs, emitted for both directions at once.
  val dedupContainment: (QFn, String) = (
    (s, dir) => {
      val sh = shingles(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n"))
      lshCandidates(s, dir)
        .join(sh.as("ca"), col("ca.doc_id") === col("doc_a"))
        .join(sh.as("cb"),
          col("cb.doc_id") === col("doc_b") && col("cb.s") === col("ca.s"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).cast("long").as("n_common"))
        .join(sizes.as("za"), col("za.doc_id") === col("doc_a"))
        .join(sizes.as("zb"), col("zb.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_common"),
          round(col("n_common") * lit(1.0) / col("za.n"), 4).as("cont_a"),
          round(col("n_common") * lit(1.0) / col("zb.n"), 4).as("cont_b"))
        .filter(greatest(col("cont_a"), col("cont_b")) >= 0.8)
    },
    s"""$toksCte, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |common AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
       |           FROM cand c
       |           JOIN sh a ON a.doc_id = c.doc_a
       |           JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |           GROUP BY c.doc_a, c.doc_b)
       |SELECT doc_a, doc_b, n_common,
       |  round(m.n_common * 1.0 / za.n, 4) AS cont_a,
       |  round(m.n_common * 1.0 / zb.n, 4) AS cont_b
       |FROM common m
       |JOIN sizes za ON za.doc_id = m.doc_a
       |JOIN sizes zb ON zb.doc_id = m.doc_b
       |WHERE greatest(round(m.n_common * 1.0 / za.n, 4),
       |               round(m.n_common * 1.0 / zb.n, 4)) >= 0.8""".stripMargin)

  // Edit-distance verification on LSH candidate pairs — the character-level
  // near-dup signal (typos, OCR noise, template fill-ins) that shingle
  // Jaccard under-scores. Levenshtein is O(len²) per pair, so it NEVER runs
  // corpus-wide: candidates come from the band equi-joins, and the distance
  // runs on fixed 64-char prefixes — per-pair cost is constant, total cost
  // linear in candidates. Emits the score for every candidate (thresholding
  // is the caller's policy), so the operator is also the smoke-safe shape.
  val dedupEditDistance: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        substring(col("text"), 1, 64).as("prefix"))
      lshCandidates(s, dir)
        .join(d.as("pa"), col("pa.doc_id") === col("doc_a"))
        .join(d.as("pb"), col("pb.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa.prefix"), col("pb.prefix")).cast("long")
            .as("edit_dist"))
    },
    s"""$toksCte, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(levenshtein(substring(a.text, 1, 64), substring(b.text, 1, 64)) AS BIGINT) AS edit_dist
       |FROM cand c
       |JOIN documents a ON a.doc_id = c.doc_a
       |JOIN documents b ON b.doc_id = c.doc_b""".stripMargin)

  // MinHash Jaccard ESTIMATOR: fraction of agreeing minhash components per
  // LSH candidate pair — the sketch-only estimate that at scale replaces
  // exact verification when signatures already live in the shuffle.
  val dedupMinhashEstimate: (QFn, String) = (
    (s, dir) => {
      val sig = sigDF(s, dir)
      val cand = lshCandidates(s, dir)
      val agree = (1 to 8).map(j =>
        when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0))
        .reduce(_ + _)
      cand
        .join(sig.as("a"), col("a.doc_id") === col("doc_a"))
        .join(sig.as("b"), col("b.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (agree.cast("double") / 8.0).as("est_jaccard"))
    },
    s"""$toksCte, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(${(1 to 8).map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")} AS DOUBLE) / 8.0 AS est_jaccard
       |FROM cand c
       |JOIN sig a ON a.doc_id = c.doc_a
       |JOIN sig b ON b.doc_id = c.doc_b""".stripMargin)

  // Corpus n-gram statistics: top-5 word bigrams per language — groupBy over
  // exploded n-grams, then the bounded heap aggregate (TopKStrByScore):
  // map-side partial top-5, 5 rows per partition cross the shuffle, no sort
  // of each language's full bigram set (the window form sorted ALL bigrams
  // per language; a real corpus has 10^8+ per language). Count→double is
  // exact below 2^53.
  val textNgramTopk: (QFn, String) = (
    (s, dir) => {
      // materialize the token array before the shingle lambda — passing the
      // raw split() expression would re-evaluate it per element_at reference
      val bi = docs(s, dir)
        .select(col("lang"), TextAnalysis.tokensCol(col("text")).as("t"))
        .select(col("lang"), explode(TextAnalysis.shinglesCol(col("t"), 2)).as("bigram"))
        .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
      bi.groupBy(col("lang"))
        .agg(graft.functions.TopKByScore.topKStr(
          col("n").cast("double"), col("bigram"), 5).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("lang"), col("t.id").as("bigram"),
          col("t.score").cast("long").as("n"),
          (col("pos") + 1).cast("long").as("rank"))
    },
    s"""$toksCte, bi AS (
       |  SELECT lang,
       |    unnest(list_distinct(list_transform(generate_series(1, len(t)-1),
       |      i -> t[i] || ' ' || t[i+1]))) AS bigram
       |  FROM toks WHERE len(t) >= 2),
       |counts AS (SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n
       |           FROM bi GROUP BY lang, bigram)
       |SELECT lang, bigram, n, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
       |    ORDER BY n DESC, bigram) AS BIGINT) AS rank FROM counts)
       |WHERE rank <= 5""".stripMargin)

  // SimHash: 64-bit per-bit majority over token md5s; near-dups differ in few
  // bits. One explode + ONE custom aggregate (graft.functions.SimHashAgg,
  // 64-int vote buffer with map-side partials) — no joins at all. The oracle
  // is the engine-neutral generated SQL from graft.dedup.SimHash; both
  // formulations produce identical hex.
  val dedupSimhash: (QFn, String) = {
    val fn: QFn = (s, dir) => {
      val th = docs(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokensCol(col("text")))).as("w"))
        .select(col("doc_id"), md5(col("w")).as("h"))
      th.groupBy("doc_id")
        .agg(graft.functions.SimHashAgg.simhash(col("h")).as("simhash"))
    }
    val sumsSql = (0 until 64).map(k => SimHash.bitSumSql(k, spark = false)).mkString(",\n  ")
    (fn,
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS w
         |  FROM documents),
         |th AS (SELECT doc_id, md5(w) AS h FROM tok),
         |sums AS (SELECT doc_id, $sumsSql FROM th GROUP BY doc_id)
         |SELECT doc_id, ${SimHash.hexSql} AS simhash FROM sums""".stripMargin)
  }

  // Embedding cosine near-dup, blocked by (label, sign-LSH band bucket).
  // A label-only block is all-pairs WITHIN the block — one hot label (real
  // corpora: "en", "web") reintroduces n² as a straggler task. The join key
  // therefore always includes an LSH bucket: a 9-plane signature is split
  // into three 3-plane bands (minhash-style banding — a near-dup pair only
  // needs ONE band to collide), each band is an equi-join key, and the
  // candidate sets are unioned + deduped. Hot labels split across 8 buckets
  // per band, so candidates stay near-linear regardless of label skew;
  // 3 bands keep collision probability high where it matters (≈0.95 at
  // cos 0.9, ≈0.8 at cos 0.7) while blocking the n² bulk.
  // Cosine is the native codegen'd expression (graft.functions
  // .CosineSimilarity): one fused loop per pair, bit-identical to the
  // sequential fold.
  val dedupEmbeddingCosine: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"),
        Vectors.lshBucketCol(col("embedding"), 9, 64).as("sig"))
      def side(p: String) = e.select(
        col("vec_id").as(s"vid_$p"), col("label").as(s"label_$p"),
        col("embedding").as(s"e$p"),
        substring(col("sig"), 1, 3).as(s"b1_$p"),
        substring(col("sig"), 4, 3).as(s"b2_$p"),
        substring(col("sig"), 7, 3).as(s"b3_$p"))
      val a = side("a")
      val b = side("b")
      // one hash-partitioned equi-join per band — never an OR-join (Spark
      // would fall back to a nested-loop build, which is the n² we're
      // removing)
      def band(k: Int) = a.join(b,
          col(s"b${k}_a") === col(s"b${k}_b") &&
          col("label_a") === col("label_b") &&
          col("vid_a") < col("vid_b"))
        .select(col("vid_a"), col("vid_b"), col("label_a").as("label"),
          round(graft.functions.CosineSimilarity(col("ea"), col("eb")), 4).as("cos"))
      band(1).unionByName(band(2)).unionByName(band(3))
        .filter(col("cos") >= 0.4)
        .distinct() // a pair colliding in several bands appears once
    },
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    ${Vectors.lshBucketSql(9, 64, spark = false)} AS sig,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |b AS (SELECT *, substr(sig, 1, 3) AS b1, substr(sig, 4, 3) AS b2,
       |  substr(sig, 7, 3) AS b3 FROM e),
       |cand AS (
       |  SELECT x.vec_id AS vid_a, y.vec_id AS vid_b, x.label AS label,
       |    round(list_sum(list_transform(generate_series(1, 64),
       |      i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)) / (x.nrm * y.nrm), 4) AS cos
       |  FROM b x JOIN b y ON x.label = y.label AND x.vec_id < y.vec_id
       |    AND (x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3))
       |SELECT DISTINCT vid_a, vid_b, label, cos FROM cand WHERE cos >= 0.4""".stripMargin)

  // The composed training-data cleaning pass — what the operators above
  // exist FOR: quality gate → exact-dup removal → near-dup removal (LSH
  // candidates verified by Jaccard ≥ 0.9, canonical = smallest doc_id).
  // One declarative plan; every stage is shuffle-partitioned on a
  // well-distributed key (content hash / band hash).
  val pipelineCleanCorpus: (QFn, String) = (
    (s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokensCol(col("text")).as("t"), col("text"))
        .withColumn("n_tokens", size(col("t")).cast("long"))
        .withColumn("alpha",
          length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
        .withColumn("stops",
          TextAnalysis.vocabHits(col("t"), TextAnalysis.Stopwords).cast("long"))
        .withColumn("quality_pm",
          expr("alpha * 250000 div greatest(length(text), 1)")
            + expr("least(stops * 5, n_tokens) * 250000 div greatest(n_tokens, 1)")
            + expr("least(n_tokens, 100) * 500000 div 100"))
      val qualityOk = base.filter(col("quality_pm") >= 600000)
      val exactCanonical = qualityOk
        .withColumn("canonical",
          min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("canonical"))
        .select(col("doc_id"), col("lang"), col("quality_pm"))
      val nearDupLosers = {
        val sh = shingles(s, dir)
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n"))
        lshCandidates(s, dir)
          .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
          .join(sh.as("sb"), col("sb.doc_id") === col("doc_b") && col("sb.s") === col("sa.s"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).cast("long").as("n_common"))
          .join(sizes.as("za"), col("za.doc_id") === col("doc_a"))
          .join(sizes.as("zb"), col("zb.doc_id") === col("doc_b"))
          .filter(round(col("n_common") * lit(1.0) /
            (col("za.n") + col("zb.n") - col("n_common")), 4) >= 0.9)
          .select(col("doc_b").as("loser")).distinct()
      }
      // the loser set is ≪ corpus by construction — broadcast the anti-join
      exactCanonical.join(broadcast(nearDupLosers),
        exactCanonical("doc_id") === nearDupLosers("loser"), "left_anti")
    },
    s"""$toksCte, $shCte, $sigCte, $bandsCte,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |losers AS (
       |  SELECT DISTINCT m.doc_b AS loser FROM (
       |    SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
       |    FROM cand c
       |    JOIN sh a ON a.doc_id = c.doc_a
       |    JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |    GROUP BY c.doc_a, c.doc_b) m
       |  JOIN sizes za ON za.doc_id = m.doc_a
       |  JOIN sizes zb ON zb.doc_id = m.doc_b
       |  WHERE round(m.n_common * 1.0 / (za.n + zb.n - m.n_common), 4) >= 0.9),
       |quality AS (
       |  SELECT doc_id, lang, text,
       |    (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) * 250000 // greatest(length(text), 1))
       |    + (least(CAST(len(list_filter(t, x -> list_contains(['the','a','of','to','and','in','is','on','for','with'], x))) AS BIGINT) * 5, len(t)) * 250000 // greatest(len(t), 1))
       |    + (least(CAST(len(t) AS BIGINT), 100) * 500000 // 100) AS quality_pm
       |  FROM toks),
       |kept AS (
       |  SELECT doc_id, lang, quality_pm FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
       |    FROM quality WHERE quality_pm >= 600000)
       |  WHERE doc_id = canonical)
       |SELECT k.doc_id, k.lang, k.quality_pm FROM kept k
       |LEFT JOIN losers l ON k.doc_id = l.loser
       |WHERE l.loser IS NULL""".stripMargin)

  // ---------------- similarity search ----------------

  // Brute-force cosine top-k: the exactness baseline. Rank on the ROUNDED
  // similarity with vec_id tiebreak so ordering is engine-deterministic.
  val simTopkBruteforce: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < 10).select(
        col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val scored = q.join(c, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          round(graft.functions.CosineSimilarity(col("qe"), col("ce")), 4).as("cos"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
    },
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / (q.nrm * c.nrm), 4) AS cos
      |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT qid, cid, cos, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin)

  // Same result via the custom heap aggregate (graft.functions.TopKByScore):
  // no per-group sort, map-side partial top-k before the shuffle — the
  // operator shape that survives 100× candidate growth. Oracle: identical to
  // the window formulation.
  val simTopkAgg: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < 10).select(
        col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val scored = q.join(c, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          round(graft.functions.CosineSimilarity(col("qe"), col("ce")), 4).as("cos"))
      scored.groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topK(col("cos"), col("cid"), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("cid"), col("t.score").as("cos"),
          (col("pos") + 1).cast("long").as("rank"))
    },
    // identical result contract to sim_topk_bruteforce
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / (q.nrm * c.nrm), 4) AS cos
      |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT qid, cid, cos, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin)

  // IVF-style pruned top-k: `label` is the coarse quantizer cell; search only
  // the query's cell. At 100 TB this is the difference between scanning the
  // corpus per query and scanning 1/k of it.
  val simIvfTopk: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"))
      val q = e.filter(col("vec_id") < 10).select(
        col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"))
      val scored = q.join(
        e.select(col("vec_id").as("cid"), col("label").as("clabel"),
          col("embedding").as("ce")),
        col("qlabel") === col("clabel") && col("qid") =!= col("cid"))
        .select(col("qid"), col("qlabel").as("label"), col("cid"),
          round(graft.functions.CosineSimilarity(col("qe"), col("ce")), 4).as("cos"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
    },
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS qid, q.label AS label, c.vec_id AS cid,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / (q.nrm * c.nrm), 4) AS cos
      |  FROM e q JOIN e c ON q.label = c.label AND q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT qid, label, cid, cos, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin)

  // Sign-LSH bucketing: 8 md5-seeded hyperplanes → 8-bit bucket signature.
  // The bucket is the shuffle key for LSH-ANN; same-bucket pairs are the
  // candidate set.
  val simLshBucket: (QFn, String) = (
    (s, dir) => emb(s, dir).select(col("vec_id"), col("label"),
      Vectors.lshBucketCol(col("embedding"), 8, 64).as("bucket")),
    s"""SELECT vec_id, label,
       |  ${Vectors.lshBucketSql(8, 64, spark = false)} AS bucket
       |FROM embeddings""".stripMargin)

  // End-to-end LSH-ANN: candidates are same-bucket pairs (the bucket is the
  // shuffle key — no all-pairs work anywhere), verified with exact cosine,
  // best neighbor per vector kept. The 100 TB shape: bucket-join → verify →
  // per-key top-1, all hash-partitioned.
  val simLshAnn: (QFn, String) = (
    (s, dir) => {
      val b = emb(s, dir).select(col("vec_id"), col("embedding"),
        Vectors.lshBucketCol(col("embedding"), 8, 64).as("bucket"))
      val cand = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vid"), col("b.vec_id").as("nid"),
          col("a.bucket").as("bucket"),
          round(graft.functions.CosineSimilarity(col("a.embedding"), col("b.embedding")), 4).as("cos"))
      // map-side partial top-1 heap, not a rank window (r19, guide §2.3):
      // the window form shuffled and per-group-sorted the FULL same-bucket
      // candidate frame (n × bucket-mates rows); the heap reduces each
      // input partition to one row per vid before the exchange. `bucket`
      // is the vid's own bucket (constant within the group), so grouping
      // by (vid, bucket) keeps it without a join. Tie-break — higher cos,
      // then smaller nid — is the window's ORDER BY cos DESC, nid.
      cand.groupBy(col("vid"), col("bucket"))
        .agg(graft.functions.TopKByScore.topK(col("cos"), col("nid"), 1).as("t"))
        .select(col("vid"), expr("t[0].id").as("nid"), col("bucket"),
          expr("t[0].score").as("cos"))
    },
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    ${Vectors.lshBucketSql(8, 64, spark = false)} AS bucket,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |cand AS (
       |  SELECT a.vec_id AS vid, b.vec_id AS nid, a.bucket AS bucket,
       |    round(list_sum(list_transform(generate_series(1, 64),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 4) AS cos
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
       |SELECT vid, nid, bucket, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, nid) AS rank
       |  FROM cand)
       |WHERE rank = 1""".stripMargin)

  // ANN quality evaluation: recall@1 of the LSH-ANN best neighbor against
  // the exact brute-force best neighbor — the measurement that justifies a
  // bucketing scheme before pointing it at 100 TB. Integer per-million.
  // The exact-truth side runs over a DETERMINISTIC SAMPLE of query vectors
  // (vec_id % 20 = 0): recall is an estimate by nature, and an unsampled
  // truth side is an O(n²) all-pairs join over the whole corpus — the one
  // plan shape that cannot survive scale. Sample × corpus stays linear in n.
  val simAnnRecall: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val a = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("vid"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("nid"), col("embedding").as("eb"))
      val allPairs = a.join(b, col("vid") =!= col("nid"))
        .select(col("vid"), col("nid"),
          round(graft.functions.CosineSimilarity(col("ea"), col("eb")), 4).as("cos"))
      // map-side partial top-1 heap, not a rank window (r19, guide §2.3):
      // the truth leg is sample × corpus wide — the window form shuffled
      // and per-group-sorted every candidate pair, the heap ships one row
      // per probe across the exchange. Tie-break (higher cos, then smaller
      // nid) is the window's ORDER BY cos DESC, nid — the equivalence
      // simTopkAgg pins against the same oracle shape.
      val truth = allPairs.groupBy(col("vid"))
        .agg(graft.functions.TopKByScore.topK(col("cos"), col("nid"), 1).as("t"))
        .select(col("vid"), expr("t[0].id").as("true_nid"))
      val lsh = simLshAnn._1(s, dir).select(col("vid"), col("nid").as("lsh_nid"))
      lsh.join(truth, "vid")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("lsh_nid") === col("true_nid"), 1L).otherwise(0L)).cast("long").as("n_hits"))
        .withColumn("recall_pm", expr("n_hits * 1000000 div n_eval"))
    },
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    ${Vectors.lshBucketSql(8, 64, spark = false)} AS bucket,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |allp AS (
       |  SELECT a.vec_id AS vid, b.vec_id AS nid,
       |    round(list_sum(list_transform(generate_series(1, 64),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 4) AS cos
       |  FROM e a JOIN e b ON a.vec_id % 20 = 0 AND a.vec_id <> b.vec_id),
       |truth AS (
       |  SELECT vid, nid AS true_nid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, nid) AS rn
       |    FROM allp) WHERE rn = 1),
       |cand AS (
       |  SELECT a.vec_id AS vid, b.vec_id AS nid,
       |    round(list_sum(list_transform(generate_series(1, 64),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 4) AS cos
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |lsh AS (
       |  SELECT vid, nid AS lsh_nid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, nid) AS rn
       |    FROM cand) WHERE rn = 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_eval,
       |  CAST(sum(CASE WHEN l.lsh_nid = t.true_nid THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN l.lsh_nid = t.true_nid THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_pm
       |FROM lsh l JOIN truth t ON l.vid = t.vid""".stripMargin)

  // ---------------- multimodal ----------------

  // Binary-column plumbing: payload bytes + header hex + chunk ("frame")
  // fingerprints, all computable on the opaque binary without decode.
  val mmBinaryMeta: (QFn, String) = (
    (s, dir) => docs(s, dir).select(
      col("doc_id"),
      length(col("text").cast("binary")).cast("long").as("n_bytes"),
      upper(hex(substring(col("text"), 1, 8).cast("binary"))).as("header_hex"),
      md5(substring(col("text"), 1, 64)).as("f1"),
      md5(substring(col("text"), 129, 64)).as("f2"),
      md5(substring(col("text"), 257, 64)).as("f3")),
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  upper(hex(encode(substring(text, 1, 8)))) AS header_hex,
      |  md5(substring(text, 1, 64)) AS f1,
      |  md5(substring(text, 129, 64)) AS f2,
      |  md5(substring(text, 257, 64)) AS f3
      |FROM documents""".stripMargin)

  // Decode path: typed Dataset → mapPartitions with the REAL codec (r12 —
  // the stub-decode form retired with the last stub). Real PNG bytes are
  // decoded and the metadata emitted is dimensional (out of the bytes, not
  // the row) plus the md5 of the decoded raster's RGB bytes: PNG is
  // lossless, so the fingerprint is oracle-exact against the raw pattern —
  // one flipped pixel anywhere in encode→codec→decode is a hash diff.
  val mmDecodeRaster: (QFn, String) = (
    (s, dir) => Multimodal.decodeRasterMeta(
      Multimodal.mediaCompressedTable(docs(s, dir), "png")).toDF(),
    """WITH g AS (
      |  SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 6 * (1 + doc_id % 3) AS h,
      |    rpad(text,
      |      CAST(8 * (1 + doc_id % 4) * 6 * (1 + doc_id % 3) * 3 AS INTEGER),
      |      text) AS px
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(w * h * 3 AS BIGINT) AS n_bytes,
      |  CAST(w AS INTEGER) AS width,
      |  CAST(h AS INTEGER) AS height,
      |  CAST(3 AS INTEGER) AS channels,
      |  md5(px) AS px_hash
      |FROM g""".stripMargin)

  // REAL image decode, no codec library: binary PPM (P6) payloads are built
  // deterministically from the fixture (header + w·h·3 raw RGB bytes cycled
  // from the ASCII text), then [[Multimodal.decodePpm]] ACTUALLY PARSES the
  // header — dimensions come out of the bytes, not the row — and walks every
  // pixel for exact e4-integer channel means. This is where the mm tier
  // stops being a stub: the oracle reconstructs the same construction in
  // SQL, so a parser bug (offset, whitespace rule, channel order) is a
  // value diff, not a shrug. Same mapPartitions decode shape as the stubs —
  // swap-in proof the boundary holds for a genuine decoder.
  val mmDecodePpm: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val w = lit(4) + col("doc_id") % 4
      val h = lit(3) + col("doc_id") % 3
      val media = d.select(col("doc_id"),
          concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
            lit("\n255\n"),
            rpad(col("text"), (w * h * 3).cast("int"), col("text")))
            .cast("binary").as("media"))
        .as[graft.multimodal.MediaRecord]
      graft.multimodal.Multimodal.decodePpmMeta(media).toDF()
    },
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |    rpad(text, CAST((4 + doc_id % 4) * (3 + doc_id % 3) * 3 AS INTEGER),
      |         text) AS px
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w, h, ascii(substring(px, i, 1)) AS v,
      |    (i - 1) % 3 AS ch
      |  FROM g, unnest(generate_series(1, CAST(w * h * 3 AS INTEGER))) AS t(i))
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(255 AS BIGINT) AS maxval,
      |  CAST(sum(CASE WHEN ch = 0 THEN v END) * 10000 // (w * h) AS BIGINT) AS mean_r_e4,
      |  CAST(sum(CASE WHEN ch = 1 THEN v END) * 10000 // (w * h) AS BIGINT) AS mean_g_e4,
      |  CAST(sum(CASE WHEN ch = 2 THEN v END) * 10000 // (w * h) AS BIGINT) AS mean_b_e4
      |FROM b GROUP BY doc_id, w, h""".stripMargin)

  // REAL compressed-codec decode (r9, the "container ships no codecs"
  // boundary closed): the deterministic pattern raster is encoded to PNG
  // with the JDK's own ImageIO (java.desktop — present headless, no
  // external library), and the query DECODES those real PNG bytes and
  // computes per-channel e4 means plus the 63-bit aHash. PNG is LOSSLESS,
  // so the oracle reconstructs the identical statistics from the raw
  // pattern — hash-equality proves the encoder, the codec bit format, the
  // decoder, and the pixel kernels agree end-to-end. Partition-wise both
  // ways; rasters never cross an exchange.
  val mmDecodePng: (QFn, String) = (
    (s, dir) => Multimodal.decodeCompressedMeta(
      Multimodal.mediaCompressedTable(docs(s, dir), "png")).toDF(),
    """WITH g AS (
      |  SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 6 * (1 + doc_id % 3) AS h,
      |    rpad(text,
      |      CAST(8 * (1 + doc_id % 4) * 6 * (1 + doc_id % 3) * 3 AS INTEGER),
      |      text) AS px
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w, h, t.p AS p,
      |    ascii(substring(px, CAST(t.p * 3 + 1 AS INTEGER), 1)) AS r,
      |    ascii(substring(px, CAST(t.p * 3 + 2 AS INTEGER), 1)) AS gg,
      |    ascii(substring(px, CAST(t.p * 3 + 3 AS INTEGER), 1)) AS bb
      |  FROM g, unnest(generate_series(0, CAST(w * h - 1 AS INTEGER))) AS t(p)),
      |s AS (SELECT doc_id, sum(r + gg + bb) AS tot FROM b GROUP BY doc_id)
      |SELECT b.doc_id, CAST(b.w AS BIGINT) AS width,
      |  CAST(b.h AS BIGINT) AS height,
      |  CAST(sum(r) * 10000 // (b.w * b.h) AS BIGINT) AS mean_r_e4,
      |  CAST(sum(gg) * 10000 // (b.w * b.h) AS BIGINT) AS mean_g_e4,
      |  CAST(sum(bb) * 10000 // (b.w * b.h) AS BIGINT) AS mean_b_e4,
      |  CAST(sum(CASE WHEN b.p < least(b.w * b.h, 63)
      |      AND (r + gg + bb) * (b.w * b.h) > s.tot
      |      THEN (CAST(1 AS BIGINT) << CAST(b.p AS INTEGER)) ELSE 0 END)
      |    AS BIGINT) AS ahash
      |FROM b JOIN s ON b.doc_id = s.doc_id
      |GROUP BY b.doc_id, b.w, b.h""".stripMargin)

  // REAL lossy-codec decode: the same pattern encoded as actual JPEG
  // (ImageIO), decoded back — dimensions and the decoded byte budget are
  // exactly preserved by JPEG and oracle-checked; pixel fidelity through
  // the lossy transform is unit-gated in CodecSpec (mean |err| bound),
  // the honest split for a lossy codec (a value-exact pixel oracle is
  // impossible BY DESIGN, not by gap).
  val mmDecodeJpeg: (QFn, String) = (
    (s, dir) => Multimodal.decodeCompressedShape(
      Multimodal.mediaCompressedTable(docs(s, dir), "jpeg")).toDF(),
    """SELECT doc_id,
      |  CAST(8 * (1 + doc_id % 4) AS BIGINT) AS width,
      |  CAST(6 * (1 + doc_id % 3) AS BIGINT) AS height,
      |  CAST(8 * (1 + doc_id % 4) * 6 * (1 + doc_id % 3) * 3 AS BIGINT)
      |    AS out_bytes
      |FROM documents""".stripMargin)

  // REAL resize — the mm_resize_stub graduation: the same deterministic P6
  // payloads as mm_decode_ppm are DECODED (header actually parsed) and then
  // box-filter downsampled by 2 in exact integer math — each output pixel is
  // floor(mean of its full 2×2 input block), per channel, one row per output
  // pixel so the oracle re-derives EVERY resampled value from the raw bytes.
  // A trailing odd row/column is discarded (full-block contract; documented
  // in Multimodal.resizePpm). No codec, no float, no shuffle.
  val mmResize: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val w = lit(4) + col("doc_id") % 4
      val h = lit(3) + col("doc_id") % 3
      val media = d.select(col("doc_id"),
          concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
            lit("\n255\n"),
            rpad(col("text"), (w * h * 3).cast("int"), col("text")))
            .cast("binary").as("media"))
        .as[graft.multimodal.MediaRecord]
      graft.multimodal.Multimodal.resizePpm(media, factor = 2).toDF()
    },
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |    rpad(text, CAST((4 + doc_id % 4) * (3 + doc_id % 3) * 3 AS INTEGER),
      |         text) AS px
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, w, h, px, tx.ox AS ox, ty.oy AS oy
      |  FROM g,
      |    unnest(generate_series(0, CAST(w // 2 - 1 AS INTEGER))) AS tx(ox),
      |    unnest(generate_series(0, CAST(h // 2 - 1 AS INTEGER))) AS ty(oy))
      |SELECT doc_id, CAST(ox AS BIGINT) AS out_x, CAST(oy AS BIGINT) AS out_y,
      |  CAST((ascii(substring(px, ((oy*2)*w + ox*2)*3 + 1, 1))
      |      + ascii(substring(px, ((oy*2)*w + ox*2+1)*3 + 1, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2)*3 + 1, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2+1)*3 + 1, 1))) // 4
      |    AS BIGINT) AS r,
      |  CAST((ascii(substring(px, ((oy*2)*w + ox*2)*3 + 2, 1))
      |      + ascii(substring(px, ((oy*2)*w + ox*2+1)*3 + 2, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2)*3 + 2, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2+1)*3 + 2, 1))) // 4
      |    AS BIGINT) AS g,
      |  CAST((ascii(substring(px, ((oy*2)*w + ox*2)*3 + 3, 1))
      |      + ascii(substring(px, ((oy*2)*w + ox*2+1)*3 + 3, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2)*3 + 3, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2+1)*3 + 3, 1))) // 4
      |    AS BIGINT) AS b
      |FROM o""".stripMargin)

  // REAL feature extraction — the second stub graduation: per-channel COLOR
  // MOMENTS (min, max, mean e4, second central moment e4 — the classic
  // image-retrieval descriptor) computed from the actually-decoded P6
  // raster in exact integer arithmetic; the oracle recomputes every moment
  // from the raw bytes, so the whole pixel walk is value-pinned. The model
  // boundary honesty is unchanged: a vision ENCODER still needs a runtime
  // this container doesn't ship — but the feature path up to it is now a
  // real kernel over real pixels, not byte probes.
  val mmFeaturePpm: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val w = lit(4) + col("doc_id") % 4
      val h = lit(3) + col("doc_id") % 3
      val media = d.select(col("doc_id"),
          concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
            lit("\n255\n"),
            rpad(col("text"), (w * h * 3).cast("int"), col("text")))
            .cast("binary").as("media"))
        .as[graft.multimodal.MediaRecord]
      graft.multimodal.Multimodal.featuresPpm(media).toDF()
    },
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |    rpad(text, CAST((4 + doc_id % 4) * (3 + doc_id % 3) * 3 AS INTEGER),
      |         text) AS px
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w, h, ascii(substring(px, i, 1)) AS v, (i - 1) % 3 AS ch
      |  FROM g, unnest(generate_series(1, CAST(w * h * 3 AS INTEGER))) AS t(i)),
      |a AS (
      |  SELECT doc_id, ch, CAST(w * h AS BIGINT) AS n,
      |    min(v) AS mn, max(v) AS mx, sum(v) AS s, sum(v * v) AS ss
      |  FROM b GROUP BY doc_id, ch, w * h)
      |SELECT doc_id,
      |  CAST(max(CASE WHEN ch = 0 THEN mn END) AS BIGINT) AS r_min,
      |  CAST(max(CASE WHEN ch = 0 THEN mx END) AS BIGINT) AS r_max,
      |  CAST(max(CASE WHEN ch = 0 THEN s * 10000 // n END) AS BIGINT) AS r_mean_e4,
      |  CAST(max(CASE WHEN ch = 0 THEN (n * ss - s * s) * 10000 // (n * n) END) AS BIGINT) AS r_m2_e4,
      |  CAST(max(CASE WHEN ch = 1 THEN mn END) AS BIGINT) AS g_min,
      |  CAST(max(CASE WHEN ch = 1 THEN mx END) AS BIGINT) AS g_max,
      |  CAST(max(CASE WHEN ch = 1 THEN s * 10000 // n END) AS BIGINT) AS g_mean_e4,
      |  CAST(max(CASE WHEN ch = 1 THEN (n * ss - s * s) * 10000 // (n * n) END) AS BIGINT) AS g_m2_e4,
      |  CAST(max(CASE WHEN ch = 2 THEN mn END) AS BIGINT) AS b_min,
      |  CAST(max(CASE WHEN ch = 2 THEN mx END) AS BIGINT) AS b_max,
      |  CAST(max(CASE WHEN ch = 2 THEN s * 10000 // n END) AS BIGINT) AS b_mean_e4,
      |  CAST(max(CASE WHEN ch = 2 THEN (n * ss - s * s) * 10000 // (n * n) END) AS BIGINT) AS b_m2_e4
      |FROM a GROUP BY doc_id""".stripMargin)

  // The composed multimodal pipeline — decode → box-resize → color moments
  // REAL perceptual image hashing — average hash (aHash) from the decoded
  // P6 raster: one bit per pixel, set iff its integer luminance (r+g+b) is
  // strictly above the image mean (cross-multiplied — no division), packed
  // in raster order into a Long. The image-dedup primitive: exact dups
  // collide, near-dups differ in a few Hamming bits. `n_same` counts docs
  // sharing (w, h, ahash) — the exact-collision dedup bucket — via ONE
  // shuffle on the hash key (partition-bounded window, never a global
  // sort). The oracle re-derives every bit from the raw bytes.
  val mmAhash: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val w = lit(4) + col("doc_id") % 4
      val h = lit(3) + col("doc_id") % 3
      val media = d.select(col("doc_id"),
          concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
            lit("\n255\n"),
            rpad(col("text"), (w * h * 3).cast("int"), col("text")))
            .cast("binary").as("media"))
        .as[graft.multimodal.MediaRecord]
      val hashed = graft.multimodal.Multimodal.ahashPpm(media).toDF()
      hashed.withColumn("n_same",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("width"), col("height"), col("ahash"))))
    },
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |    rpad(text, CAST((4 + doc_id % 4) * (3 + doc_id % 3) * 3 AS INTEGER),
      |         text) AS px
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w, h, t.p AS p,
      |    ascii(substring(px, CAST(t.p * 3 + 1 AS INTEGER), 1))
      |      + ascii(substring(px, CAST(t.p * 3 + 2 AS INTEGER), 1))
      |      + ascii(substring(px, CAST(t.p * 3 + 3 AS INTEGER), 1)) AS lum
      |  FROM g, unnest(generate_series(0, CAST(w * h - 1 AS INTEGER))) AS t(p)),
      |s AS (SELECT doc_id, sum(lum) AS tot FROM b GROUP BY doc_id),
      |hsh AS (
      |  SELECT b.doc_id, b.w, b.h,
      |    sum(CASE WHEN b.lum * (b.w * b.h) > s.tot
      |        THEN (CAST(1 AS BIGINT) << b.p) ELSE 0 END) AS ahash
      |  FROM b JOIN s ON b.doc_id = s.doc_id GROUP BY 1, 2, 3)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(ahash AS BIGINT) AS ahash,
      |  CAST(count(*) OVER (PARTITION BY w, h, ahash) AS BIGINT) AS n_same
      |FROM hsh""".stripMargin)

  // in ONE query, the shape a real vision-data prep job runs per image:
  // every stage is the already-value-pinned real kernel (P6 pixel walk,
  // integer 2×2 box filter, exact integer moments), chained so the oracle
  // re-derives the final per-image feature row from the RAW BYTES through
  // the whole pipeline. Per-image work is bounded by pixel count and
  // happens before any shuffle; only the (doc, 12-number feature) rows
  // aggregate. The vision-encoder boundary note from mm_feature_ppm
  // applies unchanged — this pins everything up to it.
  val mmPipelineFeatures: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val w = lit(4) + col("doc_id") % 4
      val h = lit(3) + col("doc_id") % 3
      val media = d.select(col("doc_id"),
          concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
            lit("\n255\n"),
            rpad(col("text"), (w * h * 3).cast("int"), col("text")))
            .cast("binary").as("media"))
        .as[graft.multimodal.MediaRecord]
      val px = graft.multimodal.Multimodal.resizePpm(media, factor = 2).toDF()
      def mom(c: String) = Seq(
        min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        sum(col(c)).as(s"s_$c"), sum(col(c) * col(c)).as(s"ss_$c"))
      px.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"),
          (mom("r") ++ mom("g") ++ mom("b")): _*)
        .select(Seq(col("doc_id")) ++ Seq("r", "g", "b").flatMap { c =>
          Seq(col(s"${c}_min"), col(s"${c}_max"),
            expr(s"s_$c * 10000 div n").as(s"${c}_mean_e4"),
            expr(s"(n * ss_$c - s_$c * s_$c) * 10000 div (n * n)")
              .as(s"${c}_m2_e4"))
        }: _*)
    },
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |    rpad(text, CAST((4 + doc_id % 4) * (3 + doc_id % 3) * 3 AS INTEGER),
      |         text) AS px
      |  FROM documents),
      |o AS (
      |  SELECT doc_id,
      |    (ascii(substring(px, ((oy*2)*w + ox*2)*3 + 1, 1))
      |      + ascii(substring(px, ((oy*2)*w + ox*2+1)*3 + 1, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2)*3 + 1, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2+1)*3 + 1, 1))) // 4 AS r,
      |    (ascii(substring(px, ((oy*2)*w + ox*2)*3 + 2, 1))
      |      + ascii(substring(px, ((oy*2)*w + ox*2+1)*3 + 2, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2)*3 + 2, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2+1)*3 + 2, 1))) // 4 AS g,
      |    (ascii(substring(px, ((oy*2)*w + ox*2)*3 + 3, 1))
      |      + ascii(substring(px, ((oy*2)*w + ox*2+1)*3 + 3, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2)*3 + 3, 1))
      |      + ascii(substring(px, ((oy*2+1)*w + ox*2+1)*3 + 3, 1))) // 4 AS b
      |  FROM g,
      |    unnest(generate_series(0, CAST(w // 2 - 1 AS INTEGER))) AS tx(ox),
      |    unnest(generate_series(0, CAST(h // 2 - 1 AS INTEGER))) AS ty(oy)),
      |a AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
      |    min(r) AS r_min, max(r) AS r_max, sum(r) AS sr, sum(r*r) AS ssr,
      |    min(g) AS g_min, max(g) AS g_max, sum(g) AS sg, sum(g*g) AS ssg,
      |    min(b) AS b_min, max(b) AS b_max, sum(b) AS sb, sum(b*b) AS ssb
      |  FROM o GROUP BY doc_id)
      |SELECT doc_id,
      |  CAST(r_min AS BIGINT) AS r_min, CAST(r_max AS BIGINT) AS r_max,
      |  CAST(sr * 10000 // n AS BIGINT) AS r_mean_e4,
      |  CAST((n * ssr - sr * sr) * 10000 // (n * n) AS BIGINT) AS r_m2_e4,
      |  CAST(g_min AS BIGINT) AS g_min, CAST(g_max AS BIGINT) AS g_max,
      |  CAST(sg * 10000 // n AS BIGINT) AS g_mean_e4,
      |  CAST((n * ssg - sg * sg) * 10000 // (n * n) AS BIGINT) AS g_m2_e4,
      |  CAST(b_min AS BIGINT) AS b_min, CAST(b_max AS BIGINT) AS b_max,
      |  CAST(sb * 10000 // n AS BIGINT) AS b_mean_e4,
      |  CAST((n * ssb - sb * sb) * 10000 // (n * n) AS BIGINT) AS b_m2_e4
      |FROM a""".stripMargin)

  // Frame sampling over an opaque media payload — the video half of the
  // multimodal plumbing: a deterministic frame index (64-byte frames at
  // 25 fps here; a real codec's keyframe index in production), strided so at
  // most ~8 frames per asset are sampled, then ONE generator explode fans
  // each asset into its sampled frames with a per-frame content hash
  // standing in for the decoded tensor. The shape is what matters at
  // 100 TB: the explode multiplies rows BEFORE any shuffle, so partition
  // sizing must budget for asset_bytes/stride, and every per-frame value is
  // computed from the payload slice inside the generator's projection —
  // the full payload never crosses an exchange.
  val mmFrameSample: (QFn, String) = (
    (s, dir) => docs(s, dir)
      .select(col("doc_id"), col("text"),
        expr("greatest(length(text) div 64, 1L)").as("n_frames"))
      .select(col("doc_id"), col("text"),
        explode(expr(
          "sequence(0L, n_frames - 1L, greatest(n_frames div 8, 1L))"))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * 40L).as("frame_ts_ms"),
        md5(expr("substring(text, cast(frame_idx * 64 + 1 as int), 64)"))
          .as("frame_hash")),
    """WITH v AS (
      |  SELECT doc_id, text, greatest(length(text) // 64, 1) AS n_frames
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, n_frames - 1, greatest(n_frames // 8, 1)))
      |      AS frame_idx
      |  FROM v)
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(frame_idx * 40 AS BIGINT) AS frame_ts_ms,
      |  md5(substring(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_hash
      |FROM f""".stripMargin)

  // ---------------- corpus pipeline operators ----------------

  // Benchmark decontamination — the eval-set overlap gate every training
  // pipeline runs before a model ever sees the corpus: a document sharing a
  // token n-gram with the benchmark set is flagged (and typically dropped).
  // The benchmark here is a deterministic slice (doc_id % 97 = 0) standing in
  // for an external eval set; n = 3 because the synthetic corpus has a tiny
  // vocabulary (real pipelines use 8-13-grams — the plan is n-independent).
  // Scale shape: the benchmark gram set is megabytes even for large eval
  // suites, so it BROADCASTS; the corpus side streams through one explode +
  // one broadcast-hash semi-join + one groupBy — no shuffle touches the
  // full gram multiset, and the distinct that bounds per-doc counts runs
  // inside the aggregation's own partial phase.
  val pipelineDecontaminate: (QFn, String) = (
    (s, dir) => {
      // the contamination grams ARE the LSH family's distinct word-3-shingles
      // — reuse the shared persisted subtree instead of re-tokenizing the
      // corpus; and since shingles are already distinct PER DOC, the corpus
      // side needs no global distinct (that was a full extra shuffle of the
      // corpus gram multiset). Only the small benchmark side deduplicates
      // across documents before broadcasting.
      val grams = shingles(s, dir).withColumnRenamed("s", "gram")
      val bench = benchGrams(s, dir)
      val corpus = grams.filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "gram")
      corpus.join(broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
    },
    s"""$toksCte,
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
       |        FROM toks WHERE len(t) >= 3),
       |g AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram FROM idx),
       |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
       |cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM cg JOIN bg USING (gram) GROUP BY doc_id""".stripMargin)

  // Bloom-prefiltered decontamination — the shape that survives a benchmark
  // set too large to broadcast-join against every corpus gram. The benchmark
  // grams fold into a ~MB bloom bitmap via a DISTRIBUTED treeAggregate (only
  // the bitmap reaches the driver — the same materialization Spark's own
  // InjectRuntimeFilter performs for its bloom runtime filters); the corpus
  // then probes the bitmap inside whole-stage codegen, so 99%+ of grams die
  // at the scan without shuffling ANYTHING, and only bloom survivors (true
  // hits + ~1% false positives) reach the exact join that removes the FPs.
  // Result is therefore hash-identical to pipeline_decontaminate — the
  // property that makes the prefilter safe to deploy; the oracle pins it.
  val pipelineBloomDecontaminate: (QFn, String) = (
    (s, dir) => {
      val grams = shingles(s, dir).withColumnRenamed("s", "gram")
      // persisted once (subtreeCache): the sizing count, the bitmap build,
      // and the exact join below all read the SAME materialized bench set —
      // this was three filter→distinct recomputes before r7
      val bench = benchGrams(s, dir)
      val corpus = grams.filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "gram")
      val benchH = bench.select(xxhash64(col("gram")).as("h"))
      val bf = benchH.stat.bloomFilter("h",
        math.max(benchH.count(), 1L), 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val mightContain = ColumnBridge.column(BloomFilterMightContain(
        ColumnBridge.expression(lit(bos.toByteArray)),
        ColumnBridge.expression(xxhash64(col("gram")))))
      corpus.filter(mightContain)
        .join(broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
    },
    s"""$toksCte,
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
       |        FROM toks WHERE len(t) >= 3),
       |g AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram FROM idx),
       |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
       |cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM cg JOIN bg USING (gram) GROUP BY doc_id""".stripMargin)

  // Sub-document (chunk-level) exact dedup: fixed 20-token chunks hashed and
  // grouped — catches boilerplate shared ACROSS otherwise-distinct documents
  // that document-level dedup_exact cannot see. One explode + one groupBy on
  // the hash (well-distributed key); count-distinct docs rides the same
  // aggregate. At 100 TB this is the shape of paragraph dedup: per-chunk
  // state is one hash + two counters, never the chunk text.
  val dedupChunk: (QFn, String) = (
    (s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokensCol(col("text")).as("t"))
      toks.filter(size(col("t")) >= 1)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, (size(t) + 19) div 20 - 1), " +
            "c -> concat_ws(' ', slice(t, c * 20 + 1, 20)))")).as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1)
    },
    s"""$toksCte,
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, (len(t) + 19) // 20)) AS c
       |        FROM toks WHERE len(t) >= 1),
       |ch AS (SELECT doc_id,
       |         md5(array_to_string(t[(c-1)*20+1:(c-1)*20+20], ' ')) AS chunk_hash
       |       FROM idx)
       |SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_occurrences,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM ch GROUP BY chunk_hash HAVING count(DISTINCT doc_id) > 1""".stripMargin)

  // The APPLY side of dedupChunk — boilerplate-purge retention accounting.
  // dedup_chunk FINDS cross-doc repeated 20-token chunks; this reports, per
  // document, how much of it survives dropping them: n_chunks, n_kept
  // (chunks whose hash occurs in exactly one document — within-doc repeats
  // are NOT boilerplate by this contract; text_repetition covers those)
  // and the retention ratio in exact per-mille integers (non-negative
  // integer div — engine-identical). This is the number a pretraining
  // cleanup stage actually publishes per shard ("purging template chunks
  // kept X% of tokens"). Scale shape: ONE corpus scan explodes chunks into
  // the checkpointed (doc, hash) frame — both sides' basis, like
  // textTopTerms' tf matrix — then a partial-aggregable distinct-doc count
  // by hash, one hash equi-join back, one partial-aggregable per-doc
  // rollup: two shuffle keys (hash, doc) total, linear in corpus tokens,
  // and the chunk-df frame is exactly the bloom/decontaminate shape if the
  // join ever needs to become a filter at 100 TB.
  val pipelinePurgeBoilerplate: (QFn, String) = (
    (s, dir) => {
      val ch = docs(s, dir).select(col("doc_id"),
          TextAnalysis.tokensCol(col("text")).as("t"))
        .filter(size(col("t")) >= 1)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, (size(t) + 19) div 20 - 1), " +
            "c -> concat_ws(' ', slice(t, c * 20 + 1, 20)))")).as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("h"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // both the df aggregate's and the join's basis
      val dfx = ch.groupBy(col("h").as("dh"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      ch.join(dfx, col("h") === col("dh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("ndocs") === 1, 1L).otherwise(0L)).as("n_kept"))
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          expr("n_kept * 1000 div n_chunks").as("kept_per_mille"))
    },
    s"""$toksCte,
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, (len(t) + 19) // 20)) AS c
       |        FROM toks WHERE len(t) >= 1),
       |ch AS (SELECT doc_id,
       |         md5(array_to_string(t[(c-1)*20+1:(c-1)*20+20], ' ')) AS h
       |       FROM idx),
       |dfx AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY h)
       |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN dfx.ndocs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN dfx.ndocs = 1 THEN 1 ELSE 0 END) * 1000
       |    // count(*) AS BIGINT) AS kept_per_mille
       |FROM ch JOIN dfx USING (h)
       |GROUP BY ch.doc_id""".stripMargin)

  // Deterministic k-per-stratum sample (few-shot example / eval-subset
  // selection): the 3 docs with the smallest md5-prefix per (lang, source).
  // Hash-order sampling is retry-stable and seedless-reproducible (rand()
  // is neither); the per-group top-k runs on the HEAP aggregate — k rows
  // per partition cross the shuffle, where a row_number window would sort
  // every stratum's full corpus slice. Engine parity: Spark scores by the
  // PARSED 32-bit hash prefix (negated — the heap keeps highest), the
  // oracle orders by the hex PREFIX STRING — fixed-width lowercase hex
  // compares identically either way.
  val pipelineSamplePerGroup: (QFn, String) = (
    (s, dir) => docs(s, dir)
      .select(col("lang"), col("source"), col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .groupBy(col("lang"), col("source"))
      .agg(graft.functions.TopKByScore.topK(
        (-col("h")).cast("double"), col("doc_id"), 3).as("top"))
      .select(col("lang"), col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("lang"), col("source"), col("t.id").as("doc_id"),
        (-col("t.score")).cast("long").as("h"),
        (col("pos") + 1).cast("long").as("rank")),
    """SELECT lang, source, doc_id, h, rank FROM (
      |  SELECT lang, source, doc_id,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
      |    CAST(row_number() OVER (PARTITION BY lang, source
      |      ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
      |      AS BIGINT) AS rank
      |  FROM documents)
      |WHERE rank <= 3""".stripMargin)

  // Dataset card: the per-(lang, source) composition summary published with
  // a training corpus — doc counts, char/token volume and corpus share.
  // ONE corpus scan and one partial-agg-friendly groupBy: the corpus total
  // is Σ n_docs over the checkpointed per-group frame (a few dozen rows),
  // NOT a second aggregate over the raw corpus — unmaterialized, that
  // "cheap count" re-scanned and re-TOKENIZED every document (the scan
  // audit caught it); the 1-row total then broadcast-crosses back.
  val pipelineDatasetCard: (QFn, String) = (
    (s, dir) => {
      val base = docs(s, dir).select(col("lang"), col("source"),
        length(col("text")).cast("long").as("nc"),
        size(TextAnalysis.tokensCol(col("text"))).cast("long").as("nt"))
      val grouped = base.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("total_chars"),
          sum(col("nt")).as("total_tokens"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      val total = grouped.agg(sum(col("n_docs")).as("corpus_docs"))
      grouped.crossJoin(broadcast(total))
        .withColumn("share_pm", expr("n_docs * 1000000 div corpus_docs"))
        .select(col("lang"), col("source"), col("n_docs"), col("total_chars"),
          col("total_tokens"), col("share_pm"))
    },
    s"""$toksCte,
       |base AS (SELECT lang, source, CAST(length(text) AS BIGINT) AS nc,
       |           CAST(len(t) AS BIGINT) AS nt FROM toks)
       |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nc) AS BIGINT) AS total_chars,
       |  CAST(sum(nt) AS BIGINT) AS total_tokens,
       |  CAST(count(*) * 1000000 // (SELECT count(*) FROM base) AS BIGINT) AS share_pm
       |FROM base GROUP BY lang, source""".stripMargin)

  // ---------------- vector ops: clustering + quantization ----------------

  // K-means assignment step (the inner loop of corpus clustering): every
  // vector scored against k=8 fixed centroids (the first 8 vectors — a
  // deterministic seeding), argmax cosine wins. The centroid table is
  // BROADCAST — at 100 TB the corpus side streams through map tasks and the
  // only shuffle is the final partial-aggregable `max(struct)` argmax, which
  // moves one row per vector. Never a window over the scored pairs: that
  // would shuffle k×N rows instead of N.
  val clusterAssign: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          round(graft.functions.CosineSimilarity(col("embedding"), col("ce")), 4)
            .as("cos"))
        // argmax via struct ordering: highest cos, then LOWEST cid (ties)
        .groupBy(col("vec_id"))
        .agg(graft.functions.MinMaxOrd
          .maxOrd(struct(col("cos"), (-col("cid")).as("nc"))).as("m"))
        .select(col("vec_id"), col("m.cos").as("cos"),
          (-col("m.nc")).cast("long").as("cluster"))
    },
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cnrm FROM e WHERE vec_id < 8),
      |scored AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)) / (e.nrm * c.cnrm), 4) AS cos
      |  FROM e CROSS JOIN c)
      |SELECT vec_id, cos, CAST(cid AS BIGINT) AS cluster FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
      |  FROM scored) WHERE rn = 1""".stripMargin)

  // Clustering-quality diagnostic (the elbow-curve datapoint): per-cluster
  // member count and cosine distortion, EXACT because the cosine is
  // rounded to an e4 INTEGER before any cast (round-then-cast on BOTH
  // engines — a truncating cast of round(x,4)*10⁴ disagrees in the last
  // ulp) — distortion_e4 = 10000 − cos_e4 sums as a Long, so
  // both engines agree bit-for-bit where a float inertia sum would drift
  // with partial-aggregation order. Same broadcast-centroid assign pass as
  // cluster_assign (one fact scan, k·|corpus| in-task work), then one
  // k-row aggregate — the evaluation loop a distributed k-means trainer
  // runs after every iteration at 100 TB.
  val clusterInertia: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          round(graft.functions.CosineSimilarity(col("embedding"), col("ce"))
            * 10000).cast("long").as("cos_e4"))
        .groupBy(col("vec_id"))
        .agg(graft.functions.MinMaxOrd
          .maxOrd(struct(col("cos_e4"), (-col("cid")).as("nc"))).as("m"))
        .select((-col("m.nc")).cast("long").as("cluster"),
          (lit(10000L) - col("m.cos_e4")).as("dist_e4"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("dist_e4")).as("total_distortion_e4"))
        .withColumn("mean_distortion_e4",
          expr("total_distortion_e4 div n_vectors"))
    },
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cnrm FROM e WHERE vec_id < 8),
      |scored AS (
      |  SELECT e.vec_id, c.cid,
      |    CAST(round(list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)) / (e.nrm * c.cnrm)
      |      * 10000, 0) AS BIGINT) AS cos_e4
      |  FROM e CROSS JOIN c),
      |best AS (
      |  SELECT vec_id, cid AS cluster, 10000 - cos_e4 AS dist_e4 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos_e4 DESC, cid) AS rn FROM scored) WHERE rn = 1)
      |SELECT CAST(cluster AS BIGINT) AS cluster,
      |  CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(sum(dist_e4) AS BIGINT) AS total_distortion_e4,
      |  CAST(sum(dist_e4) // count(*) AS BIGINT) AS mean_distortion_e4
      |FROM best GROUP BY cluster""".stripMargin)

  // Mix rebalancing — the data-recipe PLANNING step the sampling queries
  // execute: derive each language's per-million keep rate so the corpus
  // approaches a uniform per-language target (total/n_langs), capped at
  // keep-everything for under-represented strata. All integer arithmetic
  // (target·10⁶ div n, floor semantics on both engines); the group-count
  // frame is |langs| rows, the scalar total broadcasts via a one-row cross
  // join — at 100 TB this is one aggregate plus constant-size planning, and
  // its output feeds the scan-speed rate filter of pipeline_sample_rate.
  // Composition-drift detection — the monitoring primitive a corpus
  // pipeline runs between ingest batches: the chi-square contribution of
  // every (source, lang) cell against the independence expectation, ENTIRELY
  // in exact integer arithmetic (term = (o·N − rowT·colT)²·10⁶ div
  // (N·rowT·colT) — cross-multiplied, the squared numerator is never
  // negative, so Spark `div` and DuckDB `//` agree). One fact scan: the
  // marginals and grand total all derive from the (source, lang) cell frame
  // (|sources|×|langs| rows), which then meets its own tiny rollups —
  // nothing re-reads documents. decimal(38,0) intermediates: the
  // pre-division product is ~N⁴·10⁶, inside decimal(38,0) to N ≈ 10⁸ docs
  // per pipeline stage (headroom documented, same class as the money
  // ratios). Per-cell rows are emitted rather than a per-source float sum,
  // so no cross-engine float-summation order can drift.
  val pipelineDriftChi2: (QFn, String) = (
    (s, dir) => {
      val cell = docs(s, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("o")).transform(graft.util.Checkpoints.ownedCheckpoint)
      val rowT = cell.groupBy("source").agg(sum(col("o")).as("row_t"))
      val colT = cell.groupBy("lang").agg(sum(col("o")).as("col_t"))
      val tot = cell.agg(sum(col("o")).as("n_total"))
      cell.join(broadcast(rowT), "source").join(broadcast(colT), "lang")
        .crossJoin(broadcast(tot))
        .withColumn("term_e6", expr(
          """cast(
            |  (cast(o as decimal(38,0)) * n_total - cast(row_t as decimal(38,0)) * col_t)
            |  * (cast(o as decimal(38,0)) * n_total - cast(row_t as decimal(38,0)) * col_t)
            |  * 1000000
            |  div (cast(n_total as decimal(38,0)) * row_t * col_t)
            |as bigint)""".stripMargin))
        .select(col("source"), col("lang"), col("o").as("n_docs"),
          col("term_e6"))
    },
    """WITH cell AS (
      |  SELECT source, lang, CAST(count(*) AS HUGEINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |rt AS (SELECT source, sum(o) AS row_t FROM cell GROUP BY 1),
      |ct AS (SELECT lang, sum(o) AS col_t FROM cell GROUP BY 1),
      |t AS (SELECT sum(o) AS n_total FROM cell)
      |SELECT cell.source, cell.lang, CAST(cell.o AS BIGINT) AS n_docs,
      |  CAST(((cell.o * n_total - row_t * col_t)
      |      * (cell.o * n_total - row_t * col_t) * 1000000)
      |    // (n_total * row_t * col_t) AS BIGINT) AS term_e6
      |FROM cell JOIN rt USING (source) JOIN ct USING (lang), t""".stripMargin)

  val pipelineMixRebalance: (QFn, String) = (
    (s, dir) => {
      // localCheckpoint the |langs|-row rollup: both the scalar total and
      // the planning join read it, and without materialization each use
      // re-runs the fact aggregate (a real double-scan at 100 TB — caught
      // by ScanAuditSpec on first run)
      val counts = docs(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs")).transform(graft.util.Checkpoints.ownedCheckpoint)
      val tot = counts.agg(sum(col("n_docs")).as("total"),
        count(lit(1)).as("n_langs"))
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          least(lit(1000000L),
            expr("(total div n_langs) * 1000000 div n_docs")).as("rate_pm"))
        .withColumn("expected_kept", expr("n_docs * rate_pm div 1000000"))
    },
    """WITH counts AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
      |    CAST(count(*) AS BIGINT) AS n_langs FROM counts)
      |SELECT c.lang, c.n_docs,
      |  CAST(least(1000000, (t.total // t.n_langs) * 1000000 // c.n_docs)
      |    AS BIGINT) AS rate_pm,
      |  CAST(c.n_docs * least(1000000,
      |    (t.total // t.n_langs) * 1000000 // c.n_docs) // 1000000
      |    AS BIGINT) AS expected_kept
      |FROM counts c, tot t""".stripMargin)

  // Product-quantization encode (the OTHER embedding compression axis: int8
  // keeps all 64 dims at 1 byte; PQ keeps m=4 subspace CODES at ~1 byte
  // total per subspace — 64×4 bytes → 4, the memory layout every
  // billion-vector ANN index uses). Codebooks are the first 8 vectors'
  // subslices (deterministic stand-in for a trained codebook, the
  // cluster_assign convention). Shape: each vector explodes into its 4
  // subvectors, scores 8 broadcast centroids per subspace (32 tiny rows per
  // vector, all map-side), argmin per (vec, subspace) via the
  // partial-aggregable min(struct) idiom, then ONE groupBy pivots the 4
  // codes back into a row. Distances are EXACT scaled integers — each
  // squared term floor-scales to e8 units before an integer sum (a rounded
  // DOUBLE sum diverges: DuckDB's list_sum and Spark's left-fold add in
  // different orders, and a 4dp round at the boundary flips) — with the
  // code id as argmin tiebreak.
  val embPqCodes: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val sub = e.select(col("vec_id"),
          explode(expr("transform(sequence(0, 3), " +
            "j -> struct(j as subspace, slice(embedding, j * 16 + 1, 16) as sv))"))
            .as("x"))
        .select(col("vec_id"), col("x.subspace").as("subspace"),
          col("x.sv").as("sv"))
      val cents = sub.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("subspace").as("c_subspace"),
          col("sv").as("cv"))
      sub.join(broadcast(cents), col("subspace") === col("c_subspace"))
        .select(col("vec_id"), col("subspace"), col("cid"),
          graft.functions.L2DistanceE8(col("sv"), col("cv")).as("d2_e8"))
        .groupBy(col("vec_id"), col("subspace"))
        // d2-long-encode argmin (see pqSubTrainLoop): struct-min demotes
        // to a SortAggregate; cid/cluster codes are in [0, 8)
        .agg(min(col("d2_e8") * 8 + col("cid")).as("m"))
        .select(col("vec_id"), col("subspace"),
          pmod(col("m"), lit(8L)).as("cid"), expr("m div 8").as("d2_e8"))
        .groupBy(col("vec_id"))
        .agg(
          max(when(col("subspace") === 0, col("cid"))).as("code0"),
          max(when(col("subspace") === 1, col("cid"))).as("code1"),
          max(when(col("subspace") === 2, col("cid"))).as("code2"),
          max(when(col("subspace") === 3, col("cid"))).as("code3"),
          sum(col("d2_e8")).as("err_sq_e8"))
    },
    """WITH sub AS (
      |  SELECT vec_id, j AS subspace, embedding[j * 16 + 1 : j * 16 + 16] AS sv
      |  FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS j)),
      |cents AS (
      |  SELECT vec_id AS cid, subspace AS c_subspace, sv AS cv
      |  FROM sub WHERE vec_id < 8),
      |scored AS (
      |  SELECT s.vec_id, s.subspace, c.cid,
      |    CAST(list_sum(list_transform(generate_series(1, 16),
      |      i -> CAST(floor((s.sv[i]::DOUBLE - c.cv[i]::DOUBLE) *
      |                      (s.sv[i]::DOUBLE - c.cv[i]::DOUBLE) *
      |                      100000000) AS BIGINT))) AS BIGINT) AS d2_e8
      |  FROM sub s JOIN cents c ON s.subspace = c.c_subspace),
      |best AS (
      |  SELECT vec_id, subspace, cid, d2_e8 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
      |      ORDER BY d2_e8, cid) AS rn FROM scored) WHERE rn = 1)
      |SELECT vec_id,
      |  max(CASE WHEN subspace = 0 THEN cid END) AS code0,
      |  max(CASE WHEN subspace = 1 THEN cid END) AS code1,
      |  max(CASE WHEN subspace = 2 THEN cid END) AS code2,
      |  max(CASE WHEN subspace = 3 THEN cid END) AS code3,
      |  CAST(sum(d2_e8) AS BIGINT) AS err_sq_e8
      |FROM best GROUP BY vec_id""".stripMargin)

  // Two Lloyd iterations of k-means (the TRAINING step cluster_assign
  // serves): init = first 8 vectors, then twice (assign by squared-L2 →
  // recompute centroids as per-dimension means). Everything runs in exact
  // scaled integers so the oracle can replicate it bit-for-bit: vectors
  // quantize once to e6 units (|x| < 0.6 → |x_e6| < 6e5; per-dim squared
  // diff < 1.5e12, ×64 dims < 1e14 — long-safe), and centroid means use
  // floor(double(sum)/n) — floor-division semantics agree across engines
  // where integer `div`/`//` DISAGREE on negative sums (Spark truncates
  // toward zero, DuckDB floors), and member sums stay far below 2^53 so
  // the double is exact. Long-form layout throughout: (vec, dim, x) rows,
  // centroids a 512-row broadcast, distances one partial-aggregable sum
  // per (vec, cluster) — the standard distributed-k-means shape, linear in
  // |vectors| × dims × k per iteration, no all-pairs anywhere. Ties pick
  // the lowest cluster id on both engines. Output: per-cluster member
  // count, inertia, and a centroid checksum — 8 rows at any scale.
  val clusterTrain2Iter: (QFn, String) = (
    (s, dir) => {
      val ve = emb(s, dir).select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim"),
          floor(col("x").cast("double") * 1000000).cast("long").as("x_e6"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // feeds every round: quantize + explode ONCE
      def assign(cents: DataFrame): DataFrame =
        ve.join(broadcast(cents), "dim")
          .select(col("vec_id"), col("cluster"),
            ((col("x_e6") - col("c_e6")) * (col("x_e6") - col("c_e6")))
              .as("sq"))
          .groupBy(col("vec_id"), col("cluster"))
          .agg(sum(col("sq")).as("d2"))
          .groupBy(col("vec_id"))
          // d2-long-encode argmin (see pqSubTrainLoop): struct-min
          // demotes to a SortAggregate; cluster ids are in [0, 8)
          .agg(min(col("d2") * 8 + col("cluster")).as("m"))
          .select(col("vec_id"), pmod(col("m"), lit(8L)).as("cluster"),
            expr("m div 8").as("d2"))
      def recenter(asg: DataFrame): DataFrame =
        ve.join(asg.select(col("vec_id"), col("cluster")), "vec_id")
          .groupBy(col("cluster"), col("dim"))
          .agg(floor(sum(col("x_e6")).cast("double") / count(lit(1)))
            .cast("long").as("c_e6"))
      val init = ve.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cluster"), col("dim"), col("x_e6").as("c_e6"))
      val cents2 = recenter(assign(init))
      val final2 = assign(cents2)
      val sizes = final2.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"), sum(col("d2")).as("inertia"))
      val checks = cents2.groupBy(col("cluster"))
        .agg(sum(col("c_e6")).as("centroid_sum_e6"))
      sizes.join(checks, Seq("cluster"))
        .select(col("cluster"), col("n_members"), col("inertia"),
          col("centroid_sum_e6"))
    },
    """WITH ve AS (
      |  SELECT vec_id, i - 1 AS dim,
      |    CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS x_e6
      |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)),
      |init AS (SELECT vec_id AS cluster, dim, x_e6 AS c_e6 FROM ve WHERE vec_id < 8),
      |d1 AS (
      |  SELECT v.vec_id, c.cluster,
      |    CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT) AS d2
      |  FROM ve v JOIN init c ON v.dim = c.dim GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY d2, cluster) AS rn FROM d1) WHERE rn = 1),
      |c2 AS (
      |  SELECT a.cluster, v.dim,
      |    CAST(floor(CAST(sum(v.x_e6) AS DOUBLE) / count(*)) AS BIGINT) AS c_e6
      |  FROM ve v JOIN a1 a ON v.vec_id = a.vec_id GROUP BY 1, 2),
      |d2i AS (
      |  SELECT v.vec_id, c.cluster,
      |    CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT) AS d2
      |  FROM ve v JOIN c2 c ON v.dim = c.dim GROUP BY 1, 2),
      |a2 AS (
      |  SELECT vec_id, cluster, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY d2, cluster) AS rn FROM d2i) WHERE rn = 1)
      |SELECT a.cluster, CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(sum(a.d2) AS BIGINT) AS inertia, cs.centroid_sum_e6
      |FROM a2 a JOIN (
      |  SELECT cluster, CAST(sum(c_e6) AS BIGINT) AS centroid_sum_e6
      |  FROM c2 GROUP BY 1) cs ON a.cluster = cs.cluster
      |GROUP BY 1, 4""".stripMargin)

  // PQ asymmetric-distance top-k (the SERVING side of emb_pq_codes): each
  // query precomputes a 4×8 lookup table of exact subspace distances to the
  // centroids, and a candidate's distance is the SUM OF 4 LUT ENTRIES keyed
  // by its stored codes — query time never touches a raw vector, which is
  // the whole point of PQ at 10⁹ vectors: the scan side carries 4 small
  // code ints per row, the LUT broadcasts at qids × 32 rows, the per-(qid,
  // candidate) sum is partial-aggregable, and ranking reuses the bruteforce
  // window shape. ADC is approximate BY DESIGN (codes quantize the
  // candidate); the oracle replicates the same ADC math, so the gate is
  // still value-exact.
  val simPqAdcTopk: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val sub = e.select(col("vec_id"),
          explode(expr("transform(sequence(0, 3), " +
            "j -> struct(j as subspace, slice(embedding, j * 16 + 1, 16) as sv))"))
            .as("x"))
        .select(col("vec_id"), col("x.subspace").as("subspace"),
          col("x.sv").as("sv"))
      val cents = sub.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("subspace").as("c_subspace"),
          col("sv").as("cv"))
      val scored = sub.join(broadcast(cents),
          col("subspace") === col("c_subspace"))
        .select(col("vec_id"), col("subspace"), col("cid"),
          graft.functions.L2DistanceE8(col("sv"), col("cv")).as("d2_e8"))
      val codes = scored.groupBy(col("vec_id"), col("subspace"))
        // d2-long-encode argmin (see pqSubTrainLoop): struct-min demotes
        // to a SortAggregate; cid/cluster codes are in [0, 8)
        .agg(min(col("d2_e8") * 8 + col("cid")).as("m"))
        .select(col("vec_id"), col("subspace"),
          pmod(col("m"), lit(8L)).as("code"))
      val lut = scored.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("subspace").as("l_subspace"),
          col("cid").as("l_cid"), col("d2_e8"))
      codes.join(broadcast(lut),
          col("subspace") === col("l_subspace") && col("code") === col("l_cid"))
        .filter(col("qid") =!= col("vec_id"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("d2_e8")).as("adc_e8"))
        // ranking via the heap aggregate, NOT a per-qid window: a window
        // funnels the entire scored corpus of one query through one
        // reducer, the heap ships k rows per partition (score = −adc, so
        // the max-heap keeps the smallest distances; e8 sums < 2^53, so the
        // double round-trips exactly; heap tie-break = lowest id = the
        // oracle's ORDER BY adc_e8, vec_id)
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("adc_e8")).cast("double"), col("vec_id"), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("cid"),
          (-col("t.score")).cast("long").as("adc_e8"),
          (col("pos") + 1).cast("long").as("rank"))
    },
    """WITH sub AS (
      |  SELECT vec_id, j AS subspace, embedding[j * 16 + 1 : j * 16 + 16] AS sv
      |  FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS j)),
      |cents AS (
      |  SELECT vec_id AS cid, subspace AS c_subspace, sv AS cv
      |  FROM sub WHERE vec_id < 8),
      |scored AS (
      |  SELECT s.vec_id, s.subspace, c.cid,
      |    CAST(list_sum(list_transform(generate_series(1, 16),
      |      i -> CAST(floor((s.sv[i]::DOUBLE - c.cv[i]::DOUBLE) *
      |                      (s.sv[i]::DOUBLE - c.cv[i]::DOUBLE) *
      |                      100000000) AS BIGINT))) AS BIGINT) AS d2_e8
      |  FROM sub s JOIN cents c ON s.subspace = c.c_subspace),
      |codes AS (
      |  SELECT vec_id, subspace, cid AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
      |      ORDER BY d2_e8, cid) AS rn FROM scored) WHERE rn = 1),
      |adc AS (
      |  SELECT l.vec_id AS qid, c.vec_id,
      |    CAST(sum(l.d2_e8) AS BIGINT) AS adc_e8
      |  FROM codes c JOIN scored l
      |    ON l.vec_id < 10 AND l.subspace = c.subspace AND l.cid = c.code
      |  WHERE l.vec_id <> c.vec_id
      |  GROUP BY 1, 2)
      |SELECT qid, vec_id AS cid, adc_e8, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY adc_e8, vec_id) AS BIGINT) AS rank FROM adc)
      |WHERE rank <= 5""".stripMargin)

  // IVF-PQ — the COMPOSED production ANN index (r12): coarse IVF cell
  // pruning (the label cell, as sim_ivf_topk) × PQ asymmetric-distance
  // scoring (the broadcast LUTs, as sim_pq_adc_topk) in one query. This is
  // the shape every large-scale vector store actually serves: candidates
  // are ONLY the query's inverted list, and each candidate costs 4 LUT
  // lookups instead of a 64-dim float scan — at 100 TB the work drops from
  // n·4 lookups (flat ADC) to (n/ncells)·4, and the corpus never holds
  // floats at serving time, only 4-byte codes. Plan shape: codebook +
  // query LUTs ride broadcasts, the one shuffle keys on (qid, cid) partial
  // sums, ranking is the map-side heap (k rows per partition per query).
  // Exactness: same e8 integer distances as the PQ family; sums < 2^53 so
  // the heap's double round-trips exactly.
  val simIvfPqTopk: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"))
      val sub = e.select(col("vec_id"), col("label"),
          explode(expr("transform(sequence(0, 3), " +
            "j -> struct(j as subspace, slice(embedding, j * 16 + 1, 16) as sv))"))
            .as("x"))
        .select(col("vec_id"), col("label"), col("x.subspace").as("subspace"),
          col("x.sv").as("sv"))
      val cents = sub.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("subspace").as("c_subspace"),
          col("sv").as("cv"))
      val scored = sub.join(broadcast(cents),
          col("subspace") === col("c_subspace"))
        .select(col("vec_id"), col("label"), col("subspace"), col("cid"),
          graft.functions.L2DistanceE8(col("sv"), col("cv")).as("d2_e8"))
      val codes = scored.groupBy(col("vec_id"), col("label"), col("subspace"))
        // d2-long-encode argmin (see pqSubTrainLoop): struct-min demotes
        // to a SortAggregate; cid/cluster codes are in [0, 8)
        .agg(min(col("d2_e8") * 8 + col("cid")).as("m"))
        .select(col("vec_id"), col("label"), col("subspace"),
          pmod(col("m"), lit(8L)).as("code"))
      val lut = scored.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("subspace").as("l_subspace"), col("cid").as("l_cid"),
          col("d2_e8"))
      codes.join(broadcast(lut),
          col("subspace") === col("l_subspace") &&
            col("code") === col("l_cid") && col("label") === col("qlabel"))
        .filter(col("qid") =!= col("vec_id"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("d2_e8")).as("adc_e8"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("adc_e8")).cast("double"), col("vec_id"), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("cid"),
          (-col("t.score")).cast("long").as("adc_e8"),
          (col("pos") + 1).cast("long").as("rank"))
    },
    """WITH sub AS (
      |  SELECT vec_id, label, j AS subspace,
      |    embedding[j * 16 + 1 : j * 16 + 16] AS sv
      |  FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS j)),
      |cents AS (
      |  SELECT vec_id AS cid, subspace AS c_subspace, sv AS cv
      |  FROM sub WHERE vec_id < 8),
      |scored AS (
      |  SELECT s.vec_id, s.label, s.subspace, c.cid,
      |    CAST(list_sum(list_transform(generate_series(1, 16),
      |      i -> CAST(floor((s.sv[i]::DOUBLE - c.cv[i]::DOUBLE) *
      |                      (s.sv[i]::DOUBLE - c.cv[i]::DOUBLE) *
      |                      100000000) AS BIGINT))) AS BIGINT) AS d2_e8
      |  FROM sub s JOIN cents c ON s.subspace = c.c_subspace),
      |codes AS (
      |  SELECT vec_id, label, subspace, cid AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
      |      ORDER BY d2_e8, cid) AS rn FROM scored) WHERE rn = 1),
      |adc AS (
      |  SELECT l.vec_id AS qid, c.vec_id,
      |    CAST(sum(l.d2_e8) AS BIGINT) AS adc_e8
      |  FROM codes c JOIN scored l
      |    ON l.vec_id < 10 AND l.subspace = c.subspace AND l.cid = c.code
      |      AND l.label = c.label
      |  WHERE l.vec_id <> c.vec_id
      |  GROUP BY 1, 2)
      |SELECT qid, vec_id AS cid, adc_e8, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY adc_e8, vec_id) AS BIGINT) AS rank FROM adc)
      |WHERE rank <= 5""".stripMargin)

  // The REFINE stage that completes the PQ serving path: ADC scores are a
  // lossy compression of distance (the whole point — query time never
  // touches a raw vector), so production ANN serves in two stages: PQ-ADC
  // scans the compressed corpus for a SHORTLIST (top-20 per query here,
  // k' = 4k — the standard over-retrieve factor), then only the shortlist
  // rows fetch their raw vectors and re-rank by EXACT distance. Scale
  // shape: the expensive stage (ADC scan) stays compressed-domain with the
  // broadcast LUT + one (qid, cid) partial-agg shuffle (sim_ivfpq_topk's
  // plan); the exact stage touches k' × queries rows — at 10⁹ vectors and
  // 10k queries that is 200k raw-vector fetches, not a corpus scan. Both
  // distances ride in the output (adc_e8 next to exact_e8), so the row
  // also SHOWS the quantization error the rerank corrects — rank is by
  // exact distance where sim_ivfpq_topk serves ADC-rank, and any pair
  // where the two orders disagree is PQ error made visible. Exactness:
  // the same per-dim floor((a-b)²·1e8) integer contract as L2DistanceE8 /
  // the ADC LUTs, identical formula in the oracle — hash-exact.
  val simIvfPqRerank: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"))
      val sub = e.select(col("vec_id"), col("label"),
          explode(expr("transform(sequence(0, 3), " +
            "j -> struct(j as subspace, slice(embedding, j * 16 + 1, 16) as sv))"))
            .as("x"))
        .select(col("vec_id"), col("label"), col("x.subspace").as("subspace"),
          col("x.sv").as("sv"))
      val cents = sub.filter(col("vec_id") < 8)
        .select(col("vec_id").as("ccid"), col("subspace").as("c_subspace"),
          col("sv").as("cv"))
      val scored = sub.join(broadcast(cents),
          col("subspace") === col("c_subspace"))
        .select(col("vec_id"), col("label"), col("subspace"), col("ccid"),
          graft.functions.L2DistanceE8(col("sv"), col("cv")).as("d2_e8"))
      val codes = scored.groupBy(col("vec_id"), col("label"), col("subspace"))
        // d2-long-encode argmin (see pqSubTrainLoop): struct-min demotes
        // to a SortAggregate; cid/cluster codes are in [0, 8)
        .agg(min(col("d2_e8") * 8 + col("ccid")).as("m"))
        .select(col("vec_id"), col("label"), col("subspace"),
          pmod(col("m"), lit(8L)).as("code"))
      val lut = scored.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("subspace").as("l_subspace"), col("ccid").as("l_cid"),
          col("d2_e8"))
      val shortlist = codes.join(broadcast(lut),
          col("subspace") === col("l_subspace") &&
            col("code") === col("l_cid") && col("label") === col("qlabel"))
        .filter(col("qid") =!= col("vec_id"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("d2_e8")).as("adc_e8"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("adc_e8")).cast("double"), col("vec_id"), 20).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("cid"),
          (-col("t.score")).cast("long").as("adc_e8"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // feeds rerank + the adc join-back
      // exact refine: ONLY the shortlist fetches raw vectors — the query
      // side is a broadcast handful, the candidate side a semi-joined
      // subset of the corpus (k' rows per query, never a corpus scan)
      val qv = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      // the SHORTLIST side broadcasts explicitly: it is k' × queries rows
      // by construction, but it is also a checkpointed LogicalRDD whose
      // size AQE won't estimate ahead of time — without the hint the cid
      // join demoted to a sort-merge that SHUFFLED THE CORPUS (measured
      // smj=1/exch=3 at the 2M-vector rung), exactly the plan a 10⁹-vector
      // refine cannot run; with it the corpus streams map-side (bhj)
      val reranked = broadcast(shortlist.join(broadcast(qv), "qid"))
        .join(e.select(col("vec_id").as("cid"), col("embedding").as("ce")),
          "cid")
        .select(col("qid"), col("cid"), col("adc_e8"),
          graft.functions.L2DistanceE8(col("qe"), col("ce")).as("exact_e8"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // top-k + join-back both read it
      reranked
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("exact_e8")).cast("double"), col("cid"), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("cid"),
          (-col("t.score")).cast("long").as("exact_e8"),
          (col("pos") + 1).cast("long").as("rank"))
        .join(broadcast(reranked.select(col("qid"), col("cid"),
          col("adc_e8"))), Seq("qid", "cid")) // k'×queries rows — broadcast
        .select(col("qid"), col("cid"), col("adc_e8"), col("exact_e8"),
          col("rank"))
    },
    """WITH sub AS (
      |  SELECT vec_id, label, j AS subspace,
      |    embedding[j * 16 + 1 : j * 16 + 16] AS sv
      |  FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS j)),
      |cents AS (
      |  SELECT vec_id AS cid, subspace AS c_subspace, sv AS cv
      |  FROM sub WHERE vec_id < 8),
      |scored AS MATERIALIZED (
      |  SELECT s.vec_id, s.label, s.subspace, c.cid,
      |    CAST(list_sum(list_transform(generate_series(1, 16),
      |      i -> CAST(floor((s.sv[i]::DOUBLE - c.cv[i]::DOUBLE) *
      |                      (s.sv[i]::DOUBLE - c.cv[i]::DOUBLE) *
      |                      100000000) AS BIGINT))) AS BIGINT) AS d2_e8
      |  FROM sub s JOIN cents c ON s.subspace = c.c_subspace),
      |codes AS (
      |  SELECT vec_id, label, subspace, cid AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
      |      ORDER BY d2_e8, cid) AS rn FROM scored) WHERE rn = 1),
      |adc AS (
      |  SELECT l.vec_id AS qid, c.vec_id,
      |    CAST(sum(l.d2_e8) AS BIGINT) AS adc_e8
      |  FROM codes c JOIN scored l
      |    ON l.vec_id < 10 AND l.subspace = c.subspace AND l.cid = c.code
      |      AND l.label = c.label
      |  WHERE l.vec_id <> c.vec_id
      |  GROUP BY 1, 2),
      |shortlist AS MATERIALIZED (
      |  SELECT qid, vec_id AS cid, adc_e8 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid
      |      ORDER BY adc_e8, vec_id) AS rn FROM adc)
      |  WHERE rn <= 20),
      |rer AS MATERIALIZED (
      |  SELECT s.qid, s.cid, s.adc_e8,
      |    CAST(list_sum(list_transform(generate_series(1, 64),
      |      i -> CAST(floor((q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) *
      |                      (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) *
      |                      100000000) AS BIGINT))) AS BIGINT) AS exact_e8
      |  FROM shortlist s
      |  JOIN embeddings q ON q.vec_id = s.qid
      |  JOIN embeddings c ON c.vec_id = s.cid)
      |SELECT qid, cid, adc_e8, exact_e8, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY exact_e8, cid) AS BIGINT) AS rank FROM rer)
      |WHERE rank <= 5""".stripMargin)

  // ------------------------------------------------------------------
  // TRAINED product quantization (r14 VERDICT #3): the PQ serving tier
  // above uses `vec_id < 8` slices as its codebook — exactness-correct
  // (the oracle shares the convention) but an UNTRAINED codebook, while
  // the k-means trainer already exists (cluster_train_2iter). This block
  // composes them: a per-subspace Lloyd trainer (the cluster_train_2iter
  // algorithm run independently in each PQ subspace — which is precisely
  // how a real PQ codebook is trained, k-means per subspace over the
  // subvectors), per-round value-exact telemetry in the text_bpe_train
  // mold, and the serving path re-run against the TRAINED codebook. The
  // same generalized loop with nSub = 1 trains the full-dim COARSE
  // quantizer that sim_ivfpq_recall's nprobe curve probes. All distances
  // are exact integers: vectors quantize once to e6 units (|x| < 0.6 →
  // |x_e6| < 6.1e5; 64-dim squared distances < 1e14 — long-safe, and the
  // heap's double round-trips exactly), centroid means are
  // floor(double(sum)/n) — the division semantics Spark `div` and DuckDB
  // `//` agree on for the non-negative counts used here.
  // Reference analog: the engine serves data a training pipeline indexes
  // (SURVEY §2's training-data operators); the per-round-exact oracle
  // discipline mirrors src/e2e/cdc_test.zig:12-18's count+structure
  // principle.

  /** Long-form centroids → one array row per (subspace, cid): the
    * broadcastable operand of the codegen distance kernel (L2SqLong).
    * array_sort on (dim, c_e6) structs orders by the unique leading dim,
    * so element order is exactly dimension order. ≤ nSub×8 rows. */
  private def centArrays(c: DataFrame): DataFrame =
    c.groupBy(col("subspace"), col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c_e6))), " +
        "p -> p.c_e6)").as("carr"))

  /** Per-subspace Lloyd trainer shared by `sim_pq_train` (per-round
    * telemetry), `sim_ivfpq_trained` (the trained serving codebook) and
    * `sim_ivfpq_recall` (nSub = 1 → the coarse quantizer). Returns the
    * checkpointed ARRAY-form vector frame (vec_id, label, subspace,
    * varr: array<long> of the subspace's e6-quantized dims), one
    * ≤(nSub·8)-row telemetry frame per round, and the final trained
    * centroids (subspace, cid, dim, c_e6). Assignment distances run
    * through the fused codegen kernel over the array form (r15: the
    * per-dimension explode × 8-centroid join put ~10M rows through two
    * aggregates per round at sf0.1; the kernel computes the same integer
    * d2 in one pass, so only the nSub-per-vector argmin rows shuffle).
    * No corpus-sized long form exists anywhere: recentering re-joins the
    * array form against the winner keys (corpus×nSub narrow rows on both
    * sides) and posexplodes map-side straight into a ≤nSub·8·subDim-key
    * partial aggregate — per-dimension rows live only inside codegen
    * pipelines (r15: the 2M-vector rung's dominant cost was
    * materializing and re-shuffling the corpus×64 long form every
    * round). Round state follows the components-doubling discipline:
    * each round's assignment and the superseded centroid frame release
    * once the next round's state is checkpointed, so live state is
    * O(codebook + corpus) regardless of iteration count. */
  /** The PQ tier's subspace split + e6 quantization of the float-array
    * column named `srcCol` (default `embedding` — the parameter exists
    * because the implementation is a SQL-string expression, so the source
    * column is BY NAME, not a `Column`; callers whose frame uses another
    * name pass it explicitly rather than renaming to match — r15 ADVICE),
    * as ONE expression: `explode(pqSubspaceSplit(n, s, a))`
    * yields (subspace, e6-long-array) structs. SHARED by the trainer and
    * the streaming serving twin (`AnnServeStream`) so the two
    * derivations can never desynchronize — the serving exactness
    * contract (a corpus-member query's LUT is bit-identical to the batch
    * derivation) rides on this being the same expression object, not two
    * hand-maintained copies (r15 review finding). */
  private[graft] def pqSubspaceSplit(nSub: Int, subField: String,
      arrField: String, srcCol: String = "embedding")
      : org.apache.spark.sql.Column = {
    val subDim = 64 / nSub
    expr(s"transform(sequence(0, ${nSub - 1}), s0 -> struct(" +
      s"CAST(s0 AS INT) AS $subField, " +
      s"transform(slice($srcCol, s0 * $subDim + 1, $subDim), " +
      s"x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) " +
      s"AS $arrField))")
  }

  /** `telemetry = false` skips building the per-round telemetry rows
    * entirely (r16): `sim_ivfpq_trained` / `sim_ivfpq_recall` /
    * `sim_ivfpq_rerank_trained` discard them, and each row is a
    * corpus-sized groupBy + a join + an eager checkpoint PER ROUND —
    * pure waste on the serving paths (the returned Seq is empty). The
    * trained centroids are bit-identical either way; only
    * `sim_pq_train` consumes the telemetry. */
  private def pqSubTrainLoop(s: SparkSession, dir: String, nSub: Int,
      iters: Int, k: Int = 8, seedStride: Int = 1,
      telemetry: Boolean = true)
      : (DataFrame, Seq[DataFrame], DataFrame) =
    pqSubTrainLoopOn(emb(s, dir), nSub, iters, k, seedStride, telemetry)

  /** [[pqSubTrainLoop]] over a caller-provided corpus frame `(vec_id,
    * label, embedding)` — the retrain path of the index lifecycle
    * (`graft.sim.AnnIndexStore.retrain`) trains on corpus ∪ appended
    * batches, not on a directory. Seeding still reads `vec_id <
    * seedStride·k`, so the corpus must contain those ids (any corpus that
    * grew by appends does). */
  private[graft] def pqSubTrainLoopOn(corpus: DataFrame, nSub: Int,
      iters: Int, k: Int = 8, seedStride: Int = 1,
      telemetry: Boolean = true)
      : (DataFrame, Seq[DataFrame], DataFrame) = {
    val vsub = corpus
      .select(col("vec_id"), col("label"),
        explode(pqSubspaceSplit(nSub, "subspace", "varr")).as("p"))
      .select(col("vec_id"), col("label"), col("p.subspace").as("subspace"),
        col("p.varr").as("varr"))
      // r20 A/B, reverted: fanning this checkpoint to 32 partitions
      // (hypothesis: the broadcast-joined L2 legs inherit the single-task
      // scan layout) measured ~2x SLOWER across the whole sim tier
      // (min-of-5, fan-out on/off: recall 1.99->4.40, trained
      // 0.91->2.21, pq_train 0.99->1.74, rerank_trained 1.53->2.94) — the
      // added keyless repartition (with its sort-before-repartition pass
      // over 512 B array rows) plus 32x the per-stage task count through
      // the train loop's many small stages costs far more than the
      // serial-kernel time it recovers at this corpus size.
      .transform(graft.util.Checkpoints.ownedCheckpoint) // quantize ONCE, feeds every round
    // r15: NO corpus-sized long form anywhere in the loop. The previous
    // shape checkpointed corpus × 64 (vec, subspace, dim, x_e6) rows and
    // re-shuffled them against the assignment every round for the
    // recentering means — the dominant cost of the 2M-vector rung. The
    // assignment below carries the vector's array THROUGH the argmin, so
    // recentering is a map-side posexplode of the assigned rows straight
    // into a ≤nSub·8·subDim-key partial aggregate: nothing corpus×64-
    // sized ever persists or shuffles. Per-dimension rows exist only
    // transiently inside codegen pipelines.
    // k seeds, deterministically strided (`vec_id % seedStride == 0`,
    // cid = vec_id div seedStride): stride 1 reproduces the original
    // first-k seeding; a wider stride spreads the seeds across the id
    // range so a wide coarse quantizer (k = 64 for sim_ivfpq_recall)
    // starts from corpus-spanning cells rather than one id-local clump
    var cents = vsub
      .filter(col("vec_id") % seedStride === 0 &&
        col("vec_id") < seedStride.toLong * k)
      .select(expr(s"vec_id div $seedStride").as("cid"), col("subspace"),
        posexplode(col("varr")).as(Seq("dim", "c_e6")))
      .transform(graft.util.Checkpoints.ownedCheckpoint)
    val rows = (1 to iters).map { t =>
      // assign: nearest trained centroid per (vector, subspace) — the
      // codebook broadcasts (≤ nSub × 8 array rows at any corpus size),
      // each candidate distance is one fused codegen loop, and the one
      // shuffle is the (vec, subspace) argmin — collapsed to one row per
      // key by the map-side partial aggregate before anything moves
      // NOTE the argmin buffer stays array-free: a first(varr) riding
      // this aggregate demotes it to a SortAggregate (array-typed
      // buffers can't live in the hash aggregate's UnsafeRow), and so
      // does min(struct(...)) itself — at the 2M rung BOTH forms sorted
      // all 64M candidate rows per round. The argmin instead encodes
      // (d2, cid) into ONE long — d2·8 + cid, exact because cid ∈ [0, 8)
      // and d2 < 2⁵⁰, with lexicographic (d2, cid) order preserved — so
      // the aggregate is a plain long min: whole-stage-codegen
      // HashAggregate, map-side partial, nothing sorted anywhere
      // encode factor = k (exact and (d2, cid)-order-preserving for
      // cid ∈ [0, k)); headroom: d2 < Long.MaxValue / k — at k = 64 and
      // e6-quantized |x| < 0.6 inputs, d2 < 1e14 ≪ 1.4e17, and the
      // ScaleSmoke trained rung asserts max(d2) against the bound so a
      // grown embedding magnitude/dimension trips a loud failure, never
      // a silently wrong argmin (r15 ADVICE)
      val asg = vsub.join(broadcast(centArrays(cents)), Seq("subspace"))
        .select(col("vec_id"), col("subspace"), col("cid"),
          graft.functions.L2SqLong(col("varr"), col("carr")).as("d2"))
        .groupBy(col("vec_id"), col("subspace"))
        .agg(min(col("d2") * k + col("cid")).as("m"))
        .select(col("vec_id"), col("subspace"),
          pmod(col("m"), lit(k.toLong)).as("cid"),
          expr(s"m div $k").as("d2"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // feeds recenter + telemetry
      // recenter: re-join the ARRAY form against the winner keys (both
      // sides corpus×nSub narrow rows — never corpus×64), then explode
      // map-side straight into the ≤nSub·8·subDim-key partial aggregate
      val newCents = vsub
        .join(asg.select("vec_id", "subspace", "cid"),
          Seq("vec_id", "subspace"))
        .select(col("subspace"), col("cid"),
          posexplode(col("varr")).as(Seq("dim", "x_e6")))
        .groupBy(col("subspace"), col("cid"), col("dim"))
        .agg(floor(sum(col("x_e6")).cast("double") / count(lit(1)))
          .cast("long").as("c_e6"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      // telemetry reads BOTH the round's assignment and the centroids it
      // assigned against — checkpoint it before those release; skipped
      // entirely for the serving-path callers that discard it (the
      // groupBy over the corpus-sized assignment is per-round work)
      val row = if (!telemetry) None else Some(
        asg.groupBy(col("subspace"), col("cid"))
          .agg(count(lit(1)).as("n_members"), sum(col("d2")).as("inertia"))
          .join(cents.groupBy(col("subspace"), col("cid"))
              .agg(sum(col("c_e6")).as("centroid_sum_e6")),
            Seq("subspace", "cid"))
          .select(lit(t).cast("long").as("iter"),
            col("subspace").cast("long").as("subspace"),
            col("cid").as("cid"), col("n_members"), col("inertia"),
            col("centroid_sum_e6"))
          .transform(graft.util.Checkpoints.ownedCheckpoint)) // ≤ nSub·8 rows
      val prev = cents
      cents = newCents
      graft.util.Checkpoints.release(prev)
      graft.util.Checkpoints.release(asg)
      row
    }
    (vsub, rows.flatten, cents)
  }

  /** DuckDB twin of [[pqSubTrainLoop]] as a CTE chain (long-form, the
    * cluster_train_2iter oracle's shape, keyed by subspace). Emits
    * ve / c0 / d1 / a1 / c1 / d2r / a2 / c2 for two rounds. */
  private def pqTrainCtes(nSub: Int, k: Int = 8, seedStride: Int = 1)
      : String = {
    val subDim = 64 / nSub
    s"""WITH ve AS MATERIALIZED (
       |  SELECT vec_id, label, (i - 1) // $subDim AS subspace,
       |    (i - 1) % $subDim AS dim,
       |    CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS x_e6
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)),
       |c0 AS (
       |  SELECT vec_id // $seedStride AS cid, subspace, dim, x_e6 AS c_e6
       |  FROM ve WHERE vec_id % $seedStride = 0
       |    AND vec_id < ${seedStride.toLong * k}),
       |d1 AS (
       |  SELECT v.vec_id, v.subspace, c.cid,
       |    CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT) AS d2
       |  FROM ve v JOIN c0 c ON v.subspace = c.subspace AND v.dim = c.dim
       |  GROUP BY 1, 2, 3),
       |a1 AS MATERIALIZED (
       |  SELECT vec_id, subspace, cid, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
       |      ORDER BY d2, cid) AS rn FROM d1) WHERE rn = 1),
       |c1 AS MATERIALIZED (
       |  SELECT v.subspace, a.cid, v.dim,
       |    CAST(floor(CAST(sum(v.x_e6) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS c_e6
       |  FROM ve v JOIN a1 a
       |    ON v.vec_id = a.vec_id AND v.subspace = a.subspace
       |  GROUP BY 1, 2, 3),
       |d2r AS (
       |  SELECT v.vec_id, v.subspace, c.cid,
       |    CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT) AS d2
       |  FROM ve v JOIN c1 c ON v.subspace = c.subspace AND v.dim = c.dim
       |  GROUP BY 1, 2, 3),
       |a2 AS MATERIALIZED (
       |  SELECT vec_id, subspace, cid, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
       |      ORDER BY d2, cid) AS rn FROM d2r) WHERE rn = 1),
       |c2 AS MATERIALIZED (
       |  SELECT v.subspace, a.cid, v.dim,
       |    CAST(floor(CAST(sum(v.x_e6) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS c_e6
       |  FROM ve v JOIN a2 a
       |    ON v.vec_id = a.vec_id AND v.subspace = a.subspace
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  // Per-round PQ-codebook training telemetry (the cluster_train_2iter /
  // text_bpe_train mold): for each of 2 Lloyd rounds × 4 subspaces × ≤8
  // codewords, the members assigned, the round's inertia (exact e12-unit
  // squared distance sum) and a checksum of the centroids the round
  // assigned AGAINST. Value-exact per round — a drift in any round's
  // assignment, mean or tie-break is a hash diff, not a converged-state
  // coincidence.
  val simPqTrain: (QFn, String) = (
    (s, dir) => pqSubTrainLoop(s, dir, 4, 2)._2.reduce(_ unionByName _),
    s"""${pqTrainCtes(4)},
       |r1 AS (
       |  SELECT CAST(1 AS BIGINT) AS iter, CAST(a.subspace AS BIGINT)
       |      AS subspace, a.cid,
       |    CAST(count(*) AS BIGINT) AS n_members,
       |    CAST(sum(a.d2) AS BIGINT) AS inertia, cs.centroid_sum_e6
       |  FROM a1 a JOIN (
       |    SELECT subspace, cid, CAST(sum(c_e6) AS BIGINT)
       |      AS centroid_sum_e6 FROM c0 GROUP BY 1, 2) cs
       |    ON a.subspace = cs.subspace AND a.cid = cs.cid
       |  GROUP BY 1, 2, 3, 6),
       |r2 AS (
       |  SELECT CAST(2 AS BIGINT) AS iter, CAST(a.subspace AS BIGINT)
       |      AS subspace, a.cid,
       |    CAST(count(*) AS BIGINT) AS n_members,
       |    CAST(sum(a.d2) AS BIGINT) AS inertia, cs.centroid_sum_e6
       |  FROM a2 a JOIN (
       |    SELECT subspace, cid, CAST(sum(c_e6) AS BIGINT)
       |      AS centroid_sum_e6 FROM c1 GROUP BY 1, 2) cs
       |    ON a.subspace = cs.subspace AND a.cid = cs.cid
       |  GROUP BY 1, 2, 3, 6)
       |SELECT * FROM r1 UNION ALL SELECT * FROM r2""".stripMargin)

  // The IVF-PQ serving path against the TRAINED codebook — train (2
  // Lloyd rounds per subspace) → encode the corpus → broadcast per-query
  // LUTs → label-cell pruning → ADC top-5, closing the ANN story
  // end-to-end: train → encode → index → serve (sim_ivfpq_rerank's
  // refine and sim_ivfpq_recall's measured recall complete it). The
  // serving plan is sim_ivfpq_topk's — codebook and LUTs ride
  // broadcasts, one (qid, cid) partial-agg shuffle, map-side heap — with
  // the codebook now the trainer's OUTPUT instead of raw vector slices;
  // PlanShapeSpec pins that the broadcasts survive the trained codebook
  // (a trained-centroid frame is a checkpointed LogicalRDD whose size
  // AQE cannot estimate — the same demotion class sim_ivfpq_rerank
  // measured). Distances are e12-unit exact integers end to end.
  /** The trained PQ index's pieces, shared by `sim_ivfpq_trained` and the
    * streaming serving twin (`graft.streaming.AnnServeStream`): the
    * per-(vector, subspace, codeword) distance frame, the derived codes,
    * and the broadcastable ≤32-row codebook arrays. Every (vector,
    * subspace, codeword) distance is one fused codegen pass over the
    * array form — no per-dimension explode, no aggregate at all before
    * the argmin/LUT consumers (r15; was a ~10M-row two-level groupBy at
    * sf0.1). */
  private[graft] def pqTrainedIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    pqTrainedIndexOn(emb(s, dir))

  /** [[pqTrainedIndex]] over a caller-provided corpus frame — the
    * `AnnIndexStore.retrain` entry point (train → encode on the SAME
    * kernels, so a retrained version re-pins against the
    * `sim_pq_codes_trained` oracle derivation by construction). */
  private[graft] def pqTrainedIndexOn(corpus: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val (vsub, _, cents) =
      pqSubTrainLoopOn(corpus, 4, 2, telemetry = false)
    val carr = centArrays(cents)
      .transform(graft.util.Checkpoints.ownedCheckpoint) // ≤32 rows, read per serve
    val scored = vsub.join(broadcast(carr), Seq("subspace"))
      .select(col("vec_id"), col("label"), col("subspace"), col("cid"),
        graft.functions.L2SqLong(col("varr"), col("carr")).as("d2"))
      .transform(graft.util.Checkpoints.ownedCheckpoint) // feeds codes + LUTs
    val codes = scored
      .groupBy(col("vec_id"), col("label"), col("subspace"))
      // d2·8 + cid long-encode (see pqSubTrainLoop) — a struct-min here
      // is a SortAggregate over corpus×nSub×8 rows; the long min is a
      // codegen HashAggregate with the same (d2, cid) order
      .agg(min(col("d2") * 8 + col("cid")).as("m"))
      .select(col("vec_id"), col("label"), col("subspace"),
        pmod(col("m"), lit(8L)).as("code"))
    (scored, codes, carr)
  }

  val simIvfPqTrained: (QFn, String) = (
    (s, dir) => {
      val (scored, codes, _) = pqTrainedIndex(s, dir)
      val lut = scored.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("subspace").as("l_subspace"), col("cid").as("l_cid"),
          col("d2"))
      codes.join(broadcast(lut),
          col("subspace") === col("l_subspace") &&
            col("code") === col("l_cid") && col("label") === col("qlabel"))
        .filter(col("qid") =!= col("vec_id"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("d2")).as("adc_sq_e12"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("adc_sq_e12")).cast("double"), col("vec_id"), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("cid"),
          (-col("t.score")).cast("long").as("adc_sq_e12"),
          (col("pos") + 1).cast("long").as("rank"))
    },
    s"""${pqTrainCtes(4)},
       |sc2 AS MATERIALIZED (
       |  SELECT v.vec_id, v.label, v.subspace, c.cid,
       |    CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT) AS d2
       |  FROM ve v JOIN c2 c ON v.subspace = c.subspace AND v.dim = c.dim
       |  GROUP BY 1, 2, 3, 4),
       |codes AS (
       |  SELECT vec_id, label, subspace, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
       |      ORDER BY d2, cid) AS rn FROM sc2) WHERE rn = 1),
       |adc AS (
       |  SELECT l.vec_id AS qid, c.vec_id,
       |    CAST(sum(l.d2) AS BIGINT) AS adc_sq_e12
       |  FROM codes c JOIN sc2 l
       |    ON l.vec_id < 10 AND l.subspace = c.subspace AND l.cid = c.code
       |      AND l.label = c.label
       |  WHERE l.vec_id <> c.vec_id
       |  GROUP BY 1, 2)
       |SELECT qid, vec_id AS cid, adc_sq_e12, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY adc_sq_e12, vec_id) AS BIGINT) AS rank FROM adc)
       |WHERE rank <= 5""".stripMargin)

  /** The trained-codebook corpus ENCODE surfaced as its own oracle-gated
    * query: exactly [[graft.sim.AnnIndexStore.encode]] against the
    * trained codebook — the persistence / incremental-append path's
    * encoder (r17) — so the index a deployment saves and appends to is
    * itself hash-verified against the reference derivation, not only the
    * top-k it serves (`sim_ivfpq_trained` pins the latter; the untrained
    * `emb_pq_codes` pins the first-8-vectors codebook variant). */
  val simPqCodesTrained: (QFn, String) = (
    (s, dir) => {
      val (_, _, carr) = pqTrainedIndex(s, dir)
      graft.sim.AnnIndexStore.encode(
        emb(s, dir).select(col("vec_id"), col("label"), col("embedding")),
        carr)
        .select(col("vec_id"), col("label"),
          col("subspace").cast("long").as("subspace"), col("code"))
    },
    s"""${pqTrainCtes(4)},
       |sc2 AS MATERIALIZED (
       |  SELECT v.vec_id, v.label, v.subspace, c.cid,
       |    CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT) AS d2
       |  FROM ve v JOIN c2 c ON v.subspace = c.subspace AND v.dim = c.dim
       |  GROUP BY 1, 2, 3, 4)
       |SELECT vec_id, label, subspace, cid AS code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
       |    ORDER BY d2, cid) AS rn FROM sc2) WHERE rn = 1""".stripMargin)

  // The IVF path's MEASURED recall contract (r14 VERDICT #4 — the
  // mm_sim_recall mold applied to the trained coarse quantizer): every
  // 4th vector below id 2000 (≤500 planted probes, a fixed cap so the
  // exact-truth leg stays linear in the corpus) gets a deterministic
  // ±0.05 per-dimension perturbation — small against the ~1.4 unit
  // inter-vector distance scale (the source stays the probe's exact
  // top-1) but comparable to Voronoi boundary margins, so SOME probes'
  // nearest trained centroid is no longer their source's cell: exactly
  // the cell-miss mode nprobe exists to recover. Truth is the probe's
  // exact-L2 top-1 over ALL vectors, computed honestly. The retrieval
  // legs rank the 64 trained cells per probe and scan candidates from
  // the nprobe nearest — nprobe = 1 / 2 / 4 / 8 rungs, each priced by
  // its candidate volume IN THE SAME partial aggregate (one candidate
  // join computes all four rungs; a candidate carries its cell_rank). The
  // PQ-ADC quantization error is priced separately by sim_ivfpq_rerank
  // (adc next to exact per row); this query isolates what cell PRUNING
  // costs, which is the number nprobe tuning needs.
  val simIvfPqRecall: (QFn, String) = (
    (s, dir) => {
      // trained coarse quantizer: k = 64 full-dim k-means (2 Lloyd
      // rounds, seeds strided every 7th vec_id so they span the corpus).
      // r15 trained k = 8, so nprobe=1 already scanned 12.5 % of the
      // corpus and 93–100 % recall was nearly guaranteed by geometry; at
      // k = 64 the cheapest rung scans ~1/64 ≈ 1.6 % and the curve
      // measures REAL pruning — the number a 100 TB ANN index lives on
      // (r15 VERDICT #1). nSub = 1, so the trainer's array form IS the
      // full e6 vector — every leg below (cell assignment, probe
      // ranking, exact truth) reads the ONE checkpointed quantization
      // through the codegen kernel; nothing per-dimension survives
      // outside the trainer. The centroid frame stays ≤64 array rows —
      // broadcastable at any corpus size.
      val nCells = 64
      val (vsub, _, cents) =
        pqSubTrainLoop(s, dir, 1, 2, nCells, 7, telemetry = false)
      val carr = centArrays(cents)
      // corpus cell assignment against the trained centroids
      val vcell = vsub.join(broadcast(carr), Seq("subspace"))
        .select(col("vec_id"), col("cid"),
          graft.functions.L2SqLong(col("varr"), col("carr")).as("d2"))
        .groupBy(col("vec_id"))
        // d2·k + cid long-encode (see pqSubTrainLoop): codegen hash
        // argmin — a struct-min here SortAggregates corpus×k rows
        .agg(min(col("d2") * nCells + col("cid")).as("m"))
        .select(col("vec_id"), pmod(col("m"), lit(nCells.toLong)).as("vcid"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      // exact-distance legs work on the same e6 ARRAYS
      val varr = vsub.select(col("vec_id"), col("varr").as("v"))
      val parr = varr.filter(col("vec_id") % 4 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("pid"),
          expr("transform(v, (x, i) -> " +
            "x + ((vec_id * 37 + i * 11) % 100001) - 50000)").as("pv"))
      // probe cell ranking: ≤500 probes × 64 cells, heap top-8 per probe
      val pcell = parr
        .crossJoin(broadcast(carr.select(col("cid"), col("carr"))))
        .select(col("pid"), col("cid"),
          graft.functions.L2SqLong(col("pv"), col("carr")).as("d2"))
        .groupBy(col("pid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("d2")).cast("double"), col("cid"), 8).as("top"))
        .select(col("pid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("pid"), col("t.id").as("cid"),
          (col("pos") + 1).as("cell_rank"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // ≤ 500 × 8 rows
      // codegen'd kernel, not aggregate(zip_with(...)): the interpreted
      // HOF path cost this query 16 s in-suite at sf0.1 across its ~15M
      // probe×corpus pair evaluations (r15 measurement); the fused loop
      // is bit-identical long arithmetic in the same element order
      val l2 = graft.functions.L2SqLong(col("pv"), col("cv"))
      // exact truth: capped probes × corpus, probe side broadcast, the
      // HEAP partial aggregate ships one row per probe. k=1 top-k, not
      // min(struct): cdoc is corpus-sized so the long-encode doesn't fit
      // in 63 bits, and a struct-min SortAggregates the ≤500×corpus
      // candidate frame — the heap is an ObjectHashAggregate with the
      // identical (d2 asc, cdoc asc) order (score = −d2, d2 < 2⁵³ exact
      // in double; heap ties break toward the smaller id)
      val truth = varr
        .select(col("vec_id").as("cdoc"), col("v").as("cv"))
        .crossJoin(broadcast(parr))
        .select(col("pid"), col("cdoc"), l2.as("d2"))
        .groupBy(col("pid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("d2")).cast("double"), col("cdoc"), 1).as("mt"))
        .select(col("pid"), col("mt").getItem(0).getField("id").as("tdoc"))
      // ONE candidate join computes all four rungs: corpus rows keep
      // their cell, probe cell-ranks broadcast, arrays ride the same row
      val scoredCand = varr.join(vcell, "vec_id") // corpus-keyed, co-partitioned
        .select(col("vec_id").as("cdoc"), col("v").as("cv"), col("vcid"))
        .join(broadcast(pcell), col("vcid") === col("cid"))
        .join(broadcast(parr), "pid")
        .select(col("pid"), col("cdoc"), col("cell_rank"), l2.as("d2"))
      // per-rung argmins as MASKED k=1 heaps in one ObjectHashAggregate
      // (rung r's candidates are the cell_rank ≤ r prefix; a null score
      // is skipped by the heap, so the mask IS the rung) — the struct-min
      // form SortAggregated the full candidate frame per probe. Heap
      // heads come out through try_element_at (r15 ADVICE): with 64
      // trained cells an empty probed cell is a REAL shape (k-means
      // leaves cells empty after reassignment), and under ANSI mode a
      // bare getItem(0) on the empty heap array would crash the query —
      // try_element_at degrades to NULL, which counts a miss exactly as
      // the struct-min form did.
      val legs = scoredCand.groupBy(col("pid"))
        .agg(
          graft.functions.TopKByScore.topK(
            when(col("cell_rank") <= 1, (-col("d2")).cast("double")),
            col("cdoc"), 1).as("t1"),
          graft.functions.TopKByScore.topK(
            when(col("cell_rank") <= 2, (-col("d2")).cast("double")),
            col("cdoc"), 1).as("t2"),
          graft.functions.TopKByScore.topK(
            when(col("cell_rank") <= 4, (-col("d2")).cast("double")),
            col("cdoc"), 1).as("t4"),
          graft.functions.TopKByScore.topK(
            (-col("d2")).cast("double"), col("cdoc"), 1).as("t8"),
          sum(when(col("cell_rank") <= 1, 1L).otherwise(0L)).as("nc1"),
          sum(when(col("cell_rank") <= 2, 1L).otherwise(0L)).as("nc2"),
          sum(when(col("cell_rank") <= 4, 1L).otherwise(0L)).as("nc4"),
          count(lit(1)).as("nc8"))
        .select(col("pid"),
          expr("try_element_at(t1, 1).id").as("m1"),
          expr("try_element_at(t2, 1).id").as("m2"),
          expr("try_element_at(t4, 1).id").as("m4"),
          expr("try_element_at(t8, 1).id").as("m8"),
          col("nc1"), col("nc2"), col("nc4"), col("nc8"))
      truth.join(legs, Seq("pid"), "left")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("m1") === col("tdoc"), 1L).otherwise(0L))
            .as("hits_n1"),
          sum(when(col("m2") === col("tdoc"), 1L).otherwise(0L))
            .as("hits_n2"),
          sum(when(col("m4") === col("tdoc"), 1L).otherwise(0L))
            .as("hits_n4"),
          sum(when(col("m8") === col("tdoc"), 1L).otherwise(0L))
            .as("hits_n8"),
          coalesce(sum(col("nc1")), lit(0L)).as("cand_n1"),
          coalesce(sum(col("nc2")), lit(0L)).as("cand_n2"),
          coalesce(sum(col("nc4")), lit(0L)).as("cand_n4"),
          coalesce(sum(col("nc8")), lit(0L)).as("cand_n8"))
        .select(col("n_eval"), col("hits_n1"),
          expr("IF(n_eval = 0, 0L, hits_n1 * 1000000 div n_eval)")
            .as("recall_n1_pm"),
          col("hits_n2"),
          expr("IF(n_eval = 0, 0L, hits_n2 * 1000000 div n_eval)")
            .as("recall_n2_pm"),
          col("hits_n4"),
          expr("IF(n_eval = 0, 0L, hits_n4 * 1000000 div n_eval)")
            .as("recall_n4_pm"),
          col("hits_n8"),
          expr("IF(n_eval = 0, 0L, hits_n8 * 1000000 div n_eval)")
            .as("recall_n8_pm"),
          col("cand_n1"), col("cand_n2"), col("cand_n4"), col("cand_n8"))
    },
    s"""${pqTrainCtes(1, 64, 7)},
       |vcell AS MATERIALIZED (
       |  SELECT vec_id, cid AS vcid FROM (
       |    SELECT v.vec_id, c.cid,
       |      CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT)
       |        AS d2,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT),
       |        c.cid) AS rn
       |    FROM ve v JOIN c2 c ON v.dim = c.dim
       |    GROUP BY v.vec_id, c.cid) WHERE rn = 1),
       |varr AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(generate_series(1, 64), i ->
       |      CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |parr AS MATERIALIZED (
       |  SELECT vec_id AS pid,
       |    list_transform(generate_series(1, 64), i ->
       |      CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT)
       |        + ((vec_id * 37 + (i - 1) * 11) % 100001) - 50000) AS pv
       |  FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 2000),
       |pcell AS MATERIALIZED (
       |  SELECT pid, cid, CAST(rn AS INTEGER) AS cell_rank FROM (
       |    SELECT p.pid, c.cid,
       |      row_number() OVER (PARTITION BY p.pid ORDER BY
       |        CAST(sum((p.pv[c.dim + 1] - c.c_e6) *
       |                 (p.pv[c.dim + 1] - c.c_e6)) AS BIGINT), c.cid) AS rn
       |    FROM parr p JOIN c2 c ON true
       |    GROUP BY p.pid, c.cid) WHERE rn <= 8),
       |truth AS MATERIALIZED (
       |  SELECT p.pid,
       |    (min({'d': CAST(list_sum(list_transform(generate_series(1, 64),
       |       i -> (p.pv[i] - c.v[i]) * (p.pv[i] - c.v[i]))) AS BIGINT),
       |       'c': c.vec_id})).c AS tdoc
       |  FROM parr p, varr c GROUP BY p.pid),
       |cand AS MATERIALIZED (
       |  SELECT k.pid, c.vec_id AS cdoc, k.cell_rank,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      i -> (p.pv[i] - c.v[i]) * (p.pv[i] - c.v[i]))) AS BIGINT) AS d2
       |  FROM pcell k
       |  JOIN vcell a ON a.vcid = k.cid
       |  JOIN varr c ON c.vec_id = a.vec_id
       |  JOIN parr p ON p.pid = k.pid),
       |legs AS (
       |  SELECT pid,
       |    (min(CASE WHEN cell_rank <= 1 THEN {'d': d2, 'c': cdoc} END)).c
       |      AS r1,
       |    (min(CASE WHEN cell_rank <= 2 THEN {'d': d2, 'c': cdoc} END)).c
       |      AS r2,
       |    (min(CASE WHEN cell_rank <= 4 THEN {'d': d2, 'c': cdoc} END)).c
       |      AS r4,
       |    (min({'d': d2, 'c': cdoc})).c AS r8,
       |    CAST(sum(CASE WHEN cell_rank <= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nc1,
       |    CAST(sum(CASE WHEN cell_rank <= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nc2,
       |    CAST(sum(CASE WHEN cell_rank <= 4 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nc4,
       |    CAST(count(*) AS BIGINT) AS nc8
       |  FROM cand GROUP BY pid),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
       |    CAST(sum(CASE WHEN l.r1 = t.tdoc THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hits_n1,
       |    CAST(sum(CASE WHEN l.r2 = t.tdoc THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hits_n2,
       |    CAST(sum(CASE WHEN l.r4 = t.tdoc THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hits_n4,
       |    CAST(sum(CASE WHEN l.r8 = t.tdoc THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hits_n8,
       |    CAST(coalesce(sum(l.nc1), 0) AS BIGINT) AS cand_n1,
       |    CAST(coalesce(sum(l.nc2), 0) AS BIGINT) AS cand_n2,
       |    CAST(coalesce(sum(l.nc4), 0) AS BIGINT) AS cand_n4,
       |    CAST(coalesce(sum(l.nc8), 0) AS BIGINT) AS cand_n8
       |  FROM truth t LEFT JOIN legs l ON t.pid = l.pid)
       |SELECT n_eval, hits_n1,
       |  CASE WHEN n_eval = 0 THEN 0 ELSE hits_n1 * 1000000 // n_eval END
       |    AS recall_n1_pm,
       |  hits_n2,
       |  CASE WHEN n_eval = 0 THEN 0 ELSE hits_n2 * 1000000 // n_eval END
       |    AS recall_n2_pm,
       |  hits_n4,
       |  CASE WHEN n_eval = 0 THEN 0 ELSE hits_n4 * 1000000 // n_eval END
       |    AS recall_n4_pm,
       |  hits_n8,
       |  CASE WHEN n_eval = 0 THEN 0 ELSE hits_n8 * 1000000 // n_eval END
       |    AS recall_n8_pm,
       |  cand_n1, cand_n2, cand_n4, cand_n8
       |FROM agg""".stripMargin)

  // The production serving PAIR under the TRAINED codebook (r15 VERDICT
  // #7): sim_ivfpq_rerank's two-stage refine — ADC over-retrieves a
  // top-20 shortlist per query (k' = 4k, the standard over-retrieve
  // factor), then ONLY the shortlist fetches raw vectors for the exact
  // integer re-rank — composed onto `pqTrainedIndex`'s TRAINED
  // codes/codebook instead of the `vec_id < 8` fixture slices. Both
  // distances ride in the output (adc next to exact, e12 units end to
  // end), so PQ quantization error under the trained codebook is visible
  // per row. Scale shape is the rerank query's: the ADC scan stays
  // compressed-domain (broadcast LUT + one (qid, cid) partial-agg
  // shuffle), the exact stage touches k'×queries rows, and the shortlist
  // side of the refine join broadcasts EXPLICITLY — it is a checkpointed
  // LogicalRDD AQE cannot size, the exact demotion class the rerank pin
  // measured shuffling the whole corpus at the 2M rung.
  val simIvfPqRerankTrained: (QFn, String) = (
    (s, dir) => {
      val (scored, codes, _) = pqTrainedIndex(s, dir)
      val lut = scored.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("subspace").as("l_subspace"), col("cid").as("l_cid"),
          col("d2"))
      val shortlist = codes.join(broadcast(lut),
          col("subspace") === col("l_subspace") &&
            col("code") === col("l_cid") && col("label") === col("qlabel"))
        .filter(col("qid") =!= col("vec_id"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("d2")).as("adc_sq_e12"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("adc_sq_e12")).cast("double"), col("vec_id"), 20).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("cid"),
          (-col("t.score")).cast("long").as("adc_sq_e12"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // rerank + adc join-back
      // exact refine in the SAME e6→e12 integer units as the ADC scores
      // (the full-dim quantized array is the nSub=1 subspace split, so
      // exact d2 = Σ over the 4 subspaces of the trained sub-distances'
      // units); only shortlist rows fetch raw vectors
      val earr = emb(s, dir)
        .select(col("vec_id"),
          explode(pqSubspaceSplit(1, "s1", "v")).as("p"))
        .select(col("vec_id"), col("p.v").as("v"))
      val qv = earr.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val reranked = broadcast(shortlist.join(broadcast(qv), "qid"))
        .join(earr.select(col("vec_id").as("cid"), col("v").as("cv")),
          "cid")
        .select(col("qid"), col("cid"), col("adc_sq_e12"),
          graft.functions.L2SqLong(col("qv"), col("cv")).as("exact_sq_e12"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      reranked
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topK(
          (-col("exact_sq_e12")).cast("double"), col("cid"), 5).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("qid"), col("t.id").as("cid"),
          (-col("t.score")).cast("long").as("exact_sq_e12"),
          (col("pos") + 1).cast("long").as("rank"))
        .join(broadcast(reranked.select(col("qid"), col("cid"),
          col("adc_sq_e12"))), Seq("qid", "cid")) // k'×queries rows
        .select(col("qid"), col("cid"), col("adc_sq_e12"),
          col("exact_sq_e12"), col("rank"))
    },
    s"""${pqTrainCtes(4)},
       |sc2 AS MATERIALIZED (
       |  SELECT v.vec_id, v.label, v.subspace, c.cid,
       |    CAST(sum((v.x_e6 - c.c_e6) * (v.x_e6 - c.c_e6)) AS BIGINT) AS d2
       |  FROM ve v JOIN c2 c ON v.subspace = c.subspace AND v.dim = c.dim
       |  GROUP BY 1, 2, 3, 4),
       |codes AS (
       |  SELECT vec_id, label, subspace, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
       |      ORDER BY d2, cid) AS rn FROM sc2) WHERE rn = 1),
       |adc AS (
       |  SELECT l.vec_id AS qid, c.vec_id,
       |    CAST(sum(l.d2) AS BIGINT) AS adc_sq_e12
       |  FROM codes c JOIN sc2 l
       |    ON l.vec_id < 10 AND l.subspace = c.subspace AND l.cid = c.code
       |      AND l.label = c.label
       |  WHERE l.vec_id <> c.vec_id
       |  GROUP BY 1, 2),
       |shortlist AS MATERIALIZED (
       |  SELECT qid, vec_id AS cid, adc_sq_e12 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_sq_e12, vec_id) AS rn FROM adc)
       |  WHERE rn <= 20),
       |fv AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(generate_series(1, 64), i ->
       |      CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |rer AS MATERIALIZED (
       |  SELECT s.qid, s.cid, s.adc_sq_e12,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS BIGINT)
       |      AS exact_sq_e12
       |  FROM shortlist s
       |  JOIN fv q ON q.vec_id = s.qid
       |  JOIN fv c ON c.vec_id = s.cid)
       |SELECT qid, cid, adc_sq_e12, exact_sq_e12, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY exact_sq_e12, cid) AS BIGINT) AS rank FROM rer)
       |WHERE rank <= 5""".stripMargin)

  // Per-vector symmetric int8 quantization (the storage/serving compression
  // for a 100 TB embedding corpus: 4 bytes/dim → 1). scale = max|x|/127;
  // q_i = floor(x_i/scale + 0.5) — the explicit half-up formula, spelled the
  // same on both engines so the rounding RULE can never diverge (round()
  // half-way behavior is engine-defined; floor(v+0.5) is pure IEEE ops on
  // the same double → bit-exact). Narrow row out (id + 4 scalars): embarras-
  // singly parallel, zero shuffles, codegen'd transform/aggregate.
  val embQuantize: (QFn, String) = (
    (s, dir) => emb(s, dir)
      .select(col("vec_id"), col("embedding"),
        expr("array_max(transform(embedding, x -> abs(cast(x as double)))) / 127.0d")
          .as("scale"))
      .select(col("vec_id"), col("scale"),
        expr("aggregate(embedding, 0L, (acc, x) -> " +
          "acc + cast(floor(cast(x as double) / scale + 0.5d) as long))").as("q_sum"),
        expr("cast(array_min(transform(embedding, " +
          "x -> floor(cast(x as double) / scale + 0.5d))) as long)").as("q_min"),
        expr("cast(array_max(transform(embedding, " +
          "x -> floor(cast(x as double) / scale + 0.5d))) as long)").as("q_max")),
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
      |  FROM embeddings)
      |SELECT vec_id, scale,
      |  CAST(list_sum(list_transform(embedding,
      |    x -> CAST(floor(x::DOUBLE / scale + 0.5) AS BIGINT))) AS BIGINT) AS q_sum,
      |  CAST(list_min(list_transform(embedding,
      |    x -> floor(x::DOUBLE / scale + 0.5))) AS BIGINT) AS q_min,
      |  CAST(list_max(list_transform(embedding,
      |    x -> floor(x::DOUBLE / scale + 0.5))) AS BIGINT) AS q_max
      |FROM s""".stripMargin)

  // Dataset card with subtotals — GROUP BY ROLLUP(lang, source): per-source
  // rows, per-language subtotals, and the corpus grand total in ONE pass
  // (grouping sets are beyond the reference's surface; they're table stakes
  // for a corpus-composition report). Spark expands the rollup inside the
  // aggregate's partial phase — still a single shuffle, rows merely carry
  // their grouping-set id; no self-unions, no second scan.
  val pipelineDatasetRollup: (QFn, String) = (
    (s, dir) => docs(s, dir)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(TextAnalysis.tokensCol(col("text"))).cast("long"))
          .as("total_tokens")),
    """WITH d AS (
      |  SELECT lang, source, n_chars,
      |    regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents)
      |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(len(t)) AS BIGINT) AS total_tokens
      |FROM d GROUP BY ROLLUP(lang, source)""".stripMargin)

  // ---------------- privacy + sampling ----------------

  // PII pseudonymization for training-data release: stable md5 pseudonym
  // (joinable across datasets without exposing the name), digit-masked
  // display name, account balance coarsened to $1000 bands (k-anonymity
  // style generalization). Pure per-row codegen'd expressions — no shuffle,
  // no UDF; at 100 TB this runs at parquet-scan speed.
  val piiPseudonymize: (QFn, String) = (
    (s, dir) => ChangeLog.table(s, dir, "customer").select(
      md5(col("c_name")).as("pseudonym"),
      regexp_replace(col("c_name"), "[0-9]", "*").as("name_masked"),
      floor(col("c_acctbal") / 1000.0).cast("long").as("acctbal_band"),
      col("c_nationkey"), col("c_mktsegment")),
    """SELECT md5(c_name) AS pseudonym,
      |  regexp_replace(c_name, '[0-9]', '*', 'g') AS name_masked,
      |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
      |  c_nationkey, c_mktsegment
      |FROM customer""".stripMargin)

  // Deterministic stratified sample: ≤25 documents per language, ranked by
  // md5(doc_id) — a language-rebalanced training mix that is reproducible
  // run-over-run and machine-over-machine (no RNG state, no sort on data
  // values that skew). One shuffle on the stratum key; rank cutoff happens
  // inside the window, so only winners leave the exchange. For unbounded
  // strata at 100 TB the same hash-rank works as a filter
  // (md5 < threshold) with no window at all.
  val pipelineSampleMix: (QFn, String) = (
    (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"))
        .withColumn("sample_rank", row_number().over(w).cast("long"))
        .filter(col("sample_rank") <= 25)
    },
    """SELECT doc_id, lang, source, sample_rank FROM (
      |  SELECT doc_id, lang, source,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS BIGINT) AS sample_rank
      |  FROM documents) WHERE sample_rank <= 25""".stripMargin)

  // Rate-based deterministic sampling — the zero-shuffle complement of
  // [[pipelineSampleMix]]'s per-stratum top-k: instead of "exactly k per
  // language" (needs a window, hence a shuffle), keep a document iff its
  // md5 bucket (0..999) falls under the stratum's per-mille rate (en — the
  // over-represented language — downsampled to 10%, every other language
  // kept at 50%). A pure per-row filter: no window, no exchange, runs at
  // scan speed on 100 TB, and reruns/backfills select the SAME rows (the
  // hash is content-derived, not rand()) — so downstream incremental jobs
  // see a stable sample across pipeline re-executions.
  val pipelineSampleRate: (QFn, String) = (
    (s, dir) => docs(s, dir)
      .select(col("doc_id"), col("lang"),
        (expr("conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)")
          .cast("long") % 1000).as("bucket"))
      .filter(col("bucket") < when(col("lang") === "en", 100L).otherwise(500L)),
    """SELECT doc_id, lang,
      |  CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) % 1000 AS bucket
      |FROM documents
      |WHERE CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) % 1000
      |      < CASE WHEN lang = 'en' THEN 100 ELSE 500 END""".stripMargin)

  // Feature hashing (the hashing trick): distinct tokens → 1024-bucket
  // feature indices via the md5-prefix hash — how a bag-of-words corpus
  // becomes fixed-width ML features with NO vocabulary table (no global
  // dictionary build, no shuffle to assign ids; the index is pure per-row
  // computation, so featurization runs at scan speed). Output is per-doc
  // index-set stats; sum_ix is the checksum the oracle pins.
  val textHashFeatures: (QFn, String) = (
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokensCol(col("text")))).as("w"))
      .select(col("doc_id"),
        (expr("conv(substring(md5(w), 1, 8), 16, 10)").cast("long") % 1024)
          .as("ix"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ix")).as("n_features"),
        sum(col("ix")).as("sum_ix"),
        min(col("ix")).as("min_ix"), max(col("ix")).as("max_ix")),
    s"""$toksCte,
       |w AS (SELECT doc_id, unnest(list_distinct(t)) AS w FROM toks),
       |ix AS (SELECT doc_id,
       |         CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 1024 AS ix
       |       FROM w)
       |SELECT doc_id, CAST(count(DISTINCT ix) AS BIGINT) AS n_features,
       |  CAST(sum(ix) AS BIGINT) AS sum_ix,
       |  CAST(min(ix) AS BIGINT) AS min_ix,
       |  CAST(max(ix) AS BIGINT) AS max_ix
       |FROM ix GROUP BY doc_id""".stripMargin)

  // Explicit GROUPING SETS — the third grouping-sets flavor after ROLLUP
  // (dataset card subtotals) and CUBE (events matrix): exactly the
  // marginals, (lang) and (source) and the grand total, WITHOUT the
  // (lang, source) cross cells — one Expand pass emits three copies of each
  // row, one per set, and the aggregate shuffles once. grouping_id
  // disambiguates a real NULL key from a rolled-up one.
  val pipelineGroupingSets: (QFn, String) = (
    (s, dir) => docs(s, dir)
      .groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq.empty[org.apache.spark.sql.Column]),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        grouping_id().as("gid")),
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid
      |FROM documents
      |GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin)

  // Resize planning over real compressed media, from the PNG HEADER alone
  // (r12: dims now come out of real IHDR bytes via Multimodal.sniffPngDims,
  // 24 bytes read per asset, no raster decode): integer fit-to-box geometry
  // + output byte budget, partition-wise and shuffle-free. The pixel
  // resample for the P6 raster is REAL too (mm_resize above); this
  // plan-side variant keeps the geometry/byte-budget numbers that size
  // partitions for the 100 TB media pass BEFORE touching pixels.
  val mmResizePlan: (QFn, String) = (
    (s, dir) => Multimodal.resizePlanPng(
      Multimodal.mediaCompressedTable(docs(s, dir), "png")).toDF(),
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(8 * (1 + doc_id % 4) AS INTEGER) AS width,
      |    CAST(6 * (1 + doc_id % 3) AS INTEGER) AS height
      |  FROM documents),
      |r AS (SELECT *, CAST(224000000 // greatest(width, height) AS BIGINT)
      |        AS scale_pm FROM d)
      |SELECT doc_id, width, height,
      |  CAST(width * scale_pm // 1000000 AS INT) AS out_w,
      |  CAST(height * scale_pm // 1000000 AS INT) AS out_h,
      |  scale_pm,
      |  CAST((width * scale_pm // 1000000)
      |    * (height * scale_pm // 1000000) * 3 AS BIGINT) AS out_bytes
      |FROM r""".stripMargin)

  // REAL feature ENCODER over real compressed media (r12: the codebase's
  // last stub retired): exact-integer 2D DCT low-band descriptor — the
  // classical pHash core — over the actually-decoded PNG raster. Decode
  // (real codec) → integer luminance → floor-averaged 8×6 pooling →
  // separable DCT with a hardcoded fixed-point cosine basis (1e5 scale,
  // IDENTICAL literals in this oracle, so no cross-engine libm dependence),
  // low band u∈0..3 × v∈0..2 = 12 coefficients per image. The oracle
  // reconstructs every coefficient from the raw pattern bytes — the
  // encoder, the PNG bit format, the decoder, the pooling, and the basis
  // fold all have to agree for the hash to match. Partition-wise streaming
  // through one encoder handle per partition is the at-scale batch shape a
  // neural encoder would inherit unchanged.
  val mmFeatureDct: (QFn, String) = (
    (s, dir) => Multimodal.dctFeatures(
      Multimodal.mediaCompressedTable(docs(s, dir), "png")).toDF(),
    """WITH g AS (
      |  SELECT doc_id, CAST(8 * (1 + doc_id % 4) AS INTEGER) AS w,
      |    CAST(6 * (1 + doc_id % 3) AS INTEGER) AS h,
      |    rpad(text,
      |      CAST(8 * (1 + doc_id % 4) * 6 * (1 + doc_id % 3) * 3 AS INTEGER),
      |      text) AS px
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w, h,
      |    (t.p % w) // (w // 8) AS gx, (t.p // w) // (h // 6) AS gy,
      |    ascii(substring(px, CAST(t.p * 3 + 1 AS INTEGER), 1))
      |      + ascii(substring(px, CAST(t.p * 3 + 2 AS INTEGER), 1))
      |      + ascii(substring(px, CAST(t.p * 3 + 3 AS INTEGER), 1)) AS lum
      |  FROM g, unnest(generate_series(0, CAST(w * h - 1 AS INTEGER))) AS t(p)),
      |pool AS (
      |  SELECT doc_id, gx, gy,
      |    CAST(sum(lum) // ((w // 8) * (h // 6)) AS BIGINT) AS pv
      |  FROM b GROUP BY doc_id, gx, gy, w, h),
      |c8 AS (SELECT * FROM (VALUES
      |  (0,0,100000),(0,1,100000),(0,2,100000),(0,3,100000),
      |  (0,4,100000),(0,5,100000),(0,6,100000),(0,7,100000),
      |  (1,0,98079),(1,1,83147),(1,2,55557),(1,3,19509),
      |  (1,4,-19509),(1,5,-55557),(1,6,-83147),(1,7,-98079),
      |  (2,0,92388),(2,1,38268),(2,2,-38268),(2,3,-92388),
      |  (2,4,-92388),(2,5,-38268),(2,6,38268),(2,7,92388),
      |  (3,0,83147),(3,1,-19509),(3,2,-98079),(3,3,-55557),
      |  (3,4,55557),(3,5,98079),(3,6,19509),(3,7,-83147)) AS t(u, x, c)),
      |c6 AS (SELECT * FROM (VALUES
      |  (0,0,100000),(0,1,100000),(0,2,100000),
      |  (0,3,100000),(0,4,100000),(0,5,100000),
      |  (1,0,96593),(1,1,70711),(1,2,25882),
      |  (1,3,-25882),(1,4,-70711),(1,5,-96593),
      |  (2,0,86603),(2,1,0),(2,2,-86603),
      |  (2,3,-86603),(2,4,0),(2,5,86603)) AS t(v, y, c))
      |SELECT p.doc_id, CAST(c8.u AS BIGINT) AS fu, CAST(c6.v AS BIGINT) AS fv,
      |  CAST(sum(p.pv * c8.c * c6.c) AS BIGINT) AS coef
      |FROM pool p JOIN c8 ON c8.x = p.gx JOIN c6 ON c6.y = p.gy
      |GROUP BY p.doc_id, c8.u, c6.v""".stripMargin)

  /** Shared DCT-descriptor oracle prefix: the mm_feature_dct pipeline up to
    * per-(doc, u, v) coefficients, reused by the similarity composition. */
  private val dctFeatCtes: String = mmFeatureDct._2
    .replaceFirst("SELECT p\\.doc_id, CAST\\(c8\\.u AS BIGINT\\) AS fu,[\\s\\S]*$",
      """,feat AS (
        |  SELECT p.doc_id, c8.u * 3 + c6.v AS idx,
        |    CAST(sum(p.pv * c8.c * c6.c) AS BIGINT) AS coef
        |  FROM pool p JOIN c8 ON c8.x = p.gx JOIN c6 ON c6.y = p.gy
        |  GROUP BY p.doc_id, c8.u, c6.v)""".stripMargin)

  // The encoder's output FEEDING the similarity tier — classical DCT-
  // descriptor image retrieval: each image's 12 exact-integer DCT
  // coefficients are its embedding, its coarse bucket is the 11-bit
  // AC-sign word (the pHash-style fingerprint) PLUS the DC coefficient's
  // 1e12-quantized brightness band — signs partition by STRUCTURE, the DC
  // band by BRIGHTNESS, and the compound key space (2048 × ~370 bands)
  // keeps expected bucket size flat as the corpus grows where an 11-bit
  // space alone would saturate at 2048 buckets (measured at sf0.1: 5000
  // docs → 3615 compound buckets, max 7, vs 1734/max-13 sign-only).
  // Candidates are bucket collisions
  // — never all-pairs; near-dups share both structure and brightness. The
  // SHIPPED plan is multi-probe (band ±1 + the fp Hamming-1 ring) because
  // the r13 recall contract measured single-probe at 56.0 % recall@1 on
  // planted near-dups vs 88.8 % multi-probe — the band-edge and
  // single-sign-flip miss classes are exactly what the extra probes
  // recover, and `mm_sim_recall` re-measures every rung (single-probe
  // stays recorded as the ablation). Ranking is exact-integer L1 through the
  // map-side partial top-k heap (k rows per src cross the shuffle). The
  // descriptor frame is localCheckpoint-materialized: both self-join sides
  // read 1-row-per-image descriptors instead of re-running PNG encode →
  // decode → DCT twice. Overflow/exactness: |coef| ≤ 48·765·10¹⁰ so the
  // L1 sum ≤ 12·7.4e14 < 2⁵³ — the heap's double score is exact; the DC
  // coefficient is non-negative (luminance), so its floor-div banding is
  // engine-exact.
  /** The checkpointed 1-row-per-image DCT descriptor frame (doc_id, fp =
    * 11-bit AC-sign word, dc_band = 1e12-quantized DC, v = the 12
    * idx-ordered coefficients) — shared by the retrieval and its recall
    * contract so a recall run prices ONE encode→decode→DCT pass. */
  private def dctDescriptors(s: SparkSession, dir: String): DataFrame =
    Multimodal.dctFeatures(
        Multimodal.mediaCompressedTable(docs(s, dir), "png")).toDF()
      .withColumn("idx", (col("fu") * 3 + col("fv")).cast("int"))
      .withColumn("bit",
        expr("CASE WHEN idx > 0 AND coef > 0 THEN shiftleft(1L, idx - 1) " +
          "ELSE 0L END"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit")).as("fp"),
        sum(expr("CASE WHEN idx = 0 THEN coef div 1000000000000L " +
          "ELSE 0L END")).as("dc_band"),
        sort_array(collect_list(struct(col("idx"), col("coef")))).as("cs"))
      .select(col("doc_id"), col("fp"), col("dc_band"),
        expr("transform(cs, c -> c.coef)").as("v"))
      .transform(graft.util.Checkpoints.ownedCheckpoint) // every consumer reads the tiny descriptors

  /** XOR masks of the Hamming-≤r ball around an 11-bit sign word: [0]
    * (the word itself), the 11 single-bit flips for r ≥ 1, the 55 two-bit
    * flips for r ≥ 2. Distinct masks ⇒ distinct probe keys per query ⇒ a
    * corpus doc (one (fp, band) key) matches at most ONE probe row — the
    * exploded multi-probe join never produces duplicate candidate pairs,
    * so no dedup pass is needed ahead of the top-k heap. */
  private def fpRingMasks(r: Int): Seq[Long] = {
    val bits = 0 until 11
    val one = bits.map(1L << _)
    val two = for { i <- bits; j <- bits if j > i } yield (1L << i) | (1L << j)
    Seq(0L) ++ (if (r >= 1) one else Nil) ++ (if (r >= 2) two else Nil)
  }

  /** Bucketed top-3 retrieval over a descriptor frame: candidates are
    * compound-key collisions (fp within Hamming-`fpRing` of the query's
    * sign word, DC band within `probe` of the query's), ranked by
    * exact-integer L1 through the map-side partial top-k heap.
    *
    * The PRODUCTION defaults are the multi-probe plan (band ±1 +
    * fp-Hamming-1) because the r13 recall contract MEASURED the
    * single-probe plan at 56.0 % recall@1 on planted near-dups vs 88.8 %
    * for this plan (85.0 % at a 10× corpus) — `mm_sim_recall` carries the
    * per-rung measurement every round, with the single-probe rung kept as
    * the recorded ablation. Multi-probe stays an EQUI-join: the query side
    * explodes across its probe keys (≤ 12 fp masks × 3 bands = 36 distinct
    * keys) so the shuffle key is still (fp, band) — never a range join,
    * never all-pairs, and candidate volume stays linear in the corpus. */
  private def dctBucketTopK(vec: DataFrame, probe: Int = 1,
      fpRing: Int = 1): DataFrame = {
    val a0 = vec.select(col("doc_id").as("src_doc"), col("fp").as("afp"),
      col("dc_band").as("aband"), col("v").as("av"))
    val a1 =
      if (fpRing == 0) a0.withColumn("pfp", col("afp"))
      else a0.withColumn("pfp", explode(expr(
        s"transform(array(${fpRingMasks(fpRing).mkString("L,")}L), " +
          "m -> afp ^ m)")))
    val a =
      if (probe == 0) a1.withColumn("pband", col("aband"))
      else a1.withColumn("pband",
        explode(sequence(col("aband") - probe, col("aband") + probe)))
    val b = vec.select(col("doc_id").as("dst_doc"), col("fp").as("bfp"),
      col("dc_band").as("bband"), col("v").as("bv"))
    a.join(b, col("pfp") === col("bfp") && col("pband") === col("bband") &&
        col("src_doc") =!= col("dst_doc"))
      .select(col("src_doc"), col("dst_doc"),
        // codegen'd L1 kernel (see L1AbsLong) — bit-identical to the
        // aggregate(zip_with(...)) form it replaced, minus the
        // interpreted-HOF per-pair cost
        graft.functions.L1AbsLong(col("av"), col("bv")).as("l1_dist"))
      .groupBy(col("src_doc"))
      .agg(graft.functions.TopKByScore
        .topK((-col("l1_dist")).cast("double"), col("dst_doc"), 3).as("top"))
      .select(col("src_doc"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("src_doc"), col("t.id").as("dst_doc"),
        (-col("t.score")).cast("long").as("l1_dist"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  val mmSimDct: (QFn, String) = (
    (s, dir) => dctBucketTopK(dctDescriptors(s, dir)),
    s"""$dctFeatCtes,
       |vec AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN idx > 0 AND coef > 0
       |      THEN (1::BIGINT << CAST(idx - 1 AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN idx = 0 THEN coef // 1000000000000
       |      ELSE 0 END) AS BIGINT) AS dc_band,
       |    list(coef ORDER BY idx) AS v
       |  FROM feat GROUP BY doc_id),
       |vexp AS (
       |  -- corpus-side expansion of the Hamming-1 × band ±1 probe ball:
       |  -- the Spark plan explodes the QUERY side over 36 distinct probe
       |  -- keys; by symmetry of XOR and band distance, expanding the
       |  -- CORPUS side over the same masks yields the identical candidate
       |  -- set through a plain equi-join (each pair matches exactly one
       |  -- (mask, band-offset), so no duplicates) — and stays a hash join
       |  -- at every ladder scale where a bit_count(xor()) join condition
       |  -- would degrade to a quadratic nested loop
       |  SELECT doc_id, xor(fp, m.m) AS fpx, dc_band + e.e AS bandx, v
       |  FROM vec,
       |    (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128, 256, 512,
       |      1024]) AS m) m,
       |    (SELECT unnest([-1, 0, 1]) AS e) e),
       |cand AS (
       |  SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc,
       |    ${l1UnrolledSql("a.v", "b.v")} AS l1_dist
       |  FROM vec a JOIN vexp b ON a.fp = b.fpx AND a.dc_band = b.bandx
       |    AND a.doc_id <> b.doc_id)
       |SELECT src_doc, dst_doc, l1_dist, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src_doc
       |    ORDER BY l1_dist, dst_doc) AS BIGINT) AS rank
       |  FROM cand)
       |WHERE rank <= 3""".stripMargin)

  // Recall contract for the DCT-descriptor retrieval (the sim_ann_recall
  // mold applied to mm_sim_dct) — measured on the regime the bucketing
  // exists for. Reference discipline analog: the count+structure E2E
  // contract of reference tests/e2e (src/e2e/cdc_test.zig:25-441) — a
  // pipeline claim is only done when a measured number gates it. A first-cut recall@3 against the exact L1
  // top-3 of ARBITRARY corpus docs measured 1.3% at sf0.01 with
  // multi-probe changing nothing: in a corpus with no near-duplicates the
  // true top-3 of a random image almost never shares an 11-bit sign word,
  // and no band probing can fix a sign mismatch — that number prices the
  // corpus's dup-freeness, not the retrieval. The honest eval (standard
  // for near-dup retrieval without labeled pairs) PLANTS the near-dups:
  // every 20th image's descriptor gets a deterministic ±2e11 per-
  // coefficient perturbation (small against coefficient scale ~1e13-7e14,
  // large enough to flip low-magnitude AC signs and cross DC band edges —
  // exactly the two miss modes), and the probe queries the real corpus.
  // Truth is computed honestly as the probe's exact-L1 nearest over ALL
  // docs (sample x corpus — the probe set is CAPPED at a deterministic
  // constant, every 20th doc_id below 20000 = at most 1000 probes, so the
  // exact-truth leg is LINEAR in the corpus with a fixed ≤1000 factor;
  // r13's uncapped n/20 sample made it O(n²/20), a measured scale-killer:
  // the suite's slowest query and a 3m27s oracle at sf~1 — the cap keeps
  // the statistical meaning, 1000 Bernoulli trials bound the recall
  // estimate's std-err at ~1.6 points, while the broadcast probe side
  // keeps the leg shuffle-free), NOT assumed to be the source image.
  // recall@1 = fraction of probes whose bucketed top-1 equals the exact
  // top-1, priced at FOUR probe rungs next to each rung's measured
  // candidate-volume cost (cand_* = total candidate pairs the rung's
  // equi-join examined — the recall/cost curve is data, not a citation):
  // single-probe (the ablation) → band ±1 → + fp Hamming-1 (the SHIPPED
  // dctBucketTopK plan) → + fp Hamming-2 (the diminishing-returns rung:
  // 67 fp masks × 3 bands = 201 distinct probe keys, still a plain
  // equi-join on (fp, band), probe-side rows ×201 on the CAPPED sample
  // only — candidate volume stays linear in the corpus). Integer
  // per-million, pure count arithmetic — hash-exact cross-engine; the
  // per-million divisions are guarded for the degenerate n_eval = 0
  // corpus where Spark's div yields NULL but DuckDB's // raises.
  /** Unrolled exact-L1 for the DuckDB legs: 12 direct abs-diff terms
    * instead of list_sum(list_transform(...)) — the lambda form allocates
    * a 12-element list PER PAIR, which dominates the oracle's runtime on
    * the 50M-pair sf~1 truth leg (measured ~5 min; unrolled it is pure
    * column arithmetic). Sum stays BIGINT: 12 × 7.4e14 < 2⁶³. */
  private def l1UnrolledSql(a: String, b: String): String =
    "(" + (1 to 12).map(i => s"abs($a[$i] - $b[$i])").mkString(" + ") + ")"

  /** Same unrolled L1 over the flattened q1..q12 / v1..v12 scalar columns
    * (the recall oracle's join payloads — no per-pair list allocation). */
  private def l1ScalarSql: String =
    "(" + (1 to 12).map(i => s"abs(p.q$i - c.v$i)").mkString(" + ") + ")"

  val mmSimRecall: (QFn, String) = (
    (s, dir) => {
      val vec = dctDescriptors(s, dir)
      // planted near-dup probes with their PERTURBED bucket key
      val probes = vec
        .filter(col("doc_id") % 20 === 0 && col("doc_id") < 20000)
        .select(col("doc_id").as("qdoc"),
          expr("transform(v, (x, i) -> x + (pmod(doc_id * 31L + i * 17L, " +
            "1001L) - 500L) * 400000000L)").as("qv"))
        .withColumn("qfp",
          expr("aggregate(sequence(1, 11), 0L, (acc, j) -> acc + " +
            "IF(element_at(qv, j + 1) > 0, shiftleft(1L, j - 1), 0L))"))
        // DC stays >= 4e13 >> the 2e11 jitter bound, so the floor-div
        // banding never sees a negative operand on either engine
        .withColumn("qband", expr("element_at(qv, 1) div 1000000000000L"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // truth + both retrieval legs
      val c = vec.select(col("doc_id").as("cdoc"), col("fp"),
        col("dc_band"), col("v").as("cv"))
      // codegen'd L1 kernel (see L1AbsLong) — the truth leg is ≤1000
      // probes × corpus, and the interpreted aggregate(zip_with(...))
      // form paid per-element evaluator overhead on every pair
      val l1 = graft.functions.L1AbsLong(col("qv"), col("cv"))
      // map-side partial top-1 heap, not a rank window: the truth leg is
      // sample × corpus wide, and the heap sends ONE row per probe across
      // the shuffle where a window would sort the full candidate frame
      // (measured 4.4 s → window-free at sf0.1 in-suite). Tie-break
      // (smaller id on equal score) matches the oracle's row_number
      // ORDER BY l1, cdoc — the same equivalence mm_sim_dct's hash pins.
      // each retrieval leg returns per-probe (top-1 doc, candidate count):
      // the count rides the SAME partial aggregate as the heap, so pricing
      // a rung's candidate volume costs zero extra joins
      def top1(cand: DataFrame, out: String, nc: String): DataFrame =
        cand.select(col("qdoc"), col("cdoc"), l1.as("l1"))
          .groupBy(col("qdoc"))
          .agg(graft.functions.TopKByScore
            .topK((-col("l1")).cast("double"), col("cdoc"), 1).as("top"),
            count(lit(1)).as(nc))
          .select(col("qdoc"), expr("top[0].id").as(out), col(nc))
      // exact truth: capped sample x corpus, broadcast probe side
      val truth = top1(c.crossJoin(broadcast(probes)), "tdoc", "nc_t")
        .drop("nc_t")
      // fpRing: additionally probe every fp within Hamming-`fpRing` of
      // the sign word (ring 1 = the 11 single-bit flips, ring 2 adds the
      // 55 two-bit flips). A probe whose perturbation flipped exactly one
      // low-magnitude AC sign lands one Hamming step from its source's
      // bucket; the Hamming-1 ring recovers exactly that class, ring 2 the
      // two-flip residual — still a plain equi-join on (fp, band), probe-
      // side rows ×(masks·bands) on the capped SAMPLE only.
      def best(probe: Int, fpRing: Int, out: String, nc: String): DataFrame = {
        val p0 =
          if (fpRing == 0) probes.withColumn("pfp", col("qfp"))
          else probes.withColumn("pfp", explode(expr(
            s"transform(array(${fpRingMasks(fpRing).mkString("L,")}L), " +
              "m -> qfp ^ m)")))
        val p =
          if (probe == 0) p0.withColumn("pband", col("qband"))
          else p0.withColumn("pband",
            explode(sequence(col("qband") - probe, col("qband") + probe)))
        top1(p.join(c,
          col("pfp") === col("fp") && col("pband") === col("dc_band")),
          out, nc)
      }
      // each leg output is one row per probe — bounded ≤1000 by the probe
      // cap at ANY corpus size — so broadcast them (guide §3.1): the plan
      // had four SortMergeJoin LeftOuter here, each paying an exchange +
      // two sorts on frames the cap bounds by construction
      truth
        .join(broadcast(best(0, 0, "rdoc", "nc_r0")), Seq("qdoc"), "left")
        .join(broadcast(best(1, 0, "mdoc", "nc_mp")), Seq("qdoc"), "left")
        .join(broadcast(best(1, 1, "fdoc", "nc_fp")), Seq("qdoc"), "left")
        .join(broadcast(best(1, 2, "gdoc", "nc_f2")), Seq("qdoc"), "left")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("rdoc") === col("tdoc"), 1L).otherwise(0L)).as("n_hits"),
          sum(when(col("mdoc") === col("tdoc"), 1L).otherwise(0L)).as("n_hits_mp"),
          sum(when(col("fdoc") === col("tdoc"), 1L).otherwise(0L)).as("n_hits_fpmp"),
          sum(when(col("gdoc") === col("tdoc"), 1L).otherwise(0L)).as("n_hits_fp2"),
          coalesce(sum(col("nc_r0")), lit(0L)).as("cand_r0"),
          coalesce(sum(col("nc_mp")), lit(0L)).as("cand_mp"),
          coalesce(sum(col("nc_fp")), lit(0L)).as("cand_fpmp"),
          coalesce(sum(col("nc_f2")), lit(0L)).as("cand_fp2"))
        .select(col("n_eval"), col("n_hits"),
          expr("IF(n_eval = 0, 0L, n_hits * 1000000 div n_eval)")
            .as("recall_pm"),
          col("n_hits_mp"),
          expr("IF(n_eval = 0, 0L, n_hits_mp * 1000000 div n_eval)")
            .as("recall_mp_pm"),
          col("n_hits_fpmp"),
          expr("IF(n_eval = 0, 0L, n_hits_fpmp * 1000000 div n_eval)")
            .as("recall_fpmp_pm"),
          col("n_hits_fp2"),
          expr("IF(n_eval = 0, 0L, n_hits_fp2 * 1000000 div n_eval)")
            .as("recall_fp2_pm"),
          col("cand_r0"), col("cand_mp"), col("cand_fpmp"), col("cand_fp2"))
    },
    s"""$dctFeatCtes,
       |vec AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN idx > 0 AND coef > 0
       |      THEN (1::BIGINT << CAST(idx - 1 AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN idx = 0 THEN coef // 1000000000000
       |      ELSE 0 END) AS BIGINT) AS dc_band,
       |    list(coef ORDER BY idx) AS v
       |  FROM feat GROUP BY doc_id),
       |pk AS (
       |  SELECT qdoc, qv,
       |    CAST(coalesce(list_sum(list_transform(generate_series(1, 11),
       |      j -> CASE WHEN qv[j + 1] > 0
       |        THEN (1::BIGINT << CAST(j - 1 AS INTEGER)) ELSE 0 END)), 0)
       |      AS BIGINT) AS qfp,
       |    CAST(qv[1] // 1000000000000 AS BIGINT) AS qband
       |  FROM (
       |    SELECT doc_id AS qdoc,
       |      list_transform(generate_series(1, 12),
       |        i -> v[i] + (((doc_id * 31 + (i - 1) * 17) % 1001) - 500)
       |          * 400000000) AS qv
       |    FROM vec WHERE doc_id % 20 = 0 AND doc_id < 20000)),
       |p12 AS MATERIALIZED (
       |  -- probes and corpus flattened to 12 scalar columns: list-typed
       |  -- join payloads allocate per pair and dominated the measured
       |  -- sf~1 oracle runtime; scalars make every leg pure column math
       |  SELECT qdoc, qfp, qband,
       |    ${(1 to 12).map(i => s"qv[$i] AS q$i").mkString(", ")}
       |  FROM pk),
       |v12 AS MATERIALIZED (
       |  SELECT doc_id, fp, dc_band,
       |    ${(1 to 12).map(i => s"v[$i] AS v$i").mkString(", ")}
       |  FROM vec),
       |truth AS (
       |  -- struct-min hash aggregate, NOT a row_number window: the window
       |  -- form materializes all probes x corpus pairs for sorting, which
       |  -- exhausts the 40 GB spill cap at the sf~10 rung (500M pairs,
       |  -- measured r14) — min({'l','c'}) compares fields in order, so the
       |  -- (l1, cdoc) tie-break is identical and memory is O(probes)
       |  SELECT p.qdoc,
       |    (min({'l': $l1ScalarSql, 'c': c.doc_id})).c AS tdoc
       |  FROM p12 p, v12 c GROUP BY p.qdoc),
       |r0 AS MATERIALIZED (
       |  -- each leg also carries its candidate count so the cost columns
       |  -- reuse the same pass instead of re-running every join
       |  SELECT p.qdoc,
       |    (min({'l': $l1ScalarSql, 'c': c.doc_id})).c AS rdoc,
       |    CAST(count(*) AS BIGINT) AS nc
       |  FROM p12 p JOIN v12 c ON p.qfp = c.fp AND p.qband = c.dc_band
       |  GROUP BY p.qdoc),
       |rmp AS MATERIALIZED (
       |  SELECT p.qdoc,
       |    (min({'l': $l1ScalarSql, 'c': c.doc_id})).c AS rdoc,
       |    CAST(count(*) AS BIGINT) AS nc
       |  FROM p12 p JOIN v12 c ON p.qfp = c.fp
       |    AND abs(p.qband - c.dc_band) <= 1 GROUP BY p.qdoc),
       |pf1 AS (
       |  -- probe-side Hamming-ring expansion (the masks are the XOR ball,
       |  -- distinct per probe) keeps the fp legs HASH equi-joins: a
       |  -- bit_count(xor()) join condition nested-loops over probes x
       |  -- corpus, which is the scalable-oracle difference at sf~10
       |  SELECT p.*, xor(p.qfp, m.m) AS pfp
       |  FROM p12 p, (SELECT unnest([${fpRingMasks(1).mkString(", ")}])
       |    AS m) m),
       |rfp AS MATERIALIZED (
       |  SELECT p.qdoc,
       |    (min({'l': $l1ScalarSql, 'c': c.doc_id})).c AS rdoc,
       |    CAST(count(*) AS BIGINT) AS nc
       |  FROM pf1 p JOIN v12 c ON p.pfp = c.fp
       |    AND abs(p.qband - c.dc_band) <= 1 GROUP BY p.qdoc),
       |pf2 AS (
       |  SELECT p.*, xor(p.qfp, m.m) AS pfp
       |  FROM p12 p, (SELECT unnest([${fpRingMasks(2).mkString(", ")}])
       |    AS m) m),
       |rf2 AS MATERIALIZED (
       |  SELECT p.qdoc,
       |    (min({'l': $l1ScalarSql, 'c': c.doc_id})).c AS rdoc,
       |    CAST(count(*) AS BIGINT) AS nc
       |  FROM pf2 p JOIN v12 c ON p.pfp = c.fp
       |    AND abs(p.qband - c.dc_band) <= 1 GROUP BY p.qdoc),
       |cost AS (
       |  SELECT
       |    (SELECT coalesce(sum(nc), 0) FROM r0) AS cand_r0,
       |    (SELECT coalesce(sum(nc), 0) FROM rmp) AS cand_mp,
       |    (SELECT coalesce(sum(nc), 0) FROM rfp) AS cand_fpmp,
       |    (SELECT coalesce(sum(nc), 0) FROM rf2) AS cand_fp2),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
       |    CAST(sum(CASE WHEN r0.rdoc = t.tdoc THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits,
       |    CAST(sum(CASE WHEN rmp.rdoc = t.tdoc THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits_mp,
       |    CAST(sum(CASE WHEN rfp.rdoc = t.tdoc THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits_fpmp,
       |    CAST(sum(CASE WHEN rf2.rdoc = t.tdoc THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits_fp2
       |  FROM truth t
       |  LEFT JOIN r0 ON t.qdoc = r0.qdoc
       |  LEFT JOIN rmp ON t.qdoc = rmp.qdoc
       |  LEFT JOIN rfp ON t.qdoc = rfp.qdoc
       |  LEFT JOIN rf2 ON t.qdoc = rf2.qdoc)
       |SELECT n_eval, n_hits,
       |  CAST(CASE WHEN n_eval = 0 THEN 0
       |    ELSE n_hits * 1000000 // n_eval END AS BIGINT) AS recall_pm,
       |  n_hits_mp,
       |  CAST(CASE WHEN n_eval = 0 THEN 0
       |    ELSE n_hits_mp * 1000000 // n_eval END AS BIGINT) AS recall_mp_pm,
       |  n_hits_fpmp,
       |  CAST(CASE WHEN n_eval = 0 THEN 0
       |    ELSE n_hits_fpmp * 1000000 // n_eval END AS BIGINT)
       |    AS recall_fpmp_pm,
       |  n_hits_fp2,
       |  CAST(CASE WHEN n_eval = 0 THEN 0
       |    ELSE n_hits_fp2 * 1000000 // n_eval END AS BIGINT)
       |    AS recall_fp2_pm,
       |  CAST(cand_r0 AS BIGINT) AS cand_r0,
       |  CAST(cand_mp AS BIGINT) AS cand_mp,
       |  CAST(cand_fpmp AS BIGINT) AS cand_fpmp,
       |  CAST(cand_fp2 AS BIGINT) AS cand_fp2
       |FROM agg, cost""".stripMargin)

  // Training-sequence packing (concat-and-chunk): docs are laid end-to-end
  // in doc_id order and split every 2048 tokens — the standard LLM
  // pretraining packing. Each doc's pack is its cumulative token offset
  // div the budget; output is per-pack shape stats for the data loader.
  // Scale design: the running sum is a window per (lang, shard) where
  // shard = doc_id % 16, so no single partition ever has to sort the whole
  // corpus — at 100 TB the packer fans out to lang × 16 independent sorted
  // streams (more shards = more parallelism; determinism is unaffected
  // because the shard is part of the output identity).
  val pipelinePackSequences: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        (col("doc_id") % 16).as("shard"),
        size(TextAnalysis.tokensCol(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("pack_id", expr("cum_before div 2048L"))
        .groupBy(col("lang"), col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"))
    },
    s"""$toksCte,
       |d AS (SELECT doc_id, lang, doc_id % 16 AS shard,
       |        CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
       |c AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard
       |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS cum_before FROM d)
       |SELECT lang, shard, CAST(cum_before // 2048 AS BIGINT) AS pack_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       |  min(doc_id) AS first_doc
       |FROM c GROUP BY 1, 2, 3""".stripMargin)

  // k-NN graph (3 nearest neighbors per vector by cosine) restricted to
  // IVF-style label cells — the building block for graph-based clustering
  // and semantic dedup. The candidate join is a hash equi-join on the cell
  // key, so pair count is bounded per cell instead of n² over the corpus.
  //
  // ADAPTIVE CELL BLOCKING (the r7 perf-weak fix): a fixed cell key makes
  // within-cell work grow as |cell|² concentrated on ONE join key — at the
  // 10× probe that meant 10 keys of ~4.7M pairs each, a 25× wall-clock
  // blowup on 32 cores. Each cell is therefore split into
  // fan = ceil(|cell| / BLOCK) deterministic sub-buckets by hash(vec_id):
  // the query side carries its own qsalt and replicates across csalt, the
  // candidate side carries its own csalt and replicates across qsalt, so
  // every (src, dst) pair meets EXACTLY once at key (label, qsalt, csalt)
  // and no join key ever exceeds ~BLOCK² pairs regardless of corpus size —
  // blocked all-pairs, the events_skew_join salting pattern applied to
  // cells. fan derives from a column-pruned count of the cell key only, and
  // collapses to 1 (the un-salted plan, zero replication) whenever a cell
  // fits the budget — gate-scale plans are unchanged. The heap aggregate
  // merges per-block partial top-k lists exactly (top-k is decomposable),
  // so results are oracle-identical at any fan.
  // CORPUS-PROPORTIONAL CELLS (the r8 perf-watch fix): blocking bounded
  // per-TASK work, but TOTAL within-cell work was still Σ|cell|² over the
  // FIXED label cells — sf~1 → sf~10 grew ~38×. The label cell is therefore
  // refined by a deterministic coarse quantizer whose resolution derives
  // from the data: b16 = the 16-bit sign word of the first 16 embedding
  // dimensions (measured 0.44-0.56 positive per label on the fixture — an
  // even splitter), and per label the cell count doubles until the expected
  // cell fits the target: ncells = 2^min{b : cnt ≤ T·2^b} (T = 1024,
  // `graft.knn.cell` overrides in tests), cell = b16 mod ncells. Total
  // within-cell work is then Σ|cell|² ≈ n·T — LINEAR in the corpus, the
  // IVF shape — and at gate scale every label cell already fits T, so
  // ncells = 1 and the semantics degenerate to exact within-label knn
  // (byte-identical plans and results).
  //
  // Recall contract (semantics are IVF-approximate once ncells > 1, and
  // the ORACLE implements the identical quantizer — results stay
  // hash-exact at every scale): identical and near-identical vectors agree
  // on every sign bit, so the dup/near-dup regime that semantic dedup
  // exists for has recall 1.0 BY CONSTRUCTION (pinned in KnnCellSpec with
  // exact-copy replicas under a forced small cell target); for genuinely
  // near-orthogonal pairs (cos→0) a sign bit agrees with p = 1 − θ/π → ~½,
  // so low-similarity graph edges thin out as ncells grows — the standard
  // IVF trade, documented here and measured by the KnnCellSpec recall
  // probe rather than hidden behind an unbounded exact join.
  val simKnnGraph: (QFn, String) = (
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"))
      // per-cell fan-out from a pruned scan of the cell key alone; the
      // block budget is a system-property knob so tests can force fan > 1
      // at gate scale and pin exactness against the degenerate plan
      // 1024 caps any join key at ~1M pairs (~64M flops — a sub-second
      // granule on one executor core) with measured-zero overhead vs the
      // un-salted plan at sf~1 (A/B: 5.5-6.6 s both, vs 8.0 s at block=256
      // where fan=8 replication dominates)
      val BLOCK = sys.props.getOrElse("graft.knn.block", "1024").toLong
      val CELL = sys.props.getOrElse("graft.knn.cell", "1024").toLong
      // 16-bit sign word (NaN-free fixture; Spark NaN>=0 is false where
      // DuckDB sorts NaN high — embeddings are finite by construction)
      val b16 = expr("aggregate(sequence(1, 16), 0L, (acc, j) -> " +
        "acc + IF(element_at(embedding, j) >= 0, shiftleft(1L, j - 1), 0L))")
      // ONE pruned stats pass over (label, b16) feeds BOTH the per-label
      // cell resolution and the per-cell blocking fan — no second fact scan
      // NOT checkpointed: bstats appears under both broadcast subtrees, but
      // they canonicalize to the same shuffle and ReusedExchange dedupes it
      // within the one execution — an eager localCheckpoint here costs a
      // whole extra job per invocation (~150 ms at gate scale) to save a
      // re-aggregation of a frame that is already tiny
      val bstats = emb(s, dir).select(col("label").as("slabel"), b16.as("b16"))
        .groupBy(col("slabel"), col("b16")).agg(count(lit(1)).as("bcnt"))
      val nbByLabel = bstats.groupBy(col("slabel"))
        .agg(sum(col("bcnt")).as("cnt"))
        .select(col("slabel").as("nlabel"),
          expr(s"shiftleft(1L, coalesce(filter(sequence(0, 16), " +
            s"b -> cnt <= $CELL * shiftleft(1L, b))[0], 16))").as("ncells"))
      val cellFan = bstats
        .join(broadcast(nbByLabel), col("slabel") === col("nlabel"))
        .withColumn("fcell", pmod(col("b16"), col("ncells")))
        .groupBy(col("slabel").as("flabel"), col("fcell"))
        .agg(ceil(sum(col("bcnt")).cast("double") / BLOCK).cast("int").as("fan"))
      def withCell(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("b16", b16)
        .join(broadcast(nbByLabel), col("label") === col("nlabel"))
        .withColumn("cell", pmod(col("b16"), col("ncells")))
        .join(broadcast(cellFan),
          col("label") === col("flabel") && col("cell") === col("fcell"))
      val q = withCell(e)
        .select(col("vec_id").as("src"), col("label"), col("cell"),
          col("embedding").as("qe"),
          pmod(hash(col("vec_id")), col("fan")).as("qsalt"),
          explode(sequence(lit(0), col("fan") - 1)).as("csalt"))
        // Distribute the blocks across TASKS, not just join keys: the
        // candidate side is small enough to broadcast well past gate scale,
        // and a BroadcastHashJoin runs on the STREAMED side's partitioning —
        // a few-file parquet read gives ~1 input partition, so without this
        // shuffle every within-cell pair computes in one task and the
        // salting never buys wall-clock. The partition count is PINNED
        // (session shuffle partitions): a bare repartition-by-column is fair
        // game for AQE coalescing, and AQE sizes by shuffle INPUT bytes —
        // ~12 MB of slim query rows here — blind to the ×|block| fan-out
        // inside the join (measured: AQE coalesced to 2 tasks and the rung
        // ran 28 s; pinned 32-way it runs the same pairs in ~2 s). One
        // exchange of n×fan slim rows; when the corpus outgrows the
        // broadcast and the join flips to a shuffle join on these same keys,
        // this pre-partitioning is the alignment the join needs anyway.
        .repartition(e.sparkSession.sessionState.conf.numShufflePartitions,
          col("label"), col("cell"), col("qsalt"), col("csalt"))
      val c = withCell(e)
        .select(col("vec_id").as("dst"), col("label").as("clabel"),
          col("cell").as("ccell"), col("embedding").as("ce"),
          pmod(hash(col("vec_id")), col("fan")).as("c_csalt"),
          explode(sequence(lit(0), col("fan") - 1)).as("c_qsalt"))
      val scored = q.join(c,
          col("label") === col("clabel") && col("cell") === col("ccell") &&
            col("qsalt") === col("c_qsalt") &&
            col("csalt") === col("c_csalt") && col("src") =!= col("dst"))
        .select(col("src"), col("dst"), col("label"),
          round(graft.functions.CosineSimilarity(col("qe"), col("ce")), 4)
            .as("cos"))
      // heap aggregate, not a rank window: only k rows per src cross the
      // shuffle and nothing ever sorts a full candidate list (the heap's
      // tie-break — score desc, id asc — matches the oracle's ORDER BY)
      scored.groupBy(col("src"), col("label"))
        .agg(graft.functions.TopKByScore.topK(col("cos"), col("dst"), 3).as("top"))
        .select(col("src"), col("label"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("src"), col("t.id").as("dst"), col("label"),
          col("t.score").as("cos"), (col("pos") + 1).cast("long").as("rank"))
    },
    """WITH e0 AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
      |    coalesce(list_sum(list_transform(generate_series(1, 16),
      |      j -> CASE WHEN embedding[j] >= 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END)), 0) AS b16
      |  FROM embeddings),
      |lc AS (SELECT label, count(*) AS cnt FROM e0 GROUP BY label),
      |nb AS (SELECT label, (1::BIGINT << coalesce(list_filter(generate_series(0, 16),
      |         b -> cnt <= 1024 * (1::BIGINT << b))[1], 16)) AS ncells FROM lc),
      |e AS (SELECT e0.vec_id, e0.label, e0.embedding, e0.nrm,
      |        e0.b16 % nb.ncells AS cell
      |      FROM e0 JOIN nb ON e0.label = nb.label),
      |scored AS (
      |  SELECT q.vec_id AS src, c.vec_id AS dst, q.label AS label,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / (q.nrm * c.nrm), 4) AS cos
      |  FROM e q JOIN e c ON q.label = c.label AND q.cell = c.cell
      |    AND q.vec_id <> c.vec_id)
      |SELECT src, dst, label, cos, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= 3""".stripMargin)

  /** Memoized, eagerly-checkpointed k-NN edge frame — ONE build per
    * (session, dir, quantizer-knob) shared by the whole graph/dedup tier.
    * Seven downstream queries (pagerank, triangles, BFS, k-core, modularity,
    * Jaccard suggestion, semantic dedup) each consumed the full
    * [[simKnnGraph]] subtree; at 100 TB the knn build dominates the tier's
    * cost and a real pipeline materializes the edge list once, with every
    * analytic reading the materialization. `localCheckpoint` is the local
    * stand-in for that materialization (block-manager-backed, truncated
    * lineage). The key carries the block/cell system-property knobs so a
    * test that forces a different quantizer resolution never reads a stale
    * frame. [[simKnnGraph]] itself stays on the raw build path — the
    * bench keeps pricing the build honestly while the tier reuses it.
    *
    * Lifecycle (r10 VERDICT #3): keyed by the session's UUID — a String —
    * so the cache never pins a [[SparkSession]] (the previous WeakHashMap's
    * DataFrame values strongly reached their own weak key, making entries
    * uncollectable and the checkpoint blocks a JVM-lifetime leak). Hosts
    * running many sessions release a retiring session's blocks with
    * [[invalidateKnnEdges]]; any call here also sweeps entries whose
    * context has stopped. The key additionally carries a fingerprint of
    * the embeddings parquet under `dir` (file names + sizes + mtimes), so
    * regenerating the fixture in place within one JVM can never serve
    * stale edges. The expensive build runs under ConcurrentHashMap's
    * per-key compute — concurrent callers for DIFFERENT keys (other
    * sessions, other dirs) are not serialized behind one build. */
  // private[graft] (not private): KnnCacheLifecycleSpec inspects entries
  // directly — the introspection helper lives in the SPEC, not here, so the
  // main jar carries no test-only surface (r11 VERDICT #7)
  private[graft] val knnEdgeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]

  private def sessionKey(s: SparkSession): String = ColumnBridge.sessionUuid(s)

  private def embFingerprint(dir: String): String = {
    val root = java.nio.file.Paths.get(dir, "embeddings.parquet")
    if (!java.nio.file.Files.exists(root)) return "absent"
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      val acc = walk.iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .map(f => s"${root.relativize(f)}:${java.nio.file.Files.size(f)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
        .toSeq.sorted.mkString("|")
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(acc))
    } finally walk.close()
  }

  /** Release every edge frame cached for `s`: unpersist the checkpoint
    * blocks and drop the entries. Correctness needs nothing from this — a
    * dropped entry is simply rebuilt — so single-session processes may
    * never call it; hosts that run many sessions per JVM call it when a
    * session retires. Returns the number of entries released. */
  def invalidateKnnEdges(s: SparkSession): Int = {
    val prefix = sessionKey(s) + "|"
    var released = 0
    val it = knnEdgeCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) {
        graft.util.Checkpoints.release(e.getValue)
        it.remove()
        released += 1
      }
    }
    released
  }

  private def knnEdges(s: SparkSession, dir: String): DataFrame = {
    // lazy sweep: entries of stopped sessions are unreachable through any
    // key (their UUID never recurs) — drop them so their blocks release.
    // No explicit unpersist here ON PURPOSE: a stopped context's block
    // manager is already gone, so there is nothing to release — but if a
    // refactor ever shares one SparkContext across sessions, a stopped
    // SESSION's context may still be live and this sweep must switch to
    // Checkpoints.release(e.getValue) before removal (r11 VERDICT #3 note).
    val it = knnEdgeCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.sparkSession.sparkContext.isStopped) it.remove()
    }
    val key = sessionKey(s) + "|" + dir + "|" +
      sys.props.getOrElse("graft.knn.block", "") + "|" +
      sys.props.getOrElse("graft.knn.cell", "") + "|" + embFingerprint(dir)
    knnEdgeCache.computeIfAbsent(key,
      _ => simKnnGraph._1(s, dir).localCheckpoint())
  }

  // Semantic dedup clusters (SemDeDup shape): k-NN edges above a cosine
  // threshold → connected components → one cluster id per vector. Pure
  // composition of two operators that are each scale-safe (cell-bounded knn
  // join; per-round partial-aggregable label propagation), so the composite
  // is too. The 0.35 threshold is fixture-scaled — the synthetic vectors are
  // near-orthogonal, so the similarity knee sits far below the ~0.95 a
  // trained encoder's duplicates show; the plan is identical either way.
  val dedupSemantic: (QFn, String) = (
    (s, dir) => graft.dedup.Components.connected(
        knnEdges(s, dir).filter(col("cos") >= 0.35)
          .select(col("src"), col("dst")))
      .select(col("node").as("vec_id"), col("component")),
    """WITH RECURSIVE e0 AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
      |    coalesce(list_sum(list_transform(generate_series(1, 16),
      |      j -> CASE WHEN embedding[j] >= 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END)), 0) AS b16
      |  FROM embeddings),
      |lc AS (SELECT label, count(*) AS cnt FROM e0 GROUP BY label),
      |nb AS (SELECT label, (1::BIGINT << coalesce(list_filter(generate_series(0, 16),
      |         b -> cnt <= 1024 * (1::BIGINT << b))[1], 16)) AS ncells FROM lc),
      |e AS (SELECT e0.vec_id, e0.label, e0.embedding, e0.nrm,
      |        e0.b16 % nb.ncells AS cell
      |      FROM e0 JOIN nb ON e0.label = nb.label),
      |scored AS (
      |  SELECT q.vec_id AS src, c.vec_id AS dst,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / (q.nrm * c.nrm), 4) AS cos
      |  FROM e q JOIN e c ON q.label = c.label AND q.cell = c.cell
      |    AND q.vec_id <> c.vec_id),
      |knn AS (
      |  SELECT src, dst, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
      |    FROM scored)
      |  WHERE rank <= 3),
      |ed0 AS (SELECT src, dst FROM knn WHERE cos >= 0.35),
      |edges AS (SELECT src, dst FROM ed0 UNION ALL SELECT dst, src FROM ed0),
      |r(node, seed) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT g.dst, r.seed FROM r JOIN edges g ON g.src = r.node)
      |SELECT node AS vec_id, CAST(min(seed) AS BIGINT) AS component
      |FROM r GROUP BY node""".stripMargin)

  // One BPE-training merge step at corpus scale: count adjacent CHARACTER
  // pairs across every token occurrence (weighted by term frequency, the
  // thing a tokenizer trainer actually maximizes over), top-30 by count.
  // The pair explode is bounded by token length — per-row work is O(|doc|),
  // rows out are O(total chars), one aggregate, distributed top-k. This is
  // the inner loop of BPE training as a linear-scan groupBy: at 100 TB each
  // merge step is one such pass (the full trainer iterates it; nothing in
  // the step itself holds more than (pair, count) partials).
  val textBpePairs: (QFn, String) = (
    (s, dir) => docs(s, dir)
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(30),
    s"""$toksCte, tok AS (SELECT unnest(t) AS w FROM toks),
       |pairs AS (
       |  SELECT substr(w, i, 2) AS pair
       |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
       |        FROM tok WHERE len(w) >= 2))
       |SELECT pair, CAST(count(*) AS BIGINT) AS n
       |FROM pairs GROUP BY pair
       |ORDER BY n DESC, pair LIMIT 30""".stripMargin)

  // FULL BPE merge TRAINING (text_bpe_pairs is one iteration's statistics;
  // this is the trainer): k = 4 rounds of count-pairs → pick-best → merge,
  // the Sennrich subword-tokenizer training loop, value-exact per round
  // (the cluster_train_2iter mold: fixed iteration count, every round's
  // chosen merge + its weighted count + the post-merge corpus symbol total
  // in the output). Scale shape — the whole point of training BPE from a
  // WORD-FREQUENCY table: one corpus-wide tokenize+count pass shuffles on
  // the word ONCE, and every iteration after that runs on the vocab-sized
  // (word, symbols, freq) state — pair stats are a vocab-linear explode +
  // one (l, r) groupBy, the argmax is a 1-row aggregate broadcast back,
  // and the merge is a per-row left fold with no shuffle at all. At 100 TB
  // the corpus never gets re-read; superseded rounds release their
  // checkpoints (the dedup_components_doubling discipline) so state stays
  // O(vocab) regardless of k. Merge semantics are the standard left-to-
  // right non-overlapping rewrite ("aaa" + (a,a) → [aa, a]); the fold
  // checks the last OUTPUT symbol, which cannot itself re-trigger (l||r
  // never equals l since r is non-empty), and the oracle reproduces the
  // same semantics positionally (mark → islands of consecutive marks →
  // merge odd offsets), so a semantic drift in either engine is a hash
  // diff. Ties on pair count pick the lexicographically smallest (l, r)
  // on both engines. A degenerate corpus (no word with ≥2 symbols left in
  // some round) raises an explicit error on the Spark side instead of
  // silently diverging from the oracle — see the guard in the loop.
  /** The k-round BPE training loop shared by `text_bpe_train` (per-round
    * merge rows) and `text_bpe_encode` (the final encoded vocab state).
    * Every round's vocab state is an OWNED checkpoint (released by the
    * harness after the consuming query's output materializes); superseded
    * rounds are additionally released eagerly in-loop so live state stays
    * O(vocab) regardless of k — double-release is a safe no-op. */
  private def bpeTrainLoop(s: SparkSession, dir: String, iters: Int)
      : (Seq[DataFrame], DataFrame) = {
    // the length >= 1 guard is a CROSS-ENGINE degenerate-corpus contract,
    // not an optimization: an empty token would hit Spark's
    // sequence(1, 0), which generates the DESCENDING [1, 0] (sequence
    // supports reverse ranges), yielding ["", ""] where DuckDB's
    // string_split('', '') yields [''] — guard identically on both sides
    var words = docs(s, dir)
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(expr("transform(sequence(1, length(w)), " +
        "i -> substring(w, CAST(i AS INT), 1))").as("syms"), col("freq"))
      .transform(graft.util.Checkpoints.ownedCheckpoint)
    val rows = (1 to iters).map { t =>
      val best = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(" +
            "element_at(syms, CAST(i AS INT)) AS l, " +
            "element_at(syms, CAST(i AS INT) + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .agg(graft.functions.MinMaxOrd
          .minOrd(struct((-col("cnt")).as("nc"), col("l"), col("r"))).as("m"))
        .select(col("m.l").as("l"), col("m.r").as("r"),
          (-col("m.nc")).as("cnt"))
        // degenerate-corpus guard (r14 ADVICE): on an empty pair table
        // Spark's global agg yields one all-NULL row (a silent no-op merge
        // + a NULL merge_l output row) while the DuckDB oracle's empty
        // cross-join vanishes its corpus and emits NOTHING — a confusing
        // cross-engine hash diff. m.l is never NULL on real input (syms
        // elements are substrings of non-empty words), so NULL ⇔ exhausted
        // pairs: fail LOUDLY and identically-on-both-engines instead
        // (k = 4 on real text never exhausts pairs; a tiny fixture can).
        .select(
          when(col("l").isNotNull, col("l")).otherwise(raise_error(lit(
            s"text_bpe_train round $t: pair table empty — degenerate " +
              "corpus (no word has >= 2 symbols left)"))).as("l"),
          col("r"), col("cnt"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // 1 row, read by the output
      val merged = words.crossJoin(broadcast(best))
        .select(TextAnalysis.bpeMerge(col("syms"), col("l"), col("r"))
          .as("syms"), col("freq"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      val prev = words
      words = merged
      val stats = merged
        .agg(sum(col("freq") * size(col("syms"))).as("corpus_syms"))
      val row = best.crossJoin(broadcast(stats))
        .select(lit(t).cast("long").as("iter"), col("l").as("merge_l"),
          col("r").as("merge_r"), col("cnt").as("pair_count"),
          col("corpus_syms"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // 1 row/iter
      // release round t-1's vocab state only AFTER `row` is built: `merged`
      // is exchange-free (scan → broadcast-join → project), so under lazy
      // checkpoints it materializes during row's broadcast(stats) stage —
      // which is the first (and only) compute that still reads `prev`'s
      // blocks. Releasing before that point would truncate lineage `merged`
      // still needs (r20 lazy-checkpoint discipline).
      graft.util.Checkpoints.release(prev)
      row
    }
    (rows, words)
  }

  val textBpeTrain: (QFn, String) = (
    (s, dir) => bpeTrainLoop(s, dir, 4)._1.reduce(_ unionByName _),
    s"""$bpeOracleCtes
       |${(1 to 4).map(bpeRowSql).mkString("\nUNION ALL\n")}""".stripMargin)

  /** One BPE oracle training round as DuckDB CTEs: pair stats → best pair
    * (lexicographic tie-break) → POSITIONAL merge (mark adjacent-pair
    * hits, group consecutive marks into islands, merge odd offsets —
    * equivalent to the Spark fold's greedy left-to-right rewrite, see
    * TextAnalysis.bpeMerge). */
  private def bpeIterSql(t: Int): String = {
    val w = s"w${t - 1}"
    s"""p$t AS (
       |  SELECT syms[i] AS l, syms[i + 1] AS r,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM $w, unnest(generate_series(1, len(syms) - 1)) AS u(i)
       |  GROUP BY 1, 2),
       |b$t AS (SELECT l, r, cnt FROM p$t ORDER BY cnt DESC, l, r LIMIT 1),
       |m$t AS MATERIALIZED (
       |  SELECT v.w, v.freq, v.syms, u.i,
       |    coalesce(v.syms[u.i] = b.l AND v.syms[u.i + 1] = b.r,
       |      FALSE) AS mk
       |  FROM $w v, b$t b,
       |    unnest(generate_series(1, len(v.syms))) AS u(i)),
       |mg$t AS MATERIALIZED (
       |  SELECT w, i, (row_number() OVER (PARTITION BY w, isl
       |    ORDER BY i) % 2 = 1) AS merged
       |  FROM (
       |    SELECT w, i, i - row_number() OVER (PARTITION BY w
       |      ORDER BY i) AS isl
       |    FROM m$t WHERE mk)),
       |w$t AS MATERIALIZED (
       |  SELECT m.w, m.freq,
       |    list(CASE WHEN coalesce(g.merged, FALSE) THEN b.l || b.r
       |      ELSE m.syms[m.i] END ORDER BY m.i) AS syms
       |  FROM m$t m CROSS JOIN b$t b
       |  LEFT JOIN mg$t g ON g.w = m.w AND g.i = m.i
       |  LEFT JOIN mg$t gp ON gp.w = m.w AND gp.i = m.i - 1 AND gp.merged
       |  WHERE gp.i IS NULL
       |  GROUP BY m.w, m.freq)""".stripMargin
  }

  private def bpeRowSql(t: Int): String =
    s"""SELECT CAST($t AS BIGINT) AS iter, b.l AS merge_l,
       |  b.r AS merge_r, b.cnt AS pair_count,
       |  (SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM w$t)
       |    AS corpus_syms
       |FROM b$t b""".stripMargin

  /** Shared oracle prefix: toks → word-freq table → 4 training rounds. */
  private def bpeOracleCtes: String =
    s"""$toksCte,
       |w0 AS MATERIALIZED (
       |  SELECT w, string_split(w, '') AS syms,
       |    CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(t) AS w FROM toks) WHERE len(w) >= 1
       |  GROUP BY w),
       |${(1 to 4).map(bpeIterSql).mkString(",\n")}""".stripMargin

  // The ENCODE side of the trainer — apply the learned 4-merge table to
  // the corpus and surface the resulting token distribution: top-20
  // tokens by tf-weighted count after encoding (learned subwords like
  // "er"/"in" rise into the single-char ranks — the sanity readout a
  // tokenizer build publishes). The encoded state IS the trainer's final
  // vocab frame, so encode costs one extra vocab-linear explode + one
  // (token) groupBy + a distributed top-k; at 100 TB the corpus is still
  // tokenized exactly once (the trainer's word-freq pass) and everything
  // here is vocab-sized. Output ties to text_bpe_train: these tokens are
  // exactly the symbols whose count the trainer's corpus_syms telescopes
  // over, so the two queries cross-check each other's merge application.
  val textBpeEncode: (QFn, String) = (
    (s, dir) => bpeTrainLoop(s, dir, 4)._2
      .select(col("freq"), explode(col("syms")).as("token"))
      .groupBy(col("token")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20),
    s"""$bpeOracleCtes,
       |enc AS (SELECT unnest(syms) AS token, freq FROM w4)
       |SELECT token, CAST(sum(freq) AS BIGINT) AS n
       |FROM enc GROUP BY token
       |ORDER BY n DESC, token LIMIT 20""".stripMargin)

  // Hybrid retrieval with TRUNCATED reciprocal-rank fusion — the standard
  // production form: each leg retrieves its top-100 (lexical query-term
  // frequency; cosine against one broadcast query embedding), the two
  // 100-row lists full-outer fuse as Σ 1e9/(60+rank) with a missing leg
  // contributing zero, top-20 out. EXACT integer arithmetic throughout
  // (RRF k=60; integer division keeps both engines bit-identical where a
  // float reciprocal would not). Scale shape: each leg's top-100 is the
  // custom HEAP aggregate — map-side partial top-k, so the exchange
  // carries 100 rows per partition and NOTHING ranks the full corpus (the
  // r7-first-draft global row_number window moved every doc to one
  // partition — the single-partition WARN — and is exactly what this form
  // eliminates); the fusion then runs on ≤200 rows. Ordering contract per
  // leg matches the heap everywhere else: higher score, then smaller id.
  val simHybridSearch: (QFn, String) = (
    (s, dir) => {
      val qTerms = Seq("spark", "query", "join")
      val lex = docs(s, dir).select(col("doc_id"),
        expr(s"size(filter(split(trim(text), '\\\\s+'), " +
          s"x -> x IN (${qTerms.map("'" + _ + "'").mkString(",")})))")
          .cast("long").as("tf"))
      val lexTop = lex
        .agg(graft.functions.TopKByScore
          .topK(col("tf").cast("double"), col("doc_id"), 100).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("t.id").as("l_id"), (col("pos") + 1).cast("long").as("r_lex"))
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val vecTop = e.crossJoin(broadcast(q)).select(col("vec_id"),
          round(graft.functions.CosineSimilarity(col("qe"), col("embedding")), 4)
            .as("cos"))
        .agg(graft.functions.TopKByScore
          .topK(col("cos"), col("vec_id"), 100).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("t.id").as("v_id"), (col("pos") + 1).cast("long").as("r_vec"))
      lexTop.join(vecTop, col("l_id") === col("v_id"), "full_outer")
        .select(coalesce(col("l_id"), col("v_id")).as("doc_id"),
          col("r_lex"), col("r_vec"),
          (coalesce(expr("1000000000 div (60 + r_lex)"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + r_vec)"), lit(0L)))
            .as("rrf_e9"))
        .orderBy(col("rrf_e9").desc, col("doc_id"))
        .limit(20)
    },
    """WITH lex AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> x IN ('spark', 'query', 'join'))) AS BIGINT) AS tf
      |  FROM documents),
      |lex_r AS (SELECT doc_id, r_lex FROM (
      |  SELECT doc_id, CAST(row_number() OVER
      |    (ORDER BY tf DESC, doc_id) AS BIGINT) AS r_lex FROM lex)
      |  WHERE r_lex <= 100),
      |e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |q AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0),
      |vec AS (
      |  SELECT e.vec_id,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.qe[i]::DOUBLE * e.embedding[i]::DOUBLE)) / (q.qn * e.nrm), 4) AS cos
      |  FROM e, q),
      |vec_r AS (SELECT vec_id, r_vec FROM (
      |  SELECT vec_id, CAST(row_number() OVER
      |    (ORDER BY cos DESC, vec_id) AS BIGINT) AS r_vec FROM vec)
      |  WHERE r_vec <= 100)
      |SELECT coalesce(l.doc_id, v.vec_id) AS doc_id, l.r_lex, v.r_vec,
      |  CAST(coalesce(1000000000 // (60 + l.r_lex), 0)
      |     + coalesce(1000000000 // (60 + v.r_vec), 0) AS BIGINT) AS rrf_e9
      |FROM lex_r l FULL OUTER JOIN vec_r v ON l.doc_id = v.vec_id
      |ORDER BY rrf_e9 DESC, doc_id LIMIT 20""".stripMargin)

  /** DuckDB CTE chain reproducing [[simKnnGraph]]'s edge list (`knn(src,
    * dst, cos)`, rank ≤ 3 per src) — the shared basis for the graph-analytics
    * oracles below. Keep in lockstep with simKnnGraph's own oracle — in
    * particular the corpus-proportional sign-word cell quantizer: at gate
    * scale every label cell fits the 1024 target so ncells = 1 and this
    * degenerates to exact within-label knn (byte-identical results to the
    * pre-quantizer form), but at sf~10+ the Spark side's shared
    * [[knnEdges]] frame runs with ncells > 1 and a label-only oracle would
    * silently diverge — the r11 sf~10 graph legs need this lockstep.
    *
    * `e`/`knn` are MATERIALIZED: DuckDB 1.0 inlines CTEs, so a consumer
    * that references the edge list k times (bfs walks `bi` five times,
    * triangles' wedge join reads `und` three times) would re-run the
    * within-cell scoring join — ~n·1024 pairs plus a per-src window —
    * k times over, and at sf~10 the accumulated window spill exhausted
    * this box's 78 GB of temp disk. Materialized, the quadratic work runs
    * once and every re-reference walks the ~3n-row edge list. */
  private val knnEdgesCtes =
    """WITH e0 AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm,
      |    coalesce(list_sum(list_transform(generate_series(1, 16),
      |      j -> CASE WHEN embedding[j] >= 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END)), 0) AS b16
      |  FROM embeddings),
      |lc AS (SELECT label, count(*) AS cnt FROM e0 GROUP BY label),
      |nb AS (SELECT label, (1::BIGINT << coalesce(list_filter(generate_series(0, 16),
      |         b -> cnt <= 1024 * (1::BIGINT << b))[1], 16)) AS ncells FROM lc),
      |e AS MATERIALIZED (SELECT e0.vec_id, e0.label, e0.embedding, e0.nrm,
      |        e0.b16 % nb.ncells AS cell
      |      FROM e0 JOIN nb ON e0.label = nb.label),
      |scored AS (
      |  SELECT q.vec_id AS src, c.vec_id AS dst,
      |    round(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / (q.nrm * c.nrm), 4) AS cos
      |  FROM e q JOIN e c ON q.label = c.label AND q.cell = c.cell
      |    AND q.vec_id <> c.vec_id),
      |knn AS MATERIALIZED (
      |  SELECT src, dst, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
      |    FROM scored)
      |  WHERE rank <= 3)""".stripMargin

  // PageRank over the k-NN graph, two iterations, EXACT integer arithmetic:
  // total mass 1e12, damping 85/100, every divide an integer floor-div in
  // the same order on both engines — float PageRank can't hash-match across
  // engines (summation order), scaled-integer PageRank can. Every vector is
  // a knn src (k edges out), so there are no dangling nodes and no lost
  // mass beyond division remainders (identical on both sides). Scale shape:
  // per iteration ONE hash join (edges ⋈ ranks on src — the same key both
  // sides already shuffle on) + one partial-aggregable sum by dst; the
  // edge list with out-degrees is checkpointed once and reused across
  // iterations, so the knn subtree never re-evaluates; node count rides a
  // one-row broadcast. At 100 TB this is exactly the Pregel/GraphX plan
  // shape, minus their per-superstep driver sync.
  val graphPagerank: (QFn, String) = (
    (s, dir) => {
      // no extra checkpoint: the shared knnEdges frame is already
      // materialized, and a projection off it is free to re-read
      val edges = knnEdges(s, dir).select(col("src"), col("dst"))
      val ew = edges
        .join(edges.groupBy(col("src").as("osrc"))
          .agg(count(lit(1)).as("od")), col("src") === col("osrc"))
        .select(col("src"), col("dst"), col("od"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // reused by both iterations
      val nodes = emb(s, dir).select(col("vec_id").as("node"))
      val nn = broadcast(nodes.agg(count(lit(1)).as("cnt")))
      var p = nodes.crossJoin(nn)
        .select(col("node"), expr("1000000000000 div cnt").as("p"))
      (1 to 2).foreach { _ =>
        val contrib = ew.join(p, col("src") === col("node"))
          .select(col("dst"), expr("(p * 85 div 100) div od").as("share"))
          .groupBy(col("dst")).agg(sum(col("share")).as("in_mass"))
        p = nodes.crossJoin(nn)
          .join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (expr("(1000000000000 * 15 div 100) div cnt") +
              coalesce(col("in_mass"), lit(0L))).as("p"))
      }
      p.select(col("node").as("vec_id"), col("p").as("pr_e12"))
    },
    s"""$knnEdgesCtes,
       |edges AS (SELECT src, dst FROM knn),
       |outdeg AS (SELECT src AS osrc, CAST(count(*) AS BIGINT) AS od
       |           FROM edges GROUP BY 1),
       |ew AS (SELECT src, dst, od FROM edges JOIN outdeg ON osrc = src),
       |nodes AS (SELECT vec_id AS node FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes),
       |p0 AS (SELECT node, CAST(1000000000000 // cnt AS BIGINT) AS p
       |       FROM nodes CROSS JOIN nn),
       |c1 AS (SELECT dst, CAST(sum((p * 85 // 100) // od) AS BIGINT) AS in_mass
       |       FROM ew JOIN p0 ON p0.node = ew.src GROUP BY dst),
       |p1 AS (SELECT node,
       |         CAST((1000000000000 * 15 // 100) // cnt
       |           + coalesce(in_mass, 0) AS BIGINT) AS p
       |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.dst = node),
       |c2 AS (SELECT dst, CAST(sum((p * 85 // 100) // od) AS BIGINT) AS in_mass
       |       FROM ew JOIN p1 ON p1.node = ew.src GROUP BY dst),
       |p2 AS (SELECT node,
       |         CAST((1000000000000 * 15 // 100) // cnt
       |           + coalesce(in_mass, 0) AS BIGINT) AS p
       |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.dst = node)
       |SELECT node AS vec_id, p AS pr_e12 FROM p2""".stripMargin)

  // Per-node triangle counts on the undirected k-NN graph — the local
  // clustering signal (dense near-dup neighborhoods close their triangles;
  // chains don't). Canonical-direction edges (u < v, distinct) make each
  // triangle appear exactly once as an ordered wedge (u < a < b) closed by
  // edge (a, b); each closure credits all three corners via one explode.
  // Scale shape: the wedge join is a hash join on the shared lower
  // endpoint, bounded by Σ deg² — and degree here is capped by k plus the
  // in-degree of the knn relation, not corpus size; the closure is a hash
  // join of wedges against the edge list on (a, b). No global structure,
  // no driver state — the standard MapReduce triangle enumeration.
  val graphTriangles: (QFn, String) = (
    (s, dir) => {
      val und = knnEdges(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct().transform(graft.util.Checkpoints.ownedCheckpoint) // wedge + closure both consume it
      val wedge = und.as("e1").join(und.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.u").as("apex"), col("e1.v").as("a"), col("e2.v").as("b"))
      val tri = wedge.join(und.as("e3"),
          col("a") === col("e3.u") && col("b") === col("e3.v"))
        .select(col("apex"), col("a"), col("b"))
      tri.select(explode(array(col("apex"), col("a"), col("b"))).as("vec_id"))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_triangles"))
    },
    s"""$knnEdgesCtes,
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM knn),
       |wedge AS (SELECT e1.u AS apex, e1.v AS a, e2.v AS b
       |          FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v),
       |tri AS (SELECT apex, a, b
       |        FROM wedge JOIN und e3 ON wedge.a = e3.u AND wedge.b = e3.v),
       |corners AS (
       |  SELECT apex AS vec_id FROM tri
       |  UNION ALL SELECT a FROM tri
       |  UNION ALL SELECT b FROM tri)
       |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM corners GROUP BY vec_id""".stripMargin)

  // Video scene-cut detection — the temporal-segmentation pass a video
  // training pipeline runs before captioning/sampling: consecutive frames
  // whose perceptual hashes differ by ≥7 of 12 bits mark a cut. Each
  // doc carries a 4-6 frame lossless P6 "video" (frame f = a 36-byte
  // slice of the doc text, so consecutive frames OVERLAP — mostly-similar
  // frames with occasional jumps, exactly the signal cut detection
  // exists for); every frame decodes through the REAL PPM codec and the
  // same aHash kernel as mm_ahash/mm_dedup_phash, so the oracle re-derives
  // every hash bit from raw bytes and the whole chain is value-exact
  // (lossless path — the JPEG twin of this query would be unit-gated, not
  // oracled). Scale shape: per-frame decode + hash is pre-shuffle
  // map-side work; the ONLY shuffle keys on doc_id for the lag() window,
  // whose partitions are bounded by frames-per-video; output is one row
  // per doc. Frame explode fan-out is the same budget mm_frame_sample's
  // partition sizing documents.
  val mmSceneCuts: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val frames = d.select(col("doc_id"), col("text"),
          explode(sequence(lit(0), (lit(3) + col("doc_id") % 3).cast("int")))
            .as("f"))
        .select((col("doc_id") * 8 + col("f")).as("doc_id"),
          concat(lit("P6\n4 3\n255\n"),
            rpad(expr("substring(text, cast(f * 5 + 1 as int), 36)"), 36, "x"))
            .cast("binary").as("media"))
        .as[graft.multimodal.MediaRecord]
      val hs = graft.multimodal.Multimodal.ahashPpm(frames).toDF()
        .select(expr("doc_id div 8").as("doc"), (col("doc_id") % 8).as("f"),
          col("ahash"))
      hs.withColumn("prev", lag(col("ahash"), 1).over(
          Window.partitionBy(col("doc")).orderBy(col("f"))))
        .filter(col("prev").isNotNull)
        .select(col("doc"),
          expr("cast(bit_count(ahash ^ prev) as bigint)").as("ham"))
        .groupBy(col("doc"))
        .agg((count(lit(1)) + 1).as("n_frames"),
          sum(when(col("ham") >= 7, 1L).otherwise(0L)).as("n_cuts"),
          max(col("ham")).as("max_ham"))
        .select(col("doc").as("doc_id"), col("n_frames"), col("n_cuts"),
          col("max_ham"))
    },
    """WITH fr AS (
      |  SELECT doc_id, t.f AS f,
      |    rpad(substring(text, CAST(t.f * 5 + 1 AS INTEGER), 36), 36, 'x') AS px
      |  FROM documents,
      |    unnest(generate_series(0, CAST(3 + doc_id % 3 AS INTEGER))) AS t(f)),
      |b AS (
      |  SELECT doc_id, f, t.p AS p,
      |    ascii(substring(px, CAST(t.p * 3 + 1 AS INTEGER), 1))
      |      + ascii(substring(px, CAST(t.p * 3 + 2 AS INTEGER), 1))
      |      + ascii(substring(px, CAST(t.p * 3 + 3 AS INTEGER), 1)) AS lum
      |  FROM fr, unnest(generate_series(0, 11)) AS t(p)),
      |s AS (SELECT doc_id, f, sum(lum) AS tot FROM b GROUP BY 1, 2),
      |hsh AS (
      |  SELECT b.doc_id, b.f,
      |    CAST(sum(CASE WHEN b.lum * 12 > s.tot THEN (CAST(1 AS BIGINT) << b.p)
      |             ELSE 0 END) AS BIGINT) AS ahash
      |  FROM b JOIN s ON b.doc_id = s.doc_id AND b.f = s.f GROUP BY 1, 2),
      |lagged AS (
      |  SELECT doc_id, f, ahash,
      |    lag(ahash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
      |  FROM hsh),
      |ham AS (
      |  SELECT doc_id, CAST(bit_count(xor(ahash, prev)) AS BIGINT) AS ham
      |  FROM lagged WHERE prev IS NOT NULL)
      |SELECT doc_id, CAST(count(*) + 1 AS BIGINT) AS n_frames,
      |  CAST(sum(CASE WHEN ham >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
      |  CAST(max(ham) AS BIGINT) AS max_ham
      |FROM ham GROUP BY 1""".stripMargin)

  // Community-partition modularity — the quality score for a clustering of
  // the near-dup graph (here the label partition): per community,
  // contrib_e9 = 1e9·(4m·e_in − d_c²) div 4m² in exact decimal(38,0)/
  // HUGEINT arithmetic (m up to ~1e12 edges puts the numerator at ~1e33 —
  // far past Long, comfortably inside decimal(38,0)); Σ contrib_e9 is
  // Newman's Q·1e9. Sign-safety, stated: Spark's `div` truncates toward
  // zero and DuckDB's `//` floors, which diverge on NEGATIVES — but with a
  // label-partitioned knn relation every edge is intra-community, so
  // d_c = 2·e_in and the numerator is 4·e_in·(m − e_in) ≥ 0 identically;
  // a cross-community edge source would need the floor(double) form the
  // centroid-shift query uses (and smaller scales) or an explicit clamp.
  // Scale shape: two broadcast-able label joins against the checkpointed
  // edge list, two partial-aggregable aggregates, a one-row m broadcast —
  // output is |communities| rows, nothing data-scaled after the joins.
  val graphModularity: (QFn, String) = (
    (s, dir) => {
      val und = knnEdges(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct().transform(graft.util.Checkpoints.ownedCheckpoint) // m, degrees AND e_in read this frame
      // materialized once: degc, e_in (twice) and n_nodes all consume this
      // 2-column frame — without the checkpoint each is its own
      // embeddings scan (ScanAuditSpec caught the 4× pass)
      val lab = emb(s, dir).select(col("vec_id"), col("label"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      val m1 = broadcast(und.agg(count(lit(1)).as("m")))
      val bi = und.union(und.select(col("v").as("u"), col("u").as("v")))
      val degc = bi.join(lab, col("u") === col("vec_id"))
        .groupBy(col("label").as("dl")).agg(count(lit(1)).as("d_c"))
      val ein = und
        .join(lab.select(col("vec_id").as("uu"), col("label").as("lu")),
          col("u") === col("uu"))
        .join(lab.select(col("vec_id").as("vv"), col("label").as("lv")),
          col("v") === col("vv"))
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("el")).agg(count(lit(1)).as("e_in"))
      lab.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
        .join(degc, col("label") === col("dl"), "left")
        .join(ein, col("label") === col("el"), "left")
        .crossJoin(m1)
        .select(col("label"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("e_in"),
          coalesce(col("d_c"), lit(0L)).as("d_c"), col("m"))
        .select(col("label"), col("n_nodes"), col("e_in"), col("d_c"),
          expr("cast((cast(1000000000 as decimal(38,0)) * " +
            "(4 * cast(m as decimal(38,0)) * e_in - " +
            "cast(d_c as decimal(38,0)) * d_c)) div " +
            "(4 * cast(m as decimal(38,0)) * m) as bigint)").as("contrib_e9"))
    },
    s"""$knnEdgesCtes,
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM knn),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |bi AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |degc AS (SELECT l.label, CAST(count(*) AS BIGINT) AS d_c
       |         FROM bi JOIN lab l ON bi.u = l.vec_id GROUP BY 1),
       |ein AS (SELECT lu.label, CAST(count(*) AS BIGINT) AS e_in
       |        FROM und JOIN lab lu ON und.u = lu.vec_id
       |                JOIN lab lv ON und.v = lv.vec_id
       |        WHERE lu.label = lv.label GROUP BY 1),
       |nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
       |       FROM lab GROUP BY 1)
       |SELECT nn.label, nn.n_nodes, coalesce(e_in, 0) AS e_in,
       |  coalesce(d_c, 0) AS d_c,
       |  CAST((1000000000::HUGEINT *
       |        (4::HUGEINT * m.m * coalesce(e_in, 0)
       |         - coalesce(d_c, 0)::HUGEINT * coalesce(d_c, 0)))
       |    // (4::HUGEINT * m.m * m.m) AS BIGINT) AS contrib_e9
       |FROM nn LEFT JOIN degc ON nn.label = degc.label
       |        LEFT JOIN ein ON nn.label = ein.label
       |CROSS JOIN m""".stripMargin)

  // Link prediction by neighbor Jaccard — "suggest the edge that isn't
  // there yet": for every distance-2 pair (shares ≥1 neighbor, not
  // adjacent), J_e6 = 1e6·|N∩| div (deg_u + deg_v − |N∩|) in exact
  // integers, top-20. The classic friend-of-friend recommender, and on a
  // near-dup graph the "these two clusters are about to merge" signal.
  // Scale shape: candidates come from the SAME wedge join that bounds
  // triangle counting — Σdeg² with degree capped by the knn relation, so
  // the candidate set is never all-pairs; shared-neighbor counts are one
  // partial-aggregable aggregate over wedges; the degree frame is a
  // |V|-row broadcast-able join; existing edges leave via one hash
  // LEFT ANTI; top-20 is TakeOrderedAndProject. The bi frame is
  // checkpointed once and feeds degrees AND both wedge sides.
  val graphJaccardSuggest: (QFn, String) = (
    (s, dir) => {
      val und = knnEdges(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct().transform(graft.util.Checkpoints.ownedCheckpoint) // wedge basis AND the anti-join side
      val bi = und.union(und.select(col("v").as("u"), col("u").as("v")))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // degrees + both wedge sides
      val deg = bi.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
      val wedge = bi.as("b1").join(bi.as("b2"),
          col("b1.u") === col("b2.u") && col("b1.v") < col("b2.v"))
        .select(col("b1.v").as("x"), col("b2.v").as("y"))
      val shared = wedge.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("shared_n"))
      shared.join(und, col("x") === col("u") && col("y") === col("v"),
          "left_anti")
        .join(deg.select(col("n").as("nx"), col("deg").as("dx")),
          col("x") === col("nx"))
        .join(deg.select(col("n").as("ny"), col("deg").as("dy")),
          col("y") === col("ny"))
        .select(col("x").as("u"), col("y").as("v"), col("shared_n"),
          expr("shared_n * 1000000 div (dx + dy - shared_n)").as("j_e6"))
        .orderBy(col("j_e6").desc, col("u"), col("v"))
        .limit(20)
    },
    s"""$knnEdgesCtes,
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM knn),
       |bi AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY 1),
       |wedge AS (SELECT b1.v AS x, b2.v AS y FROM bi b1 JOIN bi b2
       |          ON b1.u = b2.u AND b1.v < b2.v),
       |shared AS (SELECT x, y, CAST(count(*) AS BIGINT) AS shared_n
       |           FROM wedge GROUP BY 1, 2),
       |cand AS (SELECT s.* FROM shared s LEFT JOIN und e
       |         ON s.x = e.u AND s.y = e.v WHERE e.u IS NULL)
       |SELECT x AS u, y AS v, shared_n,
       |  CAST(shared_n * 1000000 // (dx.deg + dy.deg - shared_n) AS BIGINT) AS j_e6
       |FROM cand JOIN deg dx ON x = dx.n JOIN deg dy ON y = dy.n
       |ORDER BY j_e6 DESC, u, v LIMIT 20""".stripMargin)

  // Deterministic per-epoch training order — the "shuffle the corpus
  // differently every epoch, reproducibly" op every trainer needs: each
  // doc lands in a STABLE shard (md5 of doc_id — co-located across epochs
  // so epoch N+1 never re-shuffles bytes between workers) and gets a
  // per-epoch position from the rank of md5(epoch:doc_id) WITHIN its
  // shard. No RNG state (retry-stable, the same rule as the sampling
  // tier); no global sort — the rank window is shard-local, so at 100 TB
  // the sort is bounded by corpus/shards per task and shard count is the
  // parallelism knob (8 here; ∝ cluster in production). Two epochs
  // materialized; the plan is epoch-count-independent (a literal explode).
  val pipelineEpochOrder: (QFn, String) = (
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        explode(array(lit(1L), lit(2L))).as("epoch"))
      .select(col("epoch"),
        (expr("conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)")
          .cast("long") % 8).as("shard"),
        col("doc_id"),
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("k"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("k"), col("doc_id"))).cast("long"))
      .select(col("epoch"), col("shard"), col("doc_id"), col("pos")),
    """WITH ep AS (SELECT unnest([1, 2]) AS epoch),
      |d AS (SELECT epoch, doc_id,
      |        CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 8)) AS BIGINT) % 8
      |          AS shard,
      |        md5(epoch::VARCHAR || ':' || doc_id::VARCHAR) AS k
      |      FROM documents CROSS JOIN ep)
      |SELECT CAST(epoch AS BIGINT) AS epoch, shard, doc_id,
      |  CAST(row_number() OVER (PARTITION BY epoch, shard
      |    ORDER BY k, doc_id) AS BIGINT) AS pos
      |FROM d""".stripMargin)

  // Corpus collocations — the top word bigrams by LIFT (observed pair
  // frequency over the frequency its endpoints' independent rates
  // predict), the exact-integer surrogate for PMI: lift_e6 = 1e6·N·c(a,b)
  // div (c1(a)·c2(b)) where c1/c2 are positional unigram totals DERIVED
  // FROM the pair frame itself — so one scan tokenizes the corpus and
  // everything downstream is aggregation over (w1, w2). log(PMI) would
  // rank identically but cannot hash-match across engines; the lift ratio
  // in decimal(38,0)/HUGEINT intermediates can (1e6·N·c overflows a Long
  // at web-corpus N — the same audited headroom rule as burstiness).
  // Min-support 5 prunes the noise tail BEFORE the rank. Scale shape: one
  // pair-key shuffle aggregate; the positional unigram frames are
  // |vocab|-sized partial aggregates over it that BROADCAST back; the
  // one-row pair total rides a broadcast crossJoin; top-25 is
  // TakeOrderedAndProject, never a global sort materialization.
  val textCollocations: (QFn, String) = (
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokensCol(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val pairs = toks
        .select(posexplode(expr(
          "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) as w1, element_at(t, i + 1) as w2))"))
          .as(Seq("pos", "p")))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // feeds c1, c2, the total AND the scored frame
      val c1 = pairs.groupBy(col("w1").as("a")).agg(sum(col("c")).as("c1"))
      val c2 = pairs.groupBy(col("w2").as("b")).agg(sum(col("c")).as("c2"))
      val total = pairs.agg(sum(col("c")).as("n_pairs"))
      pairs.filter(col("c") >= 5)
        .join(broadcast(c1), col("w1") === col("a"))
        .join(broadcast(c2), col("w2") === col("b"))
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("c").as("pair_n"),
          // denominator promoted BEFORE the multiply: c1·c2 in Long
          // overflows at web-corpus vocab rates even when the ratio is tiny
          expr("cast((cast(1000000 as decimal(38,0)) * n_pairs * c) div " +
            "(cast(c1 as decimal(38,0)) * c2) as bigint)").as("lift_e6"))
        .orderBy(col("lift_e6").desc, col("w1"), col("w2"))
        .limit(25)
    },
    s"""$toksCte,
       |pr AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
       |        FROM toks WHERE len(t) >= 2)),
       |pairs AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
       |          FROM pr GROUP BY 1, 2),
       |c1 AS (SELECT w1 AS a, CAST(sum(c) AS BIGINT) AS c1 FROM pairs GROUP BY 1),
       |c2 AS (SELECT w2 AS b, CAST(sum(c) AS BIGINT) AS c2 FROM pairs GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_pairs FROM pairs)
       |SELECT w1, w2, c AS pair_n,
       |  CAST((1000000::HUGEINT * n_pairs * c) // (c1::HUGEINT * c2) AS BIGINT) AS lift_e6
       |FROM pairs JOIN c1 ON w1 = a JOIN c2 ON w2 = b CROSS JOIN tot
       |WHERE c >= 5
       |ORDER BY lift_e6 DESC, w1, w2 LIMIT 25""".stripMargin)

  // Embedding-distribution drift between two corpus halves (vec_id parity
  // — the stand-in for "yesterday's batch vs today's"): per label, the
  // squared L2 distance between the halves' centroids, in EXACT integer
  // arithmetic — dims quantize to e6 Longs (floor of a double product is
  // bit-identical across engines), each centroid coordinate is
  // floor(sum/n) computed in DOUBLE (sums stay far below 2^53, and
  // floor-of-double agrees on negatives where Long `div` truncates toward
  // zero — embeddings are signed, money is not). The monitoring query an
  // embedding pipeline runs per ingest batch to catch encoder or data
  // drift. Scale shape: ONE (label, dim, half) shuffle aggregate (64·k·2
  // output rows regardless of corpus size), then a k-row reshape — the
  // corpus is touched exactly once and everything after is constant-sized.
  val embCentroidShift: (QFn, String) = (
    (s, dir) => {
      val ve = emb(s, dir).select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("half"), col("dim"),
          floor(col("x").cast("double") * 1000000).cast("long").as("x_e6"))
      val cent = ve.groupBy(col("label"), col("dim"))
        .agg(
          floor(sum(when(col("half") === 0, col("x_e6"))).cast("double") /
            count(when(col("half") === 0, 1))).cast("long").as("c0"),
          floor(sum(when(col("half") === 1, col("x_e6"))).cast("double") /
            count(when(col("half") === 1, 1))).cast("long").as("c1"),
          count(when(col("half") === 0, 1)).as("n0d"),
          count(when(col("half") === 1, 1)).as("n1d"))
      cent.groupBy(col("label"))
        .agg(sum((col("c0") - col("c1")) * (col("c0") - col("c1")))
            .as("shift_l2sq_e12"),
          max(col("n0d")).as("n_half0"), max(col("n1d")).as("n_half1"))
    },
    """WITH ve AS (
      |  SELECT label, vec_id % 2 AS half, i - 1 AS dim,
      |    CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS x_e6
      |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)),
      |cent AS (
      |  SELECT label, dim,
      |    CAST(floor(CAST(sum(CASE WHEN half = 0 THEN x_e6 END) AS DOUBLE)
      |      / count(CASE WHEN half = 0 THEN 1 END)) AS BIGINT) AS c0,
      |    CAST(floor(CAST(sum(CASE WHEN half = 1 THEN x_e6 END) AS DOUBLE)
      |      / count(CASE WHEN half = 1 THEN 1 END)) AS BIGINT) AS c1,
      |    CAST(count(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS n0d,
      |    CAST(count(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n1d
      |  FROM ve GROUP BY 1, 2)
      |SELECT label, CAST(sum((c0 - c1) * (c0 - c1)) AS BIGINT) AS shift_l2sq_e12,
      |  CAST(max(n0d) AS BIGINT) AS n_half0,
      |  CAST(max(n1d) AS BIGINT) AS n_half1
      |FROM cent GROUP BY 1""".stripMargin)

  // Multi-source BFS hop levels over the undirected k-NN graph — "how far
  // is every vector from the nearest seed", the reachability primitive
  // under influence propagation and seed-expansion labeling. Seeds are a
  // deterministic slice (vec_id % 97 = 0); depth is bounded at 4 (a fixed
  // semantic, not a convergence guess — unreached nodes are absent, which
  // is itself signal). EXACT because levels are integers and min() is
  // order-free. Scale shape: the textbook Pregel frontier loop — per
  // level, ONLY the newly-reached frontier joins the edge list (one hash
  // join on the node key, the same key the edges already shuffle on), then
  // one partial-aggregable min folds new candidates into the reached set;
  // the reached frame is checkpointed per level so lineage stays flat. At
  // 100 TB the frontier join moves |frontier|·avg-degree rows, never the
  // full graph — the property that makes BFS feasible at all.
  val graphBfsLevels: (QFn, String) = (
    (s, dir) => {
      val edges = knnEdges(s, dir)
        .select(col("src"), col("dst"))
      // both directions: reachability is undirected even though knn is not
      val bi = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().transform(graft.util.Checkpoints.ownedCheckpoint) // every level's join reads this frame
      var reached = emb(s, dir).select(col("vec_id").as("node"))
        .filter(col("node") % 97 === 0)
        .select(col("node"), lit(0L).as("level"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      (1 to 4).foreach { lvl =>
        val frontier = reached.filter(col("level") === (lvl - 1))
        val nxt = frontier.join(bi, col("node") === col("src"))
          .select(col("dst").as("node"), lit(lvl.toLong).as("level"))
        val prev = reached
        reached = reached.union(nxt)
          .groupBy(col("node")).agg(min(col("level")).as("level"))
          .transform(graft.util.Checkpoints.ownedCheckpoint)
        // level L is materialized (eager checkpoint) — release L−1's
        // blocks instead of pinning rounds×n superseded state (r11 #2)
        graft.util.Checkpoints.release(prev)
      }
      // the result reads only the final checkpointed level frame
      graft.util.Checkpoints.release(bi)
      reached.select(col("node").as("vec_id"), col("level"))
    },
    s"""$knnEdgesCtes,
       |bi AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM knn UNION ALL SELECT dst, src FROM knn)),
       |l0 AS (SELECT vec_id AS node, CAST(0 AS BIGINT) AS level
       |       FROM embeddings WHERE vec_id % 97 = 0),
       |l1 AS (SELECT node, CAST(min(level) AS BIGINT) AS level FROM (
       |  SELECT node, level FROM l0 UNION ALL
       |  SELECT bi.dst, 1 FROM l0 JOIN bi ON l0.node = bi.src
       |    AND l0.level = 0) GROUP BY 1),
       |l2 AS (SELECT node, CAST(min(level) AS BIGINT) AS level FROM (
       |  SELECT node, level FROM l1 UNION ALL
       |  SELECT bi.dst, 2 FROM l1 JOIN bi ON l1.node = bi.src
       |    AND l1.level = 1) GROUP BY 1),
       |l3 AS (SELECT node, CAST(min(level) AS BIGINT) AS level FROM (
       |  SELECT node, level FROM l2 UNION ALL
       |  SELECT bi.dst, 3 FROM l2 JOIN bi ON l2.node = bi.src
       |    AND l2.level = 2) GROUP BY 1),
       |l4 AS (SELECT node, CAST(min(level) AS BIGINT) AS level FROM (
       |  SELECT node, level FROM l3 UNION ALL
       |  SELECT bi.dst, 4 FROM l3 JOIN bi ON l3.node = bi.src
       |    AND l3.level = 3) GROUP BY 1)
       |SELECT node AS vec_id, level FROM l4""".stripMargin)

  // Bounded k-core peeling (k = 4, 2 rounds) — the density filter that
  // separates "vector sits in a genuinely dense neighborhood" from "vector
  // merely has k neighbors because knn forces k edges on everyone". The
  // semantic is R ROUNDS of degree-<k removal, not run-to-fixpoint — a
  // deterministic contract at any scale (fixpoint iteration count is
  // data-dependent; a fixed R is reproducible and each round strictly
  // shrinks the survivor set). Output = survivors with the degree that
  // qualified them in the last round. Scale shape: per round ONE hash join
  // of the (small, shrinking) survivor set against the checkpointed edge
  // list — the edge frame never recomputes — and one partial-aggregable
  // degree count; the survivor key set is a semi-join filter, so rounds
  // get CHEAPER as peeling proceeds. The classic iterative-refinement plan
  // (PageRank's loop with a filter instead of a sum).
  val graphKcore: (QFn, String) = (
    (s, dir) => {
      val edges = knnEdges(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
      val bi = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // (u,v) u≠v both directions, distinct by construction
      var alive = emb(s, dir).select(col("vec_id").as("node"))
      var deg: org.apache.spark.sql.DataFrame = null
      (1 to 2).foreach { _ =>
        val prev = deg
        deg = bi
          .join(alive.select(col("node").as("au")), col("u") === col("au"))
          .join(alive.select(col("node").as("av")), col("v") === col("av"))
          .groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 4)
          .transform(graft.util.Checkpoints.ownedCheckpoint)
        // round R's survivors are materialized — round R−1's checkpoint
        // (its input) is superseded; release instead of pinning (r11 #2)
        if (prev != null) graft.util.Checkpoints.release(prev)
        alive = deg.select(col("u").as("node"))
      }
      // the result is a projection off the final round's checkpoint only
      graft.util.Checkpoints.release(bi)
      deg.select(col("u").as("vec_id"), col("deg"))
    },
    s"""$knnEdgesCtes,
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM knn),
       |bi AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |a1 AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM bi
       |       GROUP BY 1 HAVING count(*) >= 4),
       |a2 AS (SELECT bi.u, CAST(count(*) AS BIGINT) AS deg FROM bi
       |       JOIN a1 x ON bi.u = x.u JOIN a1 y ON bi.v = y.u
       |       GROUP BY 1 HAVING count(*) >= 4)
       |SELECT u AS vec_id, deg FROM a2""".stripMargin)

  // Synchronous label propagation (2 rounds) over the undirected k-NN
  // graph — the standard community-assignment primitive a near-dup
  // pipeline uses to NAME clusters without computing full connected
  // components (LPA converges locally; components needs global
  // transitivity). Fixed-round semantics like graphKcore: a fixed R is
  // reproducible at any scale where run-to-fixpoint is data-dependent.
  // Each node starts as its own label; per round every node adopts its
  // neighborhood's PLURALITY label with the deterministic tie-break
  // (highest count, then smallest label) — min(struct(-cnt, label)) here,
  // ORDER BY cnt DESC, label in the oracle: the same total order, so
  // results hash-match. Scale shape: per round ONE hash join against the
  // checkpointed bidirectional edge frame + two partial-aggregable
  // aggregates ((node, label) count, then per-node argmax via
  // min(struct)); state is one (node, label) row per node — the Pregel
  // LPA superstep as a dataframe, no driver-side structure. knn forces
  // out-degree k on every node, so every node has neighbors and the
  // update is total.
  val graphLabelProp: (QFn, String) = (
    (s, dir) => {
      val e0 = knnEdges(s, dir).select(col("src"), col("dst"))
      val bi = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().transform(graft.util.Checkpoints.ownedCheckpoint)
      var lab = emb(s, dir)
        .select(col("vec_id").as("node"), col("vec_id").as("label"))
      (1 to 2).zipWithIndex.foreach { case (_, i) =>
        val prev = lab
        lab = bi.join(lab, col("dst") === col("node"))
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("src"))
          .agg(graft.functions.MinMaxOrd
            .minOrd(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
          .select(col("src").as("node"), col("m.l").as("label"))
          .transform(graft.util.Checkpoints.ownedCheckpoint)
        // superstep R is materialized — release R−1's checkpoint (round 0
        // is a plain projection over the parquet scan: nothing to release)
        if (i > 0) graft.util.Checkpoints.release(prev)
      }
      // the result reads only the final superstep's checkpoint
      graft.util.Checkpoints.release(bi)
      lab.select(col("node").as("vec_id"), col("label").as("community"))
    },
    s"""$knnEdgesCtes,
       |ed AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM knn UNION ALL SELECT dst, src FROM knn)),
       |l0 AS (SELECT vec_id AS node, vec_id AS label FROM embeddings),
       |c1 AS (SELECT ed.src, l.label, CAST(count(*) AS BIGINT) AS cnt
       |       FROM ed JOIN l0 l ON ed.dst = l.node GROUP BY 1, 2),
       |l1 AS (SELECT src AS node, label FROM (
       |  SELECT src, label, row_number() OVER
       |    (PARTITION BY src ORDER BY cnt DESC, label) AS rn FROM c1)
       |  WHERE rn = 1),
       |c2 AS (SELECT ed.src, l.label, CAST(count(*) AS BIGINT) AS cnt
       |       FROM ed JOIN l1 l ON ed.dst = l.node GROUP BY 1, 2),
       |l2 AS (SELECT src AS node, label FROM (
       |  SELECT src, label, row_number() OVER
       |    (PARTITION BY src ORDER BY cnt DESC, label) AS rn FROM c2)
       |  WHERE rn = 1)
       |SELECT node AS vec_id, CAST(label AS BIGINT) AS community
       |FROM l2""".stripMargin)

  // Top-3 characteristic terms per document by df-damped term frequency
  // (score = tf·1e6 div df — the integer-exact relevance ordering; a float
  // idf log would rank near-identically but cannot hash-match across
  // engines). Scale shape: ONE corpus scan builds the (doc, term, tf)
  // frame, which is checkpointed — it is both sides' basis (df is a term
  // aggregate OVER it, and the score join reads it again), and at corpus
  // scale materializing the tf matrix beats tokenizing the raw text twice;
  // per-doc top-3 is the string-keyed heap aggregate — k rows per doc
  // cross the shuffle, nothing sorts a doc's full vocabulary.
  val textTopTerms: (QFn, String) = (
    (s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokensCol(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .transform(graft.util.Checkpoints.ownedCheckpoint)
      val dfq = tf.groupBy(col("w").as("dw")).agg(count(lit(1)).as("df"))
      tf.join(dfq, col("w") === col("dw"))
        .select(col("doc_id"), col("w"), expr("tf * 1000000 div df").as("score_e6"))
        .groupBy(col("doc_id"))
        .agg(graft.functions.TopKByScore
          .topKStr(col("score_e6").cast("double"), col("w"), 3).as("top"))
        .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("doc_id"), col("t.id").as("term"),
          col("t.score").cast("long").as("score_e6"),
          (col("pos") + 1).cast("long").as("rank"))
    },
    s"""$toksCte, tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY 1, 2),
       |df AS (SELECT w AS dw, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, w AS term,
       |         CAST(tf * 1000000 // df AS BIGINT) AS score_e6
       |       FROM tf JOIN df ON dw = w)
       |SELECT doc_id, term, score_e6, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score_e6 DESC, term) AS BIGINT) AS rank
       |  FROM sc)
       |WHERE rank <= 3""".stripMargin)

  // Near-dup IMAGE detection by perceptual-hash banding — the multimodal
  // twin of MinHash LSH: the decoded raster's aHash (real pixel math, same
  // kernel as mm_ahash) splits into 4 disjoint bit-bands sized to the
  // raster (bw = ceil(w·h/4)); by pigeonhole any pair within Hamming
  // distance ≤ 3 shares at least one identical band, so band-equality
  // equi-joins generate a candidate set that PROVABLY contains every
  // near-dup pair, and the exact popcount verify runs on candidates only —
  // never all image pairs. One checkpointed hash frame feeds both join
  // sides; the oracle re-derives every hash bit from the raw bytes and
  // runs the same band join.
  val mmDedupPhash: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val w = lit(4) + col("doc_id") % 4
      val h = lit(3) + col("doc_id") % 3
      val media = d.select(col("doc_id"),
          concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
            lit("\n255\n"),
            rpad(col("text"), (w * h * 3).cast("int"), col("text")))
            .cast("binary").as("media"))
        .as[graft.multimodal.MediaRecord]
      val hs = graft.multimodal.Multimodal.ahashPpm(media).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("ahash"))
        .transform(graft.util.Checkpoints.ownedCheckpoint) // both band-join sides read this frame
      val banded = hs
        .withColumn("bw", expr("cast((width * height + 3) div 4 as int)"))
        .select(col("doc_id"), col("width"), col("height"), col("ahash"),
          explode(expr("transform(sequence(0, 3), b -> named_struct(" +
            "'band', b, 'bv', shiftright(ahash, cast(b * bw as int)) & " +
            "(shiftleft(cast(1 as bigint), bw) - 1)))")).as("bb"))
        .select(col("doc_id"), col("width"), col("height"), col("ahash"),
          col("bb.band").as("band"), col("bb.bv").as("bv"))
      banded.as("a").join(banded.as("b"),
          col("a.width") === col("b.width") &&
            col("a.height") === col("b.height") &&
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.width").as("width"), col("a.height").as("height"),
          col("a.ahash").as("ha"), col("b.ahash").as("hb"))
        .distinct()
        .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("width"), col("height"),
          col("hamming"))
    },
    """WITH g AS (
      |  SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
      |    rpad(text, CAST((4 + doc_id % 4) * (3 + doc_id % 3) * 3 AS INTEGER),
      |         text) AS px
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w, h, t.p AS p,
      |    ascii(substring(px, CAST(t.p * 3 + 1 AS INTEGER), 1))
      |      + ascii(substring(px, CAST(t.p * 3 + 2 AS INTEGER), 1))
      |      + ascii(substring(px, CAST(t.p * 3 + 3 AS INTEGER), 1)) AS lum
      |  FROM g, unnest(generate_series(0, CAST(w * h - 1 AS INTEGER))) AS t(p)),
      |s AS (SELECT doc_id, sum(lum) AS tot FROM b GROUP BY doc_id),
      |hsh AS (
      |  SELECT b.doc_id, b.w, b.h,
      |    CAST(sum(CASE WHEN b.lum * (b.w * b.h) > s.tot
      |        THEN (CAST(1 AS BIGINT) << b.p) ELSE 0 END) AS BIGINT) AS ahash
      |  FROM b JOIN s ON b.doc_id = s.doc_id GROUP BY 1, 2, 3),
      |banded AS (
      |  SELECT doc_id, w, h, ahash, t.b AS band,
      |    (ahash >> CAST(t.b * ((w * h + 3) // 4) AS INTEGER))
      |      & ((CAST(1 AS BIGINT) << CAST((w * h + 3) // 4 AS INTEGER)) - 1) AS bv
      |  FROM hsh, unnest(generate_series(0, 3)) AS t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.w AS w, a.h AS h, a.ahash AS ha, b.ahash AS hb
      |  FROM banded a JOIN banded b
      |    ON a.w = b.w AND a.h = b.h AND a.band = b.band AND a.bv = b.bv
      |      AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(w AS BIGINT) AS width,
      |  CAST(h AS BIGINT) AS height,
      |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin)

  // Recall evaluation of the LSH candidate generator — the measurement a
  // production dedup pipeline keeps next to the pipeline itself, shaped
  // like every ANN recall eval (sim_ann_recall): a deterministic QUERY
  // SAMPLE (doc_id % 5 = 0, the labeled-sample knob) gets its TRUE
  // near-dup neighbors computed exactly against the WHOLE corpus — work
  // bounded by |slice| × corpus, never corpus² — with truth defined by
  // integer cross-multiplication (3·common ≥ |A|+|B| ⇔ J ≥ 0.5, no float).
  // Recall = share of truth pairs the banded MinHash candidates caught, in
  // exact per-million. The direction guard keeps a both-in-slice pair from
  // double-counting its shingle overlap.
  //
  // Cost bound (the r8 perf-weak fix): the exact-truth join's row count is
  // Σ_s df_slice(s)·df(s) over shingles s — document frequency
  // squared-ish, which exact-dup replication inflates quadratically (the
  // 10× probe ran 97 s vs ~2 s at gate scale). The documented
  // STOP-SHINGLE DF-CAP is now enforced on BOTH engines: truth is defined
  // over the capped shingle universe (shingles with corpus df ≤ 32 —
  // n_common AND the |A|/|B| sizes both count capped shingles only, the
  // standard stop-word-filtered Jaccard), which bounds the join at
  // 32 · |slice occurrences| — LINEAR in the corpus. 32 is inert at every
  // gate scale (max fixture df: 7 at sf0.01, 25 at sf0.1 — gate results
  // are bit-unchanged) and binds as soon as replication inflates df (at
  // the 10× exact-dup rung a first cut of 128 barely bound — df = 10
  // × df_orig ≈ 10–70 stayed under it and the rung still ran ~quadratic,
  // 40 s; at 32 the rung is cap-bounded). The trade, stated: truth
  // coverage shrinks to pairs sharing at least one sub-cap shingle — on
  // a corpus where every doc is a 100-way exact dup the capped eval
  // degenerates toward empty truth, which is the correct semantics for a
  // stop-word-filtered measure of that corpus, and the oracle applies
  // the identical cap either way.
  val dedupLshRecall: (QFn, String) = (
    (s, dir) => {
      val sh0 = shingles(s, dir)
      val keptS = sh0.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 32).select(col("s"))
      // checkpointed: the capped frame feeds THREE consumers (slice side,
      // candidate side, sizes) — without this the df aggregate + join
      // re-execute per consumer (measured +0.9 s at gate scale)
      val sh = sh0.join(keptS, Seq("s")).transform(graft.util.Checkpoints.ownedCheckpoint)
      val sa = sh.filter(col("doc_id") % 5 === 0)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      // Bloom pre-filter on the candidate side of this self-join: MEASURED
      // NEGATIVE and reverted (r20, guide §3.2 / r19 VERDICT #5). A bloom
      // over the slice's shingles (4M items, 3% fpp, udf mightContain on
      // the sb side) read 2.201 → 2.622 s at min-of-5 — the build job +
      // per-row UDF cost more than the saved shuffle at bench scale, where
      // the df ≤ 32 cap already bounds the join. Plan kept at
      // plans/r20/dedup_lsh_recall_bloom_rejected.txt. At 100 TB Spark's
      // own runtime bloom injection (applicationSideScanSizeThreshold
      // 10 GB) is the mechanism that would fire instead.
      val truth = sa.as("sa").join(sh.as("sb"),
          col("sa.s") === col("sb.s") &&
            (col("sa.doc_id") < col("sb.doc_id") ||
              (col("sa.doc_id") > col("sb.doc_id") &&
                col("sb.doc_id") % 5 =!= 0)))
        .groupBy(least(col("sa.doc_id"), col("sb.doc_id")).as("doc_a"),
          greatest(col("sa.doc_id"), col("sb.doc_id")).as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(sizes.as("za"), col("za.doc_id") === col("doc_a"))
        .join(sizes.as("zb"), col("zb.doc_id") === col("doc_b"))
        .filter(col("n_common") * 3 >= col("za.n") + col("zb.n"))
        .select(col("doc_a"), col("doc_b"))
      val caught = truth.join(lshCandidates(s, dir), Seq("doc_a", "doc_b"),
        "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
        .select(col("n_truth"), col("n_caught"),
          expr("n_caught * 1000000 div greatest(n_truth, 1)").as("recall_pm"))
    },
    s"""$toksCte, $shCte, $sigCte, $bandsCte,
       |dfc AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 32),
       |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc ON sh.s = dfc.s),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |          FROM shc GROUP BY 1),
       |truth AS (
       |  SELECT m.doc_a, m.doc_b
       |  FROM (SELECT least(a.doc_id, b.doc_id) AS doc_a,
       |          greatest(a.doc_id, b.doc_id) AS doc_b,
       |          CAST(count(*) AS BIGINT) AS n_common
       |        FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id % 5 = 0
       |          AND (a.doc_id < b.doc_id
       |            OR (a.doc_id > b.doc_id AND b.doc_id % 5 <> 0))
       |        GROUP BY 1, 2) m
       |  JOIN sizes za ON za.doc_id = m.doc_a
       |  JOIN sizes zb ON zb.doc_id = m.doc_b
       |  WHERE m.n_common * 3 >= za.n + zb.n),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |caught AS (SELECT t.* FROM truth t
       |           WHERE EXISTS (SELECT 1 FROM cand c
       |                         WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_caught FROM caught)
       |SELECT n_truth, n_caught,
       |  CAST(n_caught * 1000000 // greatest(n_truth, 1) AS BIGINT) AS recall_pm
       |FROM nt CROSS JOIN nc""".stripMargin)

  // REAL audio-modality features: each doc carries an 8-bit PCM clip
  // ("PA8" header + sample bytes, the fixture's honest stand-in for a WAV
  // payload — see Multimodal.pcm8Stats for the bias note) and the kernel
  // computes exact-integer loudness/activity stats — peak, Σ|a|, energy,
  // zero crossings — in ONE linear partition-wise pass, the filter basis a
  // speech/music pipeline runs before any expensive model. The oracle
  // re-derives every number from the raw bytes (ascii-probe per sample,
  // lag window for the sign flips).
  val mmAudioStats: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val n = lit(100) + col("doc_id") % 50
      val media = d.select(col("doc_id"),
          concat(lit("PA8\n"), n.cast("string"), lit("\n77\n"),
            rpad(col("text"), n.cast("int"), col("text")))
            .cast("binary").as("media"))
        .as[graft.multimodal.MediaRecord]
      graft.multimodal.Multimodal.pcm8Stats(media).toDF()
    },
    """WITH g AS (
      |  SELECT doc_id, 100 + doc_id % 50 AS n,
      |    rpad(text, CAST(100 + doc_id % 50 AS INTEGER), text) AS px
      |  FROM documents),
      |a AS (
      |  SELECT doc_id, n, t.p AS p,
      |    ascii(substring(px, CAST(t.p AS INTEGER), 1)) - 77 AS amp
      |  FROM g, unnest(generate_series(1, CAST(n AS INTEGER))) AS t(p)),
      |l AS (
      |  SELECT doc_id, n, amp,
      |    lag(amp) OVER (PARTITION BY doc_id ORDER BY p) AS prev
      |  FROM a)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(max(abs(amp)) AS BIGINT) AS peak,
      |  CAST(sum(abs(amp)) AS BIGINT) AS sum_abs,
      |  CAST(sum(abs(amp)) * 10000 // n AS BIGINT) AS mean_abs_e4,
      |  CAST(sum(amp * amp) AS BIGINT) AS energy,
      |  CAST(sum(CASE WHEN prev * amp < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS zero_crossings
      |FROM l GROUP BY doc_id, n""".stripMargin)

  // REAL audio CONTAINER codec (r9): the same loudness/activity stats,
  // but the clip is a genuine RIFF/WAVE file — encoded AND decoded with
  // the JDK's own javax.sound codec (java.desktop, headless; no external
  // library), u8 mono PCM at the standard 128 silence point. Samples
  // alternate text bytes with +128-shifted text bytes so amplitudes
  // straddle the bias and zero crossings are real. PCM is lossless, so
  // the oracle's raw-pattern reconstruction must match hash-exactly
  // through the real container round trip — the audio twin of
  // mm_decode_png's contract. CodecSpec pins the WAV round-trip identity
  // and the quarantine paths.
  val mmAudioWav: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val media = d.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val n = (100 + id % 50).toInt
            val t = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
            val samples = new Array[Byte](n)
            var k = 0
            while (k < n) {
              samples(k) = (((t(k % t.length) & 0x7F) + (k % 2) * 128) & 0xFF).toByte
              k += 1
            }
            graft.multimodal.MediaRecord(id,
              graft.multimodal.Multimodal.encodeWavU8(samples))
          }
        }
      graft.multimodal.Multimodal.wavStats(media).toDF()
    },
    """WITH g AS (
      |  SELECT doc_id, 100 + doc_id % 50 AS n,
      |    rpad(text, CAST(100 + doc_id % 50 AS INTEGER), text) AS px
      |  FROM documents),
      |a AS (
      |  SELECT doc_id, n, t.k AS k,
      |    ascii(substring(px, CAST(t.k + 1 AS INTEGER), 1))
      |      + (t.k % 2) * 128 - 128 AS amp
      |  FROM g, unnest(generate_series(0, CAST(n - 1 AS INTEGER))) AS t(k)),
      |l AS (
      |  SELECT doc_id, n, amp,
      |    lag(amp) OVER (PARTITION BY doc_id ORDER BY k) AS prev
      |  FROM a)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(max(abs(amp)) AS BIGINT) AS peak,
      |  CAST(sum(abs(amp)) AS BIGINT) AS sum_abs,
      |  CAST(sum(abs(amp)) * 10000 // n AS BIGINT) AS mean_abs_e4,
      |  CAST(sum(amp * amp) AS BIGINT) AS energy,
      |  CAST(sum(CASE WHEN prev * amp < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS zero_crossings
      |FROM l GROUP BY doc_id, n""".stripMargin)

  // REAL video-stream path (r9): each doc carries an MJPEG stream — a
  // genuine video format that IS concatenated real JPEG frames (3–6 per
  // doc, per-frame dims varying with the frame index) — demuxed on the
  // EOI marker (correct, not heuristic: JPEG byte-stuffing keeps FF D9
  // out of entropy data), every 2nd frame decoded through the real
  // ImageIO codec. Geometry is exactly preserved by JPEG, so the
  // per-sampled-frame dims are oracle-exact; pixel fidelity is the same
  // CodecSpec-gated contract as mm_decode_jpeg. The plan decodes ONLY
  // sampled frames — the decode-what-you-sample shape a 100 TB video
  // pipeline runs ahead of any encoder.
  val mmVideoMjpeg: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val media = graft.util.ScanFanout
        .fan(d.select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val nFrames = (3 + id % 4).toInt
            val bos = new java.io.ByteArrayOutputStream()
            var f = 0
            while (f < nFrames) {
              val w = (8 * (1 + (id + f) % 4)).toInt
              val h = (6 * (1 + (id + f) % 3)).toInt
              val t = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
              val rgb = new Array[Int](w * h)
              var p = 0
              while (p < rgb.length) {
                def b(i: Int): Int = t((p * 3 + i + f) % t.length) & 0xFF
                rgb(p) = (b(0) << 16) | (b(1) << 8) | b(2)
                p += 1
              }
              bos.write(graft.multimodal.Multimodal.encodeImage(w, h, rgb, "jpeg"))
              f += 1
            }
            graft.multimodal.MediaRecord(id, bos.toByteArray)
          }
        }
      graft.multimodal.Multimodal.sampleMjpegFrames(media, stride = 2).toDF()
    },
    """WITH g AS (SELECT doc_id, 3 + doc_id % 4 AS n_frames FROM documents),
      |f AS (
      |  SELECT doc_id, t.f AS frame_idx
      |  FROM g, unnest(generate_series(0, CAST(n_frames - 1 AS INTEGER), 2))
      |    AS t(f))
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(8 * (1 + (doc_id + frame_idx) % 4) AS BIGINT) AS width,
      |  CAST(6 * (1 + (doc_id + frame_idx) % 3) AS BIGINT) AS height,
      |  CAST(8 * (1 + (doc_id + frame_idx) % 4)
      |    * 6 * (1 + (doc_id + frame_idx) % 3) * 3 AS BIGINT) AS out_bytes
      |FROM f""".stripMargin)

  // LOSSLESS video-stream twin (r10 VERDICT #6): the same demux→decode→
  // kernel chain as mm_video_mjpeg, but the frames are real PNG — demuxed
  // by chunk structure and decoded through the real ImageIO codec — so the
  // per-sampled-frame PIXEL statistics (channel means + aHash), not just
  // geometry, are hash-exact against DuckDB's reconstruction from the raw
  // pattern. Hash-equality proves the whole video chain: stream framing,
  // the codec's bit format both ways, strided sampling, and the kernels.
  // Same 100 TB plan shape: decode-what-you-sample, all work pre-shuffle.
  val mmVideoStream: (QFn, String) = (
    (s, dir) => {
      val d = docs(s, dir)
      import d.sparkSession.implicits._
      val media = graft.util.ScanFanout
        .fan(d.select(col("doc_id"), col("text"))).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val nFrames = (3 + id % 4).toInt
            val bos = new java.io.ByteArrayOutputStream()
            var f = 0
            while (f < nFrames) {
              val w = (8 * (1 + (id + f) % 4)).toInt
              val h = (6 * (1 + (id + f) % 3)).toInt
              val t = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
              val rgb = new Array[Int](w * h)
              var p = 0
              while (p < rgb.length) {
                def b(i: Int): Int = t((p * 3 + i + f) % t.length) & 0xFF
                rgb(p) = (b(0) << 16) | (b(1) << 8) | b(2)
                p += 1
              }
              bos.write(graft.multimodal.Multimodal.encodeImage(w, h, rgb, "png"))
              f += 1
            }
            graft.multimodal.MediaRecord(id, bos.toByteArray)
          }
        }
      graft.multimodal.Multimodal.samplePngFrames(media, stride = 2).toDF()
    },
    """WITH g AS (
      |  SELECT doc_id, text, length(text) AS len, 3 + doc_id % 4 AS n_frames
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, text, len, t.f AS fi,
      |    CAST(8 * (1 + (doc_id + t.f) % 4) AS INTEGER) AS w,
      |    CAST(6 * (1 + (doc_id + t.f) % 3) AS INTEGER) AS h
      |  FROM g, unnest(generate_series(0, CAST(n_frames - 1 AS INTEGER), 2))
      |    AS t(f)),
      |b AS (
      |  SELECT doc_id, fi, w, h, t.p AS p,
      |    ascii(substring(text, CAST((p * 3 + fi) % len + 1 AS INTEGER), 1)) AS r,
      |    ascii(substring(text, CAST((p * 3 + 1 + fi) % len + 1 AS INTEGER), 1)) AS gg,
      |    ascii(substring(text, CAST((p * 3 + 2 + fi) % len + 1 AS INTEGER), 1)) AS bb
      |  FROM fr, unnest(generate_series(0, CAST(w * h - 1 AS INTEGER))) AS t(p)),
      |s AS (SELECT doc_id, fi, sum(r + gg + bb) AS tot FROM b GROUP BY doc_id, fi)
      |SELECT b.doc_id, CAST(b.fi AS BIGINT) AS frame_idx,
      |  CAST(b.w AS BIGINT) AS width, CAST(b.h AS BIGINT) AS height,
      |  CAST(sum(r) * 10000 // (b.w * b.h) AS BIGINT) AS mean_r_e4,
      |  CAST(sum(gg) * 10000 // (b.w * b.h) AS BIGINT) AS mean_g_e4,
      |  CAST(sum(bb) * 10000 // (b.w * b.h) AS BIGINT) AS mean_b_e4,
      |  CAST(sum(CASE WHEN b.p < least(b.w * b.h, 63)
      |      AND (r + gg + bb) * (b.w * b.h) > s.tot
      |      THEN (CAST(1 AS BIGINT) << CAST(b.p AS INTEGER)) ELSE 0 END)
      |    AS BIGINT) AS ahash
      |FROM b JOIN s ON b.doc_id = s.doc_id AND b.fi = s.fi
      |GROUP BY b.doc_id, b.fi, b.w, b.h""".stripMargin)

  // Matryoshka (MRL) prefix-energy report: how much of each embedding's
  // energy the 16- and 32-dim PREFIXES retain — the measurement that
  // decides how far a matryoshka-trained embedding column can be truncated
  // for cheap first-stage retrieval. Pure shuffle-free projection (three
  // sequential-fold sums per row, scan speed); ratios rounded to e4 like
  // every float-derived score in the suite (the sum itself is the same
  // left fold on both engines at these lengths).
  val embMatryoshkaPrefix: (QFn, String) = (
    (s, dir) => {
      def sq(n: Int) = expr(
        s"aggregate(slice(embedding, 1, $n), 0D, (a, x) -> a + double(x) * double(x))")
      emb(s, dir).select(col("vec_id"),
        round(sq(16) / sq(64), 4).as("energy_16_r4"),
        round(sq(32) / sq(64), 4).as("energy_32_r4"))
    },
    """SELECT vec_id,
      |  round(list_sum(list_transform(embedding[1:16], x -> x::DOUBLE * x::DOUBLE))
      |    / list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), 4)
      |    AS energy_16_r4,
      |  round(list_sum(list_transform(embedding[1:32], x -> x::DOUBLE * x::DOUBLE))
      |    / list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), 4)
      |    AS energy_32_r4
      |FROM embeddings""".stripMargin)

  // Near-dup cluster-size distribution — the one-page report every dedup
  // run ships (how much of the corpus sits in 2-clusters vs mega-clusters
  // decides the dedup policy). Components label frame → size per cluster →
  // histogram by size; all aggregates partial-aggregable, output bounded
  // by the largest cluster size, never corpus size.
  val dedupClusterStats: (QFn, String) = (
    (s, dir) => {
      val comp = graft.dedup.Components
        .connected(jacPairs(s, dir))
      comp.groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("sz")).as("n_docs"))
    },
    dedupComponents._2.replace(
      """SELECT node AS doc_id, CAST(min(seed) AS BIGINT) AS component
        |FROM r GROUP BY node""".stripMargin,
      """, comp AS (SELECT node, min(seed) AS component FROM r GROUP BY node),
        |csizes AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
        |           FROM comp GROUP BY component)
        |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(count(*) * sz AS BIGINT) AS n_docs
        |FROM csizes GROUP BY sz""".stripMargin))

  val all: Map[String, (QFn, String)] = Map(
    "emb_matryoshka_prefix" -> embMatryoshkaPrefix,
    "dedup_cluster_stats" -> dedupClusterStats,
    "mm_audio_stats" -> mmAudioStats,
    "mm_audio_wav" -> mmAudioWav,
    "mm_video_mjpeg" -> mmVideoMjpeg,
    "mm_video_stream" -> mmVideoStream,
    "mm_dedup_phash" -> mmDedupPhash,
    "dedup_lsh_recall" -> dedupLshRecall,
    "graph_pagerank" -> graphPagerank,
    "graph_triangles" -> graphTriangles,
    "graph_bfs_levels" -> graphBfsLevels,
    "graph_kcore" -> graphKcore,
    "graph_label_propagation" -> graphLabelProp,
    "graph_jaccard_suggest" -> graphJaccardSuggest,
    "pipeline_epoch_order" -> pipelineEpochOrder,
    "mm_scene_cuts" -> mmSceneCuts,
    "graph_modularity" -> graphModularity,
    "text_collocations" -> textCollocations,
    "emb_centroid_shift" -> embCentroidShift,
    "text_top_terms" -> textTopTerms,
    "text_bpe_pairs" -> textBpePairs,
    "text_bpe_train" -> textBpeTrain,
    "text_bpe_encode" -> textBpeEncode,
    "sim_hybrid_search" -> simHybridSearch,
    "cluster_assign" -> clusterAssign,
    "cluster_inertia" -> clusterInertia,
    "pipeline_mix_rebalance" -> pipelineMixRebalance,
    "pipeline_purge_boilerplate" -> pipelinePurgeBoilerplate,
    "pipeline_drift_chi2" -> pipelineDriftChi2,
    "cluster_train_2iter" -> clusterTrain2Iter,
    "emb_quantize" -> embQuantize,
    "emb_pq_codes" -> embPqCodes,
    "sim_pq_adc_topk" -> simPqAdcTopk,
    "sim_ivfpq_topk" -> simIvfPqTopk,
    "sim_ivfpq_rerank" -> simIvfPqRerank,
    "sim_pq_train" -> simPqTrain,
    "sim_ivfpq_trained" -> simIvfPqTrained,
    "sim_pq_codes_trained" -> simPqCodesTrained,
    "sim_ivfpq_recall" -> simIvfPqRecall,
    "sim_ivfpq_rerank_trained" -> simIvfPqRerankTrained,
    "pii_pseudonymize" -> piiPseudonymize,
    "pipeline_sample_mix" -> pipelineSampleMix,
    "pipeline_sample_rate" -> pipelineSampleRate,
    "pipeline_sample_per_group" -> pipelineSamplePerGroup,
    "text_tokens" -> textTokens,
    "text_quality" -> textQuality,
    "text_langid" -> textLangId,
    "text_fingerprint" -> textFingerprint,
    "dedup_exact" -> dedupExact,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_minhash_estimate" -> dedupMinhashEstimate,
    "text_ngram_topk" -> textNgramTopk,
    "text_vocab_stats" -> textVocabStats,
    "text_repetition" -> textRepetition,
    "text_rarity_score" -> textRarityScore,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_containment" -> dedupContainment,
    "dedup_edit_distance" -> dedupEditDistance,
    "dedup_components" -> dedupComponents,
    "dedup_soft_weights" -> dedupSoftWeights,
    "dedup_incremental" -> dedupIncremental,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_components_doubling" -> dedupComponentsDoubling,
    "dedup_semantic" -> dedupSemantic,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "pipeline_clean_corpus" -> pipelineCleanCorpus,
    "pipeline_decontaminate" -> pipelineDecontaminate,
    "pipeline_bloom_decontaminate" -> pipelineBloomDecontaminate,
    "pipeline_dataset_card" -> pipelineDatasetCard,
    "pipeline_dataset_rollup" -> pipelineDatasetRollup,
    "pipeline_grouping_sets" -> pipelineGroupingSets,
    "text_hash_features" -> textHashFeatures,
    "dedup_chunk" -> dedupChunk,
    "sim_topk_bruteforce" -> simTopkBruteforce,
    "sim_topk_agg" -> simTopkAgg,
    "sim_ivf_topk" -> simIvfTopk,
    "sim_lsh_bucket" -> simLshBucket,
    "sim_lsh_ann" -> simLshAnn,
    "sim_ann_recall" -> simAnnRecall,
    "mm_binary_meta" -> mmBinaryMeta,
    "mm_decode_raster" -> mmDecodeRaster,
    "mm_decode_ppm" -> mmDecodePpm,
    "mm_decode_png" -> mmDecodePng,
    "mm_decode_jpeg" -> mmDecodeJpeg,
    "mm_frame_sample" -> mmFrameSample,
    "mm_resize" -> mmResize,
    "mm_resize_plan" -> mmResizePlan,
    "mm_feature_ppm" -> mmFeaturePpm,
    "mm_ahash" -> mmAhash,
    "mm_pipeline_features" -> mmPipelineFeatures,
    "mm_feature_dct" -> mmFeatureDct,
    "mm_sim_dct" -> mmSimDct,
    "mm_sim_recall" -> mmSimRecall,
    "pipeline_pack_sequences" -> pipelinePackSequences,
    "sim_knn_graph" -> simKnnGraph)
}
