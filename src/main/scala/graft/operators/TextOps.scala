package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Text-analysis operators over `documents` — SURVEY §2.8 (L1, L4, L5,
  * L6) plus the training-data extras (quality scoring, BPE-ish token
  * counting, winnowing fingerprints).
  *
  * Everything is exploded/aggregated DataFrame work: shingling is a
  * higher-order `transform` over the split word array (no UDF, stays in
  * codegen), and all counts are exact integers so the DuckDB oracle can
  * reproduce them bit-for-bit. At 100 TB the same plans hold: explode →
  * partial-agg → shuffle on (word|ngram|doc) keys, never a driver loop.
  */
object TextOps {

  /** (doc_id, pos, ngram) for word n-grams via the native codegen
    * generator (graft.api.TextPipeline.ngramRows / functions.WordNGrams). */
  def ngrams(spark: SparkSession, sfDir: String, n: Int): DataFrame =
    graft.api.TextPipeline.ngramRows(
      Tables.documents(spark, sfDir), "doc_id", "text", n)

  /** DuckDB-side n-gram extraction (range join over word positions).
    * The position spine must cover the longest document (fixture max is
    * 99 words); 1024 leaves 10× headroom so a corpus regeneration with
    * longer docs cannot silently truncate the oracle while the Spark
    * side (uncapped ngramsCol) keeps all positions. */
  def ngramSql(n: Int): String = ngramSqlOver("documents", n)

  /** Same, over any table/CTE with (doc_id, text). Word positions come
    * from unnest-zipping each row's own range(len) list — no fixed bound
    * to silently truncate long docs (DuckDB's range TABLE function only
    * takes constants, so the old `range(0, 1024)` form capped docs at
    * 1024 words). */
  def ngramSqlOver(rel: String, n: Int): String =
    "SELECT doc_id, CAST(g AS BIGINT) AS pos, " +
    s"array_to_string(list_slice(words, g + 1, g + $n), ' ') AS ngram FROM " +
    s"(SELECT doc_id, words, unnest(range(len(words) - ${n - 1})) AS g FROM " +
    s"(SELECT doc_id, string_split(text, ' ') AS words FROM $rel) w) z"

  /** L1 — exact dedup proved by construction: the corpus has zero exact
    * duplicate texts, so doubling it and deduplicating on text yields
    * exactly the original doc ids. */
  def l1ExactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.unionByName(docs)
      .dropDuplicates(Seq("text"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** L4 — token statistics per language. */
  def l4TokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_unique_words"),
        (count(lit(1)) / countDistinct(col("doc_id"))).as("avg_tokens_per_doc"))
      .orderBy(col("lang"))

  /** L5 — TF-IDF with smoothing ln((N+1)/(df+1)), top term per doc
    * (ties broken alphabetically). idf is transcendental → 6 dp. */
  def l5TfIdf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val words = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    // round 17 (guide §2.4): tf feeds both the scoring join and the
    // document-frequency table — cut it once (AQE-off: the eager cut is
    // one job) and derive df FROM it: tf already has exactly one row
    // per (doc, word), so grouping tf by word counts distinct docs per
    // word — the old explode+distinct recomputation, exchange for
    // exchange, with one fewer corpus scan and aggregate.
    val tf = graft.Checkpoints.withAqeOff(spark, docWidth(sfDir)) {
      graft.Checkpoints.cut(words.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf")))
    }
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    // df is vocabulary-sized (words, not rows) — broadcastable for any
    // natural-language vocab (~1e6 entries << executor memory). If the
    // term space were n-grams at web scale this hint must come off and
    // the join shuffles on `word`; documented so the 100 TB reader knows
    // the bound is vocab size, not corpus size.
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("word").as("top_word"), col("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-proportional shuffle width for eager text cuts: one
    * partition per ~64 MB of documents parquet, min 2. */
  private[graft] def docWidth(sfDir: String): Int = {
    val bytes = Tables.corpusBytes(sfDir, "documents")
    math.max(2L, bytes / (64L << 20)).toInt
  }

  /** L6 — word 3-gram extraction (feeds the MinHash pipeline). */
  def l6Ngrams(spark: SparkSession, sfDir: String): DataFrame =
    ngrams(spark, sfDir, 3)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("ngram"))
      .orderBy(col("doc_id"), col("pos"))

  /** X4 — document quality scoring: length, lexical diversity, word
    * shape — the heuristics a pretraining filter runs at corpus scale. */
  def x4Quality(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_chars2", length(col("text")).cast("long"))
      .withColumn("ttr",
        size(array_distinct(col("words"))).cast("long") / col("n_words"))
      .withColumn("mean_wlen",
        length(regexp_replace(col("text"), " ", "")).cast("long") / col("n_words"))
      .withColumn("quality", graft.api.TextPipeline.qualityScore(col("text")))
      .select(col("doc_id"), col("n_words"), col("n_chars2"), col("ttr"),
        col("mean_wlen"), col("quality"))
      .orderBy(col("doc_id"))

  /** X5 — BPE-ish token counting: greedy ≤4-char alphanumeric chunks via
    * regex, the cheap proxy for subword token budgets. */
  def x5Tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_tokens", graft.api.TextPipeline.tokenCount(col("text")))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        (col("n_tokens") / col("n_words")).as("tokens_per_word"))
      .orderBy(col("doc_id"))

  /** X6 — winnowing fingerprint: the minimum md5 over 8-gram windows.
    * Docs sharing a fingerprint share an 8-word span → near-dup signal
    * with one tiny value per document (constant state at 100 TB). */
  def x6Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      // a doc shorter than the 8-word window has no fingerprint; drop it
      // like the oracle's GROUP BY over exploded n-grams does (fixture
      // min is 10 words, so this is future-corpus armor, not behavior).
      // Filter on the cheap source predicate, NOT on the computed fp
      // column: Catalyst substitutes the defining expression into a
      // pushed-down filter, which would evaluate the md5-over-8-gram
      // transform twice per row (the round-2 10x regression).
      .filter(size(split(col("text"), " ")) >= 8)
      .select(col("doc_id"),
        graft.api.TextPipeline.winnowingFingerprint(col("text"), 8).as("fp"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l1_exact_dedup" -> (l1ExactDedup _),
    "l4_token_stats" -> (l4TokenStats _),
    "l5_tfidf" -> (l5TfIdf _),
    "l6_ngrams" -> (l6Ngrams _),
    "x4_quality" -> (x4Quality _),
    "x5_tokens" -> (x5Tokens _),
    "x6_fingerprint" -> (x6Fingerprint _))

  val oracles: Map[String, String] = Map(
    "l1_exact_dedup" ->
      ("SELECT MIN(doc_id) AS doc_id FROM " +
       "(SELECT * FROM documents UNION ALL SELECT * FROM documents) t " +
       "GROUP BY text ORDER BY doc_id"),
    "l4_token_stats" ->
      ("SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens, " +
       "COUNT(DISTINCT word) AS n_unique_words, " +
       "COUNT(*) / COUNT(DISTINCT doc_id) AS avg_tokens_per_doc FROM " +
       "(SELECT lang, doc_id, unnest(string_split(text, ' ')) AS word " +
       "FROM documents) t GROUP BY lang ORDER BY lang"),
    "l5_tfidf" ->
      ("WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word " +
       "FROM documents), tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words " +
       "GROUP BY doc_id, word), df AS (SELECT word, COUNT(DISTINCT doc_id) AS df " +
       "FROM words GROUP BY word), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs " +
       "FROM documents), scored AS (SELECT tf.doc_id, tf.word, " +
       "round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf, " +
       "row_number() OVER (PARTITION BY tf.doc_id " +
       "ORDER BY round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) DESC, tf.word ASC) AS rn " +
       "FROM tf JOIN df ON tf.word = df.word CROSS JOIN n) " +
       "SELECT doc_id, word AS top_word, tfidf FROM scored WHERE rn = 1 " +
       "ORDER BY doc_id"),
    "l6_ngrams" ->
      (s"SELECT doc_id, pos, ngram FROM (${ngramSql(3)}) t " +
       "ORDER BY doc_id, pos"),
    "x4_quality" ->
      ("SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words, " +
       "CAST(length(text) AS BIGINT) AS n_chars2, " +
       "len(list_distinct(words)) / len(words) AS ttr, " +
       "length(replace(text, ' ', '')) / len(words) AS mean_wlen, " +
       "round(0.4 * least(len(words) / 50.0, 1.0) + " +
       "0.3 * (len(list_distinct(words)) / len(words)) + " +
       "0.3 * least((length(replace(text, ' ', '')) / len(words)) / 6.0, 1.0), 6) " +
       "AS quality FROM " +
       "(SELECT doc_id, text, string_split(text, ' ') AS words FROM documents) t " +
       "ORDER BY doc_id"),
    "x5_tokens" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, " +
       "CAST(len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS BIGINT) AS n_tokens, " +
       "len(regexp_extract_all(text, '[a-z0-9]{1,4}')) / " +
       "len(string_split(text, ' ')) AS tokens_per_word " +
       "FROM documents ORDER BY doc_id"),
    "x6_fingerprint" ->
      (s"SELECT doc_id, MIN(md5(ngram)) AS fp FROM (${ngramSql(8)}) t " +
       "GROUP BY doc_id ORDER BY doc_id"))
}
