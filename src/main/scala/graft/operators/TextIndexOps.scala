package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.api.{TextPipeline, VocabTokenizer}

/** TEXT-INDEX / LEXICAL NEAR-DUP theme module (round 11 — the ExtrasN
  * naming-debt retirement, VERDICT r10 #7): the shingle/prefix/band
  * index consumers and the lexical corpus models, moved verbatim from
  * Extras4/5/7/8/9/10/15. Everything candidate-generates through the
  * staged cross-process text index (prefix homes, band buckets, winnow
  * fingerprints) — no row ever meets the corpus all-pairs — and the
  * guard rows (x48b/x56/x63b) emit each pipeline's recall loss AS DATA.
  *
  * Rows: x33 winnowing, x40 BPE tokens, x44 BPE train, x48+x48b PPJoin
  * Jaccard, x49 corpus-LM score, x55+x56 incremental Jaccard, x61
  * n-gram novelty, x63+x63b containment join, x64 fuzzy join, x66
  * repeated spans, x107 BM25, x153 phrase search, x157 OOV rate.
  */
object TextIndexOps {

  import Det.{sql => d}

  /** X33 — winnowing substring fingerprints (Schleimer et al. 2003, the
    * MOSS algorithm; the substring-level complement of x22's fixed
    * segments and l2's whole-document MinHash): hash every 8-word
    * shingle, slide a 4-shingle window, keep each window's minimum hash.
    * Winnowing guarantees any shared run of ≥ 11 words (8 + 4 − 1)
    * produces at least one IDENTICAL selected fingerprint in both
    * documents, so substring plagiarism/quotation is detectable from the
    * tiny fingerprint set instead of the full text. Emits per document
    * its selected-fingerprint count and how many OTHER documents share
    * at least one fingerprint.
    *
    * Scale shape: the shingle scan is the codegen'd WordNGrams
    * generator (zero shuffle); the winnow window partitions by doc_id
    * (key cardinality = corpus size — grows with data, never a funnel);
    * the share-count is ONE shuffle keyed by 32-byte fingerprint. The
    * pairwise partner join is HOT-FINGERPRINT GUARDED (the standard
    * winnowing-index treatment, MOSS at scale): per-fp document
    * frequency is computed first, fingerprints shared by more than
    * [[WinnowHotFpThreshold]] documents (boilerplate — headers,
    * licenses, templates) are split off as a reported stop-fingerprint
    * set (each doc's `n_stop_fps`), and only the long tail pair-joins —
    * so the join volume per fingerprint is capped at threshold² instead
    * of quadratic in the hottest bucket. The fp is the md5 STRING so
    * min() agrees lexicographically across engines. */
  val WinnowHotFpThreshold = 64L

  /** Selected winnowing fingerprints (doc_id, fp) for a document frame —
    * 8-word shingles, 4-shingle windows, per-doc distinct. */
  def winnowFps(docs: DataFrame): DataFrame = {
    val grams = graft.api.TextPipeline
      .ngramRows(docs, "doc_id", "text", 8)
      .select(col("doc_id"), col("pos"), md5(col("ngram")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-3, 0)
    grams.withColumn("fp", min(col("h")).over(w))
      .filter(col("pos") >= 3) // first complete 4-shingle window
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** [[x33Winnow]] over a caller-supplied document frame with an
    * explicit hot-fingerprint threshold (the spec layer plants a
    * boilerplate run across hundreds of docs and asserts the pair-join
    * input stays capped). */
  def x33WinnowOver(docs: DataFrame, hotThreshold: Long): DataFrame = {
    // the fingerprint set feeds four branches (doc frequency, the
    // tagged split, per-doc counts); recomputing the codegen'd
    // generator+window per branch is cheaper at bench scale than an
    // eager materialization (measured: localCheckpoint here costs ~0.7 s
    // at sf0.1 vs ~0.1 s of recompute). At cluster scale the fingerprint
    // set is the PERSISTED winnowing index a deployment reuses anyway.
    val fps = winnowFps(docs)
    val dfp = fps.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
    val tagged = fps.join(dfp, "fp")
    val tail = tagged.filter(col("n_docs") <= hotThreshold)
      .select(col("doc_id"), col("fp"))
    val stop = tagged.filter(col("n_docs") > hotThreshold)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_stop_fps"))
    val partners = tail.as("a")
      .join(tail.as("b"), col("a.fp") === col("b.fp") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg(countDistinct(col("b.doc_id")).as("n_partners"))
    val counts = fps.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"))
    docs.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(partners, Seq("doc_id"), "left")
      .join(stop, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"),
        coalesce(col("n_stop_fps"), lit(0L)).as("n_stop_fps"))
      .orderBy(col("doc_id"))
  }

  def x33Winnow(spark: SparkSession, sfDir: String): DataFrame =
    x33WinnowOver(Tables.documents(spark, sfDir), WinnowHotFpThreshold)

  /** X40 — BPE-token accounting through the [[graft.api.Tokenizer]]
    * seam: per-document token counts and packed-window counts in TOKEN
    * space, not word space (the "x21's tokens silently mean words" gap).
    * The tokenizer is a [[VocabTokenizer]] over a PINNED deterministic
    * vocabulary — the corpus' top-64 words by (frequency desc, word asc)
    * — so a vocab word is one token and any other word falls back to its
    * ≤4-char pieces. Because the vocab is data, DuckDB reproduces the
    * exact counts: 1 per vocab word + ceil(len/4) per non-vocab word.
    *
    * Scale shape: the vocab build is one grouped agg + global top-k
    * (TakeOrdered, k rows of driver metadata — in production a persisted
    * artifact); tokenization is the per-partition iterator seam (vocab
    * set dereferenced once per task), zero shuffles; the counts are
    * per-row array math. SF-invariant end to end. */
  def x40BpeTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val vocab = TextPipeline.topVocab(docs, "text", 64)
    val tok = new VocabTokenizer(
      spark.sparkContext.broadcast(vocab.toSet))
    TextPipeline.tokenize(
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          col("text")),
        "text", tok)
      .select(col("doc_id"), col("n_words"),
        size(col("tokens")).cast("long").as("n_tokens"))
      .withColumn("n_chunks",
        ceil(col("n_tokens") / 512.0).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** X44 — BPE TRAINING as a contract row (derived-claim form, the
    * x8/x27 pattern — the learned merge sequence itself is not portably
    * SQL-expressible): [[graft.api.TextPipeline.trainBpe]] learns 16
    * merges over the corpus (one distributed pair-count per merge,
    * bounded by vocabulary not corpus size), the learned
    * [[graft.api.BpeTokenizer]] re-encodes the corpus, and the row
    * emits the exact pre-training token count (= non-space chars, which
    * DuckDB recomputes exactly) plus the verifiable claims: 16 distinct
    * merges learned, and the encoding genuinely compressed the corpus.
    * The full merge-sequence exactness is covered by the spec layer
    * against an independent reference implementation. */
  /** The learned 16-merge table, staged cross-process (round 10): the
    * trainer's distributed word-frequency pass and 16-round merge loop
    * run once per corpus; later processes reload the (rank, lhs, rhs)
    * parquet — exactly the persisted-model artifact a production
    * tokenizer trainer ships. */
  private def bpeMerges16(spark: SparkSession,
      sfDir: String): Seq[(String, String)] = {
    val home = Tables.stagedHome("bpe_merges", sfDir, Seq("documents"), "m16")
    Tables.ensureStaged(home) { tmp =>
      import spark.implicits._
      TextPipeline.trainBpe(Tables.documents(spark, sfDir), "text", 16)
        .zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "lhs", "rhs").coalesce(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    }
    Tables.tune(spark).read.parquet(home.getAbsolutePath)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  def x44BpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val merges = bpeMerges16(spark, sfDir)
    val tok = new graft.api.BpeTokenizer(
      spark.sparkContext.broadcast(merges))
    val after = TextPipeline
      .tokenize(docs.select(col("doc_id"), col("text")), "text", tok)
      .agg(sum(size(col("tokens"))).cast("long").as("n_after"))
    docs.agg(sum(length(regexp_replace(col("text"), " ", "")))
        .cast("long").as("n_start_tokens"))
      .crossJoin(after)
      .select(lit(merges.length.toLong).as("n_merges"),
        col("n_start_tokens"),
        (col("n_after") < col("n_start_tokens")).as("compressed"),
        lit(merges.distinct.length == merges.length).as("merges_distinct"))
  }

  /** X48 — exact all-pairs Jaccard join via prefix filtering
    * ([[TextPipeline.prefixJaccardPairsDetail]]; Chaudhuri et al.
    * ICDE'06 / PPJoin): every document pair with 3-gram-shingle Jaccard
    * strictly above 0.5, found WITHOUT signatures — candidates come only
    * from collisions inside rare-first prefixes, with exact-duplicate
    * sets classed to one representative and hot prefix tokens
    * stop-listed (x41/x47's guard design in token space). Run at t=0.5,
    * BELOW the l2 LSH pipeline's 0.6 operating point, because this is
    * where the exact algorithm earns its keep: b=64/r=2 band recall at
    * J=0.5 is 1-(1-0.25)^64 ≈ 1-1e-8 per pair but degrades fast below
    * it, while the prefix filter's pruning bound is algebraic at every
    * threshold. The oracle recomputes the exhaustive answer, so recall
    * AND precision are hash-checked pair by pair. */
  def x48JaccardJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tune(spark).read
      .parquet(new java.io.File(pfxSelfHome(spark, sfDir), "pairs")
        .getAbsolutePath)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Cross-process home of the x48/x48b self-join prefix-Jaccard
    * artifacts (VERDICT r9 #3 — the PQ/CC staging tier applied to the
    * bench-tail text family): `pairs/` the verified pair table, `stop/`
    * the hot-prefix stop set, built once per (corpus, t=0.5) and
    * atomically published; later processes reload both. */
  private def pfxSelfHome(spark: SparkSession,
      sfDir: String): java.io.File = {
    val home = Tables.stagedHome("pfx_self", sfDir, Seq("documents"), "3g_t05")
    Tables.ensureStaged(home) { tmp =>
      val d = TextPipeline.prefixJaccardPairsDetail(
        Dedup.shingleHashSet(spark, sfDir), 0.5)
      d.pairs.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "pairs").getAbsolutePath)
      d.stopTokens.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "stop").getAbsolutePath)
    }
    home
  }

  /** X49 — corpus-LM quality scoring (the CCNet/KenLM treatment, Wenzek
    * et al. 2020, §4.3, as a two-pass distributed shape): score each
    * document by the mean add-one-smoothed bigram log-probability of its
    * own text under the LANGUAGE MODEL INDUCED BY THE CORPUS ITSELF —
    * ln((c(w1,w2) + 1) / (c(w1) + V)) averaged over the document's
    * bigram occurrences. Repetitive/boilerplate documents score HIGH
    * (their bigrams dominate the corpus counts), incoherent ones score
    * LOW — the standard perplexity-proxy signal used to rank crawl text
    * for training-data selection.
    *
    * Scale shape: pass 1 builds the model — two grouped counts (bigram,
    * unigram contexts) plus one scalar V, each one shuffle over
    * vocabulary-sized frames; pass 2 joins the document's bigram rows to
    * the model on the bigram/context keys (vocabulary tables, NOT the
    * corpus — skew-safe because counts are pre-aggregated) and runs one
    * per-doc average. Nothing is ever collected; the model tables are
    * the only reused state and would persist as index tables on a
    * cluster. Determinism: the per-bigram term is pure IEEE arithmetic
    * on exact counts, identical in both engines; the per-doc mean is
    * rounded to 6 dp (sub-1e-13 summation-order noise, same policy as
    * the cosine family). */
  def x49LmScore(spark: SparkSession, sfDir: String): DataFrame =
    TextPipeline.lmScore(Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** X55 — incremental EXACT Jaccard dedup: the incoming shard
    * (doc_id % 10 = 3) probed against the rest of the corpus through
    * [[TextPipeline.prefixJaccardAgainst]] — completing the incremental
    * family (x38 = LSH text, x46 = embeddings, x55 = exact text). The
    * corpus prefix index is built once and never self-joined; the probe
    * computes its prefixes under the INDEX's rarity order without
    * touching corpus rows. Exhaustive cross-side oracle, so recall and
    * precision are both hash-checked. */
  def x55JaccardIncremental(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tune(spark).read
      .parquet(new java.io.File(pfxIncrHome(spark, sfDir), "pairs")
        .getAbsolutePath)
      .orderBy(col("doc_new"), col("doc_old"))

  /** Cross-process home of the x55/x56 incremental prefix-Jaccard
    * artifacts (probe = doc_id % 10 == 3 vs the rest, t = 0.5):
    * `pairs/` + `stop/`, the [[pfxSelfHome]] pattern. */
  private def pfxIncrHome(spark: SparkSession,
      sfDir: String): java.io.File = {
    val home = Tables.stagedHome("pfx_incr", sfDir, Seq("documents"),
      "3g_t05_m10p3")
    Tables.ensureStaged(home) { tmp =>
      val sh = Dedup.shingleHashSet(spark, sfDir)
      val d = TextPipeline.prefixJaccardAgainstDetail(
        sh.filter(col("doc_id") % 10 === 3),
        sh.filter(col("doc_id") % 10 =!= 3), 0.5)
      d.pairs.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "pairs").getAbsolutePath)
      d.stopTokens.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "stop").getAbsolutePath)
    }
    home
  }

  /** X56 — x55's guard visibility row (ADVICE r6): the corpus-side
    * stop-token set the hot-prefix cap excluded from x55's candidate
    * generation, emitted as data. x55's "recall AND precision both
    * hash-checked" exactness claim holds exactly while this set is
    * EMPTY; on a hotter corpus this row fails FIRST with the count that
    * explains x55's recall loss, instead of x55 failing as a mystery
    * pair-set mismatch. Stop-set membership depends on the xxhash64
    * rarity tie-break, so the SET is not oracle-expressible — but its
    * emptiness at the tested corpora is, as a derived claim. */
  def x56JaccardIncrGuard(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tune(spark).read
      .parquet(new java.io.File(pfxIncrHome(spark, sfDir), "stop")
        .getAbsolutePath)
      .agg(count(lit(1)).as("n_stop_tokens"))
      .select(col("n_stop_tokens"),
        (col("n_stop_tokens") === 0L).as("recall_exact"))

  /** X48B — guard-visibility row for the self-join Jaccard family
    * (VERDICT r7 #3, the x56 pattern on [[x48JaccardJoin]]'s pipeline):
    * the hot-prefix stop set that [[TextPipeline.prefixJaccardPairsDetail]]
    * excludes from candidate generation, emitted as contract data. On
    * the tested corpora it is EMPTY, so x48's exhaustive-recall oracle
    * is in force; on a hotter corpus this row turns cap-induced recall
    * loss into a visible count instead of a mystery hash mismatch. */
  def x48bJaccardGuard(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tune(spark).read
      .parquet(new java.io.File(pfxSelfHome(spark, sfDir), "stop")
        .getAbsolutePath)
      .agg(count(lit(1)).as("n_stop_tokens"))
      .select(col("n_stop_tokens"),
        (col("n_stop_tokens") === 0L).as("recall_exact"))

  /** X61 — n-gram novelty scoring (the contribution signal data
    * selection ranks by: how much of a document is NOT already in the
    * corpus before it): per doc, the fraction of its distinct 3-gram
    * shingles whose FIRST occurrence (minimum doc_id) is this doc.
    * Boilerplate re-posts score ~0, fresh text ~1 — the streaming-order
    * analog dedups an ingest feed by information gain.
    *
    * Scale shape: first-seen is ONE vocabulary-sized aggregate
    * (min doc_id per shingle — the same index table x55 keeps), the
    * join back is token-keyed against that pre-aggregated single row
    * per token (hot shingles cannot blow up the join), and the per-doc
    * roll-up is one grouped agg. The novelty ratio is a single IEEE
    * division on exact counts — identical in both engines, no rounding
    * policy needed. */
  def x61NgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingleHashSet(spark, sfDir)
    val firstSeen = sh.groupBy(col("ng_h"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, "ng_h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_sh"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_sh")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** X63 — exact containment join
    * ([[graft.api.TextPipeline.containmentPairs]], t = 0.8): directed
    * near-superset pairs — the quote/decontamination detector that
    * Jaccard misses (a benchmark doc pasted into a big page has low
    * Jaccard but containment ≈ 1). Candidates come only from
    * rare-first prefix collisions of the CONTAINED side with the
    * hot-token stop cap (the only admissible guards — containment
    * ignores the container's size, so there is no symmetric length
    * filter); exact intersection counts verify. The oracle recomputes
    * every directed pair exhaustively, so recall and precision are
    * both hash-checked. */
  def x63ContainmentJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tune(spark).read
      .parquet(new java.io.File(ctnSelfHome(spark, sfDir), "pairs")
        .getAbsolutePath)
      .orderBy(col("doc_src"), col("doc_sup"))

  /** Cross-process home of the x63/x63b containment artifacts
    * (t = 0.8): `pairs/` + `stop/` — VERDICT r9 #3's staging tier on
    * the same pattern as the x48 self-join family. */
  private def ctnSelfHome(spark: SparkSession,
      sfDir: String): java.io.File = {
    val home = Tables.stagedHome("ctn_self", sfDir, Seq("documents"), "3g_t08")
    Tables.ensureStaged(home) { tmp =>
      val d = graft.api.TextPipeline.containmentPairsDetail(
        Dedup.shingleHashSet(spark, sfDir), 0.8)
      d.pairs.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "pairs").getAbsolutePath)
      d.stopTokens.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "stop").getAbsolutePath)
    }
    home
  }

  /** X63B — guard-visibility row for the containment family (VERDICT
    * r7 #3, the x56 pattern on [[x63ContainmentJoin]]'s pipeline): the
    * hot-token stop set that
    * [[graft.api.TextPipeline.containmentPairsDetail]] excludes from
    * candidate generation. Containment has NO symmetric size filter to
    * fall back on, so a non-empty stop set here directly bounds recall
    * — this row makes that bound a visible contract count. Empty at
    * the tested corpora, so x63's exhaustive oracle is in force. */
  def x63bContainmentGuard(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tune(spark).read
      .parquet(new java.io.File(ctnSelfHome(spark, sfDir), "stop")
        .getAbsolutePath)
      .agg(count(lit(1)).as("n_stop_tokens"))
      .select(col("n_stop_tokens"),
        (col("n_stop_tokens") === 0L).as("recall_exact"))

  /** X64 — fuzzy entity-resolution join with GUARANTEED-RECALL blocking
    * (FastSS deletion neighborhoods, Bocek et al. 2007): a "dirty" feed
    * of customer names (every 10th name with one key-dependent digit
    * deleted — the corruption is itself derived deterministically, so
    * both engines stage identical inputs) matched back to the master
    * list under edit distance ≤ 1.
    *
    * Candidate lemma: lev(a,b) ≤ 1 ⟹ U(a) ∩ U(b) ≠ ∅ where
    * U(x) = {x} ∪ {x minus one char} — equality is trivial, a
    * substitution meets at the both-sides deletion, and a deletion IS
    * an element of the longer side's neighborhood. So the variant
    * equi-join is a complete candidate generator (unlike first-token
    * or soundex blocking, which silently lose recall), and the exact
    * `levenshtein` verify restores precision. Cost: each side explodes
    * to |s|+1 variant rows (19 here) — a bounded, shuffle-friendly
    * blow-up an exhaustive O(n·m) cross join never is. The oracle IS
    * the exhaustive cross join, so recall and precision are both
    * hash-checked. */
  /** The reusable core of x64: all (dirty, clean) pairs within edit
    * distance 1, via the complete 1-deletion-neighborhood candidate
    * generator + exact verify. Input frames carry (key, name) columns
    * named per the arguments. */
  def fuzzyJoinDist1(dirty: DataFrame, clean: DataFrame): DataFrame = {
    def variants(df: DataFrame, nameCol: String): DataFrame =
      df.withColumn("variant", explode(expr(
        s"array_distinct(concat(array($nameCol), " +
          s"transform(sequence(1, length($nameCol)), " +
          s"i -> concat(substr($nameCol, 1, i - 1), substr($nameCol, i + 1)))))")))
    variants(dirty, "dirty_name")
      .join(variants(clean, "clean_name"), "variant")
      .select(col("dirty_key"), col("clean_key"), col("dirty_name"),
        col("clean_name"))
      .distinct()
      // threshold form: the DP abandons a row pair as soon as the
      // distance provably exceeds 1 (returns -1), so verify cost per
      // candidate is O(len) instead of O(len²)
      .withColumn("lev",
        levenshtein(col("dirty_name"), col("clean_name"), 1))
      .filter(col("lev") >= 0)
      .select(col("dirty_key"), col("clean_key"), col("lev"))
  }

  def x64FuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val cust = Tables.customer(s, sfDir)
    val clean = cust.select(col("c_custkey").as("clean_key"),
      col("c_name").as("clean_name"))
    val dirty = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("dirty_key"),
        expr("concat(substr(c_name, 1, 9 + c_custkey % 9), " +
          "substr(c_name, 11 + c_custkey % 9))").as("dirty_name"))
    fuzzyJoinDist1(dirty, clean)
      .orderBy(col("dirty_key"), col("clean_key"))
  }

  /** X66 — repeated-span audit (the memorization-risk report a
    * training-data review reads): the 50 most-shared 8-gram spans
    * across distinct documents, with document and occurrence counts.
    * One vocabulary-keyed aggregate over the shingle stream (identical
    * scale shape to x61's first-seen index — hot spans aggregate, never
    * join-explode), then a distributed top-k (TakeOrderedAndProject)
    * under the total order (n_docs desc, n_occur desc, ngram). */
  def x66RepeatedSpans(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.ngrams(spark, sfDir, 8)
      .groupBy(col("ngram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occur"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occur").desc, col("ngram"))
      .limit(50)

  /** X107 — BM25 ranking (Robertson/Spärck Jones — the scorer behind
    * every production full-text engine, saturating l5's raw TF-IDF):
    * top-10 documents for a 3-term query under k1=1.2, b=0.75.
    * Everything integer/exact until the closed form (tf, df, dl are
    * counts; avgdl one IEEE division; ln at 6-dp rounding — x49's
    * proven cross-engine policy). Scale shape: the posting list (term →
    * doc tf) is ONE vocabulary-keyed aggregate filtered to the query
    * terms BEFORE any join (three terms' postings, not the corpus);
    * doc lengths join by doc; df and constants broadcast; top-k
    * distributed. */
  def x107Bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Seq("spark", "table", "query")
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "tok").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(1.2) + 1.0)) /
          (col("tf") + lit(1.2) *
            (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))))
    // the per-doc total adds AT MOST one contribution per query term in
    // a FIXED term order — a bare SUM of doubles would be
    // partial-aggregation-order-dependent and could flip the 6-dp
    // rounding
    def termSum(t: String) = coalesce(
      sum(when(col("tok") === t, col("contrib"))), lit(0.0))
    scored.groupBy(col("doc_id"))
      .agg(round(termSum("spark") + termSum("table") + termSum("query"), 6)
          .as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  // ---------------------------------------------------------------- x153

  private val PhraseW1 = "hash"

  private val PhraseW2 = "join"

  /** X153 — positional phrase search: the docs matching the exact
    * 2-token phrase "hash join", with per-doc match counts and the
    * first hit position — the positional-inverted-index primitive
    * (token, doc, pos) under every keyword search engine, spelled as a
    * Spark plan instead of a side index.
    *
    * Scale shape: the corpus is pre-filtered by BOTH `contains`
    * predicates — pushable string filters that reach the parquet scan,
    * so tokenization pays only for candidate docs (for a 100 TB corpus
    * with a real index, this stage IS the postings fetch). Candidates
    * posexplode to (doc, pos, tok) rows kept ONLY for the two query
    * tokens — the generator output is filtered before anything
    * shuffles — and adjacency is one equi-join on (doc, pos+1), never
    * a window. Top-20 by match count with id tie-break. */
  def x153PhraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val pre = Tables.documents(spark, sfDir)
      .filter(col("text").contains(PhraseW1) &&
        col("text").contains(PhraseW2))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") === PhraseW1 || col("tok") === PhraseW2)
    val a = pre.filter(col("tok") === PhraseW1)
      .select(col("doc_id"), col("pos"))
    val b = pre.filter(col("tok") === PhraseW2)
      .select(col("doc_id").as("d2"), col("pos").as("p2"))
    a.join(b, a("doc_id") === b("d2") && b("p2") === a("pos") + 1)
      .groupBy(a("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(20)
  }

  // ---------------------------------------------------------------- x157

  private val OovMinFreq = 3L

  /** X157 — vocabulary-coverage / OOV-rate audit: train a bigram
    * vocabulary on the even-doc_id half of the corpus (kept when train
    * frequency ≥ 3 — a threshold, NOT a top-k, so there is no
    * tie-break to disagree on), then measure the out-of-vocabulary
    * bigram rate of the odd-doc_id half PER LANGUAGE — the coverage
    * check run before shipping a tokenizer, where an undertrained
    * vocab shows up as a high OOV rate on exactly the languages the
    * train split under-represents.
    *
    * Scale shape: both halves tokenize with the native codegen n-gram
    * generator; test counts aggregate to the (lang, ngram) domain
    * BEFORE touching the vocab, and the vocab (ngram-domain sized,
    * threshold-pruned) joins broadcast — the corpus-sized frames never
    * shuffle against each other. Integer counts; one closing division
    * rounded 6 dp. */
  def x157OovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    def grams(parity: Int) = graft.api.TextPipeline.ngramRows(
      docs.filter(col("doc_id") % 2 === parity), "doc_id", "text", 2)
    val vocab = grams(0).groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= OovMinFreq)
      .select(col("ngram"))
    val test = grams(1)
      .join(docs.select(col("doc_id").as("td"), col("lang")),
        col("doc_id") === col("td"))
      .groupBy(col("lang"), col("ngram")).agg(count(lit(1)).as("cnt"))
    val flagged = test.join(broadcast(vocab), Seq("ngram"), "left_anti")
      .groupBy(col("lang")).agg(sum(col("cnt")).as("n_oov"))
    test.groupBy(col("lang")).agg(sum(col("cnt")).as("n_bigrams"))
      .join(flagged, Seq("lang"), "left").na.fill(0L, Seq("n_oov"))
      .select(col("lang"), col("n_bigrams"), col("n_oov"),
        round(col("n_oov").cast("double") /
          col("n_bigrams").cast("double"), 6).as("oov_rate"))
      .orderBy(col("lang"))
  }

  private val PhraseSql: String =
    "WITH pre AS MATERIALIZED (SELECT doc_id, " +
    "string_split(text, ' ') AS words FROM documents " +
    s"WHERE text LIKE '%$PhraseW1%' AND text LIKE '%$PhraseW2%'), " +
    "tok AS MATERIALIZED (SELECT doc_id, g AS pos, words[g + 1] AS tok " +
    "FROM (SELECT doc_id, words, unnest(range(len(words))) AS g " +
    "FROM pre) z " +
    s"WHERE words[g + 1] IN ('$PhraseW1', '$PhraseW2')), " +
    "m AS (SELECT a.doc_id, a.pos FROM tok a JOIN tok b " +
    "ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 " +
    s"WHERE a.tok = '$PhraseW1' AND b.tok = '$PhraseW2') " +
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches, " +
    "CAST(MIN(pos) AS BIGINT) AS first_pos FROM m GROUP BY 1 " +
    "ORDER BY n_matches DESC, doc_id LIMIT 20"

  private val OovSql: String = {
    val train = TextOps.ngramSqlOver(
      "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)", 2)
    val test = TextOps.ngramSqlOver(
      "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)", 2)
    s"WITH vocab AS MATERIALIZED (SELECT ngram FROM ($train) tr " +
    s"GROUP BY 1 HAVING COUNT(*) >= $OovMinFreq), " +
    s"test AS MATERIALIZED (SELECT d.lang, te.ngram, COUNT(*) AS cnt " +
    s"FROM ($test) te JOIN documents d ON te.doc_id = d.doc_id " +
    "GROUP BY 1, 2), " +
    "fl AS (SELECT t.lang, SUM(t.cnt) AS n_oov FROM test t " +
    "LEFT JOIN vocab v ON t.ngram = v.ngram WHERE v.ngram IS NULL " +
    "GROUP BY 1) " +
    "SELECT t.lang, CAST(SUM(t.cnt) AS BIGINT) AS n_bigrams, " +
    "CAST(COALESCE(ANY_VALUE(fl.n_oov), 0) AS BIGINT) AS n_oov, " +
    "round(CAST(COALESCE(ANY_VALUE(fl.n_oov), 0) AS BIGINT) / " +
    "CAST(SUM(t.cnt) AS BIGINT), 6) AS oov_rate " +
    "FROM test t LEFT JOIN fl ON t.lang = fl.lang GROUP BY 1 " +
    "ORDER BY t.lang"
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x33_winnow" -> (x33Winnow _),
    "x40_bpe_tokens" -> (x40BpeTokens _),
    "x44_bpe_train" -> (x44BpeTrain _),
    "x48_jaccard_join" -> (x48JaccardJoin _),
    "x49_lm_score" -> (x49LmScore _),
    "x55_jaccard_incremental" -> (x55JaccardIncremental _),
    "x56_jaccard_incr_guard" -> (x56JaccardIncrGuard _),
    "x48b_jaccard_guard" -> (x48bJaccardGuard _),
    "x63_containment_join" -> (x63ContainmentJoin _),
    "x63b_containment_guard" -> (x63bContainmentGuard _),
    "x61_ngram_novelty" -> (x61NgramNovelty _),
    "x64_fuzzy_join" -> (x64FuzzyJoin _),
    "x66_repeated_spans" -> (x66RepeatedSpans _),
    "x107_bm25" -> (x107Bm25 _),
    "x153_phrase_search" -> (x153PhraseSearch _),
    "x157_oov_rate" -> (x157OovRate _))

  val oracles: Map[String, String] = Map(
    "x33_winnow" ->
      ("WITH g AS (SELECT doc_id, pos, md5(ngram) AS h FROM (" +
       TextOps.ngramSql(8) + ") t), " +
       "wmin AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id " +
       "ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp FROM g), " +
       "fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE pos >= 3), " +
       "dfp AS (SELECT fp, COUNT(*) AS n_docs FROM fps GROUP BY fp), " +
       s"tl AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfp USING (fp) " +
       s"WHERE n_docs <= $WinnowHotFpThreshold), " +
       s"st AS (SELECT f.doc_id, COUNT(*) AS n_stop_fps FROM fps f " +
       s"JOIN dfp USING (fp) WHERE n_docs > $WinnowHotFpThreshold " +
       "GROUP BY f.doc_id), " +
       "cnt AS (SELECT doc_id, COUNT(*) AS n_fps FROM fps GROUP BY doc_id), " +
       "pt AS (SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n_partners " +
       "FROM tl a JOIN tl b ON a.fp = b.fp AND a.doc_id <> b.doc_id " +
       "GROUP BY a.doc_id) " +
       "SELECT d.doc_id, COALESCE(cnt.n_fps, 0) AS n_fps, " +
       "COALESCE(pt.n_partners, 0) AS n_partners, " +
       "COALESCE(st.n_stop_fps, 0) AS n_stop_fps " +
       "FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id " +
       "LEFT JOIN pt ON d.doc_id = pt.doc_id " +
       "LEFT JOIN st ON d.doc_id = st.doc_id ORDER BY d.doc_id"),
    // the pinned vocab is recomputed as data (same deterministic
    // tie-break); SUM over ints is HUGEINT in DuckDB — CAST (x21 lesson)
    "x40_bpe_tokens" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word " +
       "FROM documents), " +
       "v AS (SELECT word FROM w GROUP BY word " +
       "ORDER BY COUNT(*) DESC, word ASC LIMIT 64), " +
       "t AS (SELECT doc_id, COUNT(*) AS n_words, " +
       "CAST(SUM(CASE WHEN word IN (SELECT word FROM v) THEN 1 " +
       "ELSE CAST(CEIL(length(word) / 4.0) AS BIGINT) END) AS BIGINT) " +
       "AS n_tokens FROM w GROUP BY doc_id) " +
       "SELECT doc_id, n_words, n_tokens, " +
       "CAST(CEIL(n_tokens / 512.0) AS BIGINT) AS n_chunks " +
       "FROM t ORDER BY doc_id"),
// derived-claim oracle: the exact char-token start count straight
    // from the corpus, the training outcomes as spec-bound booleans
    "x44_bpe_train" ->
      ("SELECT CAST(16 AS BIGINT) AS n_merges, " +
       "CAST(SUM(length(replace(text, ' ', ''))) AS BIGINT) " +
       "AS n_start_tokens, TRUE AS compressed, TRUE AS merges_distinct " +
       "FROM documents"),
    // the exhaustive exact answer — same frame the l2 oracle builds, at
    // the lower threshold the exact algorithm supports
    "x48_jaccard_join" ->
      (s"WITH s AS (SELECT DISTINCT doc_id, ngram FROM (${TextOps.ngramSql(3)}) t), " +
       "n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id), " +
       "i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter " +
       "FROM s a JOIN s b ON a.ngram = b.ngram AND a.doc_id < b.doc_id " +
       "GROUP BY 1, 2) " +
       "SELECT doc_a, doc_b, inter / (na.n_sh + nb.n_sh - inter) AS jaccard " +
       "FROM i JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b " +
       "WHERE inter / (na.n_sh + nb.n_sh - inter) > 0.5 ORDER BY doc_a, doc_b"),
"x49_lm_score" ->
      (s"WITH bg AS (SELECT doc_id, ngram FROM (${TextOps.ngramSql(2)}) t), " +
       s"uni AS (SELECT ngram AS w FROM (${TextOps.ngramSql(1)}) t), " +
       "c2 AS (SELECT ngram, COUNT(*) AS c2 FROM bg GROUP BY 1), " +
       "c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY 1), " +
       "v AS (SELECT COUNT(DISTINCT w) AS v FROM uni) " +
       "SELECT b.doc_id, COUNT(*) AS n_bigrams, " +
       "round(AVG(ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS lp " +
       "FROM bg b JOIN c2 ON b.ngram = c2.ngram " +
       "JOIN c1 ON split_part(b.ngram, ' ', 1) = c1.w " +
       "CROSS JOIN v GROUP BY b.doc_id ORDER BY doc_id"),
// exhaustive cross-side recompute — recall AND precision checked
    "x55_jaccard_incremental" ->
      (s"WITH s AS (SELECT DISTINCT doc_id, ngram FROM (${TextOps.ngramSql(3)}) t), " +
       "n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id), " +
       "i AS (SELECT p.doc_id AS doc_new, c.doc_id AS doc_old, " +
       "COUNT(*) AS inter FROM s p JOIN s c ON p.ngram = c.ngram " +
       "AND p.doc_id % 10 = 3 AND c.doc_id % 10 <> 3 GROUP BY 1, 2) " +
       "SELECT doc_new, doc_old, " +
       "inter / (nn.n_sh + no.n_sh - inter) AS jaccard " +
       "FROM i JOIN n nn ON nn.doc_id = doc_new " +
       "JOIN n no ON no.doc_id = doc_old " +
       "WHERE inter / (nn.n_sh + no.n_sh - inter) > 0.5 " +
       "ORDER BY doc_new, doc_old"),
// derived claim: the hot-prefix stop set is empty at the tested
    // corpora, so x55's exhaustive-recall contract is in force
    "x56_jaccard_incr_guard" ->
      "SELECT CAST(0 AS BIGINT) AS n_stop_tokens, TRUE AS recall_exact",
// same derived claim for the self-join family's stop set
    "x48b_jaccard_guard" ->
      "SELECT CAST(0 AS BIGINT) AS n_stop_tokens, TRUE AS recall_exact",
    "x61_ngram_novelty" ->
      (s"WITH s AS (SELECT DISTINCT doc_id, ngram FROM (${TextOps.ngramSql(3)}) t), " +
       "f AS (SELECT ngram, MIN(doc_id) AS first_doc FROM s GROUP BY 1), " +
       "agg AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh, " +
       "CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) " +
       "AS BIGINT) AS n_novel " +
       "FROM s JOIN f ON s.ngram = f.ngram GROUP BY s.doc_id) " +
       "SELECT doc_id, n_sh, n_novel, " +
       "CAST(n_novel AS DOUBLE) / n_sh AS novelty " +
       "FROM agg ORDER BY doc_id"),
// derived claim: the containment stop set is empty at the tested
    // corpora, so the exhaustive-recall contract below is in force
    "x63b_containment_guard" ->
      "SELECT CAST(0 AS BIGINT) AS n_stop_tokens, TRUE AS recall_exact",
// the exhaustive directed recompute — recall AND precision checked
    "x63_containment_join" ->
      (s"WITH s AS (SELECT DISTINCT doc_id, ngram FROM (${TextOps.ngramSql(3)}) t), " +
       "n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id), " +
       "i AS (SELECT a.doc_id AS doc_src, b.doc_id AS doc_sup, " +
       "COUNT(*) AS inter FROM s a JOIN s b ON a.ngram = b.ngram " +
       "AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
       "SELECT doc_src, doc_sup, inter / ns.n_sh AS containment " +
       "FROM i JOIN n ns ON ns.doc_id = doc_src " +
       "WHERE inter / ns.n_sh > 0.8 ORDER BY doc_src, doc_sup"),
    // the exhaustive recompute: every (dirty, clean) pair's true edit
    // distance — recall of the deletion-neighborhood blocking AND
    // precision of the verify are both hash-checked
    "x64_fuzzy_join" ->
      ("WITH dirty AS (SELECT c_custkey AS dirty_key, " +
       "substr(c_name, 1, 9 + c_custkey % 9) || " +
       "substr(c_name, 11 + c_custkey % 9) AS dirty_name " +
       "FROM customer WHERE c_custkey % 10 = 0) " +
       "SELECT d.dirty_key, c.c_custkey AS clean_key, " +
       "CAST(levenshtein(d.dirty_name, c.c_name) AS INT) AS lev " +
       "FROM dirty d CROSS JOIN customer c " +
       "WHERE levenshtein(d.dirty_name, c.c_name) <= 1 " +
       "ORDER BY dirty_key, clean_key"),
"x66_repeated_spans" ->
      (s"SELECT ngram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
       "CAST(COUNT(*) AS BIGINT) AS n_occur " +
       s"FROM (${TextOps.ngramSql(8)}) t GROUP BY ngram " +
       "HAVING COUNT(DISTINCT doc_id) >= 2 " +
       "ORDER BY n_docs DESC, n_occur DESC, ngram LIMIT 50"),
    // integer tf/df/dl, one avgdl division, ln at 6-dp rounding (x49's
    // proven policy), fixed-order term addition
    "x107_bm25" ->
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
       "FROM documents), " +
       "dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks " +
       "GROUP BY 1), " +
       "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
       "CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl), " +
       "tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf " +
       "FROM toks WHERE tok IN ('spark', 'table', 'query') GROUP BY 1, 2), " +
       "df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf " +
       "GROUP BY 1), " +
       "sc AS (SELECT tf.doc_id, tf.tok, " +
       "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) / " +
       "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS contrib " +
       "FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st) " +
       "SELECT doc_id, round(" +
       "COALESCE(SUM(CASE WHEN tok = 'spark' THEN contrib END), 0.0) + " +
       "COALESCE(SUM(CASE WHEN tok = 'table' THEN contrib END), 0.0) + " +
       "COALESCE(SUM(CASE WHEN tok = 'query' THEN contrib END), 0.0), 6) " +
       "AS bm25, CAST(COUNT(*) AS BIGINT) AS n_terms_hit " +
       "FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"),
    "x153_phrase_search" -> PhraseSql,
"x157_oov_rate" -> OovSql)
}
