package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** SEMANTIC-CURATION theme module (round 11 — the ExtrasN naming-debt
  * retirement, VERDICT r10 #7): the SemDeDup ladder's corpus bindings
  * and oracles, moved verbatim from Extras12/Extras20. Every rung is a
  * cited public method over the shared [[Clustering]] k-means and
  * [[graft.api.VectorPipeline]] banded-pair machinery; the public
  * column-parameterized kernels live in [[graft.api.Curation]] and the
  * contract rows here delegate to them.
  *
  * Rows: x172 SemDeDup, x172b cross-cluster recall guard, x173
  * incremental SemDeDup, x175 D4 pruning, x176 soft dedup, x177 DSIR
  * weights, x178 CCNet perplexity tiers.
  */
object CurationOps {

  import Det.{sql => d}

  /** X172b core: classify verified near-dup pairs against a top-2
    * cluster assignment — the recall guard of the SemDeDup family
    * (VERDICT r10 #1, the x48b/x63b pattern at the semantic tier).
    * `n_straddling` is the loss x172/x173/st26 documentedly accept
    * (pairs whose endpoints land in different clusters never become
    * candidates), now emitted AS DATA instead of scaladoc;
    * `n_recovered_top2` is how many of those a top-2 multi-probe
    * assignment (the standard IVF trick) would bring back in scope.
    * One pair-sized frame joined twice to the corpus-sized assignment
    * — no pair work beyond what x41 already verified. */
  private[operators] def straddleGuardFromPairs(pairs: DataFrame,
      top2: DataFrame): DataFrame = {
    val a = top2.select(col("vid").as("id_a"), col("c1").as("a1"),
      col("c2").as("a2"))
    val b = top2.select(col("vid").as("id_b"), col("c1").as("b1"),
      col("c2").as("b2"))
    val straddle = col("a1") =!= col("b1")
    val recovered = straddle && (col("a1") === col("b2") ||
      col("a2") === col("b1") || col("a2") === col("b2"))
    pairs.join(a, "id_a").join(b, "id_b")
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(!straddle, 1L).otherwise(0L)), lit(0L))
          .as("n_within"),
        coalesce(sum(when(straddle, 1L).otherwise(0L)), lit(0L))
          .as("n_straddling"),
        coalesce(sum(when(recovered, 1L).otherwise(0L)), lit(0L))
          .as("n_recovered_top2"))
  }

  /** Public column-parameterized face of the x172b guard: band the
    * corpus (the x41 machinery), train the same k-means x172 trains,
    * and report total / within-cluster / straddling / top-2-recovered
    * pair counts. */
  def semDedupStraddleGuard(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, threshold: Double,
      numBands: Int = 8, dims: Int = 64): DataFrame =
    straddleGuardFromPairs(
      graft.api.VectorPipeline.bandedCosinePairs(corpus, idCol, vecCol,
        threshold, numBands, dims),
      Clustering.kmeansAssignTop2(corpus, idCol, vecCol, k, iters))

  // ---------------------------------------------------------------- x172

  /** X172 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication as the paper's composition — k-means partitions the
    * embedding corpus ([[kmeansAssignments]], the x134 deterministic
    * trainer at k=8/3 rounds), near-duplicate pairs are then found
    * ONLY within clusters
    * ([[graft.api.VectorPipeline.groupedCosinePairs]]), and a vector
    * drops iff it has a same-cluster near-dup with a smaller id
    * (first-occurrence-wins, the x42 rule). Runs on the x41/x42 clone
    * corpus (planted cos ≈ 0.94 clones) so the row is non-vacuous on
    * this near-orthogonal test corpus.
    *
    * This is the missing rung between x41 (corpus-wide banded dedup)
    * and a 100 TB semantic dedup: pair work is bounded per cluster —
    * each cluster dedups independently, so a 1000-executor run
    * processes clusters in parallel and no pair candidate ever
    * crosses a cluster boundary — at the documented cost that
    * CROSS-CLUSTER near-dups are out of scope (the paper's trade;
    * the spec plants a straddling pair and pins the exclusion).
    * Output is staged cross-process like the rest of the artifact
    * tier. Oracle: the x134 Lloyd CTE chain over the clone corpus +
    * an exhaustive within-cluster pair recompute. */
  def x172SemDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stagedFrame(spark, "semdedup", sfDir, Seq("embeddings"),
        "k8i3_t08") {
      // delegates to the public column-parameterized kernel (round 11)
      graft.api.Curation.semDedup(graft.operators.EmbedOps.cloneCorpus(spark, sfDir),
          "vec_id", "embedding", k = 8, iters = 3, threshold = 0.8)
        .withColumnRenamed("id", "vec_id")
    }.orderBy(col("vec_id"))

  /** The x172 oracle: the [[KmeansSql]] Lloyd chain re-rooted on the
    * x41 clone corpus (v applies the sign-flip term per dimension),
    * then an EXHAUSTIVE within-cluster pair recompute at the x41
    * rounding spelling and the first-wins keep rule. Heavy CTEs are
    * MATERIALIZED (the k-core inlining lesson): v and the chain feed
    * many references, and `pr` must not re-expand the whole Lloyd
    * chain per side. */
  private[operators] val SemDedupChainSql: String = {
    val tA = graft.operators.EmbedOps.cloneDotTerm("a")
    val tB = graft.operators.EmbedOps.cloneDotTerm("b")
    "base AS MATERIALIZED (" + graft.operators.EmbedOps.CloneBaseSql + "), " +
    "v AS MATERIALIZED (SELECT b0.vec_id AS vid, i - 1 AS d, " +
    graft.operators.EmbedOps.cloneDotTerm("b0") + " AS x FROM base b0, range(1, 65) r(i)), " +
    "seeds AS (SELECT vec_id AS svid, CAST(row_number() OVER " +
    "(ORDER BY vec_id) - 1 AS INT) AS code FROM base " +
    "ORDER BY vec_id LIMIT 8), " +
    "c0 AS (SELECT s.code, v.d, v.x AS c FROM seeds s " +
    "JOIN v ON v.vid = s.svid), " +
    Clustering.kmIterSql("c0", 1) + ", " +
    Clustering.kmIterSql("c1", 2) + ", " +
    Clustering.kmIterSql("c2", 3) + ", " +
    "dvc4 AS (SELECT v.vid, c.code, " +
    "SUM(CAST(round(v.x * c.c * 1e12, 0) AS BIGINT)) " +
    "AS dvc FROM v JOIN c3 c ON v.d = c.d GROUP BY v.vid, c.code), " +
    "dcc4 AS (SELECT code, SUM(CAST(round(c * c * 1e12, 0) AS BIGINT)) " +
    "AS dcc FROM c3 GROUP BY code), " +
    "asg4 AS MATERIALIZED (SELECT vid, code FROM (SELECT d.vid, d.code, " +
    "row_number() OVER (PARTITION BY d.vid " +
    "ORDER BY (2 * d.dvc - s.dcc) DESC, d.code) AS rn " +
    "FROM dvc4 d JOIN dcc4 s USING (code)) t WHERE rn = 1), " +
    "bc AS MATERIALIZED (SELECT b0.vec_id, b0.embedding, b0.aug, g.code " +
    "FROM base b0 JOIN asg4 g ON g.vid = b0.vec_id), " +
    "pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b " +
    "FROM bc a, bc b, range(1, 65) r(i) " +
    "WHERE a.code = b.code AND a.vec_id < b.vec_id " +
    "GROUP BY a.vec_id, b.vec_id " +
    s"HAVING round(SUM($tA * $tB), 6) >= 0.8), " +
    "drp AS (SELECT DISTINCT id_b FROM pr)"
  }

  private val SemDedupSql: String =
    "WITH " + SemDedupChainSql + " " +
    "SELECT g.vid AS vec_id, CAST(g.code AS BIGINT) AS cluster, " +
    "(d.id_b IS NULL) AS kept " +
    "FROM asg4 g LEFT JOIN drp d ON d.id_b = g.vid ORDER BY vec_id"

  /** X173 — INCREMENTAL SemDeDup (x172's production ingest face,
    * completing the incremental-dedup family: x38 = LSH text, x55 =
    * exact text, x46 = embedding, x173 = semantic): the clone shard
    * (the x41 re-encoded vectors) arrives against a semantic index
    * trained on the ORIGINAL corpus — k-means centroids predate the
    * shard ([[Clustering.kmeansAssignTrained]]), each probe assigns to
    * its nearest trained centroid in one lattice-argmax pass (no
    * retraining), and banded candidates form ONLY within the probe's
    * assigned cluster against that cluster's corpus index
    * ([[graft.api.VectorPipeline.groupedCosinePairsAgainst]]). Per
    * increment the work is probe-sized, the corpus index is reloaded
    * state, and no candidate crosses a cluster boundary — cross-
    * cluster matches stay out of scope exactly as in x172 (a probe
    * whose nearest centroid differs from its original's cluster is
    * missed, reported nowhere — the paper's trade, spec-pinned).
    * Oracle: the x134 Lloyd chain (trained on embeddings only) + a
    * probe-assignment CTE + exhaustive same-cluster probe × corpus
    * pair recompute. */
  def x173SemDedupIncr(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stagedFrame(spark, "semdedup_incr", sfDir, Seq("embeddings"),
        "k8i3_t08_aug") {
      // delegates to the public column-parameterized kernel (round 11):
      // corpus = the original embeddings, probe = the clone shard
      val all = graft.Checkpoints.cut(graft.operators.EmbedOps.cloneCorpus(spark, sfDir))
      graft.api.Curation.semDedupIncremental(
        all.filter(col("vec_id") < graft.operators.EmbedOps.CloneOffset),
        all.filter(col("vec_id") >= graft.operators.EmbedOps.CloneOffset),
        "vec_id", "embedding", k = 8, iters = 3, threshold = 0.8)
    }.orderBy(col("id_new"), col("id_old"))

  /** The x173 oracle: train chain over embeddings only (the literal
    * [[Clustering.kmIterSql]] rounds — the CTE named `v` is the TRAIN
    * side), assignment of the full clone corpus (va) against the
    * final centroids, then the exhaustive same-cluster probe × corpus
    * pair recompute at the x41 rounding spelling. */
  private[graft] val SemDedupIncrChainSql: String =
    "base AS MATERIALIZED (" + graft.operators.EmbedOps.CloneBaseSql + "), " +
    "v AS MATERIALIZED (SELECT vec_id AS vid, i - 1 AS d, " +
    "CAST(embedding[i] AS DOUBLE) AS x FROM embeddings, " +
    "range(1, 65) r(i)), " +
    "va AS MATERIALIZED (SELECT b0.vec_id AS vid, i - 1 AS d, " +
    graft.operators.EmbedOps.cloneDotTerm("b0") + " AS x FROM base b0, range(1, 65) r(i)), " +
    "seeds AS (SELECT vec_id AS svid, CAST(row_number() OVER " +
    "(ORDER BY vec_id) - 1 AS INT) AS code FROM embeddings " +
    "ORDER BY vec_id LIMIT 8), " +
    "c0 AS (SELECT s.code, v.d, v.x AS c FROM seeds s " +
    "JOIN v ON v.vid = s.svid), " +
    Clustering.kmIterSql("c0", 1) + ", " + Clustering.kmIterSql("c1", 2) +
    ", " + Clustering.kmIterSql("c2", 3) + ", " +
    "dvc4 AS (SELECT v.vid, c.code, " +
    "SUM(CAST(round(v.x * c.c * 1e12, 0) AS BIGINT)) AS dvc " +
    "FROM va v JOIN c3 c ON v.d = c.d GROUP BY v.vid, c.code), " +
    "dcc4 AS (SELECT code, SUM(CAST(round(c * c * 1e12, 0) AS BIGINT)) " +
    "AS dcc FROM c3 GROUP BY code), " +
    "asg4 AS MATERIALIZED (SELECT vid, code FROM (SELECT d.vid, d.code, " +
    "row_number() OVER (PARTITION BY d.vid " +
    "ORDER BY (2 * d.dvc - s.dcc) DESC, d.code) AS rn " +
    "FROM dvc4 d JOIN dcc4 s USING (code)) t WHERE rn = 1), " +
    "bp AS MATERIALIZED (SELECT b0.vec_id, b0.embedding, b0.aug, g.code " +
    "FROM base b0 JOIN asg4 g ON g.vid = b0.vec_id " +
    "WHERE b0.vec_id >= 1000000), " +
    "bcorp AS MATERIALIZED (SELECT b0.vec_id, b0.embedding, b0.aug, " +
    "g.code FROM base b0 JOIN asg4 g ON g.vid = b0.vec_id " +
    "WHERE b0.vec_id < 1000000)"

  /** The st26 oracle (assembled here because the clone-corpus SQL
    * terms are operators-private): survivors of the streaming
    * semantic probe loop == the x173 complement — probes with no
    * same-cluster corpus pair at t = 0.8, NOT EXISTS form. */
  private[graft] val StreamSemDedupSql: String = {
    val tP = graft.operators.EmbedOps.cloneDotTerm("p")
    val tC = graft.operators.EmbedOps.cloneDotTerm("c")
    "WITH " + SemDedupIncrChainSql + ", " +
    "m AS (SELECT p.vec_id AS id_new FROM bp p, bcorp c, " +
    "range(1, 65) r(i) WHERE p.code = c.code " +
    "GROUP BY p.vec_id, c.vec_id " +
    s"HAVING round(SUM($tP * $tC), 6) >= 0.8) " +
    "SELECT b.vec_id FROM bp b WHERE b.vec_id NOT IN " +
    "(SELECT id_new FROM m) ORDER BY vec_id"
  }

  private val SemDedupIncrSql: String = {
    val tP = graft.operators.EmbedOps.cloneDotTerm("p")
    val tC = graft.operators.EmbedOps.cloneDotTerm("c")
    "WITH " + SemDedupIncrChainSql + " " +
    "SELECT p.vec_id AS id_new, c.vec_id AS id_old, " +
    s"round(SUM($tP * $tC), 6) AS sim " +
    "FROM bp p, bcorp c, range(1, 65) r(i) WHERE p.code = c.code " +
    "GROUP BY p.vec_id, c.vec_id " +
    s"HAVING round(SUM($tP * $tC), 6) >= 0.8 " +
    "ORDER BY id_new, id_old"
  }

  /** X175 — D4 data pruning (Tirumala et al. 2023, arXiv:2308.12284):
    * the third rung of the semantic-curation ladder — SemDeDup (x172)
    * removes near-duplicates, then SSL-PROTOTYPE pruning removes the
    * most prototypical survivors (closest to their cluster centroid —
    * the redundant "center mass" that adds least diversity), keeping
    * the diverse tail as training data. Drop fraction 20% per cluster.
    *
    * Scale design: NO per-cluster window over the corpus (a cluster is
    * n/k rows — a funnel at 100 TB). The global prototype rank is
    * DECOMPOSED exactly as x43's quantiles: per-(cluster, d²) counts
    * (one scalable shuffle), a cumulative window over that
    * AGGREGATE-BOUNDED distinct-distance frame, and a tie window only
    * within equal-(cluster, d²) groups (duplicate-distance
    * multiplicity — bounded); rank = c_lt + tie, identical to
    * row_number over (d², vid). Distances are the exact lattice longs
    * from the SAME trained model as x172 (one [[Clustering.kmeansDistances]]
    * pass), so the whole verdict is bitwise deterministic; the
    * keep/drop boundary is floor(0.2·n) with the identical IEEE
    * spelling both engines. Oracle: the factored x172 chain + the
    * same rank arithmetic as a plain window. */
  def x175D4Prune(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stagedFrame(spark, "d4_prune", sfDir, Seq("embeddings"),
        "k8i3_t08_p20") {
      // the rank core is the shared public kernel's
      // ([[graft.api.Curation.d4Rank]], round 11); this binding keeps
      // its cheaper input composition — the STAGED x172 survivors
      // plus one kmeansDistances pass — where the generic
      // [[graft.api.Curation.d4Prune]] recomputes semDedup from the
      // raw frame
      val all = graft.Checkpoints.cut(graft.operators.EmbedOps.cloneCorpus(spark, sfDir))
      val sem = x172SemDedup(spark, sfDir)
      val d2 = Clustering.kmeansDistances(all, "vec_id", "embedding", 8, 3)
        .withColumnRenamed("vid", "id")
      graft.api.Curation.d4Rank(
          d2.join(sem.filter(col("kept"))
            .select(col("vec_id").as("id")), "id"), 0.2)
        .withColumnRenamed("id", "vec_id")
    }.orderBy(col("vec_id"))

  private val D4PruneSql: String =
    "WITH " + SemDedupChainSql + ", " +
    "kept AS (SELECT g.vid, g.code FROM asg4 g LEFT JOIN drp d " +
    "ON d.id_b = g.vid WHERE d.id_b IS NULL), " +
    "dvv AS (SELECT vid, SUM(CAST(round(x * x * 1e12, 0) AS BIGINT)) " +
    "AS dvv FROM v GROUP BY vid), " +
    "kd AS MATERIALIZED (SELECT k.vid, k.code, " +
    "w.dvv - 2 * d.dvc + s.dcc AS d2 FROM kept k " +
    "JOIN dvc4 d ON d.vid = k.vid AND d.code = k.code " +
    "JOIN dcc4 s ON s.code = k.code JOIN dvv w ON w.vid = k.vid), " +
    "nc AS (SELECT code, CAST(FLOOR(0.2 * COUNT(*)) AS BIGINT) " +
    "AS dropn FROM kd GROUP BY code), " +
    "rk AS (SELECT vid, code, row_number() OVER " +
    "(PARTITION BY code ORDER BY d2, vid) AS r FROM kd) " +
    "SELECT r.vid AS vec_id, CAST(r.code AS BIGINT) AS cluster, " +
    "CAST(r.r AS BIGINT) AS proto_rank, (r.r > n.dropn) AS kept_final " +
    "FROM rk r JOIN nc n USING (code) ORDER BY vec_id"

  /** X176 — SOFT dedup (He et al. 2024, arXiv:2407.06654; the
    * DataComp-LM-era alternative to hard removal): instead of dropping
    * near-duplicates, DOWN-WEIGHT them — every document gets sampling
    * weight 1/|its near-dup cluster|, so a 5-way re-post contributes
    * one document's worth of gradient mass in expectation while hard
    * dedup's arbitrary keep-one choice (and its recall cliff) goes
    * away. Clusters are the staged x12 connected components over the
    * verified LSH pair graph (one cross-process CC run already serves
    * x12/x60/x75/x119 — this row rides the same artifact); docs
    * outside the pair graph are singletons at weight 1.
    *
    * Scale shape: one k-row-ish size aggregate over the label table +
    * one left join of the corpus to (label ⋈ size) — no new pair
    * work, no window; the weight column is what a training-data
    * sampler consumes directly (x35's temperature mix applies on top
    * for language balancing). Weight = round(1/size, 6) with the
    * identical IEEE spelling both engines. */
  def x176SoftDedup(spark: SparkSession, sfDir: String): DataFrame =
    // delegates to the public column-parameterized kernel (round 11);
    // labels = the one staged cross-process CC run
    graft.api.Curation.softDedup(
        Tables.documents(Tables.tune(spark), sfDir), "doc_id",
        Dedup.ccLabelsFrame(spark, sfDir), "doc_id", "cluster_rep")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** X177 — DSIR importance weights (Xie et al. 2023,
    * arXiv:2302.03169 "Data Selection for Language Models via
    * Importance Resampling"): score every document by how much more
    * likely its hashed-bigram bag is under the TARGET domain's n-gram
    * model than under the raw corpus model — log w(d) = Σ_occurrences
    * [ln p_tgt(b) − ln p_raw(b)] over the doc's bigram buckets — the
    * standard pretraining-data selection signal (sample ∝ exp of
    * this). Target slice = the doc_id % 97 = 0 eval-domain sample
    * (x17's convention); features = word bigrams hashed onto 4096
    * md5 buckets (the paper's hashed n-gram features, our one shared
    * [[graft.Det.md5Bucket]] spelling); add-one smoothing over the
    * bucket vocabulary exactly as x49's corpus LM.
    *
    * Scale shape: the MODELS are two 4096-row bucket tables (one
    * grouped count each — vocabulary-sized, never corpus-sized) that
    * broadcast; the corpus pays one bigram explode + one grouped
    * per-doc sum. Determinism: each bucket's log-ratio is IEEE ops on
    * exact counts rounded to 10 dp, per-doc sums run EXACTLY in
    * DECIMAL(28,15) over the rounded terms, final round 6 dp — the
    * x111 policy on the x49 precedent (ln agrees across engines on
    * these magnitudes). */
  def x177DsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    // delegates to the public column-parameterized kernel (round 11);
    // target slice = the doc_id % 97 = 0 eval-domain sample (x17's
    // convention), passed as an id frame
    val s = Tables.tune(spark)
    val docs = Tables.documents(s, sfDir)
    graft.api.Curation.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0).select(col("doc_id")),
        "doc_id", buckets = 4096)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** X178 — CCNet perplexity buckets (Wenzek et al. 2020, LREC —
    * §4.4's head/middle/tail split, the curation tiering CommonCrawl
    * pipelines run before mixing): per language, documents are split
    * into terciles of their corpus-LM score (x49's mean bigram
    * log-probability — HIGHER lp ⇔ lower perplexity ⇔ `head`), so a
    * mixing policy can sample head-heavy without a hard quality
    * cutoff. Boundaries at per-language ranks floor(n/3) and
    * floor(2n/3), rank over (lp, doc_id).
    *
    * Scale shape: the score pass is x49's (two vocabulary-keyed model
    * aggregates + one per-doc mean); the tercile rank is the x43/x175
    * DECOMPOSITION — per-(lang, lp) counts, a cumulative window over
    * that aggregate-bounded distinct-score frame, a tie window only
    * within equal-(lang, lp) groups — no per-language corpus window
    * funnel. Oracle: the x49 chain + a plain rank window + the same
    * boundary arithmetic. */
  def x178CcnetBuckets(spark: SparkSession, sfDir: String): DataFrame =
    // delegates to the public column-parameterized kernel (round 11)
    graft.api.Curation.perplexityTiers(
        Tables.documents(Tables.tune(spark), sfDir),
        "doc_id", "text", "lang")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** X172b — CROSS-CLUSTER RECALL GUARD for the SemDeDup family
    * (VERDICT r10 #1: the x48b/x63b guard-row pattern at the semantic
    * tier). x172/x173/st26 accept the paper's trade — near-dup pairs
    * whose endpoints land in different k-means clusters never become
    * candidates — but until this row the loss was scaladoc, invisible
    * at a different k or corpus. The guard classifies x41's VERIFIED
    * ungrouped banded pairs (the staged clone-pair table — zero new
    * pair work) against the SAME k=8/3-round training x172 runs:
    * `n_within` is x172's in-scope pair set, `n_straddling` the
    * documented loss AS DATA, and `n_recovered_top2` how many
    * straddlers a top-2 multi-probe assignment
    * ([[Clustering.kmeansAssignTop2]], the standard IVF trick) would
    * bring back in scope. At 100 TB this is two broadcast-sized joins
    * of the pair table to the assignment — the guard costs nothing
    * beyond the artifacts the ladder already builds. Oracle: the x172
    * Lloyd chain + a rank-2 assignment window + the x41 exhaustive
    * pair recompute. */
  def x172bStraddleGuard(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val corpus = graft.Checkpoints.cut(graft.operators.EmbedOps.cloneCorpus(s, sfDir))
    straddleGuardFromPairs(
      graft.operators.EmbedOps.clonePairs(s, sfDir),
      Clustering.kmeansAssignTop2(corpus, "vec_id", "embedding", 8, 3))
  }


  /** X179 — the COMPOSED curation ladder (VERDICT r11 #5: the x58
    * funnel pattern at the semantic tier): one end-to-end pipeline row
    * chaining every rung the family implements — SemDeDup (x172) →
    * D4 prototype pruning (x175) → soft-dedup weights (x176's CC
    * down-weighting) → DSIR target-domain selection (x177) → CCNet
    * perplexity tier (x178) — emitting per-stage observability
    * (n_rows + effective sampling mass) as one funnel table, the
    * artifact a training-data owner reads before launching a mix.
    *
    * Stages: 0 clone corpus; 1 SemDeDup survivors; 2 D4 survivors;
    * 3 survivors that are real documents (planted clone vectors have
    * no doc row — dropped here by construction); 4 the same docs
    * under soft-dedup mass (Σ 1/|near-dup cluster|); 5 the DSIR
    * selection (log importance weight > 0 — more target-like than
    * raw); 6 the CCNet head tier of that selection.
    *
    * Scale shape: stages 0–2 are counts over the STAGED x172/x175
    * artifacts (no recompute); stages 3–6 are ONE doc-keyed join of
    * the survivor ids to the x176/x177/x178 kernels plus conditional
    * aggregates in a single pass (x53's
    * adding-checks-never-adds-scans discipline). Masses sum in
    * DECIMAL(18,6) over the per-doc 6-dp weights — bitwise
    * deterministic across engines. Oracle: the x172/x175/x176/x177/
    * x178 oracle chains composed as CTEs (tier CTEs renamed to avoid
    * collisions), same funnel arithmetic. */
  def x179CurationLadder(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val s = Tables.tune(spark)
    val docs = Tables.documents(s, sfDir)
    val sem = x172SemDedup(s, sfDir)
    val d4 = x175D4Prune(s, sfDir)
    val e01 = sem.agg(count(lit(1)).as("n0"),
      coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L)).as("n1"))
    val e2 = d4.agg(coalesce(sum(when(col("kept_final"), 1L)
      .otherwise(0L)), lit(0L)).as("n2"))
    val surv = d4.filter(col("kept_final"))
      .select(col("vec_id").as("doc_id"))
    val soft = graft.api.Curation.softDedup(docs, "doc_id",
        Dedup.ccLabelsFrame(s, sfDir), "doc_id", "cluster_rep")
      .select(col("id").as("doc_id"), col("weight"))
    val dsir = graft.api.Curation.dsirWeights(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0).select(col("doc_id")),
        "doc_id", buckets = 4096)
      .select(col("id").as("doc_id"), col("log_weight"))
    val tiers = graft.api.Curation.perplexityTiers(docs, "doc_id",
        "text", "lang")
      .select(col("id").as("doc_id"), col("bucket"))
    val j = docs.select(col("doc_id"))
      .join(surv, "doc_id")
      .join(soft, "doc_id")
      .join(dsir, "doc_id")
      .join(tiers, Seq("doc_id"), "left")
    val dec = col("weight").cast(DecimalType(18, 6))
    val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(28, 6))
    val sel = col("log_weight") > 0
    val head = sel && (col("bucket") === "head")
    val e36 = j.agg(
      count(lit(1)).as("n3"),
      coalesce(sum(dec), zero).cast("double").as("m4"),
      coalesce(sum(when(sel, 1L).otherwise(0L)), lit(0L)).as("n5"),
      coalesce(sum(when(sel, dec)), zero).cast("double").as("m5"),
      coalesce(sum(when(head, 1L).otherwise(0L)), lit(0L)).as("n6"),
      coalesce(sum(when(head, dec)), zero).cast("double").as("m6"))
    e01.crossJoin(e2).crossJoin(e36)
      .select(explode(array(
        struct(lit("0_corpus").as("stage"), col("n0").as("n_rows"),
          col("n0").cast("double").as("eff_mass")),
        struct(lit("1_semdedup").as("stage"), col("n1").as("n_rows"),
          col("n1").cast("double").as("eff_mass")),
        struct(lit("2_d4").as("stage"), col("n2").as("n_rows"),
          col("n2").cast("double").as("eff_mass")),
        struct(lit("3_docs").as("stage"), col("n3").as("n_rows"),
          col("n3").cast("double").as("eff_mass")),
        struct(lit("4_soft").as("stage"), col("n3").as("n_rows"),
          col("m4").as("eff_mass")),
        struct(lit("5_dsir").as("stage"), col("n5").as("n_rows"),
          col("m5").as("eff_mass")),
        struct(lit("6_head").as("stage"), col("n6").as("n_rows"),
          col("m6").as("eff_mass")))).as("kv"))
      .select(col("kv.stage").as("stage"), col("kv.n_rows").as("n_rows"),
        col("kv.eff_mass").as("eff_mass"))
      .orderBy(col("stage"))
  }

  /** The x179 oracle: [[Dedup.ClusterCteSql]] (the recursive CC — the
    * soft-dedup labels) + the x172 chain + the x175 rank tail + the
    * x177 DSIR chain + the x178 tier chain (CTEs renamed tb2/tu1/tv/
    * trk/tnl — the shared `v`/`c1`/`c2`/`rk` names collide with the
    * k-means chain), then the identical funnel arithmetic. */
  private val CurationLadderSql: String = {
    val dsirChain =
      s"g AS (SELECT doc_id, ${graft.Det.sql.md5Bucket("ngram", 3)} " +
      s"AS b FROM (${TextOps.ngramSql(2)}) t), " +
      "raw AS (SELECT b, COUNT(*) AS cr FROM g GROUP BY b), " +
      "tgt AS (SELECT b, COUNT(*) AS ct FROM g WHERE doc_id % 97 = 0 " +
      "GROUP BY b), " +
      "tot AS (SELECT (SELECT COUNT(*) FROM g) AS tr, " +
      "(SELECT COUNT(*) FROM g WHERE doc_id % 97 = 0) AS tt), " +
      "model AS (SELECT r.b, round(" +
      "ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / " +
      "CAST(tot.tt + 4096 AS DOUBLE)) - " +
      "ln(CAST(r.cr + 1 AS DOUBLE) / CAST(tot.tr + 4096 AS DOUBLE)), " +
      "10) AS term FROM raw r LEFT JOIN tgt t ON t.b = r.b " +
      "CROSS JOIN tot), " +
      "pd AS (SELECT g.doc_id, " +
      "round(CAST(SUM(CAST(term AS DECIMAL(28,15))) AS DOUBLE), 6) " +
      "AS log_weight FROM g JOIN model m ON m.b = g.b GROUP BY g.doc_id)"
    val tierChain =
      s"bg AS (SELECT doc_id, ngram FROM (${TextOps.ngramSql(2)}) t), " +
      s"uni AS (SELECT ngram AS w FROM (${TextOps.ngramSql(1)}) t), " +
      "tb2 AS (SELECT ngram, COUNT(*) AS c2n FROM bg GROUP BY 1), " +
      "tu1 AS (SELECT w, COUNT(*) AS c1n FROM uni GROUP BY 1), " +
      "tv AS (SELECT COUNT(DISTINCT w) AS vv FROM uni), " +
      "sc AS (SELECT b.doc_id, " +
      "round(AVG(ln((tb2.c2n + 1.0) / (tu1.c1n + tv.vv))), 6) AS lp " +
      "FROM bg b JOIN tb2 ON b.ngram = tb2.ngram " +
      "JOIN tu1 ON split_part(b.ngram, ' ', 1) = tu1.w " +
      "CROSS JOIN tv GROUP BY b.doc_id), " +
      "sl AS (SELECT sc.doc_id, d.lang, sc.lp FROM sc " +
      "JOIN documents d ON d.doc_id = sc.doc_id), " +
      "trk AS (SELECT doc_id, lang, lp, CAST(row_number() OVER " +
      "(PARTITION BY lang ORDER BY lp, doc_id) AS BIGINT) AS r " +
      "FROM sl), " +
      "tnl AS (SELECT lang, CAST(FLOOR(COUNT(*) / 3.0) AS BIGINT) " +
      "AS t1, CAST(FLOOR(2.0 * COUNT(*) / 3.0) AS BIGINT) AS t2 " +
      "FROM sl GROUP BY lang), " +
      "tierb AS (SELECT r.doc_id, CASE WHEN r.r > nx.t2 THEN 'head' " +
      "WHEN r.r > nx.t1 THEN 'middle' ELSE 'tail' END AS bucket " +
      "FROM trk r JOIN tnl nx USING (lang))"
    Dedup.ClusterCteSql + ", " +
    SemDedupChainSql + ", " +
    "kept AS (SELECT g2.vid, g2.code FROM asg4 g2 LEFT JOIN drp dd " +
    "ON dd.id_b = g2.vid WHERE dd.id_b IS NULL), " +
    "dvv AS (SELECT vid, SUM(CAST(round(x * x * 1e12, 0) AS BIGINT)) " +
    "AS dvv FROM v GROUP BY vid), " +
    "kd AS MATERIALIZED (SELECT k.vid, k.code, " +
    "w.dvv - 2 * d.dvc + s2.dcc AS d2 FROM kept k " +
    "JOIN dvc4 d ON d.vid = k.vid AND d.code = k.code " +
    "JOIN dcc4 s2 ON s2.code = k.code JOIN dvv w ON w.vid = k.vid), " +
    "ncx AS (SELECT code, CAST(FLOOR(0.2 * COUNT(*)) AS BIGINT) " +
    "AS dropn FROM kd GROUP BY code), " +
    "rkx AS (SELECT vid, code, row_number() OVER " +
    "(PARTITION BY code ORDER BY d2, vid) AS r FROM kd), " +
    "d4 AS (SELECT r.vid, (r.r > nn.dropn) AS kf FROM rkx r " +
    "JOIN ncx nn USING (code)), " +
    "lab AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach " +
    "GROUP BY src), " +
    "sz AS (SELECT rep, COUNT(*) AS s2 FROM lab GROUP BY rep), " +
    "sft AS (SELECT d.doc_id, " +
    "round(CAST(1.0 AS DOUBLE) / CAST(COALESCE(sz.s2, 1) AS DOUBLE), 6) " +
    "AS weight FROM documents d " +
    "LEFT JOIN lab ON lab.doc_id = d.doc_id " +
    "LEFT JOIN sz ON sz.rep = lab.rep), " +
    dsirChain + ", " +
    "dsr AS (SELECT d.doc_id, COALESCE(pd.log_weight, 0.0) " +
    "AS log_weight FROM documents d " +
    "LEFT JOIN pd ON pd.doc_id = d.doc_id), " +
    tierChain + ", " +
    "surv AS (SELECT d.doc_id FROM documents d " +
    "JOIN d4 ON d4.vid = d.doc_id AND d4.kf), " +
    "jj AS (SELECT s0.doc_id, sft.weight, dsr.log_weight, tierb.bucket " +
    "FROM surv s0 JOIN sft ON sft.doc_id = s0.doc_id " +
    "JOIN dsr ON dsr.doc_id = s0.doc_id " +
    "LEFT JOIN tierb ON tierb.doc_id = s0.doc_id), " +
    "e0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0 FROM asg4), " +
    "e1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM kept), " +
    "e2 AS (SELECT CAST(COALESCE(SUM(CASE WHEN kf THEN 1 ELSE 0 END), " +
    "0) AS BIGINT) AS n2 FROM d4), " +
    "e3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n3, " +
    "CAST(COALESCE(SUM(CAST(weight AS DECIMAL(18,6))), 0) AS DOUBLE) " +
    "AS m4, " +
    "CAST(COALESCE(SUM(CASE WHEN log_weight > 0 THEN 1 ELSE 0 END), 0) " +
    "AS BIGINT) AS n5, " +
    "CAST(COALESCE(SUM(CASE WHEN log_weight > 0 " +
    "THEN CAST(weight AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS m5, " +
    "CAST(COALESCE(SUM(CASE WHEN log_weight > 0 AND bucket = 'head' " +
    "THEN 1 ELSE 0 END), 0) AS BIGINT) AS n6, " +
    "CAST(COALESCE(SUM(CASE WHEN log_weight > 0 AND bucket = 'head' " +
    "THEN CAST(weight AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS m6 " +
    "FROM jj) " +
    "SELECT stage, n_rows, eff_mass FROM (" +
    "SELECT '0_corpus' AS stage, n0 AS n_rows, " +
    "CAST(n0 AS DOUBLE) AS eff_mass FROM e0 " +
    "UNION ALL SELECT '1_semdedup', n1, CAST(n1 AS DOUBLE) FROM e1 " +
    "UNION ALL SELECT '2_d4', n2, CAST(n2 AS DOUBLE) FROM e2 " +
    "UNION ALL SELECT '3_docs', n3, CAST(n3 AS DOUBLE) FROM e3 " +
    "UNION ALL SELECT '4_soft', n3, m4 FROM e3 " +
    "UNION ALL SELECT '5_dsir', n5, m5 FROM e3 " +
    "UNION ALL SELECT '6_head', n6, m6 FROM e3) u ORDER BY stage"
  }

  /** X13 — deterministic content-hash sampling: keep documents whose
    * md5(text) prefix falls under a threshold (~10%). Unlike RNG-based
    * df.sample, the sample is reproducible across engines, runs, and
    * repartitionings — the only sane way to carve a stable dev slice out
    * of a 100 TB corpus — and portable enough to oracle. */
  def x13HashSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(graft.api.TextPipeline.hashSamplePredicate(col("text"), 26))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("text").cast("binary")), 1, 2).as("bucket"))
      .orderBy(col("doc_id"))
  /** X31 — per-language adaptive quality threshold (the "drop the worst
    * quartile of every language" curation step): score = mean word span
    * (chars per word), rank within language, drop the bottom 25% by
    * integer-exact arithmetic (kept ⇔ rank × 4 > n_lang — no float
    * quantile to diverge between engines).
    *
    * Scale shape — the EXACT rank without a per-language corpus sort
    * (a naive `row_number over (partition by lang)` would funnel 100 TB
    * through 5 window tasks, the x21 seam): decompose
    *
    *   rank(doc) = (#docs in lang with smaller score)
    *             + (position of doc among its EXACT score ties, by doc_id)
    *
    * The first term comes from (lang, score) group counts (one scalable
    * shuffle) cumulated per language over the DISTINCT-SCORE frame — a
    * window, but over an aggregate-bounded input (thousands of distinct
    * scores, not the corpus; PlanLint's low-cardinality rule explicitly
    * exempts bounded children). The second is a window partitioned by
    * (lang, score) — fine-grained keys that scale with the data. Both
    * join back by (lang, score); per-language totals broadcast. */
  def x31QualityQuantile(spark: SparkSession, sfDir: String): DataFrame = {
    // one corpus scan feeds three plan branches (per-score counts, the
    // tie window, and via perScore the language totals) — materialize it
    // once, the TextPipeline.nearDupPairsHashed pattern
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        round(length(col("text")) / size(split(col("text"), " ")), 6)
          .as("score"))
      .localCheckpoint(true)
    // cumulative count of strictly-smaller scores, per language, over
    // the aggregate-bounded distinct-score frame
    val perScore = scored.groupBy(col("lang"), col("score"))
      .agg(count(lit(1)).as("n_at"))
    // language totals from the bounded aggregate, not a corpus re-scan
    val counts = perScore.groupBy(col("lang"))
      .agg(sum(col("n_at")).as("n_lang"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumBelow = perScore
      .withColumn("c_le", sum(col("n_at")).over(wCum))
      .select(col("lang"), col("score"),
        (col("c_le") - col("n_at")).as("c_lt"))
    // position among exact-score ties: high-cardinality (lang, score) key
    val wTie = Window.partitionBy(col("lang"), col("score"))
      .orderBy(col("doc_id"))
    scored.withColumn("tie_pos", row_number().over(wTie).cast("long"))
      .join(cumBelow, Seq("lang", "score"))
      .withColumn("rnk", col("c_lt") + col("tie_pos"))
      .join(broadcast(counts), "lang")
      .filter(col("rnk") * 4 > col("n_lang"))
      .select(col("doc_id"), col("lang"), col("score"), col("rnk"),
        col("n_lang"))
      .orderBy(col("doc_id"))
  }

  /** X32 — benchmark decontamination at the industry-standard 13-gram
    * granularity, with text normalization as a LOAD-BEARING step: the
    * "benchmark suite" is the doc_id % 3 = 0 slice with its text
    * UPPER-cased (planted, like x20's PII — eval suites really do differ
    * in casing/formatting from crawled text), so raw-text grams match
    * nothing (n_shared_raw = 0, the planted counterfactual stated as
    * data) while lower()-normalized grams recover the true overlaps
    * (measured: 11/9/108 contaminated docs at sf 0.001/0.01/0.1).
    * Contrast with x17: 3-grams over this corpus flag broad phrase reuse;
    * 13-grams isolate genuine near-copies.
    *
    * Same scale shape as x17: the eval-gram set is benchmark-sized and
    * PINNED broadcast; the corpus side never shuffles. ONE shingle pass
    * per side emits both the raw gram and its lower()-normalized twin
    * (lowercasing never touches the space delimiter, so lower(gram of
    * raw text) == gram of lower(text)) — the raw/norm split is a
    * kind-tagged explode, not a second scan, and one broadcast join +
    * one aggregate serve both counters. */
  def x32Decontaminate13(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, upper(col("text")))
          .otherwise(col("text")).as("text"))
    def both(df: DataFrame) =
      graft.api.TextPipeline
        .ngramRows(df, "doc_id", "text", 13, distinct = true)
        .select(col("doc_id"), explode(map(
          lit("raw"), col("ngram"), lit("norm"), lower(col("ngram"))))
          .as(Seq("kind", "ngram")))
    val evalGrams = both(staged.filter(col("doc_id") % 3 === 0))
      .select(col("kind"), col("ngram")).distinct()
    val hits = both(staged.filter(col("doc_id") % 3 =!= 0))
      .join(broadcast(evalGrams), Seq("kind", "ngram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(when(col("kind") === "norm", col("ngram")))
          .as("n_shared_norm"),
        countDistinct(when(col("kind") === "raw", col("ngram")))
          .as("n_shared_raw"))
    staged.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_norm"), lit(0L)).as("n_shared_norm"),
        coalesce(col("n_shared_raw"), lit(0L)).as("n_shared_raw"))
      .withColumn("contaminated", col("n_shared_norm") > 0)
      .orderBy(col("doc_id"))
  }

  /** X34 — int8 scalar quantization of the embedding column (the vector
    * compression step before shipping an ANN corpus: 4× smaller than
    * float32): per-vector min/max from the array (array_min/array_max —
    * no explode, no join), per-dimension q = ⌊(v − lo)·255/(hi − lo)⌋
    * clamped to 255, and the dequantization-error guarantee asserted as
    * data — every |v − v̂| ≤ step where v̂ recenters the cell midpoint.
    * floor() instead of round(): Spark rounds HALF_UP, DuckDB half away
    * from zero — floor over identical IEEE doubles is bit-stable across
    * engines.
    *
    * Scale shape: pure per-row array math after a single scan — zero
    * shuffles before the final per-vector aggregate, SF-invariant. */
  def x34Quantize(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        array_min(col("embedding")).cast("double").as("lo"),
        array_max(col("embedding")).cast("double").as("hi"),
        posexplode(col("embedding")).as(Seq("dim", "vf")))
      .select(col("vec_id"), col("lo"), col("hi"),
        col("vf").cast("double").as("v"))
    val step = (col("hi") - col("lo")) / 255.0
    // degenerate constant vector (hi == lo): (v-lo)*255/(hi-lo) is
    // 0.0/0.0 = NaN — every dimension quantizes to cell 0 by definition
    // (and v̂ = lo + 0.5·0 = v, so the error bound holds with step 0)
    val q = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col("v") - col("lo")) * 255.0
        / (col("hi") - col("lo"))), lit(255.0)).cast("long"))
    val vhat = col("lo") + (col("q") + lit(0.5)) * step
    base.withColumn("q", q)
      .withColumn("err_ok", abs(col("v") - vhat) <= step)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        min(col("q")).as("q_lo"), max(col("q")).as("q_hi"),
        round(sum(col("q")) / count(lit(1)), 6).as("mean_q"),
        min(col("err_ok").cast("int")).cast("boolean").as("err_ok"))
      .orderBy(col("vec_id"))
  }

  /** X35 — temperature-based domain mixing (the pretraining mix
    * primitive: flatten the language distribution with α = 0.5, as
    * multilingual LLM recipes do): each language's sampling rate is
    * √(min_n / n_lang) — the smallest language keeps everything, the
    * dominant one is down-sampled toward parity — and membership is the
    * deterministic md5-bucket test (16-bit bucket < ⌊rate·65536⌋), so
    * the mix is reproducible across engines, runs, and repartitionings,
    * and every kept row carries its inverse-propensity weight.
    *
    * Scale shape: per-language counts are a grouped agg (5 rows)
    * broadcast back; the keep test is a pushable per-row hash — zero
    * corpus shuffles, same as x13/x19. sqrt and floor are correctly
    * rounded IEEE ops, so the thresholds are bit-identical in DuckDB. */
  def x35TemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min(col("n_lang")).as("mn"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("thresh",
        floor(sqrt(col("mn") / col("n_lang")) * 65536.0).cast("long"))
    docs.select(col("doc_id"), col("lang"),
        Det.md5Bucket(col("text"), 4).as("bucket"))
      .join(broadcast(rates), "lang")
      .filter(col("bucket") < col("thresh"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("bucket"),
        col("thresh"), round(lit(65536.0) / col("thresh"), 6).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** X37 — per-language top-k curation THROUGH the custom GroupTopK
    * physical operator ([[graft.plans.GroupTopK]]): keep each language's
    * 16 highest-scoring documents (mean word span, doc_id tie-break).
    * The pipeline face of w10's operator: map-side bounded heaps prune
    * to ≤ groups×k rows before the one shuffle, so "best k per domain"
    * never sorts the corpus — the shape a 100 TB curation pass needs.
    * The oracle reproduces it with a rank window. */
  def x37CurateTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        round(length(col("text")) / size(split(col("text"), " ")), 6)
          .as("score"))
    graft.plans.GroupTopK(scored, Seq("lang"),
        Seq(("score", false), ("doc_id", true)), 16)
      .orderBy(col("doc_id"))
  }

  /** X38 — INCREMENTAL near-dedup (the production shape l2 is the batch
    * form of): the `doc_id % 10 = 7` slice plays the incoming shard, the
    * rest the existing corpus; the shard's LSH bands probe the corpus'
    * bands ([[graft.api.TextPipeline.nearDupAgainstHashed]]) — candidate
    * volume is bounded by band collisions, NEVER probe×corpus, and the
    * corpus side's bands are exactly the persisted index a production
    * pipeline reuses per increment. Exact Jaccard verify as in l2.
    * Measured non-vacuous: 4/6 straddling pairs at sf 0.001/0.01. */
  def x38IncrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    // staged cross-process since round 10 (VERDICT r9 #3): the verified
    // probe-vs-index pair table persists; later processes reload it
    Tables.stagedFrame(spark, "lsh_incr", sfDir, Seq("documents"),
        "3g_b64r2_m10p7") {
      val hashes = Dedup.shingleHashSet(spark, sfDir)
      graft.api.TextPipeline.nearDupAgainstHashed(
        hashes.filter(col("doc_id") % 10 === 7),
        hashes.filter(col("doc_id") % 10 =!= 7))
    }.orderBy(col("doc_new"), col("doc_old"))

  /** X39 — deterministic training-shard assignment (the shuffle+shard
    * step before a training run): every doc gets a content-hash shard
    * (md5 nibble % 8) and a position within its shard ordered by the
    * full md5 — a reproducible global shuffle decorrelated from doc_id,
    * identical across engines, runs, and repartitionings, so a training
    * job can be resumed or re-sharded bit-identically.
    *
    * Scale shape: shard count is a CONFIG sized to the output layout
    * (like x21's nibble — widen for more parallelism), and the
    * within-shard position is computed WITHOUT ranking each whole shard
    * in one window task (8 shards would be 8 funnels at 100 TB — the
    * x21 seam). Because the order key is the md5 hex itself, a hash
    * PREFIX bucket preserves the order: pos = (#docs in earlier buckets
    * of the shard) + (position within the bucket). The bucket window
    * partitions by (shard, 4-hex-char prefix) — ~65k fine-grained keys
    * that grow with a wider prefix — and the cumulative-before term is a
    * window over the aggregate-bounded distinct-bucket frame. */
  def x39TrainShards(spark: SparkSession, sfDir: String): DataFrame = {
    val nShards = 8
    // the hashed projection feeds the bucket counts AND the tie window —
    // materialize once so documents is scanned (and md5'd) a single time
    val withHash = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        (Det.md5Bucket(col("text"), 1) % nShards).cast("int").as("shard"))
      .withColumn("bucket", substring(col("h"), 1, 4))
      .localCheckpoint(true)
    val perBucket = withHash.groupBy(col("shard"), col("bucket"))
      .agg(count(lit(1)).as("n_at"))
    val wCum = Window.partitionBy(col("shard")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumBefore = perBucket
      .withColumn("c_le", sum(col("n_at")).over(wCum))
      .select(col("shard"), col("bucket"),
        (col("c_le") - col("n_at")).as("c_before"))
    // bucket is a PREFIX of the order key h, so (bucket, then h within
    // bucket) is exactly the per-shard md5 order
    val wTie = Window.partitionBy(col("shard"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    withHash.withColumn("tie", row_number().over(wTie).cast("long"))
      .join(cumBefore, Seq("shard", "bucket"))
      .select(col("doc_id"), col("shard"),
        (col("c_before") + col("tie")).as("pos"))
      .orderBy(col("doc_id"))
  }
  /** X58 — composed curation funnel (the end-to-end shape a crawl
    * pipeline runs nightly, with per-stage observability): language
    * gate → length gate → exact dedup, emitted as one funnel table
    * (stage, n_docs, n_chars_total). Stage counts 0–2 are INDEPENDENT
    * conditional aggregates in a single scan (x53's
    * adding-checks-never-adds-scans discipline); only the dedup stage
    * adds a grouped pass, keyed by the text itself (exact equality —
    * x22's min-id keep rule on whole documents). Nothing is
    * re-scanned per stage, so the funnel costs one scan + one
    * vocabulary-sized shuffle at any corpus size. */
  def x58CurationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val langOk = col("lang") === "en"
    val lenOk = langOk && col("n_chars").between(120, 350)
    val stages = d.agg(
      count(lit(1)).as("n0"),
      sum(col("n_chars")).as("c0"),
      sum(when(langOk, 1L).otherwise(0L)).as("n1"),
      sum(when(langOk, col("n_chars")).otherwise(0L)).as("c1"),
      sum(when(lenOk, 1L).otherwise(0L)).as("n2"),
      sum(when(lenOk, col("n_chars")).otherwise(0L)).as("c2"))
    val kept = d.filter(lenOk)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"),
        min(col("n_chars")).as("nc"))
      .agg(count(lit(1)).as("n3"), sum(col("nc")).as("c3"))
    stages.crossJoin(kept)
      .select(explode(array(
        struct(lit("0_raw").as("stage"), col("n0").as("n_docs"),
          col("c0").as("n_chars_total")),
        struct(lit("1_lang").as("stage"), col("n1").as("n_docs"),
          col("c1").as("n_chars_total")),
        struct(lit("2_length").as("stage"), col("n2").as("n_docs"),
          col("c2").as("n_chars_total")),
        struct(lit("3_dedup").as("stage"), col("n3").as("n_docs"),
          col("c3").as("n_chars_total")))).as("kv"))
      .select(col("kv.stage").as("stage"), col("kv.n_docs").as("n_docs"),
        col("kv.n_chars_total").as("n_chars_total"))
      .orderBy(col("stage"))
  }

  /** X60 — leakage-safe train/val/test split: assignment is by
    * NEAR-DUP CLUSTER, not by document, so two near-duplicate
    * documents can never land in different splits (the
    * train-contaminates-eval failure mode of naive row-hash splits).
    * Clusters come from the memoized verified near-dup pairs
    * (l2/x12's large-star/small-star CC); singleton documents are
    * their own cluster. The split function is rep % 10 (8/1/1) — a
    * pure function of the cluster representative, deterministic and
    * engine-portable (a production deployment substitutes a salted
    * hash; the CONTRACT is cluster-atomicity, which the oracle
    * re-verifies by recomputing clusters recursively from scratch). */
  def x60LeakageSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val cc = Dedup.ccLabelsFrame(spark, sfDir)
    Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
      .join(cc, Seq("doc_id"), "left_outer")
      .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("split",
        when(pmod(col("rep"), lit(10L)) < 8, "train")
          .when(pmod(col("rep"), lit(10L)) === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("rep"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** X62 — training-mixture report: the TOP-20 sources' corpus shares
    * with cumulative coverage in size order — the table a data-mixing
    * run reads before choosing sampling temperatures (x35 consumes
    * exactly these proportions). Scale shape: one grouped aggregate
    * (per-source totals), a distributed top-k
    * (TakeOrderedAndProject — never a global sort), and THEN the
    * global cumulative window, which by construction sees only the k
    * retained rows (PlanLint's single-partition-window rule exempts
    * limit-bounded windows for exactly this shape). Shares stay
    * fractions of the FULL corpus total, so truncation is visible as
    * cum_share < 1 rather than silently renormalized — at web scale
    * with millions of domains the tail's share is the honest
    * remainder. */
  def x62MixtureReport(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    val total = s.agg(sum(col("chars")).as("total"))
    val top = s.orderBy(col("chars").desc, col("source")).limit(20)
    val w = Window.orderBy(col("chars").desc, col("source"))
    top.crossJoin(total)
      .select(col("source"), col("n_docs"), col("chars"),
        (col("chars").cast("double") / col("total")).as("share"),
        (sum(col("chars")).over(w).cast("double") / col("total"))
          .as("cum_share"))
      .orderBy(col("chars").desc, col("source"))
  }
  /** X89 — temporal train/test split with an embargo gap (the
    * time-series leakage control: a model trained through time T must
    * not be evaluated on examples it could have "seen" through
    * near-boundary correlation — the gap absorbs it): cut at 80% of
    * the corpus time range (integer µs arithmetic), drop a 30-minute
    * embargo zone, report per-split masses plus the PROVEN gap
    * (min test ts − max train ts ≥ embargo, emitted as data). One
    * scan + two bounded aggregates. */
  def x89EmbargoSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsUs(spark, sfDir)
    val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .select(expr("lo + (hi - lo) * 8 div 10").as("cut"))
    val embargo = 1800000000L
    val tagged = ev.crossJoin(bounds)
      .withColumn("split",
        when(col("ts") < col("cut"), "train")
          .when(col("ts") >= col("cut") + embargo, "test")
          .otherwise("embargoed"))
    val gap = tagged.agg(
      (min(when(col("split") === "test", col("ts"))) -
        max(when(col("split") === "train", col("ts"))))
        .as("boundary_gap_us"))
    tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .crossJoin(gap)
      .select(col("split"), col("n_events"), col("n_users"),
        (col("boundary_gap_us") >= embargo).as("gap_ok"))
      .orderBy(col("split"))
  }
  /** X114 — weighted reservoir sampling (Efraimidis–Spirakis A-ES,
    * IPL 2006): k documents drawn with probability proportional to
    * length, in ONE distributed pass — the weighted-subsample primitive
    * a mixture builder uses when x13's uniform hash sampling isn't
    * enough. Per item: uniform u from the doc's md5 (deterministic,
    * engine-shared via Det.md5Bucket), score = ln(u)/w (the log form of
    * u^(1/w) — monotone-identical ranking, no pow underflow at large
    * w), top-k by score. The top-k is a TakeOrderedAndProject — map-
    * side partial heaps, only k rows per partition ship, the exact
    * shape a 100 TB reservoir needs. Score rounded to 10 dp so the
    * engines' last-ulp ln() differences cannot flip the boundary rank;
    * doc_id tie-break totalizes the order. */
  def x114WeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("double").as("w"))
      .filter(col("w") > 0)
    // hash the STRING form: md5-of-utf8 is the engine-shared spelling
    // (long→binary casts differ across engines)
    val u = (Det.md5Bucket(col("doc_id").cast("string"), 13)
      .cast("double") + lit(0.5)) / lit(math.pow(16.0, 13))
    d.select(col("doc_id"), col("w"),
        round(log(u) / col("w"), 10).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x172_semdedup" -> (x172SemDedup _),
    "x179_curation_ladder" -> (x179CurationLadder _),
    "x173_semdedup_incr" -> (x173SemDedupIncr _),
    "x175_d4_prune" -> (x175D4Prune _),
    "x176_soft_dedup" -> (x176SoftDedup _),
    "x177_dsir_weights" -> (x177DsirWeights _),
    "x178_ccnet_buckets" -> (x178CcnetBuckets _),
    "x172b_semdedup_guard" -> (x172bStraddleGuard _),
    "x13_hash_sample" -> (x13HashSample _),
    "x38_incremental_dedup" -> (x38IncrementalDedup _),
    "x39_train_shards" -> (x39TrainShards _),
    "x31_quality_quantile" -> (x31QualityQuantile _),
    "x32_decontaminate13" -> (x32Decontaminate13 _),
    "x34_quantize" -> (x34Quantize _),
    "x35_temperature_mix" -> (x35TemperatureMix _),
    "x37_curate_topk" -> (x37CurateTopK _),
    "x58_curation_funnel" -> (x58CurationFunnel _),
    "x60_leakage_split" -> (x60LeakageSplit _),
    "x62_mixture_report" -> (x62MixtureReport _),
    "x89_embargo_split" -> (x89EmbargoSplit _),
    "x114_weighted_sample" -> (x114WeightedSample _))


  /** The x172b oracle: the x172 Lloyd chain (reused verbatim), a
    * rank-≤2 window for the top-2 assignment at the identical
    * (2·dvc − dcc) DESC, code order, and the x41 exhaustive verified
    * pair recompute — then the same three classifications. */
  private val SemGuardSql: String = {
    val tA = graft.operators.EmbedOps.cloneDotTerm("a")
    val tB = graft.operators.EmbedOps.cloneDotTerm("b")
    "WITH " + SemDedupChainSql + ", " +
    "a2 AS MATERIALIZED (SELECT vid, " +
    "MAX(CASE WHEN rn = 1 THEN code END) AS c1, " +
    "MAX(CASE WHEN rn = 2 THEN code END) AS c2 FROM " +
    "(SELECT d.vid, d.code, row_number() OVER (PARTITION BY d.vid " +
    "ORDER BY (2 * d.dvc - s.dcc) DESC, d.code) AS rn " +
    "FROM dvc4 d JOIN dcc4 s USING (code)) t WHERE rn <= 2 " +
    "GROUP BY vid), " +
    "pall AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b " +
    "FROM base a, base b, range(1, 65) r(i) " +
    "WHERE a.vec_id < b.vec_id GROUP BY a.vec_id, b.vec_id " +
    s"HAVING round(SUM($tA * $tB), 6) >= 0.8), " +
    "j AS (SELECT xa.c1 AS a1, xa.c2 AS a2c, xb.c1 AS b1, xb.c2 AS b2 " +
    "FROM pall p JOIN a2 xa ON xa.vid = p.id_a " +
    "JOIN a2 xb ON xb.vid = p.id_b) " +
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
    "CAST(COALESCE(SUM(CASE WHEN a1 = b1 THEN 1 ELSE 0 END), 0) " +
    "AS BIGINT) AS n_within, " +
    "CAST(COALESCE(SUM(CASE WHEN a1 <> b1 THEN 1 ELSE 0 END), 0) " +
    "AS BIGINT) AS n_straddling, " +
    "CAST(COALESCE(SUM(CASE WHEN a1 <> b1 AND (a1 = b2 OR a2c = b1 " +
    "OR a2c = b2) THEN 1 ELSE 0 END), 0) AS BIGINT) " +
    "AS n_recovered_top2 FROM j"
  }


  val oracles: Map[String, String] = Map(
    "x172_semdedup" -> SemDedupSql,
    "x179_curation_ladder" -> CurationLadderSql,
    "x173_semdedup_incr" -> SemDedupIncrSql,
    "x175_d4_prune" -> D4PruneSql,
    // the x12 recursive-CC chain + size aggregate + the same
    // 1/size spelling; singletons (docs outside the pair graph) at 1
    "x176_soft_dedup" ->
      (Dedup.ClusterCteSql +
       ", lab AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach " +
       "GROUP BY src), " +
       "sz AS (SELECT rep, COUNT(*) AS s FROM lab GROUP BY rep) " +
       "SELECT d.doc_id, CAST(COALESCE(sz.s, 1) AS BIGINT) " +
       "AS cluster_size, " +
       "round(CAST(1.0 AS DOUBLE) / CAST(COALESCE(sz.s, 1) AS DOUBLE), 6) " +
       "AS weight FROM documents d " +
       "LEFT JOIN lab ON lab.doc_id = d.doc_id " +
       "LEFT JOIN sz ON sz.rep = lab.rep ORDER BY d.doc_id"),
    // hashed-bigram models as CTEs at the identical md5-bucket +
    // add-one + ln + 10-dp-term + DECIMAL-sum + 6-dp spelling
    "x177_dsir_weights" ->
      (s"WITH g AS (SELECT doc_id, ${graft.Det.sql.md5Bucket("ngram", 3)} " +
       s"AS b FROM (${TextOps.ngramSql(2)}) t), " +
       "raw AS (SELECT b, COUNT(*) AS cr FROM g GROUP BY b), " +
       "tgt AS (SELECT b, COUNT(*) AS ct FROM g WHERE doc_id % 97 = 0 " +
       "GROUP BY b), " +
       "tot AS (SELECT (SELECT COUNT(*) FROM g) AS tr, " +
       "(SELECT COUNT(*) FROM g WHERE doc_id % 97 = 0) AS tt), " +
       "model AS (SELECT r.b, round(" +
       "ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / " +
       "CAST(tot.tt + 4096 AS DOUBLE)) - " +
       "ln(CAST(r.cr + 1 AS DOUBLE) / CAST(tot.tr + 4096 AS DOUBLE)), " +
       "10) AS term FROM raw r LEFT JOIN tgt t ON t.b = r.b " +
       "CROSS JOIN tot), " +
       "pd AS (SELECT g.doc_id, COUNT(*) AS n_bigrams, " +
       "round(CAST(SUM(CAST(term AS DECIMAL(28,15))) AS DOUBLE), 6) " +
       "AS log_weight FROM g JOIN model m ON m.b = g.b " +
       "GROUP BY g.doc_id) " +
       "SELECT d.doc_id, CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) " +
       "AS n_bigrams, COALESCE(pd.log_weight, 0.0) AS log_weight " +
       "FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id " +
       "ORDER BY d.doc_id"),
    // the x49 scoring chain + a rank window + identical floor(n/3)
    // boundary arithmetic
    "x178_ccnet_buckets" ->
      (s"WITH bg AS (SELECT doc_id, ngram FROM (${TextOps.ngramSql(2)}) t), " +
       s"uni AS (SELECT ngram AS w FROM (${TextOps.ngramSql(1)}) t), " +
       "c2 AS (SELECT ngram, COUNT(*) AS c2 FROM bg GROUP BY 1), " +
       "c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY 1), " +
       "v AS (SELECT COUNT(DISTINCT w) AS v FROM uni), " +
       "sc AS (SELECT b.doc_id, " +
       "round(AVG(ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS lp " +
       "FROM bg b JOIN c2 ON b.ngram = c2.ngram " +
       "JOIN c1 ON split_part(b.ngram, ' ', 1) = c1.w " +
       "CROSS JOIN v GROUP BY b.doc_id), " +
       "sl AS (SELECT sc.doc_id, d.lang, sc.lp FROM sc " +
       "JOIN documents d ON d.doc_id = sc.doc_id), " +
       "rk AS (SELECT doc_id, lang, lp, CAST(row_number() OVER " +
       "(PARTITION BY lang ORDER BY lp, doc_id) AS BIGINT) AS r " +
       "FROM sl), " +
       "nl AS (SELECT lang, CAST(FLOOR(COUNT(*) / 3.0) AS BIGINT) " +
       "AS t1, CAST(FLOOR(2.0 * COUNT(*) / 3.0) AS BIGINT) AS t2 " +
       "FROM sl GROUP BY lang) " +
       "SELECT r.doc_id, r.lang, r.lp, r.r AS lp_rank, " +
       "CASE WHEN r.r > n.t2 THEN 'head' WHEN r.r > n.t1 " +
       "THEN 'middle' ELSE 'tail' END AS bucket " +
       "FROM rk r JOIN nl n USING (lang) ORDER BY r.doc_id"),
    "x172b_semdedup_guard" -> SemGuardSql,
    "x13_hash_sample" ->
      ("SELECT doc_id, lang, substr(md5(text), 1, 2) AS bucket FROM documents " +
       "WHERE substr(md5(text), 1, 2) <= '19' ORDER BY doc_id"),
    // exhaustive exact cross-side Jaccard — the Spark side must find the
    // same straddling pairs via the banded probe (l2's oracle shape)
    "x38_incremental_dedup" ->
      (s"WITH s AS (SELECT DISTINCT doc_id, ngram FROM (${TextOps.ngramSql(3)}) t), " +
       "n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id), " +
       "i AS (SELECT a.doc_id AS doc_new, b.doc_id AS doc_old, COUNT(*) AS inter " +
       "FROM s a JOIN s b ON a.ngram = b.ngram " +
       "AND a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7 GROUP BY 1, 2) " +
       "SELECT doc_new, doc_old, " +
       "inter / (na.n_sh + nb.n_sh - inter) AS jaccard " +
       "FROM i JOIN n na ON na.doc_id = doc_new JOIN n nb ON nb.doc_id = doc_old " +
       "WHERE inter / (na.n_sh + nb.n_sh - inter) > 0.6 " +
       "ORDER BY doc_new, doc_old"),
"x39_train_shards" ->
      ("WITH h AS (SELECT doc_id, md5(text) AS h, " +
       s"CAST(${d.md5Bucket("text", 1)} % 8 AS INT) AS shard FROM documents) " +
       "SELECT doc_id, shard, " +
       "CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) " +
       "AS BIGINT) AS pos FROM h ORDER BY doc_id"),
"x31_quality_quantile" ->
      ("WITH s AS (SELECT doc_id, lang, " +
       "round(length(text) / len(string_split(text, ' ')), 6) AS score " +
       "FROM documents), " +
       "r AS (SELECT doc_id, lang, score, " +
       "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score ASC, doc_id ASC) " +
       "AS BIGINT) AS rnk, " +
       "CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang FROM s) " +
       "SELECT doc_id, lang, score, rnk, n_lang FROM r " +
       "WHERE rnk * 4 > n_lang ORDER BY doc_id"),
"x32_decontaminate13" ->
      ("WITH staged AS (SELECT doc_id, " +
       "CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS text " +
       "FROM documents), " +
       "gn AS (SELECT DISTINCT doc_id, ngram FROM (" +
       TextOps.ngramSqlOver(
         "(SELECT doc_id, lower(text) AS text FROM staged)", 13) + ") t), " +
       "gr AS (SELECT DISTINCT doc_id, ngram FROM (" +
       TextOps.ngramSqlOver("staged", 13) + ") t), " +
       "nh AS (SELECT c.doc_id, COUNT(DISTINCT c.ngram) AS n_shared_norm " +
       "FROM gn c WHERE c.doc_id % 3 <> 0 AND c.ngram IN " +
       "(SELECT ngram FROM gn WHERE doc_id % 3 = 0) GROUP BY c.doc_id), " +
       "rh AS (SELECT c.doc_id, COUNT(DISTINCT c.ngram) AS n_shared_raw " +
       "FROM gr c WHERE c.doc_id % 3 <> 0 AND c.ngram IN " +
       "(SELECT ngram FROM gr WHERE doc_id % 3 = 0) GROUP BY c.doc_id) " +
       "SELECT d.doc_id, COALESCE(nh.n_shared_norm, 0) AS n_shared_norm, " +
       "COALESCE(rh.n_shared_raw, 0) AS n_shared_raw, " +
       "COALESCE(nh.n_shared_norm, 0) > 0 AS contaminated " +
       "FROM staged d LEFT JOIN nh ON d.doc_id = nh.doc_id " +
       "LEFT JOIN rh ON d.doc_id = rh.doc_id " +
       "WHERE d.doc_id % 3 <> 0 ORDER BY d.doc_id"),
"x35_temperature_mix" ->
      ("WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang), " +
       "m AS (SELECT MIN(n_lang) AS mn FROM c), " +
       "r AS (SELECT lang, n_lang, " +
       "CAST(FLOOR(SQRT(CAST(mn AS DOUBLE) / CAST(n_lang AS DOUBLE)) * 65536.0) " +
       "AS BIGINT) AS thresh FROM c, m), " +
       "b AS (SELECT doc_id, lang, " +
       s"${d.md5Bucket("text", 4)} AS bucket FROM documents) " +
       "SELECT doc_id, b.lang, n_lang, bucket, thresh, " +
       "round(65536.0 / thresh, 6) AS weight " +
       "FROM b JOIN r ON b.lang = r.lang WHERE bucket < thresh " +
       "ORDER BY doc_id"),
"x37_curate_topk" ->
      ("SELECT doc_id, lang, score FROM " +
       "(SELECT doc_id, lang, " +
       "round(length(text) / len(string_split(text, ' ')), 6) AS score, " +
       "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY " +
       "round(length(text) / len(string_split(text, ' ')), 6) DESC, doc_id ASC) " +
       "AS rn FROM documents) t WHERE rn <= 16 ORDER BY doc_id"),
"x34_quantize" ->
      ("WITH e AS (SELECT vec_id, " +
       "CAST(list_min(embedding) AS DOUBLE) AS lo, " +
       "CAST(list_max(embedding) AS DOUBLE) AS hi, embedding FROM embeddings), " +
       "x AS (SELECT vec_id, lo, hi, CAST(unnest(embedding) AS DOUBLE) AS v " +
       "FROM e), " +
       "q AS (SELECT vec_id, lo, hi, v, " +
       "CASE WHEN hi = lo THEN 0 ELSE " +
       "CAST(LEAST(FLOOR((v - lo) * 255.0 / (hi - lo)), 255.0) AS BIGINT) " +
       "END AS qq FROM x) " +
       // CAST the SUM: DuckDB SUM(BIGINT) is HUGEINT (the x21 lesson)
       "SELECT vec_id, COUNT(*) AS n_dims, MIN(qq) AS q_lo, MAX(qq) AS q_hi, " +
       "round(CAST(SUM(qq) AS BIGINT) / COUNT(*), 6) AS mean_q, " +
       "CAST(MIN(CAST(abs(v - (lo + (qq + 0.5) * (hi - lo) / 255.0)) " +
       "<= (hi - lo) / 255.0 AS INT)) AS BOOLEAN) AS err_ok " +
       "FROM q GROUP BY vec_id ORDER BY vec_id"),
    "x58_curation_funnel" ->
      ("WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0, " +
       "CAST(SUM(n_chars) AS BIGINT) AS c0, " +
       "CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
       "CAST(SUM(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS BIGINT) AS c1, " +
       "CAST(SUM(CASE WHEN lang = 'en' AND n_chars BETWEEN 120 AND 350 " +
       "THEN 1 ELSE 0 END) AS BIGINT) AS n2, " +
       "CAST(SUM(CASE WHEN lang = 'en' AND n_chars BETWEEN 120 AND 350 " +
       "THEN n_chars ELSE 0 END) AS BIGINT) AS c2 FROM documents), " +
       "ded AS (SELECT CAST(COUNT(*) AS BIGINT) AS n3, " +
       "CAST(SUM(nc) AS BIGINT) AS c3 FROM (" +
       "SELECT text, MIN(doc_id) AS keep_id, MIN(n_chars) AS nc " +
       "FROM documents WHERE lang = 'en' AND n_chars BETWEEN 120 AND 350 " +
       "GROUP BY text) t) " +
       "SELECT stage, n_docs, n_chars_total FROM (" +
       "SELECT '0_raw' AS stage, n0 AS n_docs, c0 AS n_chars_total FROM base " +
       "UNION ALL SELECT '1_lang', n1, c1 FROM base " +
       "UNION ALL SELECT '2_length', n2, c2 FROM base " +
       "UNION ALL SELECT '3_dedup', n3, c3 FROM ded) u ORDER BY stage"),
// clusters recomputed recursively from scratch (x12's oracle),
    // widened to every document; split restated from rep % 10
    "x60_leakage_split" ->
      (s"WITH RECURSIVE s AS (SELECT DISTINCT doc_id, ngram FROM (${TextOps.ngramSql(3)}) t), " +
       "n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id), " +
       "i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter " +
       "FROM s a JOIN s b ON a.ngram = b.ngram AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
       "pairs AS (SELECT doc_a, doc_b FROM i " +
       "JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b " +
       "WHERE inter / (na.n_sh + nb.n_sh - inter) > 0.6), " +
       "edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs " +
       "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
       "reach AS (SELECT DISTINCT a AS src, a AS dst FROM edges " +
       "UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a), " +
       "cc AS (SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach " +
       "GROUP BY src) " +
       "SELECT d.doc_id, COALESCE(cc.cluster_rep, d.doc_id) AS rep, " +
       "CASE WHEN COALESCE(cc.cluster_rep, d.doc_id) % 10 < 8 THEN 'train' " +
       "WHEN COALESCE(cc.cluster_rep, d.doc_id) % 10 = 8 THEN 'val' " +
       "ELSE 'test' END AS split " +
       "FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id " +
       "ORDER BY d.doc_id"),
"x62_mixture_report" ->
      ("WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
       "CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY 1), " +
       "t AS (SELECT CAST(SUM(chars) AS BIGINT) AS total FROM s), " +
       "top AS (SELECT * FROM s ORDER BY chars DESC, source LIMIT 20) " +
       "SELECT source, n_docs, chars, " +
       "CAST(chars AS DOUBLE) / total AS share, " +
       "CAST(CAST(SUM(chars) OVER (ORDER BY chars DESC, source) AS BIGINT) " +
       "AS DOUBLE) / total AS cum_share " +
       "FROM top CROSS JOIN t ORDER BY chars DESC, source"),
    "x89_embargo_split" ->
      ("WITH b AS (SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi " +
       "FROM events), " +
       "c AS (SELECT lo + (hi - lo) * 8 // 10 AS cut FROM b), " +
       "tg AS (SELECT epoch_us(ts) AS t, user_id, " +
       "CASE WHEN epoch_us(ts) < cut THEN 'train' " +
       "WHEN epoch_us(ts) >= cut + 1800000000 THEN 'test' " +
       "ELSE 'embargoed' END AS split FROM events CROSS JOIN c), " +
       "g AS (SELECT MIN(CASE WHEN split = 'test' THEN t END) - " +
       "MAX(CASE WHEN split = 'train' THEN t END) AS gap FROM tg) " +
       "SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events, " +
       "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
       "gap >= 1800000000 AS gap_ok FROM tg CROSS JOIN g " +
       "GROUP BY split, gap ORDER BY split"),
    // same A-ES score formula, same hash, same rounding
    "x114_weighted_sample" ->
      ("SELECT doc_id, CAST(length(text) AS DOUBLE) AS w, " +
       "round(ln((" + Det.sql.md5Bucket("CAST(doc_id AS VARCHAR)", 13) +
       " + 0.5) / POWER(16, 13)) / CAST(length(text) AS DOUBLE), 10) " +
       "AS score FROM documents WHERE length(text) > 0 " +
       "ORDER BY score DESC, doc_id LIMIT 50"))
}
