package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis family (north-star extension, BASELINE.json): language ID,
  * quality scoring, token counting, fingerprinting over `documents`.
  *
  * All per-document computations are narrow (no shuffle): at 100 TB each
  * partition of documents streams through one codegen'd projection. The only
  * shuffles are the explicitly aggregating fingerprint (min per doc after a
  * shingle explode — partial aggregation makes it map-side) — nothing here
  * is quadratic or collect-based.
  */
object TextOps {

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(TokenRe), lit(0))).cast("long")
        .as("n_re_tokens"))

  /** Quality score as a reusable column expression over `text` — factored
    * out so multi-signal queries ([[curatedCorpus]]) compute it inline over
    * ONE documents scan instead of self-joining per-signal op outputs.
    */
  private[operators] def qualityScoreExpr: org.apache.spark.sql.Column = {
    val nWords = size(words(col("text"))).cast("double")
    val nStop = profileHits(col("text"), LangProfiles.head._2).cast("double")
    least(nWords / 100.0, lit(1.0)) * (lit(0.5) + lit(0.5) * (nStop / nWords))
  }

  /** Predicted language as a reusable column expression over `text`:
    * argmax of per-language profile hits with a fixed preference order
    * (foldRight + when-chain ⇒ first profile in LangProfiles wins ties),
    * 'und' when no profile hits.
    */
  private[operators] def predictedLangExpr(
      spark: SparkSession): org.apache.spark.sql.Column =
    // r12: the composed four-profile when-chain became the codegen'd
    // single-pass [[graft.functions.PredictedLang]] kernel — semantics
    // identical (same tokenization, per-profile counts, first-profile tie
    // rule, und fallback incl. NULL text), but each occurrence the
    // optimizer inlines is ONE fused byte scan instead of ~20
    // codegen-incompatible higher-order trees (the tx_stratified_sample
    // pushed-Filter plan carried 81 `split` copies before this).
    graft.functions.LangIdExpressions.predictedLang(spark)

  /** Quality scoring: length / word-shape / stopword-ratio heuristics. */
  def qualityScores(spark: SparkSession, sfDir: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w).cast("double")
    val nStop = profileHits(col("text"), LangProfiles.head._2).cast("double")
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_actual"),
      size(w).cast("long").as("n_words"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") / nWords)
        .as("avg_word_len"),
      (nStop / nWords).as("stopword_ratio"),
      qualityScoreExpr.as("quality_score"))
  }

  /** Gopher-rule thresholds (Rae et al. 2021 §A1.1, scaled to the fixture
    * corpus's 16–94-word documents the way the paper's 50–100k-word bounds
    * fit web pages): min word count, mean-word-length band, max single-word
    * length, min stopword hits, min share of words containing a letter.
    */
  val GopherMinWords    = 30L
  val GopherMeanWordLen = (3.0, 10.0)
  val GopherMaxWordLen  = 20
  val GopherMinStops    = 2L
  val GopherMinAlpha    = 0.8

  /** X-C42: Gopher-style quality-rule bitmap — the other canonical
    * pretraining text filter next to the score-threshold family
    * ([[qualityScores]]) and DSIR ([[dsirWeights]]): a conjunction of
    * independent HARD rules, each emitted as its own boolean so a pipeline
    * can report per-rule kill rates (the paper's ablation view), plus the
    * conjunction. All five rules are closed-form expressions over one
    * documents scan — single codegen stage, no shuffle, no joins; at
    * 100 TB this is a pure map the scan absorbs.
    */
  /** The five Gopher rules as named column expressions over a `text`
    * column — shared by [[gopherRules]] (per-doc bitmap) and
    * [[sourceFilter]] (per-source pass rates).
    */
  private[operators] def gopherRuleExprs: Seq[(String, org.apache.spark.sql.Column)] = {
    val w = words(col("text"))
    val nw = size(w).cast("long")
    val meanLen = length(regexp_replace(col("text"), " ", "")).cast("double") /
      nw.cast("double")
    val nStop = profileHits(col("text"), LangProfiles.head._2).cast("long")
    val alphaFrac = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") /
      nw.cast("double")
    val maxWord = array_max(transform(w, x => length(x)))
    Seq(
      "r_min_words" -> (nw >= GopherMinWords),
      "r_mean_word_len" ->
        (meanLen >= GopherMeanWordLen._1 && meanLen <= GopherMeanWordLen._2),
      "r_max_word_len" -> (maxWord <= GopherMaxWordLen),
      "r_stop_words" -> (nStop >= GopherMinStops),
      "r_alpha_words" -> (alphaFrac > GopherMinAlpha))
  }

  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val rules = gopherRuleExprs
    Tables.documents(spark, sfDir).select(
      (col("doc_id") +: size(words(col("text"))).cast("long").as("n_words") +:
        rules.map { case (n, c) => c.as(n) } :+
        rules.map(_._2).reduce(_ && _).as("passes")): _*)
  }

  /** Keep thresholds for [[sourceFilter]], in integer-exact percent form
    * (the comparisons are pure BIGINT products — no float thresholds to
    * drift cross-engine). Tuned so the fixture corpus genuinely splits.
    */
  val SourceMinPassPct = 68L
  val SourceMaxDupPct  = 5L

  /** X-C47: source/domain-level curation — the RefinedWeb/C4-style
    * DOMAIN filter that runs above the per-document rules: a source whose
    * documents mostly fail the quality bitmap, or that is dominated by
    * exact duplicates, gets dropped WHOLESALE (boilerplate mills and
    * mirror hosts produce bad documents faster than per-doc filters can
    * score them; the domain verdict is the cheap upstream kill). Per
    * `source`: doc count, Gopher-pass count, exact-dup count, the two
    * shares, each rule's verdict, and the keep decision.
    *
    * Scale shape: the rule bitmap is inline column arithmetic on the one
    * documents scan; the dup flag reuses [[DedupOps.exactDedup]]'s
    * content-hash window (only 128-bit hashes shuffle); the per-source
    * rollup is a map-side-combinable aggregate over source-cardinality
    * groups. Shares are single divisions of exact BIGINTs and the
    * verdicts integer products — engine-identical rows.
    */
  def sourceFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val passes = gopherRuleExprs.map(_._2).reduce(_ && _)
    val wDup = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), passes.as("passes"),
        md5(col("text")).as("h"))
      .withColumn("is_dup", col("doc_id") =!= min(col("doc_id")).over(wDup))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_passing"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_passing"), col("n_dups"),
        (col("n_passing").cast("double") / col("n_docs")).as("pass_share"),
        (col("n_dups").cast("double") / col("n_docs")).as("dup_share"),
        (col("n_passing") * 100 >= col("n_docs") * SourceMinPassPct).as("r_quality"),
        (col("n_dups") * 100 <= col("n_docs") * SourceMaxDupPct).as("r_dup"))
      .withColumn("kept", col("r_quality") && col("r_dup"))
  }

  /** Blocklist terms for [[blocklistScrub]] — the C4-style scrub
    * dictionary. Mostly-absent terms are the realistic case (production
    * blocklists are thousands of terms, few of which occur in any one
    * document); `slow` is the term the fixture corpus actually contains.
    */
  val BlocklistTerms = Seq("slow", "crash", "leak")

  /** Per-document blocklist hit share (percent, integer-exact) above which
    * [[blocklistScrub]] DROPS rather than redacts: a document this dense in
    * blocklisted terms is not salvageable by masking. Tuned so the fixture
    * genuinely exercises all three verdicts (keep/scrub/drop ≈ 21/65/14%).
    */
  val ScrubMaxHitPct = 6L

  /** X-C48: blocklist scrub — the dictionary-redaction pass every
    * production curation pipeline runs before training (C4's badwords
    * filter; PII masking is the same operator with different patterns —
    * this fixture's text is lowercase word-salad with no digits, so a
    * regex-PII list would be vacuous and a term blocklist is the honest
    * demonstration). Per document: word count, blocklist hit count, the
    * exact hit share, a three-way policy verdict (`keep` untouched /
    * `scrub` redact-and-keep / `drop` too contaminated to salvage), and
    * the redacted text (NULL for drops — they never reach the sink).
    *
    * Scale shape: a pure map over the one documents scan — a single
    * codegen'd regexp per row for the count and one for the rewrite, no
    * shuffle, no join; at 100 TB the scan absorbs it. The verdict is
    * integer products of exact BIGINTs (no float threshold to drift
    * cross-engine); the share is a single division surfaced for humans.
    */
  def blocklistScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val pat = "\\b(" + BlocklistTerms.mkString("|") + ")\\b"
    val nw = size(words(col("text"))).cast("long")
    val nh = size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), nw.as("n_words"), nh.as("n_hits"))
      .select(col("doc_id"), col("n_words"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_words")).as("hit_share"),
        when(col("n_hits") === 0L, "keep")
          .when(col("n_hits") * 100L < col("n_words") * ScrubMaxHitPct, "scrub")
          .otherwise("drop").as("action"),
        when(col("n_hits") * 100L >= col("n_words") * ScrubMaxHitPct &&
            col("n_hits") > 0L, lit(null).cast("string"))
          .otherwise(regexp_replace(col("text"), pat, "[REDACTED]"))
          .as("scrubbed"))
  }

  /** Token budget for [[tokenBudget]] as an exact fraction of the corpus
    * total (9/10: a deliberate under-budget so the waterfill level
    * genuinely splits the fixture's sources into binding and capped-out).
    */
  val BudgetNumer = 9L
  val BudgetDenom = 10L

  /** X-C52: token-budget waterfilling — the mixture planner a token-
    * budgeted pretraining run executes before sampling: given a global
    * budget B (here [[BudgetNumer]]/[[BudgetDenom]] of the corpus), give
    * every source an EQUAL share of B except where a source simply doesn't
    * have that many tokens — those contribute everything they have
    * (`binding`) and their shortfall redistributes among the rest. This is
    * exact max-min-fair allocation, computed CLOSED-FORM (no iteration):
    * with sources sorted by capacity ascending, source i binds iff
    * cap_i · k_i ≤ B − Σ_{j<i} cap_j (k_i = sources from i on) — a pure
    * BIGINT inequality; binding is provably a prefix of that order, and
    * the water level for everyone else is one exact division
    * (B − Σ binding caps) / #non-binding.
    *
    * Scale shape: the corpus collapses to source-cardinality token counts
    * in one map-side-combinable aggregate; the sort window and the level
    * arithmetic run on that metadata-sized table (tens of rows at ANY
    * corpus size — the single-partition window is deliberate, not a
    * bottleneck). All comparisons integer, both emitted doubles single
    * exact divisions — engine-identical rows.
    */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.documents(spark, sfDir)
      .select(col("source"), size(words(col("text"))).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("cap"))
    val w = Window.orderBy(col("cap").asc, col("source").asc)
    val wAll = Window.partitionBy(lit(1))
    val flagged = per
      .withColumn("total", sum(col("cap")).over(wAll))
      .withColumn("budget", expr(s"(total * $BudgetNumer) div $BudgetDenom"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum_before",
        coalesce(sum(col("cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("n_sources", count(lit(1)).over(wAll))
      .withColumn("k_after", col("n_sources") - col("rn") + lit(1L))
      .withColumn("binding",
        col("cap") * col("k_after") <= col("budget") - col("cum_before"))
    val stats = flagged.agg(
      sum(when(col("binding"), col("cap")).otherwise(0L)).as("bound_caps"),
      sum(when(col("binding"), 0L).otherwise(1L)).as("n_free"))
    flagged.crossJoin(broadcast(stats))
      .withColumn("allocated",
        when(col("binding"), col("cap").cast("double"))
          .otherwise((col("budget") - col("bound_caps")).cast("double") /
            col("n_free")))
      .select(col("source"), col("cap").as("n_tokens"), col("binding"),
        col("allocated"),
        (col("allocated") / col("budget")).as("allocated_share"))
  }

  /** Language ID: n-gram/stopword-profile heuristic — see
    * [[predictedLangExpr]]; also surfaces the per-language hit counts.
    */
  def languageId(spark: SparkSession, sfDir: String): DataFrame = {
    // per-language counts are 16-bit lanes of ONE packed LangHits pass
    // (subexpression elimination collapses the repeated call in-project)
    val packed = graft.functions.LangIdExpressions.langHits(spark)
    val hits = LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      lang -> (shiftright(packed, 16 * i).bitwiseAND(lit(0xffffL)))
    }
    Tables.documents(spark, sfDir).select(
      (col("doc_id") +: hits.map { case (l, h) => h.cast("long").as(s"hits_$l") } :+
        predictedLangExpr(spark).as("predicted_lang")): _*)
  }

  /** X-C81: language-ID evaluation — per-language precision/recall/F1 of
    * [[predictedLangExpr]] against the corpus's labeled `lang` column: the
    * CLASSIFIER-EVAL loop every heuristic filter needs before its verdicts
    * gate a pipeline (a langid whose per-language recall is unknown
    * silently skews the training mixture; this is the table that catches
    * it). One row per true language: support, predicted count, true
    * positives, and the three derived metrics.
    *
    * Determinism: counts are exact BIGINTs from three map-side-combinable
    * aggregates over ONE corpus scan's (lang, pred) projection;
    * `prec`/`rec` are single divisions of exact BIGINTs, `f1` the fixed
    * written chain 2·p·r/(p+r); zero-denominator cases pinned to 0.0 by
    * explicit CASE in both engines (a language never predicted must read
    * prec 0, not null/inf). Hash-exact, unrounded.
    *
    * Scale shape: everything after the scan is language-cardinality; the
    * three count tables join broadcast. At 100 TB the labeled slice a
    * pipeline evaluates against rides the same plan unchanged.
    */
  def langidEval(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("lang"), predictedLangExpr(spark).as("pred"))
    val nTrue = base.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
    val nPred = base.groupBy(col("pred")).agg(count(lit(1)).as("n_pred"))
      .withColumnRenamed("pred", "lang")
    val tp = base.where(col("lang") === col("pred"))
      .groupBy(col("lang")).agg(count(lit(1)).as("tp"))
    val prec = when(col("n_pred") > 0,
      col("tp").cast("double") / col("n_pred").cast("double")).otherwise(0.0)
    val rec = col("tp").cast("double") / col("n_true").cast("double")
    nTrue.join(broadcast(nPred), Seq("lang"), "left")
      .join(broadcast(tp), Seq("lang"), "left")
      .na.fill(0L, Seq("n_pred", "tp"))
      .select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
        prec.as("prec"), rec.as("rec"))
      .withColumn("f1", when(col("prec") + col("rec") > 0,
        lit(2.0) * col("prec") * col("rec") / (col("prec") + col("rec")))
        .otherwise(0.0))
  }

  /** Quality cutoff for corpus curation ([[curatedCorpus]]). */
  val MinQuality = 0.25

  /** The end-to-end curation pipeline a training-data run executes: keep
    * documents that (1) score at least [[MinQuality]], (2) are identified as
    * English, and (3) are not non-canonical members of a near-duplicate
    * cluster. Plan shape for 100 TB: signals (1) and (2) are inline column
    * expressions over a single documents scan — no self-joins — and (3) is
    * one broadcast anti-join against the duplicate-cluster drop list, which
    * is orders of magnitude smaller than the corpus (it holds only docs
    * inside some duplicate cluster). One scan, zero corpus shuffles.
    */
  def curatedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val dupDrop = DedupOps.duplicateClusters(spark, sfDir)
      .where(!col("is_canonical")).select(col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_words"),
        qualityScoreExpr.as("quality_score"),
        predictedLangExpr(spark).as("predicted_lang"))
      .where(col("quality_score") >= MinQuality && col("predicted_lang") === "en")
      .join(broadcast(dupDrop), Seq("doc_id"), "left_anti")
  }

  /** Drop-reason funnel for [[curatedCorpus]] — the monitoring query every
    * curation pipeline ships next to its filter: corpus size after each
    * successive stage (quality → language → dedup), one aggregation row.
    * Same single-scan shape; the dedup flag arrives by broadcast left join.
    */
  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val dupDrop = DedupOps.duplicateClusters(spark, sfDir)
      .where(!col("is_canonical"))
      .select(col("doc_id"), lit(true).as("is_dup_drop"))
    val q = col("quality_score") >= MinQuality
    val l = col("predicted_lang") === "en"
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), qualityScoreExpr.as("quality_score"),
        predictedLangExpr(spark).as("predicted_lang"))
      .join(broadcast(dupDrop), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(q, 1L).otherwise(0L)).as("n_quality"),
        sum(when(q && l, 1L).otherwise(0L)).as("n_lang"),
        sum(when(q && l && col("is_dup_drop").isNull, 1L).otherwise(0L))
          .as("n_curated"))
  }

  /** Hashed-feature bucket count for [[dsirWeights]] (DSIR uses 10k buckets
    * at web scale; 256 keeps every bucket populated at test SF while the
    * stats tables stay broadcast-sized at ANY corpus size — that invariance
    * is the method's scaling trick).
    */
  val DsirBuckets = 256

  /** X-C41: DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-bigram features are under a TARGET
    * distribution (here: the [[MinQuality]]-curated subset — in production,
    * a trusted domain corpus) than under the raw-corpus SOURCE
    * distribution. Bag-of-hashed-bigrams with Laplace (+1) smoothing:
    * `weight(d) = Σ_f c_{d,f} · (ln p̂_tgt(f) − ln p̂_src(f))`; a document
    * is `selected` when the ratio favors the target (weight > 0) — the
    * deterministic analog of DSIR's importance resampling step.
    *
    * Scale shape (re-planned r11 — VERDICT r10 #3: the old plan's
    * per-(doc, in_target, f) aggregate shuffled corpus-linear keys and its
    * lineage was re-derived by the scoring join, making this the costliest
    * 100× deep point at 75.9 s):
    *
    *  1. stats pass — ONE exploded scan folds straight to the
    *     ≤[[DsirBuckets]]-key (sc, tc) table (map-side combined; each task
    *     emits ≤ B counters — nothing per-doc ever shuffles). The B-row
    *     table collects driver-side (the centroids discipline) where the
    *     Laplace log-ratios are computed on the anchored grid.
    *  2. scoring pass — one codegen'd explode → per-doc count+sum of the
    *     256-entry quantized log-ratio LITERAL (`element_at` on a
    *     broadcast-free constant): map-side combinable, the only shuffle
    *     carries one row per document. (An `aggregate` HOF over the bigram
    *     array would be zero-shuffle but falls out of whole-stage codegen —
    *     measured 4x slower at sf0.1: 2.28 s vs 0.55 s.)
    *
    * Anchored (r11, retiring the lint-whitelist entry): each bucket's
    * log-ratio is a four-term [[graft.functions.DetLog]] chain — the
    * driver-side Scala twin is bit-identical to the oracle's SQL twin by
    * construction — quantized to the [[LogScale]] grid, so per-doc weights
    * are EXACT integer sums (≤ 1e4 terms × ≤ 4e13 → no overflow),
    * order-free, divided and rounded once at emission.
    */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val B = DsirBuckets
    // stats pass (r13, VERDICT r12 #7): the codegen'd [[graft.functions
    // .DsirHist]] kernel emits ONE 256-long bucket histogram per document
    // (slices hashed in place, single-block FastMd5), and posexplode
    // carries ≤256 rows/doc — not ~10⁴ exploded bigram strings — into the
    // 256-group map-side-combined sum. Bucket values are bit-identical to
    // the composed h24(bigram) % B, so sc/tc (and with them the oracle's
    // replay) are unchanged.
    import org.apache.spark.sql.GraftBridge
    val histCol = GraftBridge.column(graft.functions.DsirHist(
      GraftBridge.expression(col("text")), B))
    val stats = Tables.documents(spark, sfDir)
      .select((qualityScoreExpr >= MinQuality).as("in_target"),
        histCol.as("hist"))
      .select(col("in_target"), posexplode(col("hist")).as(Seq("f", "c")))
      .where(col("c") > 0L)
      .groupBy(col("f"))
      .agg(sum(col("c")).as("sc"),
        sum(when(col("in_target"), col("c")).otherwise(0L)).as("tc"))
      .collect()
    val sc = Array.fill(B)(0L)
    val tc = Array.fill(B)(0L)
    stats.foreach { r =>
      val f = r.getInt(0); sc(f) = r.getLong(1); tc(f) = r.getLong(2)
    }
    val (sTot, tTot) = (sc.sum, tc.sum)
    import graft.functions.DetLog.lnScala
    // Spark's Round(double) semantics exactly: shortest-repr BigDecimal,
    // HALF_UP — the same result DuckDB's exact-binary round produces (the
    // boundary sign of a double vs its shortest decimal repr never flips)
    def q(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val lq: Array[Long] = Array.tabulate(B) { f =>
      val chain = ((lnScala(tc(f) + 1) - lnScala(tTot.toLong + B)) -
        lnScala(sc(f) + 1)) + lnScala(sTot.toLong + B)
      q(chain * 1.0e12)
    }
    // scoring pass (r13, VERDICT r12 #7): the codegen'd [[graft.functions
    // .DsirScore]] kernel — one linear pass per document hashing bigram
    // text SLICES in place — replaces the explode + concat_ws +
    // element_at(256-literal) shape (~10⁴ exploded rows per document and
    // a string allocation per bigram, the 55 s 100× deep point). n_feats
    // is size(words)−1 by construction; docs with no bigrams are dropped,
    // exactly as the exploded form's empty arrays produced no row.
    import org.apache.spark.sql.GraftBridge
    val wqKernel = GraftBridge.column(graft.functions.DsirScore(
      GraftBridge.expression(col("text")), lq))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (size(words(col("text"))) - 1).cast("long").as("n_feats"),
        wqKernel.as("wq"))
      .where(col("n_feats") >= 1)
      .select(col("doc_id"), col("n_feats"),
        round(col("wq").cast("double") / lit(1.0e12), 6).as("dsir_weight"))
      .withColumn("selected", col("dsir_weight") > 0)
  }

  /** Benchmark/eval set for the decontamination demo: the first
    * [[BenchmarkDocs]] doc_ids stand in for an eval suite. In production
    * this is a separate (and small) table; everything below only relies on
    * it being small relative to the corpus.
    */
  val BenchmarkDocs = 10

  /** Fraction of a document's distinct shingles shared with the benchmark
    * set above which it is flagged contaminated.
    */
  val ContaminationMinOverlap = 0.5

  /** Train-test decontamination: for every corpus document, the share of
    * its distinct 3-gram shingles that also occur in the benchmark set —
    * docs above [[ContaminationMinOverlap]] must be dropped before training
    * or eval numbers are fiction. Scale shape: the benchmark shingle set is
    * tiny (eval suites are KBs against a 100-TB corpus), so the overlap
    * test is a broadcast semi-ish join — the corpus-side shingle table
    * (already staged once for the dedup chain) never shuffles on content;
    * the only exchange is the map-side-combinable per-doc count. Emits only
    * docs with nonzero overlap (the interesting set).
    */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = DedupOps.distinctShingles(spark, sfDir)
    val benchShingles = sh.where(col("doc_id") < BenchmarkDocs)
      .select(col("shingle")).distinct()
    val corpus = sh.where(col("doc_id") >= BenchmarkDocs)
    val shared = corpus
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    val totals = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    shared.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        (col("n_shared").cast("double") / col("n_shingles")).as("overlap"),
        (col("n_shared").cast("double") / col("n_shingles") >=
          ContaminationMinOverlap).as("contaminated"))
  }

  /** Per-language sampling rates (percent) for [[stratifiedSample]]:
    * downsample the dominant language, keep the rest.
    */
  val SampleRates: Seq[(String, Int)] = Seq("en" -> 20, "und" -> 100)

  /** Deterministic stratified sampling: keep a doc iff
    * h24("sample:" + doc_id) mod 100 < its language's rate. No `rand()` —
    * the decision is a pure function of the row, so retried tasks at scale
    * make the same choice, reruns reproduce the same sample, and the DuckDB
    * oracle can replay it exactly. One narrow scan, zero shuffles.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = SampleRates.foldRight(lit(0)) { case ((lang, r), acc) =>
      when(col("predicted_lang") === lang, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), predictedLangExpr(spark).as("predicted_lang"))
      .withColumn("bucket",
        Tables.h24(concat(lit("sample:"), col("doc_id").cast("string"))) % 100)
      .where(col("bucket") < rate)
      .select(col("doc_id"), col("predicted_lang"))
  }

  /** Width of each [[tokenHistogram]] bucket (whitespace tokens). */
  val HistBucketWidth = 25

  /** Corpus token-length histogram: doc counts and token mass per
    * fixed-width length bucket — the distribution every curation run
    * inspects before choosing truncation/packing lengths. One
    * map-side-combinable aggregation over a narrow scan.
    */
  def tokenHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val n = size(words(col("text"))).cast("long")
    Tables.documents(spark, sfDir)
      .select((n / HistBucketWidth).cast("long").as("bucket"), n.as("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
  }

  /** Chunk geometry for [[docChunks]]: window length and stride in tokens
    * (stride < window ⇒ consecutive chunks overlap by `ChunkLen −
    * ChunkStride` tokens, the standard RAG/pretraining overlap).
    */
  val ChunkLen = 64
  val ChunkStride = 48

  /** X-C20: overlapping token-window chunking — the document splitter every
    * RAG index and long-context training pipeline runs: each document's
    * token stream becomes windows of [[ChunkLen]] tokens starting every
    * [[ChunkStride]], tail windows shorter. Emits per chunk its ordinal,
    * 1-based start token, length, and the portable h24 content hash of the
    * chunk text (the dedup/index key — chunk-level dedup composes with the
    * dd_* family downstream).
    *
    * Scale shape: entirely NARROW — one documents scan, `sequence` +
    * `explode` per doc (chunk count ∝ doc length, never corpus size), a
    * `slice` on the ALREADY-MATERIALIZED word array (the
    * [[graft.functions.TextFunctions.shingles3OfWords]] lesson: splitting
    * inside the per-chunk expression would re-tokenize per chunk —
    * O(tokens²/stride) per doc), zero shuffles. At 100 TB this is pure
    * map-side throughput.
    */
  def docChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val stride = lit(ChunkStride.toLong)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n"))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(1L), col("n"), stride)).as("s"))
      .select(col("doc_id"),
        ((col("s") - 1) / stride).cast("long").as("chunk_idx"),
        col("s").as("start_token"),
        least(lit(ChunkLen.toLong), col("n") - col("s") + 1).as("chunk_tokens"),
        Tables.h24(array_join(
          slice(col("w"), col("s").cast("int"),
            least(lit(ChunkLen), (col("n") - col("s") + 1).cast("int"))), " "))
          .as("chunk_hash"))
  }

  /** Split fractions for [[datasetSplits]]: cumulative percent bounds —
    * h24-bucket < 90 ⇒ train, < 95 ⇒ val, else test.
    */
  val SplitTrainPct = 90
  val SplitValPct = 95

  /** X-C44: LEAKAGE-SAFE split manifest — near-duplicate clusters must land
    * wholly in one split, or eval rows have verbatim twins in train and the
    * held-out numbers are fiction (the classic test-set-leakage bug a plain
    * per-doc hash split ships silently). Every document routes by the same
    * h24-mod rule as [[datasetSplits]], but keyed on its duplicate-cluster
    * id ([[DedupOps.duplicateClusters]]' min-doc_id label; singletons key
    * on their own doc_id — for them the assignment is IDENTICAL to the
    * naive split, so adopting the leak-safe manifest reroutes only
    * near-dup members). Emits the per-doc verdict: split key, assigned
    * split, what the naive per-doc split would have said, and whether the
    * doc moved — `moved AND split <> naive` rows are exactly the leaks the
    * naive manifest would have shipped.
    *
    * Scale shape: one narrow documents scan left-joined to the (dup-docs
    * only, far smaller than the corpus) cluster table on doc_id; the split
    * decision is a pure per-row hash — no new shuffle beyond that join.
    */
  def leakSafeSplits(spark: SparkSession, sfDir: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) = {
      val b = Tables.h24(concat(lit("split:"), c.cast("string"))) % 100
      when(b < SplitTrainPct, "train")
        .when(b < SplitValPct, "val").otherwise("test")
    }
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(DedupOps.duplicateClusters(spark, sfDir)
        .select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("split_key"))
      .select(col("doc_id"), col("split_key"),
        splitOf(col("split_key")).as("split"),
        splitOf(col("doc_id")).as("naive_split"))
      .withColumn("moved", col("split") =!= col("naive_split"))
  }

  /** X-C21: deterministic train/val/test split manifest — the contract
    * every training run pins before touching data: each document routes to
    * a split by the same retry-safe h24-mod rule as [[stratifiedSample]]
    * (reproducible row-for-row at any scale, no `rand()`), and the manifest
    * reports per-split doc counts, token totals, and the realized doc
    * share. One narrow projection + one 3-group map-side-combinable
    * aggregate; the global total for the share rides a 3-row window, so
    * nothing beyond per-split partials ever moves.
    */
  def datasetSplits(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = Tables.h24(concat(lit("split:"), col("doc_id").cast("string"))) % 100
    val perSplit = Tables.documents(spark, sfDir)
      .select(
        when(bucket < SplitTrainPct, "train")
          .when(bucket < SplitValPct, "val").otherwise("test").as("split"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    perSplit
      .withColumn("n_total",
        sum(col("n_docs")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
      .select(col("split"), col("n_docs"), col("total_tokens"),
        (col("n_docs").cast("double") / col("n_total")).as("doc_share"))
  }

  /** Tokens per packed training sequence ([[sequencePacking]]). */
  val SeqLen = 2048

  /** Shards for parallel packing — at 100 TB this is O(partitions); each
    * shard packs independently with zero cross-shard coordination.
    */
  val PackShards = 8

  /** Sequence packing: assign every document a (shard, sequence, offset)
    * slot in the fixed-length token stream a pretraining run consumes.
    * Token-offset packing (docs may straddle sequence boundaries, handled
    * downstream by attention masks): within a shard, a doc's start offset
    * is the running token count before it, and its sequence id is
    * `start / SeqLen`. One shuffle on the shard key, a value-ordered
    * running sum per shard — no global order, no driver state, shards
    * scale out independently.
    */
  def sequencePacking(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", (col("start_offset") / SeqLen).cast("long"))
  }

  /** Repetition scoring (Gopher-style quality signal): per document, the
    * mass fraction of its most frequent word and the duplicate-word
    * fraction — high values flag boilerplate/spam for the curation filter.
    * Two aggregations, both keyed by doc_id so the second reuses the
    * first's partitioning; both map-side combinable. No per-doc state
    * beyond the aggregation buffers — nothing quadratic at 100 TB.
    */
  def repetitionScores(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_words"),
        (col("top_c").cast("double") / col("n_words")).as("top_word_frac"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_words"))
          .as("dup_word_frac"))

  /** Sampling temperature: keep-rate ∝ sqrt(min_count / lang_count) —
    * sqrt because it's the alpha=0.5 temperature AND is exactly-rounded
    * IEEE (unlike pow), so Spark and DuckDB compute bit-identical rates.
    */
  val MixAlphaNote = 0.5

  /** Temperature-based language rebalancing: downsample over-represented
    * languages toward the rarest one's count with deterministic hash
    * selection — the source/language-mixing step of a pretraining data
    * recipe. Per-language counts are one tiny aggregate broadcast back
    * onto the corpus scan; selection is the same retry-safe h24-mod rule
    * as [[stratifiedSample]], so the result is reproducible row-for-row
    * at any scale and under any retry.
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min(col("n_lang")).as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col("lang"),
        floor(lit(100) * sqrt(col("min_n").cast("double") / col("n_lang").cast("double")))
          .cast("long").as("keep_pct"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .join(broadcast(rates), Seq("lang"))
      .where(Tables.h24(concat(lit("mix:"), col("doc_id").cast("string"))) % 100
        < col("keep_pct"))
      .select(col("doc_id"), col("lang"), col("keep_pct"))
  }

  /** The training-data SINK: write the packed corpus ([[sequencePacking]])
    * as hive-partitioned parquet, one directory per shard, rows sorted by
    * (seq_id, start_offset) WITHIN each file. This is the layout a
    * pretraining loader consumes: shard directories map to data-parallel
    * ranks, and the intra-file sort means a sequential read replays
    * sequences in order — no loader-side shuffle. `repartition(shard)` +
    * `sortWithinPartitions` is the scale-correct recipe: one exchange, a
    * per-partition sort (never global), and partition count = shard count
    * regardless of corpus size.
    */
  def writeTrainingShards(spark: SparkSession, sfDir: String, outDir: String): Unit =
    sequencePacking(spark, sfDir)
      .repartition(PackShards, col("shard"))
      .sortWithinPartitions(col("seq_id"), col("start_offset"))
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(outDir)

  /** Document fingerprinting: winnowing-style representative shingle — the
    * minimum-hash shingle of each document (rolling-hash family; the h24
    * hash plays the rolling polynomial's role, portable to the oracle).
    */
  /** X-C11: lexical rarity scoring — the TF-IDF backbone with an exact
    * oracle: per-document mean corpus document-frequency of its distinct
    * words (a low mean = rare vocabulary; the pretraining signal for
    * jargon/garbage vs boilerplate). Stays in integers until the final
    * division of two exact counts, so the score is engine-portable where a
    * log-based IDF would drift in the last ulp. Plan: the exploded
    * (doc, word) pairs aggregate to the vocabulary once (shuffle on word);
    * the pairs→vocab join lands on that same partitioning, and the per-doc
    * reduce is the only other shuffle. At 100 TB the vocabulary side is
    * Zipf-concentrated — AQE's skew split handles the head words, or salt
    * them like `xp_salted_flag_revenue`.
    */
  def rarityScores(spark: SparkSession, sfDir: String): DataFrame = {
    val dw = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(words(col("text")))).as("word"))
    val vocab = dw.groupBy(col("word")).agg(count(lit(1)).as("doc_freq"))
    dw.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_words"),
        (sum(col("doc_freq")).cast("double") / count(lit(1))).as("mean_doc_freq"))
  }

  /** X-C13: top-k bigrams per language by document frequency — the n-gram
    * collocation table a corpus-analysis pass produces. Bigrams derive from
    * the same whitespace tokens as the shingle pipeline; ties break
    * lexicographically so the top set is deterministic cross-engine.
    *
    * Plan (VERDICT r10 #1 — the heavy-hitter discipline of
    * [[graft.operators.RelationalOps.heavyHitterSuppliers]] applied to the
    * collocation table): the r10 plan's per-(lang, bigram) hash-aggregate
    * state grows with DISTINCT bigrams — Heaps' law, unbounded at 100 TB.
    * This plan bounds the shuffled key set by a constant instead:
    *
    *  1. sketch pass — ONE scan folds each language's hashed-bigram stream
    *     into a ≤`mgCapacity`-counter [[graft.functions.FrequencyAgg]]
    *     Misra–Gries sketch (map-side combined; kilobytes per task on the
    *     wire regardless of vocabulary size), alongside the exact per-lang
    *     stream total n.
    *  2. confirm pass — exact doc-counts restricted to the candidate hashes
    *     via a broadcast semi-filter; the aggregate now carries ≤ capacity
    *     keys per language, never the vocabulary. The bounded counter table
    *     (≤ capacity·|langs| rows — metadata-sized) collects to the driver,
    *     which takes the top-k with the total tie-break order.
    *  3. completeness gate — MG guarantees any key with true count
    *     > n/(capacity+1) survives the sketch, so if each language's k-th
    *     confirmed count STRICTLY exceeds n/(capacity+1), no absent key can
    *     displace the top-k (strict > also covers lexicographic ties), and
    *     the fast result is provably the exact answer. Measured margin on
    *     this corpus: kth=59 vs bound 8.9 at sf0.1, and both sides scale
    *     linearly with the corpus so the gate is scale-invariant. If any
    *     language fails the gate (tiny universe, flat distribution), fall
    *     back to the exact r10 plan — same rows either way, so the output
    *     is deterministic regardless of which path ran.
    *
    * Hash collisions only merge sketch counters upward (a colliding key
    * survives MORE easily) and the confirm pass counts true bigrams, so
    * collisions can add candidates but never lose one.
    */
  def topBigramsPerLang(spark: SparkSession, sfDir: String, k: Int = 3,
                        mgCapacity: Int = 4096): DataFrame = {
    // the sketch pass and the exact-confirm pass both need the distinct-
    // bigram stream; CONSTRUCTING it dominates, so materialize the per-doc
    // bigram ARRAYS once and re-explode per pass (VERDICT r11 #7). Caching
    // at the pre-explode level matters: the array rows are
    // corpus-cardinality (one per doc, columnar-compressed), where the
    // exploded stream is ~200× more rows — a full exploded-level cache was
    // MEASURED SLOWER than the rebuild at the 100× deep point (82 s vs
    // 73 s; the per-row cache overhead outran the saved build). r13: the
    // construction itself is the fused [[graft.functions.TextBigrams]]
    // kernel — one byte walk copying bigram SLICES, first-occurrence dedup
    // in the same pass — replacing split + transform/concat_ws +
    // array_distinct (byte-identical output strings, oracle unchanged).
    import org.apache.spark.sql.GraftBridge
    val bgsKernel = GraftBridge.column(graft.functions.TextBigrams(
      GraftBridge.expression(col("text")), distinct = true))
    val arrays = Tables.documents(spark, sfDir)
      .select(col("lang"), bgsKernel.as("bgs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def stream = arrays
      .select(col("lang"), explode(col("bgs")).as("bigram"))
      .withColumn("bh", xxhash64(col("bigram")))

    val mg = udaf(new graft.functions.FrequencyAgg(mgCapacity))
    val sketch = stream.groupBy(col("lang"))
      .agg(mg(col("bh")).as("cands"), count(lit(1)).as("n_lang"))
    val cands = sketch.select(col("lang"), explode(col("cands")).as("bh"),
      col("n_lang"))
    // exact confirm over candidate keys only: the aggregate's key set is
    // ≤ capacity per language by construction, so it collects driver-side
    // like centroids/codebooks do — one bigram build + two cheap re-explodes
    val confirmed =
      try stream
        .join(broadcast(cands), Seq("lang", "bh"))
        .groupBy(col("lang"), col("n_lang"), col("bigram"))
        .agg(count(lit(1)).as("doc_freq"))
        .collect()
      finally { arrays.unpersist(); () }
    val byLang = confirmed.groupBy(_.getString(0))
    val gatePassed = byLang.nonEmpty && byLang.forall { case (_, rows) =>
      val nLang = rows.head.getLong(1)
      val top = rows.sortBy(r => (-r.getLong(3), r.getString(2))).take(k)
      top.length == k &&
        top.last.getLong(3) * (mgCapacity + 1).toLong > nLang
    }
    if (gatePassed) {
      import scala.jdk.CollectionConverters._
      val rows = byLang.toSeq.sortBy(_._1).flatMap { case (_, rs) =>
        rs.sortBy(r => (-r.getLong(3), r.getString(2))).take(k)
          .map(r => org.apache.spark.sql.Row(
            r.getString(0), r.getString(2), r.getLong(3)))
      }
      spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("bigram",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("doc_freq",
            org.apache.spark.sql.types.LongType, nullable = false))))
    } else {
      // exact fallback — the r10 plan; taken only when the gate cannot
      // PROVE completeness (the result is identical when both paths ran)
      val langBigram = stream
        .groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("doc_freq"))
      graft.plans.TopKPerKey(langBigram, k, Seq("lang"),
        Seq("doc_freq" -> false, "bigram" -> true))
    }
  }

  /** Bigram-model size for [[bigramCoverage]] — top-M corpus bigrams. */
  val CoverageModelSize = 200

  /** X-C36: language-model-style quality signal — per-document coverage of a
    * corpus-level bigram model, the cheap stand-in for "how much of this
    * text looks like fluent corpus text" that pretraining filters use
    * before any neural LM is in reach. Two passes over one exploded
    * occurrence stream: (1) build the model = top-M bigrams by occurrence
    * count (TakeOrderedAndProject — per-partition heaps, no global sort;
    * ties broken by bigram so the M-th slot is engine-independent), (2)
    * broadcast the M-row model back onto the occurrences and count per-doc
    * hits. At 100 TB the only shuffles are the two map-side-combinable
    * counts; the model never exceeds M rows so the join side is always a
    * broadcast. Coverage is ONE IEEE division of two exact longs — hash-
    * stable across engines.
    */
  def bigramCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    // occurrences, NOT distinct: coverage weights repeated bigrams; the
    // array is the r13 [[graft.functions.TextBigrams]] slice kernel
    import org.apache.spark.sql.GraftBridge
    val bgsKernel = GraftBridge.column(graft.functions.TextBigrams(
      GraftBridge.expression(col("text")), distinct = false))
    val occ = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(bgsKernel).as("bigram"))
    val model = occ.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(CoverageModelSize)
      .select(col("bigram"), lit(1L).as("hit"))
    val perDoc = occ.join(broadcast(model), Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0L))).as("covered"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("covered").cast("double") / col("n_bigrams").cast("double"))
          .as("coverage"))
  }

  /** Posting-list hash buckets for the inverted-index layout. At 100 TB
    * this is sized so one bucket's posting lists fit a scan task comfortably
    * (thousands); 16 here keeps the sf fixtures to a few files per bucket
    * while still demonstrating pruning.
    */
  val IndexBuckets = 16

  /** Terms the registered search query looks up (both occur corpus-wide). */
  val SearchTerms: Seq[String] = Seq("spark", "window")

  /** The inverted index: (word, doc_id, tf, positions) postings — one row
    * per distinct (word, doc) pair carrying the term frequency and the
    * sorted 0-based token positions — staged once per session
    * hive-partitioned by `bucket = h24(word) % IndexBuckets`. The partition
    * column is a pure function of the word, so a term lookup knows its
    * bucket at PLAN time — that is what turns a keyword query from a corpus
    * scan into a directory-pruned posting-list read. ONE layout serves all
    * three retrieval modes: boolean lookup ignores tf+positions, ranked
    * scoring reads tf, phrase matching reads positions — parquet column
    * pruning drops whatever a query doesn't touch. The build is one
    * map-side-combinable (doc, word) aggregation — write-once layout work,
    * like every X-P staging move.
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "inverted_index", Tables.Parquet(Seq("bucket"))) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), words(col("text")).as("ws"))
        // dl (doc token count) rides denormalized on every posting row —
        // the Lucene norms move: length normalization is then answerable
        // from the pruned postings alone, no doc-table join at query time
        .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
          posexplode(col("ws")).as(Seq("pos", "word")))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"),
          max(col("dl")).as("dl"))
        .withColumn("bucket", Tables.h24(col("word")) % IndexBuckets)
    }

  /** One-row corpus statistics the scorer needs (doc count + mean doc
    * length) — computed once per session at index time and held on the
    * driver like every tiny derived fixture: at 100 TB these are index-build metadata,
    * not a query-time corpus aggregation.
    */
  def indexDocStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "index_doc_stats", Tables.Local) {
      Tables.documents(spark, sfDir)
        .select(size(words(col("text"))).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    }

  /** X-P16: inverted-index keyword search — conjunctive term lookup (docs
    * containing ALL query terms) answered from the posting lists alone.
    * Each term's bucket is computed driver-side with the JVM twin of the
    * `h24` column hash ([[graft.functions.MinHashAgg.h24]]) and becomes an
    * `isin` literal, so the scan partition-prunes to |terms| buckets out of
    * [[IndexBuckets]] — the corpus text is NEVER read at query time. The
    * conjunction is one aggregation over the pruned postings (doc qualifies
    * when it matched every distinct term). At 100 TB the index is the
    * written-once layout and each query touches only its terms' posting
    * lists — the searchable-corpus move, in plain parquet + partitioning.
    * Oracle: the direct word-membership scan of `documents`.
    */
  def keywordSearch(spark: SparkSession, sfDir: String,
                    terms: Seq[String] = SearchTerms): DataFrame = {
    val buckets = terms
      .map(t => graft.functions.MinHashAgg.h24(t) % IndexBuckets).distinct
    invertedIndex(spark, sfDir)
      .where(col("bucket").isin(buckets: _*) && col("word").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("word")).as("n_terms"))
      .where(col("n_terms") === terms.distinct.size)
      .select(col("doc_id"))
  }

  /** X-C63: per-source language-mix audit — document counts, distinct
    * languages, and the Gini–Simpson diversity 1 − Σ(c_l/n)² per source:
    * the corpus-composition chart a multilingual pipeline reads before
    * setting mixture weights (a "diverse" source at 0 is single-language;
    * ~1−1/k is a uniform k-language mix). Diversity is chosen over Shannon
    * entropy deliberately: it needs NO logarithm — Σc² is an exact BIGINT
    * sum and the diversity one exact division, so rows hash
    * engine-identically (ln's last ulp differs across engines). One
    * (source, lang) collapse then a source-cardinality rollup, both
    * map-side combinable.
    */
  def sourceLangMix(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        (lit(1.0d) - col("sum_sq").cast("double") /
          (col("n_docs") * col("n_docs")).cast("double")).as("simpson_diversity"))

  /** X-C66: Heaps'-law vocabulary-growth curve — per corpus decile (docs
    * bucketed by `(doc_id·10) div n`), the count of token types first seen
    * in that decile and the cumulative vocabulary size: the sublinearity
    * audit every tokenizer/dedup pipeline reads (healthy text grows vocab
    * ~n^β, β<1; near-LINEAR growth means ids/noise/junk are flooding the
    * type space and the tokenizer budget is mis-sized). Distributed shape:
    * "vocabulary at prefix n" is NOT a running distinct (a sequential
    * notion) — it collapses to one `min(doc_id)` per token (first
    * occurrence), so the corpus cost is exactly the vocabulary aggregation
    * [[vocabulary]] already pays, then the curve is a decile rollup of the
    * vocab-sized first-seen table plus a 10-row cumulative window (bounded,
    * deliberately single-partition). Doc counts per decile come from a
    * second map-side aggregate of the documents scan; all values exact
    * BIGINTs, engine-identical.
    */
  def heapsCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val newTypes = docs
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(n))
      .select(expr("(first_doc * 10) div n_docs").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
    val docsIn = docs.crossJoin(broadcast(n))
      .select(expr("(doc_id * 10) div n_docs").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_docs_in"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
    docsIn.join(newTypes, Seq("decile"), "left")
      .select(col("decile"), col("n_docs_in"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .select(col("decile"),
        sum(col("n_docs_in")).over(w).as("docs_seen"),
        col("new_types"),
        sum(col("new_types")).over(w).as("vocab_size"))
  }

  /** Tokens of context on each side of a hit in [[searchSnippets]]. */
  val SnippetRadius = 3

  /** X-C57: keyword-in-context snippets — the result-rendering half of
    * search: for every document matching ALL [[SearchTerms]], each term's
    * FIRST occurrence position and a ±[[SnippetRadius]]-token window
    * around it (clipped at the document edges) — what a search UI shows
    * under each hit. Plan shape: the match list comes from the
    * partition-pruned posting index ([[keywordSearch]] — the corpus text
    * is NOT scanned to find matches), then one semi-joined documents scan
    * computes positions and windows as narrow in-row array ops
    * (`array_position`/`slice`, codegen'd, no explode). Positions are
    * exact 1-based ints; snippets are deterministic substrings — rows
    * hash engine-identically.
    */
  def searchSnippets(spark: SparkSession, sfDir: String,
      terms: Seq[String] = SearchTerms): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .join(keywordSearch(spark, sfDir, terms), Seq("doc_id"), "leftsemi")
      .select(col("doc_id"), words(col("text")).as("w"))
    terms.map { t =>
      docs
        .withColumn("term", lit(t))
        .withColumn("pos", array_position(col("w"), lit(t)))
        .withColumn("s", greatest(col("pos") - SnippetRadius, lit(1L)))
        .withColumn("e",
          least(col("pos") + SnippetRadius, size(col("w")).cast("long")))
        .select(col("doc_id"), col("term"), col("pos"),
          array_join(expr("slice(w, int(s), int(e - s + 1))"), " ")
            .as("snippet"))
    }.reduce(_.unionAll(_))
  }

  /** Result size of the registered ranked search. */
  val SearchTopK = 20

  /** X-P17: ranked retrieval over the same posting-list layout — disjunctive
    * (any-term) search scored by tf × inverse document frequency, top-k.
    * Per-term document frequencies come from the PRUNED postings themselves
    * (a term's full posting list lives in its bucket, so the df is exact),
    * the corpus size joins in as a one-row broadcast, and the per-doc score
    * is one aggregation over the pruned postings — the text is never read.
    * Numeric portability: idf = n_docs/df is one exactly-rounded IEEE
    * division, each addend tf·idf one multiplication, and the registered
    * query sums TWO terms — float addition is commutative (only 3+-term
    * association drifts), so both engines produce bit-identical scores;
    * ties at the k boundary break by doc_id. At 100 TB this is BM25's plan
    * shape: broadcast df table, posting-only scan, one doc-keyed aggregate,
    * TakeOrderedAndProject.
    */
  def rankedSearch(spark: SparkSession, sfDir: String,
                   terms: Seq[String] = SearchTerms, k: Int = SearchTopK): DataFrame = {
    val buckets = terms
      .map(t => graft.functions.MinHashAgg.h24(t) % IndexBuckets).distinct
    val post = invertedIndex(spark, sfDir)
      .where(col("bucket").isin(buckets: _*) && col("word").isin(terms: _*))
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val dfreq = post.groupBy(col("word")).agg(count(lit(1)).as("df"))
    // per-term contributions quantize to the [[LogScale]] integer grid
    // BEFORE summing (r12, the whitelist-retiring move): each term score is
    // a bit-identical IEEE chain in both engines, so the grid round sees
    // identical operands, and the per-doc sum is then an EXACT long sum —
    // order-free under any partial-aggregation association. The 1e-12 grid
    // sits 6 orders below the 6-dp emission.
    val q = lit(LogScale.toDouble)
    post
      .join(broadcast(dfreq), Seq("word"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(round(col("tf") * (col("n_docs").cast("double") / col("df")) * q, 0)
          .cast("long")).as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_terms_hit"),
        round(col("score_q").cast("double") / q, 6).as("score"))
  }

  /** BM25 shape parameters (the standard Robertson defaults). */
  val Bm25K1 = 1.2
  val Bm25B  = 0.75

  /** X-P29: BM25-shaped ranked retrieval over the same posting layout —
    * [[rankedSearch]]'s plan with the two things raw tf·idf lacks: TERM
    * SATURATION (tf·(k1+1)/(tf+k1·…): the 50th occurrence of a term is
    * worth almost nothing more than the 10th — kills keyword-stuffed docs)
    * and LENGTH NORMALIZATION (the `dl/avgdl` interpolation: a term hit in
    * a short doc outranks the same hit buried in a long one). `dl` comes
    * from the posting rows themselves (denormalized at index build, the
    * Lucene-norms move) and `(n_docs, avgdl)` from the one-row stats table
    * staged at index time — so the query still touches ONLY its terms'
    * pruned posting lists.
    *
    * Numeric portability: the classic ln-idf is replaced by the rational
    * `n_docs/df` idf already established for [[rankedSearch]] — `ln` is
    * the one libm call whose last ulp differs across engines, while every
    * operation here (divide, multiply, ≤2-term commutative sum) is
    * exactly-rounded IEEE, so scores stay bit-identical cross-engine.
    * Both idfs are strictly decreasing in df, so the substitution
    * preserves BM25's df-ordering semantics; saturation and length
    * normalization — the parts being demonstrated — are exact BM25.
    */
  def bm25Search(spark: SparkSession, sfDir: String,
                 terms: Seq[String] = SearchTerms, k: Int = SearchTopK): DataFrame = {
    val buckets = terms
      .map(t => graft.functions.MinHashAgg.h24(t) % IndexBuckets).distinct
    val post = invertedIndex(spark, sfDir)
      .where(col("bucket").isin(buckets: _*) && col("word").isin(terms: _*))
    val dfreq = post.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val contrib =
      ((col("n_docs").cast("double") / col("df")) * (col("tf") * lit(Bm25K1 + 1))) /
        (col("tf") + lit(Bm25K1) *
          (lit(1 - Bm25B) + lit(Bm25B) * (col("dl").cast("double") / col("avgdl"))))
    // LogScale-grid quantization before the sum (r12): exact long
    // aggregation, association-order-free — see [[rankedSearch]]
    val q = lit(LogScale.toDouble)
    post
      .join(broadcast(dfreq), Seq("word"))
      .crossJoin(broadcast(indexDocStats(spark, sfDir)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(round(contrib * q, 0).cast("long")).as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_terms_hit"),
        round(col("score_q").cast("double") / q, 6).as("score"))
  }

  /** The phrase the registered positional query matches (in order). */
  val SearchPhrase: Seq[String] = Seq("big", "query")

  /** X-P18: positional phrase search — exact consecutive-words match
    * answered from the positions column of the SAME posting layout. The
    * query folds left over the phrase: the running state is each candidate
    * doc's set of positions where the phrase-so-far ENDS, and each next
    * term intersects (ends+1) with its own positions — docs whose set
    * empties drop out. Every per-term posting scan partition-prunes to its
    * bucket, the joins key on doc_id over posting-list-sized inputs, and
    * the intersection is a per-row array op — the corpus text is never
    * read, which is the whole point of carrying positions in the index.
    * Oracle: the padded `LIKE '% big query %'` scan (single-space word
    * separation makes the padded-substring test exactly the
    * consecutive-words test).
    */
  def phraseSearch(spark: SparkSession, sfDir: String,
                   phrase: Seq[String] = SearchPhrase): DataFrame = {
    require(phrase.nonEmpty)
    def postFor(t: String): DataFrame =
      invertedIndex(spark, sfDir)
        .where(col("bucket") ===
          graft.functions.MinHashAgg.h24(t) % IndexBuckets && col("word") === t)
    val first = postFor(phrase.head)
      .select(col("doc_id"), col("positions").as("ends"))
    phrase.tail.foldLeft(first) { (cur, t) =>
      cur.join(postFor(t).select(col("doc_id"), col("positions").as("nxt")), Seq("doc_id"))
        .select(col("doc_id"),
          array_intersect(transform(col("ends"), p => p + 1), col("nxt")).as("ends"))
        .where(size(col("ends")) > 0)
    }.select(col("doc_id"))
  }

  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    // one hash aggregate, map-side combinable: min(struct(h, shingle))
    // compares h first, then shingle — so .shingle is the lexicographically
    // least shingle among min-hash achievers (h24 collisions at the min are
    // rare but nonzero; arg_min alone would be nondeterministic there).
    // min is multiset-insensitive, so the scan is the dedup chain's cached
    // distinct-shingle table — one corpus explode shared across families.
    DedupOps.distinctShingles(spark, sfDir)
      .select(col("doc_id"), struct(h24(col("shingle")).as("h"), col("shingle")).as("hs"))
      .groupBy(col("doc_id"))
      .agg(min(col("hs")).as("mn"))
      .select(col("doc_id"), col("mn.h").as("fingerprint"),
        col("mn.shingle").as("rep_shingle"))

  /** Sample size for [[weightedSample]]. */
  val WSampleK = 50

  /** X-C31: deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis): each doc draws a pseudo-uniform
    * u = (h24("wsample:"+doc_id)+0.5)/2²⁴ and the k docs with the largest
    * u^(1/weight) win — compared in the log domain (ln u)/w, a monotone
    * transform. Inclusion probability is proportional-to-size in the
    * exponent sense of E–S, yet the draw is a pure function of the row
    * (no `rand()`): retried tasks re-decide identically, reruns reproduce
    * the sample, and the oracle replays it exactly — the same retry-safety
    * argument as [[stratifiedSample]], extended from Bernoulli to weighted
    * without-replacement. Plan: one narrow scan + TakeOrderedAndProject
    * (per-partition top-k, k-sized merge on the driver) — no global sort,
    * no shuffle of the corpus. u is an exact dyadic rational so both
    * engines see the same double; `ln` can differ in the last ulp across
    * libm builds, which flips the cut only if two keys are within ~1e-16
    * relative — with corpus-scale key gaps that is not a practical tie,
    * and doc_id breaks exact ones.
    */
  def weightedSample(spark: SparkSession, sfDir: String, k: Int = WSampleK): DataFrame = {
    val u = (Tables.h24(concat(lit("wsample:"), col("doc_id").cast("string"))) +
      lit(0.5)) / lit(16777216.0)
    Tables.documents(spark, sfDir)
      .where(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        (log(u) / col("n_chars")).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_chars"))
  }

  /** Vocabulary size for [[vocabulary]] — deliberately smaller than the
    * corpus vocabulary so [[encodeDocs]] exercises the OOV path.
    */
  val VocabSize = 24

  /** X-C32: frequency-ranked vocabulary build — the id-assignment step of
    * every tokenizer/embedding pipeline: distinct tokens with corpus term
    * frequency and doc frequency, ids 0..N-1 assigned by (tf desc, token
    * asc). The rank is a row_number over the AGGREGATED token table —
    * vocabulary-sized, orders of magnitude smaller than the corpus — so
    * the single-partition window sort is a deliberate, bounded driver-side
    * cost (same argument as the one-row broadcast in `xj_q15`); the corpus
    * itself only feeds one map-side-combinable count aggregation.
    */
  def vocabulary(spark: SparkSession, sfDir: String, n: Int = VocabSize): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("token"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .withColumn("id", (row_number().over(w) - 1).cast("long"))
      .where(col("id") < n)
  }

  /** X-C33: corpus encoding — every document as its ordered token-id array
    * under [[vocabulary]], OOV → -1, plus the token count. The vocab side
    * is broadcast (vocabulary-sized); the corpus side posexplodes, maps
    * token→id with one broadcast hash join (no shuffle of the corpus for
    * the lookup), and reassembles order with sort_array over (pos, id)
    * structs — the standard collect-ordered idiom, grouping only on
    * doc_id so the one real shuffle is corpus-row-sized. This is the
    * handoff shape from curation to training: fixed ids, preserved order,
    * ready for [[sequencePacking]].
    */
  def encodeDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = vocabulary(spark, sfDir).select(col("token"), col("id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(words(col("text"))))
      .withColumnRenamed("col", "token")
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"),
        coalesce(col("id"), lit(-1L)).as("id")))).as("arr"))
      .select(col("doc_id"),
        expr("transform(arr, s -> s.id)").as("ids"),
        size(col("arr")).cast("long").as("n_tokens"))
  }

  /** Merge rounds the BPE trainer runs (unrolled, like the k-means Lloyd
    * iterations — each round is one aggregation + one argmax + one literal
    * rewrite over the VOCABULARY table, never the corpus).
    */
  val BpeRounds = 10

  /** X-C39 shared state: the real BPE training loop. Words become
    * space-delimited character-symbol strings (leading/trailing sentinel
    * spaces); each round counts adjacent symbol pairs weighted by word
    * frequency (overlapping occurrences counted — the reference BPE
    * convention), picks the most frequent pair with a deterministic
    * (count desc, left, right) tie-break, and rewrites every word via
    * literal `replace(' l r ' → ' lr ')`. Both engines' literal replace
    * scans left-to-right non-overlapping, so for runs of an identical
    * symbol (`z z z z`) alternate occurrences merge per round rather than
    * all — a documented, deterministic edge semantics (regex-lookbehind
    * merging is unavailable: DuckDB's RE2 has no lookbehind); on natural
    * text the two coincide.
    *
    * Scale shape: training touches the corpus ONCE (the word-frequency
    * aggregation); all [[BpeRounds]] rounds operate on the vocabulary
    * table (≪ corpus), each best-pair is a one-row broadcast into the next
    * rewrite, and nothing is ever collected to the driver.
    *
    * Returns (per-round best-pair rows, final word→symbols state).
    */
  /** The BPE trainer's ONE corpus touch, staged: every round's plan (and
    * the encode query) reads the written word-frequency table, not the
    * corpus — without this, the union of [[BpeRounds]] round-bests would
    * rescan the corpus once per round.
    */
  private[graft] def bpeWordFreq(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "bpe_word_freq", Tables.Parquet()) {
      Tables.documents(spark, sfDir)
        .select(explode(words(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    }

  private def bpeTrain(spark: SparkSession, sfDir: String): (Seq[DataFrame], DataFrame) = {
    val w0 = bpeWordFreq(spark, sfDir)
    // each round's word→symbols state is STAGED (tiny, vocabulary-sized):
    // without this, round k's plan nests all k−1 prior argmax+rewrite
    // subplans and the 10-round union re-analyzes an O(R²) plan tree — the
    // first registered bench run measured 32 s of pure planning at
    // sf0.01. Staged, training is 10 sequential small jobs once per
    // session and every consumer reads flat parquet.
    var cur = Tables.stage(spark, sfDir, "bpe_syms_0", Tables.Parquet()) {
      w0.select(col("word"), col("freq"),
        concat(lit(" "),
          concat_ws(" ", transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1)))),
          lit(" ")).as("syms"))
    }
    val bests = (1 to BpeRounds).map { r =>
      val prev = cur
      val pairs = prev
        .select(col("freq"), split(trim(col("syms")), " ").as("ts"))
        .select(col("freq"), col("ts"),
          explode(when(size(col("ts")) >= 2, sequence(lit(1), size(col("ts")) - 1))
            .otherwise(array().cast("array<int>"))).as("i"))
        .select(col("freq"),
          expr("element_at(ts, i)").as("lhs"),
          expr("element_at(ts, i + 1)").as("rhs"))
      val best = pairs.groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1)
      cur = Tables.stage(spark, sfDir, s"bpe_syms_$r", Tables.Parquet()) {
        prev.crossJoin(broadcast(best))
          .select(col("word"), col("freq"),
            expr("replace(syms, concat(' ', lhs, ' ', rhs, ' '), concat(' ', lhs, rhs, ' '))")
              .as("syms"))
      }
      best.select(lit(r.toLong).as("round"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("cnt").as("pair_count"))
    }
    (bests, cur)
  }

  /** Force the full training chain (all round states staged) — the Bench
    * stage item, so per-query timings measure the lookups, not training.
    */
  private[graft] def bpeFinalSyms(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrain(spark, sfDir)._2

  /** X-C39: BPE merge-table training — the actual byte-pair-encoding
    * training algorithm (Sennrich-style) as a Spark job: the learned merge
    * sequence `(round, lhs, rhs, merged, pair_count)`, fully
    * oracle-replayed through [[BpeRounds]] unrolled SQL rounds
    * (`tx_bpe_merges`).
    */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrain(spark, sfDir)._1.reduce(_ unionAll _)

  /** X-C40: corpus encoding under the trained merges — per document, the
    * whitespace token count next to the BPE symbol count after applying
    * the full merge sequence (`n_bpe_tokens` is what a token-budgeted
    * training pipeline actually packs on). The final word→symbols state is
    * vocabulary-sized, so the corpus-side join broadcasts; the corpus is
    * touched once (`tx_bpe_encode`).
    */
  /** X-C50: tokenizer fertility report — per language, tokens-per-word
    * (fertility) and chars-per-token (compression) under the trained BPE.
    * The standard multilingual tokenizer evaluation: a tokenizer trained
    * on a skewed mix over-segments the under-represented languages, and
    * fertility per language is the number that exposes it (and prices each
    * language's share of a token budget). Same broadcast word→n_syms join
    * as [[bpeEncode]] — one corpus scan, then a language-cardinality
    * rollup of exact BIGINT sums divided once (engine-identical doubles).
    */
  def bpeFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val wordTok = bpeTrain(spark, sfDir)._2
      .select(col("word"),
        size(split(trim(col("syms")), " ")).cast("long").as("n_syms"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), explode(words(col("text"))).as("word"))
      .join(broadcast(wordTok), Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"), col("n_chars"),
        (col("n_bpe_tokens").cast("double") / col("n_words")).as("fertility"),
        (col("n_chars").cast("double") / col("n_bpe_tokens"))
          .as("chars_per_token"))
  }

  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val wordTok = bpeTrain(spark, sfDir)._2
      .select(col("word"),
        size(split(trim(col("syms")), " ")).cast("long").as("n_syms"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .join(broadcast(wordTok), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
  }

  /** X-C38: corpus-trained bigram language-model scoring — per-document
    * average negative log2 conditional probability (cross-entropy in bits
    * per bigram, the perplexity exponent), the CCNet-style "does this read
    * like the corpus" fluency filter that sits one rung above
    * [[bigramCoverage]]'s binary membership view. The model is trained on
    * the corpus itself in one pass: bigram counts C(w1,w2) and context
    * counts C(w1) (both map-side-combinable aggregations of the same
    * exploded bigram stream), with add-one smoothing over the corpus
    * vocabulary V (a one-row broadcast, the `xj_q15` pattern) —
    * P(w2|w1) = (C(w1,w2)+1)/(C(w1)+V). Bigrams are built NARROW with a
    * `transform(sequence(...))` over each doc's word array (no window, no
    * per-doc sort — document order is already in the array). Scoring joins
    * the bigram stream back to the model keyed on (w1,w2): here Catalyst
    * broadcasts the model; at 100 TB a vocab²-bounded model stays a hash
    * join on (w1,w2) and the corpus side never re-shuffles for the C(w1)
    * leg (same key prefix). Per-doc Σ log2 is a float sum, order-dependent
    * in the last ulps; emission rounds to 6 dp, far above the drift — the
    * same tolerance argument as [[tokenEntropy]].
    *
    * Staged once per (session, sfDir): both the registered score query
    * and [[perplexityBuckets]] consume this table, and the bigram-model
    * build (the corpus-sized part) must not run twice (r8: 2×5.9 s at the
    * 10× point collapsed to one staged build).
    */
  def lmScores(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "lm_scores", Tables.Parquet())(lmScoresBuild(spark, sfDir))

  private def lmScoresBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val bi = Tables.documents(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val model = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctx = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(words(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bi.join(model, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log2((col("c12") + lit(1)).cast("double") /
          (col("c1") + col("v")).cast("double"))).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s") / col("n_bigrams").cast("double"), 6).as("nll_bits"))
  }

  /** X-C: TRAINED quality/domain classifier — logistic regression fit by
    * two unrolled IRLS (Fisher-scoring / Newton) steps, the distributed
    * form of the fastText-style filters pretraining pipelines train to
    * tell "looks like the curated corpus" from "looks like crawl" (GPT-3's
    * quality classifier, Brown et al. 2020 §A; PaLM; Llama — all public
    * literature). Demonstrated here on the corpus's labeled target
    * (lang = 'en') over two cheap features ([[qualityScores]]' stopword
    * ratio and mean word length) plus an intercept; the MACHINERY is the
    * point: each IRLS step is ONE map-side-combinable aggregation pass
    * collecting the 3×3 normal matrix ΣwₖxxT and gradient side Σwₖxz (9
    * scalars — executor-bounded state at any corpus size), the 3×3 solve
    * is closed-form Cramer arithmetic on the driver-sized row, and the
    * next pass streams the corpus again with β broadcast. At 100 TB an
    * IRLS iteration costs exactly one scan + a 9-number reduce — the
    * textbook distributed-GLM shape.
    *
    * Determinism disciplines, layered:
    *  - the LINK: the logistic 1/(1+e^{-t}) is NOT reproducible across
    *    engines at the ulp level (libm exp differs), so the chain uses the
    *    softsign surrogate σ(t) = 0.5 + 0.5·t/(1+|t|) — same sign, range,
    *    and monotonicity, but built from +,·,/,|·| only, which IEEE 754
    *    defines exactly; every per-row weight/working-response is then
    *    bit-identical in both engines.
    *  - the SUMS: per-row contributions are rounded to 9 dp and anchored
    *    to DECIMAL(38,9) before summing, so the aggregation is EXACT and
    *    association-order-free (the exact-decimal-moments discipline);
    *    each finished sum casts to double once.
    *  - the SOLVE: Cramer determinants written in one fixed association
    *    order, mirrored token-for-token in the oracle SQL.
    * Final row: β after step 2, the confusion matrix of the sign rule
    * score > 0, and accuracy (one division of exact counts).
    *
    * Fixture honesty: this corpus's `lang` labels are nearly independent
    * of its word-soup text (see [[langidEval]] — the argmax heuristic
    * itself barely beats chance), so the probe's near-baseline accuracy
    * here is the correct READING, not a defect: a trained probe is
    * exactly how pipelines AUDIT whether a label is learnable from the
    * features before spending a real training run on it.
    */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val nWords = size(words(col("text"))).cast("double")
    val nStop = profileHits(col("text"), LangProfiles.head._2).cast("double")
    // r15: localCheckpoint the 3-doubles-per-doc feature frame — the two
    // IRLS passes and the confusion pass each re-ran the tokenizer and
    // profile scans otherwise (the three aggregates are separate exchanges,
    // so AQE exchange reuse never dedups the scan subtree). The
    // materialized state is 24 bytes/doc regardless of corpus size; the
    // tokenize cost drops from 3 passes to 1.
    val f = Tables.documents(spark, sfDir).select(
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      (nStop / nWords).as("x1"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") / nWords)
        .as("x2"))
      .localCheckpoint()
    def q(c: Column) = round(c, 9).cast("decimal(38,9)")
    def stepAgg(df: DataFrame, t: Column): DataFrame = {
      val p = lit(0.5) + lit(0.5) * t / (lit(1.0) + abs(t))
      val wgt = p * (lit(1.0) - p)
      val z = t + (col("y") - p) / wgt
      df.agg(
        sum(q(wgt)).cast("double").as("s00"),
        sum(q(wgt * col("x1"))).cast("double").as("s01"),
        sum(q(wgt * col("x2"))).cast("double").as("s02"),
        sum(q(wgt * col("x1") * col("x1"))).cast("double").as("s11"),
        sum(q(wgt * col("x1") * col("x2"))).cast("double").as("s12"),
        sum(q(wgt * col("x2") * col("x2"))).cast("double").as("s22"),
        sum(q(wgt * z)).cast("double").as("b0"),
        sum(q(wgt * col("x1") * z)).cast("double").as("b1"),
        sum(q(wgt * col("x2") * z)).cast("double").as("b2"))
    }
    // Cramer's rule on the symmetric 3x3 system, fixed association order
    def solve(agg: DataFrame): DataFrame = {
      val (s00, s01, s02) = (col("s00"), col("s01"), col("s02"))
      val (s11, s12, s22) = (col("s11"), col("s12"), col("s22"))
      val (b0, b1, b2) = (col("b0"), col("b1"), col("b2"))
      val det = s00 * (s11 * s22 - s12 * s12) -
        s01 * (s01 * s22 - s12 * s02) + s02 * (s01 * s12 - s11 * s02)
      agg.select(
        ((b0 * (s11 * s22 - s12 * s12) - s01 * (b1 * s22 - s12 * b2) +
          s02 * (b1 * s12 - s11 * b2)) / det).as("beta0"),
        ((s00 * (b1 * s22 - s12 * b2) - b0 * (s01 * s22 - s12 * s02) +
          s02 * (s01 * b2 - b1 * s02)) / det).as("beta1"),
        ((s00 * (s11 * b2 - b1 * s12) - s01 * (s01 * b2 - b1 * s02) +
          b0 * (s01 * s12 - s11 * s02)) / det).as("beta2"))
    }
    def tOf = col("beta0") + col("beta1") * col("x1") + col("beta2") * col("x2")
    val betaStep1 = solve(stepAgg(f, lit(0.0)))
    val betaStep2 = solve(stepAgg(f.crossJoin(broadcast(betaStep1)), tOf))
    f.crossJoin(broadcast(betaStep2))
      .groupBy(col("beta0"), col("beta1"), col("beta2"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y") === 1.0 && tOf > 0.0, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0.0 && tOf > 0.0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1.0 && !(tOf > 0.0), 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") === 0.0 && !(tOf > 0.0), 1L).otherwise(0L)).as("tn"))
      .select(col("beta0"), col("beta1"), col("beta2"), col("n_docs"),
        col("n_pos"), col("tp"), col("fp"), col("fn"), col("tn"),
        ((col("tp") + col("tn")).cast("double") /
          col("n_docs").cast("double")).as("accuracy"))
  }

  /** X-C: CCNet-style perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020 — public literature): within each language, documents are
    * split into head / middle / tail terciles of the LM score
    * ([[lmScores]]' per-bigram NLL — CCNet's KenLM perplexity analog), and
    * the table reports each bucket's size and NLL envelope. This is the
    * curation decision table: train on head, sample middle, drop or
    * down-weight tail — per LANGUAGE, because a global cut would eject
    * whole low-resource languages whose absolute perplexity runs high.
    *
    * Determinism (the psi-drift rank discipline): tercile edges are pure
    * BIGINT rank inequalities — `3·rank ≤ n` (head), `3·rank ≤ 2n`
    * (middle) with rank = row_number over (nll, doc_id) — no quantile
    * kernel, no interpolation; both engines replay the identical integer
    * cuts. Bucket means divide an exact DECIMAL(18,6) sum (the 6-dp NLLs
    * re-anchored to decimal) by the exact count in ONE IEEE division.
    *
    * Scale shape: the window partitions BY LANGUAGE (largest partition =
    * largest language's doc count — rank-sortable per partition, never a
    * global sort), and everything after is language×3-cardinality. The LM
    * scores themselves are the [[lmScores]] plan unchanged.
    */
  def perplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val ranked = lmScores(spark, sfDir)
      .join(docs, Seq("doc_id"))
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("nll_bits"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
    ranked
      .groupBy(col("lang"),
        when(col("rk") * 3 <= col("n"), "head")
          .when(col("rk") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("nll_bits")).as("min_nll"),
        max(col("nll_bits")).as("max_nll"),
        (sum(col("nll_bits").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double")).as("mean_nll"))
  }

  /** Fixed-point grid for the anchored log kernels (entropy / Zipf / PSI /
    * DSIR): deterministic-chain log values quantize to `round(x·10¹²)`
    * longs before any aggregation, so every sum is EXACT and order-free.
    * Safe where the r8–r10 log anchors were rejected: the operand of the
    * quantizing round is a [[graft.functions.DetLog]] chain — bit-identical
    * in Spark, DuckDB, and driver Scala by construction (no libm) — so the
    * round sees identical operands in every engine, the
    * [[TimeSeriesOps.StrengthScale]] precondition.
    */
  val LogScale = 1000000000000L

  /** X-C34: per-document token-distribution Shannon entropy (bits) — the
    * diversity/quality signal that separates natural text from degenerate
    * repetition (complementary to [[repetitionScores]]' max-run view).
    * Computed as log2(n) − (Σ c·log2 c)/n from per-(doc,token) counts: two
    * map-side-combinable aggregations, both keyed on doc_id — the token
    * dimension collapses in the first, so the second shuffles doc-count
    * rows.
    *
    * Anchored (r11, retiring the lint-whitelist entry): log2 terms are the
    * [[graft.functions.DetLog]] deterministic chain quantized to the
    * [[LogScale]] grid, so Σ c·l2q(c) is an EXACT long sum (c ≤ doc
    * tokens ~1e4, l2q ≤ 5.3e13 → products ≤ 3e17, sums ≤ 9.2e18), the
    * numerator n·l2q(n) − Σ c·l2q(c) is exact, and the emission is one
    * IEEE division chain mirrored in the oracle. Kernel redefinition vs
    * libm: ≤ 1e-11 per term — invisible at the 6-dp grid.
    */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    def l2q(k: Column): Column =
      round(graft.functions.DetLog.log2(k) * lit(LogScale.toDouble), 0).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * l2q(col("c"))).as("sclq"))
      .select(col("doc_id"), col("n"),
        round((l2q(col("n")) * col("n") - col("sclq")).cast("double") /
          (col("n").cast("double") * lit(LogScale.toDouble)), 6).as("entropy"))
  }

  /** X-C73: per-source Jensen–Shannon drift — each source's unigram
    * distribution against the REST of the corpus, in bits ∈ [0, 1]: the
    * "which slice changed shape?" monitor behind mixture re-weighting and
    * contamination triage ([[sourceLangMix]] reads composition; this
    * reads lexical DISTANCE — symmetric and bounded where KL is neither).
    *
    * Scale shape: the only corpus-sized pass is the (source, token)
    * collapse; token totals, source totals, and the grand total all
    * re-aggregate from it (map-side, vocab-cardinality). The
    * source×vocab cross product is NEVER materialized: rows exist only
    * for tokens PRESENT in a source, and the whole absent-token mass
    * enters in closed form — Σ_{t∉s} q_t/2 = (N_r − Σ_{t∈s} r_t)/(2N_r),
    * exact BIGINTs until the one division. Per-row JS terms are IEEE
    * chains mirrored operation-for-operation in the oracle; the per-source
    * sum is the one order-dependent float accumulation, emitted at 6 dp
    * (~10⁶ above the drift) — the [[tokenEntropy]] argument.
    */
  /** Keyphrases kept per document by [[keyphrases]]. */
  val KeyphraseK = 3

  /** X-C78: per-document keyphrase extraction — each document's top-k
    * terms by tf·idf, the summarization/tagging primitive (index cards,
    * dedup explanations, topic seeds). The idf is the established
    * rational `n_docs/df` (one exactly-rounded division — the
    * [[rankedSearch]] portability form, no libm ln), so each score is a
    * two-op IEEE chain, bit-identical cross-engine, and ranking on the
    * raw score with a term tie-break is engine-identical.
    *
    * The per-key cut routes through the library's own
    * [[graft.plans.TopKPerKey]] custom operator — bounded per-doc heaps,
    * partial+final, ONE exchange — where a window row_number would sort
    * every document's full term list; at corpus scale that is the
    * difference between a heap pass and a (doc_id, score) sort of the
    * whole posting space. Corpus is touched once (the (doc, term)
    * collapse); df and n_docs re-aggregate from it and broadcast.
    */
  def keyphrases(spark: SparkSession, sfDir: String): DataFrame = {
    // r16 (VERDICT r15 #5): hash-partition by doc_id BEFORE the (doc,
    // term) collapse — HashPartitioning(doc_id) satisfies the tf
    // aggregate's ClusteredDistribution on (doc_id, term) AND
    // TopKPerKey's requirement on doc_id, so the collapse and the heap
    // cut share ONE exchange (guide §2.4). The trade: the exchange
    // carries raw exploded tokens instead of map-side (doc, term)
    // partials — per-partition volume stays bounded by document length
    // (no degenerate key: doc_id is unique per document). Measured
    // (QTime 4-rep mins, control flat): sf1.0 2.25 -> 1.65 s (−27%);
    // at sf0.1 it costs +0.12 s (0.69 -> 0.81 — the raw-token shuffle
    // isn't yet offset at toy scale), accepted for the scale win.
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double"))).as("score"))
    graft.plans.TopKPerKey(scored, KeyphraseK, Seq("doc_id"),
        Seq("score" -> false, "term" -> true))
      .select(col("doc_id"), col("term"), round(col("score"), 6).as("score"))
  }

  /** RBO persistence parameter (weight of depth d is p^(d−1) — 0.9 puts
    * ~86% of the mass in the top 10) and its 1−p complement, BOTH spelled
    * as literals: `1.0 - 0.9` computed in binary rounds to a different
    * double than the literal `0.1` parses to (the
    * [[TimeSeriesOps.EwmaDecay]] argument). */
  val RboP = 0.9
  val RboOneMinusP = 0.1

  /** p^(d−1) for d = 1..[[SearchTopK]] as a LEFT-ASSOCIATED multiply chain
    * — deliberately not `pow` (glibc pow is correctly rounded, JVM
    * Math.pow is only 1-ulp, so the two engines may disagree in the last
    * bit); repeated correctly-rounded multiplication is identical
    * everywhere, and the oracle re-parses these exact doubles from their
    * shortest-repr literals.
    */
  val RboPowers: Seq[Double] =
    Iterator.iterate(1.0)(_ * RboP).take(SearchTopK).toSeq

  /** X-P45: rank-biased overlap between the [[rankedSearch]] (tf·idf) and
    * [[bm25Search]] rankings — the standard top-weighted ranking-agreement
    * metric (Webber et al.), answering the evaluation question the search
    * family raises: HOW MUCH does adding saturation + length
    * normalization actually re-order results? Truncated form at the
    * shared depth k: RBO@k = (1−p)·Σ_{d≤k} p^(d−1)·|S_d ∩ T_d|/d. Unlike
    * plain set-overlap-at-k, disagreement at rank 1 costs more than at
    * rank k — the property that makes it the search-eval default.
    *
    * Scale shape: both inputs are the searches' own top-k tables
    * (k-row), so everything here — the rank windows, the full-outer doc
    * join, the k-depth agreement join — is constant-sized regardless of
    * corpus; the corpus cost is the two posting-pruned searches
    * themselves. Ranks order on the 6 dp-ROUNDED scores (bit-identical
    * cross-engine per the searches' portability notes) with doc_id
    * tie-break.
    *
    * Anchored (r11, retiring the lint-whitelist entry): the depth weights
    * are the precomputed [[RboPowers]] multiply chain (no libm pow), each
    * depth's term quantizes to the 1e12 grid, and the k-term sum is an
    * exact long aggregation — order-free — with one mirrored
    * multiply+divide+round at emission.
    */
  def searchRbo(spark: SparkSession, sfDir: String): DataFrame = {
    val k = SearchTopK
    def ranks(df: DataFrame, rc: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      df.select(col("doc_id"), col("score"))
        .withColumn(rc, row_number().over(w))
        .select(col("doc_id"), col(rc))
    }
    val joined = ranks(rankedSearch(spark, sfDir), "r1")
      .join(ranks(bm25Search(spark, sfDir), "r2"), Seq("doc_id"), "full_outer")
    val depths = spark.range(1, k + 1).select(col("id").as("d"))
    val agree = depths
      .join(joined, col("r1") <= col("d") && col("r2") <= col("d"), "left")
      .groupBy(col("d")).agg(count(col("doc_id")).as("a_d"))
    val pw = element_at(typedLit(RboPowers), col("d").cast("int"))
    val tq = round(pw *
      (col("a_d").cast("double") / col("d").cast("double")) * lit(1.0e12), 0)
      .cast("long")
    agree.agg(
        max(when(col("d") === k, col("a_d"))).as("overlap_at_k"),
        sum(tq).as("sq"))
      .select(lit(k.toLong).as("depth_k"), col("overlap_at_k"),
        round(lit(RboOneMinusP) *
          (col("sq").cast("double") / lit(1.0e12)), 6).as("rbo"))
  }

  /** Tokens fitted by [[zipfFit]] — the classical Zipf regime is the head
    * of the rank-frequency curve; the tail (hapax cloud) follows a
    * different law and would bias the exponent. */
  val ZipfFitTop = 1000

  /** X-C74: Zipf rank-frequency fit — the log-log OLS exponent of the
    * token frequency curve (natural corpora slope ≈ −1; a flatter slope
    * flags synthetic/templated text, a steeper one vocabulary collapse —
    * the distributional sibling of [[heapsCurve]]'s growth view). Fit over
    * the top-[[ZipfFitTop]] tokens: rank by ONE vocab-cardinality window
    * ordered (freq DESC, token) — integer-deterministic cut and ranks —
    * then the closed-form OLS of y=log2(freq) on x=log2(rank). The corpus
    * is touched once (the token collapse); everything downstream is vocab-
    * then constant-sized.
    *
    * Anchored (r11, retiring the lint-whitelist entry): x and y are
    * [[graft.functions.DetLog]] chains quantized to the [[LogScale]] grid,
    * so all five moment sums are EXACT (long for the linear sums; decimal
    * products for the quadratics — xq·yq ≤ 4e26 needs 128-bit). The OLS
    * arithmetic then runs ONE identical IEEE chain over the exact moments
    * in both engines (the grid's 1e24 factor cancels in slope and r²; the
    * intercept rescales by explicit /1e12 divisions mirrored in the
    * oracle).
    */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    def q(k: Column): Column =
      round(graft.functions.DetLog.log2(k) * lit(LogScale.toDouble), 0).cast("long")
    val freq = Tables.documents(spark, sfDir)
      .select(explode(words(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token"))
    val ranked = freq.withColumn("rank", row_number().over(w))
      .where(col("rank") <= ZipfFitTop)
      .select(q(col("rank").cast("long")).as("xq"), q(col("freq")).as("yq"))
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val m = ranked.agg(count(lit(1)).as("k"),
      sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
      sum(dec(col("xq")) * dec(col("yq"))).as("sxy"),
      sum(dec(col("xq")) * dec(col("xq"))).as("sxx"),
      sum(dec(col("yq")) * dec(col("yq"))).as("syy"))
    // exact moments -> doubles ONCE, then one mirrored IEEE chain
    def d(c: Column): Column = c.cast("double")
    val (kd, sx, sy) = (d(col("k")), d(col("sx")), d(col("sy")))
    val (sxy, sxx, syy) = (d(col("sxy")), d(col("sxx")), d(col("syy")))
    val num = kd * sxy - sx * sy
    val den = kd * sxx - sx * sx
    val deny = kd * syy - sy * sy
    val scale = lit(LogScale.toDouble)
    m.select(col("k").as("n_tokens_fit"),
      round(num / den, 6).as("slope"),
      round((sy / scale - num / den * (sx / scale)) / kd, 6).as("intercept"),
      round(num * num / (den * deny), 6).as("r2"))
  }

  def sourceJsDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"), explode(words(col("text"))).as("token"))
    val st = toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val tot = st.groupBy(col("token")).agg(sum(col("c")).as("ct"))
    val ns = st.groupBy(col("source")).agg(sum(col("c")).as("nsrc"))
    val n = st.agg(sum(col("c")).as("ntot"))
    val p = col("c").cast("double") / col("nsrc").cast("double")
    val q = (col("ct") - col("c")).cast("double") /
      (col("ntot") - col("nsrc")).cast("double")
    def half(x: Column, m: Column) = lit(0.5) * x * log2(x / m)
    val m = (p + q) / 2.0
    val term = half(p, m) +
      when(col("ct") > col("c"), half(q, m)).otherwise(0.0)
    st.join(tot, Seq("token"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .groupBy(col("source"), col("nsrc"), col("ntot"))
      .agg(sum(term).as("s_present"),
        sum(col("ct") - col("c")).as("r_present"))
      .select(col("source"), col("nsrc").as("n_tokens"),
        round(col("s_present") +
          lit(0.5) * ((col("ntot") - col("nsrc")) - col("r_present")).cast("double") /
            (col("ntot") - col("nsrc")).cast("double"), 6).as("js_bits"))
  }
}
