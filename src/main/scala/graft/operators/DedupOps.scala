package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.sources.TxTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family (north-star extension, BASELINE.json): exact,
  * MinHash+LSH banding, SimHash, n-gram Jaccard, and blocked
  * embedding-cosine near-dup — the dedup toolkit of a large-scale
  * training-data pipeline.
  *
  * Scale design: every variant is shuffle-bounded by design —
  *  - exact dedup shuffles once on the content hash (never the content);
  *  - MinHash shuffles (doc, band_key) rows; the candidate self-join keys on
  *    band_key, so the join's fan-out is per-bucket, not corpus-wide — the
  *    standard way pairwise dedup survives 100 TB (no O(n²) pairs ever
  *    materialize outside a bucket);
  *  - SimHash is one map-side-combinable aggregation over exploded words;
  *  - embedding near-dup blocks pairs by sign-random-projection buckets
  *    (similarity-preserving, unlike an id hash) before the quadratic step,
  *    bounding each block's pair count independently of corpus size.
  */
object DedupOps {

  val NumHashes = 8
  val NumBands  = 4 // rows-per-band r = 2

  /** Hot-bucket guard for every LSH self-join: a bucket holding more than
    * this many rows is excluded from pair generation. One degenerate band
    * key (boilerplate-heavy corpora produce them: empty docs, templated
    * headers, all-zero embeddings) otherwise makes a single bucket's
    * fan-out quadratic — the first failure a 100-TB dedup run hits. The
    * exclusion is never silent: [[bucketStats]] is an oracle-verified query
    * surfacing per-band bucket-size distribution and exactly what the guard
    * would drop, so a pipeline alerts on `n_oversized > 0` instead of
    * wondering where its candidates went. (At the test SFs no bucket
    * approaches the cap, so guarded and unguarded results coincide — the
    * oracle twins prove it.)
    */
  val MaxBucketDocs = 1000

  /** Drop rows in oversized buckets before a self-join. The window count
    * shuffles on exactly the key the join is about to use, so the exchange
    * is reused, and rows in degenerate buckets never reach pair fan-out.
    */
  private def guardBuckets(df: DataFrame, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("bucket_n", count(lit(1)).over(w))
      .where(col("bucket_n") <= MaxBucketDocs)
      .drop("bucket_n")
  }

  /** Exact dedup: group identity by md5(text); keeper = min doc_id. The
    * window partitions by the 128-bit content hash, so only hashes shuffle.
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("text_hash"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("text_hash"), col("keeper"),
        (col("doc_id") =!= col("keeper")).as("is_dup"))
  }

  /** Distinct (doc, shingle) rows — the shared scan of the whole MinHash
    * chain, staged once per (session, sfDir) so signatures, candidates, and
    * Jaccard all reuse one materialization instead of re-exploding the
    * corpus per stage. Staged as tmp parquet, not cached: this is the
    * *exploded* corpus — the one table that must never pin executor memory.
    */
  def distinctShingles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "distinct_shingles", Tables.Parquet()) {
      // distinct-within-doc == global distinct on (doc_id, shingle), so
      // array_distinct before the explode keeps the whole derivation narrow
      // — no shuffle of the exploded corpus, ever
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), words(col("text")).as("w")) // split ONCE per row
        .select(col("doc_id"),
          explode(array_distinct(shingles3OfWords(col("w")))).as("shingle"))
    }

  /** Per-document MinHash signature: NumHashes independent min-hashes over
    * distinct 3-gram shingles (hash j = h24 of "j:shingle" — the salted-hash
    * family trick, oracle-portable). Memoized like centroids: the signature
    * table is the dedup chain's trained artifact (one row per doc, tiny
    * relative to the corpus), reused by banding, candidates, and Jaccard.
    */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "minhash_signatures", Tables.Parquet()) {
      signaturesFrom(distinctShingles(spark, sfDir))
    }

  private def signaturesFrom(sh: DataFrame): DataFrame = {
    val aggs = (1 to NumHashes).map { j =>
      min(h24(concat(lit(s"$j:"), col("shingle")))).as(s"mh$j")
    }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignatures]] computed through the typed
    * [[graft.functions.MinHashAgg]] UDAF instead of the min-of-hash-columns
    * aggregation — same hash family, bit-identical output (it shares
    * `dd_minhash_signatures`' oracle). Registered separately so the UDAF
    * path is driver-verified, not just unit-tested.
    */
  def minhashSignaturesUdaf(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = udaf(new graft.functions.MinHashAgg(NumHashes))
    val sigCols = (1 to NumHashes).map(j => element_at(col("sig"), j).as(s"mh$j"))
    distinctShingles(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(agg(col("shingle")).as("sig"))
      .select(col("doc_id") +: sigCols: _*)
  }

  /** LSH banding: signature → NumBands band keys (md5 of the band's
    * concatenated min-hashes).
    */
  def minhashBands(spark: SparkSession, sfDir: String): DataFrame =
    bandsFrom(minhashSignatures(spark, sfDir))

  private def bandsFrom(sigs: DataFrame): DataFrame = {
    val bands = (1 to NumBands).map { b =>
      struct(lit(b).as("band_no"),
        md5(concat_ws("_", col(s"mh${2 * b - 1}"), col(s"mh${2 * b}"))).as("band_key"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_no"), col("band.band_key"))
  }

  /** MinHash+LSH candidate pairs: documents sharing any band bucket.
    * The self-join keys on (band_no, band_key) — per-bucket fan-out only.
    */
  def minhashCandidates(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "minhash_candidates", Tables.Parquet()) {
      candidatesFrom(bandsFrom(minhashSignatures(spark, sfDir)))
    }

  private def candidatesFrom(b0: DataFrame): DataFrame = {
    val b = guardBuckets(b0, "band_no", "band_key")
    val a = b.select(col("doc_id").as("doc_a"), col("band_no"), col("band_key"))
    val c = b.select(col("doc_id").as("doc_b"), col("band_no"), col("band_key"))
    a.join(c, Seq("band_no", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** End-to-end LSH candidate-set evaluation — the pair-level counterpart
    * of [[minhashEstimate]] (which grades the ESTIMATOR; this grades the
    * BANDING), built from two measurements a 100-TB deployment can afford:
    *
    *  - `precision` is EXACT and global: of all staged LSH candidate
    *    pairs, the share whose exact shingle Jaccard meets
    *    [[ClusterMinJaccard]] — the wasted-verify-work readout (the verify
    *    join already computes every candidate's exact Jaccard, so this is
    *    free).
    *  - `recall_vs_audit` cross-checks the bands against an INDEPENDENT
    *    blocking family: the rare-gram pipeline ([[ngramJaccard]]) finds
    *    ≥ ½-Jaccard pairs by a mechanism that shares nothing with minhash
    *    banding (document-frequency-bounded gram postings vs hashed band
    *    collisions), so the fraction of ITS true pairs that also appear
    *    as LSH candidates estimates banding recall without any all-pairs
    *    pass. Theory at the threshold: with [[NumHashes]]=8 in
    *    [[NumBands]]=4 2-row bands, P(caught | J=0.5) = 1−(1−0.25)⁴ ≈
    *    0.68, rising steeply with J. (A naive uniform doc sample CANNOT
    *    measure this — independent sampling kills almost every pair; the
    *    independent-family audit is the standard fix.) Coverage caveat,
    *    by construction: the audit set only contains pairs that share a
    *    rare gram.
    *
    * Determinism: every count is an exact BIGINT off staged tables; the
    * two ratios are single divisions with empty-set cases pinned to 1.0
    * in both engines.
    */
  def lshEval(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = minhashCandidates(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val nC = cand.agg(count(lit(1)).as("n_cand_pairs"))
    val nV = jaccardOnCandidates(spark, sfDir)
      .where(col("jaccard") >= ClusterMinJaccard)
      .agg(count(lit(1)).as("n_cand_true"))
    val audit = ngramJaccard(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val nA = audit.agg(count(lit(1)).as("n_audit_pairs"))
    val caught = audit.join(cand, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_audit_caught"))
    nC.crossJoin(nV).crossJoin(nA).crossJoin(caught)
      .select(col("n_cand_pairs"), col("n_cand_true"),
        when(col("n_cand_pairs") === 0L, 1.0)
          .otherwise(col("n_cand_true").cast("double") /
            col("n_cand_pairs").cast("double")).as("precision"),
        col("n_audit_pairs"), col("n_audit_caught"),
        when(col("n_audit_pairs") === 0L, 1.0)
          .otherwise(col("n_audit_caught").cast("double") /
            col("n_audit_pairs").cast("double")).as("recall_vs_audit"))
  }

  /** Per-source duplication-rate rollup — the curation-budget readout on
    * top of [[duplicateClusters]]: for each document source, how many docs
    * it contributes and what share of them are REDUNDANT (non-canonical
    * members of a duplicate cluster — the rows dedup would delete). This
    * is the table that answers "which feed is wasting the token budget"
    * and decides per-source crawl/ingest throttling; at 100 TB it is a
    * broadcast-light join of the (already staged, cluster-members-only)
    * label table against the doc→source projection, then a
    * source-cardinality rollup. Exact counts, one division.
    */
  def sourceDupRate(spark: SparkSession, sfDir: String): DataFrame = {
    val redundant = duplicateClusters(spark, sfDir)
      .where(!col("is_canonical"))
      .select(col("doc_id"), lit(1L).as("is_dup"))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(redundant, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_redundant"))
      .select(col("source"), col("n_docs"), col("n_redundant"),
        (col("n_redundant").cast("double") /
          col("n_docs").cast("double")).as("dup_rate"))
  }

  /** n-gram Jaccard over the LSH candidates: exact |A∩B| / |A∪B| on distinct
    * shingle sets — integer ratio, bit-exact across engines. The shingle
    * scan is cached and shared by the candidate derivation, the sizes, and
    * the intersection join (one explode instead of three).
    */
  def jaccardOnCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashCandidates(spark, sfDir) // cached candidate pairs
    // prune the shingle scan to docs that appear in some candidate pair —
    // at 100 TB the candidate-doc set is orders of magnitude smaller than
    // the corpus (that is LSH's whole point), so the exact-Jaccard joins
    // below touch only that sliver; a broadcast semi-join does the pruning
    // without shuffling the shingle table
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sh = distinctShingles(spark, sfDir) // cached by the derived-table registry
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")

    val sizes = sh.groupBy(col("doc_id")).agg(count("*").as("n_shingles"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count("*").as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** MinHash estimation-error report — per LSH candidate pair, the
    * signature-estimated Jaccard (matching minhash components out of
    * [[NumHashes]], the unbiased MinHash estimator) next to the exact
    * shingle Jaccard. This is the dedup family's twin of the ANN
    * `sim_recall_report`: the table a pipeline reads to TUNE NumHashes /
    * NumBands — estimator spread at a given signature width is an
    * empirical fact of the corpus, and widening signatures is a cost knob
    * that should be turned from measurements, not folklore. Pure column
    * arithmetic over the staged candidate pairs + signatures (one join per
    * side, both map-side broadcastable at these sizes, hash joins at
    * scale); n_eq is an exact integer, and both jaccards are single
    * divisions of exact integers — n_eq/8 is an exact binary fraction, so
    * the whole row is hash-stable cross-engine.
    */
  def minhashEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = minhashSignatures(spark, sfDir)
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (1 to NumHashes).map(j => col(s"mh$j").as(s"a$j")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (1 to NumHashes).map(j => col(s"mh$j").as(s"b$j")): _*)
    val nEq = (1 to NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    jaccardOnCandidates(spark, sfDir)
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b"))
      .withColumn("n_eq", nEq)
      .select(col("doc_a"), col("doc_b"), col("n_eq"),
        (col("n_eq").cast("double") / NumHashes).as("jaccard_est"),
        col("jaccard").as("jaccard_exact"))
  }

  /** Estimated-Jaccard cutoff above which a benchmark band collision counts
    * as fuzzy contamination ([[fuzzyDecontam]]). Same bimodal rationale as
    * [[ClusterMinJaccard]]; n_eq/NumHashes is an exact binary fraction so
    * the comparison is engine-stable.
    */
  val FuzzyContamMinEst = 0.5

  /** Fuzzy-decontam benchmark stand-in: every [[FuzzyBenchMod]]-th doc
    * below [[FuzzyBenchCap]] — a FIXED 50-doc panel spread across the base
    * id range (the ANN `QueryPanelCap` convention: real eval suites are
    * fixed-size while the corpus grows, and a spread panel actually has
    * near-dup twins in the fixture corpus at every SF, unlike the first-N
    * prefix [[TextOps.contamination]] uses for its exact-overlap demo).
    */
  val FuzzyBenchMod = 10
  val FuzzyBenchCap = 500L
  private def isFuzzyBench(c: Column): Column =
    c % FuzzyBenchMod === 0 && c < FuzzyBenchCap

  /** X-C43: FUZZY train–eval decontamination — the near-duplicate
    * complement of [[TextOps.contamination]]'s exact-shingle overlap. An
    * eval answer that was paraphrased, re-wrapped, or partially quoted into
    * a training document shares few exact shingles but still collides in
    * MinHash band space; published pipelines run exactly this fuzzy pass
    * over their benchmark suites before training. For every corpus document
    * that shares ANY LSH band bucket with a benchmark document (the fixed
    * [[isFuzzyBench]] panel stands in for the eval suite), emits the
    * collision count, the closest benchmark doc, its signature-estimated
    * Jaccard, and the ≥[[FuzzyContamMinEst]] flag.
    *
    * Scale shape: the benchmark band table is eval-suite-sized (KBs against
    * 100 TB) and broadcasts, so the staged corpus band table never shuffles
    * — detection is a broadcast hash join on the band key; the per-doc
    * argmax window sees at most |benchmark| rows per doc. Signatures and
    * bands are the dedup chain's staged artifacts, reused as-is.
    */
  def fuzzyDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = minhashBands(spark, sfDir)
    val bb = broadcast(bands.where(isFuzzyBench(col("doc_id")))
      .select(col("doc_id").as("bench_id"), col("band_no"), col("band_key")))
    val hits = bands.where(!isFuzzyBench(col("doc_id")))
      .join(bb, Seq("band_no", "band_key"))
      .select(col("doc_id"), col("bench_id")).distinct()
    val sigs = minhashSignatures(spark, sfDir)
    val sa = sigs.select(col("doc_id") +:
      (1 to NumHashes).map(j => col(s"mh$j").as(s"a$j")): _*)
    val sb = sigs.select(col("doc_id").as("bench_id") +:
      (1 to NumHashes).map(j => col(s"mh$j").as(s"b$j")): _*)
    val nEq = (1 to NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val scored = hits.join(sa, Seq("doc_id")).join(broadcast(sb), Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"),
        (nEq.cast("double") / NumHashes).as("jaccard_est"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard_est").desc, col("bench_id"))
    val wAll = Window.partitionBy(col("doc_id"))
    scored
      .withColumn("rn", row_number().over(wBest))
      .withColumn("n_bench_hits", count(lit(1)).over(wAll))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("n_bench_hits"),
        col("bench_id").as("best_bench_id"), col("jaccard_est"),
        (col("jaccard_est") >= FuzzyContamMinEst).as("flagged"))
  }

  /** Jaccard cutoff above which a candidate pair is a confirmed duplicate
    * edge (scores in the corpus are bimodal: ≤0.02 LSH noise vs ≥0.9 true
    * near-dups, so any mid value works).
    */
  val ClusterMinJaccard = 0.5

  /** Propagation-round cap — a safety net far above the diameter of any real
    * duplicate cluster (dup clusters are near-cliques; diameter ≈ 2-3).
    */
  val MaxCcRounds = 20

  /** Duplicate clusters: connected components over the Jaccard-confirmed
    * edge set, by iterative min-label propagation to a fixed point. Each
    * round is one bucketed join + map-side-combinable min aggregate (labels
    * only — never text). Lineage is truncated per round by staging the label
    * table to tmp parquet (alternating round files, overwritten in place) —
    * unlike `localCheckpoint`, which pins its blocks in the executor store
    * until session end, staged rounds cost nothing after the loop, and the
    * parquet shape is the one a 100-TB CC run checkpoints to anyway. Rounds
    * needed = component diameter (near-cliques for dup clusters ⇒ 2-3
    * rounds; adversarial long chains would call for the large-star/small-star
    * variant, which swaps the neighbor-min join for star-contraction joins in
    * the same loop shape). Output: every doc in some duplicate cluster,
    * labeled by the cluster's min doc_id; `is_canonical` marks the keeper
    * the pipeline retains. One row per duplicated document — corpus scale,
    * so staged as `Parquet`, never held on the driver.
    */
  def duplicateClusters(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "dup_clusters", Tables.Parquet()) {
      val edges = jaccardOnCandidates(spark, sfDir)
        .where(col("jaccard") >= ClusterMinJaccard)
        .select(col("doc_a"), col("doc_b"))
      // all of this build's round files live under one attempt-unique dir,
      // so an abandoned (timed-out) builder can never race a rebuild's
      // in-place overwrites (ADVICE r7)
      val attemptDir = Tables.uniqueStageDir(spark, sfDir, "cc_run")
      def stage(df: DataFrame, name: String): DataFrame = {
        val path = s"$attemptDir/$name"
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
      val sym = stage(edges
        .unionAll(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))),
        "cc_sym")
      def labelSum(df: DataFrame): Long =
        Option(df.agg(sum(col("cluster_id"))).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
      var labels = stage(
        sym.select(col("doc_a").as("doc_id")).distinct()
          .withColumn("cluster_id", col("doc_id")),
        "cc_labels_0")
      var prevSum = -1L
      var curSum = labelSum(labels)
      var rounds = 0
      while (curSum != prevSum && rounds < MaxCcRounds) {
        val nbrMin = sym
          .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("nbr_label")),
            Seq("doc_b"))
          .groupBy(col("doc_a")).agg(min(col("nbr_label")).as("nbr_min"))
        // two alternating round files: the write fully materializes before
        // the next round reads, and round i+2 overwrites round i's file, so
        // peak footprint is two label tables on disk and zero pinned blocks
        labels = stage(labels
          .join(nbrMin.select(col("doc_a").as("doc_id"), col("nbr_min")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
              .as("cluster_id")),
          s"cc_labels_${(rounds + 1) % 2}")
        prevSum = curSum
        curSum = labelSum(labels)
        rounds += 1
      }
      labels.select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
    }

  /** Per-cluster rollup of [[duplicateClusters]]: size and the share of the
    * corpus each cluster would let a pipeline drop (size − 1 non-canonical
    * members).
    */
  def clusterStats(spark: SparkSession, sfDir: String): DataFrame =
    duplicateClusters(spark, sfDir)
      .groupBy(col("cluster_id"))
      .agg(count("*").as("n_docs"), (count("*") - 1).as("n_droppable"))

  /** SimHash bit width — the full 48 bits the h48 word hash carries. Width
    * is what keeps the neighbor-search BANDS selective as the corpus grows:
    * with 4 sub-bands, 24 bits gives 64 bucket values per band, so band
    * buckets hold ~n/64 docs and the hot-bucket guard engaged at the 10x
    * scale point (max bucket 12.5k vs cap 1k, 152k rows excluded — guarded
    * results diverged from unguarded semantics). 48 bits / 4 bands = 4096
    * values per band: occupancy drops 64x, the guard stays disengaged, and
    * the pair fan-out — not the aggregate — is what grows with the corpus.
    */
  val SimhashBits = 48

  /** SimHash: per-document signature — each bit is the sign of the
    * word-population's vote on that bit of the word hash. One exploded
    * aggregation, map-side combinable.
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    // staged like [[minhashSignatures]]: the per-doc signature table is
    // what a production dedup keeps on disk; groups + banded neighbors
    // both read it, and each would otherwise re-run the corpus word scan
    // and the 24-bit majority vote
    Tables.stage(spark, sfDir, "simhash_sigs", Tables.Parquet()) {
      val wordRows = Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .select(col("doc_id"), Tables.h48(col("word")).as("h"))
      val votes = (0 until SimhashBits).map { b =>
        sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"v$b")
      }
      val sig = (0 until SimhashBits).map { b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      wordRows.groupBy(col("doc_id"))
        .agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), sig.as("simhash"))
    }

  /** SimHash collision groups: docs sharing an identical signature
    * (Hamming-0 near-dup candidates).
    */
  def simhashGroups(spark: SparkSession, sfDir: String): DataFrame =
    simhash(spark, sfDir)
      .groupBy(col("simhash"))
      .agg(count("*").as("n_docs"), min(col("doc_id")).as("keeper"))
      .where(col("n_docs") > 1)

  /** Sub-bands the SimHash splits into for neighbor search. */
  val SimhashBands = 4

  /** Bits per neighbor-search sub-band. */
  val SimhashBandBits: Int = SimhashBits / SimhashBands
  private val SimhashBandMask: Long = (1L << SimhashBandBits) - 1

  /** Hamming-≤3 SimHash neighbor-search band table over DISTINCT
    * signatures. Banding the distinct-signature set instead of the doc set
    * is the same exact collapse the PPJoin family uses (identical token
    * sets → one representative, r7): docs sharing a signature are Hamming-0
    * — never emitted by [[simhashNeighbors]] (its range is 1..3) — and
    * every member of an identical-signature clique has exactly the same
    * neighbor relations, so banding one representative per signature loses
    * nothing. It's also what makes the banding DATA-SKEW-PROOF: a
    * duplicate-heavy corpus (the 10x replay corpus holds ~10 near-identical
    * variants per source doc) piles identical signatures into one band
    * bucket and engaged the hot-bucket guard even at 48 bits; distinct
    * signatures spread hash-uniformly, so bucket occupancy tracks corpus
    * VARIETY, not duplication.
    *
    * Pigeonhole exactness is unchanged: any signature pair within Hamming
    * distance 3 shares at least one of the 4 intact sub-bands.
    */
  private[graft] def simhashBandTable(spark: SparkSession, sfDir: String): DataFrame =
    simhash(spark, sfDir).select(col("simhash")).distinct()
      .select(col("simhash"),
        explode(array((0 until SimhashBands).map { b =>
          struct(lit(b).as("band_no"),
            shiftright(col("simhash"), b * SimhashBandBits)
              .bitwiseAND(SimhashBandMask).as("band_val"))
        }: _*)).as("b"))
      .select(col("simhash"), col("b.band_no"), col("b.band_val"))

  /** Sub-bands an over-cap top-level bucket recurses into: the 36 bits
    * OUTSIDE the intact band, split 4 × 9. A pair within total Hamming
    * distance 3 has ≤3 differing bits among those 36, so by pigeonhole it
    * shares ≥1 intact sub-band — the recursion stays EXACT for d ≤ 3.
    */
  val SimhashSubBands = 4
  val SimhashSubBandBits: Int = (SimhashBits - SimhashBandBits) / SimhashSubBands

  /** The two-level banded signature structure: (small, hot). `small` holds
    * top-level band keys for buckets within `cap`; `hot` re-keys over-cap
    * buckets by (band, sub-band) — distinct signatures only (see
    * [[simhashBandTable]]), so occupancy tracks corpus variety, and hot
    * buckets (real signature clusters: templated corpora concentrate — the
    * 10x replay put 6% of all distinct signatures into ONE 12-bit bucket)
    * split a further 512 ways instead of being dropped.
    */
  private[graft] def simhashBandedReps(spark: SparkSession, sfDir: String,
                                       cap: Long = MaxBucketDocs)
      : (DataFrame, DataFrame) = {
    val bands = simhashBandTable(spark, sfDir)
    val w = Window.partitionBy(col("band_no"), col("band_val"))
    val sized = bands.withColumn("bucket_n", count(lit(1)).over(w))
    val small = sized.where(col("bucket_n") <= cap).drop("bucket_n")
    // bits outside band b: low 12b bits ∪ everything above bit 12(b+1)
    val rem = s"(simhash & (shiftleft(CAST(1 AS BIGINT), band_no * $SimhashBandBits) - 1)) | " +
      s"shiftleft(shiftright(simhash, (band_no + 1) * $SimhashBandBits), band_no * $SimhashBandBits)"
    val hot = sized.where(col("bucket_n") > cap).drop("bucket_n")
      .withColumn("rem", expr(rem))
      .select(col("simhash"), col("band_no"), col("band_val"),
        explode(array((0 until SimhashSubBands).map { s =>
          struct(lit(s).as("sub_no"),
            expr(s"shiftright(rem, ${s * SimhashSubBandBits}) & ${(1 << SimhashSubBandBits) - 1}")
              .as("sub_val"))
        }: _*)).as("sb"))
      .select(col("simhash"), col("band_no"), col("band_val"),
        col("sb.sub_no"), col("sb.sub_val"))
    (small, hot)
  }

  def simhashNeighbors(spark: SparkSession, sfDir: String,
                       cap: Long = MaxBucketDocs): DataFrame = {
    val (small, hot) = simhashBandedReps(spark, sfDir, cap)
    val hotGuarded = guardBuckets(hot, "band_no", "band_val", "sub_no", "sub_val")
    def pairsOn(df: DataFrame, keys: Seq[String]): DataFrame = {
      val a = df.select(col("simhash").as("sig_a") +: keys.map(col): _*)
      val c = df.select(col("simhash").as("sig_b") +: keys.map(col): _*)
      // hamming is a function of the signature pair, so filtering BEFORE
      // the dedup is equivalent — and shrinks the distinct's input from
      // every raw band collision to just the near-miss signature pairs
      a.join(c, keys)
        .where(col("sig_a") < col("sig_b"))
        .select(col("sig_a"), col("sig_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int").as("hamming"))
        .where(col("hamming").between(1, 3))
    }
    val sigPairs = pairsOn(small, Seq("band_no", "band_val"))
      .unionAll(pairsOn(hotGuarded, Seq("band_no", "band_val", "sub_no", "sub_val")))
      .distinct()
    // expand each signature pair to its doc-pair cross product — the true
    // result size; sig_a ≠ sig_b so each unordered doc pair appears once
    val members = simhash(spark, sfDir)
    sigPairs
      .join(members.select(col("simhash").as("sig_a"), col("doc_id").as("da")), "sig_a")
      .join(members.select(col("simhash").as("sig_b"), col("doc_id").as("db")), "sig_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
  }

  /** Sign-random-projection LSH geometry: SrpTables independent hash tables
    * of SrpBits hyperplane-sign bits each over the 64-dim embedding space.
    * Weights are seeded md5 constants (3-decimal fixed-point in [-1, 1)), so
    * the identical literals embed into the DuckDB oracle — both engines
    * compute bit-identical double dot products and bucket ids.
    */
  val SrpTables = 4
  val SrpBits   = 6
  val EmbDim    = 64 // embeddings.embedding is list<float>[64] (FIXTURES.md)

  /** Target SRP bucket occupancy. The BIT COUNT — not the bucket size —
    * grows with the corpus: `bits = smallest b ≥ SrpBits with 2^b ·
    * SrpTargetBucket ≥ n` ([[srpBitsFor]], pure integer arithmetic so the
    * oracle's CASE ladder replays it exactly). Every shipped SF sits at or
    * below 2^SrpBits·SrpTargetBucket vectors, so driver-SF buckets — and
    * all oracle results — are unchanged; the 10× scaling corpus hashes
    * into 2^10 buckets per table and per-bucket pair fan-out stays
    * CONSTANT as the corpus grows. This is the same adaptive-geometry
    * treatment the k-means index (cluster count ∝ n) and SimHash (48-bit
    * signatures) got: with fixed bits the bucket self-joins are quadratic
    * in N (the r8 3-point audit flagged the kNN join super-linear at 15×
    * for 10× data), and past ~2^bits·MaxBucketDocs vectors the hot-bucket
    * guard would drop EVERY bucket — the operator stops working entirely.
    * The trade is per-table recall (p^bits falls as bits grow — the LSH
    * convention is to widen SrpTables alongside; the guard-stats monitor
    * surfaces realized occupancy so the knob is turned from measurements).
    */
  val SrpTargetBucket = 32L
  val SrpMaxBits      = 16

  /** Data-adaptive SRP bit count (see [[SrpTargetBucket]]); memoized — one
    * metadata-cheap count per (session, sf). The memo is dropped by
    * [[Tables.clearDerived]]: a corpus that grows within a session (the
    * incremental-ingest flow) rebuilds its staged tables through
    * clearDerived, and a bit count cached against the old snapshot would
    * silently diverge from the oracle's query-time count(*) ladder
    * (ADVICE r8).
    */
  def srpBitsFor(spark: SparkSession, sfDir: String): Int =
    Tables.memo(spark, sfDir, "srp_bits") {
      val n = Tables.embeddings(spark, sfDir).count()
      var b = SrpBits
      while (b < SrpMaxBits && (1L << b) * SrpTargetBucket < n) b += 1
      b
    }

  private[operators] def srpWeight(table: Int, bit: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"srp:$table:$bit:$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 2000 - 1000) / 1000.0
  }

  /** Codegen'd double dot product ([[graft.functions.VecDot]]), bit-identical
    * to the interpreted `aggregate(zip_with(...))` fold it replaced.
    */
  private def dotD(spark: SparkSession, a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecDot(spark, a, b)

  /** SRP bucket id for hash table `t` over an `array<float>` embedding:
    * `bits` ([[srpBitsFor]]) codegen'd float·double dot products against
    * hyperplane literals.
    */
  private def srpBucket(spark: SparkSession, t: Int, e: Column, bits: Int): Column =
    (0 until bits).map { p =>
      val w = array((0 until EmbDim).map(i => lit(srpWeight(t, p, i))): _*)
      when(dotD(spark, e, w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-dup with *similarity-preserving* blocking: pairs
    * are compared only when some SRP table buckets them together — unlike an
    * id-band, nearby vectors (small angle) agree on hyperplane signs with
    * high probability, so true near-dups co-locate (d ≤ cos⁻¹ recall ≈
    * 1−(1−p^SrpBits)^SrpTables with p = 1−θ/π; ≈0.95 for cosine ≥ 0.95).
    * The quadratic step stays bounded per bucket — never all-pairs — and the
    * bucket count (SrpBits) scales up independently of the corpus.
    */
  /** The SRP index layout, staged once per (session, sf): one row per
    * (vector, hash table) carrying the embedding and its bucket id — the
    * stored LSH index a 100-TB deployment writes once and every
    * bucket-keyed consumer ([[embeddingNearDups]], [[srpKnnJoin]]) reads
    * back as a pruned parquet scan instead of recomputing 4×6 hyperplane
    * dot products per vector per query.
    */
  private[graft] def srpBucketTable(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "srp_buckets", Tables.Parquet()) {
      val bits = srpBitsFor(spark, sfDir)
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"),
          explode(array((0 until SrpTables).map { t =>
            struct(lit(t).as("t"),
              srpBucket(spark, t, col("embedding"), bits).as("bucket"))
          }: _*)).as("tb"))
        .select(col("vec_id"), col("embedding"), col("tb.t"), col("tb.bucket"))
    }

  def embeddingNearDups(spark: SparkSession, sfDir: String, minCosine: Double): DataFrame = {
    val buckets = srpBucketTable(spark, sfDir)
    // norms hoisted to once per (vector, table) row rather than per pair:
    // each pair then costs one cross dot product, not three
    val normed = guardBuckets(buckets, "t", "bucket").withColumn("nrm",
      sqrt(dotD(spark, col("embedding"), col("embedding"))))
    val a = normed.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("nrm_a"), col("t"), col("bucket"))
    val b = normed.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nrm_b"), col("t"), col("bucket"))
    a.join(b, Seq("t", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dotD(spark, col("ea"), col("eb")) / (col("nrm_a") * col("nrm_b")), 6)
          .as("cosine"))
      .where(col("cosine") >= minCosine)
      .distinct()
  }

  /** Neighbors kept per vector by [[srpKnnJoin]]. */
  val KnnJoinK = 3

  /** X-P32: approximate kNN JOIN — top-k cosine neighbors for EVERY vector,
    * not a probe panel: the all-pairs shape behind embedding-level corpus
    * dedup, cluster seeding, and label propagation. A literal all-pairs
    * join is O(N²) and dies first at 100 TB; here the candidate set is the
    * SRP-bucket collision graph (same similarity-preserving blocking as
    * [[embeddingNearDups]]): vectors compared only when some hash table
    * buckets them together, every bucket bounded by [[MaxBucketDocs]], so
    * candidates per vector are ≤ SrpTables·MaxBucketDocs regardless of
    * corpus size and the per-vector rank window can never degenerate.
    * Work scales linearly in N at fixed geometry; recall tunes with
    * SrpTables/SrpBits exactly like the near-dup query. Cosines are
    * rounded to 6 dp (established cross-engine convention), ties break by
    * neighbor id, rank is a per-vector row_number over the bounded
    * candidate list.
    */
  def srpKnnJoin(spark: SparkSession, sfDir: String, k: Int = KnnJoinK): DataFrame = {
    // One-pass candidate scoring: cosine computes DURING the bucket join.
    // (An id-only pair graph with vectors attached after dedup was tried
    // and is ~3x slower here: multi-table collision overlap is low, so the
    // pair `distinct` prunes almost nothing and the extra pass + two
    // attach joins are pure overhead over the same ~10^8 candidate rows.)
    val buckets = srpBucketTable(spark, sfDir)
    val normed = guardBuckets(buckets, "t", "bucket").withColumn("nrm",
      sqrt(dotD(spark, col("embedding"), col("embedding"))))
    val a = normed.select(col("vec_id"), col("embedding").as("ea"),
      col("nrm").as("nrm_a"), col("t"), col("bucket"))
    val b = normed.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"),
      col("nrm").as("nrm_b"), col("t"), col("bucket"))
    val cand = a.join(b, Seq("t", "bucket"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        round(dotD(spark, col("ea"), col("eb")) / (col("nrm_a") * col("nrm_b")), 6)
          .as("cosine"))
      // r16 (VERDICT r15 #5): hash-partition by vec_id BEFORE the
      // multi-table-collision dedup — HashPartitioning(vec_id) satisfies
      // the distinct's ClusteredDistribution on (vec_id, neighbor_id,
      // cosine) AND TopKPerKey's + the rank window's requirement on
      // vec_id, so dedup, heap cut and window all ride ONE exchange
      // instead of a (v,n,c) distinct exchange followed by a second
      // vec_id exchange (guide §2.4). The traded partial distinct prunes
      // almost nothing here (multi-table collision overlap is low — the
      // same measurement that pinned the id-only variant above), so the
      // exchange carries the same bytes either way. Measured (QTime 4-rep
      // mins, control flat): sf0.1 0.89 -> 0.64 s, sf1.0 1.18 -> 1.01 s.
      .repartition(col("vec_id"))
      .distinct() // collapse multi-table collisions: cosine is pair-deterministic
    // Rank through the bounded-heap operator instead of a full window. The
    // vec_id exchange above already clusters the candidates, so the heap
    // cut rides that one exchange (its partial and final passes both run
    // after the distinct, adding no exchange of their own) and keeps ≤k
    // rows per vector without sorting the full candidate list; the rank
    // window then sees only k-bounded partitions.
    val topk = graft.plans.TopKPerKey(cand, k, Seq("vec_id"),
      Seq("cosine" -> false, "neighbor_id" -> true))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    topk.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Quality-aware survivor selection: for every duplicate cluster, rank the
    * members by the curation quality score (ties → lower doc_id) and flag
    * the best one to keep. [[duplicateClusters]]' min-doc_id `is_canonical`
    * is an arbitrary-but-deterministic keeper; a real pipeline keeps the
    * HIGHEST-QUALITY member of each near-dup cluster — this is that step,
    * emitted per member so the drop list is directly joinable.
    *
    * Scale shape: the cluster table holds only docs inside some duplicate
    * cluster (≪ corpus — that is dedup's premise), so it broadcasts; the
    * documents scan stays narrow and the quality expression evaluates only
    * on the joined sliver. The ranking window partitions by cluster —
    * cluster sizes are bounded by the LSH bucket guard, so no window
    * partition can degenerate.
    */
  def canonicalByQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = duplicateClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    val members = Tables.documents(spark, sfDir)
      .join(broadcast(clusters), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"),
        TextOps.qualityScoreExpr.as("quality_score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    members.withColumn("is_best", row_number().over(w) === 1)
  }

  /** Per-band MinHash bucket-size distribution + the hot-bucket guard's
    * would-drop accounting (what [[guardBuckets]] excludes from the
    * candidate join): bucket count, largest bucket, and how many
    * buckets/docs exceed [[MaxBucketDocs]]. A dedup pipeline monitors
    * `n_oversized` — a nonzero value means degenerate keys were fenced off
    * and names exactly how much recall the fence cost, so truncation is
    * never silent.
    */
  def bucketStats(spark: SparkSession, sfDir: String): DataFrame =
    minhashBands(spark, sfDir)
      .groupBy(col("band_no"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"))
      .groupBy(col("band_no"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("n_docs")).as("max_bucket"),
        sum(when(col("n_docs") > MaxBucketDocs, 1L).otherwise(0L)).as("n_oversized"),
        sum(when(col("n_docs") > MaxBucketDocs, col("n_docs")).otherwise(0L))
          .as("n_docs_dropped"))

  /** Per-family hot-bucket-guard engagement stats — one row per guarded
    * LSH self-join family: the max bucket size the join actually sees and
    * how many rows the [[MaxBucketDocs]] guard excludes from pair
    * generation. At the shipped SFs every family reports zero drops
    * (guarded ≡ unguarded, which is what keeps the unguarded oracles
    * hash-green). The r8 10× replay originally showed `simhash_bands`
    * engaging; the response was structural, not a louder alarm: 48-bit
    * signatures (64× more band values), identical-signature collapse
    * (duplication no longer concentrates buckets), and two-level
    * sub-banding (real signature CLUSTERS split 512 ways instead of
    * dropping) — after which the same corpus reports zero drops. Any
    * remaining engagement is an OPERATIONAL SIGNAL a pipeline must see —
    * [[graft.Monitors]] turns non-zero drops into a bench-embedded warning
    * instead of a silent semantic divergence.
    */
  private[graft] def guardStats(spark: SparkSession, sfDir: String): DataFrame = {
    def bucketCounts(df: DataFrame, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n")).select(col("n"))
    def statOf(name: String, counts: DataFrame): DataFrame =
      counts.agg(coalesce(max(col("n")), lit(0L)).as("max_bucket"),
        coalesce(sum(when(col("n") > MaxBucketDocs, col("n")).otherwise(0L)), lit(0L))
          .as("n_rows_dropped"))
        .select(lit(name).as("family"), col("max_bucket"), col("n_rows_dropped"))
    def stat(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
      statOf(name, bucketCounts(df, keys))
    // simhash is TWO-LEVEL banded: over-cap top buckets recurse into
    // sub-bands instead of dropping, so engagement = sub-buckets still over
    // cap (and max_bucket is the largest bucket the join actually sees)
    val (shSmall, shHot) = simhashBandedReps(spark, sfDir)
    val shCounts = bucketCounts(shSmall, Seq("band_no", "band_val"))
      .unionAll(bucketCounts(shHot, Seq("band_no", "band_val", "sub_no", "sub_val")))
    stat("minhash_bands", minhashBands(spark, sfDir), Seq("band_no", "band_key"))
      .unionAll(statOf("simhash_bands", shCounts))
      .unionAll(stat("srp_buckets", srpBucketTable(spark, sfDir), Seq("t", "bucket")))
  }

  /** Sorted-neighborhood comparison prefix (edit distance runs on this many
    * leading chars — bounds the DP cost per pair regardless of doc length). */
  val SnPrefix = 48

  /** Blocking-key width (leading chars) for each pass. */
  val SnBlock = 8

  /** In-block lookahead breadth: each record compares to this many sorted
    * successors. */
  val SnWindow = 3

  /** Max prefix edit distance for a pair to count as a fuzzy duplicate. */
  val SnMaxDist = 16

  /** X-P23: multi-pass sorted-neighborhood fuzzy dedup — the EDIT-DISTANCE
    * member of the dedup family (shingle-Jaccard, SimHash and embedding
    * members already exist; this one catches small in-place edits those
    * miss). Classic Hernández–Stolfo shape made distributed: each pass
    * blocks records by a deterministic key prefix, sorts WITHIN blocks, and
    * compares each record to only its [[SnWindow]] sorted successors via
    * `lead` — a partitioned window, so no global sort, no single-partition
    * collapse, and the pair count is ≤ W·n instead of n². Pairs crossing a
    * block boundary are the method's documented blind spot; the standard
    * fix IS the second pass with an independent blocking key (chars
    * [[SnBlock]]+1..2·[[SnBlock]] — offset, not reversed, so the two passes
    * disagree maximally on near-boundary keys), pairs unioned + distinct.
    * Edit distance runs on the [[SnPrefix]]-char prefix (codegen'd
    * `levenshtein`, bounded DP) — exact integers, so the oracle replays
    * both passes bit-for-bit. At 100 TB each pass is one block-keyed
    * shuffle + a W-row lookahead window — the same wire cost as any
    * groupBy, with skew bounded by block-key cardinality.
    */
  def sortedNeighbors(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), substring(col("text"), 1, SnPrefix).as("key"),
        substring(col("text"), 1, SnBlock).as("blk1"),
        substring(col("text"), SnBlock + 1, SnBlock).as("blk2"))
    def pass(blk: String): DataFrame = {
      val w = Window.partitionBy(col(blk)).orderBy(col("key"), col("doc_id"))
      val leads = (1 to SnWindow).map { i =>
        struct(lead(col("doc_id"), i).over(w).as("id"),
          lead(col("key"), i).over(w).as("k"))
      }
      docs
        .select(col("doc_id"), col("key"), array(leads: _*).as("nbs"))
        .select(col("doc_id"), col("key"), explode(col("nbs")).as("nb"))
        .where(col("nb.id").isNotNull)
        .select(least(col("doc_id"), col("nb.id")).as("a_id"),
          greatest(col("doc_id"), col("nb.id")).as("b_id"),
          levenshtein(col("key"), col("nb.k")).cast("long").as("dist"))
        .where(col("dist") <= SnMaxDist)
    }
    pass("blk1").union(pass("blk2"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("dist")).as("dist"))
  }

  /** Doc-frequency band for [[ngramJaccard]]'s rare-gram blocking: a
    * trigram keys a candidate bucket iff 2 ≤ df ≤ this. The cap bounds
    * every bucket to ≤ C(cap,2) pairs — the same hot-bucket discipline as
    * [[guardBuckets]], enforced by construction instead of by dropping.
    */
  val NgramRareDfMax = 10

  /** Word-n-gram Jaccard near-dup detection — a dedup family distinct from
    * MinHash-LSH and SimHash: EXACT set Jaccard over the word-3-gram
    * shingles, made tractable by rare-gram inverted-index blocking
    * ("prefix filtering" from the set-similarity-join literature): only
    * documents sharing at least one shingle with document frequency in
    * [2, [[NgramRareDfMax]]] become candidate pairs, so each posting list
    * yields ≤ C(cap,2) pairs and the join never goes quadratic in the
    * corpus. Guarantee vs LSH: DETERMINISTIC recall — any pair sharing a
    * rare shingle is examined (near-identical documents always share many),
    * where LSH banding is probabilistic; the tradeoff is missing pairs
    * whose every shared shingle is ubiquitous (df > cap), which at ≥½
    * Jaccard cannot happen until a shingle's df exceeds the cap corpus-wide
    * — i.e. boilerplate, which near-dup detection deliberately discounts.
    * The ≥½ threshold is the integer cross-multiplication 2·|∩| ≥ |∪| — no
    * float compare at the cut. The shingle table is the SAME staged
    * intermediate the MinHash chain reads ([[distinctShingles]]) — one
    * corpus explode feeds both dedup families.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    rareGramOverlaps(spark, sfDir)
      .where(col("n_inter") * 2 >= col("n_a") + col("n_b") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))

  /** Containment numerator/denominator for the ≥ 4/5 cut — see
    * [[ngramContainment]].
    */
  val ContainmentNum = 4L
  val ContainmentDen = 5L

  /** Asymmetric containment |A∩B| / min(|A|,|B|) over the same rare-gram
    * candidates as [[ngramJaccard]] — subsumption detection: a short
    * document wholly embedded in a longer one scores near 1 here while its
    * symmetric Jaccard (÷ the union) can be arbitrarily low, which is why
    * dedup pipelines track both. Cut at ≥ [[ContainmentNum]]/[[ContainmentDen]]
    * via integer cross-multiplication; the per-direction ratios are single
    * IEEE divisions of exact longs.
    */
  def ngramContainment(spark: SparkSession, sfDir: String): DataFrame =
    rareGramOverlaps(spark, sfDir)
      .where(col("n_inter") * ContainmentDen >=
        least(col("n_a"), col("n_b")) * ContainmentNum)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") / col("n_a")).as("cont_a"),
        (col("n_inter").cast("double") / col("n_b")).as("cont_b"))

  /** Shared candidate machinery of [[ngramJaccard]] / [[ngramContainment]]:
    * rare-gram-blocked candidate pairs with exact intersection and set
    * sizes — (doc_a, doc_b, n_inter, n_a, n_b), doc_a < doc_b.
    *
    * Verify shape (r7, the [[prefixJaccard]] lesson applied here too): the
    * exact intersection is an IN-ROW `array_intersect` of per-doc sorted
    * gram arrays joined to the pair list — candidate-count rows carrying
    * array payloads — instead of the gram-level pair×grams explode + pair
    * re-aggregation, which shuffled |pairs|·|grams/doc| rows. Arrays are
    * built only for docs that appear in some candidate pair (broadcast
    * semi-join prune — at 100 TB the candidate-doc sliver, not the
    * corpus), and the joins are shuffle_hash: SMJ would sort the
    * array-payload rows, the dominant cost the PPJoin verify measured.
    */
  /** The rare-gram inverted index `(g, doc_id)` — grams with df ∈
    * [2, [[NgramRareDfMax]]] — staged once per (session, sf): it is the
    * stored blocking layout both [[ngramJaccard]] and [[ngramContainment]]
    * read, and recomputing the df cut per query repeats the corpus-wide
    * gram aggregation.
    */
  private[graft] def rarePosting(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "rare_posting", Tables.Parquet()) {
      val tg = distinctShingles(spark, sfDir)
        .select(col("doc_id"), col("shingle").as("g"))
      val rare = tg.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .where(col("df") >= 2 && col("df") <= NgramRareDfMax)
        .select(col("g"))
      tg.join(broadcast(rare), Seq("g"), "left_semi")
    }

  private def rareGramOverlaps(spark: SparkSession, sfDir: String): DataFrame =
    // the verified overlap table (pairs + exact intersections + sizes) is
    // shared by the Jaccard and containment cuts — the [[minhashCandidates]]
    // staging precedent: compute the candidate surface once per session,
    // let each registered query apply its own threshold to the stored table
    Tables.stage(spark, sfDir, "rare_overlaps", Tables.Parquet()) {
      rareGramOverlapsBuild(spark, sfDir)
    }

  private[graft] def rareGramOverlapsBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val tg = distinctShingles(spark, sfDir)
      .select(col("doc_id"), col("shingle").as("g"))
    val posting = rarePosting(spark, sfDir)
    val cand = posting.select(col("g"), col("doc_id").as("doc_a"))
      .join(posting.select(col("g"), col("doc_id").as("doc_b")), Seq("g"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionAll(cand.select(col("doc_b").as("doc_id"))).distinct()
    val docsets = tg.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("gs"), count(lit(1)).as("n"))
    cand
      .join(docsets.hint("shuffle_hash").select(col("doc_id").as("doc_a"),
        col("gs").as("gs_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(docsets.hint("shuffle_hash").select(col("doc_id").as("doc_b"),
        col("gs").as("gs_b"), col("n").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.SetExpressions
          .sortedIntersectN(spark, col("gs_a"), col("gs_b")).as("n_inter"),
        col("n_a"), col("n_b"))
  }

  /** X-P27: incremental batch-vs-index dedup — the shape a production
    * pipeline actually runs daily: dedup a NEW batch of documents against
    * the accumulated corpus index, not the corpus against itself. The
    * split here is deterministic (odd doc_ids = today's batch, even =
    * the stored index) so the oracle can replay it; the algorithm is the
    * asymmetric variant of [[minhashCandidates]]: both sides carry the
    * same [[NumBands]] LSH band keys, the join is batch-bands ⋈
    * index-bands on (band_no, band_key) — NEVER a self-join, so the
    * fan-out is batch-bucket × index-bucket, each side capped by the
    * [[guardBuckets]] hot-bucket guard — then exact shingle Jaccard
    * verifies the survivors with the ≥½ cut as the integer
    * cross-multiplication 3·|∩| ≥ |A|+|B|. At 100 TB this is the
    * decisive dedup economics: the index's signatures are a STORED table
    * bucketed by (band_no, band_key) that never recomputes or reshuffles;
    * only the (daily-sized) batch computes signatures and shuffles, and
    * the verify step's shingle scan is pruned by a broadcast semi-join to
    * candidate docs only — work scales with the batch and its match
    * surface, not the corpus.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame =
    incrementalAgainst(spark, sfDir,
      minhashBands(spark, sfDir).where(col("doc_id") % 2 === 0))

  /** Root of the PERSISTED MinHash index — the band-signature table as a
    * [[graft.sources.TxTable]], built once per (session, sfDir) as two
    * committed versions (VERDICT r9 #8, X-P27 ⋈ X-M2):
    *   v0 `index_batch0`  the accumulated index (even doc_ids);
    *   v1 `index_batch1`  today's batch ingested after its dedup ran.
    * This is the cross-run shape of incremental dedup: the index survives
    * as a real table with provenance (`TxTable.history`), each day's run
    * dedups against the PRE-INGEST snapshot (time travel to v0 — exactly
    * the reader-isolation the ACID format already guarantees), then
    * appends its own signatures for tomorrow. At 100 TB the committed
    * parquet is the stored artifact that never recomputes; TTL/vacuum
    * retire old signature files through the same log.
    */
  private[graft] def minhashIndexTx(spark: SparkSession, sfDir: String): String =
    Tables.memo(spark, sfDir, "txtable_minhash_idx") {
      val root = Tables.uniqueStageDir(spark, sfDir, "txtable_minhash_idx")
      val bands = minhashBands(spark, sfDir)
      // 4 files per batch append, pinned: the per-ingest-day small-file
      // shape the compaction exists to fold (AQE would otherwise coalesce
      // a small SF's append below compact's targetFiles and no-op it)
      TxTable.append(spark, root,
        bands.where(col("doc_id") % 2 === 0).repartition(4), op = "index_batch0")
      TxTable.append(spark, root,
        bands.where(col("doc_id") % 2 === 1).repartition(4), op = "index_batch1")
      // v2: fold the per-batch files into a band-key-clustered layout —
      // the maintenance pass a stored LSH index runs after every ingest
      // day (probe reads become contiguous), exercised here so compaction
      // is part of the ORACLE-VERIFIED history, not only spec-tested.
      // Pure layout surgery: v0/v1 snapshots (the dedup read path) and
      // the latest row set are untouched. FOUR range files (r11, was 1):
      // disjoint (band_no, band_key) ranges per file are exactly what the
      // commit-logged stats + readWhere data skipping turn into O(1)-file
      // probes — see `xacid_pruned_scan`. Bloom filters on band_key (r11)
      // cover the OTHER probe shape: a key-only lookup sees every file's
      // [min,max] span the digest space (band_no leads the sort), so only
      // the blooms prove absence — see `xacid_bloom_scan`.
      TxTable.compact(spark, root, targetFiles = 4,
        sortCols = Seq("band_no", "band_key"),
        bloomCols = Seq("band_key")): Unit
      root
    }

  /** [[incrementalDedup]] against the PERSISTED index: the stored-table
    * side reads the TxTable snapshot AS OF v0 — the pre-ingest index —
    * through the commit log (parquet files on disk, not a recomputed
    * lineage), so the oracle equivalence proves the two-batch
    * persisted-index run reproduces the one-shot recompute bit-for-bit
    * (it SHARES `dd_incremental`'s oracle SQL). The companion query
    * `xacid_dedup_index` verifies the index table's own recorded history.
    */
  def incrementalDedupTx(spark: SparkSession, sfDir: String): DataFrame =
    incrementalAgainst(spark, sfDir,
      TxTable.read(spark, minhashIndexTx(spark, sfDir), asOf = Some(0L)))

  /** [[incrementalDedupTx]] with the BATCH sourced from the index table's
    * own CHANGE FEED (r12): version 1's insert changes ARE the ingest
    * day's band rows, so the consumer replays `readChanges(1, 1)` instead
    * of recomputing the batch's signatures or diffing snapshots — the CDF
    * contract applied to the pipeline that motivated it. At 100 TB the
    * feed of one ingest day is the day's rows, not the index. Shares
    * `dd_incremental`'s oracle: all three routes (recompute, snapshot
    * read, change feed) must produce the identical dedup verdicts.
    */
  def incrementalDedupCdf(spark: SparkSession, sfDir: String): DataFrame = {
    val root = minhashIndexTx(spark, sfDir)
    incrementalWith(spark, sfDir,
      TxTable.read(spark, root, asOf = Some(0L)),
      TxTable.readChanges(spark, root, fromVersion = 1L, toVersion = Some(1L))
        .where(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version"))
  }

  /** Per-version history of the persisted MinHash index. */
  def dedupIndexHistory(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.history(spark, minhashIndexTx(spark, sfDir))
      .select(col("version"), col("op"), col("rows_written"))

  /** Data-skipping probe of the persisted index (X-M2 / X-P27 read path):
    * one band's bucket profile read through [[TxTable.readWhere]], which
    * consults the commit-logged per-file column ranges and OPENS only the
    * files whose (band_no) range can intersect the predicate — after the
    * band-clustered compaction that is 1 of 4 files (AcidSpec asserts the
    * skip count; the oracle asserts the pruned read loses no rows, the
    * data-skipping correctness contract). At 100 TB this is an LSH probe
    * touching one file instead of the whole index.
    */
  def prunedIndexScan(spark: SparkSession, sfDir: String): DataFrame =
    TxTable.readWhere(spark, minhashIndexTx(spark, sfDir),
        col("band_no") === ProbeBand)
      .groupBy(col("band_no"))
      .agg(count(lit(1)).as("n_entries"),
        countDistinct(col("band_key")).as("n_buckets"),
        min(col("band_key")).as("min_key"),
        max(col("band_key")).as("max_key"))

  /** Band probed by [[prunedIndexScan]] — an interior band, so the skip is
    * range-driven, not an endpoint artifact.
    */
  val ProbeBand = 3

  /** Bloom-driven point probe of the persisted index: look up ONE band_key
    * WITHOUT its band_no — the cross-band membership question ("has this
    * bucket digest been seen anywhere?"). The layout sorts by (band_no,
    * band_key), so every file's band_key [min,max] spans essentially the
    * whole md5 space and RANGE skipping keeps all 4 files; the per-file
    * band_key Bloom filters recorded by the compaction ([[TxTable.compact]]
    * `bloomCols`) are what prove absence (AcidSpec asserts bloom skips
    * where ranges cannot; the oracle asserts the pruned read loses no
    * rows). The probe key — the smallest band_key of [[ProbeBand]] — is
    * itself derived through a range-pruned read (1 of 4 files), so the
    * whole query touches metadata + the probe files, never the full index:
    * the point-lookup path of a 100-TB stored LSH index.
    */
  def bloomIndexScan(spark: SparkSession, sfDir: String): DataFrame = {
    val root = minhashIndexTx(spark, sfDir)
    val key = TxTable.readWhere(spark, root, col("band_no") === ProbeBand)
      .agg(min(col("band_key"))).head().getString(0)
    TxTable.readWhere(spark, root, col("band_key") === key)
      .groupBy(col("band_key"))
      .agg(count(lit(1)).as("n_entries"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("band_no")).cast("long").as("min_band"),
        max(col("band_no")).cast("long").as("max_band"))
  }

  private def incrementalAgainst(spark: SparkSession, sfDir: String,
                                 indexBands: DataFrame): DataFrame =
    incrementalWith(spark, sfDir, indexBands,
      minhashBands(spark, sfDir).where(col("doc_id") % 2 === 1))

  private def incrementalWith(spark: SparkSession, sfDir: String,
                              indexBands: DataFrame,
                              batchBands: DataFrame): DataFrame = {
    val idx = guardBuckets(indexBands, "band_no", "band_key")
      .select(col("doc_id").as("index_doc"), col("band_no"), col("band_key"))
    val bat = guardBuckets(batchBands, "band_no", "band_key")
      .select(col("doc_id").as("batch_doc"), col("band_no"), col("band_key"))
    // r15: cand and the shingle sliver are each referenced three times
    // downstream, feeding DIFFERENT exchanges (the candDocs union legs,
    // the sizes groupBy, and the two verify joins) — exchange reuse never
    // dedups them, so without the cuts the band join ran twice and the
    // corpus-sized posting scan + semi-join three times per query. Both
    // frames are candidate-sliver-sized by dedup's premise (pairs, and
    // candidate docs' shingles), so localCheckpoint materializes kilobytes
    // per 100-TB-scale match surface and cuts the repeated passes.
    val cand = bat.join(idx, Seq("band_no", "band_key"))
      .select(col("batch_doc"), col("index_doc")).distinct()
      .localCheckpoint()
    val candDocs = cand.select(col("batch_doc").as("doc_id"))
      .unionAll(cand.select(col("index_doc").as("doc_id"))).distinct()
    val sh = distinctShingles(spark, sfDir)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val sizes = sh.groupBy(col("doc_id")).agg(count("*").as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("batch_doc"), col("shingle")), Seq("batch_doc"))
      .join(sh.select(col("doc_id").as("index_doc"), col("shingle")),
        Seq("index_doc", "shingle"))
      .groupBy(col("batch_doc"), col("index_doc")).agg(count("*").as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("batch_doc"), col("n").as("n_batch")),
        Seq("batch_doc"))
      .join(sizes.select(col("doc_id").as("index_doc"), col("n").as("n_index")),
        Seq("index_doc"))
      .where(col("n_inter") * 3 >= col("n_batch") + col("n_index"))
      .select(col("batch_doc"), col("index_doc"), col("n_inter"),
        col("n_batch"), col("n_index"),
        (col("n_inter").cast("double") /
          (col("n_batch") + col("n_index") - col("n_inter"))).as("jaccard"))
  }

  /** Word-gram width for [[dupSpans]]. */
  val DupSpanN = 5

  /** X-P26: duplicate-span coverage — for every document, the fraction of
    * its token positions covered by a [[DupSpanN]]-word gram that also
    * appears in ANOTHER document. This is the span-granular exact-substring
    * dedup signal (the "dedup training data at the substring level" family):
    * where [[exactDedup]] only sees whole-document copies and
    * [[ngramJaccard]] scores set overlap, span coverage localizes WHICH
    * parts of a document are boilerplate/copied, and its per-doc fraction is
    * the usual removal threshold. Plan: gram construction is NARROW
    * (`transform(sequence(...))` over the word array — position and gram
    * travel together, no window sort); the only corpus-sized shuffles are
    * the gram-keyed duplicate count (map-side-combinable) and the semi-join
    * of grams against the duplicated set; the ×[[DupSpanN]] position explode
    * happens AFTER that semi-join, so it blows up only the duplicated spans,
    * not the corpus (the bounded-explode argument of the 7× WAU window).
    * All counts are integers; the one emitted float is a single division,
    * rounded — hash-exact cross-engine.
    */
  def dupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) >= DupSpanN)
    val grams = base.select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $DupSpanN), " +
          s"i -> struct(i AS p, array_join(slice(w, i + 1, $DupSpanN), ' ') AS g))")).as("s"))
      .select(col("doc_id"), col("s.p").as("p"), col("s.g").as("g"))
    val dup = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select(col("g"))
    val cov = grams.join(dup, Seq("g"), "leftsemi")
      .select(col("doc_id"),
        explode(expr(s"sequence(p, p + ${DupSpanN - 1})")).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_pos"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        round(coalesce(col("n_dup_pos"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_frac"))
  }

  /** X-P34: duplicate-span REMOVAL — the transform half of [[dupSpans]]:
    * where X-P26 scores which positions sit inside a cross-document
    * [[DupSpanN]]-gram, this emits the document with those positions CUT
    * (the ExactSubstr-style "deduplicate at the substring level, keep the
    * rest" rewrite — dropping whole documents over a little boilerplate
    * throws away good text; masking just the copied spans keeps it).
    * Per doc: token count, removed-position count, and the cleaned text
    * rebuilt from the surviving positions in order (empty string when a
    * document is wall-to-wall duplicated).
    *
    * Plan shape: identical corpus-sized stages to [[dupSpans]] (narrow
    * gram build, gram-keyed dup count, semi-join, post-join ×N position
    * explode) plus one doc-keyed rebuild: posexplode of the word array
    * anti-joined against the covered positions, then a per-doc
    * collect_list of (pos, token) structs sorted in-row — the sort is
    * per-document over its own tokens (array-sized, never a corpus sort)
    * and the agg is hash-partitioned by doc_id. Deterministic: positions
    * are exact ints, the rebuild order is total.
    */
  def spanRemoval(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .where(size(col("w")) >= DupSpanN)
    val grams = base.select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $DupSpanN), " +
          s"i -> struct(i AS p, array_join(slice(w, i + 1, $DupSpanN), ' ') AS g))")).as("s"))
      .select(col("doc_id"), col("s.p").as("p"), col("s.g").as("g"))
    val dup = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select(col("g"))
    val covered = grams.join(dup, Seq("g"), "leftsemi")
      .select(col("doc_id"),
        explode(expr(s"sequence(p, p + ${DupSpanN - 1})")).as("pos"))
      .distinct()
    val kept = base
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
          " ").as("cleaned"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Jaccard threshold for [[prefixJaccard]] as an exact rational. */
  val PpjNum = 9L
  val PpjDen = 10L

  /** X-P25: threshold-driven prefix-filter set-similarity join (the PPJoin
    * prefix-filtering principle) over distinct TOKEN sets — the EXACT
    * member of the candidate-generation family: where LSH banding
    * ([[minhashCandidates]]) is probabilistic and rare-gram blocking
    * ([[ngramJaccard]]) is df-heuristic, the length-dependent prefix is a
    * THEOREM: order every set by one global token order (df asc, token asc
    * — rarest first, the order that minimizes candidates) and take each
    * set's first |x| − ⌈t·|x|⌉ + 1 tokens; any pair with Jaccard ≥ t must
    * overlap within those prefixes (if the prefixes were disjoint, the
    * intersection is confined to the suffixes and is too small by
    * counting). So candidates = an equi-join on prefix tokens — recall 1.0
    * by construction, verified by exact intersection counts, thresholded
    * with the integer cross-multiplication 19·|∩| ≥ 9·(|A|+|B|) (⟺
    * J ≥ 9/10 — no float at the cut). Plan: df aggregation (map-side
    * combinable), one doc-keyed window for the rank, the prefix equi-join
    * on token with the PPJoin LENGTH and POSITIONAL filters applied inline
    * (both lossless, see below), then ONE pair-keyed verify join against
    * per-doc sorted token arrays — every stage hash-partitioned, nothing
    * quadratic in the corpus. At 100 TB the df table is vocabulary-sized
    * (broadcast), and prefix length shrinks as t rises — at t=0.9 a
    * 100-token set contributes 11 prefix tokens, an 89% posting reduction
    * before any pair forms. The residual degeneracy — identical-set
    * CLIQUES, whose members all carry the same prefix and mass-pair — is
    * removed EXACTLY (not capped) by the set-level collapse documented
    * inline: group docs by content hash of the sorted token set, join only
    * group representatives, expand qualifying group pairs back to doc
    * pairs at output. Recall stays 1.0 — unlike a hot-posting drop guard,
    * which on this corpus would erase 99% of the true result (sf0.1
    * measured: 965k true pairs, 929k of them clique expansions).
    *
    * Why the two inline filters are lossless (r5 measured the bare prefix
    * join pruning ~0 on this boilerplate-heavy corpus — 11.3M of 12.5M
    * possible pairs, a 269M-row verify): (1) LENGTH — J ≥ t ⇒
    * |∩|/|∪| ≤ min(n_a,n_b)/max(n_a,n_b), so t·max ≤ min, checked as the
    * integer cross-multiplication min·Den ≥ max·Num; (2) POSITIONAL — for
    * the FIRST common token under the global (df,token) order, every
    * earlier-ranked token of each side is outside the other side entirely,
    * so |∩| ≤ 1 + min(n_a − r_a, n_b − r_b); a qualifying pair needs
    * |∩|·(Num+Den) ≥ (n_a+n_b)·Num, and its first-common-token row
    * satisfies both — so at least one matched row survives per true pair
    * and exact verification restores the precise set. The verify itself
    * joins surviving pairs to per-doc sorted token ARRAYS (two hash joins,
    * pair-count rows each) and intersects in-row — candidate-count × avg
    * set size work with no token-level shuffle, replacing r5's 269M-row
    * explode-join.
    */
  /** Per-doc sorted distinct-token set + its content hash `(doc_id, ts, n,
    * h)` — the input layout of [[prefixJaccard]]'s set-level collapse,
    * staged once per (session, sf): the query's DAG reads it from six
    * branches (rep selection, df, rank, verify arrays ×2, member
    * expansion), and without staging each branch re-runs the corpus
    * explode+groupBy (measured 11.1 s → the staged run's ~4 s at sf0.1).
    * At 100 TB this is the tokenized-corpus layout a dedup pipeline writes
    * once and shares across every set-similarity pass.
    */
  private[graft] def ppjSets(spark: SparkSession, sfDir: String): DataFrame =
    // r16: staged BUCKETED by doc_id (guide §6/§2.4): every downstream
    // doc-keyed consumer — the rep-filter joins, the prefix rank window,
    // and above all the verify joins that attach each candidate side's
    // token ARRAY — then needs NO exchange on this side. The verify array
    // exchanges were the query's dominant remaining cost (the r12 audit
    // measured the two array joins at 8.5 of 10.5 s at sf1.0): the arrays
    // are the corpus's token mass, and with the bucketed layout they are
    // read pre-partitioned instead of shuffled per query.
    Tables.stage(spark, sfDir, "ppj_sets", Tables.Bucketed("doc_id")) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(words(col("text"))).as("token"))
        .distinct()
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("token"))).as("ts"),
          count(lit(1)).as("n"))
        // space-joined: tokens are whitespace-split so " " cannot occur
        // inside one, making the joined string a bijective set encoding
        .withColumn("h", md5(concat_ws(" ", col("ts"))))
    }

  /** The PPJoin prefix inverted index over group REPRESENTATIVES —
    * `(doc_id, token, r, n)` rows for each rep's first n − ⌈t·n⌉ + 1
    * tokens under the global (df asc, token asc) order — staged once per
    * (session, sf). This is the layout a production set-similarity system
    * PERSISTS (the prefix index is rebuilt only when the corpus or the
    * threshold changes); staging it also means the self-join's two sides
    * and [[prefixJoinStats]] read one stored table instead of each
    * re-running the rank windows. Prefix length uses the exact integer
    * ceiling ⌈Num·n/Den⌉ = (n·Num + Den − 1) div Den.
    */
  private[graft] def ppjPrefix(spark: SparkSession, sfDir: String): DataFrame =
    // r16: staged BUCKETED by token — the candidate self-join's equi-key —
    // so BOTH posting sides of [[prefixJaccard]]'s pair join read
    // pre-partitioned (no per-query exchange of the prefix postings). The
    // rep filter broadcasts (group-count-sized): a broadcast join preserves
    // the streamed side's bucketed doc_id partitioning, so the rank window
    // below needs no exchange either.
    Tables.stage(spark, sfDir, "ppj_prefix", Tables.Bucketed("token")) {
      val sets = ppjSets(spark, sfDir)
      val groups = sets.groupBy(col("h")).agg(min(col("doc_id")).as("rep"))
      val repSets = sets.join(broadcast(groups.select(col("rep").as("doc_id"))),
        Seq("doc_id"))
      val toks = repSets.select(col("doc_id"), explode(col("ts")).as("token"))
      val df = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("token"))
      // each prefix row carries its rep's 64-byte token-count signature
      // (r13): the candidate join then rejects most dissimilar pairs with
      // 64 byte ops BEFORE any token array ships to the verify joins
      val sigs = repSets.select(col("doc_id"),
        graft.functions.SetExpressions.tokenCountSig(spark, col("ts")).as("sig"))
      toks.join(broadcast(df), Seq("token"))
        .select(col("doc_id"), col("token"),
          row_number().over(w).cast("long").as("r"),
          count(lit(1)).over(Window.partitionBy(col("doc_id"))).as("n"))
        .where(col("r") <= col("n") -
          expr(s"(n * $PpjNum + ${PpjDen - 1}) div $PpjDen") + 1)
        .join(sigs, Seq("doc_id"))
    }

  def prefixJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // --- set-level collapse (the r7 fix for the boilerplate scale-killer).
    // Docs with IDENTICAL distinct-token sets are interchangeable under
    // Jaccard: J(a,b) = J(rep(a), rep(b)) exactly, and within a group every
    // pair has J = 1 ≥ t. So collapse the corpus to set-groups (key = md5 of
    // the sorted token list — one groupBy), run the PPJoin on one
    // REPRESENTATIVE per group, and expand qualifying group pairs back to
    // doc pairs at the end. Boilerplate-heavy corpora are exactly the ones
    // with huge identical-set cliques (sf0.1: 5000 docs → 3935 groups, max
    // clique 248), and the clique is what made the prefix join quadratic —
    // r6's 22.4M matched prefix rows drop to 2.0M at rep level while the
    // 965k-pair result is reproduced EXACTLY (no cap, no recall loss; the
    // r6-considered hot-token drop guard would have thrown away 99% of the
    // true result here). At 100 TB the collapse is one content-keyed
    // groupBy — the same shape as [[exactDedup]] — and pair expansion is
    // output-sized work.
    val sets = ppjSets(spark, sfDir)
    val groups = sets.groupBy(col("h"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("sz"))
    // rep filter broadcasts (group-count-sized — dedup's premise keeps it
    // far under any broadcast cap): the broadcast join preserves the
    // bucketed scan's doc_id partitioning, so the verify joins below see
    // a pre-partitioned array side
    val repSets = sets.join(broadcast(groups.select(col("rep").as("doc_id"))),
      Seq("doc_id"))
    val prefix = ppjPrefix(spark, sfDir)
    val pa = prefix.select(col("token"), col("doc_id").as("rep_a"),
      col("r").as("r_a"), col("n").as("n_a"), col("sig").as("sig_a"))
    val pb = prefix.select(col("token"), col("doc_id").as("rep_b"),
      col("r").as("r_b"), col("n").as("n_b"), col("sig").as("sig_b"))
    // r12 adjudication (VERDICT r11 #7, measured at the 100× deep point):
    // the PPJoin+-style pair-aggregated bound — groupBy(rep_a, rep_b) over
    // the matched prefix rows, then |∩| ≤ k + min(remaining after the LAST
    // match), a sound and strictly tighter cut than the per-first-match
    // bound — was BUILT AND MEASURED here and REJECTED: it cut candidate
    // rows 15.8M → 10.5M at sf1.0 (34%) but the aggregation itself is a
    // full shuffle of a mostly-unique pair-key set (dup factor only
    // 1.13×, so map-side combine buys nothing), and at the 100× point the
    // spilling hash aggregate took the query from 57 s to 113 s — the
    // narrow-row exchange + agg materialization costs more than shipping
    // the 1.13× duplicates straight through the streaming verify joins.
    // The remaining cost is the verify work itself (the two shuffle_hash
    // array joins: 8.5 of 10.5 s at sf1.0, 0.2% survivor selectivity),
    // and cutting it needs a cheaper signal than the prefix ranks carry —
    // per-rep compact signatures, not a pair aggregation. Keeping the r11
    // streaming shape: per-row first-match positional filter, duplicates
    // tolerated into verify, dedup on the 60×-smaller survivor set.
    // shuffle_hash, not sort-merge: with the sig prefilter the join's
    // DOWNSTREAM is now cheap, so the two 20M-row sorts SMJ would run on
    // the posting sides are the cost floor — hash-building one side skips
    // both (the same adjudication as the verify joins below)
    // r16: ASYMMETRIC MID-PREFIX (the PPJoin+ indexing/probing-prefix
    // split). Orient each pair canonically by (n, doc_id) — side a is the
    // SMALLER set — instead of by doc_id alone. Then for a true pair the
    // first common token w under the global order (the row the losslessness
    // argument already rests on) satisfies a TIGHTER bound on a's side:
    // |∩| ≥ O = ⌈t/(1+t)·(n_a+n_b)⌉ ≥ ⌈2t/(1+t)·n_a⌉ because n_b ≥ n_a,
    // so r_a(w) ≤ n_a − ⌈2t/(1+t)·n_a⌉ + 1 — at t = 9/10 that is ~5.3% of
    // n_a versus the staged prefix's ~10%, halving side a's posting rows
    // before any pair forms (b's side keeps the standard prefix, which is
    // exactly what O ≥ ⌈t·n_b⌉ — from n_a ≥ t·n_b — licenses). Lossless by
    // the same keep-if-ANY-row-survives semantics: w's row passes this
    // bound, the length filter, the positional filter, and the pair-level
    // sig filters, so at least one row per true pair still reaches verify.
    // ⌈2·Num·n/(Num+Den)⌉ as exact integer ceiling division.
    val cand = pa
      .where(col("r_a") <= col("n_a") -
        expr(s"(n_a * ${2 * PpjNum} + ${PpjNum + PpjDen - 1}) div ${PpjNum + PpjDen}") + 1)
      .join(pb.hint("shuffle_hash"), Seq("token"))
      .where(col("n_a") < col("n_b") ||
        (col("n_a") === col("n_b") && col("rep_a") < col("rep_b")))
      // length filter: t·max(n_a,n_b) ≤ min(n_a,n_b), integer-exact
      // (n_a ≤ n_b by the canonical orientation, but keep the symmetric
      // spelling — it costs nothing and stays correct if the orientation
      // predicate ever moves)
      .where(least(col("n_a"), col("n_b")) * PpjDen >=
        greatest(col("n_a"), col("n_b")) * PpjNum)
      // positional filter: 1 + min(remaining) bounds |∩| at this match
      // (bound only valid per-pair via the surviving first-match row — see
      // scaladoc; keep-if-ANY-row-survives semantics, realized by the
      // post-verify distinct, is what makes it lossless)
      .where((lit(1L) + least(col("n_a") - col("r_a"), col("n_b") - col("r_b"))) *
        (PpjNum + PpjDen) >= (col("n_a") + col("n_b")) * PpjNum)
      // SIGNATURE prefilter (r13, VERDICT r12 #8 — the per-rep compact
      // signal the r12 adjudication called for): |∩| is bounded above by
      // n − sigDiffBound on EITHER side (exact-subsuming, see
      // [[graft.functions.TokenCountSig]]), so a pair failing the
      // threshold on the 64-byte histograms is rejected for 64 byte ops
      // before its token arrays ever ship to the verify joins — the
      // verify's 0.2% selectivity now applies to signature survivors, not
      // to every prefix collision.
      .where((col("n_a") - graft.functions.SetExpressions
          .sigDiffBound(spark, col("sig_a"), col("sig_b"))) *
        (PpjNum + PpjDen) >= (col("n_a") + col("n_b")) * PpjNum)
      .where((col("n_b") - graft.functions.SetExpressions
          .sigDiffBound(spark, col("sig_b"), col("sig_a"))) *
        (PpjNum + PpjDen) >= (col("n_a") + col("n_b")) * PpjNum)
      // NO distinct here: a pair matching k prefix tokens flows into verify
      // k times (k ≤ prefix length, ~1.13× rows measured) — strictly
      // cheaper than a dedicated full-width exchange of the candidate set;
      // the dedup happens on the verify SURVIVORS below, a set 60× smaller.
      .select(col("rep_a"), col("rep_b"))
    val docsets = repSets.select(col("doc_id"), col("ts"), col("n"))
    // exact verify on REP pairs only: in-row sorted-array intersection.
    // shuffle_hash, not the default sort-merge: the pair side carries the
    // token ARRAYS, and SMJ would sort millions of array-payload rows per
    // join (measured 2× the whole query's cost at sf0.1); hash join moves
    // the same bytes but never sorts them — the right strategy whenever
    // the probe side is wide and the key is already hash-partitionable.
    val repPairs = cand
      .join(docsets.hint("shuffle_hash").select(col("doc_id").as("rep_a"),
        col("ts").as("ts_a"), col("n").as("n_a")), Seq("rep_a"))
      .join(docsets.hint("shuffle_hash").select(col("doc_id").as("rep_b"),
        col("ts").as("ts_b"), col("n").as("n_b")), Seq("rep_b"))
      // codegen'd merge count over the sorted arrays — no per-row hash set
      // or materialized intersection (graft.functions.SortedIntersectN)
      .withColumn("n_inter", graft.functions.SetExpressions
        .sortedIntersectN(spark, col("ts_a"), col("ts_b")))
      .where(col("n_inter") * (PpjNum + PpjDen) >= (col("n_a") + col("n_b")) * PpjNum)
      .select(col("rep_a"), col("rep_b"), col("n_inter"), col("n_a"), col("n_b"))
      .distinct()
    // --- expansion back to doc pairs: inter-group pairs inherit the rep
    // pair's exact counts; intra-group pairs are J = 1 by construction.
    val members = sets.join(groups, Seq("h"))
      .select(col("doc_id"), col("rep"))
    val inter = repPairs
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("da")), Seq("rep_a"))
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("db")), Seq("rep_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("n_inter"),
        when(col("da") < col("db"), col("n_a")).otherwise(col("n_b")).as("n_a"),
        when(col("da") < col("db"), col("n_b")).otherwise(col("n_a")).as("n_b"))
    val ma = members.join(sets.select(col("doc_id"), col("n")), Seq("doc_id"))
    val intra = ma.select(col("rep"), col("doc_id").as("doc_a"), col("n"))
      .join(ma.select(col("rep"), col("doc_id").as("doc_b")), Seq("rep"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n").as("n_inter"),
        col("n").as("n_a"), col("n").as("n_b"))
    inter.unionAll(intra)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** [[prefixJaccard]]'s degeneracy monitor — the [[bucketStats]] pattern
    * for the PPJoin: one row of exact integers over the collapse and the
    * rep-level prefix postings. `max_clique`/`intra_pairs` size the
    * identical-set cliques the collapse absorbs exactly; `max_posting`/
    * `cand_upper` (Σ c·(c−1)/2, the candidate-pair upper bound) expose
    * prefix-posting skew — a `max_posting` approaching `n_groups` means the
    * token order has degenerated toward all-pairs for this corpus/threshold
    * and the pipeline should alert BEFORE the join cost arrives, not after.
    * All counts integer-exact, so the oracle replays collapse + ranking
    * bit-for-bit.
    */
  def prefixJoinStats(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = ppjSets(spark, sfDir)
    val groups = sets.groupBy(col("h"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("sz"))
    val gstats = groups.agg(
      count(lit(1)).as("n_groups"),
      max(col("sz")).as("max_clique"),
      sum(expr("sz * (sz - 1) div 2")).as("intra_pairs"))
    val nDocs = sets.agg(count(lit(1)).as("n_docs"))
    val post = ppjPrefix(spark, sfDir)
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val pstats = post.agg(
      count(lit(1)).as("n_prefix_tokens"),
      max(col("c")).as("max_posting"),
      sum(expr("c * (c - 1) div 2")).as("cand_upper"))
    nDocs.crossJoin(gstats).crossJoin(pstats)
  }

  /** Minimum ROUNDED Jaro–Winkler similarity for a name pair to report.
    * The cut compares the 6 dp-rounded score in BOTH engines — rounding
    * first collapses the ≤1-ulp raw-double divergence between this
    * library's expression and DuckDB's C++ implementation, so pair
    * membership is engine-identical (the [[GeoOps.adamicAdar]] rounded-cut
    * discipline applied to a filter instead of a top-k). */
  val JwThreshold = 0.84

  /** X-P43: fuzzy name matching by Jaro–Winkler — the entity-resolution
    * scorer for NAMES (prefix-weighted, transposition-tolerant), the
    * family member edit distance ([[sortedNeighbors]]) and set similarity
    * miss: "red widget"/"red gadget" score high on the shared stem where
    * Levenshtein sees 3 edits. Scored by the library's own codegen'd
    * [[graft.functions.JaroWinkler]] expression (no UDF — stays inside
    * whole-stage codegen).
    *
    * Scale shape — the ppj clique-collapse argument: part NAMES are a
    * VOCABULARY, not a corpus (adjective×noun here; catalog-bounded
    * anywhere), so the op collapses to distinct names first (map-side,
    * carrying each name's part count) and the all-pairs scoring runs on
    * vocab² — bounded by the name space at any corpus size, broadcast
    * BNLJ, never parts². A corpus-sized name column would swap this stage
    * for the sorted-neighborhood blocking [[sortedNeighbors]] already
    * implements.
    */
  def jaroNamePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
    names.select(col("p_name").as("name_a"), col("n_parts").as("n_a"))
      .join(names.select(col("p_name").as("name_b"), col("n_parts").as("n_b")),
        col("name_a") < col("name_b"))
      .withColumn("jw", round(
        graft.functions.StringSimilarity.jaroWinklerCol(spark, "name_a", "name_b"), 6))
      .where(col("jw") >= JwThreshold)
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"), col("jw"))
  }

  /** X-P44: mutual-best (reciprocal top-1) matching over the
    * [[jaroNamePairs]] candidates — the 1:1 ASSIGNMENT stage of entity
    * resolution: a scored pair survives only if each side is the other's
    * single best counterpart, which is what turns a similarity cloud into
    * usable record links (greedy transitive merging over-merges; mutual
    * best is the standard conservative cut). Deterministic best pick:
    * rank by (jw DESC, counterpart name ASC) per name — the ROUNDED score
    * ties break lexicographically, engine-identically. Shuffle shape: the
    * pair table symmetrizes (2× vocab-bounded rows), ONE name-keyed
    * window picks each side's best, and the mutual check is a self-join
    * of that vocab-sized best-table against its own reverse — all
    * cardinalities bounded by the name vocabulary, the [[jaroNamePairs]]
    * argument end-to-end.
    */
  def jaroMutualBest(spark: SparkSession, sfDir: String): DataFrame = {
    val sym = jaroNamePairs(spark, sfDir)
      .select(col("name_a").as("name"), col("name_b").as("other"), col("jw"))
      .union(jaroNamePairs(spark, sfDir)
        .select(col("name_b").as("name"), col("name_a").as("other"), col("jw")))
    val w = Window.partitionBy(col("name"))
      .orderBy(col("jw").desc, col("other"))
    val best = sym.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("name"), col("other"), col("jw"))
    best.alias("x")
      .join(best.alias("y"),
        col("x.other") === col("y.name") && col("y.other") === col("x.name"))
      .where(col("x.name") < col("x.other"))
      .select(col("x.name").as("name_a"), col("x.other").as("name_b"),
        col("x.jw").as("jw"))
  }

  /** X-P45: exact edit-distance ≤ 1 record join via the FastSS
    * deletion-neighborhood blocking (Bocek et al., "Fast Similarity
    * Search in Large Dictionaries", 2007): every record emits its name
    * plus each single-character deletion (L+1 variants for an L-char
    * name), candidates are pairs sharing ANY variant, and a codegen'd
    * `levenshtein` verifies the true distance. The blocking is EXACT for
    * k = 1 — ed(a,b) ≤ 1 implies a shared delete-{0,1} variant (equal
    * names share the name itself; an insert/delete pair shares the
    * shorter string; a substitution pair shares the deletion at the
    * substituted position) — so the verify only discards, never misses.
    * This is the distance-metric counterpart to [[jaroNamePairs]]:
    * Levenshtein is the right scorer for typo-class errors (ids, codes,
    * padded keys) where Jaro-Winkler's prefix weighting misranks.
    *
    * Scale shape: variants are O(L) per record — the variant table is a
    * constant factor over the input, never quadratic. ONE shuffle groups
    * variants into buckets and pairs are emitted bucket-locally with
    * array expressions (a bucket holds only the records one
    * insert/delete/substitution apart at one position — bounded by
    * alphabet × length, not corpus size; measured ≤38 on this fixture,
    * and 2-3× faster than the equivalent variant-keyed self-join, which
    * pays a broadcast build plus a second variant Generate). The verify
    * is the THRESHOLD form `levenshtein(a, b, 1)` — O(L·k) banded DP
    * with early exit, ~5× cheaper than the unbounded O(L²) distance on
    * the ~4× candidate excess — and runs before the pair-dedup so
    * `distinct` only sees survivors. A corpus with massive exact-name
    * duplication would first collapse identical names to one
    * representative (the [[jaroNamePairs]] / ppj clique-collapse
    * argument) since its pair listing is irreducibly quadratic in the
    * duplicate count. The all-pairs `levenshtein` oracle is brute-force
    * ONLY at oracle SF. The pair table is staged once per session
    * ([[Tables.stage]] `Parquet`) — it is the stored blocking output both this
    * query and the [[fellegiSunter]] scorer read, exactly what a
    * production linkage pipeline persists between its block and decide
    * stages.
    */
  def edit1Pairs(spark: SparkSession, sfDir: String): DataFrame =
   Tables.stage(spark, sfDir, "edit1_pairs", Tables.Parquet()) {
    val names = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("key"), col("c_name").as("name"))
    val L = length(col("name"))
    // delete-1 neighborhood + the string itself; array_distinct because a
    // run of equal chars yields the same variant from several positions
    val dels = transform(sequence(lit(1), L), i =>
      concat(col("name").substr(lit(1), i - 1),
        col("name").substr(i + 1, L - i)))
    val variants = names.select(col("key"), col("name"),
      explode(array_distinct(concat(array(col("name")), dels))).as("v"))
    val buckets = variants.groupBy(col("v"))
      .agg(collect_list(struct(col("key"), col("name"))).as("m"))
      .where(size(col("m")) >= 2)
    buckets.select(explode(
      filter(flatten(transform(col("m"), a => transform(col("m"), b =>
        struct(a("key").as("key_a"), b("key").as("key_b"),
          a("name").as("name_a"), b("name").as("name_b"))))),
        p => p("key_a") < p("key_b"))).as("p"))
      .select(col("p.key_a"), col("p.key_b"), col("p.name_a"),
        col("p.name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 1))
      .where(col("dist") >= 0)
      .distinct()
   }

  /** Fellegi–Sunter m-probabilities — P(field agrees | true match) — per
    * comparison field, fixed documented constants (production systems fit
    * them by EM; the fixture has no labeled truth, so the classical
    * hand-set values stand in). u-probabilities are ESTIMATED from the
    * data as chance agreement Σ_v f_v² / n² — exact BIGINT sums. */
  val FsMNation  = 0.95
  val FsMSegment = 0.9
  val FsMBalband = 0.85

  /** Score thresholds for the three-way Fellegi–Sunter decision. */
  val FsLinkMin     = 4.0
  val FsPossibleMin = 0.0

  /** X-P48: Fellegi–Sunter probabilistic record-linkage scoring — the
    * DECISION stage of entity resolution that runs on top of a blocking
    * stage ([[edit1Pairs]] supplies the candidates here): each candidate
    * pair is scored by the log-likelihood ratio of its field-agreement
    * pattern, Σ_f agree ? log₂(m_f/u_f) : log₂((1−m_f)/(1−u_f)), and cut
    * into link / possible / non-link (the 1969 JASA framework that
    * underlies every production matcher). m = [[FsMNation]] etc. are
    * documented constants; u (chance agreement) is estimated from the
    * data itself: u_f = Σ_v f_v²/n² over the field's value frequencies —
    * the standard frequency-based estimate, exact BIGINT arithmetic to
    * one division.
    *
    * Determinism: u ratios are single divisions of exact BIGINTs; each
    * term is one libm log₂ of an identical double (the DSIR/PSI
    * precedent); the score sums THREE terms in a fixed written order and
    * rounds to 6 dp, which also makes the threshold verdicts
    * engine-identical.
    *
    * Scale shape: the u table is three one-row aggregates over
    * value-cardinality groups (broadcast); candidates come from the
    * scaled blocking join; field attachment is two key-equi joins against
    * the slim customer projection. Nothing here exceeds candidate
    * cardinality.
    */
  def fellegiSunter(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir).select(
      col("c_custkey").as("key"), col("c_nationkey").as("nat"),
      col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 1000).cast("long").as("balband"))
    def uOf(field: String, out: String) = {
      val f = cust.groupBy(col(field)).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("num"))
      val n = cust.agg(count(lit(1)).as("n"))
      f.crossJoin(broadcast(n))
        .select((col("num").cast("double") /
          (col("n") * col("n")).cast("double")).as(out))
    }
    val u = uOf("nat", "u_nat").crossJoin(broadcast(uOf("seg", "u_seg")))
      .crossJoin(broadcast(uOf("balband", "u_bal")))
    def term(agree: Column, m: Double, uc: Column): Column =
      when(agree, log2(lit(m) / uc)).otherwise(log2(lit(1 - m) / (lit(1.0) - uc)))
    val cand = edit1Pairs(spark, sfDir).select(col("key_a"), col("key_b"))
    val scored = cand
      .join(cust.select(col("key").as("key_a"), col("nat").as("nat_a"),
        col("seg").as("seg_a"), col("balband").as("bal_a")), Seq("key_a"))
      .join(cust.select(col("key").as("key_b"), col("nat").as("nat_b"),
        col("seg").as("seg_b"), col("balband").as("bal_b")), Seq("key_b"))
      .crossJoin(broadcast(u))
      .select(col("key_a"), col("key_b"),
        (col("nat_a") === col("nat_b")).as("agree_nation"),
        (col("seg_a") === col("seg_b")).as("agree_segment"),
        (col("bal_a") === col("bal_b")).as("agree_balband"),
        round(
          term(col("nat_a") === col("nat_b"), FsMNation, col("u_nat")) +
          term(col("seg_a") === col("seg_b"), FsMSegment, col("u_seg")) +
          term(col("bal_a") === col("bal_b"), FsMBalband, col("u_bal")), 6)
          .as("score"))
    scored.select(col("key_a"), col("key_b"), col("agree_nation"),
      col("agree_segment"), col("agree_balband"), col("score"),
      when(col("score") >= FsLinkMin, "link")
        .when(col("score") >= FsPossibleMin, "possible")
        .otherwise("non_link").as("verdict"))
  }
}
