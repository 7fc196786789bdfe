package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operators over the `documents` table — the four standard
  * families for LLM training-data pipelines: exact (hash group), n-gram
  * Jaccard (inverted-index join), MinHash-LSH (banded signature join), and
  * SimHash (bit-signature banding).
  *
  * Scale design (the 100 TB question for dedup is always "how do you avoid
  * the O(n²) pair space?"):
  *   - exact: one shuffle on a 256-bit hash — embarrassingly scalable;
  *   - n-gram Jaccard: pairs are generated ONLY through a shingle
  *     inverted-index equi-join (shuffle on shingle), with a document-
  *     frequency cap dropping degenerate hot shingles, then verified
  *     exactly — never an all-pairs product;
  *   - MinHash-LSH: candidate pairs come from equality on banded signature
  *     hashes (shuffle on (band, signature)); the candidate count is
  *     controlled by band geometry, independent of corpus size;
  *   - SimHash: 32-bit signatures, candidates via 8-bit band equality —
  *     a pair within Hamming distance 3 must agree on ≥1 of 4 bands.
  */
object Dedup {
  import Text._

  /** Exact dedup: group on sha256 of normalized text. Output one row per
    * distinct content with the keeper (min doc_id) and duplicate count.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(normalized(col("text")).cast("binary"), 256).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper"))

  /** Distinct 3-shingles per doc, exploded (the inverted index). */
  private def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))

  /** Max shingle document frequency: shingles appearing in more docs are
    * dropped from candidate generation (a stopword-shingle guard: the pair
    * fan-out of one shingle is O(df²), so the cap bounds worst-case join
    * output at corpus-independent cost; near-dup pairs share many RARE
    * shingles, so recall is unaffected). The oracle applies the identical
    * cap.
    */
  val maxShingleDf = 100

  /** Candidate pair statistics shared by the n-gram Jaccard (d2) and
    * containment (d9) verifiers: (d1, d2, inter, n1, n2) for every
    * inverted-index candidate pair (d1 < d2), with each side's uncapped
    * distinct-shingle count. Memoized per (session, dir) behind a lazy
    * localCheckpoint — the inverted-index self-join is the expensive job
    * of this family, and both thresholds are cheap projections over the
    * SAME statistics, so computing them twice was pure waste. The bench
    * drops the memo between passes ([[clearCaches]]).
    */
  private val pairStatsCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]

  private def candidatePairStats(spark: SparkSession, dir: String): DataFrame =
    pairStatsCache.computeIfAbsent((spark, dir), _ => {
      // The explicit hash-partitioning on `shingle` is a materialization
      // barrier AND the distribution both the df-cap aggregation and the
      // inverted-index self-join require — all downstream consumers reuse
      // ONE exchange (ReuseExchange), so the scan+shingle explode runs
      // once, not once per consumer.
      val sh = shingleIndex(spark, dir).repartition(col("shingle"))
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxShingleDf)
      val idx = sh.join(df.select("shingle"), "shingle")
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      idx.as("a")
        .join(idx.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
        .select(col("d1"), col("d2"), col("inter"),
          col("s1.n").as("n1"), col("s2.n").as("n2"))
        // lazy checkpoint: materialized by the first consumer's action,
        // every later consumer reads the stored blocks
        .localCheckpoint(false)
    })

  /** Near-dup pairs by exact n-gram Jaccard >= threshold, candidates from
    * the shingle inverted index ([[candidatePairStats]]). Two shuffles
    * (shingle join, pair group); no cross join anywhere.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val jac = col("inter").cast("double") /
      (col("n1") + col("n2") - col("inter"))
    candidatePairStats(spark, dir)
      .where(jac >= threshold)
      .select(col("d1"), col("d2"), round(jac, 6).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Directional containment near-dup pairs (d9): containment(src→dst) =
    * |sh(src) ∩ sh(dst)| / |sh(src)| — the asymmetric companion to
    * Jaccard. Jaccard misses the doc-inside-doc case (a paragraph quoted
    * whole inside a much longer page scores low Jaccard but containment
    * ≈ 1 from the short side), which is exactly the duplication shape
    * boilerplate expansion and quotation produce in web corpora.
    *
    * Same scale shape as [[ngramJaccardPairs]] — in fact the same
    * memoized [[candidatePairStats]] table: candidates ONLY from the
    * df-capped shingle inverted index, one pair aggregation shared with
    * the Jaccard verifier, then each unordered pair emits its two
    * directions — never an all-pairs product.
    */
  def containmentPairs(spark: SparkSession, dir: String, threshold: Double = 0.9): DataFrame = {
    val stats = candidatePairStats(spark, dir)
    val directed = stats
      .select(col("d1").as("src"), col("d2").as("dst"), col("inter"), col("n1").as("n"))
      .union(stats
        .select(col("d2").as("src"), col("d1").as("dst"), col("inter"), col("n2").as("n")))
    val cont = col("inter").cast("double") / col("n")
    directed
      .where(cont >= threshold)
      .select(col("src"), col("dst"), round(cont, 6).as("containment"))
      .orderBy(col("src"), col("dst"))
  }

  /** MinHash geometry: 12 hashes = 4 bands x 3 rows. For Jaccard j the
    * candidate probability is 1-(1-j^3)^4 (≈0.9998 at j=0.9, ≈0.03 at
    * j=0.2) — the standard S-curve for a 0.8 threshold.
    */
  val numHashes = 12
  val numBands = 4
  val rowsPerBand = 3

  /** Universal-hash family for MinHash: hash_i(s) = (a_i·h(s) + b_i) mod p
    * over base hash h(s) = first 32 md5 bits — ONE md5 per shingle, the 12
    * permutations are pure integer arithmetic. The constants live in
    * [[graft.exprs.MinHashSig]] (the native expression that computes the
    * signature); these aliases keep the oracle-SQL interpolation pointed at
    * one definition.
    */
  val minhashP: Long = graft.exprs.MinHashSig.P
  val minhashA: Seq[Long] = graft.exprs.MinHashSig.A.toSeq
  val minhashB: Seq[Long] = graft.exprs.MinHashSig.B.toSeq

  /** MinHash signatures (docs with no shingles have none — they cannot
    * near-dup match). One codegen'd expression per row — no interpreted
    * HOF lambdas, no materialization barrier needed: the signature is a
    * single expression, referenced once.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSigsOf(Tables.documents(spark, dir))

  /** Signature job on an arbitrary (doc_id, text, …) frame — shared with
    * the incremental state merge (d15), which signs only its new batch.
    */
  private[graft] def minhashSigsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", call_function("minhash_sig", col("sh")))

  /** The slim LSH band rows (doc_id, band, bh) of a signature frame — the
    * ONE banding definition both the one-shot join (d3) and the persisted
    * incremental band index (d15) use.
    */
  private[graft] def bandRowsOf(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(numBands - 1)), b =>
        struct(b.as("band"),
          concat_ws(":", (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("bh")))).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))

  /** LSH near-dup: band the signatures, equi-join on (band, band hash),
    * then verify candidates with exact Jaccard >= threshold.
    */
  def minhashLshPairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    // The repartition is a deliberate materialization barrier: without it,
    // CollapseProject inlines the signature expression into every
    // element_at reference (12x recompute per doc) and the self-join
    // branches recompute the whole subtree again. With the exchange, the
    // signature is computed once and BOTH join branches reuse the
    // materialized exchange (ReuseExchange).
    val sigs = minhashSignatures(spark, dir).repartition(col("doc_id"))
    // Candidates travel SLIM: only (doc_id, band, band-hash) shuffles
    // through the equi-join and the pair dedup; the heavyweight shingle
    // sets are joined back afterwards, once per SURVIVING pair.
    val bands = bandRowsOf(sigs)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    val sets = sigs.select(col("doc_id"), col("sh"))
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val jac = inter / (size(col("sh1")) + size(col("sh2")) - inter)
    cand
      .join(sets.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .select(col("d1"), col("d2"), round(jac, 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** Duplicate clusters: connected components over the SimHash near-dup
    * pair graph, labeling every node with the min doc_id reachable from it.
    * The last step of a dedup pipeline — pairs alone can't drive deletion
    * (A~B, B~C must keep ONE of {A,B,C}, not two) — so the output is the
    * keeper assignment: one row per clustered doc with its cluster id,
    * cluster size, and keeper flag.
    *
    * Connected components via [[ConnectedComponents.labelPropagation]]
    * (pointer-jumped min-label flooding, O(log diameter) rounds — the
    * fast path: near-dup graphs are tiny star-ish clusters, measured 5
    * rounds on sf0.1). If an adversarially deep component exhausts the
    * round cap, falls back to [[ConnectedComponents.starContraction]]
    * (alternating large-star/small-star), which converges in O(log n)
    * rounds on ANY graph shape — so the operator never silently ships a
    * partial labeling and never fails on a pathological graph either.
    *
    * Scale design: each round is one shuffle join on the edge list plus a
    * min-aggregate plus a label-table self-join — never materializes
    * anything bigger than the edge list; per-round checkpointing keeps
    * the plan O(1) deep. `checkpointDir = Some(hdfsPath)` switches the
    * per-round lineage truncation from `localCheckpoint` to durable
    * `checkpoint()` for cluster runs (survives executor loss).
    */
  /** Memoized cluster label tables — dedup-state reuse within a session.
    *
    * The CC loop is an EAGER multi-round job (it runs at call time, each
    * round materialized through a checkpoint), so every caller that
    * re-derives the labeling re-pays the most expensive job in the dedup
    * pipeline: [[keeperByQuality]] (d8) used to re-run all of [[dupClusters]]
    * (d7). A production pipeline persists the label table once and feeds
    * every downstream stage from it; this cache is that persistence,
    * scoped to (session, dir, iteration budget, checkpoint dir) so a
    * different input or session can never see a stale labeling.
    * [[clearCaches]] drops the memo (the bench calls it between passes
    * so per-pass timings stay honest).
    */
  private val labelCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int, Option[String]), DataFrame]

  /** Drop every per-session memo (cluster labels, candidate pair stats) —
    * the bench calls this between passes so per-pass timings stay honest.
    */
  def clearCaches(): Unit = {
    labelCache.clear()
    pairStatsCache.clear()
  }

  /** The (node → component-min) label table over the SimHash near-dup pair
    * graph — checkpointed (lineage O(1)) and memoized per session+input.
    *
    * Checkpointing is DURABLE by default: the CC loop is the one
    * multi-round iterative job on the query surface, and at 100 TB a lost
    * executor mid-loop must resume from the last round's files, not
    * replay every join from the scan (`localCheckpoint` truncates lineage
    * but dies with its executors). The default dir is per-context scratch
    * locally and SPARK_GRAFT_CHECKPOINT_DIR (HDFS/S3) on a cluster
    * ([[graft.util.TmpDirs.sessionCheckpointDir]]); pass `checkpointDir`
    * to pin a specific path.
    */
  def clusterLabels(spark: SparkSession, dir: String, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    labelCache.computeIfAbsent((spark, dir, maxIters, checkpointDir), _ => {
      val pairs = simhashPairs(spark, dir).select(col("d1"), col("d2"))
      // adaptive: a model-sized pair graph labels in one driver job, a
      // backfill-sized one runs the checkpointed distributed loop
      ConnectedComponents.adaptiveMinLabels(spark, pairs,
        maxIters = maxIters, checkpointDir = checkpointDir)
    })

  /** Dedup-state persistence ACROSS runs: write the label table to
    * `stateDir` as parquet (the durable artifact a production pipeline
    * keeps between ingests), or load it back if already present — a
    * reload plans as a plain columnar scan, no SimHash job, no CC loop.
    * The memo above covers reuse within a session; this covers reuse
    * between sessions/runs. Format: (node, label) parquet, the exact
    * output contract of [[clusterLabels]].
    */
  def persistedClusterLabels(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(stateDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(stateDir, "_SUCCESS")))
      clusterLabels(spark, dir).write.mode("overwrite").parquet(stateDir)
    spark.read.parquet(stateDir)
  }

  /** [[dupClusters]] rebuilt from persisted state (d10): byte-identical to
    * the freshly-computed clustering — persistence must never change the
    * labeling, which is what the shared d7 oracle pins.
    */
  def dupClustersFromState(spark: SparkSession, dir: String,
      stateDir: String): DataFrame =
    clustersOf(persistedClusterLabels(spark, dir, stateDir))

  def dupClusters(spark: SparkSession, dir: String, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    clustersOf(clusterLabels(spark, dir, maxIters, checkpointDir))

  private[graft] def clustersOf(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"),
        (col("node") === col("label")).cast("int").as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** Quality-aware keeper assignment — what a real dedup pipeline does
    * with its clusters: instead of keeping the min doc_id, keep each
    * cluster's highest-[[TextAnalysis.scored]] document (ties → smaller
    * doc_id). Output is one row per cluster with the chosen keeper.
    *
    * Scale design: composes [[dupClusters]] with the score projection via
    * one equi-join on doc_id, then a per-cluster argmax window — clusters
    * are tiny (near-dup groups), so the window partition is never skewed;
    * everything after the join shuffles only clustered docs, a vanishing
    * fraction of the corpus.
    */
  def keeperByQuality(spark: SparkSession, dir: String): DataFrame =
    keeperByQuality(
      dupClusters(spark, dir)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size")),
      TextAnalysis.scored(spark, dir))

  /** Pure form: keeper assignment from an ALREADY-COMPUTED cluster table
    * (doc_id, cluster_id, cluster_size) and score table (doc_id, score) —
    * the label table is the expensive artifact, so callers hand it in
    * (the session-scoped memo behind [[dupClusters]] makes the
    * convenience overload above equally cheap after d7 has run).
    */
  def keeperByQuality(clusters: DataFrame, scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    clusters
      .join(scored.select(col("doc_id"), col("score")), "doc_id")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
      .select(col("cluster_id"), col("cluster_size"),
        col("doc_id").as("keeper_doc"), col("score").as("keeper_score"))
      .orderBy(col("cluster_id"))
  }

  /** Bucket modulus for [[softDedup]] — 100 buckets like
    * [[graft.ops.Corpus.hashSample]]'s, so the keep rate quantizes in
    * whole percent.
    */
  val softDedupBuckets = 100

  /** d25: SOFT dedup — duplication-aware DOWNWEIGHTING instead of
    * removal. Hard dedup (keep one per cluster) treats the duplication
    * count as noise; recent pipelines instead keep every copy with
    * sampling probability 1/cluster_size, so each distinct CONTENT
    * contributes one expected document while surface diversity (which
    * copy survives) is preserved and no join against a keeper table is
    * needed at train time.
    *
    * The sample is the exact-rational accept test (the c13 pattern):
    * keep iff `bucket · cluster_size < buckets` over the salted md5
    * bucket — integers end to end, no float rate, so the decision is
    * engine-reproducible and a cluster of 1 is always kept (bucket < 100
    * holds for every bucket).
    *
    * Scale shape: [[dupClusters]]' label table (memoized; clustered docs
    * only — a vanishing fraction of the corpus) broadcast-joins the slim
    * doc-id projection, and the keep decision is a stateless map-side
    * filter; the corpus text never shuffles.
    */
  def softDedup(spark: SparkSession, dir: String): DataFrame =
    softDedupOf(spark, dir,
      dupClusters(spark, dir).select(col("doc_id"), col("cluster_size")))

  /** Pure form: the d25 accept test over an ALREADY-COMPUTED cluster-size
    * table (doc_id, cluster_size) — one-shot (d25) and streaming-state
    * (q73) label sources share it, so soft dedup over a drained
    * incremental state equals the one-shot by construction once the
    * labelings agree (which the d12/q54 parity specs already pin).
    */
  private[graft] def softDedupOf(spark: SparkSession, dir: String,
      sizes: DataFrame): DataFrame = {
    val bucket = (conv(substring(md5(concat(lit("soft:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % softDedupBuckets).cast("int")
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(broadcast(sizes), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        bucket.as("bucket"))
      .withColumn("kept",
        (col("bucket").cast("long") * col("cluster_size") <
          lit(softDedupBuckets.toLong)).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** d13 anchor geometry: anchors are `anchorTokens`-token windows at
    * EVERY position (positional, duplicates preserved — unlike the
    * distinct shingle set d2 uses), capped at `anchorMaxOcc` total
    * occurrences corpus-wide. An OCCURRENCE cap (not d2's distinct-doc
    * df cap) because the join fan-out of an anchor is O(occurrences²) —
    * positions multiply within a doc too — and because it computes as
    * one window over the anchor exchange instead of a second aggregation
    * branch (which would defeat ReuseExchange: the agg consumer prunes
    * `pos`, the join consumers keep it, and differently-pruned subtrees
    * never match).
    */
  val anchorTokens = 4
  val anchorMaxOcc = 100
  val minSpanTokens = 12

  /** d13: EXACT-substring dedup — the third dedup modality next to
    * set-similarity (d2/d3/d5) and containment (d9): two documents that
    * share a long VERBATIM token span (quotation, boilerplate block,
    * syndicated paragraph) can score low Jaccard yet still leak the span
    * into a training set. Emits (d1, d2, span_len) where span_len is the
    * length in tokens of the LONGEST exactly-shared span, for pairs at or
    * above `minSpan`.
    *
    * Construction (suffix-array-free, fully relational — both engines run
    * the identical algorithm):
    *   1. anchor index: every `anchorTokens`-token window (position kept);
    *   2. occurrence cap: anchors with more than `anchorMaxOcc` total
    *      occurrences are dropped — the O(occ²) fan-out guard, same dial
    *      as [[maxShingleDf]] (a span ALL of whose anchors are
    *      corpus-hot is boilerplate the cap intentionally ignores; the
    *      oracle applies the same cap);
    *   3. candidates: equi-join on anchor text, d1 < d2 — pairs only
    *      through the index, never all-pairs;
    *   4. exact verification: a run of m CONSECUTIVE matching anchors on
    *      one alignment diagonal (j − i constant) is precisely a shared
    *      span of m + anchorTokens − 1 tokens — islands-and-gaps over
    *      (pair, diagonal) partitions, then a per-pair max.
    *
    * Scale shape: one shuffle on anchor (index + cap share the exchange),
    * one on the (pair, diagonal) group — both key-partitioned; the
    * diagonal-run window partitions by (d1, d2, diag), which is finer
    * than per-document, so no skewed window partition exists by
    * construction.
    */
  /** The d13 positional candidate table (d1 < d2, aligned anchor
    * positions i/j) — shared by the pair detector ([[exactSubstringPairs]])
    * and the span REMOVER ([[spanRemoval]]); one definition keeps the
    * one-scan ReuseExchange plan and the occurrence-cap rule identical in
    * both consumers.
    */
  private def substringCandidates(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), call_function("ws_tokens", col("text")).as("t"))
      .where(size(col("t")) >= anchorTokens)
    // positional anchor index behind ONE hash exchange on anchor. The
    // explicit isNotNull filters at source are deliberate: the self-join
    // below pushes isnotnull(anchor)/isnotnull(doc_id) into both
    // branches, and ReuseExchange matches only byte-identical subtrees —
    // stating the predicates once here keeps both branches equal to the
    // written tree (the round-7 ReuseExchange gotcha).
    val anch = toks
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(t) - $anchorTokens), " +
          s"i -> array_join(slice(t, i + 1, $anchorTokens), ' '))")))
      .toDF("doc_id", "pos", "anchor")
      .where(col("anchor").isNotNull && col("doc_id").isNotNull)
      .repartition(col("anchor"))
    // occurrence cap as a window over the SAME exchange (no second
    // aggregation branch, so the scan+tokenize+explode runs once and the
    // self-join reuses the exchange); the window's required distribution
    // is exactly the repartition — no extra shuffle
    val idx = anch
      .withColumn("aocc", count(lit(1)).over(Window.partitionBy(col("anchor"))))
      .where(col("aocc") <= anchorMaxOcc)
      .drop("aocc")
    // `merge` hint: at test scale AQE would broadcast one side — and a
    // broadcast side is its own stage that RECOMPUTES the whole explode
    // pipeline instead of reusing the shuffle. As a sort-merge self-join
    // both branches read the one exchange (ReuseExchange, pinned in
    // ExactSubstringSpec), which is also the only plan that exists at
    // 100 TB where the index side never fits a broadcast.
    idx.as("a").hint("merge")
      .join(idx.as("b"),
        col("a.anchor") === col("b.anchor") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.pos").as("i"), col("b.pos").as("j"))
  }

  /** Maximal shared runs with POSITIONS: islands-and-gaps on each
    * alignment diagonal (consecutive i's on one (pair, diag) share
    * i − row_number), one row per run with its start in the LATER doc.
    */
  private def substringRuns(spark: SparkSession, dir: String): DataFrame = {
    val cand = substringCandidates(spark, dir)
    val wd = Window.partitionBy(col("d1"), col("d2"), col("j") - col("i"))
      .orderBy(col("i"))
    cand
      .withColumn("grp", col("i") - row_number().over(wd))
      .groupBy(col("d1"), col("d2"), (col("j") - col("i")).as("diag"), col("grp"))
      .agg(min(col("j")).as("startj"), count(lit(1)).as("run"))
  }

  def exactSubstringPairs(spark: SparkSession, dir: String,
      minSpan: Int = minSpanTokens): DataFrame =
    substringRuns(spark, dir)
      .groupBy(col("d1"), col("d2"))
      .agg((max(col("run")) + lit(anchorTokens - 1)).as("span_len"))
      .where(col("span_len") >= minSpan)
      .orderBy(col("d1"), col("d2"))

  /** d26: duplicated-span REMOVAL — the transform the span detector (d13)
    * exists to feed: every maximal token run of at least `minSpan` tokens
    * that also appears in an EARLIER document (smaller doc_id) is CUT
    * from the later one, so each verbatim span survives exactly once in
    * corpus order and partially-duplicated documents keep their unique
    * remainder (where hard dedup would either keep the whole duplicate or
    * drop unique text with it). Emits per doc the token counts and the
    * sha256 of the cleaned text — the content key downstream stages hash.
    *
    * Scale shape: runs come from the same one-exchange anchor index as
    * d13 (occurrence-capped, never all-pairs); coverage explodes one row
    * per REMOVED token (output-bounded, a vanishing fraction of a healthy
    * corpus) and folds to one sorted positions array per affected doc;
    * the cut itself is a per-row lambda over the token array — affected
    * docs join a slim coverage table, untouched docs pass through a null.
    */
  def spanRemoval(spark: SparkSession, dir: String,
      minSpan: Int = minSpanTokens): DataFrame =
    spanRemovalOf(spark, dir, substringRuns(spark, dir), minSpan)

  /** Pure form: the d26 cut from an ALREADY-COMPUTED run table (d1, d2,
    * startj, run) — the one-shot index ([[spanRemoval]]) and the drained
    * incremental state ([[IncrementalSubstring.removal]], d27/q75) share
    * it, so state-served removal equals the one-shot wherever the run
    * tables agree (which the d20 split-ingest parity pins).
    */
  private[graft] def spanRemovalOf(spark: SparkSession, dir: String,
      runs: DataFrame, minSpan: Int = minSpanTokens): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), call_function("ws_tokens", col("text")).as("t"))
    val cov = runs
      .where(col("run") + lit(anchorTokens - 1) >= minSpan)
      .select(col("d2").as("doc_id"),
        explode(sequence(col("startj"),
          col("startj") + col("run").cast("int") + lit(anchorTokens - 2))).as("cpos"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("cpos"))).as("cov"))
    docs.join(cov, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        "filter(t, (x, i) -> cov IS NULL OR NOT array_contains(cov, i))"))
      .select(col("doc_id"),
        size(col("t")).as("n_tokens"),
        (size(col("t")) - size(col("kept"))).as("n_removed"),
        sha2(array_join(col("kept"), " "), 256).as("sha"))
      .orderBy(col("doc_id"))
  }

  /** 32-bit SimHash over tokens (term frequency preserved): bit b is the
    * sign of Σ_tokens (2·bit_b(md5(token)) − 1). Signature rendered as a
    * 32-char bitstring by the native [[graft.exprs.SimHash32]] codegen
    * expression — bit-identical to the per-nibble extraction the DuckDB
    * oracle spells out, one compiled pass per row.
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), call_function("simhash32", col("text")).as("simhash"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup pairs: Hamming distance <= 3 over the 32-bit
    * signatures.
    *
    * Candidate generation uses two 16-bit halves with single-bit-flip
    * probing (17 variants per half): a pair within Hamming distance 3 has
    * ≤1 differing bit in one half (pigeonhole), so probing every distance-1
    * variant of each half against an exact-half index has full recall —
    * the same guarantee as four exact 8-bit bands, but with 65536-value
    * buckets instead of 256: measured at sf0.1 this emits 0.78M candidate
    * rows instead of 2.8M, and the hottest bucket shrinks 4.6× (skew is the
    * wall-clock killer — one hot 8-bit bucket serializes a whole SMJ group
    * into a single task). The probe side's fan-out is a fixed 17×, independent of
    * corpus size. Candidates are then verified by exact bit_count(xor).
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "simhashPairs: 2 half-bands with 1-bit probes guarantee recall only for hamming <= 3")
    // Signature doubled as an integer so Hamming distance is a single
    // bit_count(xor) — semantically identical to comparing the 32 chars
    // (the oracle does it character-wise; outputs match).
    // repartition = materialization barrier: the signature computes once
    // and both join branches reuse the exchange.
    val sigs = simhashSignatures(spark, dir)
      .withColumn("sigint", conv(col("simhash"), 2, 10).cast("long"))
      .repartition(col("doc_id"))
    val index = halfBandsOf(sigs)
    val probes = probeVariantsOf(index)
    // Verify BEFORE deduplicating: the <=maxHamming filter runs on the raw
    // join output (cheap bit_count, no wide strings), so the pair-dedup
    // shuffle only carries survivors.
    val hamming = bit_count(col("a.sigint").bitwiseXOR(col("b.sigint"))).cast("int")
    probes.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") && col("a.variant") === col("b.half") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"), hamming.as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("d1", "d2")
      .orderBy(col("d1"), col("d2"))
  }

  /** Halves as 16-bit INTEGERS (band 0 = high half) of a (doc_id, sigint)
    * signature table: variant generation is one xor per mask instead of
    * three-substring string surgery, and the candidate join hashes 8-byte
    * longs instead of 16-char strings. Shared by the one-shot pair job
    * ([[simhashPairs]]) and the PERSISTED band index incremental ingest
    * probes against ([[IncrementalDedup]]) — one geometry, two consumers.
    */
  private[graft] def halfBandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sigint"),
      explode(array(
        struct(lit(0).as("band"),
          shiftrightunsigned(col("sigint"), 16).as("half")),
        struct(lit(1).as("band"),
          col("sigint").bitwiseAND(lit(0xffffL)).as("half")))).as("e"))
      .select(col("doc_id"), col("sigint"), col("e.band"), col("e.half"))

  /** Every variant of each half within Hamming distance 1: the half itself
    * (mask 0) plus the 16 single-bit flips — full recall for overall
    * Hamming ≤ 3 by pigeonhole (≤1 differing bit in one half).
    */
  private[graft] def probeVariantsOf(index: DataFrame): DataFrame = {
    val flipMasks = array((Seq(0L) ++ (0 until 16).map(1L << _)).map(lit): _*)
    index.select(col("doc_id"), col("sigint"), col("band"),
      explode(transform(flipMasks, m => col("half").bitwiseXOR(m))).as("variant"))
  }

  /** (doc_id, sigint) signatures of an arbitrary (doc_id, text, …)
    * projection — the per-batch signing step of incremental ingest.
    */
  private[graft] def signedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      conv(call_function("simhash32", col("text")), 2, 10).cast("long").as("sigint"))

  /** The 64-bit twin of [[signedDocs]] (LONG-packed, no conv round-trip). */
  private[graft] def signedDocs64(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), call_function("simhash64", col("text")).as("sigint"))

  /** The 64-bit signature's block geometry: 4 exact-match blocks of 16
    * bits. Pigeonhole: Hamming ≤ 3 over 64 bits leaves ≥ 1 of the 4
    * blocks identical, so an exact-block equi-join has FULL recall with
    * NO probe variants (4 index rows per doc, no 17× flip fan-out).
    */
  val sim64Blocks = 4
  private val sim64BlockBits = 64 / sim64Blocks

  /** 16-bit blocks (band 0 = highest) of a (doc_id, sigint64) table. */
  private[graft] def blockBandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sigint"),
      explode(array((0 until sim64Blocks).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sigint"), (sim64Blocks - 1 - b) * sim64BlockBits)
            .bitwiseAND(lit(0xffffL)).as("block"))): _*)).as("e"))
      .select(col("doc_id"), col("sigint"), col("e.band"), col("e.block"))

  /** SimHash near-dup pairs over the 64-BIT signature — the scale dial
    * the round-8 verdict asked for: the 32-bit signature's candidate
    * domain is a fixed 2×16-bit space, so at corpus scales where 65536
    * buckets saturate, collision-driven false candidates grow linearly;
    * doubling the signature drops the per-bucket collision rate by 2³²
    * while the exact-block join (still 65536-value buckets × 4 bands)
    * keeps join parallelism and recall. Hamming ≤ 3 over 64 bits is a
    * STRICTER near-dup predicate than over 32 — this is the
    * high-precision twin, not a drop-in replacement; both surfaces stay.
    */
  def simhashPairs64(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < sim64Blocks,
      s"simhashPairs64: $sim64Blocks exact blocks guarantee recall only for hamming < $sim64Blocks")
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), call_function("simhash64", col("text")).as("sigint"))
      .repartition(col("doc_id"))
    val index = blockBandsOf(sigs)
    val hamming = bit_count(col("a.sigint").bitwiseXOR(col("b.sigint"))).cast("int")
    index.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"), hamming.as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("d1", "d2")
      .orderBy(col("d1"), col("d2"))
  }
}
