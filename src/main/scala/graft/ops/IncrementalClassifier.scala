package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t18: INCREMENTAL classifier training — d18's write-only partial-
  * aggregate pattern applied to MODEL state instead of dedup state.
  * Naive Bayes' sufficient statistics are pure associative counts
  * ((feature, bin) × class occurrence), so training state is
  * generational the same way d18's hash partials are: each ingest
  * featurizes ONLY its batch and appends `vN/counts` =
  * (feature, v, c1, c0) — a write-only merge with zero read
  * amplification — and the served model is one re-aggregation over the
  * slim count partials. Split-training is therefore bit-identical to
  * t17's one-shot training for ANY batch split (associativity +
  * commutativity of sums; t17's oracle gates it end to end), and the
  * streaming surface (q61) drives the same merge from foreachBatch —
  * online learning as aggregation, no parameter server in sight.
  *
  * Re-delivery: count partials DOUBLE on a re-merged batch (the d18
  * hazard, not the pair-graph one), so the merge takes the d18 batch-key
  * ingest markers — a keyed re-merge is a no-op, markers survive
  * compaction.
  *
  * Scale shape: count state is O(features × bins) per generation
  * (40 rows + 1 class row here) regardless of corpus size — the entire
  * model history for a 100 TB corpus fits in kilobytes; scoring is one
  * featurize pass over the corpus with the re-aggregated counts
  * broadcast back.
  */
object IncrementalClassifier extends TombstoneFamily {

  val commitTable = "counts"
  val idColumn = "doc_id"

  private def countsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "counts")
  private def docsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "docs")

  /** Ingest one raw (doc_id, text, source, …) batch: featurize, count,
    * append — write-only. `batchKey` gives d18-style exactly-once ingest
    * under at-least-once re-delivery.
    *
    * Alongside the O(features × bins) count partial, each generation
    * keeps the d28-style PER-DOC sidecar `vN/docs` — the batch's feature
    * rows (doc_id, f_*, label), one slim row per doc. The partials alone
    * cannot serve a delete (counts are aggregated, the doc's contribution
    * is gone); the sidecar makes the contribution recoverable, so
    * [[delete]] works by exact integer SUBTRACTION. Featurization still
    * runs once per document ever — the sidecar is the featurize output,
    * not a re-read.
    */
  def merge(spark: SparkSession, stateDir: String, newDocs: DataFrame,
      batchKey: Option[String] = None): Int = {
    // multi-writer: the generation is write-only (independent of the live
    // state), so fresh allocation serializes N parallel ingest jobs
    // (GenState.claimFresh); the keyed exactly-once no-op rides inside
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, commitTable) match {
      case Left(v) => return v // already ingested: re-delivery is a no-op
      case Right(nc) => nc
    }
    // persist across the two writes: featurize is the expensive text pass
    val feats = TextAnalysis.qualityFeatures(newDocs).persist()
    try {
      // sidecar first, count partial LAST (the commit table): a crash
      // leaves an incomplete generation the next attempt redoes wholesale
      GenState.fencedParquet(spark, stateDir, next, "docs", claim, commitTable)(feats)
      // the COMMIT write lands through the fence: a writer stalled past
      // the TTL whose in-flight dir a concurrent sweep reclaimed aborts
      // here, never landing a torn complete generation
      GenState.fencedParquet(spark, stateDir, next, "counts", claim, commitTable)(
        TextAnalysis.nbCounts(feats))
    } finally feats.unpersist()
    next
  }

  /** t25: TOMBSTONE a set of doc_ids — right-to-be-forgotten for the
    * TRAINED MODEL: the deleted docs' count contributions are subtracted
    * from the served model (counts are an abelian group, so subtraction
    * is exact), making the model equal one-shot training over the
    * survivors. LSM shadowing: a tombstone affects generations OLDER than
    * itself only, so a later re-ingest of the same doc_id contributes
    * again; [[compact]] applies tombstones physically (count partials
    * re-summed without the deleted docs, sidecar rows purged). Requires
    * every live generation to carry the per-doc sidecar — a state dir
    * persisted before sidecar retention cannot serve deletes (the
    * features are not recoverable from aggregated counts) and is refused
    * up front.
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalClassifier.delete: no state at $stateDir")
    require(live.forall(v => GenState.tableExists(spark, stateDir, v, "docs")),
      s"IncrementalClassifier.delete: state at $stateDir predates per-doc " +
        "sidecar retention — deleted docs' count contributions are not " +
        "recoverable from aggregated partials")
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    // tombstones + empty sidecar are independent — written concurrently
    // (guide §2.6 via [[GenState.inParallel]]); the counts commit stays
    // strictly after, preserving the crash contract
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim,
        commitTable)(
        ids.select(col("doc_id").cast("long").as("node")).dropDuplicates("node")),
      () => GenState.fencedParquet(spark, stateDir, next, "docs", claim,
        commitTable)(
        spark.read.parquet(docsPath(spark, stateDir, live.head)).limit(0))))
    // the COMMIT write lands through the fence (see merge)
    GenState.fencedParquet(spark, stateDir, next, "counts", claim, commitTable)(
      spark.read.parquet(countsPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** The effectively-deleted docs' sidecar rows: every sidecar row whose
    * doc_id carries a tombstone NEWER than the row's generation (row-level
    * shadowing — a re-ingested doc's newer rows keep contributing).
    * TOMBSTONE BOUND: only generations strictly older than the newest
    * tombstone can be affected, so the sidecar scan is bounded by the
    * corpus AT DELETE TIME and stays flat as post-delete ingests
    * accumulate.
    */
  private def deletedFeats(spark: SparkSession, stateDir: String,
      versions: Seq[Int], delVs: Seq[Int]): DataFrame = {
    val oldVs = versions.filter(_ < delVs.max)
    // the shared row-level shadowing rule, complement side
    // ([[LabelState.shadowedByGen]])
    LabelState.shadowedByGen(
      LabelState.tombstonesByGen(spark, stateDir, versions),
      oldVs.map(v => (v, spark.read.parquet(docsPath(spark, stateDir, v)))),
      "doc_id")
  }

  /** The trained model from the current state: one re-aggregation over
    * the unioned count partials — (feature, v) sums — MINUS the deleted
    * docs' contributions when tombstones exist. A (feature, v) group
    * whose count falls to zero is dropped (except the always-present
    * `_class` row), so the served model equals [[TextAnalysis.nbCounts]]
    * over the surviving docs exactly — groups included.
    */
  def modelCounts(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    require(versions.nonEmpty, s"IncrementalClassifier.modelCounts: no state at $stateDir")
    val summed = spark.read.parquet(versions.map(countsPath(spark, stateDir, _)): _*)
      .groupBy(col("feature"), col("v"))
      .agg(sum(col("c1")).as("c1"), sum(col("c0")).as("c0"))
    val delVs = LabelState.tombstoneVersions(spark, stateDir, versions)
    if (delVs.isEmpty) return summed
    val negated = TextAnalysis.nbCounts(deletedFeats(spark, stateDir, versions, delVs))
      .select(col("feature"), col("v"), (-col("c1")).as("c1"), (-col("c0")).as("c0"))
    summed.unionByName(negated)
      .groupBy(col("feature"), col("v"))
      .agg(sum(col("c1")).as("c1"), sum(col("c0")).as("c0"))
      .where(col("feature") === "_class" || col("c1") + col("c0") =!= 0)
  }

  /** Score `docs` with the incrementally-trained model — t17's output
    * shape, bit-identical to t17 when the ingested batches partition the
    * same corpus.
    */
  def classify(spark: SparkSession, stateDir: String, docs: DataFrame): DataFrame =
    TextAnalysis.nbClassify(TextAnalysis.qualityFeatures(docs),
      modelCounts(spark, stateDir))

  /** Fold the live count partials into ONE re-aggregated generation —
    * the model returns to ~41 rows; markers travel with the fold.
    * Tombstones are applied PHYSICALLY: the folded counts are the
    * already-subtracted [[modelCounts]], the sidecar keeps only surviving
    * rows ([[LabelState.purgeByGen]] — pre-delete rows leave disk even
    * for re-ingested ids), and no tombstones are carried — the GDPR purge
    * point. The sidecar folds only when EVERY source generation carries
    * one (a legacy fold must not fabricate a sidecar that would wrongly
    * pass [[delete]]'s retention check).
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      val folded = modelCounts(spark, stateDir)
      if (versions.forall(v => GenState.tableExists(spark, stateDir, v, "docs"))) {
        val hasTombs = LabelState.tombstoneVersions(spark, stateDir, versions).nonEmpty
        def tombs = LabelState.tombstonesByGen(spark, stateDir, versions)
        GenState.fencedParquet(spark, stateDir, next, "docs", claim, commitTable)(
          if (!hasTombs) spark.read.parquet(versions.map(docsPath(spark, stateDir, _)): _*)
          else LabelState.purgeByGen(tombs,
            versions.map(v => (v, spark.read.parquet(docsPath(spark, stateDir, v)))),
            Seq("doc_id")))
      }
      folded
    }
}
