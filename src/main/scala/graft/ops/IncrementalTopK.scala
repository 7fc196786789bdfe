package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** b5: incremental heavy hitters — b4's provably-exact top-k joins the
  * generational state family. The insight is c12/t18's: everything the
  * serve needs derives from the slim per-doc token-count table
  * `(doc_id, token, n)`, and counts are a commutative monoid over
  * disjoint doc batches. So:
  *
  *   - **ingest** tokenizes the BATCH only and appends its per-doc token
  *     counts as a generation — write-only, O(|batch|), zero read
  *     amplification; a document's text is tokenized once ever;
  *   - **serve** runs b4's two passes over the FOLDED PARTIALS, never
  *     the corpus: a weighted Misra-Gries sketch (`misra_gries(token, n,
  *     capacity)` — the summary of a pre-counted table is the summary of
  *     the raw stream, because MG folds weights exactly like repeated
  *     occurrences) for the candidate set, then the candidate-bounded
  *     exact recount with the same exact-or-refuse MG bound. Re-serving
  *     after an ingest costs a slim-state scan — at 100 TB the corpus is
  *     petabyte-text but the count state is the corpus's distinct
  *     (doc, token) pairs, orders of magnitude slimmer, and compaction
  *     keeps its file count bounded.
  *
  * Split-ingest-then-serve equals b4/t5's one-shot for ANY batch split
  * (count associativity) — b5 shares their exact oracle, hash-checked.
  * Batch-key markers give exactly-once ingest under at-least-once
  * re-delivery; tombstone deletes are row-level (the count state is
  * per-doc, its own d28 sidecar — c15's rule verbatim), so the served
  * top-k over survivors equals the one-shot over survivors, and a
  * re-ingested doc is live again.
  */
object IncrementalTopK extends TombstoneFamily {

  val commitTable = "counts"
  val idColumn = "doc_id"

  private def countsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "counts")

  /** Per-doc token counts of one batch: one tokenize pass, one shuffle
    * onto (doc_id, token) — O(|batch|) work and output.
    */
  private[graft] def batchCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("n"))

  /** Ingest one batch (doc_ids disjoint from prior ingests). */
  def merge(spark: SparkSession, stateDir: String, newDocs: DataFrame,
      batchKey: Option[String] = None): Int = {
    // multi-writer: the generation is write-only (independent of the live
    // state), so fresh allocation serializes N parallel ingest jobs
    // (GenState.claimFresh); the keyed exactly-once no-op rides inside
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, commitTable) match {
      case Left(v) => return v // already ingested: re-delivery is a no-op
      case Right(nc) => nc
    }
    // the COMMIT write lands through the fence: a writer stalled past the
    // TTL whose in-flight dir a concurrent sweep reclaimed aborts here
    GenState.fencedParquet(spark, stateDir, next, "counts", claim, commitTable)(
      batchCounts(newDocs))
    next
  }

  /** TOMBSTONE a set of doc_ids — c15's row-level rule: the count state
    * is already per-doc, so a tombstone at generation d shadows a doc's
    * rows in generations OLDER than d, [[compact]] purges physically,
    * and a later re-ingest of the same doc_id is live again.
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalTopK.delete: no state at $stateDir")
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    GenState.fencedParquet(spark, stateDir, next, "tombstones", claim, commitTable)(
      ids.select(col("doc_id").cast("long").as("node")).dropDuplicates("node"))
    // the COMMIT write lands through the fence (see merge)
    GenState.fencedParquet(spark, stateDir, next, "counts", claim, commitTable)(
      spark.read.parquet(countsPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** The folded per-doc count state with tombstone shadowing applied
    * (row-level; tombstone-free state short-circuits to the plain union —
    * per-doc rows are disjoint across generations).
    */
  private[graft] def counts(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    require(versions.nonEmpty, s"IncrementalTopK: no state at $stateDir")
    val delVs = LabelState.tombstoneVersions(spark, stateDir, versions)
    if (delVs.isEmpty)
      return spark.read.parquet(versions.map(countsPath(spark, stateDir, _)): _*)
    LabelState.purgeByGen(
      LabelState.tombstonesByGen(spark, stateDir, versions),
      versions.map(v => (v, spark.read.parquet(countsPath(spark, stateDir, v)))),
      Seq("doc_id"))
  }

  /** b4's sketch + recount over the folded state — equals the one-shot
    * [[TextAnalysis.heavyHitters]] on the union of live ingested docs
    * (minus tombstoned ones). Same eager model-sized sketch row, same
    * exact-or-refuse bound; both passes scan only the slim count state.
    */
  def topK(spark: SparkSession, stateDir: String, topN: Int = 20,
      capacity: Int = 4096): DataFrame = {
    import spark.implicits._
    val state = counts(spark, stateDir)
    val first = state.agg(
      expr(s"misra_gries(token, n, $capacity)").as("cands"),
      sum(col("n")).as("total")).collect()(0)
    val cands = first.getSeq[String](0)
    val total = first.getLong(1)
    require(cands.size >= topN,
      s"incremental_topk: only ${cands.size} candidates survived the sketch for a " +
        s"top-$topN — raise capacity or recount exactly")
    state.join(broadcast(cands.toDF("token")), Seq("token"))
      .groupBy(col("token"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topN)
      .select(col("token"),
        when(col("n") * (capacity + 1) > lit(total), col("n"))
          .otherwise(raise_error(concat(
            lit(s"incremental_topk: rank-$topN count "), col("n"),
            lit(s" does not clear the MG bound total/(capacity+1) = $total/${capacity + 1}"))))
          .as("n"))
  }

  /** Fold the live generations into one (pure concatenation of disjoint
    * per-doc rows); tombstones are applied physically and dropped.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir)((_, _, _) => counts(spark, stateDir))
}
