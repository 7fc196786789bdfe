package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** c12: incremental DSIR — the data-SELECTION model joins the generational
  * state family. The insight is the same one that made d18/t18 write-only:
  * everything c11 needs downstream of feature extraction derives from the
  * slim per-doc bucket count table `(doc_id, source, b, cnt)`, and counts
  * are a commutative monoid over disjoint doc batches. So:
  *
  *   - **ingest** runs the expensive text pass ([[Corpus.dsirCounts]]) on
  *     the BATCH only and appends the result as a generation — write-only,
  *     O(|batch|), zero read amplification; feature extraction runs once
  *     per document ever;
  *   - **select** folds the live generations (a union of slim counts) and
  *     runs c11's cheap half ([[Corpus.dsirSelectFromCounts]]): model
  *     sums, frozen integer weights, integer-dot scores, top-N. The
  *     selection is corpus-GLOBAL by nature (new raw counts shift every
  *     weight), but re-selection after an ingest costs a slim-state scan
  *     plus a 256-row model fit — never a corpus text re-read. That is
  *     the production shape for CONTINUOUS data selection: ingest daily,
  *     re-select on demand.
  *
  * Split-ingest-then-select is identical to c11's one-shot for ANY batch
  * split (count associativity; the weight table is a pure function of the
  * summed counts) — c12 shares c11's oracle. Batch-key markers give
  * exactly-once ingest under at-least-once re-delivery (re-appending a
  * count generation would double every affected bucket), the d18
  * protocol verbatim.
  */
object IncrementalDsir extends TombstoneFamily {

  val commitTable = "counts"
  val idColumn = "doc_id"

  private def countsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "counts")

  /** Ingest one batch (doc_ids disjoint from prior ingests): one text
    * pass over the batch, one slim generation append. Both target
    * (benchmark-source) and raw docs land in the same table — the select
    * side splits them, so a mixed micro-batch needs no routing.
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
    // the COMMIT write lands through the fence: a writer stalled past the
    // TTL whose in-flight dir a concurrent sweep reclaimed aborts here
    GenState.fencedParquet(spark, stateDir, next, "counts", claim, commitTable)(
      Corpus.dsirCounts(newDocs))
    next
  }

  /** c15: TOMBSTONE a set of doc_ids — right-to-be-forgotten for the
    * selection model. The count state is already PER-DOC (`(doc_id,
    * source, b, cnt)` rows — its own d28-style sidecar), so no
    * subtraction arithmetic is needed: a tombstone at generation d
    * shadows a doc's count rows in generations OLDER than d
    * ([[IncrementalIvf.delete]]'s LSM rule, row-level), the model sums
    * and weights re-fit over survivors at the next [[select]], and
    * [[compact]] purges the rows physically. A later re-ingest of the
    * same doc_id is live again.
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalDsir.delete: no state at $stateDir")
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    GenState.fencedParquet(spark, stateDir, next, "tombstones", claim, commitTable)(
      ids.select(col("doc_id").cast("long").as("node")).dropDuplicates("node"))
    // the COMMIT write lands through the fence (see merge)
    GenState.fencedParquet(spark, stateDir, next, "counts", claim, commitTable)(
      spark.read.parquet(countsPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** The folded count state with tombstone shadowing applied: a count row
    * of generation g is live unless some delete generation d > g
    * tombstones its doc_id (row-level — a re-ingested doc's newer rows
    * survive). Tombstone-free state short-circuits to the plain union
    * (per-doc rows are disjoint across generations, so no re-aggregation
    * is needed to read).
    */
  def counts(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    require(versions.nonEmpty, s"IncrementalDsir: no state at $stateDir")
    val delVs = LabelState.tombstoneVersions(spark, stateDir, versions)
    if (delVs.isEmpty)
      return spark.read.parquet(versions.map(countsPath(spark, stateDir, _)): _*)
    // the shared row-level shadowing rule ([[LabelState.purgeByGen]])
    LabelState.purgeByGen(
      LabelState.tombstonesByGen(spark, stateDir, versions),
      versions.map(v => (v, spark.read.parquet(countsPath(spark, stateDir, v)))),
      Seq("doc_id"))
  }

  /** c11's selection over the accumulated state — equals the one-shot
    * [[Corpus.importanceSelect]] on the union of all ingested batches.
    */
  def select(spark: SparkSession, stateDir: String): DataFrame =
    Corpus.dsirSelectFromCounts(spark, counts(spark, stateDir))

  /** Fold the live generations into one (pure concatenation — surviving
    * rows are already disjoint; the win is directory count and file
    * count, the LSM read-amplification bound). Tombstones are applied
    * PHYSICALLY ([[counts]]'s row-level shadowing is exactly the
    * per-generation purge) and dropped — the deleted docs' count rows
    * leave disk, the GDPR purge point.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir)((_, _, _) => counts(spark, stateDir))
}
