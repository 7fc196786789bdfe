package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Text.normalized

/** d18: incremental EXACT dedup — the workhorse modality (sha256 of
  * normalized text, d1) gains the generational state path the fuzzy
  * modalities got in d12/d15/d14, and it is the cheapest of the four
  * because the d1 aggregate is ASSOCIATIVE: each generation stores only
  * its batch's partial aggregate `vN/hashes` = (h, keeper, n_copies),
  * and the corpus-wide answer is one re-aggregation over the slim
  * partials (min of keepers, sum of counts).
  *
  * That associativity makes ingest WRITE-ONLY: a merge hashes its batch
  * and appends a generation — it never reads prior state at all (no
  * probe join, no CC), so daily-ingest cost is O(|batch|) with zero read
  * amplification on the write path. Reads union the live generations
  * (O(live) dirs — [[maybeCompact]] bounds it), and
  * split-ingest-then-read is hash-identical to d1's one-shot aggregate
  * for ANY batch split, by associativity + commutativity of (min, sum).
  *
  * Commit marker is `hashes/_SUCCESS` itself; compaction reuses the
  * `_COMPACTED` manifest protocol, folding the partials WITH
  * re-aggregation so the index shrinks to one row per distinct content.
  *
  * d28 ([[delete]]): aggregates can't subtract a member, so each
  * generation also stores a slim per-doc SIDECAR `vN/docs` = (doc_id, h)
  * — O(batch), two columns — and deletes are tombstone generations with
  * [[IncrementalIvf]]'s LSM shadowing semantics. The read path replaces
  * only the AFFECTED (h, gen) partials with re-aggregations of their
  * surviving sidecar rows (broadcast-scoped, O(deleted docs) correction
  * work); [[compact]] applies tombstones physically — the GDPR purge.
  */
object IncrementalExact extends TombstoneFamily {

  val commitTable = "hashes"
  val idColumn = "doc_id"

  /** Reserved marker namespace for [[delete]] keys — see the note there.
    * FORMAT NOTE: state dirs whose deletes were recorded before this
    * namespace existed store raw keys; a re-delivered delete against such
    * a dir would not match its old marker and would write a FRESH
    * tombstone — which shadows all older generations, including
    * legitimate post-delete re-ingests. Rebuild (or compact-and-verify)
    * pre-namespace state dirs rather than relying on delete re-delivery
    * across the upgrade. (Checking the raw key as a fallback would
    * re-open the cross-op collision this namespace closes.)
    */
  private val deletePrefix = "delete."

  // resolved through [[GenState.tablePath]]: publish-mode-agnostic reads
  // (a pointer-committed generation's tables live in nonce-named dirs);
  // `tok` is the caller's claim token for pre-commit reads of its OWN
  // in-flight generation under PointerPublish
  private def hashesPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "hashes", tok)
  private def docsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "docs", tok)
  private def tombsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "tombstones", tok)

  /** The slim per-doc projection a generation's sidecar stores. */
  private def sidecarOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(normalized(col("text")).cast("binary"), 256).as("h"))

  /** The d1 partial aggregate of one batch. */
  private def partialOf(docs: DataFrame): DataFrame =
    sidecarOf(docs)
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Ingest `newDocs` (doc_ids disjoint from prior ingests): WRITE-ONLY —
    * hashes the batch, partial-aggregates it, appends a generation.
    * Returns the generation number holding the batch.
    *
    * `batchKey` makes the ingest IDEMPOTENT under at-least-once
    * re-delivery (the q54/q57 foreachBatch crash window): unlike the
    * pair-graph modalities — where a re-merged batch's duplicate pairs
    * dedup away in CC — re-appending a partial aggregate would double
    * `n_copies`. A keyed merge whose key a complete generation already
    * records is a no-op; the marker commits atomically with the
    * generation ([[GenState.writeIngestMarker]] writes it into the vN dir
    * BEFORE `hashes/_SUCCESS`, and only complete generations count), so
    * every crash point resolves to exactly-once ingest. The membership
    * probe is an O(live generations) file listing — the write path stays
    * read-free of parquet DATA; streaming callers should pass the
    * foreachBatch batch id.
    */
  def merge(spark: SparkSession, stateDir: String, newDocs: DataFrame,
      batchKey: Option[String] = None): Int = {
    batchKey.foreach { k =>
      require(!k.startsWith(deletePrefix),
        s"IncrementalExact.merge: batch key '$k' collides with the reserved " +
          s"delete namespace ('$deletePrefix*') — a merge marker must never " +
          "satisfy a delete's exactly-once check (or vice versa)")
    }
    // MULTI-WRITER allocation: the partial aggregate is write-only and
    // independent of the live state, so N parallel ingest jobs serialize
    // into N fresh generations (GenState.claimFresh) instead of N−1 aborts;
    // allocateFresh carries the keyed exactly-once no-op path
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, commitTable) match {
      case Left(v) => return v // already ingested: re-delivery is a no-op
      case Right(nc) => nc
    }
    // per-doc SIDECAR first (doc_id, h — the subtractable record deletes
    // re-aggregate from; O(batch), two slim columns), then the partial
    // aggregate of the SAME cached projection (content hashed exactly
    // once, no read-back); hashes' _SUCCESS stays the commit marker, so a
    // crash between the two writes leaves an incomplete generation redone
    // wholesale
    val side = sidecarOf(newDocs).persist()
    try {
      GenState.fencedParquet(spark, stateDir, next, "docs", claim, commitTable)(side)
      // the COMMIT write lands through the fence: a writer stalled past
      // the TTL whose in-flight dir a concurrent sweep reclaimed must
      // abort here, never land a torn complete generation
      GenState.fencedParquet(spark, stateDir, next, "hashes", claim, commitTable)(
        side.groupBy(col("h"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies")))
    } finally side.unpersist()
    next
  }

  /** d28: TOMBSTONE a set of documents — the right-to-be-forgotten path
    * for the write-only exact modality. Partial AGGREGATES cannot
    * subtract a member, so deletes lean on the per-doc sidecar: this
    * writes one generation holding `vN/tombstones` (the distinct doc_ids)
    * plus empty sidecar and hashes tables (the latter's `_SUCCESS` is the
    * commit marker — the generation protocol stays uniform), and the READ
    * path re-aggregates only the AFFECTED hash groups from surviving
    * sidecar rows. [[IncrementalIvf.delete]]'s LSM shadowing semantics: a
    * tombstone deletes a doc_id from generations OLDER than itself only,
    * so a later re-ingest of the same id is live again (the sanctioned
    * exception to the disjoint-doc_id ingest contract); [[compact]]
    * applies tombstones PHYSICALLY and drops them — the purge point.
    * Requires sidecar-bearing state (a pre-sidecar state dir must be
    * re-ingested or compacted from source before deletes are possible —
    * there is nothing to subtract from).
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int =
    delete(spark, stateDir, ids, None)

  /** The keyed delete: a re-delivered `batchKey` is a no-op. */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame,
      batchKey: Option[String]): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalExact.delete: no state at $stateDir")
    live.foreach(v => require(GenState.tableExists(spark, stateDir, v, "docs"),
      s"IncrementalExact.delete: generation v$v at $stateDir has no per-doc " +
        "sidecar (pre-sidecar layout) — deletes need the sidecar to " +
        "re-aggregate from; rebuild the state dir first"))
    // markers are namespaced per OPERATION (the IncrementalView.retract
    // rule): a delete whose caller-supplied key happened to equal an
    // earlier merge's key would silently no-op as "already applied" and
    // DROP the tombstone — a right-to-be-forgotten request vanishing
    // without an error. The reserved prefix makes the two exactly-once
    // ledgers disjoint (merge refuses keys in this namespace).
    val nsKey = batchKey.map(deletePrefix + _)
    // fresh allocation like merge — a delete concurrent with parallel
    // ingest lands at its own number; shadowing stays generation-ordered
    // (the tombstone deletes only from generations older than itself)
    val (next, claim) = GenState.allocateFresh(spark, stateDir, nsKey, commitTable) match {
      case Left(v) => return v
      case Right(nc) => nc
    }
    // tombstones + empty sidecar are independent — written concurrently
    // (guide §2.6 via [[GenState.inParallel]]); the hashes commit stays
    // strictly after, preserving the crash contract
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim,
        commitTable)(ids.select(col("doc_id")).dropDuplicates("doc_id")),
      () => GenState.fencedParquet(spark, stateDir, next, "docs", claim,
        commitTable)(
        spark.read.parquet(docsPath(spark, stateDir, live.head)).limit(0))))
    // the COMMIT write lands through the fence (see merge)
    GenState.fencedParquet(spark, stateDir, next, "hashes", claim, commitTable)(
      spark.read.parquet(hashesPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** Tombstone-shadowed SURVIVING sidecar rows of `versions`, tagged with
    * their generation: a (doc_id, h, gen) row is live unless some
    * tombstone generation d > gen deletes its doc_id.
    */
  private def survivorsOf(spark: SparkSession, stateDir: String,
      versions: Seq[Int], delVs: Seq[Int]): DataFrame = {
    val side = versions.map(v => spark.read.parquet(docsPath(spark, stateDir, v))
      .withColumn("gen", lit(v))).reduce(_ unionByName _)
    if (delVs.isEmpty) side
    else {
      val tombs = delVs.map(v => spark.read.parquet(tombsPath(spark, stateDir, v))
        .select(col("doc_id").as("del_id"), lit(v).as("dgen"))).reduce(_ unionByName _)
      side.join(tombs,
        side("doc_id") === tombs("del_id") && tombs("dgen") > side("gen"),
        "left_anti")
    }
  }

  /** The corpus-wide d1 result from the current state: one re-aggregation
    * over the unioned slim partials. With tombstones present, the stored
    * partial of an AFFECTED (h, gen) group — one that lost a member to a
    * newer tombstone — is replaced by a re-aggregation of that group's
    * surviving sidecar rows; unaffected groups (the overwhelming mass —
    * deletes are small) serve from their stored aggregates untouched, so
    * the correction work is O(deleted docs), broadcast-joined, not a
    * corpus re-aggregation.
    */
  def dedup(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    if (versions.isEmpty) {
      import spark.implicits._
      return Seq.empty[(String, Long, Long)].toDF("h", "keeper", "n_copies")
    }
    val delVs = versions.filter(v => GenState.tableExists(spark, stateDir, v, "tombstones"))
    val fold =
      if (delVs.isEmpty)
        // tombstone-free fast path: no gen tags, no sidecar read
        spark.read.parquet(versions.map(hashesPath(spark, stateDir, _)): _*)
      else {
        // TOMBSTONE BOUND: a tombstone at generation d shadows doc rows of
        // generations STRICTLY OLDER than d, so generations >= max(delVs)
        // can never be affected — serve them from their stored aggregates
        // without gen tags, sidecar reads, or join participation. The
        // correction scan is then bounded by the corpus AT DELETE TIME and
        // stays flat as post-delete ingest generations accumulate.
        val maxDel = delVs.max
        val (oldVs, newVs) = versions.partition(_ < maxDel)
        val untouched =
          if (newVs.isEmpty) None
          else Some(spark.read.parquet(newVs.map(hashesPath(spark, stateDir, _)): _*))
        val partsG = oldVs.map(v => spark.read.parquet(hashesPath(spark, stateDir, v))
          .withColumn("gen", lit(v))).reduce(_ unionByName _)
        val tombs = delVs.map(v => spark.read.parquet(tombsPath(spark, stateDir, v))
          .select(col("doc_id").as("del_id"), lit(v).as("dgen"))).reduce(_ unionByName _)
        val side = oldVs.map(v => spark.read.parquet(docsPath(spark, stateDir, v))
          .withColumn("gen", lit(v))).reduce(_ unionByName _)
        // the (h, gen) groups that lost at least one member. Usually
        // tombstone-batch-sized, but a GDPR-scale bulk delete makes it
        // arbitrarily large — no forced broadcast hint; AQE picks broadcast
        // when the runtime size is small and degrades to a shuffle join
        // (working, not OOM) when it is not.
        val affected = side.join(tombs,
            side("doc_id") === tombs("del_id") && tombs("dgen") > side("gen"),
            "left_semi")
          .select(col("h"), col("gen")).distinct()
        val reagg = survivorsOf(spark, stateDir, oldVs, delVs)
          .join(affected, Seq("h", "gen"), "left_semi")
          .groupBy(col("h"), col("gen"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        val corrected = partsG.join(affected, Seq("h", "gen"), "left_anti")
          .unionByName(reagg)
          .select(col("h"), col("keeper"), col("n_copies"))
        untouched.map(corrected.unionByName(_)).getOrElse(corrected)
      }
    fold
      .groupBy(col("h"))
      .agg(min(col("keeper")).as("keeper"), sum(col("n_copies")).as("n_copies"))
      .orderBy(col("keeper"))
  }

  /** Fold the live partials into ONE re-aggregated generation (the index
    * returns to one row per distinct content); `_COMPACTED` manifest
    * before the commit, crash-idempotent as in d12. On sidecar-bearing
    * state this also applies every tombstone PHYSICALLY: the folded
    * sidecar holds only shadow-surviving rows, the folded partial is
    * their aggregate, and no tombstones table is carried — deleting the
    * source generations removes the tombstoned bytes from disk, the
    * point a right-to-be-forgotten pipeline certifies (the
    * [[IncrementalIvf.compact]] purge semantics). A pre-sidecar state dir
    * folds partials the original way and stays sidecar-free.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      if (!versions.forall(v => GenState.tableExists(spark, stateDir, v, "docs")))
        // pre-sidecar layout: no tombstones possible ([[delete]] refuses),
        // the fold is the pure partial re-aggregation
        spark.read.parquet(versions.map(hashesPath(spark, stateDir, _)): _*)
          .groupBy(col("h"))
          .agg(min(col("keeper")).as("keeper"), sum(col("n_copies")).as("n_copies"))
      else {
        val delVs = versions.filter(v => GenState.tableExists(spark, stateDir, v, "tombstones"))
        GenState.fencedParquet(spark, stateDir, next, "docs", claim, commitTable)(
          survivorsOf(spark, stateDir, versions, delVs)
            .select(col("doc_id"), col("h")))
        spark.read.parquet(docsPath(spark, stateDir, next, Some(claim)))
          .groupBy(col("h"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      }
    }
}
