package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** s15: INCREMENTAL IVF-PQ ingest — the FAISS add()/search() loop under
  * the GenState protocol: the model (reference vectors, from which both
  * the IVF centroids and the PQ codebooks derive) is FROZEN in a registry,
  * and each ingest batch is encoded map-side — cell + 8 codes +
  * reconstruction norm, ONE projection — into a write-only `vN/codes`
  * generation. Queries arrive full-precision (ADC is asymmetric by
  * design) and run s12's probe-and-ADC top-k over the union of live
  * generations.
  *
  * This closes the quantization family the way s8 closed IVF: the
  * serving index a deployment actually accumulates holds 8-BYTE code
  * rows, never vectors — so the ingested state for a 100 TB embedding
  * stream is ~3 TB, and ingest cost is one compiled pass over the batch
  * plus one slim parquet append. Nothing ever reads prior state at
  * ingest; read amplification at query time is O(live generations),
  * bounded the LSM way by [[compact]].
  *
  * Exactness: (cell, codes, rn) are pure functions of (vector, frozen
  * model), so the union of per-batch encodings IS the one-shot s12
  * encoding table for ANY batch split — s15 shares s12's oracle. The
  * `_CONFIG` fingerprint (md5 of the reference-vector rendering) refuses
  * a merge against a different model: PQ codes are only decodable
  * against the codebook that produced them, so mixing regimes would
  * corrupt every downstream ADC score silently.
  */
object IncrementalIvfPq extends TombstoneFamily {

  val commitTable = "codes"
  val idColumn = "vec_id"

  // resolved through [[GenState.tablePath]] — publish-mode-agnostic reads
  private def codesPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "codes")
  private def deletesPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "deletes")

  /** The frozen reference vectors — the ONE persisted artifact both model
    * halves derive from: IVF centroids are the vectors themselves
    * ([[Similarity.firstKCentroids]] semantics) and PQ codebooks are
    * their subvector slices ([[Quantization.pqCodebooks]] semantics,
    * bit-identical because parquet stores the doubles losslessly).
    */
  def persistedRefVectors(spark: SparkSession, dir: String,
      modelDir: String): Seq[Similarity.Centroid] = {
    val marker = new org.apache.hadoop.fs.Path(modelDir, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      import spark.implicits._
      Similarity.firstKCentroids(spark, dir, Quantization.pqCodes)
        .map { case (cid, ce, cn) => (cid, ce.toSeq, cn) }
        .toDF("cid", "ce", "cn")
        .coalesce(1).write.mode("overwrite").parquet(modelDir)
    }
    loadRefVectors(spark, modelDir)
  }

  /** Session-scoped memo of the loaded frozen model — the model is FROZEN
    * by contract (fingerprint-pinned in `_CONFIG`), so re-collecting the
    * same parquet on every merge/serve of an ingest loop was a pure
    * fixed cost (one collect job + its planning per micro-batch). A
    * production ingest loop holds its frozen model in memory exactly
    * like this; a retrain is a NEW modelDir (the s8 freeze contract), so
    * path-keyed entries can never serve a stale model. The bench clears
    * it between passes ([[clearCaches]]) so per-pass timings still pay
    * one real load.
    */
  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[Similarity.Centroid]]

  def clearCaches(): Unit = modelCache.clear()

  /** Load the frozen model (must exist — ingest and query never derive).
    * Memoized per (session, modelDir) under the freeze contract above; an
    * in-place modelDir rewrite within one session serves the previously
    * loaded model until [[clearCaches]]. Stopped sessions' entries are
    * purged on every lookup.
    */
  def loadRefVectors(spark: SparkSession, modelDir: String): Seq[Similarity.Centroid] = {
    modelCache.keySet.removeIf(_._1.sparkContext.isStopped)
    modelCache.computeIfAbsent((spark, modelDir), _ => {
      val marker = new org.apache.hadoop.fs.Path(modelDir, "_SUCCESS")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(marker),
        s"IncrementalIvfPq: no frozen model at $modelDir — persist via " +
          "persistedRefVectors first; ingest never derives")
      spark.read.parquet(modelDir).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1).toSeq
    })
  }

  /** PQ codebooks derived from the frozen reference vectors — the same
    * slicing and ascending-fold ‖c‖² as [[Quantization.pqCodebooks]].
    */
  def codebooksOf(refs: Seq[Similarity.Centroid]): IndexedSeq[IndexedSeq[Quantization.PqEntry]] = {
    val rows = refs.sortBy(_._1).map(_._2).toIndexedSeq
    val dim = rows.head.length
    val subDim = dim / Quantization.pqSubspaces
    (0 until Quantization.pqSubspaces).map { s =>
      rows.zipWithIndex.map { case (e, code) =>
        val sub = e.slice(s * subDim, (s + 1) * subDim)
        val cc = sub.foldLeft(0.0)((a, x) => a + x * x)
        (code, sub, cc)
      }
    }
  }

  private def fingerprint(refs: Seq[Similarity.Centroid]): String = {
    val rendered = refs.sortBy(_._1)
      .map { case (cid, e, n) => s"$cid:${e.mkString(",")}:$n" }.mkString(";")
    MessageDigest.getInstance("MD5")
      .digest(rendered.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Ingest `newVecs` (a (vec_id, embedding) projection, vec_ids disjoint
    * from prior ingests): encode the batch against the frozen model and
    * append one codes generation. Write-only — no prior state read, no
    * vector stored.
    *
    * `batchKey` makes the ingest IDEMPOTENT under at-least-once
    * re-delivery (the [[IncrementalExact]] pattern): codes are write-only
    * appends, so an UNKEYED re-delivered micro-batch (q74's crash window —
    * merge landed, stream checkpoint didn't) would append duplicate code
    * rows, and [[annTopK]]'s union + per-query row_number would rank the
    * same vec_id twice — silently breaking the s15 == s12 parity. A keyed
    * merge whose key a complete generation already records is a no-op;
    * the marker commits atomically with the generation. Streaming callers
    * should pass the foreachBatch batch id.
    */
  def merge(spark: SparkSession, stateDir: String, modelDir: String,
      newVecs: DataFrame, batchKey: Option[String] = None): Int = {
    val refs = loadRefVectors(spark, modelDir)
    val cb = codebooksOf(refs)
    GenState.checkConfig(spark, stateDir, Map("model" -> fingerprint(refs)))
    // multi-writer: encoding is against the FROZEN model artifact, so the
    // generation is independent of live state — fresh allocation serializes
    // N parallel ingest jobs (keyed exactly-once rides in allocateFresh)
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, commitTable) match {
      case Left(v) => return v // already ingested: re-delivery is a no-op
      case Right(nc) => nc
    }
    // the COMMIT write lands through the fence: a writer stalled past the
    // TTL whose in-flight dir a concurrent sweep reclaimed aborts here
    GenState.fencedParquet(spark, stateDir, next, "codes", claim, commitTable)(
      newVecs
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", sqrt(call_function("array_dot", col("e"), col("e"))))
        .select(Seq(col("vec_id"), Quantization.cellCol(refs).as("cell")) ++
          Quantization.codeColsOf(cb): _*)
        .withColumn("rn", Quantization.rnCol(cb)))
    next
  }

  /** s16: TOMBSTONE a set of vectors — [[IncrementalIvf.delete]]'s s9
    * protocol on the code postings: one generation holding `vN/deletes`
    * (the distinct vec_ids) plus an EMPTY codes table (the commit marker).
    * LSM shadowing: a tombstone deletes a vec_id from generations OLDER
    * than itself only, so a later re-ingest of the same id is live again;
    * [[compact]] applies tombstones physically — the deleted 8-byte code
    * rows leave disk, the GDPR purge point. Deleted vectors remain valid
    * QUERIES ([[annTopK]] takes queries full-precision from the corpus,
    * not from state) — deletion removes them from the SERVED index only.
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalIvfPq.delete: no state at $stateDir")
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    GenState.fencedParquet(spark, stateDir, next, "deletes", claim, commitTable)(
      ids.select(col("vec_id")).dropDuplicates("vec_id"))
    // the COMMIT write lands through the fence (see merge)
    GenState.fencedParquet(spark, stateDir, next, "codes", claim, commitTable)(
      spark.read.parquet(codesPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** The codes union with tombstone shadowing applied: a row of
    * generation g is live unless some delete generation d > g tombstones
    * its vec_id. Tombstone-free state short-circuits to the plain
    * multi-path scan; generation tags never leave here.
    */
  def liveCodes(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    require(versions.nonEmpty, s"IncrementalIvfPq.liveCodes: no state at $stateDir")
    val delVs = versions.filter(v =>
      GenState.tableExists(spark, stateDir, v, "deletes"))
    if (delVs.isEmpty)
      return spark.read.parquet(versions.map(codesPath(spark, stateDir, _)): _*)
    val codes = versions.map(v =>
      spark.read.parquet(codesPath(spark, stateDir, v)).withColumn("gen", lit(v)))
      .reduce(_ unionByName _)
    // delete-derived frame unhinted: AQE broadcasts a small tombstone
    // set, shuffle-joins a GDPR-scale bulk delete (degraded, not OOM)
    val dels = delVs.map(v =>
      spark.read.parquet(deletesPath(spark, stateDir, v))
        .select(col("vec_id").as("del_id"), lit(v).as("dgen")))
      .reduce(_ unionByName _)
    codes.join(dels,
        codes("vec_id") === dels("del_id") && dels("dgen") > codes("gen"),
        "left_anti")
      .drop("gen")
  }

  /** The s12-shaped per-query top-k over the union of live code
    * generations: queries come full-precision from the corpus at `dir`
    * (the asymmetric half); candidates are ONLY what has been ingested
    * and not tombstoned.
    */
  def annTopK(spark: SparkSession, dir: String, stateDir: String,
      modelDir: String, nQueries: Int = Quantization.pqQueries,
      k: Int = Quantization.pqTopK): DataFrame = {
    val refs = loadRefVectors(spark, modelDir)
    val cb = codebooksOf(refs)
    val enc = liveCodes(spark, stateDir).where(col("rn") > 0)
    Quantization.ivfPqTopKFrom(spark, dir, cb, refs, enc, nQueries, k)
  }

  /** Fold the live generations into one (GenState manifest protocol —
    * crash-idempotent, leftovers swept). Codes are immutable pure
    * functions of the frozen model, so compaction is a shadow-applied
    * union rewrite — no re-encoding, no vector reads. Tombstones are
    * applied PHYSICALLY ([[liveCodes]]) and dropped: the deleted code
    * rows leave disk, the GDPR purge point.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir)((_, _, _) => liveCodes(spark, stateDir))
}
