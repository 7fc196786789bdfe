package graft.ops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s8: INCREMENTAL ANN ingest — generational IVF postings over the s7
  * persisted model. d14 dedups embeddings incrementally, but the ANN
  * serving path (s3/s5/s6/s7) was one-shot: adding vectors meant
  * re-assigning the whole corpus. This closes it with the GenState
  * protocol: the centroid model is FROZEN (trained once, s7's registry),
  * and each ingest assigns ONLY its batch to cells with the native
  * `ivf_probe` expression, appending `vN/postings` = (vec_id, e, nrm,
  * cell). Queries union the live generations and run the same
  * probe-then-brute-force top-k as s5/s6/s7.
  *
  * Exactness: a vector's cell is a pure function of (vector, frozen
  * centroids) — so the union of per-batch assignments IS the one-shot
  * assignment table, row for row, for ANY batch split; the query path on
  * the union is therefore bit-identical to s7 on the same corpus (shared
  * oracle). The `_CONFIG` pin stores the model fingerprint (MD5 of the
  * rendered centroid spec): a merge against a different model would mix
  * assignment regimes and is refused, the d12 drifting-parameters rule.
  *
  * Scale shape: ingest is WRITE-ONLY like d18 — one map-side assignment
  * pass over the batch (the centroid matrix rides inside the expression,
  * O(1) plan size at any cell count), one parquet append; nothing reads
  * prior state. Read amplification at query time is O(live generations),
  * bounded the LSM way by [[compact]]. At 100 TB the corpus never
  * shuffles: postings are written cell-tagged where they land, probes
  * broadcast, and the top-k is one window over candidate cells.
  */
object IncrementalIvf extends TombstoneFamily {

  val commitTable = "postings"
  val idColumn = "vec_id"

  // resolved through [[GenState.tablePath]] — publish-mode-agnostic reads
  private def postingsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "postings")
  private def deletesPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "deletes")

  private def fingerprint(spec: String): String =
    MessageDigest.getInstance("MD5")
      .digest(spec.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Load the frozen s7 model (must exist — ingest never trains). */
  def loadModel(spark: SparkSession, modelDir: String): Seq[Similarity.Centroid] = {
    val marker = new org.apache.hadoop.fs.Path(modelDir, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(marker),
      s"IncrementalIvf: no trained model at $modelDir — train via " +
        "Similarity.persistedIvfCentroids first; ingest never trains")
    spark.read.parquet(modelDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1).toSeq
  }

  /** Ingest `newVecs` (a (vec_id, embedding) projection, vec_ids disjoint
    * from prior ingests): assign the batch to the frozen model's cells and
    * append one postings generation. Write-only — no prior-state data read.
    */
  def merge(spark: SparkSession, stateDir: String, modelDir: String,
      newVecs: DataFrame): Int = {
    val spec = graft.exprs.IvfProbe.render(loadModel(spark, modelDir))
    GenState.checkConfig(spark, stateDir, Map("model" -> fingerprint(spec)))
    // multi-writer: assignment is against the FROZEN model, so the
    // generation is independent of live state — fresh allocation lets N
    // parallel ingest jobs serialize instead of stealing each other
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    // same assignment as s6/s7: top-1 probe, NaN (zero-norm) → cell −1
    val best = element_at(
      call_function("ivf_probe", col("e"), lit(spec), lit(1)), 1)
    val cell = when(isnan(best.getField("ccos")), lit(-1L))
      .otherwise(best.getField("cid"))
    // the COMMIT write lands through the fence: a writer stalled past the
    // TTL whose in-flight dir a concurrent sweep reclaimed aborts here
    GenState.fencedParquet(spark, stateDir, next, "postings", claim, commitTable)(
      Similarity.withNorm(newVecs).withColumn("cell", cell))
    next
  }

  /** s9: TOMBSTONE a set of vectors — the right-to-be-forgotten path.
    * Writes one generation holding `vN/deletes` (the distinct vec_ids)
    * plus an EMPTY postings table (the commit marker — the generation
    * protocol stays single-tabled). Classic LSM shadowing semantics: a
    * tombstone deletes a vec_id from generations OLDER than itself only,
    * so a later re-ingest of the same id is live again — and [[compact]]
    * applies all tombstones physically (the purge: deleted rows leave
    * disk) and drops them. Requires an existing state (deleting from
    * nothing is a protocol error, not a no-op).
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalIvf.delete: no state at $stateDir")
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    GenState.fencedParquet(spark, stateDir, next, "deletes", claim, commitTable)(
      ids.select(col("vec_id")).dropDuplicates("vec_id"))
    // the COMMIT write lands through the fence (see merge)
    GenState.fencedParquet(spark, stateDir, next, "postings", claim, commitTable)(
      spark.read.parquet(postingsPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** The postings union with tombstone shadowing applied: a row of
    * generation g is live unless some delete generation d > g tombstones
    * its vec_id. One slim anti-join; generation tags never leave here.
    */
  def livePostings(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    require(versions.nonEmpty, s"IncrementalIvf.livePostings: no postings at $stateDir")
    val posts = versions.map(v =>
      spark.read.parquet(postingsPath(spark, stateDir, v)).withColumn("gen", lit(v)))
      .reduce(_ unionByName _)
    val f = GenState.fs(spark, stateDir)
    val delVs = versions.filter(v =>
      GenState.tableExists(spark, stateDir, v, "deletes"))
    if (delVs.isEmpty) posts.drop("gen")
    else {
      val dels = delVs.map(v =>
        spark.read.parquet(deletesPath(spark, stateDir, v))
          .select(col("vec_id").as("del_id"), lit(v).as("dgen")))
        .reduce(_ unionByName _)
      posts.join(dels,
          posts("vec_id") === dels("del_id") && dels("dgen") > posts("gen"),
          "left_anti")
        .drop("gen")
    }
  }

  /** The s7-shaped per-query top-k over the CURRENT live postings:
    * queries are the corpus vectors with vec_id < nQueries (as in
    * s3/s5/s6/s7), probed against their `ivfProbes` nearest cells.
    * Tombstoned vectors are neither queries nor candidates.
    */
  def annTopK(spark: SparkSession, stateDir: String, modelDir: String,
      nQueries: Int = 10, k: Int = 3): DataFrame = {
    val spec = graft.exprs.IvfProbe.render(loadModel(spark, modelDir))
    val asg = livePostings(spark, stateDir)
    val probes = asg.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        explode(call_function("ivf_probe", col("e"), lit(spec),
          lit(Similarity.ivfProbes))).as("pc"))
      .select(col("qid"), col("qe"), col("qn"), col("pc.cid").as("pcell"))
    Similarity.probeTopK(asg, probes, k)
  }

  /** Fold the live generations into one ([[GenState]] manifest protocol —
    * crash-idempotent, leftovers swept), applying every tombstone
    * PHYSICALLY: the folded generation holds only shadow-surviving rows
    * and carries no deletes table (all tombstones are fully applied by
    * the fold, and deleting the source generations removes the
    * tombstoned bytes from disk — the GDPR purge point).
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir)((_, _, _) => livePostings(spark, stateDir))
}
