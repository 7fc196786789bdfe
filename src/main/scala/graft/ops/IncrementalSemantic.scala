package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d23: incremental SEMANTIC dedup — d22's cluster-then-prune geometry
  * under the generational state machinery, completing the batch /
  * incremental / streaming matrix for the semantic modality. The
  * difference from [[IncrementalEmbedding]] (d14) is the same as
  * d22-vs-d11: candidates come from FROZEN-model k-means cell equality
  * (exact within-cell recall) rather than SRP sign buckets, and the
  * keeper is the least-prototypical member (min rounded centroid cosine)
  * rather than the min vec_id.
  *
  * The model must be FROZEN before ingest begins (the s8 contract for
  * postings: cell assignment is a pure function of vector × frozen
  * centroids, which is what makes split-ingest == one-shot — a model
  * retrained mid-history would reassign old vectors and invalidate
  * persisted cells). A deployment retrains periodically and REBUILDS the
  * state from the corpus under the new model — a compaction-sized job,
  * not an ingest-path one.
  *
  * Persisted per generation: `vN/vecs` = (vec_id, e, nrm, cell, ccos) —
  * the assignment is computed ONCE per vector at ingest (the native
  * `ivf_probe` reference-object expression, O(1) codegen in k) and both
  * the cell and its 6-dp-rounded centroid cosine ride in state, so reads
  * never touch the model again; `vN/labels` = the [[LabelState]] delta.
  * No occupancy cap: the fan-out dial for this geometry is k itself
  * (SCALE.md round 11), pinned in `_CONFIG` so an ingest under a
  * different model fails loudly.
  */
object IncrementalSemantic extends TombstoneFamily {

  val commitTable = "labels"
  val idColumn = "vec_id"

  // resolved through [[GenState.tablePath]]: publish-mode-agnostic reads;
  // `tok` is the claim token for pre-commit reads of an OWN in-flight
  // generation under PointerPublish (pointer resolution wins for complete
  // generations, so passing the token on a mixed-version read is safe)
  private def vecsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "vecs", tok)
  private def pairsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "pairs", tok)

  /** Ingest `newVecs` ((vec_id, embedding), vec_ids disjoint from prior
    * ingests) against the frozen centroid model; returns the generation.
    * MULTI-WRITER since round 17 (the d15 pattern — see
    * [[IncrementalMinHash]]'s object doc): fresh allocation, `_PROBED`
    * manifests, keyed exactly-once via `batchKey`; cross pairs and the
    * label-fold split of concurrent commits are reconciled at read
    * ([[clusters]]) from the frozen per-generation vecs (cell equality +
    * cosine at the pinned threshold — the model is never touched) and
    * made durable at [[compact]].
    */
  def merge(spark: SparkSession, stateDir: String, cents: Seq[Similarity.Centroid],
      newVecs: DataFrame,
      threshold: Double = Similarity.semDedupThreshold,
      batchKey: Option[String] = None): Int = {
    GenState.checkConfig(spark, stateDir,
      Map("threshold" -> threshold.toString, "cells" -> cents.size.toString))
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey) match {
      case Left(v) => return v // re-delivered batch key: no-op
      case Right(nc) => nc
    }
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim)

    // 1. assign the new batch ONCE: frozen-model top-1 cell + rounded
    // centroid cosine persisted with the vector (zero-norm vectors have
    // NaN cosines → no cell; they can never pair, drop at ingest)
    val spec = graft.exprs.IvfProbe.render(cents)
    val best = element_at(
      call_function("ivf_probe", col("e"), lit(spec), lit(1)), 1)
    GenState.fencedParquet(spark, stateDir, next, "vecs", claim)(
      newVecs
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", sqrt(call_function("array_dot", col("e"), col("e"))))
        .withColumn("cell",
          when(isnan(best.getField("ccos")), lit(-1L)).otherwise(best.getField("cid")))
        .withColumn("ccos", round(best.getField("ccos"), 6))
        .where(col("cell") >= 0))

    // 2. SLIM candidates: new side vs the PROBED union on exact CELL
    // equality — scans pruned to (vec_id, cell), no payload in the
    // candidate join; the snapshot is exactly what the manifest records
    val allPaths = live.map(vecsPath(spark, stateDir, _)) :+
      vecsPath(spark, stateDir, next, Some(claim))
    val slimNew = spark.read.parquet(vecsPath(spark, stateDir, next, Some(claim)))
      .select(col("vec_id"), col("cell"))
    val slimAll = spark.read.parquet(allPaths: _*)
      .select(col("vec_id"), col("cell"))
    val cand = slimNew.as("a")
      .join(slimAll.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("d1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("d2"))
      .dropDuplicates("d1", "d2")

    // 3. verify by key-joined payloads (d14's shape, d22's threshold)
    val pay = spark.read.parquet(allPaths: _*)
      .select(col("vec_id"), col("e"), col("nrm"))
    val p1 = pay.select(col("vec_id").as("d1"), col("e").as("e1"), col("nrm").as("n1"))
    val p2 = pay.select(col("vec_id").as("d2"), col("e").as("e2"), col("nrm").as("n2"))
    val cos = call_function("array_dot", col("e1"), col("e2")) /
      (col("n1") * col("n2"))
    val pairs = cand.join(p1, "d1").join(p2, "d2")
      .where(round(cos, 6) >= threshold)
      .select(col("d1"), col("d2"))

    // materialize once (merge hot-path contract), then delta-CC over the
    // PROBED fold
    GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(pairs)
    val matPairs = spark.read.parquet(pairsPath(spark, stateDir, next, Some(claim)))
    val labels = LabelState.deltaLabels(spark, stateDir, live, matPairs, next)
    GenState.fencedParquet(spark, stateDir, next, "labels", claim)(labels)
    next
  }

  /** The cross pairs two genuinely-concurrent generations never probed:
    * generation `a`'s vecs against `b`'s on exact CELL equality (the
    * assignment is frozen state — the model is never touched), verified
    * by cosine at the `_CONFIG`-pinned threshold. `vecsOf` lets compact
    * pass tombstone-purged projections.
    */
  private def crossPairs(spark: SparkSession, stateDir: String,
      a: Int, b: Int, vecsOf: Int => DataFrame): DataFrame = {
    val threshold = GenState.readConfig(spark, stateDir)
      .getOrElse("threshold", Similarity.semDedupThreshold.toString).toDouble
    val cand = vecsOf(a).select(col("vec_id"), col("cell")).as("a")
      .join(vecsOf(b).select(col("vec_id"), col("cell")).as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("d1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("d2"))
      .dropDuplicates("d1", "d2")
    val pay = vecsOf(a).unionByName(vecsOf(b))
      .select(col("vec_id"), col("e"), col("nrm"))
    val p1 = pay.select(col("vec_id").as("d1"), col("e").as("e1"), col("nrm").as("n1"))
    val p2 = pay.select(col("vec_id").as("d2"), col("e").as("e2"), col("nrm").as("n2"))
    val cos = call_function("array_dot", col("e1"), col("e2")) /
      (col("n1") * col("n2"))
    cand.join(p1, "d1").join(p2, "d2")
      .where(round(cos, 6) >= threshold)
      .select(col("d1"), col("d2"))
  }

  /** [[LabelState.reconInputs]] over this family's cross-pair recompute. */
  private def reconInputs(spark: SparkSession, stateDir: String,
      live: Seq[Int], vecsOf: Int => DataFrame)
      : Option[(DataFrame, DataFrame)] =
    LabelState.reconInputs(spark, stateDir, live, pairsPath(spark, stateDir, _),
      (a, b) => crossPairs(spark, stateDir, a, b, vecsOf))

  /** d34: TOMBSTONE a set of vectors — [[IncrementalDedup.delete]]'s d29
    * protocol on the SemDeDup modality (same shadowing, same
    * affected-component re-labeling over surviving stored edges; the
    * keeper re-derives naturally because only labeled — hence surviving —
    * members enter the least-prototypical window).
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalSemantic.delete: no state at $stateDir")
    live.foreach(v => require(GenState.tableExists(spark, stateDir, v, "pairs"),
      s"IncrementalSemantic.delete: generation v$v at $stateDir has no pairs " +
        "table (pre-retention layout) — rebuild the state dir first"))
    // fresh allocation (multi-writer, round 17): empty vecs ⇒ nothing to
    // reconcile, so mark everything live as probed — listed AFTER the
    // claim so a sibling merge committing just before it is not omitted
    val (next, claim) = GenState.claimFresh(spark, stateDir)
    val liveNow = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, liveNow :+ next, claim)
    // tombstones + empty peers are mutually independent — written
    // concurrently (guide §2.6 via [[GenState.inParallel]]); the labels
    // commit stays strictly after, preserving the crash contract
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim)(
        ids.select(col("vec_id").cast("long").as("node")).dropDuplicates("node")),
      () => GenState.fencedParquet(spark, stateDir, next, "vecs", claim)(
        spark.read.parquet(vecsPath(spark, stateDir, live.head)).limit(0)),
      () => GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
        spark.read.parquet(pairsPath(spark, stateDir, live.head)).limit(0))))
    GenState.fencedParquet(spark, stateDir, next, "labels", claim)(
      LabelState.emptyDelta(spark))
    next
  }

  /** LSM maintenance: fold vecs, retain pairs, snapshot labels,
    * manifest-then-commit — with tombstones applied PHYSICALLY (the d29
    * purge protocol; a pre-retention fold skips the pairs write).
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      // tombstones applied PHYSICALLY at the fold, per-GENERATION
      // ([[LabelState.purgeByGen]]): pre-delete vecs/pairs leave disk even
      // for re-ingested ids; the labels snapshot is the corrected labeling,
      // no tombstones carried. Tombstone-free state keeps the one-scan fold.
      val hasTombs = LabelState.tombstoneVersions(spark, stateDir, versions).nonEmpty
      def tombs = LabelState.tombstonesByGen(spark, stateDir, versions)
      def purgedVecs(v: Int): DataFrame =
        if (!hasTombs) spark.read.parquet(vecsPath(spark, stateDir, v))
        else LabelState.purgeByGen(tombs,
          Seq((v, spark.read.parquet(vecsPath(spark, stateDir, v)))), Seq("vec_id"))
      GenState.writeProbed(spark, stateDir, next, Seq(next), claim)
      GenState.fencedParquet(spark, stateDir, next, "vecs", claim)(
        if (!hasTombs) spark.read.parquet(versions.map(vecsPath(spark, stateDir, _)): _*)
        else LabelState.purgeByGen(tombs,
          versions.map(v => (v, spark.read.parquet(vecsPath(spark, stateDir, v)))),
          Seq("vec_id")))
      // outstanding concurrent-commit reconciliation becomes DURABLE here
      // (recon cross pairs from PURGED vecs — deleted ids never resurface)
      val recon = reconInputs(spark, stateDir, versions, purgedVecs)
      val pairVs = versions.filter(v => GenState.tableExists(spark, stateDir, v, "pairs"))
      require(recon.isEmpty || pairVs == versions,
        s"IncrementalSemantic.compact: concurrent commits at $stateDir need every " +
          "generation's pairs table to reconcile — pre-retention layout found")
      if (pairVs == versions) {
        val stored =
          (if (!hasTombs)
             spark.read.parquet(pairVs.map(pairsPath(spark, stateDir, _)): _*)
               .select(col("d1").cast("long"), col("d2").cast("long"))
           else LabelState.purgePairsByGen(tombs,
             LabelState.effectiveTombstones(spark, stateDir, versions, "vecs", "vec_id"),
             pairVs.map(v => (v, spark.read.parquet(pairsPath(spark, stateDir, v))
               .select(col("d1").cast("long"), col("d2").cast("long")))),
             Seq("d1", "d2")))
        GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
          recon.map(_._1).fold(stored)(r => stored.unionByName(
              r.select(col("d1").cast("long"), col("d2").cast("long"))))
            .dropDuplicates("d1", "d2"))
      }
      LabelState.deletedAwareLabels(spark, stateDir, versions, "vecs", "vec_id",
          recon.map(_._1), recon.map(_._2))
        .withColumn("gen", lit(next))
    }

  /** The d22-shaped cluster table from the current state: labels from the
    * latest-wins fold, cell/ccos from the persisted assignments (the
    * model is never consulted at read time), keeper = min (rounded ccos,
    * vec_id) per cluster.
    */
  def clusters(spark: SparkSession, stateDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val versions = completeVersions(spark, stateDir)
    // `_PROBED` reconciliation for histories with genuinely-concurrent
    // commits (multi-writer, round 17); sequential histories pay nothing
    val recon = reconInputs(spark, stateDir, versions,
      v => spark.read.parquet(vecsPath(spark, stateDir, v)))
    val labels = LabelState.deletedAwareLabels(spark, stateDir, versions,
        "vecs", "vec_id", recon.map(_._1), recon.map(_._2))
      .select(col("node").as("vec_id"), col("label").as("cluster_id"))
    val asg = spark.read.parquet(versions.map(vecsPath(spark, stateDir, _)): _*)
      .select(col("vec_id"), col("cell"), col("ccos"))
      // at-least-once re-delivery can duplicate a vector across
      // generations; assignment is a pure function of the frozen model,
      // so duplicates are identical rows
      .dropDuplicates("vec_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("ccos"), col("vec_id"))
    labels.join(asg, "vec_id")
      .withColumn("is_keeper", (row_number().over(w) === 1).cast("int"))
      .select(col("vec_id"), col("cell"), col("cluster_id"), col("is_keeper"))
      .orderBy(col("vec_id"))
  }
}
