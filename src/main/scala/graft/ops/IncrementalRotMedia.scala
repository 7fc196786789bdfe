package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d24: incremental ROTATION/MIRROR-robust media dedup — m6 under the
  * generational state protocol, completing the media column of the dedup
  * matrix (m3 exact / m5 dHash / m6 orbit, each with one-shot +
  * incremental + streaming surfaces).
  *
  * State per generation (d21 skeleton, commit on `pairs`):
  *
  *   - `vN/sigs`: batch N's dihedral-ORBIT signatures — (name, t, sig),
  *     8 rows per decodable asset, t = 0 the identity. Each asset is
  *     decoded and its orbit hashed exactly once, at its own ingest;
  *     blobs never enter the state.
  *   - `vN/pairs`: the merge's new-involving verified pairs at the m6
  *     orbit distance.
  *
  * Completeness of per-merge pair discovery: every direction-combo of the
  * orbit distance d(A,B) involves BOTH assets' rows (one side's identity
  * signature, the other's orbit), so all combos for a pair are computable
  * at the NEWER member's merge — the per-pair min taken there equals the
  * one-shot m6 min, and no pair is ever re-found at a later merge (only
  * new-involving combos run). Hence union-of-pair-generations == m6's
  * one-shot table for ANY batch split — the shared golden oracle.
  *
  * Scale shape: per-ingest cost is one decode+orbit-hash pass over the
  * batch plus an equi-join of the batch's blocks against the persisted
  * block index — the d21 geometry at a fixed 8× signature-row factor,
  * still corpus-independent fan-out, still blob-free state.
  *
  * MULTI-WRITER (round 16): same protocol as [[IncrementalMedia]] —
  * fresh allocation, `_PROBED` manifests, cross-pair reconciliation at
  * read/compact for genuinely-concurrent commits (pinned in
  * MediaMultiWriterSpec's orbit scenario).
  */
object IncrementalRotMedia extends TombstoneFamily {

  val commitTable = "pairs"
  val idColumn = "name"

  // resolved through [[GenState.tablePath]]: publish-mode-agnostic reads;
  // `tok` is the claim token for pre-commit reads of an OWN in-flight
  // generation under PointerPublish (pointer resolution wins for complete
  // generations, so passing the token on a mixed-version read is safe)
  private def sigsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "sigs", tok)
  private def pairsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "pairs", tok)

  /** The 4×16-bit exact-block index over (name, sig) rows (d17 geometry). */
  private def blocksOf(sigs: DataFrame): DataFrame =
    sigs.select(col("name"), col("sig"),
      explode(array((0 until 4).map(b => struct(lit(b).as("bno"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("bv"))): _*))
        .as("blk"))
      .select(col("name"), col("sig"), col("blk.bno").as("bno"), col("blk.bv").as("bv"))

  /** New-involving orbit-distance pairs of one merge: the batch's
    * identity signatures probe the full orbit union, and the full
    * union's identity signatures probe the batch's orbit — together all
    * direction-combos involving a new asset. Per-pair min BEFORE the
    * threshold, exactly as in [[Multimodal.ppmRotNearDup]].
    */
  private[graft] def mergePairs(newSigs: DataFrame, allSigs: DataFrame,
      maxHamming: Int): DataFrame = {
    def combos(probe: DataFrame, index: DataFrame): DataFrame =
      blocksOf(probe).as("a")
        .join(blocksOf(index).as("b"),
          col("a.bno") === col("b.bno") && col("a.bv") === col("b.bv") &&
            col("a.name") =!= col("b.name"))
        .select(
          least(col("a.name"), col("b.name")).as("name1"),
          greatest(col("a.name"), col("b.name")).as("name2"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int").as("h"))
    combos(newSigs.where(col("t") === 0), allSigs)
      .union(combos(allSigs.where(col("t") === 0), newSigs))
      .groupBy(col("name1"), col("name2"))
      .agg(min(col("h")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Ingest one media batch — (name, content) raw asset bytes, names
    * disjoint from prior ingests: decode + orbit-hash once, probe the
    * persisted union, append one generation. Undecodable assets are
    * dropped whole (the m4 reject rule).
    *
    * MULTI-WRITER like [[IncrementalMedia.merge]] (round 16): fresh
    * allocation + a `_PROBED` manifest; [[pairs]]/[[compact]] reconcile
    * the cross pairs of genuinely-concurrent commits. Completeness holds
    * for the reconciled pairs too: [[mergePairs]] over the two frozen
    * orbit tables computes BOTH direction-combos of every cross pair, so
    * the per-pair min equals the one-shot m6 min.
    */
  def merge(spark: SparkSession, stateDir: String, newMedia: DataFrame,
      maxHamming: Int = 3, batchKey: Option[String] = None): Int = {
    import spark.implicits._
    GenState.checkConfig(spark, stateDir, Map("maxHamming" -> maxHamming.toString))
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, commitTable) match {
      case Left(v) => return v // re-delivered batch key: no-op
      case Right(nc) => nc
    }
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim, commitTable)

    GenState.fencedParquet(spark, stateDir, next, "sigs", claim, commitTable)(
      newMedia.select(col("name"), col("content"))
        .as[(String, Array[Byte])]
        .mapPartitions(_.flatMap { case (name, bytes) =>
          Multimodal.decodePpm(bytes).toSeq.flatMap(img =>
            Multimodal.dihedralOrbit(img).zipWithIndex.map { case (v, t) =>
              (name, t, Multimodal.dHash64(v)) })
        })
        .toDF("name", "t", "sig"))

    val allPaths = live.map(sigsPath(spark, stateDir, _)) :+
      sigsPath(spark, stateDir, next, Some(claim))
    // the COMMIT write lands through the fence: a writer stalled past the
    // TTL whose in-flight dir a concurrent sweep reclaimed aborts here,
    // never landing a torn complete generation (pairs with no sigs)
    GenState.fencedParquet(spark, stateDir, next, "pairs", claim, commitTable)(
      mergePairs(
        spark.read.parquet(sigsPath(spark, stateDir, next, Some(claim))),
        spark.read.parquet(allPaths: _*), maxHamming))
    next
  }

  /** Tombstoned names still in effect — s9 shadowing over the STRING-keyed
    * orbit-sig index (a name re-ingested after its tombstone is live
    * again). The shadowing rule itself lives once in
    * [[LabelState.effectiveTombstonesFrom]]; only this modality's
    * 8-rows-per-asset sig projection is local.
    */
  private def effectiveTombstones(spark: SparkSession, stateDir: String,
      versions: Seq[Int]): DataFrame = {
    import spark.implicits._
    val delVs = LabelState.tombstoneVersions(spark, stateDir, versions)
    if (delVs.isEmpty) return Seq.empty[String].toDF("node")
    LabelState.effectiveTombstonesFrom(spark, stateDir, versions, delVs,
      v => spark.read.parquet(sigsPath(spark, stateDir, v))
        .select(col("name").as("node")))
  }

  /** d35: TOMBSTONE a set of media names — the d33 protocol on the orbit
    * modality (pairs are per-item facts, so shadowing is a plain
    * anti-join); [[compact]] purges sigs and pairs physically.
    */
  def delete(spark: SparkSession, stateDir: String, names: DataFrame): Int = {
    require(completeVersions(spark, stateDir).nonEmpty,
      s"IncrementalRotMedia.delete: no state at $stateDir")
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    // empty sigs ⇒ nothing to reconcile: mark everything live as probed —
    // listed AFTER the claim (as merge does) so a sibling merge committing
    // just before the claim is not omitted from the manifest
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim, commitTable)
    // tombstones + empty sigs are independent — written concurrently
    // (guide §2.6 via [[GenState.inParallel]]); the pairs commit stays
    // strictly after, preserving the crash contract
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim,
        commitTable)(names.select(col("name").as("node")).dropDuplicates("node")),
      () => GenState.fencedParquet(spark, stateDir, next, "sigs", claim,
        commitTable)(
        spark.read.parquet(sigsPath(spark, stateDir, live.head)).limit(0))))
    // the COMMIT write lands through the fence (see merge)
    GenState.fencedParquet(spark, stateDir, next, "pairs", claim, commitTable)(
      spark.read.parquet(pairsPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** The m6-shaped pair table over the current state, minus every
    * tombstoned-incident pair (d35 shadowing; delete-derived frame
    * unhinted — AQE broadcasts a small tombstone set, shuffle-joins a
    * bulk delete). A pair's full direction-combo set resolves at one
    * merge, so the union needs only re-delivery dedup — taking the MIN
    * across duplicates (identical values) keeps it robust either way.
    */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalRotMedia.pairs: no state at $stateDir")
    val maxHamming = IncrementalMedia.pinnedMaxHamming(spark, stateDir)
    // blind pairs only — a spliceOnly maintenance race's cross edges are
    // already stored, and this family has no label state to splice
    val recon = GenState.classifyUnreconciled(spark, stateDir, live)._1
      .map { case (a, b) =>
        val sa = spark.read.parquet(sigsPath(spark, stateDir, a))
        mergePairs(sa, sa.unionByName(spark.read.parquet(sigsPath(spark, stateDir, b))),
          maxHamming)
      }
    val teff = effectiveTombstones(spark, stateDir, live)
    val stored = spark.read.parquet(live.map(pairsPath(spark, stateDir, _)): _*)
    val base = (stored +: recon).reduce(_ unionByName _)
    base
      .join(teff.select(col("node").as("name1")), Seq("name1"), "left_anti")
      .join(teff.select(col("node").as("name2")), Seq("name2"), "left_anti")
      .select(base.columns.map(col).toSeq: _*) // USING-joins reorder columns
      .groupBy(col("name1"), col("name2"))
      .agg(min(col("hamming")).as("hamming"))
      .orderBy(col("name1"), col("name2"))
  }

  /** Fold both tables of every live generation (GenState manifest
    * protocol, crash-idempotent; rows are immutable facts). Tombstones
    * are applied PHYSICALLY, per-GENERATION ([[LabelState.purgeByGen]],
    * string-keyed): pre-delete sigs/pairs leave disk even for re-ingested
    * names — a delete-then-re-ingest must not retain its pre-delete orbit
    * rows through maintenance.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      val hasTombs = versions.exists(v =>
        GenState.tableExists(spark, stateDir, v, "tombstones"))
      def tombs = LabelState.tombstonesByGen(spark, stateDir, versions)
      def purgedSigs(v: Int): DataFrame =
        if (!hasTombs) spark.read.parquet(sigsPath(spark, stateDir, v))
        else LabelState.purgeByGen(tombs,
          Seq((v, spark.read.parquet(sigsPath(spark, stateDir, v)))), Seq("name"))
      GenState.writeProbed(spark, stateDir, next, Seq(next), claim, commitTable)
      GenState.fencedParquet(spark, stateDir, next, "sigs", claim, commitTable)(
        (if (!hasTombs) spark.read.parquet(versions.map(sigsPath(spark, stateDir, _)): _*)
         else LabelState.purgeByGen(tombs,
           versions.map(v => (v, spark.read.parquet(sigsPath(spark, stateDir, v)))),
           Seq("name")))
          .dropDuplicates("name", "t"))
      // reconciled cross pairs of concurrent commits, from PURGED sigs so
      // deleted names never resurface through reconciliation — durable here
      val maxHamming = IncrementalMedia.pinnedMaxHamming(spark, stateDir)
      // blind pairs only — see [[pairs]]
      val recon = GenState.classifyUnreconciled(spark, stateDir, versions)._1
        .map { case (a, b) =>
          val pa = purgedSigs(a)
          mergePairs(pa, pa.unionByName(purgedSigs(b)), maxHamming)
        }
      val stored =
        (if (!hasTombs) spark.read.parquet(versions.map(pairsPath(spark, stateDir, _)): _*)
         else LabelState.purgePairsByGen(tombs,
           effectiveTombstones(spark, stateDir, versions),
           versions.map(v => (v, spark.read.parquet(pairsPath(spark, stateDir, v)))),
           Seq("name1", "name2")))
      (stored +: recon).reduce(_ unionByName _)
        .groupBy(col("name1"), col("name2"))
        .agg(min(col("hamming")).as("hamming"))
    }
}
