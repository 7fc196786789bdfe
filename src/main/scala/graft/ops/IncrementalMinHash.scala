package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d15: incremental MinHash-LSH dedup-state merge — the Jaccard-threshold
  * twin of [[IncrementalDedup]] (d12 covers the SimHash modality, d14 the
  * embedding one; this closes the last dedup family without an
  * incremental path). Persisted state per generation:
  *
  *   - `vN/bands`: batch N's SLIM LSH band rows (doc_id, band, bh) — the
  *     same [[Dedup.bandRowsOf]] construction the one-shot d3 join uses.
  *   - `vN/sets`: batch N's distinct-shingle sets (doc_id, sh) — the
  *     verification payload, persisted so old TEXT is never re-read and
  *     old docs never re-shingled.
  *   - `vN/pairs`: the NEW-involving verified pairs of the merge.
  *   - `vN/labels`: batch N's label DELTA ([[LabelState]] — the current
  *     labeling is the latest-wins fold); its `_SUCCESS` commits the
  *     generation.
  *
  * A merge shingles and signs ONLY the new batch, finds candidates by
  * exact (band, band-hash) equality of the new rows against the union of
  * persisted band generations (band equality is a deterministic function
  * of the document and symmetric, so probing just the new side yields
  * every new-new and new-old candidate and by construction never an
  * old-old one), verifies with the same rounded exact-Jaccard threshold
  * d3 uses — shingle sets joined back BY KEY only for surviving candidate
  * pairs — and runs seeded CC with the previous labeling as star edges.
  * The pair graph after n ingests is therefore identical to the one-shot
  * d3 graph over the union, and min-label CC is associative over
  * components, so the incremental clustering is hash-identical to a full
  * recompute for ANY batch split (the oracle replays d3 + reachability).
  *
  * Scale shape: per-ingest write volume is O(|batch|); the candidate join
  * carries 3 slim columns; shingle payloads cross the wire once per
  * corpus row (hash-partitioned key join), not once per candidate; CC
  * work scales with the new edge set (old components arrive as
  * pre-contracted stars). Read amplification over generations is handled
  * the LSM way — [[compact]] folds live generations back to one.
  *
  * MULTI-WRITER (round 17 — the media `_PROBED` pattern carried to the
  * flagship text family): generations come from
  * [[GenState.allocateFresh]] — never stolen, so N parallel ingest jobs
  * serialize into N fresh generations with the standard keyed
  * exactly-once ledger — and every merge records WHICH generations it
  * probed (and whose label fold its delta saw) in a `_PROBED` manifest.
  * Two genuinely concurrent merges can lose exactly two things: the
  * cross pairs between their batches (neither probed the other's bands)
  * and label-fold consistency (each delta was computed blind to the
  * sibling, so latest-wins can split a shared old component). Reads
  * repair BOTH from the frozen per-generation state: [[clusters]]
  * recomputes the missing cross pairs from the two band/set tables at
  * the pinned threshold and re-labels the affected components through
  * [[LabelState.deletedAwareLabels]]'s splice (extra edges = the recon
  * pairs; affected scope = every endpoint the concurrent generations'
  * stored pairs or the recon pairs touch — the stored-endpoint half
  * catches the shared-old-component fold split even when no cross pair
  * exists). Sequential histories reconcile nothing; [[compact]] makes
  * any outstanding reconciliation durable. The concurrent-commit
  * scenarios are pinned in MinHashMultiWriterSpec.
  */
object IncrementalMinHash extends TombstoneFamily {

  val commitTable = "labels"
  val idColumn = "doc_id"

  // resolved through [[GenState.tablePath]]: publish-mode-agnostic reads;
  // `tok` is the claim token for pre-commit reads of an OWN in-flight
  // generation under PointerPublish
  private def bandsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "bands", tok)
  private def setsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "sets", tok)
  private def pairsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "pairs", tok)

  /** Slim candidate pairs of one merge: the new batch's band rows against
    * the full persisted index on exact (band, bh) equality — both
    * orientations of a new-old pair admitted, then normalized and
    * deduplicated. Lazy — [[merge]] executes it; the plan spec inspects
    * that no shingle payload enters this subtree.
    */
  private[graft] def candidatePairs(newBands: DataFrame, fullIndex: DataFrame): DataFrame =
    newBands.as("a")
      .join(fullIndex.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .dropDuplicates("d1", "d2")

  /** d3's exact rounded-Jaccard verification of slim candidates: shingle
    * sets joined back BY KEY only for surviving pairs.
    */
  private def verifyPairs(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val jac = inter / (size(col("sh1")) + size(col("sh2")) - inter)
    cand
      .join(sets.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .where(round(jac, 6) >= threshold)
      .select(col("d1"), col("d2"))
  }

  /** The verification threshold every merge pinned (read from `_CONFIG` —
    * reconciliation must verify at the SAME regime, never a caller's).
    */
  private def pinnedThreshold(spark: SparkSession, stateDir: String): Double =
    GenState.readConfig(spark, stateDir).getOrElse("threshold", "0.8").toDouble

  /** Ingest `newDocs` (a (doc_id, text, …) projection whose doc_ids are
    * disjoint from prior ingests); returns the new generation number. The
    * first call is the initial build — same path, empty index, no seeds.
    * Multi-writer: fresh allocation, `_PROBED` manifest, and the keyed
    * exactly-once ledger (`batchKey` — a re-delivered key is a no-op; the
    * pair-dedup safety net for unkeyed re-delivery stays). Every table
    * lands through the write fence ([[GenState.fencedParquet]]).
    */
  def merge(spark: SparkSession, stateDir: String, newDocs: DataFrame,
      threshold: Double = 0.8, batchKey: Option[String] = None): Int = {
    // pin the verification regime across ingests (see GenState.checkConfig)
    GenState.checkConfig(spark, stateDir, Map("threshold" -> threshold.toString))
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey) match {
      case Left(v) => return v // re-delivered batch key: no-op
      case Right(nc) => nc
    }
    // the probe snapshot: every generation complete AFTER the claim — both
    // the candidate index and the label fold below see exactly this set,
    // and the manifest records it so reads reconcile a concurrent sibling
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim)

    // 1. shingle + sign the new batch ONCE; the generation dirs double as
    // the materialized copies every downstream join reads (no recompute
    // of the signature job across consumers). Bands and sets land before
    // labels — a crash leaves an uncommitted generation the next compact
    // sweeps once its lease ages out. NO repartition barrier (round 20):
    // the sets write is the frame's only consumer (bands derive from the
    // written parquet, column-pruned to (doc_id, sh) so the sig expr is
    // dropped), and the barrier shuffled the HEAVY shingle-set payload —
    // the one column §2.3 says to never move without need; removing it
    // deletes that Exchange outright and write parallelism follows the
    // batch scan.
    val sigs = Dedup.minhashSigsOf(newDocs)
    GenState.fencedParquet(spark, stateDir, next, "sets", claim)(
      sigs.select(col("doc_id"), col("sh")))
    GenState.fencedParquet(spark, stateDir, next, "bands", claim)(
      Dedup.bandRowsOf(
        spark.read.parquet(setsPath(spark, stateDir, next, Some(claim)))
          .withColumn("sig", call_function("minhash_sig", col("sh")))))

    // 2. candidates: new band rows vs the UNION of the probed generations'
    // bands plus the new one — old docs touched ONLY through their
    // persisted 3-column band index
    val allBands = spark.read.parquet(
      (live.map(bandsPath(spark, stateDir, _)) :+
        bandsPath(spark, stateDir, next, Some(claim))): _*)
    val newBands = spark.read.parquet(bandsPath(spark, stateDir, next, Some(claim)))
    val cand = candidatePairs(newBands, allBands)

    // 3. verify surviving candidates with d3's exact rounded Jaccard —
    // shingle sets joined back by key from the persisted set generations
    val sets = spark.read.parquet(
      (live.map(setsPath(spark, stateDir, _)) :+
        setsPath(spark, stateDir, next, Some(claim))): _*)
    // materialize the candidate+verify join ONCE to the generation dir
    // (crash-abandoned with the rest of vN); emptiness probe and CC read
    // the slim parquet back instead of re-executing the join (see
    // IncrementalEmbedding — the shared merge hot-path contract).
    GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
      verifyPairs(cand, sets, threshold))
    val matPairs = spark.read.parquet(pairsPath(spark, stateDir, next, Some(claim)))

    // 4. affected-component-scoped seeded CC over the PROBED fold → this
    // batch's label DELTA (empty for a pair-free batch — the common
    // streaming case; see [[LabelState]] for the fold/delta contract)
    val labels = LabelState.deltaLabels(spark, stateDir, live, matPairs, next)

    // 5. commit: labels' _SUCCESS marks the generation complete (fenced —
    // the commit is an atomic directory publish)
    GenState.fencedParquet(spark, stateDir, next, "labels", claim)(labels)
    next
  }

  /** The cross pairs two genuinely-concurrent generations never probed:
    * generation `a`'s band rows against `b`'s (doc sets are disjoint, so
    * this is exactly the missing cross candidate set), verified from the
    * two frozen shingle tables at the PINNED threshold. `bandsOf`/`setsOf`
    * let compact pass tombstone-purged projections so deleted docs never
    * resurface through reconciliation.
    */
  private def crossPairs(spark: SparkSession, stateDir: String,
      a: Int, b: Int, bandsOf: Int => DataFrame,
      setsOf: Int => DataFrame): DataFrame =
    verifyPairs(
      candidatePairs(bandsOf(a), bandsOf(b)),
      setsOf(a).unionByName(setsOf(b)),
      pinnedThreshold(spark, stateDir))

  /** [[LabelState.reconInputs]] over this family's cross-pair recompute. */
  private def reconInputs(spark: SparkSession, stateDir: String,
      live: Seq[Int], bandsOf: Int => DataFrame, setsOf: Int => DataFrame)
      : Option[(DataFrame, DataFrame)] =
    LabelState.reconInputs(spark, stateDir, live, pairsPath(spark, stateDir, _),
      (a, b) => crossPairs(spark, stateDir, a, b, bandsOf, setsOf))

  /** LSM maintenance, [[IncrementalDedup.compact]]'s shape with TWO index
    * tables: fold every live generation's bands and sets into one new
    * generation under [[GenState.fold]]'s commit protocol. Makes any
    * outstanding concurrent-commit reconciliation DURABLE: the folded
    * pair table includes the recon cross pairs (computed from PURGED
    * bands/sets so deleted docs never resurface), the labels snapshot is
    * the fully-reconciled labeling, and the compacted generation's
    * `_PROBED` is itself — one generation, nothing left to reconcile.
    * Returns the new generation.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      // tombstones applied PHYSICALLY at the fold, per-GENERATION
      // ([[LabelState.purgeByGen]]): pre-delete rows leave disk even for
      // re-ingested ids — the d29 purge protocol without the re-ingest
      // retention hole. Tombstone-free state keeps the multi-path scans.
      val hasTombs = LabelState.tombstoneVersions(spark, stateDir, versions).nonEmpty
      def tombs = LabelState.tombstonesByGen(spark, stateDir, versions)
      def purged(path: Int => String, v: Int): DataFrame =
        if (!hasTombs) spark.read.parquet(path(v))
        else LabelState.purgeByGen(tombs,
          Seq((v, spark.read.parquet(path(v)))), Seq("doc_id"))
      def foldTable(path: Int => String): DataFrame =
        if (!hasTombs) spark.read.parquet(versions.map(path): _*)
        else LabelState.purgeByGen(tombs,
          versions.map(v => (v, spark.read.parquet(path(v)))), Seq("doc_id"))
      GenState.writeProbed(spark, stateDir, next, Seq(next), claim)
      GenState.fencedParquet(spark, stateDir, next, "bands", claim)(
        foldTable(bandsPath(spark, stateDir, _)))
      GenState.fencedParquet(spark, stateDir, next, "sets", claim)(
        foldTable(setsPath(spark, stateDir, _)))
      val recon = reconInputs(spark, stateDir, versions,
        purged(bandsPath(spark, stateDir, _), _), purged(setsPath(spark, stateDir, _), _))
      val pairVs = versions.filter(v => GenState.tableExists(spark, stateDir, v, "pairs"))
      require(recon.isEmpty || pairVs == versions,
        s"IncrementalMinHash.compact: concurrent commits at $stateDir need every " +
          "generation's pairs table to reconcile — pre-retention layout found")
      if (pairVs == versions) {
        val stored =
          (if (!hasTombs)
             spark.read.parquet(pairVs.map(pairsPath(spark, stateDir, _)): _*)
               .select(col("d1").cast("long"), col("d2").cast("long"))
           else LabelState.purgePairsByGen(tombs,
             LabelState.effectiveTombstones(spark, stateDir, versions, "sets", "doc_id"),
             pairVs.map(v => (v, spark.read.parquet(pairsPath(spark, stateDir, v))
               .select(col("d1").cast("long"), col("d2").cast("long")))),
             Seq("d1", "d2")))
        GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
          recon.map(_._1).fold(stored)(r => stored.unionByName(
              r.select(col("d1").cast("long"), col("d2").cast("long"))))
            .dropDuplicates("d1", "d2"))
      }
      LabelState.deletedAwareLabels(spark, stateDir, versions, "sets", "doc_id",
          recon.map(_._1), recon.map(_._2))
        .withColumn("gen", lit(next))
    }

  /** The d7-shaped cluster table from the current state: the latest-wins
    * fold over the live label deltas with tombstones applied — PLUS, for
    * a history holding genuinely-concurrent commits, the `_PROBED`
    * reconciliation (recomputed cross pairs + affected-component
    * re-labeling; see the object doc). Sequential histories pay nothing.
    */
  def clusters(spark: SparkSession, stateDir: String): DataFrame = {
    val live = completeVersions(spark, stateDir)
    val recon = reconInputs(spark, stateDir, live,
      v => spark.read.parquet(bandsPath(spark, stateDir, v)),
      v => spark.read.parquet(setsPath(spark, stateDir, v)))
    Dedup.clustersOf(
      LabelState.deletedAwareLabels(spark, stateDir, live, "sets", "doc_id",
        recon.map(_._1), recon.map(_._2)))
  }

  /** d31: TOMBSTONE a set of documents — [[IncrementalDedup.delete]]'s
    * d29 protocol on the Jaccard modality (same shadowing semantics, same
    * affected-component re-labeling, same physical purge at [[compact]]).
    * Fresh allocation like merge: a tombstone generation's content is
    * independent of live state, so concurrent deletes/merges serialize by
    * generation number (the logical clock shadowing already orders by).
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val pre = completeVersions(spark, stateDir)
    require(pre.nonEmpty, s"IncrementalMinHash.delete: no state at $stateDir")
    pre.foreach(v => require(
      GenState.tableExists(spark, stateDir, v, "pairs"),
      s"IncrementalMinHash.delete: generation v$v at $stateDir has no pairs " +
        "table (pre-retention layout) — rebuild the state dir first"))
    val (next, claim) = GenState.claimFresh(spark, stateDir)
    // empty bands ⇒ nothing to reconcile: mark everything live as probed —
    // listed AFTER the claim so a sibling merge committing just before the
    // claim is not omitted from the manifest
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim)
    // tombstones + empty peers are mutually independent — written
    // concurrently (guide §2.6 via [[GenState.inParallel]]); the labels
    // commit stays strictly after, preserving the crash contract
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim)(
        ids.select(col("doc_id").cast("long").as("node")).dropDuplicates("node")),
      () => GenState.fencedParquet(spark, stateDir, next, "sets", claim)(
        spark.read.parquet(setsPath(spark, stateDir, live.head)).limit(0)),
      () => GenState.fencedParquet(spark, stateDir, next, "bands", claim)(
        spark.read.parquet(bandsPath(spark, stateDir, live.head)).limit(0)),
      () => GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
        spark.read.parquet(pairsPath(spark, stateDir, live.head)).limit(0))))
    GenState.fencedParquet(spark, stateDir, next, "labels", claim)(
      LabelState.emptyDelta(spark))
    next
  }
}
