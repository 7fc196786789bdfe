package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-call right-to-be-forgotten facade over every [[TombstoneFamily]].
  * Every family shares the same semantics — write a tombstone generation,
  * shadow at read, purge at compact, revive on re-ingest — but each has
  * its own entry point and id column; this dispatcher normalizes both, so
  * a GDPR sweep over a multi-modality corpus is ONE loop over (stateDir,
  * modality) pairs.
  *
  * `ids` must be a single-column DataFrame; the column is renamed to
  * whatever the target modality stores (doc_id / vec_id / name), so the
  * same frame drives text, embedding, and media deletes in one sweep.
  */
object Deletes {

  /** modality name → its family. The image, audio and video modalities
    * ride the codec-parametric media chassis: the delete/compact path is
    * codec-agnostic, so the alias is the contract.
    */
  val modalities: Map[String, TombstoneFamily] = Map(
      "exact" -> IncrementalExact,
      "cluster" -> IncrementalDedup,
      "minhash" -> IncrementalMinHash,
      "substring" -> IncrementalSubstring,
      "embedding" -> IncrementalEmbedding,
      "semantic" -> IncrementalSemantic,
      "ivf" -> IncrementalIvf,
      "ivfpq" -> IncrementalIvfPq,
      "rotmedia" -> IncrementalRotMedia,
      "dsir" -> IncrementalDsir,
      "classifier" -> IncrementalClassifier,
      "card" -> IncrementalCard,
      "topk" -> IncrementalTopK) ++
    Seq("media", "audio", "video", "png", "jpeg", "tiff").map(_ -> IncrementalMedia)

  /** Tombstone `ids` in the state dir of one `modality`. Returns the new
    * tombstone generation. Unknown modalities fail fast with the known
    * set (a sweep that silently skipped a store would defeat the point).
    */
  def tombstone(spark: SparkSession, stateDir: String, modality: String,
      ids: DataFrame): Int = {
    val m = modalities.getOrElse(modality,
      throw new IllegalArgumentException(
        s"Deletes.tombstone: unknown modality '$modality' — known: " +
          modalities.keys.toSeq.sorted.mkString(", ")))
    require(ids.columns.length == 1,
      s"Deletes.tombstone: ids must be a single-column frame, got " +
        s"(${ids.columns.mkString(", ")})")
    m.delete(spark, stateDir, ids.toDF(m.idColumn))
  }

  /** The GDPR sweep: tombstone the same ids across every (stateDir,
    * modality) pair, one loop. Returns modality-tagged tombstone
    * generations per state dir. Fails on the FIRST store that cannot
    * serve the delete (e.g. a pre-sidecar legacy dir) — a partial sweep
    * that looked complete would be worse than a loud stop.
    */
  def sweep(spark: SparkSession, stores: Seq[(String, String)],
      ids: DataFrame): Seq[(String, String, Int)] =
    stores.map { case (stateDir, modality) =>
      (stateDir, modality, tombstone(spark, stateDir, modality, ids))
    }

  /** Tombstone AND physically erase: a tombstone alone only shadows —
    * the deleted bytes leave disk when the modality's compact applies
    * tombstones physically AND the folded source generations are swept.
    * Ordinary compacts sweep under the reader-grace horizon (folded
    * sources linger one sweep grace so concurrent snapshots never lose
    * files mid-scan); erasure regulations want the bytes gone NOW, so
    * purge forces a `graceMs = 0` erase — SCOPED to exactly the
    * generations the purge's OWN compact folded (its `_COMPACTED`
    * manifest: the pre-purge lineage that held the deleted rows, plus its
    * shadowed duplicates). The scope matters under concurrent
    * maintenance: the purge's compact releases the `_MAINT` lease before
    * this sweep runs, so a concurrent compact can commit a NEW fold in
    * that window — an unscoped zero-grace sweep would erase that fold's
    * just-folded sources under readers whose listing postdates the purge.
    * The scoped erase touches only dirs that became non-live at (or
    * before) the purge's own fold, so only readers holding a PRE-purge
    * listing can fail — and they must, since every scoped dir holds
    * to-be-erased rows: run purge when no such reader is in flight, or
    * accept that its job fails (it can never see deleted data). Anything
    * else expired is swept under the normal grace. The returned
    * generation is the compacted one, tombstone-free, holding no deleted
    * rows.
    */
  def purge(spark: SparkSession, stateDir: String, modality: String,
      ids: DataFrame): Int = {
    tombstone(spark, stateDir, modality, ids)
    val m = modalities(modality)
    val gen = m.compact(spark, stateDir)
    purgeErase(spark, stateDir, m.commitTable, gen)
    gen
  }

  /** [[purge]]'s forced final erase: zero-grace deletion of exactly the
    * generations that held the now-deleted rows — `gen`'s `_COMPACTED`
    * lineage (its folded sources, their transitive history, and the
    * manifest-listed duplicate-key shadows) PLUS any overlap-shadowed
    * double-fold twins (a lost-race compact's copy duplicates the
    * lineage's content, purged rows included, but is recorded in no
    * manifest — only the read-side overlap walk knows it; its readers
    * necessarily hold pre-purge listings, so the zero grace is exactly
    * as safe there as on the lineage). Then a NORMAL-grace sweep for
    * anything else expired. A generation made non-live by a concurrent
    * fold that committed after `gen` is outside both sets and keeps its
    * reader grace — the window this scoping exists for.
    */
  def purgeErase(spark: SparkSession, stateDir: String, commitTable: String,
      gen: Int): Unit = {
    val scope = GenState.readManifest(
      GenState.fs(spark, stateDir), stateDir, gen).toSet ++
      GenState.overlapShadowedVersions(spark, stateDir, commitTable)
    GenState.deleteVersions(spark, stateDir,
      GenState.abandonedVersions(spark, stateDir, commitTable, except = gen,
        graceMs = 0L).filter(scope))
    GenState.sweepLeftovers(spark, stateDir, commitTable, except = gen)
  }

  /** [[sweep]] with physical erasure: one loop tombstones AND compacts
    * every store — the full right-to-be-forgotten pass over a
    * multi-modality corpus.
    */
  def purgeSweep(spark: SparkSession, stores: Seq[(String, String)],
      ids: DataFrame): Seq[(String, String, Int)] =
    stores.map { case (stateDir, modality) =>
      (stateDir, modality, purge(spark, stateDir, modality, ids))
    }
}
