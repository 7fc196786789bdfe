package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d21: incremental PERCEPTUAL media dedup — the media column of the
  * dedup state matrix. m5 finds re-encoded/retouched copies one-shot;
  * this ingests media batches into persisted generational state so a
  * 100 TB asset store never re-decodes old media. State per generation
  * (the d20 two-table skeleton, commit on `pairs`):
  *
  *   - `vN/sigs`: batch N's (name, frame_no, sig) rows — each asset decoded and reduced
  *     to its 64-bit [[Multimodal.dHash64]] exactly once, at its own
  *     ingest; payload blobs never enter the state;
  *   - `vN/pairs`: the NEW-involving verified near-dup pairs of the
  *     merge — batch N's signature blocks probed against the persisted
  *     union with d17's 4×16-bit exact-block pigeonhole (total recall
  *     for Hamming ≤ 3, zero probe fan-out), verified by exact
  *     `bit_count(xor)` AT MERGE TIME (Hamming is a pure function of two
  *     frozen signatures, so no read-time re-verification or retro
  *     filter is ever needed — simpler than d20's cap split).
  *
  * Every pair's newer member captures it (probing new against the union
  * including itself yields every new-new and new-old pair, orientations
  * normalized), so the union of pair generations equals m5's one-shot
  * pair table for ANY batch split — the shared golden oracle gates it.
  * Re-delivery safe: duplicated signatures produce duplicate pairs that
  * [[pairs]] dedups on (name1, name2).
  *
  * Scale shape: per-ingest cost is one decode+hash pass over the batch
  * (blobs stay where they land; only 16-byte (name, sig) rows move) plus
  * an equi-join against a 4-rows-per-asset block index; read
  * amplification is O(live generations), folded by [[compact]].
  *
  * MULTI-WRITER (round 16): unlike the other probe-at-merge families —
  * which keep the single-writer targeted claim — this chassis allocates
  * generations fresh ([[GenState.allocateFresh]]) and reconciles the one
  * thing concurrency can lose (two merges that never probed each other
  * miss their cross pairs) from per-generation `_PROBED` manifests at
  * read and compact time. See [[merge]]/[[pairs]]/[[compact]]; the
  * concurrent-commit scenarios are pinned in MediaMultiWriterSpec.
  */
object IncrementalMedia extends TombstoneFamily {

  val commitTable = "pairs"
  val idColumn = "name"

  /** Pluggable per-asset signature codecs: the chassis (generations,
    * block-index probe, tombstones, compaction) is MODALITY-GENERIC —
    * everything downstream of the signature sees only (name, frame_no,
    * 64-bit sig) rows — so a new perceptual modality is one registry
    * entry. A codec returns the asset's signature ROWS: one for the
    * single-signature modalities (frame_no 0), one per sampled frame for
    * video — the pair distance is the SUM of per-frame Hammings, which
    * collapses to the plain Hamming in the single-row case, so the video
    * axis costs the scalar modalities nothing. The codec is pinned in
    * the state dir's _CONFIG: a state built under one codec refuses
    * merges under another (signatures are not comparable across codecs).
    */
  val codecs: Map[String, Array[Byte] => Seq[(Int, Long)]] = Map(
    "ppm-dhash" -> (bytes =>
      Multimodal.decodePpm(bytes).map(img => (0, Multimodal.dHash64(img))).toSeq),
    "png-dhash" -> (bytes =>
      Png.decodeImage(bytes).map(img => (0, Multimodal.dHash64(img))).toSeq),
    // same registry-dispatched decode as png-dhash; the distinct codec NAME
    // is the _CONFIG pin — JPEG is lossy, so signatures hashed from a JPEG
    // corpus are decoder-rounded and a state dir must not silently mix the
    // regimes a recall audit would need to reason about separately
    "jpeg-dhash" -> (bytes =>
      Png.decodeImage(bytes).map(img => (0, Multimodal.dHash64(img))).toSeq),
    // same registry dispatch once more; TIFF is lossless (baseline
    // uncompressed RGB fixtures), so its signatures share PNG's exactness
    // regime — the distinct name still pins the CONTAINER per state dir
    "tiff-dhash" -> (bytes =>
      Png.decodeImage(bytes).map(img => (0, Multimodal.dHash64(img))).toSeq),
    "wav-denergy" -> (bytes =>
      Audio.decodeWav(bytes).flatMap(pcm => Audio.fingerprint(pcm.mono))
        .map(sig => (0, sig)).toSeq),
    "y4m-framehash" -> (bytes =>
      Video.decodeY4m(bytes).toSeq.flatMap(v =>
        Video.signature(v).zipWithIndex.map { case (sig, j) => (j, sig) })))

  // resolved through [[GenState.tablePath]]: publish-mode-agnostic reads;
  // `tok` is the claim token for pre-commit reads of an OWN in-flight
  // generation under PointerPublish (pointer resolution wins for complete
  // generations, so passing the token on a mixed-version read is safe)
  private def sigsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "sigs", tok)
  private def pairsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "pairs", tok)

  /** The 4×16-bit exact-block index of a signature table (d17 geometry,
    * per signature row — the frame axis rides along).
    */
  private def blocksOf(sigs: DataFrame): DataFrame =
    sigs.select(col("name"), col("frame_no"), col("sig"),
      explode(array((0 until 4).map(b => struct(lit(b).as("bno"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("bv"))): _*))
        .as("blk"))
      .select(col("name"), col("frame_no"), col("sig"),
        col("blk.bno").as("bno"), col("blk.bv").as("bv"))

  /** The new-involving verified pairs of one merge: the batch's blocks
    * against the full persisted union (same sampled frame, same exact
    * block — pigeonhole recall whenever floor(maxHamming / n_frames) ≤ 3,
    * which covers both the scalar maxHamming=3 and the video
    * maxHamming=6 defaults), both orientations admitted then normalized
    * to name1 < name2; new-new pairs arrive twice and dedup away. The
    * verify is the SUM of per-frame bit_counts, re-joined from both
    * members' signature rows. Lazy — [[merge]] executes it.
    */
  private[graft] def candidatePairs(newSigs: DataFrame, allSigs: DataFrame,
      maxHamming: Int): DataFrame = {
    val cands = blocksOf(newSigs).as("a")
      .join(blocksOf(allSigs).as("b"),
        col("a.frame_no") === col("b.frame_no") &&
          col("a.bno") === col("b.bno") && col("a.bv") === col("b.bv") &&
          col("a.name") =!= col("b.name"))
      .select(
        least(col("a.name"), col("b.name")).as("name1"),
        greatest(col("a.name"), col("b.name")).as("name2"))
      .dropDuplicates("name1", "name2")
    cands
      .join(allSigs.select(col("name").as("name1"), col("frame_no"),
        col("sig").as("sig1")), Seq("name1"))
      .join(allSigs.select(col("name").as("name2"), col("frame_no"),
        col("sig").as("sig2")), Seq("name2", "frame_no"))
      .groupBy(col("name1"), col("name2"))
      .agg(sum(bit_count(col("sig1").bitwiseXOR(col("sig2")))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Ingest one media batch — a (name, content) DataFrame of raw asset
    * bytes, names disjoint from prior ingests: decode + dHash the batch
    * once, probe the persisted signature union, append one generation.
    * Undecodable assets are dropped whole (the m4 reject rule).
    *
    * MULTI-WRITER since round 16 (the first probe-at-merge family to
    * shed the single-writer contract): generation numbers come from
    * [[GenState.allocateFresh]] — never stolen, so N parallel ingest jobs
    * serialize into N fresh generations — and the merge records WHICH
    * generations it probed in a `_PROBED` manifest. Two genuinely
    * concurrent merges each miss the sibling batch's cross pairs at
    * commit time; [[pairs]] and [[compact]] detect the gap from the
    * manifests (neither probed the other) and RECONCILE it by probing the
    * two frozen signature tables against each other — a bounded
    * batch×batch block join that sequential histories never pay.
    * `batchKey` rides the standard exactly-once ledger: a re-delivered
    * key is a no-op (the pair-dedup safety net for unkeyed re-delivery
    * stays, as before).
    */
  def merge(spark: SparkSession, stateDir: String, newMedia: DataFrame,
      maxHamming: Int = 3, codec: String = "ppm-dhash",
      batchKey: Option[String] = None): Int = {
    import spark.implicits._
    val sigOf = codecs.getOrElse(codec, throw new IllegalArgumentException(
      s"IncrementalMedia.merge: unknown codec '$codec' — known: ${codecs.keys.toSeq.sorted.mkString(", ")}"))
    GenState.checkConfig(spark, stateDir,
      Map("maxHamming" -> maxHamming.toString, "codec" -> codec))
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, commitTable) match {
      case Left(v) => return v // re-delivered batch key: no-op
      case Right(nc) => nc
    }
    // the probe snapshot: every generation complete AFTER the claim — a
    // sibling committing later is reconciled at read/compact time
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim, commitTable)

    // decode exactly once, at ingest; the generation dir is the
    // materialized copy every later probe reads (merge hot-path contract)
    GenState.fencedParquet(spark, stateDir, next, "sigs", claim, commitTable)(
      newMedia.select(col("name"), col("content"))
        .as[(String, Array[Byte])]
        .mapPartitions(_.flatMap { case (name, bytes) =>
          sigOf(bytes).map { case (j, sig) => (name, j, sig) }
        })
        .toDF("name", "frame_no", "sig"))

    val allPaths = live.map(sigsPath(spark, stateDir, _)) :+
      sigsPath(spark, stateDir, next, Some(claim))
    // the COMMIT write lands through the fence: a writer stalled past the
    // TTL whose in-flight dir a concurrent sweep reclaimed aborts here,
    // never landing a torn complete generation (pairs with no sigs)
    GenState.fencedParquet(spark, stateDir, next, "pairs", claim, commitTable)(
      candidatePairs(
        spark.read.parquet(sigsPath(spark, stateDir, next, Some(claim))),
        spark.read.parquet(allPaths: _*), maxHamming))
    next
  }

  /** Tombstoned names still in effect — s9 shadowing over the STRING-keyed
    * sig index (a name re-ingested after its tombstone is live again).
    */
  private def effectiveTombstones(spark: SparkSession, stateDir: String,
      versions: Seq[Int]): DataFrame = {
    import spark.implicits._
    val delVs = LabelState.tombstoneVersions(spark, stateDir, versions)
    if (delVs.isEmpty) return Seq.empty[String].toDF("node")
    // shared shadowing core (newest tombstone per name, re-ingest probe);
    // only the STRING-keyed sig index projection is this modality's own
    LabelState.effectiveTombstonesFrom(spark, stateDir, versions, delVs,
      v => spark.read.parquet(sigsPath(spark, stateDir, v))
        .select(col("name").as("node")))
  }

  /** d33: TOMBSTONE a set of media names — [[IncrementalDedup.delete]]'s
    * protocol on the perceptual modality (pairs are per-item facts, so
    * shadowing is a plain anti-join — no component re-labeling needed);
    * [[compact]] purges sigs and pairs physically.
    */
  def delete(spark: SparkSession, stateDir: String, names: DataFrame): Int = {
    require(completeVersions(spark, stateDir).nonEmpty,
      s"IncrementalMedia.delete: no state at $stateDir")
    // fresh allocation like merge: a tombstone generation's content is
    // independent of live state, so concurrent deletes/merges serialize by
    // generation number (the logical clock shadowing already orders by)
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    // a tombstone generation has no pairs to reconcile (empty sigs) — mark
    // everything live as probed so reads never schedule a no-op recon job.
    // Listed AFTER the claim (as merge does): a sibling merge committing
    // between a pre-claim listing and the claim would be omitted from the
    // manifest, scheduling a pointless recon against the tombstone's empty
    // sigs on every read until compact
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

  /** The verification threshold every merge pinned (read from `_CONFIG` —
    * reconciliation must verify at the SAME regime, never a caller's).
    */
  private[ops] def pinnedMaxHamming(spark: SparkSession, stateDir: String): Int =
    GenState.readConfig(spark, stateDir).getOrElse("maxHamming", "3").toInt

  /** The m5-shaped pair table over the current state: union the pair
    * generations (re-delivered or doubly-found pairs dedup here), PLUS
    * the reconciled cross pairs of any genuinely-concurrent commits (see
    * [[GenState.unreconciledPairs]] — a bounded batch×batch block probe of the two
    * frozen signature tables, zero for sequential histories), minus every
    * tombstoned-incident pair (d33 shadowing).
    */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalMedia.pairs: no state at $stateDir")
    val maxHamming = pinnedMaxHamming(spark, stateDir)
    // BLIND pairs only: a spliceOnly pair (a merge racing a compact whose
    // direct sources the merge probed) already has every cross edge in the
    // prober's stored table, and this family has no label state to splice
    val recon = GenState.classifyUnreconciled(spark, stateDir, live)._1
      .map { case (a, b) =>
        val sa = spark.read.parquet(sigsPath(spark, stateDir, a))
        candidatePairs(sa,
          sa.unionByName(spark.read.parquet(sigsPath(spark, stateDir, b))), maxHamming)
      }
    // no forced broadcast on the delete-derived frame: AQE broadcasts
    // when the tombstone set is small, shuffle-joins a bulk delete
    val teff = effectiveTombstones(spark, stateDir, live)
    val stored = spark.read.parquet(live.map(pairsPath(spark, stateDir, _)): _*)
    val base = (stored +: recon).reduce(_ unionByName _)
    base
      .join(teff.select(col("node").as("name1")), Seq("name1"), "left_anti")
      .join(teff.select(col("node").as("name2")), Seq("name2"), "left_anti")
      .select(base.columns.map(col).toSeq: _*) // USING-joins reorder columns
      .dropDuplicates("name1", "name2")
      .orderBy(col("name1"), col("name2"))
  }

  /** Fold both tables of every live generation into one (GenState
    * manifest protocol, crash-idempotent; rows are immutable facts),
    * making any outstanding concurrent-commit reconciliation DURABLE: the
    * folded pair table includes the cross pairs of every [[GenState.unreconciledPairs]]
    * generation pair (computed from the PURGED per-generation sigs, so
    * deleted names never resurface through reconciliation), and the
    * compacted generation's `_PROBED` is itself — one generation, nothing
    * left to reconcile. Concurrent-safe through [[GenState.fold]].
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      // tombstones applied PHYSICALLY, per-GENERATION
      // ([[LabelState.purgeByGen]], string-keyed): pre-delete sigs/pairs
      // leave disk even for re-ingested names — a delete-then-re-ingest
      // must not retain its pre-delete signature rows through maintenance
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
          .dropDuplicates("name", "frame_no"))
      val maxHamming = pinnedMaxHamming(spark, stateDir)
      // blind pairs only — see [[pairs]]
      val recon = GenState.classifyUnreconciled(spark, stateDir, versions)._1
        .map { case (a, b) =>
          val pa = purgedSigs(a)
          candidatePairs(pa, pa.unionByName(purgedSigs(b)), maxHamming)
        }
      val stored =
        (if (!hasTombs) spark.read.parquet(versions.map(pairsPath(spark, stateDir, _)): _*)
         else LabelState.purgePairsByGen(tombs,
           effectiveTombstones(spark, stateDir, versions),
           versions.map(v => (v, spark.read.parquet(pairsPath(spark, stateDir, v)))),
           Seq("name1", "name2")))
      (stored +: recon).reduce(_ unionByName _)
        .dropDuplicates("name1", "name2")
    }
}
