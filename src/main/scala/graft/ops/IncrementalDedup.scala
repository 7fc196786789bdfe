package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d12: INCREMENTAL dedup-state merge — the capability a daily 100 TB
  * ingest cannot live without. Given persisted dedup state (the SimHash
  * half-band index + cluster labels of everything ingested so far) and a
  * batch of NEW documents, produce the updated clustering by:
  *
  *   1. signing ONLY the new batch (one `simhash32` pass over new docs);
  *   2. probing the new docs' half-band variants against the COMBINED
  *      exact-half index (persisted old + new) — this finds every
  *      new-new and new-old pair within Hamming ≤ 3 (the pigeonhole
  *      recall proof is direction-free: a probe of either endpoint hits
  *      the other's exact half), and by construction NEVER regenerates an
  *      old-old pair;
  *   3. seeded connected components over the AFFECTED subgraph: edges =
  *      the new verified pairs ∪ the star edges (node → label) of only
  *      those previously-clustered components a new pair touches
  *      ([[LabelState.deltaLabels]]). Untouched components are not even
  *      read into CC, so CC work scales with the new edge set;
  *   4. writing the next state GENERATION — `v<N+1>/{bands,labels}` —
  *      never overwriting `v<N>` in place (readers of the current
  *      generation are unaffected; promote-by-version is the
  *      object-store-safe pattern, and parquet cannot overwrite a
  *      directory it is concurrently reading from anyway).
  *
  * Exactness: candidate recall is total for Hamming ≤ 3 and verification
  * is the exact `bit_count(xor)` — so the pair GRAPH after n ingests is
  * identical to the one-shot graph over the union, star edges preserve
  * old connectivity exactly, and min-label CC is associative over
  * components ⇒ the incremental labeling is hash-identical to d7's full
  * recompute on the union (IncrementalDedupSpec + the shared d7 oracle
  * pin it).
  *
  * Scale: per daily batch the work is O(|new| log + |new|·17 probe rows
  * joined against the band index) plus a CC whose non-star edges are only
  * the new pairs. The old corpus is touched ONLY through its persisted
  * band index — no re-read of old text, no re-signing (the plan spec pins
  * exactly one `simhash32` in the merge job).
  */
object IncrementalDedup extends TombstoneFamily {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val commitTable = "labels"
  val idColumn = "doc_id"

  // ---- 32-bit saturation guard ---------------------------------------------
  //
  // The width=32 regime has a MEASURED cliff (SCALE.md,
  // "The text state decade", round 18): hamming≤3-of-32 admits ~1.3e-6 of RANDOM pairs, so
  // past ~10^5 heterogeneous docs the incidental pair graph percolates and
  // the incremental label splice degrades super-linearly — measured 21×
  // split-ingest blowup across the 100k→1M decade, with the 16-bit band
  // buckets at occupancy ~15. The guard makes the cliff OPERATIONAL: every
  // 32-bit merge estimates the half-band index's mean bucket occupancy
  // (from the slim band dirs' on-disk bytes — a metadata walk, no extra
  // Spark job on the ingest hot path) and warns — or refuses, when the
  // store pins `saturationAction=refuse` — once it crosses
  // `saturationOccupancy` (default 8, about half the measured-cliff
  // occupancy: the advisory must fire while re-ingesting under width=64
  // is still cheap, not after reads already degraded).

  /** Mean-bucket-occupancy advisory threshold when the store pins none.
    * Occupancy = index rows / (2 bands × 2^16 buckets); the measured 1M-doc
    * cliff sits at ~15 (SCALE.md), so 8 fires a decade of headroom early.
    */
  val DefaultSaturationOccupancy = 8.0

  /** Estimated bytes per slim band-index parquet row (doc_id, sigint,
    * band, half; snappy). Only an order-of-magnitude estimate is needed:
    * the cliff spans a full decade of corpus growth, so a 2× row-size
    * error moves the advisory by far less than the regime it guards.
    */
  private val estBandRowBytes = 16L

  private def warnIfSaturating(spark: SparkSession, stateDir: String,
      vs: Seq[Int]): Unit = {
    val cfg = GenState.readConfig(spark, stateDir)
    // Both keys are operator-pinned free text in _CONFIG: validate loudly.
    // A malformed occupancy must not brick every merge with a bare
    // NumberFormatException, and a typo'd action ("refues") must not
    // silently degrade the refuse contract back to warn.
    val threshold = cfg.get("saturationOccupancy").map { raw =>
      val v = try raw.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"IncrementalDedup: _CONFIG key saturationOccupancy at $stateDir " +
            s"is '$raw' — expected a positive number (mean half-band bucket " +
            s"occupancy; default $DefaultSaturationOccupancy)")
      }
      require(v > 0 && !v.isNaN,
        s"IncrementalDedup: _CONFIG key saturationOccupancy at $stateDir " +
          s"is $raw — must be a positive number")
      v
    }.getOrElse(DefaultSaturationOccupancy)
    val action = cfg.getOrElse("saturationAction", "warn")
    require(action == "warn" || action == "refuse",
      s"IncrementalDedup: _CONFIG key saturationAction at $stateDir is " +
        s"'$action' — accepted values are 'warn' and 'refuse' (an " +
        "unrecognized value must not silently weaken a refuse contract)")
    val f = GenState.fs(spark, stateDir)
    val bytes = vs.map { v =>
      val p = new org.apache.hadoop.fs.Path(bandsPath(spark, stateDir, v))
      if (f.exists(p)) f.getContentSummary(p).getLength else 0L
    }.sum
    val occupancy = bytes.toDouble / estBandRowBytes / (2.0 * 65536)
    if (occupancy >= threshold) {
      val msg =
        f"IncrementalDedup: the 32-bit half-band index at $stateDir has " +
          f"estimated mean bucket occupancy $occupancy%.1f (>= $threshold%.1f) — " +
          "the width=32 regime is SATURATING. Measured consequence " +
          "(SCALE.md, the text state decade): hamming<=3-of-32 admits ~1.3e-6 " +
          "of random pairs, the incidental pair graph percolates, and " +
          "split-ingest cost blew up 21x across the 100k->1M decade while " +
          "width=64 stayed flat (1.1-1.7x per 10x data). Migration: the " +
          "state is derivable from the corpus — re-ingest it into a FRESH " +
          "state dir under width=64 (signatures ARE the state, so an " +
          "in-place width flip is impossible and checkConfig refuses it); " +
          "pin saturationAction=refuse in _CONFIG to make this an error, " +
          "or raise saturationOccupancy if this corpus's occupancy is " +
          "driven by true near-duplicates rather than scale."
      if (action == "refuse")
        throw new IllegalStateException(msg)
      log.warn(msg)
    }
  }

  /** The verified-pair stream of one ingest batch: new docs signed, their
    * probe variants joined against `index` (which must contain the new
    * docs' own bands plus all persisted ones). Lazy — [[merge]] executes
    * it; the plan spec inspects it.
    */
  private[graft] def batchPairs(newSigs: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame =
    probePairs(Dedup.probeVariantsOf(Dedup.halfBandsOf(newSigs)), index, maxHamming)

  /** The verified-pair join given an already-built probe stream: probes
    * against the exact-half index. For the 32-bit path probes are the 17
    * single-bit variants per half; for the 64-bit path the index rows ARE
    * the probes (exact-block equality, zero fan-out).
    */
  private[graft] def probePairs(probes: DataFrame, index: DataFrame,
      maxHamming: Int): DataFrame = {
    val hamming = bit_count(col("a.sigint").bitwiseXOR(col("b.sigint"))).cast("int")
    // =!= plus least/greatest (not a < b as in the one-shot job): the
    // probe side here is only the NEW batch, so both orientations of a
    // new-old pair must be admitted, then normalized and deduplicated.
    probes.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") && col("a.variant") === col("b.half") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        hamming.as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("d1", "d2")
  }

  // resolved through [[GenState.tablePath]]: publish-mode-agnostic reads;
  // `tok` is the claim token for pre-commit reads of an OWN in-flight
  // generation under PointerPublish
  private def bandsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "bands", tok)
  private def pairsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "pairs", tok)

  /** The cross pairs two genuinely-concurrent generations never probed:
    * generation `a`'s signatures probed against `b`'s band index (doc
    * sets are disjoint, so this is exactly the missing cross candidate
    * set), verified by the exact bit_count at the `_CONFIG`-pinned
    * radius and width. Stored bands carry `sigint`, so for the 32-bit
    * geometry the probe variants rebuild from the slim band rows (bands
    * are a pure function of the signature) and for the 64-bit geometry
    * the index rows probe as themselves — no text is ever re-read.
    * `bandsOf` lets compact pass tombstone-purged projections.
    */
  private def crossPairs(spark: SparkSession, stateDir: String,
      a: Int, b: Int, bandsOf: Int => DataFrame): DataFrame = {
    val cfg = GenState.readConfig(spark, stateDir)
    val maxHamming = cfg.getOrElse("maxHamming", "3").toInt
    val width = cfg.getOrElse("width", "32").toInt
    val pa = bandsOf(a)
    (if (width == 32)
       batchPairs(pa.select(col("doc_id"), col("sigint")).distinct(),
         bandsOf(b), maxHamming)
     else probePairs(pa.withColumn("variant", col("half")),
       bandsOf(b), maxHamming))
      .select(col("d1"), col("d2"))
  }

  /** [[LabelState.reconInputs]] over this family's cross-pair recompute. */
  private def reconInputs(spark: SparkSession, stateDir: String,
      live: Seq[Int], bandsOf: Int => DataFrame)
      : Option[(DataFrame, DataFrame)] =
    LabelState.reconInputs(spark, stateDir, live, pairsPath(spark, stateDir, _),
      (a, b) => crossPairs(spark, stateDir, a, b, bandsOf))

  /** Current labels — the latest-wins fold over the live label DELTAS,
    * with any tombstones applied (affected components re-labeled over
    * their surviving stored edges — [[LabelState.deletedAwareLabels]];
    * tombstone-free state short-circuits to the plain fold), PLUS the
    * `_PROBED` reconciliation for histories holding genuinely-concurrent
    * commits (multi-writer since round 17 — the d15 pattern; sequential
    * histories pay nothing). Empty 2-col frame when no generation exists.
    */
  def stateLabels(spark: SparkSession, stateDir: String): DataFrame = {
    val live = completeVersions(spark, stateDir)
    val recon = reconInputs(spark, stateDir, live,
      v => spark.read.parquet(bandsPath(spark, stateDir, v)))
    LabelState.deletedAwareLabels(spark, stateDir, live, "bands", "doc_id",
      recon.map(_._1), recon.map(_._2))
  }

  /** d29: TOMBSTONE a set of documents — right-to-be-forgotten for the
    * CLUSTERING modality, where removing a doc can SPLIT its component
    * (no row-level shadowing of the label table can be exact). Writes one
    * generation holding `vN/tombstones` plus empty bands/pairs tables and
    * an empty label delta (labels' `_SUCCESS` commits, keeping the
    * generation protocol uniform). s9 shadowing semantics: a tombstone
    * deletes a doc from generations older than itself only — a later
    * re-ingest of the same id is live again; [[compact]] applies
    * tombstones physically (bands/pairs of deleted docs leave disk — the
    * purge point). Serving reads correct ONLY the affected components
    * (see [[stateLabels]]); merges keep running untouched — a probe may
    * still pair a NEW doc against a tombstoned doc's persisted bands, and
    * the serve drops that edge, exactly as the one-shot over survivors
    * never forms it. Requires every live generation to carry its pairs
    * table: the re-labeling replays stored edges, so a state dir
    * compacted by a pre-retention layout must be rebuilt before deletes.
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalDedup.delete: no state at $stateDir")
    live.foreach(v => require(GenState.tableExists(spark, stateDir, v, "pairs"),
      s"IncrementalDedup.delete: generation v$v at $stateDir has no pairs " +
        "table (pre-retention layout) — component re-labeling replays " +
        "stored edges; rebuild the state dir first"))
    // fresh allocation (multi-writer, round 17): a tombstone generation's
    // content is independent of live state; empty bands ⇒ nothing to
    // reconcile, so mark everything live as probed — listed AFTER the
    // claim so a sibling merge committing just before it is not omitted.
    // Every table lands via the write fence ([[GenState.fencedParquet]]).
    val (next, claim) = GenState.claimFresh(spark, stateDir)
    val liveNow = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, liveNow :+ next, claim)
    // tombstones + empty peers are mutually independent — written
    // concurrently (guide §2.6 via [[GenState.inParallel]]); the labels
    // commit stays strictly after, preserving the crash contract
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim)(
        ids.select(col("doc_id").cast("long").as("node")).dropDuplicates("node")),
      () => GenState.fencedParquet(spark, stateDir, next, "bands", claim)(
        spark.read.parquet(bandsPath(spark, stateDir, live.head)).limit(0)),
      () => GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
        spark.read.parquet(pairsPath(spark, stateDir, live.head)).limit(0))))
    GenState.fencedParquet(spark, stateDir, next, "labels", claim)(
      LabelState.emptyDelta(spark))
    next
  }

  /** Ingest `newDocs` (a (doc_id, text, …) projection whose doc_ids are
    * disjoint from prior ingests) into the state at `stateDir`; returns
    * the new generation number. The first call (no prior state) is the
    * initial build — same code path with an empty index and no seeds.
    * MULTI-WRITER since round 17 (the d15 pattern — see
    * [[IncrementalMinHash]]'s object doc for the reconciliation story):
    * fresh allocation, `_PROBED` manifests, keyed exactly-once via
    * `batchKey`, cross pairs and the label-fold split repaired at read
    * ([[stateLabels]]) and made durable at [[compact]].
    *
    * WIDTH REGIME GUIDANCE (measured, SCALE.md "The text state decade",
    * round 18): the 32-bit default is right up to ~10^5 docs of
    * heterogeneous text; past that, hamming≤3-of-32 admits ~1.3e-6 of
    * RANDOM pairs — at 10^6 docs the incidental pair graph percolates
    * into a giant component and the incremental label splice degrades
    * super-linearly (measured 21× split-ingest at the 100k→1M decade),
    * while the 16-bit band buckets reach occupancy ~15. `width = 64`
    * (incidental rate ~2.4e-15) stays flat across the same decades
    * (1.1–1.7× per 10× data) and is the corpus-scale pin; the probe
    * tells a deployment which side of the cliff its corpus sits on.
    * The cliff is also GUARDED in-engine: every 32-bit merge estimates
    * the band index's mean bucket occupancy and warns (or refuses,
    * under `saturationAction=refuse` in `_CONFIG`) once it crosses
    * `saturationOccupancy` — see the saturation-guard block above.
    * MIGRATION: width is pinned at state creation and signatures ARE
    * the state, so an existing 32-bit dir cannot flip in place
    * ([[GenState.checkConfig]] refuses a width-64 merge into it as a
    * mixed regime — deliberately). The state is derivable from the
    * corpus: re-ingest into a FRESH state dir under `width = 64`;
    * the old dir keeps serving until the new one is caught up, then
    * retire it.
    *
    * Generation `vN/bands` holds ONLY batch N's bands (append-style): the
    * probe-able full index is the UNION of generation dirs, so per-ingest
    * write volume is O(|new batch|) — consolidating the whole index per
    * batch would rewrite the corpus-sized band table daily, which is
    * exactly the cost this operator exists to avoid. (A real deployment
    * compacts generations occasionally, like any LSM.) Labels are
    * append-style too: `vN/labels` holds only the DELTA of batch N (the
    * members of components a new pair touched), the current labeling is
    * the latest-wins fold, and [[compact]] folds the deltas back to one
    * snapshot — see [[LabelState]].
    */
  def merge(spark: SparkSession, stateDir: String, newDocs: DataFrame,
      maxHamming: Int = 3, width: Int = 32,
      batchKey: Option[String] = None): Int = {
    require(width == 32 || width == 64,
      s"IncrementalDedup.merge: width must be 32 or 64, got $width")
    require(if (width == 32) maxHamming <= 3 else maxHamming < Dedup.sim64Blocks,
      "IncrementalDedup.merge: probe geometry guarantees recall only for " +
        "hamming <= 3 (32-bit halves + 1-bit probes / 64-bit exact blocks)")
    // pin the verification regime: every merge into one state dir must use
    // the same radius AND signature width, or the clustering matches no
    // one-shot recompute
    GenState.checkConfig(spark, stateDir,
      Map("maxHamming" -> maxHamming.toString, "width" -> width.toString))
    // MULTI-WRITER (round 17, the d15 pattern): fresh allocation with the
    // keyed exactly-once ledger, and a _PROBED manifest recording the
    // post-claim snapshot BOTH the candidate probe and the label-delta
    // fold see — a sibling committing later is reconciled at read/compact
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey) match {
      case Left(v) => return v // re-delivered batch key: no-op
      case Right(nc) => nc
    }
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    // the measured-cliff advisory (see the saturation-guard block above):
    // evaluated over the LIVE index BEFORE any write — under
    // saturationAction=refuse the merge must abort with nothing staged
    // (abandoning its fresh claim), not after paying the full sign-and-
    // write job; one batch moves the decade-scale estimate negligibly.
    // AFTER the re-delivery no-op above: a replayed already-ingested
    // batch stays a no-op even on a saturated store.
    if (width == 32)
      try warnIfSaturating(spark, stateDir, live)
      catch {
        case e: IllegalStateException =>
          GenState.abandonFresh(spark, stateDir, next)
          throw e
      }
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim)

    // 1. sign the new batch once and persist its bands — the generation's
    // own band dir is also the materialized copy the pair join reads (no
    // recompute of the signature job across the two consumers). The
    // 64-bit dial (d17's geometry) stores exact 16-bit blocks under the
    // same (band, half) schema — its "probes" are the index rows
    // themselves, no flip fan-out. NO repartition barrier (round 20): the
    // signed frame's only consumer is this write, so the barrier bought
    // nothing the write's own materialization doesn't — while costing a
    // full shuffle of the batch's band rows per ingest (the Exchange was
    // the most expensive stage of every micro-batch merge). The one-pass
    // signing shape is unchanged — the Project→Generate plan keeps a
    // single simhash per row (IncrementalDedupSpec pins exactly this
    // barrier-free plan) — and write parallelism follows the batch scan.
    val signed = (if (width == 32)
        Dedup.halfBandsOf(Dedup.signedDocs(newDocs))
      else
        Dedup.blockBandsOf(Dedup.signedDocs64(newDocs))
          .withColumnRenamed("block", "half"))
    GenState.fencedParquet(spark, stateDir, next, "bands", claim)(signed)
    val newBands = spark.read.parquet(bandsPath(spark, stateDir, next, Some(claim)))

    // 2. the full exact-half index = every PROBED generation's bands plus
    // the new batch (old ones read from persisted parquet — old TEXT is
    // never re-read, old docs never re-signed). The post-claim snapshot,
    // exactly what the manifest records.
    val allBandPaths = live.map(bandsPath(spark, stateDir, _)) :+
      bandsPath(spark, stateDir, next, Some(claim))
    val fullIndex = spark.read.parquet(allBandPaths: _*)

    // 3. new-new + new-old pairs, then seeded CC: previous labeling as
    // star edges — old components arrive pre-contracted. 32-bit probes
    // fan out 17 variants per half; 64-bit blocks probe as themselves.
    val pairs = (if (width == 32)
        batchPairs(newBands.select(col("doc_id"), col("sigint")).distinct(),
          fullIndex, maxHamming)
      else
        probePairs(newBands.withColumn("variant", col("half")),
          fullIndex, maxHamming))
      .select(col("d1"), col("d2"))
    // MATERIALIZE the probe+verify join ONCE — written to the generation
    // dir (state-shaped scratch, crash-abandoned with the rest of vN).
    // The old limit(1) emptiness probe was cheap when pairs existed, but
    // the join then executed AGAIN from scratch inside CC — every
    // duplicate-bearing micro-batch paid the candidate join twice. Now
    // both the EMPTY-BATCH FAST PATH check (a pair-free batch carries the
    // previous labels forward verbatim and skips the CC loop — the common
    // streaming case) and CC read the slim parquet back.
    GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(pairs)
    val matPairs = spark.read.parquet(pairsPath(spark, stateDir, next, Some(claim)))
    // affected-component-scoped seeded CC over the PROBED fold → the
    // label DELTA of this batch (a pair-free batch writes an empty delta
    // and changes nothing; an untouched old component stays in its older
    // generation verbatim)
    val labels = LabelState.deltaLabels(spark, stateDir, live, matPairs, next)

    // 4. commit: labels' _SUCCESS marks the generation complete (bands
    // were written first, so a crash between the two writes leaves an
    // incomplete generation the next merge simply overwrites); the fence
    // makes the commit itself an atomic directory publish
    GenState.fencedParquet(spark, stateDir, next, "labels", claim)(labels)
    next
  }

  /** LSM maintenance: fold every live generation's bands AND pairs into
    * ONE new generation and delete the old dirs — read amplification
    * returns to 1 after a run of daily ingests. Pairs are retained
    * through the fold (O(verified dup pairs) — the dedup signal itself,
    * not corpus-sized) because [[delete]]'s component re-labeling replays
    * them; a fold over a pre-retention state (some generation without a
    * pairs table) skips the pairs write, preserving delete()'s refusal.
    * Tombstones are applied PHYSICALLY: folded bands and pairs exclude
    * every effectively-deleted doc (the purge point — deleted bytes leave
    * disk with the source dirs), the labels snapshot is the
    * tombstone-corrected labeling, and no tombstones table is carried.
    * Crash-safe at every point through [[GenState.fold]]: the labels
    * commit last, after the `_COMPACTED` manifest, so a crash in the
    * commit-to-delete window cannot double the index. Returns the new
    * generation number.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      // per-GENERATION purge ([[LabelState.purgeByGen]]): rows older than
      // their id's newest tombstone leave disk EVEN IF the id was
      // re-ingested — a delete-then-re-ingest must not retain its
      // pre-delete bands/pairs (duplicate index rows + stale edges) through
      // maintenance. Tombstone-free state keeps the single multi-path scan.
      val hasTombs = LabelState.tombstoneVersions(spark, stateDir, versions).nonEmpty
      def tombs = LabelState.tombstonesByGen(spark, stateDir, versions)
      def purgedBands(v: Int): DataFrame =
        if (!hasTombs) spark.read.parquet(bandsPath(spark, stateDir, v))
        else LabelState.purgeByGen(tombs,
          Seq((v, spark.read.parquet(bandsPath(spark, stateDir, v)))), Seq("doc_id"))
      GenState.writeProbed(spark, stateDir, next, Seq(next), claim)
      GenState.fencedParquet(spark, stateDir, next, "bands", claim)(
        if (!hasTombs) spark.read.parquet(versions.map(bandsPath(spark, stateDir, _)): _*)
        else LabelState.purgeByGen(tombs,
          versions.map(v => (v, spark.read.parquet(bandsPath(spark, stateDir, v)))),
          Seq("doc_id")))
      // outstanding concurrent-commit reconciliation becomes DURABLE here:
      // recon cross pairs from PURGED bands (deleted docs never resurface),
      // folded into the pair table, and the labels snapshot fully corrected
      val recon = reconInputs(spark, stateDir, versions, purgedBands)
      val pairVs = versions.filter(v => GenState.tableExists(spark, stateDir, v, "pairs"))
      require(recon.isEmpty || pairVs == versions,
        s"IncrementalDedup.compact: concurrent commits at $stateDir need every " +
          "generation's pairs table to reconcile — pre-retention layout found")
      if (pairVs == versions) {
        val stored =
          (if (!hasTombs)
             spark.read.parquet(pairVs.map(pairsPath(spark, stateDir, _)): _*)
               .select(col("d1").cast("long"), col("d2").cast("long"))
           else LabelState.purgePairsByGen(tombs,
             LabelState.effectiveTombstones(spark, stateDir, versions, "bands", "doc_id"),
             pairVs.map(v => (v, spark.read.parquet(pairsPath(spark, stateDir, v))
               .select(col("d1").cast("long"), col("d2").cast("long")))),
             Seq("d1", "d2")))
        GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
          recon.map(_._1).fold(stored)(r => stored.unionByName(
              r.select(col("d1").cast("long"), col("d2").cast("long"))))
            .dropDuplicates("d1", "d2"))
      }
      LabelState.deletedAwareLabels(spark, stateDir, versions, "bands", "doc_id",
          recon.map(_._1), recon.map(_._2))
        .withColumn("gen", lit(next))
    }

  /** The d7-shaped cluster table from the current state. */
  def clusters(spark: SparkSession, stateDir: String): DataFrame =
    Dedup.clustersOf(stateLabels(spark, stateDir))
}
