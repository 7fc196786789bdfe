package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared mechanics of the GENERATIONAL dedup-state dirs
  * ([[IncrementalDedup]] d12, [[IncrementalEmbedding]] d14,
  * [[IncrementalMinHash]] d15): version listing, the compaction manifest,
  * and merge-parameter pinning. All three operators persist state as
  * `stateDir/vN/{<index>,labels}` where the commit marker is the commit
  * table's `_SUCCESS` at its final path (the default [[RenamePublish]])
  * or the `vN/_COMMIT` pointer ([[PointerPublish]], object stores) —
  * this object is the single source of truth for what counts as a live
  * generation, and [[tablePath]] for where a generation's tables
  * physically live.
  *
  * Two failure modes this closes (both found by audit, neither by a test
  * that existed before):
  *
  *   - **Crash between a compaction's commit and its source deletion**
  *     left BOTH the compacted generation and its sources complete, so
  *     every later merge unioned duplicated index rows — correct answers
  *     (verification dedups), but index size and probe cost silently
  *     doubled, inverting compaction's whole point. Now a compacted
  *     generation records its folded sources in a `_COMPACTED` manifest
  *     written BEFORE its labels commit; [[completeVersions]] excludes
  *     manifest-listed versions, so recovery is idempotent and the
  *     leftovers are swept by the next compact.
  *
  *   - **Merges with drifting parameters** (threshold / maxHamming /
  *     signature width) into one state dir silently mixed verification
  *     regimes, producing a clustering that matches NO one-shot
  *     recompute. Now the first merge persists its parameters in
  *     `_CONFIG` and every later merge must present the identical map.
  */
object GenState {

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- publish modes -------------------------------------------------------
  //
  // [[fencedParquet]]'s default publish is stage-inside-vN + directory
  // RENAME — correct wherever rename is atomic (HDFS, ABFS, POSIX), and
  // the commit itself (the commit table's rename making its _SUCCESS
  // appear at the final path) leans on exactly that atomicity. An object
  // store without atomic rename (S3) breaks it two ways: a copy-semantics
  // rename can surface _SUCCESS before the data objects (a reader sees a
  // torn committed generation), and a stalled loser's half-finished copy
  // can interleave object-by-object with a thief's rebuild of the same
  // final path. [[PointerPublish]] removes the rename dependency at the
  // root: every table job writes DIRECTLY to a final-named dir whose name
  // embeds the claim token's nonce (`<table>.g<nonce>` — nonce-unique per
  // writer, so two writers' bytes can never land in one dir), and the
  // generation becomes live via ONE small `_COMMIT` object holding the
  // winning nonce, published with the conditional create-if-absent
  // primitive (`If-None-Match: *` PUT on S3, O_EXCL locally). Readers
  // resolve table paths through [[tablePath]], which follows the pointer
  // when one exists — so reads are MODE-AGNOSTIC and a store can even
  // hold generations committed under either mode. The pointer lives
  // in-tree, so every existing delete path (steal, sweep, abandon)
  // releases it with the vN dir for free.
  //
  // What stays out of scope: the table job's own task-commit renames
  // inside `_temporary` are the storage connector's contract (S3A's
  // committers solve that with multipart uploads — public machinery);
  // the STATE PROTOCOL itself performs zero renames under PointerPublish,
  // which is what the no-rename-filesystem spec pins.

  sealed trait PublishMode
  /** Stage inside vN + atomic directory rename (HDFS/ABFS/POSIX). */
  case object RenamePublish extends PublishMode
  /** Rename-free: nonce-named final dirs + conditional-put `_COMMIT`. */
  case object PointerPublish extends PublishMode

  /** The publish mode for this JVM's WRITES (reads auto-detect per
    * generation). A deployment sets it once at startup, like
    * [[claimBackend]].
    */
  @volatile var publishMode: PublishMode = RenamePublish

  private def commitPtrPath(stateDir: String, v: Int) =
    new Path(s"$stateDir/v$v/_COMMIT")

  /** 13 hex chars + dash of the claim token (48 bits): unique enough that
    * two RACING writers on one generation never collide (the same
    * exposure class as the stage-dir suffix), short enough to keep
    * listings readable.
    */
  private def nonceOf(token: String): String = token.take(13)

  /** Backend for the `_COMMIT` pointer put/read/release — the one
    * primitive [[PointerPublish]] needs from the store (a conditional
    * create-if-absent of one whole object, a consistent read, a delete).
    * It MUST address the GIVEN path: the pointer is state-dir data, so a
    * recursive vN delete has to release it implicitly — slot-mapping
    * stores like [[ExternalCpClaimBackend]] are NOT suitable here. The
    * default models the put with the local O_EXCL create (atomic on
    * POSIX; HDFS/ABFS `create(overwrite=false)` is natively atomic); an
    * S3 deployment swaps in a backend whose tryClaim is the native
    * `If-None-Match: *` PUT at the same key and whose readClaim is a
    * consistent GET — stock S3A's `create(overwrite=false)` is
    * check-then-act and would let two racing flips both pass, so the
    * seam is load-bearing there, exactly like [[claimBackend]]'s.
    */
  @volatile var pointerBackend: ClaimBackend = FsClaimBackend

  /** The committed pointer nonce of generation `v`, or None (not
    * pointer-committed — either rename-mode or not yet committed). A
    * pointer vanishing MID-READ (a concurrent steal's recursive vN
    * delete, or a sweep, between the backend's existence probe and its
    * open) means exactly "not committed" — classified, never thrown, the
    * same discipline as `mtimeOf` in the sweep walk: this runs on every
    * read path of every family.
    */
  private def readPointer(f: FileSystem, stateDir: String, v: Int): Option[String] =
    try pointerBackend.readClaim(f, commitPtrPath(stateDir, v))
    catch { case _: java.io.FileNotFoundException => None }

  private def conditionalPut(f: FileSystem, p: Path, content: String): Boolean =
    pointerBackend.tryClaim(f, p, content)

  /** Generation `v` is COMMITTED: its commit table's `_SUCCESS` exists at
    * the plain final path (rename-mode publish), or a `_COMMIT` pointer
    * exists AND the commit-table dir it names is present (pointer-mode;
    * a pointer naming vanished dirs — a loser's flip racing a thief's
    * redo-wholesale delete — is NOT a committed generation, and the next
    * steal/sweep clears it with the vN dir). The single source of truth
    * every claim/sweep/read-side check routes through.
    */
  private def isCommitted(f: FileSystem, stateDir: String, v: Int,
      commitTable: String): Boolean =
    f.exists(new Path(s"$stateDir/v$v/$commitTable/_SUCCESS")) ||
      readPointer(f, stateDir, v).exists(n =>
        f.exists(new Path(s"$stateDir/v$v/$commitTable.g$n/_SUCCESS")))

  /** Resolve the PHYSICAL path of a generation table. A committed pointer
    * wins (the generation was pointer-published — mode-agnostic reads);
    * otherwise a caller that owns the generation's claim passes its
    * `token` so its own pre-commit reads resolve to the nonce dir it is
    * writing under PointerPublish; otherwise the plain rename-mode path.
    *
    * The token branch additionally defers to a plain-path table that
    * already EXISTS: a caller reading a mixed set of versions (its own
    * in-flight generation plus complete predecessors) may pass its token
    * blanketly, and in a MIXED-MODE store a predecessor committed under
    * rename mode has no pointer — without the existence check its path
    * would mis-resolve to a nonce dir that was never written. The check
    * costs one metadata probe and only on token-bearing (write-path)
    * resolutions, never on plain reads.
    *
    * COST NOTE: every resolution pays one pointer probe (an exists, plus
    * a small read when present) — metadata-only, the same class as the
    * marker listings, measured at low-single-digit percent on the bench.
    * It is deliberately NOT memoized: a `_COMMIT` is immutable only for
    * a generation that stays committed, but a pointer stranded on a
    * gutted vN (a flip racing a steal) is DELETED and re-created with a
    * new nonce by the next steal — a cache would serve the dead nonce
    * forever and make the generation permanently invisible.
    */
  def tablePath(spark: SparkSession, stateDir: String, v: Int, table: String,
      token: Option[String] = None): String = {
    val f = fs(spark, stateDir)
    readPointer(f, stateDir, v) match {
      case Some(n) => s"$stateDir/v$v/$table.g$n"
      case None => token match {
        case Some(t) if publishMode == PointerPublish &&
            !f.exists(new Path(s"$stateDir/v$v/$table/_SUCCESS")) =>
          s"$stateDir/v$v/$table.g${nonceOf(t)}"
        case _ => s"$stateDir/v$v/$table"
      }
    }
  }

  /** Whether a generation carries `table` (its job `_SUCCESS` under the
    * resolved physical path) — the ONE presence probe for the optional
    * per-family tables (pairs, tombstones, sidecars); `token` resolves a
    * caller's own in-flight generation exactly as in [[tablePath]].
    */
  def tableExists(spark: SparkSession, stateDir: String, v: Int,
      table: String, token: Option[String] = None): Boolean =
    fs(spark, stateDir).exists(
      new Path(s"${tablePath(spark, stateDir, v, table, token)}/_SUCCESS"))

  /** Generations whose commit table committed, folded-or-not, ascending. */
  private def rawComplete(f: FileSystem, stateDir: String,
      commitTable: String): Seq[Int] = {
    val root = new Path(stateDir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.length > 1 &&
        n.drop(1).forall(_.isDigit) => n.drop(1).toInt }
      .filter(v => isCommitted(f, stateDir, v, commitTable))
      .sorted
  }

  /** LIVE complete generations: committed, minus any version a complete
    * generation's `_COMPACTED` manifest records as folded, minus
    * DUPLICATE-KEY re-deliveries ([[dupKeyShadowed]] — the read-side close
    * of the multi-writer same-batch-key window). Not necessarily
    * contiguous (compaction leaves gaps).
    */
  def completeVersions(spark: SparkSession, stateDir: String,
      commitTable: String = "labels"): Seq[Int] =
    liveAndShadowed(fs(spark, stateDir), stateDir, commitTable)._1

  /** The shared derivation behind [[completeVersions]] / [[dupKeyVersions]]:
    * (live, duplicate-key shadowed) — one manifest filter, the double-fold
    * overlap walk, and the duplicate-key shadow walk.
    */
  private def liveAndShadowed(f: FileSystem, stateDir: String,
      commitTable: String): (Seq[Int], Seq[Int]) = {
    val complete = rawComplete(f, stateDir, commitTable)
    val manifests = complete.map(v => v -> readManifest(f, stateDir, v)).toMap
    val folded = manifests.values.flatten.toSet
    val prelim = complete.filterNot(folded)
    val overlap = overlapShadowed(stateDir, prelim, manifests)
    val notFolded = prelim.filterNot(overlap)
    val dups = dupKeyShadowed(f, stateDir, notFolded)
    (notFolded.filterNot(dups), notFolded.filter(dups))
  }

  /** The read-side net under concurrent compaction: two would-be-live
    * generations whose `_COMPACTED` manifests SHARE a source are a lost
    * maintenance race — both folded the same generation, so serving both
    * doubles its content (fatal for the count-partial families, silent
    * index bloat for the pair-graph ones). The [[acquireMaintenance]]
    * lease plus the commit-time maintenance fence make this unreachable
    * in normal operation; this walk closes the residual crash window
    * (a compactor dying between its commit and its post-commit fence
    * audit) EXACTLY, the way [[dupKeyShadowed]] closes the duplicate-key
    * one. Resolution: when one manifest is a superset of the other, the
    * superset generation carries strictly more folded history (it may
    * additionally hold a merge that committed between the two listings)
    * — keep it, shadow the subset (equal sets keep the earlier number;
    * the fold of identical inputs is deterministic, so content ties).
    * INCOMPARABLE overlapping manifests — each folded a merge the other
    * missed — admit no safe automatic winner: shadowing either would
    * drop that merge's content from every serve, so the walk REFUSES
    * loudly and names both generations (operator repair: delete one
    * compacted generation and re-run compact; its sources are still on
    * disk under the sweep grace). Because [[writeCompactManifest]]
    * records the TRANSITIVE fold history, the overlap survives any
    * interleaving of later compacts and sweeps — a stale double-fold can
    * never resurrect after its twin's sources leave disk.
    */
  private def overlapShadowed(stateDir: String, prelim: Seq[Int],
      manifests: Map[Int, Seq[Int]]): Set[Int] = {
    val carriers = prelim.filter(v => manifests(v).nonEmpty)
    if (carriers.size < 2) return Set.empty
    val out = scala.collection.mutable.Set.empty[Int]
    for {
      i <- carriers.indices
      j <- i + 1 until carriers.size
      a = carriers(i); b = carriers(j)
      ma = manifests(a).toSet; mb = manifests(b).toSet
      if (ma & mb).nonEmpty
    } {
      if (mb.subsetOf(ma)) out += b
      else if (ma.subsetOf(mb)) out += a
      else throw new IllegalStateException(
        s"GenState: generations v$a and v$b at $stateDir both claim to have " +
          s"folded ${(ma & mb).toSeq.sorted.map("v" + _).mkString(", ")} but " +
          "each also folded generations the other missed — a lost concurrent-" +
          "compaction race with no safe automatic winner (shadowing either " +
          "would drop a merge's content). Refusing to serve; delete one of " +
          "the two compacted generations and re-run compact (folded sources " +
          "are retained under the sweep grace).")
    }
    if (out.nonEmpty && warnedShadows.add(s"$stateDir#overlap${out.toSeq.sorted.mkString(",")}"))
      log.warn(s"GenState: generation(s) ${out.toSeq.sorted.map("v" + _).mkString(", ")} " +
        s"at $stateDir are shadowed as double-folds (their _COMPACTED manifests " +
        "are subsets of a surviving compacted generation's) — excluded from " +
        "every serve and swept after the grace horizon. This is the read-side " +
        "close of a lost concurrent-compaction race.")
    out.toSet
  }

  /** The currently overlap-shadowed double-fold generations (diagnostics
    * face of [[overlapShadowed]]).
    */
  def overlapShadowedVersions(spark: SparkSession, stateDir: String,
      commitTable: String = "labels"): Seq[Int] = {
    val f = fs(spark, stateDir)
    val complete = rawComplete(f, stateDir, commitTable)
    val manifests = complete.map(v => v -> readManifest(f, stateDir, v)).toMap
    val folded = manifests.values.flatten.toSet
    overlapShadowed(stateDir, complete.filterNot(folded), manifests).toSeq.sorted
  }

  /** Complete generations shadowed as DUPLICATE-KEY re-deliveries. Under
    * multi-writer fresh allocation, two GENUINELY CONCURRENT deliveries of
    * the SAME batch key can both commit: [[allocateFresh]]'s post-claim
    * re-check narrows the window but cannot close it without leases (the
    * storage gives no fencing). The read side closes it EXACTLY instead:
    * walking live generations ascending, a generation carrying ≥1 ingest
    * marker ALL of whose keys were already recorded by older live
    * generations contributes nothing a correct exactly-once history would
    * contain — it is a re-delivered duplicate, excluded from every serve /
    * fold / time travel / change feed, and swept physically at compaction
    * ([[writeCompactManifest]] records the shadowed set alongside the
    * folded sources so the exclusion is crash-durable, and the standard
    * folded-leftover sweep removes the bytes). Compacted generations are
    * safe by construction: they sit numerically before later ingests and
    * carry their folded history's marker union, so their keys are
    * first-seen. Cost: one marker listing per live generation per
    * [[completeVersions]] call — metadata-only, bounded by the compaction
    * policy's live-generation cap.
    */
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // once-per-JVM-per-generation memo for the shadow warning: a shadowed
  // generation persists until compaction sweeps it, and completeVersions
  // runs on every read — unmemoized, the warning would spam every serve
  private val warnedShadows = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def dupKeyShadowed(f: FileSystem, stateDir: String,
      live: Seq[Int]): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[String]
    val shadowed = Set.newBuilder[Int]
    live.foreach { v =>
      val keys = markerNames(f, stateDir, v)
      if (keys.nonEmpty && keys.forall(seen.contains)) {
        shadowed += v
        // LOUD, not silent: shadowing is exactly right for a true
        // re-delivery, but a caller that (mis)used one batch key for two
        // DIFFERENT batches is having the second batch's committed data
        // dropped from every serve — without this line, detectable only
        // via the dupKeyVersions diagnostic nobody is prompted to call
        if (warnedShadows.add(s"$stateDir#v$v"))
          log.warn(s"GenState: generation v$v at $stateDir is shadowed as a " +
            s"duplicate-key re-delivery (every ingest marker [${keys.mkString(", ")}] " +
            "was already recorded by an older live generation) and will be " +
            "excluded from every serve until compaction sweeps it. This is " +
            "correct for re-delivered batches; if that key was REUSED for " +
            "different content, that content is being dropped — batch keys " +
            "must be 1:1 with batch content (see allocateFresh). Diagnose " +
            "with GenState.dupKeyVersions.")
      } else seen ++= keys
    }
    shadowed.result()
  }

  /** The currently-shadowed duplicate-key generations (public face of
    * [[dupKeyShadowed]] for compaction sweeps and diagnostics).
    */
  def dupKeyVersions(spark: SparkSession, stateDir: String,
      commitTable: String = "labels"): Seq[Int] =
    liveAndShadowed(fs(spark, stateDir), stateDir, commitTable)._2

  def latestVersion(spark: SparkSession, stateDir: String,
      commitTable: String = "labels"): Option[Int] =
    completeVersions(spark, stateDir, commitTable).lastOption

  /** Folded-but-not-deleted generations — the crash-window leftovers a
    * compact sweeps in addition to its own sources.
    */
  def foldedLeftovers(spark: SparkSession, stateDir: String,
      commitTable: String = "labels"): Seq[Int] = {
    val f = fs(spark, stateDir)
    val complete = rawComplete(f, stateDir, commitTable)
    val folded = complete.flatMap(readManifest(f, stateDir, _)).toSet
    complete.filter(folded)
  }

  private def manifestPath(stateDir: String, v: Int) =
    new Path(s"$stateDir/v$v/_COMPACTED")

  def readManifest(f: FileSystem, stateDir: String, v: Int): Seq[Int] = {
    val p = manifestPath(stateDir, v)
    if (!f.exists(p)) Seq.empty
    else readUtf8(f, p).split('\n').toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt)
  }

  /** Record in generation `next` the source versions it folds. MUST be
    * called before `next`'s labels commit: a complete compacted generation
    * then always carries its manifest, whatever the crash point. Guarded
    * by the claim `token` like every other per-generation write — a
    * compactor whose claim was stolen must not stamp a manifest onto the
    * thief's generation.
    */
  def writeCompactManifest(spark: SparkSession, stateDir: String, next: Int,
      folded: Seq[Int], token: String, commitTable: String = "labels"): Unit = {
    assertWritable(spark, stateDir, next, token, commitTable)
    // duplicate-key generations fold into the manifest alongside the
    // sources: the compacted generation inherits the shadowed keys' marker
    // union from its sources, so once it commits a formerly-shadowed dup
    // would sit NUMERICALLY BEFORE it and win the ascending first-seen walk
    // — manifest-listing the dups keeps the exclusion crash-durable and
    // hands their bytes to the standard folded-leftover sweep
    val dups = dupKeyVersions(spark, stateDir, commitTable)
    // TRANSITIVE fold history: inherit the folded sources' own manifest
    // entries, so the full lineage survives sweeps. By induction a single
    // level of inheritance per compact yields the complete closure, and
    // this is what keeps [[overlapShadowed]]'s double-fold exclusion
    // durable — a stale double-fold overlaps the LIVE lineage's manifest
    // even after its twin and the original sources left disk. Entries are
    // ints; a decade of daily compacts is a few KB, never a scale cost.
    val f = fs(spark, stateDir)
    val inherited = folded.flatMap(readManifest(f, stateDir, _))
    // the DIRECT sources ride a `_FOLDED` sidecar (the closure above makes
    // them unrecoverable from `_COMPACTED` alone): [[classifyUnreconciled]]
    // needs them to recognize a merge that PROBED exactly what this fold
    // FOLDED — the maintenance race whose cross edges are already stored
    writeUtf8(f, new Path(s"$stateDir/v$next/_FOLDED"),
      folded.distinct.sorted.mkString("\n"))
    writeUtf8(f, manifestPath(stateDir, next),
      (folded ++ inherited ++ dups).distinct.sorted.mkString("\n"))
  }

  def deleteVersions(spark: SparkSession, stateDir: String, vs: Seq[Int]): Unit = {
    val f = fs(spark, stateDir)
    vs.foreach { v =>
      f.delete(new Path(s"$stateDir/v$v"), true)
      // a backend whose claim store is external to the dir tree (CAS row,
      // conditional-put slot) is not released by the recursive delete —
      // without this, every swept generation leaks its claim row forever
      claimBackend.releaseClaim(f, claimPath(stateDir, v))
    }
  }

  /** Size-tiered maintenance POLICY shared by every [[StateFamily]]:
    * fold when the live-generation count exceeds `maxLive`.
    * Read amplification of a merge is O(live generations) — every probe
    * unions that many parquet dirs — so a daily-ingest deployment that
    * never compacts degrades linearly with history; bounding the count
    * bounds both probe cost and the file-listing overhead. Returns the
    * new generation when a compaction ran. The threshold trades write
    * amplification (each compact rewrites the whole index) against read
    * amplification, exactly the LSM knob.
    */
  def maybeCompact(spark: SparkSession, stateDir: String, maxLive: Int,
      commitTable: String = "labels")(compactFn: => Int): Option[Int] = {
    require(maxLive >= 1, s"maybeCompact: maxLive must be >= 1, got $maxLive")
    if (completeVersions(spark, stateDir, commitTable).size > maxLive) Some(compactFn)
    else None
  }

  // ---- idempotent-ingest markers (at-least-once re-delivery) -------------
  //
  // A foreachBatch driver re-delivers a micro-batch when the merge landed
  // but the stream checkpoint didn't (the q54 crash window). The three
  // pair-graph modalities absorb that for free — duplicate pairs dedup
  // away in CC — but [[IncrementalExact]]'s write-only partial aggregates
  // would double-count a re-delivered batch. These markers make exact
  // ingest idempotent: the caller tags each merge with the batch id, the
  // marker commits ATOMICALLY with the generation (it is written into the
  // vN dir before the commit table's _SUCCESS, and only counts when the
  // generation is complete), and a merge whose key is already recorded is
  // a no-op. Compaction carries the folded generations' markers forward,
  // so idempotency survives maintenance.

  private val ingestPrefix = "_INGEST_"

  private def requireValidKey(key: String): Unit =
    require(key.nonEmpty && key.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"ingest batch key must be [A-Za-z0-9._-]+, got '$key'")

  /** Batch keys recorded by COMPLETE generations (markers in incomplete
    * generations are abandoned work and do not count). Reads the
    * manifest-filtered complete set WITHOUT the duplicate-key shadow walk:
    * a shadowed generation's keys are by definition already carried by an
    * older live generation, so the key SET is identical either way and the
    * per-generation marker listing is paid once, not twice.
    */
  def ingestedKeys(spark: SparkSession, stateDir: String,
      commitTable: String = "labels"): Set[String] = {
    val f = fs(spark, stateDir)
    val complete = rawComplete(f, stateDir, commitTable)
    val folded = complete.flatMap(readManifest(f, stateDir, _)).toSet
    complete.filterNot(folded).flatMap(markerNames(f, stateDir, _)).toSet
  }

  private def markerNames(f: FileSystem, stateDir: String, v: Int): Seq[String] = {
    val dir = new Path(s"$stateDir/v$v")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(ingestPrefix)).map(_.drop(ingestPrefix.length))
  }

  /** Record `key` on (not-yet-complete) generation `v`; call BEFORE the
    * commit table's write so the marker exists whenever the generation is
    * complete. Clears stale markers first — an incomplete vN is abandoned
    * work being redone. Guarded by the claim `token`: a stalled writer
    * waking after a thief's commit must NOT clear the committed
    * generation's markers (that would break exactly-once re-delivery) —
    * the commit-exists check refuses, and a mismatched token aborts before
    * any delete.
    */
  def writeIngestMarker(spark: SparkSession, stateDir: String, v: Int,
      key: String, token: String, commitTable: String = "labels"): Unit = {
    requireValidKey(key)
    assertWritable(spark, stateDir, v, token, commitTable)
    val f = fs(spark, stateDir)
    markerNames(f, stateDir, v).foreach(k =>
      f.delete(new Path(s"$stateDir/v$v/$ingestPrefix$k"), false))
    writeUtf8(f, new Path(s"$stateDir/v$v/$ingestPrefix$key"), "")
  }

  /** Carry the markers of `from` generations onto (not-yet-complete)
    * generation `to` — compaction must not forget which batches were
    * ingested. Call before `to`'s commit write. Claim-guarded like
    * [[writeIngestMarker]].
    */
  def copyIngestMarkers(spark: SparkSession, stateDir: String,
      from: Seq[Int], to: Int, token: String,
      commitTable: String = "labels"): Unit = {
    assertWritable(spark, stateDir, to, token, commitTable)
    val f = fs(spark, stateDir)
    markerNames(f, stateDir, to).foreach(k =>
      f.delete(new Path(s"$stateDir/v$to/$ingestPrefix$k"), false))
    from.flatMap(markerNames(f, stateDir, _)).distinct.foreach(k =>
      writeUtf8(f, new Path(s"$stateDir/v$to/$ingestPrefix$k"), ""))
  }

  // ---- single-writer generation claims ------------------------------------
  //
  // Generation numbers are allocated by directory LISTING, so two
  // concurrent writers into one state dir could both pick vN and
  // interleave table writes — a committed generation mixing two batches'
  // rows, corrupt in a way no read-side dedup can detect. State dirs are
  // single-writer by OPERATIONAL contract; the claim protocol turns a
  // violation into serialization or a clean abort, never a mixed commit:
  //
  //   1. after choosing `next`, a writer must [[claimGeneration]]: an
  //      atomic publish (via [[ClaimBackend.tryClaim]], default: exclusive
  //      create) of `vN/_CLAIM` holding a fresh writer token, then a
  //      READ-BACK verifying the published claim still holds this writer's
  //      token. An incomplete vN that is already claimed is a crash
  //      leftover under the documented redo-wholesale rule — the claimant
  //      deletes the dir and re-claims. The delete/create interleaving of
  //      two LIVE claimants can momentarily let both creates succeed (B's
  //      recursive delete may remove A's just-created claim); the
  //      read-back closes it: at most one claimant sees its OWN token
  //      (possibly neither — both abort, which is safe), because the claim
  //      file holds one value and each loser observes the other's token or
  //      an absent file. The claim is authoritative only at READ time —
  //      which is why every later write re-reads it (step 2);
  //   2. immediately before EVERY per-generation write — each table, each
  //      ingest marker, the compact manifest, and the final commit —
  //      [[assertWritable]]: the writer re-reads its claim AND checks the
  //      generation has not been committed by someone else. A writer whose
  //      claim was stolen mid-merge (the thief believed it crashed) aborts
  //      at its NEXT write, so it can clobber at most the one table write
  //      already in flight when the steal happened — and a thief always
  //      starts by deleting the whole vN dir, so a stolen-then-rebuilt
  //      generation never mixes the two writers' rows unless the loser's
  //      in-flight write lands AFTER the thief's rebuild of that same
  //      table. Marker writes can't be in flight concurrently with a
  //      commit: they refuse outright once the commit `_SUCCESS` exists.
  //
  // Residual window and its close: the guard is check-then-write, so a
  // writer that stalls INSIDE a single guarded write — after its
  // assertWritable, before the write lands — and wakes after the thief has
  // rebuilt and committed could clobber that one table IF it wrote the
  // final path directly. [[fencedParquet]] closes it with write fencing:
  // every table job writes into a claim-token-suffixed STAGE dir inside
  // vN, then re-verifies the claim and renames into place. The thief's
  // redo-wholesale steal deletes the whole vN dir — INCLUDING the stalled
  // loser's stage — so the loser's late fence check aborts on the stolen
  // token, and even a rename racing the exact steal instant cannot land
  // stale data: its source directory is gone. What survives of the old
  // caveat is only that a non-fenced write (none remain in the
  // claimGeneration families) would reopen the window.

  /** Pluggable atomicity seam for the claim protocol. The default
    * ([[FsClaimBackend]]) relies on atomic `create(overwrite=false)` —
    * true on HDFS and ABFS, best-effort on the local FS. S3 has no atomic
    * exclusive create; a deployment targeting S3 plugs a backend whose
    * [[tryClaim]] is an `If-None-Match: *` conditional PUT (or a DynamoDB
    * lock item) and whose [[readClaim]] is a strongly-consistent GET —
    * merge/compact code is untouched, it only ever talks to [[GenState]].
    * [[ExternalCpClaimBackend]] is that shape, shipped and tested: the
    * claim spec's steal/fence/concurrent-merge scenarios run against it
    * alongside the default, so the external-store path is protocol-proven,
    * not hand-waved — an S3 deployment swaps only its one put primitive.
    */
  trait ClaimBackend {
    /** Atomically publish `token` at claim path `p` iff no claim exists.
      * Returns false when another claim was already present (lost race).
      */
    def tryClaim(f: FileSystem, p: Path, token: String): Boolean
    /** The current claim token at `p`, or None when absent. */
    def readClaim(f: FileSystem, p: Path): Option[String]
    /** Drop any claim at `p` — the redo-wholesale steal path calls this
      * after deleting a crash leftover's dir, so a backend whose claim
      * store is EXTERNAL to the filesystem (CAS row, lock item) does not
      * deadlock the state dir on the leftover's token forever.
      */
    def releaseClaim(f: FileSystem, p: Path): Unit
    /** Compare-and-delete: drop the claim at `p` only if it still holds
      * `token`; returns whether a delete happened. The post-flip audit's
      * pointer retraction MUST be conditional — between a writer's
      * successful read-back and its audit, a thief can redo-wholesale the
      * generation (deleting the writer's stranded pointer with the vN
      * dir), rebuild it, and commit its OWN pointer; an unconditional
      * release would then delete the thief's COMMITTED pointer and
      * silently un-commit a batch whose writer already reported success.
      * The default is read-then-delete — not atomic, but it narrows the
      * destructive window from "any time after read-back" to one
      * read-to-delete gap, the same re-check-before-release discipline as
      * [[acquireMaintenance]]'s; a store with a native conditional delete
      * (S3 `If-Match`, a CAS row) overrides this with the real primitive.
      */
    def releaseIfToken(f: FileSystem, p: Path, token: String): Boolean =
      if (readClaim(f, p).contains(token)) { releaseClaim(f, p); true }
      else false
  }

  /** Filesystem default: exclusive create + read-back. The claim lives
    * inside the vN dir, so the steal path's recursive delete already
    * removes it — releaseClaim is a best-effort single-file delete.
    */
  object FsClaimBackend extends ClaimBackend {
    def tryClaim(f: FileSystem, p: Path, token: String): Boolean = {
      // LOCAL filesystem: Hadoop's create(overwrite=false) is CHECK-THEN-ACT
      // (an exists() probe, then a plain open), so two racing claimants can
      // BOTH pass the probe — the loser then overwrites the winner's token
      // after the winner's read-back passed, and the winner aborts mid-merge
      // with a "taken over" error instead of the loser taking the next slot
      // (caught by the four-writer stress in MediaMultiWriterSpec). Use the
      // OS's atomic O_EXCL create instead: exactly one creator succeeds.
      if (f.getUri.getScheme == "file") {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        try {
          java.nio.file.Files.createDirectories(local.getParent)
          val out = java.nio.file.Files.newOutputStream(local,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try out.write(token.getBytes(StandardCharsets.UTF_8)) finally out.close()
          return true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => return false
          // a concurrent claimant's redo-wholesale recursive delete can
          // remove the vN dir between createDirectories and the open — a
          // vanishing parent during a claim race is a concurrency signal
          // (lost race), not infrastructure failure
          case _: java.nio.file.NoSuchFileException => return false
        }
      }
      // Remote filesystems: create(overwrite=false) is atomic on HDFS/ABFS.
      // Only the already-exists failure is a lost race; any other
      // IOException is infrastructure (disk, network, permissions) and must
      // surface as the abort CAUSE, not masquerade as a concurrent-writer
      // conflict. Hadoop filesystems signal the race as (their own or
      // java.nio's) FileAlreadyExistsException; some paths raise a
      // bare IOException whose message names the existing file — match both.
      val out =
        try f.create(p, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.nio.file.FileAlreadyExistsException => return false
          case e: java.io.IOException
              if Option(e.getMessage).exists(m =>
                m.contains("already exists") || m.contains("File exists")) =>
            return false
        }
      try out.write(token.getBytes(StandardCharsets.UTF_8)) finally out.close()
      true
    }
    def readClaim(f: FileSystem, p: Path): Option[String] =
      if (f.exists(p)) Some(readUtf8(f, p)) else None
    def releaseClaim(f: FileSystem, p: Path): Unit =
      if (f.exists(p)) f.delete(p, false)
  }

  /** Conditional-put claim store OUTSIDE the state-dir tree — the tested
    * shape of an object-store deployment. The interface discipline is
    * exactly what S3-with-conditional-writes (or a DynamoDB lock item)
    * offers and NOTHING more: an atomic create-if-absent of one whole
    * object (`If-None-Match: *` PUT), a strongly-consistent GET, and a
    * DELETE. Claims live as one object per claim path under `storeRoot`
    * (keyed by a digest of the path), so — unlike [[FsClaimBackend]],
    * whose `_CLAIM` rides inside the vN dir — a recursive generation
    * delete NEVER implicitly releases a claim. That is the real
    * external-store semantic, and running the claim spec through this
    * backend is what proves the protocol's EXPLICIT release points
    * (the steal path, [[abandonFresh]], [[deleteVersions]]) carry the
    * whole burden. Locally the conditional put is emulated by the
    * filesystem's atomic exclusive create on the slot object; an S3
    * deployment replaces only that one primitive with the conditional
    * PUT call. Maintenance-lease staleness still reads the FS mtime, so
    * with claims fully external a crashed compactor is recovered out of
    * band (the documented [[acquireMaintenance]] refuse-blind rule).
    */
  final class ExternalCpClaimBackend(storeRoot: String) extends ClaimBackend {
    private def slot(p: Path): Path = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(p.toString.getBytes(StandardCharsets.UTF_8))
      new Path(storeRoot, md.digest().take(16).map("%02x".format(_)).mkString)
    }
    def tryClaim(f: FileSystem, p: Path, token: String): Boolean =
      FsClaimBackend.tryClaim(f, slot(p), token)
    def readClaim(f: FileSystem, p: Path): Option[String] =
      FsClaimBackend.readClaim(f, slot(p))
    def releaseClaim(f: FileSystem, p: Path): Unit =
      FsClaimBackend.releaseClaim(f, slot(p))
  }

  /** The claim backend in effect for this JVM. A deployment swaps this
    * once at startup (e.g. to a conditional-put S3 backend) without
    * touching any merge code. Volatile: set-before-use from the driver.
    */
  @volatile var claimBackend: ClaimBackend = FsClaimBackend

  private def claimPath(stateDir: String, v: Int) = new Path(s"$stateDir/v$v/_CLAIM")

  // ---- held-lease heartbeat: loud single-writer contract ------------------
  //
  // The targeted claim's recovery rule — an incomplete claimed generation is
  // a crash leftover, redone wholesale — is right for crashes but used to
  // make CONTRACT VIOLATIONS silent: a second writer launched against a
  // single-writer family (media/MinHash/SimHash/substring/semantic) stole
  // the live merge's claim and the FIRST writer aborted with a generic
  // token-mismatch message, indistinguishable from crash recovery. The
  // lease distinguishes the two: every claim carries a `_LEASE` file naming
  // the writer (host:pid), renewed at each guarded write; a claimant that
  // finds a FRESH lease (younger than [[leaseTtlMs]]) fails fast with the
  // contract-violation message naming the live holder, while a stale lease
  // is a crash leftover and steals exactly as before. Diagnostics only —
  // correctness still rests on the claim read-back + per-write re-check
  // (a writer stalled past the TTL is stolen from and aborts at its next
  // guarded write, same as always).

  /** Default for [[leaseTtlMs]] when a state dir's `_CONFIG` pins none. */
  val DefaultLeaseTtlMs: Long = 15 * 60 * 1000L

  /** How old a lease may be and still prove a LIVE holder. Renewal happens
    * at every guarded write, so the TTL must exceed the longest expected
    * single Spark job between two guarded writes of a merge. PER-STORE,
    * pinned in `_CONFIG` like every other merge parameter: a deployment
    * with hour-long ingest jobs adds `"leaseTtlMs" -> "..."` to the params
    * map its merges pass [[checkConfig]] — the first merge persists it and
    * a later merge presenting a DIFFERENT ttl is refused exactly like a
    * mixed threshold (a process-global knob here would let two jobs
    * disagree about what "stale" means on the same store, the same species
    * of global the session-conf scoping work eliminated).
    *
    * Clock caveat: age compares the CLAIMANT's wall clock against the
    * STORAGE's mtime authority, so cross-clock skew shifts the window —
    * a claimant lagging the storage clock by d sees crashed leftovers as
    * live for an extra d. Size the TTL to absorb the deployment's worst
    * expected skew on top of the job-gap bound; the lease is diagnostics,
    * so skew can only delay recovery, never corrupt.
    */
  def leaseTtlMs(spark: SparkSession, stateDir: String): Long =
    readConfig(spark, stateDir).get("leaseTtlMs")
      .map(_.toLong).getOrElse(DefaultLeaseTtlMs)

  /** How long a complete-but-non-live generation (folded source, shadowed
    * duplicate) stays on disk for in-flight readers before the sweep may
    * erase it. Defaults to [[leaseTtlMs]], but is a SEPARATE per-store
    * `_CONFIG` key (`sweepGraceMs`): the two horizons answer unrelated
    * questions — the TTL bounds how long a silent WRITER is presumed
    * alive (shorter = faster crash recovery), the grace bounds how long a
    * READER's version listing stays valid (longer = long scans survive
    * compaction). Coupling them forced a deployment with hour-long probe
    * scans to also wait an hour before stealing from a crashed writer;
    * pinning `sweepGraceMs` decouples reader protection from recovery
    * latency. Operational key, same out-of-band pinning rule as
    * `leaseTtlMs` (see [[checkConfig]]).
    */
  def sweepGraceMs(spark: SparkSession, stateDir: String): Long =
    readConfig(spark, stateDir).get("sweepGraceMs")
      .map(_.toLong).getOrElse(leaseTtlMs(spark, stateDir))

  private def leasePath(stateDir: String, v: Int) = new Path(s"$stateDir/v$v/_LEASE")

  private def writerId: String =
    s"${java.net.InetAddress.getLocalHost.getHostName}:${ProcessHandle.current().pid()}"

  /** Best-effort (the lease is diagnostics, not a correctness fence — an
    * unrenewable lease must not fail a merge the claim protocol allows).
    */
  private def renewLease(f: FileSystem, stateDir: String, v: Int): Unit =
    try writeUtf8(f, leasePath(stateDir, v), writerId)
    catch { case scala.util.control.NonFatal(_) => () }

  /** LEGACY targeted claim of a SPECIFIC generation `v` — retained only
    * as a recovery helper and as the protocol specs' thief model; NOT part
    * of the allocation API. Every shipped family allocates via
    * [[claimFresh]], which never steals and never deletes: the
    * redo-wholesale rule here (an incomplete claimed vN with a stale lease
    * is a crash leftover, deleted and re-claimed in place) is the
    * single-writer recovery semantic, and wiring it into a multi-writer
    * family aborts N−1 of N concurrent merges (see the [[claimFresh]]
    * block comment). Crash leftovers under claimFresh are recovered by
    * [[sweepLeftovers]] instead; the specs keep exercising this path
    * because it is exactly what a hostile/failed second writer DOES to a
    * stalled one, and the fences must hold against it.
    *
    * Returns the writer token to present to [[assertWritable]] before
    * every later per-generation write. Throws IllegalStateException —
    * with nothing committed — when the version listing is stale (v
    * already committed by someone else) or a live concurrent writer wins
    * the claim race, at publish time or at the read-back.
    */
  private[graft] def claimGeneration(spark: SparkSession, stateDir: String, v: Int,
      commitTable: String = "labels"): String = {
    val f = fs(spark, stateDir)
    if (isCommitted(f, stateDir, v, commitTable))
      throw new IllegalStateException(
        s"GenState: generation v$v at $stateDir is already committed — a " +
          "concurrent writer ingested since this merge listed versions; " +
          "state dirs are single-writer (clean abort, nothing written)")
    val p = claimPath(stateDir, v)
    def abortCommitted(): Nothing =
      throw new IllegalStateException(
        s"GenState: generation v$v at $stateDir was committed by its " +
          "claimant while this steal was in flight — refusing to destroy a " +
          "committed generation; state dirs are single-writer (clean abort)")
    if (claimBackend.readClaim(f, p).isDefined) {
      // claimed and incomplete: either a crash leftover (redo wholesale —
      // the documented recovery rule) or a LIVE concurrent merge violating
      // the single-writer contract. The lease tells them apart: fresh ⇒
      // fail fast and LOUD, naming the holder, before destroying its work.
      val lp = leasePath(stateDir, v)
      // the lease read races a concurrent claimant's redo-wholesale delete
      // of the whole vN dir: a path vanishing mid-read means no live
      // holder, which is the steal path — not an I/O failure to surface
      val lease =
        try {
          if (!f.exists(lp)) None
          else Some((System.currentTimeMillis() -
            f.getFileStatus(lp).getModificationTime, readUtf8(f, lp)))
        } catch { case _: java.io.FileNotFoundException => None }
      val ttl = leaseTtlMs(spark, stateDir)
      lease.foreach { case (age, holder) =>
        if (age < ttl)
          throw new IllegalStateException(
            s"GenState: generation v$v at $stateDir is held by a LIVE writer " +
              s"($holder; lease renewed ${age} ms ago, ttl ${ttl} ms) — " +
              "this state family is single-writer by contract, so a concurrent " +
              "merge is in flight, not a crash leftover. Clean abort, nothing " +
              "written; retry after the holder commits (if the holder is known " +
              "dead, wait out the ttl or pin a lower leaseTtlMs in the store's " +
              "_CONFIG)")
      }
      // stale or absent lease: a crash leftover being redone wholesale.
      // Delete and re-claim — if the "leftover" was in fact a live writer
      // stalled past the ttl, the read-back below lets at most one of the
      // two claimants proceed. The entry commit check above is
      // check-then-act, so a stalled-but-LIVE claimant may commit in the
      // window between it and this delete; re-check immediately before the
      // destructive step (and again before re-claiming) so the thief never
      // deletes a COMMITTED generation — narrowing the race to the same
      // single-write granularity as the rest of the protocol.
      if (isCommitted(f, stateDir, v, commitTable)) abortCommitted()
      f.delete(new Path(s"$stateDir/v$v"), true)
      claimBackend.releaseClaim(f, p)
    }
    if (isCommitted(f, stateDir, v, commitTable)) abortCommitted()
    val token = java.util.UUID.randomUUID().toString
    if (!claimBackend.tryClaim(f, p, token))
      throw new IllegalStateException(
        s"GenState: lost the claim race for v$v at $stateDir — another " +
          "writer is ingesting into this state dir concurrently; state " +
          "dirs are single-writer (clean abort, nothing committed)")
    // read-back: a concurrent claimant's crash-leftover delete can have
    // removed this just-published claim before (or after) its own tryClaim
    // — the claim is only authoritative as READ, so verify it survived.
    if (!claimBackend.readClaim(f, p).contains(token))
      throw new IllegalStateException(
        s"GenState: the claim on v$v at $stateDir did not survive its own " +
          "publish (a concurrent claimant's redo-wholesale delete raced it) " +
          "— clean abort, nothing committed; state dirs are single-writer")
    renewLease(f, stateDir, v)
    token
  }

  /** Step 2 above: call immediately before EVERY per-generation write.
    * Throws IllegalStateException when the generation was committed by
    * another writer (never write into — or delete markers of — a
    * committed generation) or this writer's claim was taken over — the
    * merge must abort instead of corrupting a generation another writer
    * owns.
    */
  def assertWritable(spark: SparkSession, stateDir: String, v: Int,
      token: String, commitTable: String = "labels"): Unit = {
    val f = fs(spark, stateDir)
    if (isCommitted(f, stateDir, v, commitTable))
      throw new IllegalStateException(
        s"GenState: generation v$v at $stateDir was committed by another " +
          "writer while this merge was stalled — refusing to write into a " +
          "committed generation; state dirs are single-writer")
    assertClaimed(spark, stateDir, v, token)
  }

  /** The claim-token half of [[assertWritable]]. Kept callable on its own
    * for the commit write itself (where the commit table's `_SUCCESS`
    * cannot yet exist under a held claim — the thief deletes the dir
    * first), but operators should reach for [[assertWritable]].
    */
  def assertClaimed(spark: SparkSession, stateDir: String, v: Int,
      token: String): Unit = {
    val f = fs(spark, stateDir)
    val held = claimBackend.readClaim(f, claimPath(stateDir, v)).getOrElse("<missing>")
    if (held != token)
      throw new IllegalStateException(
        s"GenState: the claim on v$v at $stateDir was taken over by another " +
          "writer mid-merge (token mismatch) — aborting before commit; state " +
          "dirs are single-writer")
    // heartbeat: every guarded write proves the holder alive, so a second
    // writer arriving mid-merge gets the loud contract-violation abort
    // instead of silently stealing live work
    renewLease(f, stateDir, v)
  }

  /** Run INDEPENDENT per-generation table writes concurrently — the
    * guide-§2.6 overlap pattern applied to the merge/delete hot path. A
    * state generation writes several slim tables whose contents do not
    * depend on one another (e.g. the card family's docs/hashes/langs/
    * sketches, a delete generation's tombstones + empty peers); running
    * them sequentially pays one full driver round (plan + AQE stages +
    * commit + fence) PER TABLE, and the round-20 job census measured that
    * driver-side gap at more than half of every state query's wall clock
    * at bench scale. Submitting the writes from a small thread pool
    * overlaps planning, job scheduling and FS commit across tables (jobs
    * from different threads back-fill each other's idle scheduler time —
    * FIFO default); each write is still individually fenced, and the
    * caller keeps the COMMIT table write strictly AFTER this returns, so
    * the crash contract (commit `_SUCCESS` implies every peer table is
    * present) is unchanged.
    *
    * Failure semantics: waits for EVERY task (no half-cancelled write is
    * left racing a caller's next step), then rethrows the first failure —
    * same observable behavior as the sequential loop: the merge aborts,
    * the generation stays incomplete, recovery redoes it wholesale.
    * A caller interrupt keeps that drain going for at most
    * [[InterruptGraceMs]] more: a write that has not settled by then (a hung
    * FS call) is interrupted (`shutdownNow`) and left behind, and the
    * caller gets an InterruptedException instead of blocking forever.
    * Thread-locals: pool threads are created at submit time from the
    * calling thread, so Spark's inheritable job-group/description
    * properties carry over; fencedParquet sets its own description per
    * write anyway.
    */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
      var firstFailure: Option[Throwable] = None
      // set by the first caller interrupt: the drain's end (System.nanoTime)
      var deadline: Option[Long] = None
      futs.foreach { fut =>
        // wait for EVERY task even on failure or caller interrupt — an
        // abandoned still-running write racing the caller's abort path
        // would break the wait-for-every-task contract this method
        // documents. An interrupt is recorded (and the flag re-set after
        // the drain) and only bounds the rest of the drain: the remaining
        // fut.get() calls must not throw InterruptedException immediately,
        // so each retry loop below swallows further interrupts until its
        // future settles or the grace period is over.
        var done = false
        while (!done) {
          try {
            deadline match {
              case None => fut.get()
              case Some(end) =>
                fut.get(math.max(0L, end - System.nanoTime()), java.util.concurrent.TimeUnit.NANOSECONDS)
            }
            done = true
          } catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure.isEmpty) firstFailure = Some(e.getCause)
              done = true
            case _: InterruptedException =>
              if (deadline.isEmpty)
                deadline = Some(System.nanoTime() + InterruptGraceMs * 1000000L)
            case _: java.util.concurrent.TimeoutException =>
              pool.shutdownNow()
              Thread.currentThread().interrupt()
              val e = new InterruptedException(
                "GenState.inParallel: caller interrupted; a concurrent table write " +
                  s"did not settle within $InterruptGraceMs ms and was abandoned")
              firstFailure.foreach(e.addSuppressed)
              throw e
          }
        }
      }
      if (deadline.isDefined) Thread.currentThread().interrupt()
      firstFailure.foreach(e => throw e)
      if (deadline.isDefined)
        throw new InterruptedException(
          "GenState.inParallel: caller interrupted while waiting for " +
            "concurrent table writes (all writes were drained before abort)")
    } finally pool.shutdown()
  }

  /** How long [[inParallel]] keeps draining its writes after the caller is
    * interrupted: long enough for a healthy write to commit, short enough
    * that a hung one does not hold the caller's abort.
    */
  val InterruptGraceMs = 10000L

  /** FENCED per-generation table write — the guarded-write primitive of
    * the steal-capable (claimGeneration) families, closing the
    * stall-inside-a-guarded-write window the block comment above
    * describes. The DataFrame job writes into a stage dir INSIDE vN whose
    * name embeds the claim token's nonce (`.<table>.stage-<nonce>`); only
    * after the job lands does the writer re-verify its claim (and that no
    * sibling committed) and rename the stage into the final table path.
    * A thief's redo-wholesale delete of vN destroys a stalled loser's
    * stage along with everything else, so the loser either aborts at the
    * fence (stolen token / committed generation) or fails the rename on a
    * vanished source — its bytes can never land in the thief's rebuilt
    * generation. The fence holds for the commit table too: staging makes
    * the commit itself an atomic directory publish.
    */
  def fencedParquet(spark: SparkSession, stateDir: String, v: Int,
      table: String, token: String, commitTable: String = "labels",
      maintToken: Option[String] = None)(
      df: DataFrame): Unit = {
    // label the write job (guide §1.5) so bench/probe job censuses
    // attribute per-table; thread-local, restored after the write
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"genstate:$table:v$v")
    try publishMode match {
      case RenamePublish => fencedParquetRename(
        spark, stateDir, v, table, token, commitTable, maintToken)(df)
      case PointerPublish => fencedParquetPointer(
        spark, stateDir, v, table, token, commitTable, maintToken)(df)
    } finally sc.setJobDescription(prev)
  }

  private def fencedParquetRename(spark: SparkSession, stateDir: String, v: Int,
      table: String, token: String, commitTable: String,
      maintToken: Option[String])(
      df: DataFrame): Unit = {
    val stage = s"$stateDir/v$v/.$table.stage-${token.take(8)}"
    df.write.mode("overwrite").parquet(stage)
    // the fence: the staged bytes are worthless unless this writer STILL
    // holds the claim and nobody committed the generation meanwhile — and,
    // for a compact's commit write, unless it still holds the MAINTENANCE
    // lease (a stalled compactor stolen from mid-fold must abort here,
    // before its double-fold lands; see [[verifyMaintenance]]). On a
    // fence failure the loser removes its own stage (best-effort — inside
    // a stolen-and-committed generation it would otherwise linger as junk
    // until that generation is eventually folded and swept).
    val f = fs(spark, stateDir)
    try {
      assertWritable(spark, stateDir, v, token, commitTable)
      maintToken.foreach(verifyMaintenance(spark, stateDir, _))
    } catch {
      case e: IllegalStateException =>
        try f.delete(new Path(stage), true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    val dst = new Path(s"$stateDir/v$v/$table")
    f.delete(dst, true) // a prior abandoned attempt may have left one
    if (!f.rename(new Path(stage), dst))
      throw new IllegalStateException(
        s"GenState: fenced publish of $table into v$v at $stateDir failed — " +
          "the stage directory vanished (a concurrent steal deleted the " +
          "generation mid-publish); clean abort, nothing landed")
  }

  /** The rename-free fenced write (see the [[PublishMode]] block comment).
    * The job writes DIRECTLY to the nonce-named final dir — isolation
    * comes from the name, not from staging: a stalled loser's bytes land
    * only ever in ITS OWN `<table>.g<nonce>` dir, which no pointer will
    * name and which leaves disk with the vN dir (steal) or the sweep.
    * The fence then re-verifies the claim (and maintenance lease), and
    * the COMMIT table additionally flips the `_COMMIT` pointer with the
    * conditional put — exactly one writer's flip can land, so a loser
    * that survived every earlier check still aborts here instead of
    * publishing over the winner.
    */
  private def fencedParquetPointer(spark: SparkSession, stateDir: String, v: Int,
      table: String, token: String, commitTable: String,
      maintToken: Option[String])(
      df: DataFrame): Unit = {
    val f = fs(spark, stateDir)
    val n = nonceOf(token)
    val dst = s"$stateDir/v$v/$table.g$n"
    // overwrite: a prior crashed attempt under the SAME token may have
    // left a partial dir; other writers' dirs carry other nonces
    df.write.mode("overwrite").parquet(dst)
    def cleanup(): Unit =
      try f.delete(new Path(dst), true)
      catch { case scala.util.control.NonFatal(_) => () }
    try {
      assertWritable(spark, stateDir, v, token, commitTable)
      maintToken.foreach(verifyMaintenance(spark, stateDir, _))
    } catch {
      case e: IllegalStateException => cleanup(); throw e
    }
    if (table == commitTable) {
      val ptr = commitPtrPath(stateDir, v)
      // read-back like every claim publish: the conditional put is only
      // authoritative as READ (a thief's redo-wholesale delete can race
      // the flip; at most one writer ever sees its own nonce)
      if (!conditionalPut(f, ptr, n) || !readPointer(f, stateDir, v).contains(n)) {
        cleanup()
        throw new IllegalStateException(
          s"GenState: lost the pointer-commit race for v$v at $stateDir — " +
            "another writer's _COMMIT landed first (or this writer's flip " +
            "did not survive a concurrent steal); clean abort, nothing served")
      }
      // POST-FLIP AUDIT: the flip itself is blind — a writer that stalled
      // between the fence above and the put can have had its generation
      // stolen wholesale in the window (tables deleted, claim released),
      // and its pointer then lands on a gutted vN. Rename mode fails that
      // interleaving naturally (the stage dir is gone); here the writer
      // must detect it: if its claim no longer stands or the committed
      // dir is missing, RETRACT the just-written pointer and abort —
      // never report a commit that serves nothing. The audit narrows the
      // race to the same single-write granularity as the rest of the
      // protocol. The retraction is COMPARE-AND-DELETE on this writer's
      // own nonce, NOT a blind release: by the time a stalled auditor
      // wakes, a SECOND redo-wholesale steal can already have deleted its
      // stranded pointer with the vN dir, rebuilt the generation, and
      // committed the thief's own pointer — a blind release here would
      // delete that COMMITTED pointer and silently un-commit the thief's
      // batch (violating "never delete a committed generation"). If the
      // pointer no longer holds this writer's nonce, there is nothing of
      // ours left to retract; abort without touching it.
      val stolen =
        try !claimBackend.readClaim(f, claimPath(stateDir, v)).contains(token) ||
          !f.exists(new Path(s"$dst/_SUCCESS"))
        catch { case scala.util.control.NonFatal(_) => true }
      if (stolen) {
        try pointerBackend.releaseIfToken(f, ptr, n)
        catch { case scala.util.control.NonFatal(_) => () }
        cleanup()
        throw new IllegalStateException(
          s"GenState: the pointer flip for v$v at $stateDir landed on a " +
            "STOLEN generation (claim taken over / tables deleted between " +
            "the fence and the put) — pointer retracted, clean abort; the " +
            "batch retry re-merges under its key")
      }
    }
  }

  // ---- multi-writer optimistic allocation ----------------------------------
  //
  // [[claimGeneration]] targets a SPECIFIC version and treats an existing
  // claim on an incomplete generation as a crash leftover to redo wholesale
  // — the right recovery rule for a single writer, but fatal for N PARALLEL
  // ingest jobs: each would "recover" its live siblings' in-flight
  // generations, so N concurrent merges produced N−1 aborts. [[claimFresh]]
  // is the multi-writer allocator: it NEVER steals and NEVER deletes. The
  // candidate number comes from ALL vN dirs on disk — complete, in-flight,
  // or abandoned — so it cannot collide with a live sibling or a crash
  // leftover; a lost claim race just re-lists and takes the next slot, so N
  // concurrent writers serialize into N consecutive fresh generations.
  //
  // What changes vs the single-writer rule: a writer that CRASHES mid-merge
  // now leaves its claimed incomplete vN dir behind instead of being redone
  // in place (no later merge will touch a claimed number it doesn't own).
  // The leftover is inert — completeVersions ignores it, reads never see it
  // — and it is swept physically by a later compaction/sweep once its lease
  // AND claim are stale (a fresh lease marks a live in-flight writer; see
  // [[abandonedVersions]]). Compaction itself is CONCURRENT-SAFE maintenance
  // since round 17 — serialized per store by the `_MAINT` lease, fenced at
  // its commit, with folded sources retained under the grace horizon so
  // racing readers and probes never lose files mid-scan (see the
  // maintenance-lease section below). The batch itself recovers exactly as
  // before: the retry re-merges under its batch key into a fresh generation.
  //
  // This allocator is directly correct for modalities whose generation
  // content is independent of the concurrently-live state — the write-only
  // partial aggregate families (d18 exact, q65 views), where any
  // interleaving of commits folds to the same answer. A probe-at-merge
  // family (its merge computes pairs against the live union AT MERGE TIME,
  // so two concurrent merges each miss the sibling batch's cross pairs)
  // ALSO uses it by pairing the allocation with the probe-manifest
  // reconciliation below ([[writeProbed]]/[[readProbed]]): the media
  // chassis since round 16, and since round 17 EVERY text family too —
  // MinHash/SimHash/embedding/semantic repair both the missing cross pairs
  // and the label-fold split through [[LabelState.reconInputs]] +
  // [[LabelState.deletedAwareLabels]]'s splice, and substring repairs its
  // per-pair cross hits directly. The targeted [[claimGeneration]] steal
  // (and its loud-lease contract) remains available for single-writer
  // deployments and legacy callers, but no shipped ingest path requires it.

  /** Every vN directory on disk — complete, in-flight, or abandoned. */
  private def allVersionDirs(f: FileSystem, stateDir: String): Seq[Int] = {
    val root = new Path(stateDir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.length > 1 &&
        n.drop(1).forall(_.isDigit) => n.drop(1).toInt }
      .sorted
  }

  /** Claim the next FREE generation number for this writer without ever
    * stealing (see the block comment above). Returns (version, token); the
    * token fences every later per-generation write exactly as
    * [[claimGeneration]]'s does. Throws only when `maxAttempts` successive
    * claim races are lost — pathological contention, not a protocol state.
    */
  def claimFresh(spark: SparkSession, stateDir: String,
      commitTable: String = "labels", maxAttempts: Int = 64): (Int, String) = {
    val f = fs(spark, stateDir)
    var attempt = 0
    var candidate = allVersionDirs(f, stateDir).lastOption.map(_ + 1).getOrElse(0)
    while (attempt < maxAttempts) {
      val p = claimPath(stateDir, candidate)
      val token = java.util.UUID.randomUUID().toString
      // defensive commit check: a committed generation always leaves a vN
      // dir, so the all-dirs candidate cannot normally collide with one —
      // but an external ClaimBackend (CAS row) publishes claims OUTSIDE the
      // dir tree, so verify before contending rather than trust the listing.
      // Then publish + read-back, as in claimGeneration: the local-FS
      // exclusive create is best-effort, so only a read-back seeing this
      // writer's own token proves the claim held.
      if (!isCommitted(f, stateDir, candidate, commitTable) &&
          claimBackend.tryClaim(f, p, token) &&
          claimBackend.readClaim(f, p).contains(token)) {
        renewLease(f, stateDir, candidate)
        return (candidate, token)
      }
      attempt += 1
      // lost the race (or a stale listing): someone else owns this number —
      // never contest it, take the slot after whatever is on disk
      candidate = math.max(candidate + 1,
        allVersionDirs(f, stateDir).lastOption.map(_ + 1).getOrElse(0))
    }
    throw new IllegalStateException(
      s"GenState: lost $maxAttempts consecutive claim races at $stateDir — " +
        "pathological writer contention; raise maxAttempts or reduce " +
        "parallel ingest fan-in")
  }

  /** Walk back a [[claimFresh]] claim that wrote NOTHING but the claim
    * itself (e.g. a post-claim idempotency re-check found the batch key
    * already ingested by a concurrent sibling). Refuses to touch a
    * committed generation.
    */
  def abandonFresh(spark: SparkSession, stateDir: String, v: Int,
      commitTable: String = "labels"): Unit = {
    val f = fs(spark, stateDir)
    require(!isCommitted(f, stateDir, v, commitTable),
      s"GenState.abandonFresh: v$v at $stateDir is committed — refusing")
    f.delete(new Path(s"$stateDir/v$v"), true)
    claimBackend.releaseClaim(f, claimPath(stateDir, v))
  }

  /** The shared multi-writer allocation prologue of the write-only
    * modalities' merges/deletes: fast-path idempotency check →
    * [[claimFresh]] → post-claim re-check (a concurrent sibling may have
    * committed the SAME batch key between the fast path and the claim —
    * abandon and no-op) → marker write. Returns Left(latest complete
    * generation) when the batch key is already ingested, Right((version,
    * token)) when the caller owns a fresh claimed generation.
    *
    * KEY DISCIPLINE (the public contract every merge entry point inherits):
    * a batch key must be 1:1 with batch CONTENT — the same key always
    * names the same rows. Keys are how exactly-once survives re-delivery:
    * a key seen before makes the whole merge a no-op, and a generation
    * that commits concurrently under an already-recorded key is shadowed
    * at read time. Reusing one key for DIFFERENT content therefore drops
    * the second batch silently-but-for-a-log-warning; generate keys from
    * the batch identity (stream batchId, source filename, ingest date),
    * never from a counter that can collide across restarts.
    */
  def allocateFresh(spark: SparkSession, stateDir: String,
      batchKey: Option[String], commitTable: String = "labels"): Either[Int, (Int, String)] = {
    // validate BEFORE the fast path and the claim: an invalid key (e.g.
    // containing '/') would otherwise silently never match ingestedKeys,
    // then throw from writeIngestMarker AFTER claimFresh succeeded —
    // leaving the freshly-claimed empty vN dir behind as a leftover
    batchKey.foreach(requireValidKey)
    batchKey.foreach { k =>
      if (ingestedKeys(spark, stateDir, commitTable).contains(k))
        return Left(latestVersion(spark, stateDir, commitTable).get)
    }
    val (next, claim) = claimFresh(spark, stateDir, commitTable)
    batchKey.foreach { k =>
      if (ingestedKeys(spark, stateDir, commitTable).contains(k)) {
        abandonFresh(spark, stateDir, next, commitTable)
        return Left(latestVersion(spark, stateDir, commitTable).get)
      }
      writeIngestMarker(spark, stateDir, next, k, claim, commitTable)
    }
    Right((next, claim))
  }

  /** Every vN dir that is NOT a live complete generation, other than
    * `except`, that is SAFE to delete under CONCURRENT readers and
    * writers — compaction is no longer quiesced maintenance, so the
    * sweep set must respect two liveness guards:
    *
    *   - **Incomplete dirs**: a crash leftover unless its `_LEASE` or
    *     `_CLAIM` is still fresh — deleting a live merge's in-flight dir
    *     mid-write would let its table job recreate the dir and commit a
    *     torn generation (pairs with no sigs). The live merge completes
    *     normally and a later sweep folds it.
    *
    *   - **Complete non-live dirs** (manifest-folded sources, shadowed
    *     duplicates, shadowed double-folds): swept only after the GRACE
    *     horizon — [[sweepGraceMs]], defaulting to the store TTL — has passed since the dir became
    *     non-live. A reader (or a merge's probe) whose version listing
    *     predates the fold can still be mid-scan over these parquet dirs;
    *     deleting them under it fails the job (Spark's task retries
    *     re-read the same splits, so a vanished file is a permanent
    *     failure, the availability cost quiesce used to hide). The grace
    *     stamp is the COMMIT time of the generation whose manifest folded
    *     the dir (newest folding wins; a never-folded shadowed dup uses
    *     its own commit time — it was never servable, the stamp is pure
    *     conservatism). Snapshot contract, same clock as the lease: a
    *     read must complete within the store TTL of its version listing.
    *     The GDPR purge path overrides the grace explicitly
    *     ([[sweepLeftovers]] `graceMs = 0`) — immediate erasure is a
    *     documented quiesce-worthy operation there.
    */
  def abandonedVersions(spark: SparkSession, stateDir: String,
      commitTable: String = "labels", except: Int = -1,
      graceMs: Long = -1L): Seq[Int] = {
    val f = fs(spark, stateDir)
    val ttl = leaseTtlMs(spark, stateDir)
    val grace = if (graceMs >= 0) graceMs else sweepGraceMs(spark, stateDir)
    val now = System.currentTimeMillis()
    def mtimeOf(p: Path): Option[Long] =
      try { if (f.exists(p)) Some(f.getFileStatus(p).getModificationTime) else None }
      catch { case _: java.io.FileNotFoundException => None }
    def fresh(p: Path): Boolean = mtimeOf(p).exists(now - _ < ttl)
    val live = completeVersions(spark, stateDir, commitTable)
    val liveSet = live.toSet
    def commitMtime(v: Int): Option[Long] =
      mtimeOf(new Path(s"$stateDir/v$v/$commitTable/_SUCCESS"))
        // pointer-published generation: the _COMMIT object's own mtime is
        // the true commit instant — the pointed dir's job _SUCCESS lands
        // BEFORE the flip, and a writer stalling between the two would
        // otherwise date the generation's grace window too EARLY (stamps
        // may only delay sweeps, never shorten them). The pointed
        // _SUCCESS stays as the fallback for a pointer store with no FS
        // mtime (conservativeness caveat: such a deployment sizes its
        // grace to absorb the job-to-flip gap).
        .orElse(mtimeOf(commitPtrPath(stateDir, v)))
        .orElse(readPointer(f, stateDir, v).flatMap(n =>
          mtimeOf(new Path(s"$stateDir/v$v/$commitTable.g$n/_SUCCESS"))))
    // v became non-live when the generation whose manifest lists it
    // committed; transitive manifests make the stamp conservative (a later
    // compact's commit refreshes the lineage's grace), which only ever
    // DELAYS a sweep, never endangers a reader
    val liveManifests = live.map(g => g -> readManifest(f, stateDir, g))
    val foldStamp: Map[Int, Long] = liveManifests.flatMap { case (g, m) =>
      val commit = commitMtime(g)
      m.flatMap(v => commit.map(v -> _))
    }.groupMapReduce(_._1)(_._2)(math.max)
    // a complete non-live dir referenced by NO live manifest became
    // non-live either at its own commit (a duplicate-key re-delivery —
    // never servable, no reader ever held it) or when a TWIN fold
    // shadowed it (a lost-race double-fold that WAS live and served until
    // the survivor committed — its own commit can be arbitrarily older
    // than the shadowing moment). The walk cannot cheaply tell which, so
    // the stamp is conservative: no earlier than the newest live fold's
    // commit — delaying a dup's sweep by at most one compact cycle and
    // giving a shadowed double-fold's readers the full grace.
    val lastFoldCommit: Long = liveManifests
      .collect { case (g, m) if m.nonEmpty => commitMtime(g) }
      .flatten.maxOption.getOrElse(0L)
    allVersionDirs(f, stateDir).filterNot(liveSet).filterNot(_ == except)
      .filter { v =>
        val complete = isCommitted(f, stateDir, v, commitTable)
        if (!complete) {
          // liveness evidence for an in-flight dir is FS mtimes (lease or
          // in-tree claim). An EXTERNAL claim backend publishes no in-tree
          // claim file, so when the lease write also failed (best-effort)
          // there is NO mtime authority at all — then a held backend claim
          // means "in flight, age unknown": refuse to sweep blind, the
          // same rule acquireMaintenance applies to unstat-able leases
          // (recovery of a truly crashed writer is the backend's
          // out-of-band release, as documented on ExternalCpClaimBackend).
          val noMtimeAuthority = mtimeOf(leasePath(stateDir, v)).isEmpty &&
            mtimeOf(claimPath(stateDir, v)).isEmpty
          !(fresh(leasePath(stateDir, v)) || fresh(claimPath(stateDir, v)) ||
            (noMtimeAuthority &&
              claimBackend.readClaim(f, claimPath(stateDir, v)).isDefined))
        } else {
          val becameNonLive = foldStamp.getOrElse(v,
            math.max(commitMtime(v).getOrElse(0L), lastFoldCommit))
          now - becameNonLive >= grace
        }
      }
  }

  /** Physically delete everything [[abandonedVersions]] deems safe —
    * the sweep step shared by every family's compact (and callable on
    * its own as lightweight maintenance: it takes no lease, because the
    * grace horizon already protects concurrent readers and deleting an
    * expired dir twice is a no-op). `graceMs` overrides the store-TTL
    * grace for complete non-live dirs; the GDPR purge passes 0 for
    * immediate physical erasure (documented there as requiring reader
    * quiesce for exactly this final step). Incomplete in-flight dirs
    * keep the lease/claim liveness guard regardless.
    */
  def sweepLeftovers(spark: SparkSession, stateDir: String,
      commitTable: String = "labels", except: Int = -1,
      graceMs: Long = -1L): Unit = {
    deleteVersions(spark, stateDir,
      abandonedVersions(spark, stateDir, commitTable, except, graceMs))
    sweepOrphanNonceDirs(spark, stateDir, commitTable)
  }

  /** Nonce suffix of a `<table>.g<nonce>` dir name, when it has the exact
    * [[nonceOf]] shape (13 chars of the UUID claim token: 8 hex, dash,
    * 4 hex); None for plain rename-mode table dirs and markers.
    */
  private def nonceSuffixOf(name: String): Option[String] = {
    val i = name.lastIndexOf(".g")
    if (i <= 0) None
    else {
      val s = name.substring(i + 2)
      if (s.length == 13 && s(8) == '-' &&
        s.indices.forall(j => j == 8 || "0123456789abcdef".contains(s(j))))
        Some(s)
      else None
    }
  }

  /** Sweep pass 2, pointer mode: orphaned LOSER nonce dirs INSIDE a
    * COMMITTED generation. A stalled targeted-claim loser under
    * [[PointerPublish]] writes directly into `<table>.g<loserNonce>`; if a
    * thief re-claimed the vN, rebuilt it, and pointer-committed while the
    * loser stalled, the loser's dirs now sit inside a LIVE generation —
    * the abandoned-version walk never touches live vNs, so without this
    * pass they persist until the generation itself is compacted away
    * (unbounded junk on a busy store). Any `.g<nonce>` dir whose nonce
    * differs from the committed pointer's is unservable BY CONSTRUCTION —
    * no pointer names it and [[tablePath]] never resolves to it — so the
    * only liveness concern is the loser still mid-write: its dir mtime is
    * fresh while it writes (and its fence will abort it regardless, the
    * same way the thief's own redo-wholesale delete would have), so the
    * lease TTL is the deletion horizon. Metadata-only: one listStatus per
    * pointer-committed generation.
    */
  private def sweepOrphanNonceDirs(spark: SparkSession, stateDir: String,
      commitTable: String): Unit = {
    val f = fs(spark, stateDir)
    val ttl = leaseTtlMs(spark, stateDir)
    val now = System.currentTimeMillis()
    allVersionDirs(f, stateDir).foreach { v =>
      readPointer(f, stateDir, v).foreach { n =>
        // only generations whose pointer names a real committed dir — a
        // pointer stranded on a gutted vN is the steal path's business
        if (f.exists(new Path(s"$stateDir/v$v/$commitTable.g$n/_SUCCESS"))) {
          val kids =
            try f.listStatus(new Path(s"$stateDir/v$v"))
            catch { case _: java.io.FileNotFoundException =>
              Array.empty[org.apache.hadoop.fs.FileStatus] }
          kids.foreach { st =>
            if (st.isDirectory &&
              nonceSuffixOf(st.getPath.getName).exists(_ != n) &&
              now - st.getModificationTime >= ttl)
              try f.delete(st.getPath, true)
              catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      }
    }
  }

  // ---- maintenance lease: concurrent-safe compaction -----------------------
  //
  // Ingest is multi-writer (fresh claims + probe-manifest reconciliation);
  // compaction used to be the last QUIESCED operation. What actually breaks
  // under two concurrent compacts is not the generation protocol — each
  // claims its own fresh number — but the FOLD: both list the same live
  // sources and both fold them, so two complete generations carry the same
  // content (double counts in the partial-aggregate families, doubled index
  // in the pair-graph ones). Compaction is therefore serialized by a store-
  // level `_MAINT` lease: the second compactor fails fast naming the live
  // holder (same loudness contract as the generation `_LEASE`), a stale
  // lease — a crashed compactor — is stolen, and the compactor's COMMIT
  // re-verifies the lease at the fence ([[fencedParquet]]'s `maintToken`),
  // so a stalled compactor stolen from mid-fold aborts at its commit
  // instead of landing a double-fold. The residual crash window (a
  // compactor dying between its commit rename and nothing — the commit IS
  // the last step) is closed read-side by [[overlapShadowed]]: a lost-race
  // double-fold's manifest overlaps the survivor's and is excluded from
  // every serve, exactly how duplicate-key re-deliveries are handled.
  // Compact-vs-INGEST needs no lease at all: a merge that commits after
  // the compactor's version listing simply stays live beside the compacted
  // generation (its manifest doesn't list it), and the `_PROBED`
  // reconciliation treats the pair as genuinely concurrent — the next
  // compact folds them together. Renewal rides [[verifyMaintenance]]
  // (called at every maintenance-fenced write), so like the generation
  // lease the TTL must exceed the longest single fold job between two
  // guarded writes.

  private def maintPath(stateDir: String) = new Path(s"$stateDir/_MAINT")

  /** Acquire the store's maintenance lease or fail fast naming the live
    * holder; a stale lease (older than the store TTL) is stolen. Returns
    * the token every maintenance-fenced write must present.
    */
  def acquireMaintenance(spark: SparkSession, stateDir: String): String = {
    val f = fs(spark, stateDir)
    val p = maintPath(stateDir)
    val ttl = leaseTtlMs(spark, stateDir)
    def attempt(): Option[String] = {
      val token = s"$writerId ${java.util.UUID.randomUUID().toString}"
      if (claimBackend.tryClaim(f, p, token) &&
          claimBackend.readClaim(f, p).contains(token)) Some(token) else None
    }
    attempt().getOrElse {
      // held-ness comes from the BACKEND (a CAS row publishes claims
      // outside the dir tree); staleness authority is the FS mtime, like
      // the generation lease. A held claim whose age cannot be stat'ed is
      // "held, age unknown" — fail fast rather than steal blind (such a
      // deployment recovers a crashed compactor by releasing the row out
      // of band).
      val holder = claimBackend.readClaim(f, p).getOrElse(
        // not held at all: this writer lost a transient claim/read-back
        // race (a releasing sibling deleted the publish under it)
        throw new IllegalStateException(
          s"GenState: lost the maintenance-lease race at $stateDir — a " +
            "concurrent compactor's claim raced this one; clean abort, " +
            "nothing written (retry is safe)"))
      val age =
        try {
          if (f.exists(p))
            Some(System.currentTimeMillis() - f.getFileStatus(p).getModificationTime)
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      age match {
        case Some(a) if a >= ttl => () // stale: a crashed compactor — steal below
        case Some(a) =>
          throw new IllegalStateException(
            s"GenState: maintenance on $stateDir is held by a LIVE compactor " +
              s"($holder; lease renewed $a ms ago, ttl $ttl ms) — compaction " +
              "is serialized per store. Clean abort, nothing written; retry " +
              "after the holder finishes (if the holder is known dead, wait " +
              "out the ttl or pin a lower leaseTtlMs in the store's _CONFIG)")
        case None =>
          throw new IllegalStateException(
            s"GenState: maintenance on $stateDir is held ($holder) and its " +
              "lease age cannot be determined (non-filesystem claim backend) " +
              "— refusing to steal blind; release the claim out of band if " +
              "the holder is known dead")
      }
      // stale (a crashed compactor) or vanished between the attempts: steal.
      // Re-stat IMMEDIATELY before the destructive release — a concurrent
      // stealer may have re-claimed in the window since the staleness read,
      // and deleting ITS fresh lease would let two compactors both believe
      // they hold maintenance. The narrowing is the same as the generation
      // claim's: a residual double-acquire (re-stat-then-delete is still
      // check-then-act) collapses at the commit fence — verifyMaintenance
      // re-reads the lease before any fold can land, and the read-side
      // manifest-overlap shadow covers even a fence-straddling crash.
      val nowFresh =
        try f.exists(p) && System.currentTimeMillis() -
          f.getFileStatus(p).getModificationTime < ttl
        catch { case _: java.io.FileNotFoundException => false }
      if (nowFresh)
        throw new IllegalStateException(
          s"GenState: lost the maintenance-lease steal race at $stateDir — " +
            "another compactor re-claimed the stale lease first; clean abort")
      claimBackend.releaseClaim(f, p)
      attempt().getOrElse(throw new IllegalStateException(
        s"GenState: lost the maintenance-lease race at $stateDir — another " +
          "compactor claimed it concurrently; clean abort, nothing written"))
    }
  }

  /** The maintenance fence: throws unless `token` still holds `_MAINT`
    * (a stale-lease steal revokes a stalled compactor here, before its
    * double-fold can commit), and renews the lease mtime — every
    * maintenance-fenced write is a heartbeat, mirroring the generation
    * lease contract.
    */
  def verifyMaintenance(spark: SparkSession, stateDir: String, token: String): Unit = {
    val f = fs(spark, stateDir)
    val p = maintPath(stateDir)
    if (!claimBackend.readClaim(f, p).contains(token))
      throw new IllegalStateException(
        s"GenState: the maintenance lease on $stateDir was taken over " +
          "mid-compact (token mismatch — this compactor stalled past the ttl " +
          "and was stolen from) — aborting before the fold can double-commit")
    // renewal is best-effort, but setTimes is UNSUPPORTED (silent no-op or
    // throw) on some object stores — an unrenewed mtime would make any
    // compact spanning more than one TTL between fenced writes silently
    // stealable mid-fold. Verify the mtime actually advanced; when it did
    // not, fall back to rewriting the file content (token unchanged), the
    // same write-based heartbeat renewLease uses. A rewrite racing a
    // stale-lease thief can only restore THIS holder's token over the
    // thief's — then exactly one of the two aborts at its next fence, the
    // same single-winner collapse the steal path already documents.
    val now = System.currentTimeMillis()
    val renewed =
      try { f.setTimes(p, now, -1); f.getFileStatus(p).getModificationTime >= now - 1000L }
      catch { case scala.util.control.NonFatal(_) => false }
    // only rewrite a lease file that EXISTS on this filesystem: a fully
    // external claim backend has no FS _MAINT object at all, and creating
    // one here would graft a half-authoritative mtime onto a store whose
    // crash recovery is documented as out-of-band. A read-back MISMATCH
    // after the holder's own successful rewrite is not a torn write (the
    // rewrite closed) — it means a rival legitimately stole the stale
    // lease in the window between the rewrite and the read-back, and
    // "repairing" by rewriting again would stomp the live thief's token
    // (dueling heartbeats, wasted double-folds). Abort with the same
    // taken-over error the fence above throws: exactly one of the two
    // compactors survives, the single-winner collapse the steal path
    // documents. A transient write FAILURE, by contrast, is retried once
    // — but only when the prior exists(p) was confirmed true; retrying
    // blind after a failed exists() could create an _MAINT object on a
    // store whose claims live entirely in an external backend.
    if (!renewed) {
      var existed = false
      try {
        if (f.exists(p)) {
          existed = true
          writeUtf8(f, p, token)
          if (!claimBackend.readClaim(f, p).contains(token))
            throw new IllegalStateException(
              s"GenState: the maintenance lease on $stateDir was taken over " +
                "mid-compact (a rival stole the stale lease during this " +
                "holder's heartbeat rewrite) — aborting before the fold can " +
                "double-commit")
        }
      } catch {
        case e: IllegalStateException => throw e
        case scala.util.control.NonFatal(_) if existed =>
          try writeUtf8(f, p, token) catch { case scala.util.control.NonFatal(_) => () }
        case scala.util.control.NonFatal(_) => ()
      }
    }
  }

  /** Release is conditional on still holding the lease — a stolen-from
    * compactor must not release its thief's lease.
    */
  def releaseMaintenance(spark: SparkSession, stateDir: String, token: String): Unit = {
    val f = fs(spark, stateDir)
    val p = maintPath(stateDir)
    if (claimBackend.readClaim(f, p).contains(token))
      claimBackend.releaseClaim(f, p)
  }

  /** Run `body` (a family's compact fold) under the store's maintenance
    * lease. After the body returns, a lost lease is AUDITED loudly rather
    * than rolled back — the commit already landed, and [[overlapShadowed]]
    * guarantees at most one of the racing folds is ever served, so a
    * rollback could only destroy the generation a concurrent thief chose
    * to fold.
    */
  def withMaintenance[T](spark: SparkSession, stateDir: String)(
      body: String => T): T = {
    val token = acquireMaintenance(spark, stateDir)
    try {
      val r = body(token)
      if (!claimBackend.readClaim(fs(spark, stateDir), maintPath(stateDir))
            .contains(token))
        log.warn(s"GenState: the maintenance lease on $stateDir was lost " +
          "AFTER this compact committed (stalled past the ttl; a thief may " +
          "be folding concurrently). The read-side double-fold shadow " +
          "(overlapShadowedVersions) serves at most one of the racing folds.")
      r
    } finally releaseMaintenance(spark, stateDir, token)
  }

  /** The compaction commit protocol every state family shares: under the
    * maintenance lease, list the live versions (an empty state fails,
    * naming `family`), claim a fresh generation `next`, and run
    * `body(versions, next, claim)` — it writes `next`'s peer tables and
    * returns the commit table's frame. Then record the `_COMPACTED`
    * manifest, carry the folded ingest markers, land the commit write
    * through the fence (claim AND maintenance lease re-verified), sweep,
    * and return `next`. The commit frame runs after `body` returns, so a
    * frame the body caches must stay cached until `fold` returns.
    *
    * The claim is a FRESH allocation, not the targeted one: `versions`
    * excludes duplicate-key shadowed generations, so `versions.last + 1`
    * can collide with a committed (shadowed) dir and a targeted claim
    * would abort every compact until an unrelated ingest landed past it;
    * a fresh number never collides, and the sweep removes every non-live
    * dir wherever it sits. The manifest and the markers land BEFORE the
    * commit, so a complete compacted generation always carries its folded
    * history and its batch keys (re-delivery stays a no-op after
    * maintenance), whatever the crash point. Both are writes into the
    * uncommitted `next`, inert until the commit, so their order relative
    * to the body's own pre-commit writes is free. The sweep honours the
    * reader grace: the just-folded sources leave disk once the store TTL
    * has passed, stale leftovers now.
    */
  def fold(spark: SparkSession, stateDir: String, commitTable: String,
      family: String)(body: (Seq[Int], Int, String) => DataFrame): Int =
    withMaintenance(spark, stateDir) { maint =>
      val versions = completeVersions(spark, stateDir, commitTable)
      require(versions.nonEmpty, s"$family: no state at $stateDir")
      val (next, claim) = claimFresh(spark, stateDir, commitTable)
      val commit = body(versions, next, claim)
      writeCompactManifest(spark, stateDir, next, versions, claim, commitTable)
      copyIngestMarkers(spark, stateDir, versions, next, claim, commitTable)
      fencedParquet(spark, stateDir, next, commitTable, claim, commitTable,
        maintToken = Some(maint))(commit)
      sweepLeftovers(spark, stateDir, commitTable, except = next)
      next
    }

  // ---- probe manifests (multi-writer pair-graph reconciliation) -----------
  //
  // A probe-at-merge modality computes each generation's pairs against the
  // live union it SAW at merge time. Under fresh allocation two concurrent
  // merges each miss the sibling batch's cross pairs — the reason those
  // families historically kept the single-writer targeted claim. The probe
  // manifest closes that gap instead: every generation records WHICH
  // generations its merge probed (`_PROBED`, written before the commit so a
  // complete generation always carries it), and the read/compact side
  // RECONCILES — for any two live generations where neither probed the
  // other, the missing cross pairs are recomputed from their frozen
  // signature tables. Sequential histories reconcile nothing (every merge
  // probes all live predecessors); genuinely-concurrent commits pay one
  // bounded batch×batch probe, made durable at the next compact.

  /** Record on (not-yet-complete) generation `v` the generations whose
    * state its merge probed (including itself). Claim-guarded; call before
    * the commit write.
    */
  def writeProbed(spark: SparkSession, stateDir: String, v: Int,
      probed: Seq[Int], token: String, commitTable: String = "labels"): Unit = {
    assertWritable(spark, stateDir, v, token, commitTable)
    writeUtf8(fs(spark, stateDir), new Path(s"$stateDir/v$v/_PROBED"),
      probed.distinct.sorted.mkString("\n"))
  }

  /** The probe manifest of generation `v`, or None for a generation written
    * before the manifest existed — whose single-writer history guarantees
    * it probed everything numbered below it.
    */
  def readProbed(spark: SparkSession, stateDir: String, v: Int): Option[Set[Int]] = {
    val f = fs(spark, stateDir)
    val p = new Path(s"$stateDir/v$v/_PROBED")
    if (!f.exists(p)) None
    else Some(readUtf8(f, p).split('\n').toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet)
  }

  /** Each live generation's probe manifest; a pre-manifest generation's
    * single-writer history guarantees it probed everything below it.
    */
  def probedOf(spark: SparkSession, stateDir: String,
      live: Seq[Int]): Map[Int, Set[Int]] =
    live.map(v => readProbed(spark, stateDir, v)
      .fold(v -> (live.filter(_ < v).toSet + v))(p => v -> p)).toMap

  /** The generation pairs neither of which probed the other — genuinely
    * concurrent commits whose cross pairs no stored generation carries.
    * Empty for every sequential history.
    */
  def unreconciledPairs(live: Seq[Int],
      probed: Map[Int, Set[Int]]): Seq[(Int, Int)] =
    for {
      i <- live.indices
      j <- i + 1 until live.size
      a = live(i); b = live(j)
      if !probed(b).contains(a) && !probed(a).contains(b)
    } yield (a, b)

  /** The DIRECT folded sources of a compacted generation (the `_FOLDED`
    * sidecar — [[writeCompactManifest]]'s `folded` argument, without the
    * transitive inheritance or the shadowed dups `_COMPACTED` carries).
    * None for a non-compacted generation or one written before the
    * sidecar existed — callers must treat None conservatively.
    */
  def readDirectFolded(spark: SparkSession, stateDir: String,
      v: Int): Option[Set[Int]] = {
    val f = fs(spark, stateDir)
    val p = new Path(s"$stateDir/v$v/_FOLDED")
    if (!f.exists(p)) None
    else Some(readUtf8(f, p).split('\n').toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet)
  }

  /** Classify the genuinely-concurrent live pairs into
    * `(blind, spliceOnly)`:
    *
    *   - **blind**: neither generation ever saw the other's CONTENT —
    *     their cross pairs exist in no stored table and must be
    *     recomputed from the frozen signature tables (the original
    *     `_PROBED` reconciliation).
    *   - **spliceOnly**: a maintenance race — one side is a FOLD whose
    *     direct sources the other side PROBED, so every cross edge
    *     between them is ALREADY in the prober's stored pair table (a
    *     fold is content-preserving modulo tombstone purge, and purged
    *     rows are filtered at read regardless). Only the label-fold
    *     splice is owed; a family without label state skips these pairs
    *     entirely. Without this split, ONE merge racing a routine
    *     compact would degrade every read to a corpus×batch re-probe
    *     (the compacted generation holds the whole folded corpus) until
    *     the next compact.
    */
  def classifyUnreconciled(spark: SparkSession, stateDir: String,
      live: Seq[Int]): (Seq[(Int, Int)], Seq[(Int, Int)]) = {
    val probed = probedOf(spark, stateDir, live)
    def covered(fold: Int, prober: Int): Boolean =
      readDirectFolded(spark, stateDir, fold).exists(d =>
        d.nonEmpty && d.subsetOf(probed(prober)))
    unreconciledPairs(live, probed).partition { case (a, b) =>
      !(covered(a, b) || covered(b, a))
    }
  }

  /** The pinned merge parameters of a state dir (see [[checkConfig]]) —
    * empty before the first merge. Read-side consumers (e.g. pair
    * reconciliation, which must verify at the SAME threshold every merge
    * pinned) get the regime from here instead of trusting a caller.
    */
  def readConfig(spark: SparkSession, stateDir: String): Map[String, String] = {
    val f = fs(spark, stateDir)
    val p = new Path(s"$stateDir/_CONFIG")
    if (!f.exists(p)) Map.empty
    else readUtf8(f, p).split('\n').toSeq.map(_.trim).filter(_.contains("="))
      .map { line =>
        val i = line.indexOf('=')
        line.take(i) -> line.drop(i + 1)
      }.toMap
  }

  /** Pin the merge parameters: persisted to `_CONFIG` on first use,
    * require()d identical on every later merge into the same state dir.
    *
    * MULTI-WRITER SAFE: `_CONFIG` is the one file CONCURRENT first merges
    * both touch, so the publish must be atomic AND no-replace — a plain
    * create+write would let the sibling read a torn/empty file mid-write,
    * and a rename-based publish is no better on the LOCAL filesystem:
    * Hadoop's RawLocalFileSystem.rename delegates to POSIX rename(2),
    * which silently REPLACES an existing destination and returns true, so
    * two concurrent first merges with DIFFERENT parameters would both see
    * published=true and the loser would overwrite the winner's pin after
    * the winner proceeded — mixed regimes, the exact outcome this method
    * exists to refuse. The writer stages the full content to a unique temp
    * file, then publishes with the backend's atomic no-replace primitive —
    * link(2) on the local FS (EEXIST when a sibling won), rename on
    * HDFS/ABFS (no-replace there) — and in EVERY outcome re-reads the
    * published file and compares: identical parameters (the only correct
    * concurrent case) pass, mixed parameters refuse loudly whichever
    * sibling won, and no code path trusts a publish return value alone.
    */
  /** `_CONFIG` keys that tune OPERATIONS (staleness horizons), not the
    * verification REGIME. They are exempt from the mixed-parameter
    * compare when the caller does not present them: a family merge's
    * fixed params map cannot know about `leaseTtlMs`, so an operator who
    * pins it on an existing store (adding the line to `_CONFIG` out of
    * band — the file is publish-once, so edit it atomically while no
    * first-merge race is possible) must not brick every later merge. A
    * caller that DOES present an operational key is held to the stored
    * value exactly like a regime parameter.
    */
  private val operationalKeys = Set("leaseTtlMs", "sweepGraceMs",
    "saturationOccupancy", "saturationAction")

  private def parseConfig(s: String): Map[String, String] =
    s.split('\n').toSeq.map(_.trim).filter(_.contains("="))
      .map { line =>
        val i = line.indexOf('=')
        line.take(i) -> line.drop(i + 1)
      }.toMap

  def checkConfig(spark: SparkSession, stateDir: String,
      params: Map[String, String]): Unit = {
    val f = fs(spark, stateDir)
    val p = new Path(s"$stateDir/_CONFIG")
    val want = params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n")
    def compare(): Unit = {
      val have = parseConfig(readUtf8(f, p))
      val haveRegime = have.view.filterKeys(!operationalKeys.contains(_)).toMap
      val wantRegime = params.view.filterKeys(!operationalKeys.contains(_)).toMap
      def render(m: Map[String, String]) =
        m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
      require(haveRegime == wantRegime,
        s"dedup state at $stateDir was built with {${render(haveRegime)}}; " +
          s"refusing a merge with {${render(wantRegime)}} — mixed parameters " +
          "would produce a clustering matching no one-shot recompute")
      operationalKeys.foreach { k =>
        (params.get(k), have.get(k)) match {
          case (Some(w), Some(h)) =>
            require(w == h,
              s"dedup state at $stateDir pins $k=$h; refusing a caller " +
                s"presenting $k=$w — two writers disagreeing about the " +
                "staleness horizon on one store is the process-global-knob " +
                "hazard the per-store pin exists to refuse")
          case (Some(w), None) =>
            require(false,
              s"dedup state at $stateDir predates the '$k' pin and _CONFIG " +
                s"is publish-once — add '$k=$w' to the store's _CONFIG out " +
                "of band (operational keys are exempt from the regime " +
                "compare) instead of passing it to a merge")
          case _ => () // stored-only operational key: tuning, not regime
        }
      }
    }
    if (f.exists(p)) compare()
    else if (publishMode == PointerPublish) {
      // object-store shape: the pin publishes as ONE conditional
      // create-if-absent of the whole content (native If-None-Match PUT
      // on S3 — whole-object atomicity is the store's contract; locally
      // the O_EXCL emulation can expose a brief torn-read window to a
      // concurrent sibling, which the unconditional read-back turns into
      // a loud refusal, never a silent mixed pin). No staging, no rename.
      f.mkdirs(new Path(stateDir))
      conditionalPut(f, p, want)
      compare()
    } else {
      f.mkdirs(new Path(stateDir))
      val tmp = new Path(s"$stateDir/._CONFIG.${java.util.UUID.randomUUID()}")
      writeUtf8(f, tmp, want)
      if (f.getUri.getScheme == "file") {
        // local FS: hard link is the atomic no-replace publish (fails
        // EEXIST when a sibling already published; readers of p always see
        // the fully-written staged content, never a prefix)
        try java.nio.file.Files.createLink(
          java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      } else {
        // HDFS/ABFS: rename does not replace an existing destination
        try f.rename(tmp, p)
        catch { case _: java.io.IOException => () }
      }
      if (f.exists(tmp)) f.delete(tmp, false)
      // unconditional read-back: the authoritative pin is what p holds NOW,
      // not what any publish primitive claims to have done
      compare()
    }
  }

  private def readUtf8(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val buf = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      in.readFully(buf)
      new String(buf, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeUtf8(f: FileSystem, p: Path, s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
