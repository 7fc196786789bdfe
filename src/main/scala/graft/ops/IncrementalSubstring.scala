package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** d20: incremental EXACT-SUBSTRING dedup — the last dedup modality
  * outside the generational state matrix (d12 SimHash / d14 embedding /
  * d15 MinHash / d18 exact). State per generation (the d15 two-index
  * skeleton):
  *
  *   - `vN/anchors`: batch N's positional anchor index (doc_id, pos,
  *     anchor) — the same `anchorTokens`-token windows d13 builds
  *     ([[Dedup.exactSubstringPairs]]), persisted so old TEXT is never
  *     re-tokenized;
  *   - `vN/hits`: the NEW-involving candidate hits of the merge —
  *     (d1, d2, i, j, anchor) position pairs from probing batch N's
  *     anchors against the persisted union; its `_SUCCESS` commits the
  *     generation.
  *
  * Every pair's complete hit set is captured at exactly one merge — the
  * merge of its newer member (probing the new side against the union
  * including the new generation yields every new-new and new-old hit,
  * both orientations normalized) — so the UNION of hit generations is
  * exactly d13's candidate table, and replaying d13's diagonal
  * islands-and-gaps over it at read time reproduces the one-shot spans
  * hash-identically for ANY batch split.
  *
  * The occurrence cap (d13's O(occ²) fan-out guard) splits into two
  * EXACT halves on the fact that corpus-wide occurrence only grows:
  *
  *   - at MERGE, anchors whose union-so-far occurrence already exceeds
  *     the cap are dropped from both probe sides — their final count can
  *     only be higher, so the one-shot drops them too, and the per-merge
  *     join fan-out stays ≤ cap² per anchor, corpus-independent;
  *   - at READ, stored hits are filtered by the FINAL union occurrence —
  *     removing hits through anchors that crossed the cap after their
  *     merge. Net: hits survive iff their anchor's final occurrence is ≤
  *     cap, precisely d13's rule (no d14-style superset caveat).
  *
  * At-least-once re-delivery (q58's crash window) is closed by batch-key
  * ingest markers ([[GenState]], the [[IncrementalExact]] pattern): a
  * keyed re-merge is a no-op. The read path additionally dedups hits on
  * (d1, d2, i, j) and counts occurrences per distinct (doc_id, pos), so
  * the FINAL cap filter is duplicate-proof regardless; the merge-side
  * cold filter is the only consumer that relies on the markers (see
  * [[mergeOccOf]]).
  *
  * Scale shape: a merge tokenizes only its batch, writes an O(batch)
  * per-generation occurrence PARTIAL (`vN/occ`, the d18 write-only trick),
  * derives the cold filter by folding the slim partials (O(distinct
  * anchors) one-row-per-anchor parquet — never a corpus-wide
  * positional-row scan or shuffle), and joins bounded-fan-out candidates;
  * the read unions slim hit generations and pays d13's post-join window
  * stages but never its corpus-wide anchor self-join. [[compact]] folds
  * all three tables the LSM way (occ with re-aggregation — sum is
  * associative).
  */
object IncrementalSubstring extends TombstoneFamily {

  val commitTable = "hits"
  val idColumn = "doc_id"

  // resolved through [[GenState.tablePath]]: publish-mode-agnostic reads;
  // `tok` is the claim token for pre-commit reads of an OWN in-flight
  // generation under PointerPublish (pointer resolution wins for complete
  // generations, so passing the token on a mixed-version read is safe)
  private def anchorsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "anchors", tok)
  private def hitsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "hits", tok)
  private def occPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "occ", tok)
  private def docsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "docs", tok)

  /** The table the tombstone re-ingest probe scans: the slim one-column
    * `vN/docs` projection (one row per batch doc) when every live
    * generation carries it, else the positional `anchors` index (legacy
    * state persisted before the docs layout — exact, it just re-pays the
    * corpus-sized column scan the projection exists to avoid; [[compact]]
    * materializes the migration).
    */
  private def probeTable(spark: SparkSession, stateDir: String,
      live: Seq[Int]): String =
    if (live.forall(v => GenState.tableExists(spark, stateDir, v, "docs")))
      "docs"
    else "anchors"

  /** The folded per-anchor occurrence of generations `vs` — the sum of
    * their slim partials, O(distinct anchors), never a positional scan.
    * A generation with no `vN/occ` table (a state dir persisted before
    * the occ-partial layout) is BACKFILLED on the fly from its anchors
    * via the duplicate-proof [[occOf]] — exact, it just re-pays the
    * aggregation the partial exists to avoid; run [[compact]] once to
    * materialize the migration. The common all-partials-present case
    * reads every occ dir in ONE multi-path scan (single FileIndex, one
    * stage).
    */
  private def foldedOcc(spark: SparkSession, stateDir: String, vs: Seq[Int],
      tok: Option[String] = None): DataFrame = {
    val (have, missing) = vs.partition(v =>
      GenState.tableExists(spark, stateDir, v, "occ", tok))
    val parts =
      (if (have.nonEmpty) Seq(spark.read.parquet(have.map(occPath(spark, stateDir, _, tok)): _*))
       else Seq.empty) ++
        missing.map(v => occOf(spark.read.parquet(anchorsPath(spark, stateDir, v, tok))))
    parts.reduce(_ unionByName _)
      .groupBy(col("anchor")).agg(sum(col("aocc")).as("aocc"))
  }

  /** Batch-local positional anchor index — d13's construction verbatim. */
  private def anchorsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), call_function("ws_tokens", col("text")).as("t"))
      .where(size(col("t")) >= Dedup.anchorTokens)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(t) - ${Dedup.anchorTokens}), " +
          s"i -> array_join(slice(t, i + 1, ${Dedup.anchorTokens}), ' '))")))
      .toDF("doc_id", "pos", "anchor")
      .where(col("anchor").isNotNull && col("doc_id").isNotNull)

  /** Per-anchor occurrence over `anch`, duplicate-proof: one occurrence
    * is one distinct (doc_id, pos), never one stored row — exact whatever
    * reached the state dir, so this is the READ-side counter. A (doc_id,
    * pos) determines its anchor text, so per-anchor distinct-(doc_id, pos)
    * counting equals a global positional dedup + count, in ONE distinct
    * aggregate (partial map-side dedup) instead of a dedup shuffle
    * followed by an aggregation shuffle.
    */
  private def occOf(anch: DataFrame): DataFrame =
    anch.groupBy(col("anchor"))
      .agg(count_distinct(col("doc_id"), col("pos")).as("aocc"))

  /** The MERGE-side counter: a direct per-anchor count with NO
    * (doc_id, pos) dedup. Anchors are distinct per (doc_id, pos) within
    * a generation BY CONSTRUCTION (`anchorsOf` posexplodes each position
    * once), and generations hold disjoint doc_ids under the ingest
    * contract — so this equals [[occOf]] exactly, while the plan is a
    * column-pruned scan of the single `anchor` column with a map-side
    * partial aggregate: O(distinct anchors) slim shuffle rows instead of
    * two corpus-wide shuffles of full positional rows per micro-batch.
    * The one case where the two counters could diverge — the same batch
    * merged twice — is closed by the `batchKey` ingest markers
    * ([[merge]]), which make a re-delivered merge a no-op before any
    * counting happens.
    */
  private def mergeOccOf(anch: DataFrame): DataFrame =
    anch.groupBy(col("anchor")).agg(count(lit(1)).as("aocc"))

  /** The NEW-involving candidate hits of one merge: the batch's anchors
    * vs old anchors plus the batch itself, all restricted to anchors still
    * cold on the union-so-far (the SAFE half of the cap — an anchor
    * already past the cap can only end hotter, so the one-shot drops it
    * too, and excluding it now is exact while bounding the probe fan-out
    * to ≤ cap² per anchor). `hot` is the complement filter — the
    * OVER-cap anchors, folded by [[merge]] from the slim per-generation
    * `occ` partials; every anchor has an occ row (its own batch counted
    * it), so anti-joining `hot` is exactly the cold inner-join, and the
    * hot set is SMALL by construction (≤ total-occurrences / cap rows —
    * the cap is a skew guard), so AQE turns both filters into broadcast
    * anti-joins with no positional-row shuffle.
    *
    * Orientation: (i, j) follow (d1, d2) = (smaller, larger) doc —
    * exactly d13's candidate orientation. A new-NEW pair would arrive in
    * both orientations from a symmetric product; the `is_new` tag on the
    * probe-target side admits it only where `n.doc_id < o.doc_id`, so the
    * output is duplicate-free BY CONSTRUCTION and the merge pays no
    * dedup shuffle (the read side still dedups across generations for
    * unkeyed-duplicate robustness). Lazy — [[merge]] executes it; the
    * plan spec inspects that old documents enter only as persisted anchor
    * parquet.
    */
  private[graft] def candidateHits(newAnch: DataFrame, oldAnch: DataFrame,
      hot: DataFrame): DataFrame = {
    val probeTarget = oldAnch.withColumn("is_new", lit(false))
      .unionByName(newAnch.withColumn("is_new", lit(true)))
    newAnch.join(hot, Seq("anchor"), "left_anti").as("n")
      .join(probeTarget.join(hot, Seq("anchor"), "left_anti").as("o"),
        col("n.anchor") === col("o.anchor") && col("n.doc_id") =!= col("o.doc_id") &&
          (!col("o.is_new") || col("n.doc_id") < col("o.doc_id")))
      .select(
        least(col("n.doc_id"), col("o.doc_id")).as("d1"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("d2"),
        when(col("n.doc_id") < col("o.doc_id"), col("n.pos"))
          .otherwise(col("o.pos")).as("i"),
        when(col("n.doc_id") < col("o.doc_id"), col("o.pos"))
          .otherwise(col("n.pos")).as("j"),
        col("n.anchor").as("anchor"))
  }

  /** The cross hits two genuinely-concurrent generations never probed:
    * generation `a`'s anchors against `b`'s on exact anchor equality (doc
    * sets are disjoint, so every pair arrives once; orientation
    * normalized exactly as [[candidateHits]]), both sides restricted to
    * anchors cold under `hot` — the caller passes the FINAL-count hot set,
    * which both bounds the recon fan-out to ≤ cap² per anchor and matches
    * what the read-side cap would drop anyway (occurrence is monotone, so
    * hot-now means hot-forever).
    */
  private def crossHits(anchA: DataFrame, anchB: DataFrame,
      hot: DataFrame): DataFrame =
    anchA.join(hot, Seq("anchor"), "left_anti").as("n")
      .join(anchB.join(hot, Seq("anchor"), "left_anti").as("o"),
        col("n.anchor") === col("o.anchor") && col("n.doc_id") =!= col("o.doc_id"))
      .select(
        least(col("n.doc_id"), col("o.doc_id")).as("d1"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("d2"),
        when(col("n.doc_id") < col("o.doc_id"), col("n.pos"))
          .otherwise(col("o.pos")).as("i"),
        when(col("n.doc_id") < col("o.doc_id"), col("o.pos"))
          .otherwise(col("n.pos")).as("j"),
        col("n.anchor").as("anchor"))

  /** The reconciliation hit frames of a history with concurrent commits:
    * one [[crossHits]] per unreconciled generation pair, recomputed from
    * the frozen per-generation anchor indexes. Empty for every sequential
    * history. No label machinery here — substring spans are per-pair
    * facts, so the union IS the repair (the d33 shape, not the d15 one).
    */
  private def reconHits(spark: SparkSession, stateDir: String,
      live: Seq[Int], hot: DataFrame,
      anchorsOfGen: Int => DataFrame): Seq[DataFrame] =
    // blind pairs only — a spliceOnly maintenance race's cross hits are
    // already stored in the prober's table, and hits are per-pair facts
    GenState.classifyUnreconciled(spark, stateDir, live)._1
      .map { case (a, b) => crossHits(anchorsOfGen(a), anchorsOfGen(b), hot) }

  /** Ingest `newDocs` (a (doc_id, text, …) projection, doc_ids disjoint
    * from prior ingests): anchor the batch, probe it against the
    * persisted union, append one generation. Returns its number.
    *
    * `batchKey` makes the ingest IDEMPOTENT under at-least-once
    * re-delivery (the q58 crash window), mirroring [[IncrementalExact]]:
    * a keyed merge whose key a complete generation already recorded is a
    * no-op; the marker commits atomically with the generation. Streaming
    * drivers SHOULD pass the micro-batch id — the merge-side cold filter
    * counts stored anchor rows ([[mergeOccOf]]), so an UNKEYED duplicate
    * ingest could overcount an anchor past the cap and drop its hits
    * early (the read-side [[occOf]] stays duplicate-proof either way).
    */
  def merge(spark: SparkSession, stateDir: String, newDocs: DataFrame,
      batchKey: Option[String] = None): Int = {
    GenState.checkConfig(spark, stateDir, Map(
      "anchorTokens" -> Dedup.anchorTokens.toString,
      "anchorMaxOcc" -> Dedup.anchorMaxOcc.toString))
    // MULTI-WRITER (round 17, the d15 pattern): fresh allocation with the
    // keyed exactly-once ledger, and a _PROBED manifest recording the
    // post-claim snapshot both the probe and the merge-side cold filter
    // see. Concurrency costs exactly two things, both repaired: the cross
    // hits between concurrent batches ([[stateRuns]] reconciles them from
    // the frozen anchor generations) — and NOTHING through the cap: the
    // occ partials are per-batch pure facts whose fold is a commutative
    // sum, and a cold filter seeing a SUBSET of history can only keep
    // more candidates than the full view (occurrence is monotone), which
    // the read-side FINAL-count cap drops exactly.
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey,
      commitTable) match {
      case Left(v) => return v // re-delivered batch key: no-op
      case Right(nc) => nc
    }
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim, commitTable)

    // anchor the batch once; the generation dir is the materialized copy
    // both probe sides read (anchors land before hits — a crash leaves an
    // uncommitted generation the next merge overwrites)
    GenState.fencedParquet(spark, stateDir, next, "anchors",
      claim, commitTable)(anchorsOf(newDocs))
    val newAnch = spark.read.parquet(anchorsPath(spark, stateDir, next, Some(claim)))

    // Two independent slim writes, run CONCURRENTLY (guide §2.6 via
    // [[GenState.inParallel]] — each sequential write paid its own full
    // driver round, which dominated the micro-batch wall clock):
    //   - docs: the per-generation doc projection the tombstone re-ingest
    //     probe scans ([[probeTable]]) — one row per batch doc, so a
    //     delete-bearing read never scans the corpus-sized positional
    //     anchors index just to ask "was this id re-ingested later?".
    //     From newDocs, not newAnch: a short doc with no anchors still
    //     counts as re-ingested.
    //   - occ: the per-generation occurrence PARTIAL (the d18 write-only
    //     trick) — one slim (anchor, aocc) row per distinct batch anchor,
    //     O(batch) to produce, derived from the already-written newAnch
    //     parquet. Folding these partials (sum per anchor) equals
    //     mergeOccOf over the full positional union — [[mergeOccOf]]'s
    //     disjoint-doc_id argument — so the cold filter below never
    //     re-aggregates old positional rows.
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "docs",
        claim, commitTable)(
        newDocs.select(col("doc_id")).dropDuplicates("doc_id")),
      () => GenState.fencedParquet(spark, stateDir, next, "occ",
        claim, commitTable)(mergeOccOf(newAnch))))

    val hot = foldedOcc(spark, stateDir, live :+ next, Some(claim))
      .where(col("aocc") > Dedup.anchorMaxOcc).select(col("anchor"))
    val oldAnch =
      if (live.isEmpty) newAnch.limit(0)
      else spark.read.parquet(live.map(anchorsPath(spark, stateDir, _)): _*)
    GenState.fencedParquet(spark, stateDir, next, "hits",
      claim, commitTable)(candidateHits(newAnch, oldAnch, hot))
    next
  }

  /** d32: TOMBSTONE a set of documents — deletes for the substring
    * modality. Writes one generation holding `vN/tombstones` plus empty
    * anchors/occ/hits tables (hits' `_SUCCESS` commits). s9 shadowing
    * semantics: older generations only; a later re-ingest is live again
    * (its hits re-form at the re-merge; surviving stored duplicates
    * dedup at read). The served spans drop every tombstoned-incident
    * hit; [[compact]] purges anchors and hits physically.
    *
    * Occurrence is APPEND-ONLY by design: the cap filter keeps counting
    * deleted docs (their occ partials are retained, even through
    * compaction), because the merge-side cap drop is exact only under
    * monotone occurrence — a delete that retroactively "un-hotted" an
    * anchor could never resurrect its hits (they were dropped before
    * storage). The d32 oracle pins exactly these semantics: pair join
    * over survivors, cap over the full ingest history. Consequence: a
    * post-delete state dir must serve the cap from the occ partials
    * (the default) — the `spark.graft.substring.occFromAnchors` fallback
    * re-counts from the purged positional index and would disagree.
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalSubstring.delete: no state at $stateDir")
    // fresh allocation (multi-writer, round 17): empty anchors ⇒ nothing
    // to reconcile, so mark everything live as probed — listed AFTER the
    // claim so a sibling merge committing just before it is not omitted
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    val liveNow = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, liveNow :+ next, claim, commitTable)
    // tombstones + empty peers are mutually independent — written
    // concurrently (guide §2.6 via [[GenState.inParallel]]); the hits
    // commit stays strictly after, preserving the crash contract
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim,
        commitTable)(
        ids.select(col("doc_id").cast("long").as("node")).dropDuplicates("node")),
      () => GenState.fencedParquet(spark, stateDir, next, "anchors", claim,
        commitTable)(
        spark.read.parquet(anchorsPath(spark, stateDir, live.head)).limit(0)),
      () => GenState.fencedParquet(spark, stateDir, next, "docs", claim,
        commitTable)(
        ids.select(col("doc_id").cast("long").as("doc_id")).limit(0)),
      () => GenState.fencedParquet(spark, stateDir, next, "occ", claim,
        commitTable)(
        spark.read.parquet(occPath(spark, stateDir, live.head)).limit(0))))
    GenState.fencedParquet(spark, stateDir, next, "hits", claim, commitTable)(
      spark.read.parquet(hitsPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** The d13-shaped span table from the current state: union the hit
    * generations, apply the FINAL-count half of the cap, replay d13's
    * diagonal islands-and-gaps, per-pair max.
    */
  def spans(spark: SparkSession, stateDir: String,
      minSpan: Int = Dedup.minSpanTokens): DataFrame =
    stateRuns(spark, stateDir)
      .groupBy(col("d1"), col("d2"))
      .agg((max(col("run")) + lit(Dedup.anchorTokens - 1)).as("span_len"))
      .where(col("span_len") >= minSpan)
      .orderBy(col("d1"), col("d2"))

  /** Maximal shared runs with POSITIONS from the drained state — the
    * positional twin of [[spans]]' per-pair maxima, feeding the d26/d27
    * removal cut. Same read-side occurrence filter and hit dedup.
    */
  private def stateRuns(spark: SparkSession, stateDir: String): DataFrame = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalSubstring.stateRuns: no state at $stateDir")
    // FINAL-count cap filter from the slim occ partials — O(distinct
    // anchors) rows folded, no scan of the corpus-wide positional anchor
    // index at read time. Partial sums equal the positional count under
    // the disjoint-doc_id ingest contract (see [[mergeOccOf]]); a state
    // dir fed by an UNKEYED at-least-once driver (re-delivered batches
    // merged twice) can overcount — set
    // `spark.graft.substring.occFromAnchors=true` to pay the
    // duplicate-proof positional re-aggregation ([[occOf]]) instead.
    val hot = (if (spark.conf.getOption("spark.graft.substring.occFromAnchors")
          .contains("true"))
        occOf(spark.read.parquet(live.map(anchorsPath(spark, stateDir, _)): _*))
      else foldedOcc(spark, stateDir, live))
      .where(col("aocc") > Dedup.anchorMaxOcc).select(col("anchor"))
    // tombstone shadowing (d32): drop every hit incident to an
    // effectively-deleted doc — the survivors' hit set exactly, since a
    // hit never routes through a third document. Occurrence (the cap
    // above) deliberately keeps counting deleted docs — see [[delete]].
    // `_PROBED` reconciliation (multi-writer, round 17): the cross hits
    // of genuinely-concurrent commits union in here, recomputed from the
    // frozen anchor generations and filtered by the same FINAL hot set
    // and tombstones as stored hits; sequential histories add nothing.
    val teff = LabelState.effectiveTombstones(spark, stateDir, live,
      probeTable(spark, stateDir, live), "doc_id")
    val recon = reconHits(spark, stateDir, live, hot,
      v => spark.read.parquet(anchorsPath(spark, stateDir, v)))
    val stored = spark.read.parquet(live.map(hitsPath(spark, stateDir, _)): _*)
      .select(col("d1"), col("d2"), col("i"), col("j"), col("anchor"))
    val hits = (stored +: recon).reduce(_ unionByName _)
      .join(hot, Seq("anchor"), "left_anti")
      .join(teff.select(col("node").as("d1")), Seq("d1"), "left_anti")
      .join(teff.select(col("node").as("d2")), Seq("d2"), "left_anti")
      .dropDuplicates("d1", "d2", "i", "j")
    val wd = Window.partitionBy(col("d1"), col("d2"), col("j") - col("i"))
      .orderBy(col("i"))
    hits
      .withColumn("grp", col("i") - row_number().over(wd))
      .groupBy(col("d1"), col("d2"), (col("j") - col("i")).as("diag"), col("grp"))
      .agg(min(col("j")).as("startj"), count(lit(1)).as("run"))
  }

  /** d27: duplicated-span REMOVAL served from the incremental state —
    * the d26 cut over [[stateRuns]]. Because the drained state's deduped
    * hit set equals the one-shot candidate set for any split-ingest (the
    * d20 parity contract), the removal verdict — which tokens of which
    * docs are cut — is identical to one-shot d26, its shared oracle. The
    * operational win: a continuously-ingesting corpus keeps its span
    * index current at O(batch) per merge, and the (expensive) removal
    * rewrite runs on demand from state alone, never re-probing old text
    * against old text.
    */
  def removal(spark: SparkSession, dir: String, stateDir: String,
      minSpan: Int = Dedup.minSpanTokens): DataFrame =
    Dedup.spanRemovalOf(spark, dir, stateRuns(spark, stateDir), minSpan)

  /** LSM maintenance: fold both tables of every live generation into one
    * (`_COMPACTED` manifest before the commit, crash-idempotent), delete
    * sources plus leftovers. Anchors and hits are immutable facts — the
    * fold is pure concatenation.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      GenState.writeProbed(spark, stateDir, next, Seq(next), claim, commitTable)
      // tombstones applied PHYSICALLY to anchors/docs/hits per-GENERATION
      // ([[LabelState.purgeByGen]] — pre-delete rows leave disk even for
      // re-ingested ids); occ is APPEND-ONLY and folds the full history —
      // see [[delete]]
      val hasTombs = versions.exists(v =>
        GenState.tableExists(spark, stateDir, v, "tombstones"))
      def tombs = LabelState.tombstonesByGen(spark, stateDir, versions)
      GenState.fencedParquet(spark, stateDir, next, "anchors", claim, commitTable)(
        if (!hasTombs) spark.read.parquet(versions.map(anchorsPath(spark, stateDir, _)): _*)
        else LabelState.purgeByGen(tombs,
          versions.map(v => (v, spark.read.parquet(anchorsPath(spark, stateDir, v)))),
          Seq("doc_id")))
      // the slim doc projection folds the same way (legacy generations
      // without one backfill from their anchors — compaction IS the
      // migration point, as for occ)
      val docsFrames = versions.map { v =>
        val have = GenState.tableExists(spark, stateDir, v, "docs")
        (v, if (have) spark.read.parquet(docsPath(spark, stateDir, v))
            else spark.read.parquet(anchorsPath(spark, stateDir, v))
              .select(col("doc_id")).dropDuplicates("doc_id"))
      }
      GenState.fencedParquet(spark, stateDir, next, "docs", claim, commitTable)(
        (if (!hasTombs) docsFrames.map(_._2).reduce(_ unionByName _)
         else LabelState.purgeByGen(tombs, docsFrames, Seq("doc_id")))
          .dropDuplicates("doc_id"))
      // occ partials fold WITH re-aggregation (sum is associative): the
      // compacted index returns to one row per distinct anchor. Pre-occ
      // generations backfill from their anchors here ([[foldedOcc]]) —
      // compaction IS the migration point for legacy state dirs.
      GenState.fencedParquet(spark, stateDir, next, "occ", claim, commitTable)(
        foldedOcc(spark, stateDir, versions))
      // outstanding concurrent-commit reconciliation becomes DURABLE here:
      // cross hits recomputed from the PURGED per-generation anchors (deleted
      // docs never resurface), cold-filtered by the final-count hot set
      def purgedAnchors(v: Int): DataFrame =
        if (!hasTombs) spark.read.parquet(anchorsPath(spark, stateDir, v))
        else LabelState.purgeByGen(tombs,
          Seq((v, spark.read.parquet(anchorsPath(spark, stateDir, v)))), Seq("doc_id"))
      val hotNow = foldedOcc(spark, stateDir, versions)
        .where(col("aocc") > Dedup.anchorMaxOcc).select(col("anchor"))
      val recon = reconHits(spark, stateDir, versions, hotNow, purgedAnchors)
      val storedHits =
        (if (!hasTombs) spark.read.parquet(versions.map(hitsPath(spark, stateDir, _)): _*)
         else LabelState.purgePairsByGen(tombs,
           LabelState.effectiveTombstones(spark, stateDir, versions,
             probeTable(spark, stateDir, versions), "doc_id"),
           versions.map(v => (v, spark.read.parquet(hitsPath(spark, stateDir, v)))),
           Seq("d1", "d2")))
          .select(col("d1"), col("d2"), col("i"), col("j"), col("anchor"))
      (storedHits +: recon).reduce(_ unionByName _)
        .dropDuplicates("d1", "d2", "i", "j")
    }
}
