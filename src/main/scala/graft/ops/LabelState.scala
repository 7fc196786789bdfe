package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared LABEL-DELTA chassis of the generational dedup states
  * ([[IncrementalDedup]] d12, [[IncrementalEmbedding]] d14,
  * [[IncrementalMinHash]] d15).
  *
  * Historically each merge wrote the FULL (node, label) table per
  * generation and seeded CC with the ENTIRE previous labeling as star
  * edges. Both are O(all clustered docs) per ingest — the two remaining
  * per-batch costs that scaled with corpus history instead of batch size
  * (a daily 100 TB ingest rewrites a corpus-sized label table and re-runs
  * CC over every component ever formed, every day). This object replaces
  * both with work proportional to the batch:
  *
  *   - `vN/labels` is now a DELTA — (node, label, gen) rows for exactly
  *     the nodes whose label is NEW or MAY HAVE CHANGED in generation N.
  *     The current labeling is the latest-generation-wins fold over the
  *     live deltas ([[folded]]); [[IncrementalDedup.compact]] et al. fold
  *     the deltas back to one full snapshot, the same LSM trade the band
  *     index already makes.
  *   - CC is scoped to the AFFECTED SUBGRAPH: only components containing
  *     an endpoint of a new verified pair can change (old edges exist
  *     only within components, so any path that reaches an old component
  *     in the union graph ends with a new pair incident to it — a
  *     component with no new incident pair keeps its labeling verbatim).
  *     Seeds are the star edges of those components only; untouched
  *     components simply stay in their older generations.
  *
  * Exactness is unchanged: the pair graph over all ingests is identical
  * to the one-shot graph, affected components are re-labeled by the same
  * CC, and every member of an affected component appears in the new delta
  * (CC emits a row per edge endpoint, and each member rides in via its
  * star edge), so the fold equals the full recompute — the existing
  * split-ingest parity specs pin it end to end.
  */
object LabelState {

  // table paths resolve through [[GenState.tablePath]] so every read is
  // publish-mode-agnostic (a pointer-committed generation's tables live in
  // nonce-named dirs; see GenState's PublishMode block comment)
  def labelsPath(spark: SparkSession, stateDir: String, v: Int): String =
    GenState.tablePath(spark, stateDir, v, "labels")

  private[ops] def emptyDelta(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Int)].toDF("node", "label", "gen")
  }

  /** The current (node, label) table: latest-generation row wins per node
    * over the live label deltas. One slim shuffle on `node`; the `gen`
    * column rides in the data, so the fold is a single multi-path scan.
    *
    * A LONE live generation is always a complete snapshot — the initial
    * build's delta covers everything (delta over nothing), and the only
    * other way to end up with one live generation is compact, which
    * writes [[foldedSnapshot]] — so that case reads straight through with
    * no shuffle (the common shape for serving reads after maintenance).
    */
  def folded(spark: SparkSession, stateDir: String, versions: Seq[Int]): DataFrame =
    versions match {
      case Seq() => emptyDelta(spark).select(col("node"), col("label"))
      case Seq(v) => spark.read.parquet(labelsPath(spark, stateDir, v))
        .select(col("node"), col("label"))
      case vs => spark.read.parquet(vs.map(labelsPath(spark, stateDir, _)): _*)
        .groupBy(col("node"))
        .agg(max_by(col("label"), col("gen")).as("label"))
    }

  /** Edge-count bound for the driver union-find fast path of
    * [[deltaLabels]]: 2 longs × 200k edges ≈ 3 MB on the driver — the
    * same model-sized order as a broadcast join side or the IVF centroid
    * load, NOT a corpus-sized collect (the threshold is checked, not
    * assumed; above it the distributed loop runs).
    */
  val smallEdgeLimit = 200000

  /** The label DELTA of one merge: seeded, affected-component-scoped CC
    * over the verified pairs of this batch (`matPairs`, materialized
    * parquet with columns d1/d2). Returns (node, label, gen) rows covering
    * exactly the new-pair endpoints plus every member of a previously
    * clustered component one of them touches — the only nodes whose label
    * can differ from the fold of `prevVersions`. A pair-free batch returns
    * an empty delta (the streaming common case: commit a generation,
    * change nothing).
    *
    * ADAPTIVE execution, the point of the affected-subgraph scoping: the
    * per-batch edge set (new pairs + star edges of the touched components)
    * is tiny in the streaming common case, so up to [[smallEdgeLimit]]
    * edges the components are computed by an exact min-label union-find on
    * the driver — ONE Spark job (the bounded edge collect) instead of a
    * multi-round distributed loop whose per-round checkpoint + convergence
    * aggregate dominated the micro-batch wall clock. Past the bound (a
    * backfill-sized batch), the usual checkpointed labelPropagation /
    * starContraction loop runs — identical labeling either way (both
    * assign every node its component's min id).
    */
  def deltaLabels(spark: SparkSession, stateDir: String, prevVersions: Seq[Int],
      matPairs: DataFrame, next: Int): DataFrame = {
    val edges = seedEdges(spark, stateDir, prevVersions, matPairs)
    // one bounded action decides the path AND carries the common case's
    // data (an empty batch lands here too: empty sample → empty delta)
    val sample = edges.limit(smallEdgeLimit + 1).collect()
    if (sample.isEmpty) emptyDelta(spark)
    else if (sample.length <= smallEdgeLimit) {
      import spark.implicits._
      // coalesce(1): this branch is driver-materialized and bounded by
      // [[smallEdgeLimit]] (≈3 MB), so its delta is ONE parquet file at any
      // scale — unhinted, a LocalRelation write fans out to
      // defaultParallelism (32) near-empty files per generation, and every
      // later fold pays 32× the listing/footer/scan-task overhead per
      // generation on the serve and merge hot paths (measured: the d12
      // merge loop spent half its wall in exactly this driver/FS overhead).
      // The distributed branch below keeps its cluster-sized parallelism.
      unionFindMinLabels(sample.map(r => (r.getLong(0), r.getLong(1))))
        .toSeq.toDF("node", "label").withColumn("gen", lit(next)).coalesce(1)
    } else {
      val ckpt = ConnectedComponents.durable(spark,
        graft.util.TmpDirs.sessionCheckpointDir(spark))
      val labels = ConnectedComponents.labelPropagation(edges, 50, ckpt)
        .map(_._1)
        .getOrElse(ConnectedComponents.starContraction(edges, ckpt = ckpt)._1)
      labels.withColumn("gen", lit(next))
    }
  }

  /** The CC edge set of one merge: the batch's verified pairs plus the
    * star edges of the components they touch. Seeds are computed in ONE
    * pass over the fold output (plan-audited, and pinned by
    * LabelDeltaSpec: the obvious two-step — semi-join the fold for
    * affected labels, semi-join the fold again for their members —
    * executes the fold shuffle twice; AQE does not unify the stages):
    * mark touched nodes via a broadcast-sized join, then lift the mark to
    * the whole component with a max window over `label`.
    */
  private[graft] def seedEdges(spark: SparkSession, stateDir: String,
      prevVersions: Seq[Int], matPairs: DataFrame): DataFrame = {
    val prevLabels = folded(spark, stateDir, prevVersions)
    val touched = matPairs
      .select(explode(array(col("d1"), col("d2"))).as("node")).distinct()
    val seeds = prevLabels
      .join(touched.withColumn("touched", lit(1)), Seq("node"), "left")
      .withColumn("hit",
        max(col("touched")).over(Window.partitionBy(col("label"))))
      .where(col("hit") === 1 && col("node") =!= col("label"))
      .select(col("node").as("d1"), col("label").as("d2"))
    matPairs
      .select(col("d1").cast("long"), col("d2").cast("long"))
      .toDF("d1", "d2")
      .unionByName(seeds)
  }

  /** Exact min-label connected components over an in-memory edge list:
    * path-halving union-find, then every node labeled with its component's
    * minimum id — the same labeling contract as
    * [[ConnectedComponents.labelPropagation]].
    */
  private[graft] def unionFindMinLabels(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keysIterator.foreach { n =>
      val r = find(n)
      minOf.updateWith(r)(m => Some(math.min(m.getOrElse(n), n)))
    }
    parent.keysIterator.map(n => (n, minOf(find(n)))).toArray
  }

  /** The compaction fold: the full current labeling re-stamped as one
    * snapshot delta of generation `next` (a snapshot IS a delta that
    * happens to cover every node).
    */
  def foldedSnapshot(spark: SparkSession, stateDir: String,
      versions: Seq[Int], next: Int): DataFrame =
    folded(spark, stateDir, versions).withColumn("gen", lit(next))

  /** Shared multi-writer reconciliation inputs of the label-bearing
    * pair-graph families (MinHash d15, SimHash d12, semantic d23): the
    * (extra edges, affected-node scope) pair [[deletedAwareLabels]]
    * consumes when the live history holds genuinely-concurrent commits.
    * Edges are the per-family `crossPairs(a, b)` of every unreconciled
    * generation pair (the cross candidates neither merge probed, verified
    * at the family's `_CONFIG`-pinned regime); the scope is every endpoint
    * those edges OR the concurrent generations' STORED pairs touch — the
    * stored half catches the latest-wins fold split two blind label
    * deltas inflict on a shared old component even when no cross pair
    * exists between their batches. None for sequential histories (every
    * pre-manifest or sequential generation probed all its predecessors).
    */
  def reconInputs(spark: SparkSession, stateDir: String, live: Seq[Int],
      pairsPathOf: Int => String, crossPairs: (Int, Int) => DataFrame)
      : Option[(DataFrame, DataFrame)] = {
    // BLIND pairs pay the cross-pair recompute; spliceOnly pairs (a merge
    // racing a compact — the prober's stored table already holds every
    // cross edge against the fold's content) contribute only their stored
    // endpoints to the re-label scope, keeping a routine maintenance race
    // from degrading reads to a corpus×batch re-probe
    // ([[GenState.classifyUnreconciled]]).
    val (blind, spliceOnly) = GenState.classifyUnreconciled(spark, stateDir, live)
    if (blind.isEmpty && spliceOnly.isEmpty) return None
    val unrecGens = (blind ++ spliceOnly).flatMap(p => Seq(p._1, p._2)).distinct
    val stored = spark.read.parquet(unrecGens.map(pairsPathOf): _*)
      .select(col("d1").cast("long"), col("d2").cast("long"))
    val recon =
      if (blind.isEmpty) stored.limit(0)
      else blind.map { case (a, b) =>
        crossPairs(a, b).select(col("d1").cast("long"), col("d2").cast("long"))
      }.reduce(_ unionByName _)
    val affected = stored.unionByName(recon)
      .select(explode(array(col("d1"), col("d2"))).as("node")).distinct()
    Some((recon, affected))
  }

  // ---- tombstone deletes for the pair-graph modalities (d29) --------------
  //
  // The aggregate modalities subtract members (d28's sidecar) and the
  // postings modality anti-joins (s9); a CLUSTERING is harder: removing a
  // doc can SPLIT its connected component, so no row-level shadowing of
  // the label table can be exact. The exact trade, built on what the
  // merges already persist: pair facts are PAIRWISE (an edge never routes
  // through a third doc), so the one-shot pair graph over the surviving
  // corpus is exactly the stored pair union minus deleted-incident edges
  // — and only components CONTAINING a deleted doc can change. The serve
  // re-runs CC over precisely those components' surviving edges and
  // splices the result over the untouched fold. Deletes are small, so the
  // affected set is broadcast-scoped and the correction is O(affected
  // components' edges), not a corpus re-clustering.

  def tombsPath(spark: SparkSession, stateDir: String, v: Int): String =
    GenState.tablePath(spark, stateDir, v, "tombstones")
  def pairsPath(spark: SparkSession, stateDir: String, v: Int): String =
    GenState.tablePath(spark, stateDir, v, "pairs")

  /** Live generations that carry a tombstones table. */
  def tombstoneVersions(spark: SparkSession, stateDir: String,
      versions: Seq[Int]): Seq[Int] =
    versions.filter(v => GenState.tableExists(spark, stateDir, v, "tombstones"))

  /** Tombstoned ids still in EFFECT: [[IncrementalIvf]]'s LSM shadowing —
    * a tombstone at generation d deletes an id from generations OLDER
    * than d only, so an id re-ingested into the modality's per-item index
    * table (`indexTable`, id column `idCol`) at a LATER generation is
    * live again. The re-ingest probe is a broadcast of the (small)
    * tombstone set against the id column of index generations newer than
    * the oldest tombstone — column-pruned, no index payload moves.
    */
  def effectiveTombstones(spark: SparkSession, stateDir: String,
      versions: Seq[Int], indexTable: String, idCol: String): DataFrame = {
    import spark.implicits._
    val delVs = tombstoneVersions(spark, stateDir, versions)
    if (delVs.isEmpty) return Seq.empty[Long].toDF("node")
    effectiveTombstonesFrom(spark, stateDir, versions, delVs,
      v => spark.read.parquet(GenState.tablePath(spark, stateDir, v, indexTable))
        .select(col(idCol).cast("long").as("node")))
  }

  /** The key-type-agnostic core of [[effectiveTombstones]]: `indexOf(v)`
    * supplies generation v's one-column `node` projection (long for the
    * pair-graph modalities, string for the media ones — the media
    * modalities' private wrappers call through here so the shadowing rule
    * lives in exactly one place; the delete-revive-delete fix had to be
    * patched in three copies before this existed). Requires `delVs`
    * non-empty — the caller owns the key-typed empty shortcut.
    */
  private[ops] def effectiveTombstonesFrom(spark: SparkSession,
      stateDir: String, versions: Seq[Int], delVs: Seq[Int],
      indexOf: Int => DataFrame): DataFrame = {
    // NEWEST tombstone per node ([[tombstonesByGen]]), not every
    // tombstone row: an id deleted, re-ingested, then deleted AGAIN would
    // otherwise probe its re-ingest against the FIRST tombstone
    // (igen > old dgen) and come back alive — the delete-revive-delete
    // bug the DeleteSoakSpec walk caught
    val tombs = tombstonesByGen(spark, stateDir, versions)
    val laterVs = versions.filter(_ > delVs.min)
    if (laterVs.isEmpty) return tombs.select(col("node"))
    val laterIdx = laterVs.map(v => indexOf(v).withColumn("igen", lit(v)))
      .reduce(_ unionByName _)
    // no forced broadcast: tombs is usually tiny, but a GDPR-scale bulk
    // delete is unbounded — AQE picks broadcast when the runtime size is
    // small and degrades to a shuffle join (working, not OOM) otherwise
    val reingested = laterIdx.join(tombs, Seq("node"))
      .where(col("igen") > col("dgen"))
      .select(col("node")).distinct()
    tombs.select(col("node"))
      .join(reingested, Seq("node"), "left_anti")
  }

  /** EVERY tombstoned id with its newest tombstone generation — the
    * per-generation purge input ([[purgeByGen]]). Unlike
    * [[effectiveTombstones]] this KEEPS re-ingested ids: their pre-delete
    * index rows must still purge (gen < dgen), only rows written at or
    * after the re-ingest stay. `node` is returned as stored in the
    * tombstones tables (long for the pair-graph modalities, string for
    * media).
    */
  def tombstonesByGen(spark: SparkSession, stateDir: String,
      versions: Seq[Int]): DataFrame = {
    val delVs = tombstoneVersions(spark, stateDir, versions)
    require(delVs.nonEmpty, "tombstonesByGen: no tombstone generations")
    delVs.map(v => spark.read.parquet(tombsPath(spark, stateDir, v))
        .select(col("node"), lit(v).as("dgen"))).reduce(_ unionByName _)
      .groupBy(col("node")).agg(max(col("dgen")).as("dgen"))
  }

  /** Per-GENERATION shadowing purge for compact: drop every row of the
    * per-generation tables whose id (any of `idCols`) carries a tombstone
    * NEWER than the row's generation — INCLUDING re-ingested ids, the
    * exact modality's row-level rule ([[IncrementalExact]]). This is
    * strictly stronger than the doc-level [[effectiveTombstones]] purge:
    * a delete-then-re-ingest no longer retains the doc's PRE-delete
    * index/pair rows through maintenance (which would both double the
    * index forever and keep stale edges derivable from the deleted
    * content). `perGen` supplies each live generation's table already
    * projected/cast so `idCols` compare against `tombs("node")` directly;
    * the `gen` tag never leaves this helper.
    */
  def purgeByGen(tombs: DataFrame, perGen: Seq[(Int, DataFrame)],
      idCols: Seq[String]): DataFrame = {
    val tagged = perGen.map { case (v, df) => df.withColumn("gen", lit(v)) }
      .reduce(_ unionByName _)
    val cols = tagged.columns.filterNot(_ == "gen").map(col).toSeq
    idCols.foldLeft(tagged) { (df, c) =>
      df.join(tombs, df(c) === tombs("node") && tombs("dgen") > df("gen"),
        "left_anti")
    }.select(cols: _*)
  }

  /** The complement of [[purgeByGen]] for a single id column: the rows a
    * tombstone NEWER than their generation shadows — what
    * subtraction-style deletes recover to negate (the classifier's
    * per-doc contributions). Same row-level rule, semi instead of anti.
    */
  def shadowedByGen(tombs: DataFrame, perGen: Seq[(Int, DataFrame)],
      idCol: String): DataFrame = {
    val tagged = perGen.map { case (v, df) => df.withColumn("gen", lit(v)) }
      .reduce(_ unionByName _)
    val cols = tagged.columns.filterNot(_ == "gen").map(col).toSeq
    tagged.join(tombs,
        tagged(idCol) === tombs("node") && tombs("dgen") > tagged("gen"),
        "left_semi")
      .select(cols: _*)
  }

  /** The compact purge rule for PAIR/HIT tables: [[purgeByGen]] PLUS a
    * doc-level exclusion of effectively-deleted ids (`teff`). The second
    * half is not redundant: a merge that runs AFTER a tombstone can still
    * pair a NEW item against the deleted item's persisted index rows,
    * storing an edge whose generation is newer than the tombstone —
    * per-generation shadowing alone would retain it, and once compact
    * drops the tombstones no read could filter it either. Index tables
    * don't need this (only an id's own merges write its index rows, so
    * per-generation shadowing covers them completely).
    */
  def purgePairsByGen(tombs: DataFrame, teff: DataFrame,
      perGen: Seq[(Int, DataFrame)], idCols: Seq[String]): DataFrame = {
    val base = purgeByGen(tombs, perGen, idCols)
    val cols = base.columns.map(col).toSeq
    idCols.foldLeft(base) { (df, c) =>
      df.join(teff.select(col("node").as(c)), Seq(c), "left_anti")
    }.select(cols: _*) // USING-joins reorder columns
  }

  /** The splice path's shared-subplan materialization dial (session conf
    * `spark.graft.splice.checkpoint`, same shape as the per-round
    * [[ConnectedComponents.Ckpt]] strategies):
    *
    *   - `local` (default): LAZY `localCheckpoint` — blocks live on
    *     executors with NO lineage fallback. Right for single-JVM runs
    *     (the bench target); on a cluster an executor loss mid-serve
    *     fails the query instead of recomputing.
    *   - `durable`: lazy reliable `checkpoint` to the context checkpoint
    *     dir ([[graft.util.TmpDirs.sessionCheckpointDir]] resolution:
    *     `SPARK_GRAFT_CHECKPOINT_DIR`, else the app's own dir, else
    *     scratch) — survives executor loss; the cluster-mode setting.
    *     Each delete-serve writes one such checkpoint. Its files are
    *     deleted once the RDD is unreachable only when
    *     `spark.cleaner.referenceTracking.cleanCheckpoints` is true on
    *     the SparkContext, which [[graft.GraftSession.create]] sets unless
    *     the JVM's spark.* properties already do; otherwise they pile up
    *     in the checkpoint dir for the life of the application.
    *   - `none`: no materialization — the shared subplans recompute per
    *     action (the pre-round-20 behavior; correct, ~2× the splice's
    *     heavy stages).
    *
    * Lazy in all modes (the bounded edge collect right after is the
    * materializing action, so no extra job); semantics are identical
    * across modes — this dial trades fault-tolerance against speed only.
    * Any other value is an IllegalArgumentException: a misspelled
    * `durable` must not quietly drop the fault tolerance it asked for.
    */
  private[graft] def spliceMaterialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.splice.checkpoint").getOrElse("local") match {
      case "none" => df
      case "durable" =>
        // route through ConnectedComponents.durable for its checkpoint-dir
        // guard rails (set-if-unset, refuse redirect), then take the LAZY
        // variant — durable() itself returns the eager per-round form
        ConnectedComponents.durable(spark,
          graft.util.TmpDirs.sessionCheckpointDir(spark))
        df.checkpoint(false)
      case "local" => df.localCheckpoint(false)
      case other => throw new IllegalArgumentException(
        s"spark.graft.splice.checkpoint must be none, local or durable, not '$other'")
    }
  }

  /** The current (node, label) table with every tombstone applied — equal
    * to the one-shot clustering of the surviving corpus. Tombstone-free
    * state short-circuits to [[folded]] (no extra scan, the common case).
    * With tombstones: affected components (those holding an effective
    * tombstone) are re-labeled by CC over their surviving stored edges —
    * the same adaptive driver-union-find / distributed-loop split as
    * [[deltaLabels]] — and members left edge-less drop out of the
    * labeling (a clustered doc whose only duplicates were deleted is a
    * singleton again). Requires every live generation to carry its
    * `pairs` table (merges always write one; tombstone generations write
    * an empty one; a state dir compacted BEFORE pairs retention cannot
    * serve deletes — the modality's delete() refuses it up front).
    *
    * MULTI-WRITER RECONCILIATION rides the same splice (round 17, the
    * media `_PROBED` pattern carried to the label-bearing families): a
    * caller that detected genuinely-concurrent commits passes the
    * recomputed cross pairs as `extraEdges` and their closure scope as
    * `extraAffectedNodes` — every endpoint of the extra edges PLUS every
    * endpoint of the concurrent generations' stored pairs. The second
    * half is load-bearing: two concurrent merges that each pulled the
    * same OLD component into their label deltas fold to a latest-wins
    * labeling that silently splits the older merge's docs out, even when
    * no cross pair between the two batches exists — only their STORED
    * pair endpoints reveal the overlap. Affected components are then
    * re-labeled from their full stored edge set plus the extra edges,
    * exactly as tombstone corrections are, and both corrections compose
    * in one pass (extra edges are tombstone-filtered like stored ones).
    *
    * Re-ingest contract: shadowing is DOC-level here (an id re-ingested
    * after its tombstone is live with ALL its stored edges), so a
    * re-ingest under the same id must carry IDENTICAL content for the
    * served clustering to equal the one-shot — the re-merge then
    * regenerates the same pairs and the read-side dedup absorbs the
    * overlap. A differing-content re-ingest can serve stale pre-delete
    * edges until [[purgeByGen]]-based compaction drops the pre-tombstone
    * rows (the maintenance point that bounds the staleness window).
    *
    * No forced broadcasts on the delete-derived frames (teff, affected):
    * they are tombstone-batch-sized in the common case but unbounded
    * under a GDPR-scale bulk delete — AQE broadcasts when small and falls
    * back to shuffle joins (degraded-but-working) when not.
    */
  def deletedAwareLabels(spark: SparkSession, stateDir: String,
      versions: Seq[Int], indexTable: String, idCol: String,
      extraEdges: Option[DataFrame] = None,
      extraAffectedNodes: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val hasTombs = tombstoneVersions(spark, stateDir, versions).nonEmpty
    if (!hasTombs && extraEdges.isEmpty && extraAffectedNodes.isEmpty)
      return folded(spark, stateDir, versions)
    // SPLICE PATH ONLY — materialize the two subplans every later step
    // shares. This method runs TWO actions over them: the bounded edge
    // collect below (executed eagerly, here) and the caller's read of the
    // returned frame — without the lazy checkpoint each action re-executes
    // the label fold and the tombstone-scope derivation from scratch,
    // doubling the delete-serve's most expensive stages (measured: the
    // serve-after phase was the dominant term of d29/q78 at bench scale).
    // Materialization strategy is the [[spliceMaterialize]] dial (local /
    // durable / none — the ConnectedComponents.Ckpt pattern); the
    // tombstone-free common case above stays checkpoint-free.
    val current = spliceMaterialize(folded(spark, stateDir, versions))
    val teff = spliceMaterialize(
      if (hasTombs) effectiveTombstones(spark, stateDir, versions, indexTable, idCol)
      else Seq.empty[Long].toDF("node"))
    val touch = extraAffectedNodes.fold(teff)(x =>
      teff.unionByName(x.select(col("node").cast("long"))))
    val affected = current.join(touch, Seq("node"), "left_semi")
      .select(col("label")).distinct()
    val members = current.join(affected, Seq("label"), "left_semi")
    // stored pairs of the affected components (a stored pair's endpoints
    // share a folded component whenever the fold is consistent for it,
    // so one endpoint semi-join suffices; a fold-SPLIT pair — possible
    // only for a concurrent generation's pairs — has both endpoints in
    // `touch` by the extraAffectedNodes contract, hence both components
    // in `affected` and both endpoints in `members`), minus every
    // deleted-incident edge, plus the caller's reconciliation edges
    // (tombstone-filtered the same way) — exactly the survivors' true
    // pair graph over the affected scope
    val pairVs = versions.filter(v => GenState.tableExists(spark, stateDir, v, "pairs"))
    val storedEdges = (if (pairVs.isEmpty) emptyDelta(spark).select(
        col("node").as("d1"), col("label").as("d2"))
      else spark.read.parquet(pairVs.map(pairsPath(spark, stateDir, _)): _*)
        .select(col("d1").cast("long"), col("d2").cast("long")))
      .join(members.select(col("node").as("d1")), Seq("d1"), "left_semi")
    val liveEdges = extraEdges.fold(storedEdges)(e =>
        storedEdges.unionByName(
          e.select(col("d1").cast("long"), col("d2").cast("long"))))
      .join(teff.select(col("node").as("d1")), Seq("d1"), "left_anti")
      .join(teff.select(col("node").as("d2")), Seq("d2"), "left_anti")
      .dropDuplicates("d1", "d2")
    val sample = liveEdges.limit(smallEdgeLimit + 1).collect()
    val relabeled =
      if (sample.isEmpty) emptyDelta(spark).select(col("node"), col("label"))
      else if (sample.length <= smallEdgeLimit) {
        import spark.implicits._
        unionFindMinLabels(sample.map(r => (r.getLong(0), r.getLong(1))))
          .toSeq.toDF("node", "label")
      } else {
        val ckpt = ConnectedComponents.durable(spark,
          graft.util.TmpDirs.sessionCheckpointDir(spark))
        ConnectedComponents.labelPropagation(liveEdges, 50, ckpt)
          .map(_._1)
          .getOrElse(ConnectedComponents.starContraction(liveEdges, ckpt = ckpt)._1)
      }
    current.join(affected, Seq("label"), "left_anti")
      .unionByName(relabeled)
  }
}
