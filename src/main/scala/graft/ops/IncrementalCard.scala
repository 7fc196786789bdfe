package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** t23: INCREMENTAL dataset-card maintenance — the q65 view family
  * extended to COUNT DISTINCT, the classic hard case of incremental view
  * maintenance: a distinct count is not a sum of per-batch distinct
  * counts (batches share content), so the additive-partials protocol
  * alone cannot maintain it.
  *
  * The answer is the standard one, under the d18 chassis: persist the
  * SUFFICIENT STATISTIC instead of the number. Each generation holds
  *   - `vN/partials`: the batch's additive half — per source: docs,
  *     tokens, chars, scaled score sum (exact decimal);
  *   - `vN/hashes`: the batch's DISTINCT (source, content-hash) pairs;
  *   - `vN/langs`: the batch's distinct (source, lang) pairs;
  *   - `vN/sketches`: mergeable HLL twins of the key tables (t24);
  *   - `vN/docs`: the per-doc stats sidecar — what [[delete]] needs to
  *     subtract a doc and to track distinct-key MULTIPLICITY.
  * Serving folds sums additively and counts the UNION-distinct of the
  * key tables; compaction dedups re-observed keys, so state size is
  * bounded by DISTINCT CONTENT (the quantity being measured), not by
  * rows ingested — and per-ingest cost is O(batch): one compiled stats
  * pass, two slim distinct aggregations, three parquet appends, nothing
  * read.
  *
  * Exactness: distinct-union is idempotent and commutative and the sums
  * are associative, so any split-ingest folds to the one-shot t22 card
  * bit for bit (shared per-doc projection [[TextAnalysis.cardDocStats]],
  * rounding only at serve time — the q65 rule). Batch-key markers make
  * re-delivered batches no-ops (the additive half would double-count;
  * the distinct half would not — markers protect the pair).
  */
object IncrementalCard extends TombstoneFamily {

  val commitTable = "partials"
  val idColumn = "doc_id"

  private def partialsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "partials")
  private def hashesPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "hashes")
  private def langsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "langs")
  private def sketchesPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "sketches")
  private def docsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "docs")

  /** The additive half of the card: per-source sums of per-doc stats. */
  private def partialsOf(stats: DataFrame): DataFrame =
    stats.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("sc").cast("decimal(38,0)")).as("sc_sum"))

  /** The partials of `versions` re-aggregated into one row per source. */
  private def foldedPartials(spark: SparkSession, stateDir: String,
      versions: Seq[Int]): DataFrame =
    spark.read.parquet(versions.map(partialsPath(spark, stateDir, _)): _*)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"), sum(col("sc_sum")).as("sc_sum"))

  /** Mergeable HLL sketches of the distinct keys, per source. */
  private def sketchesOf(stats: DataFrame): DataFrame =
    stats.groupBy(col("source"))
      .agg(expr("hll_sketch_agg(h)").as("hsk"), expr("hll_sketch_agg(lang)").as("lsk"))

  /** Ingest one batch of documents (doc_ids disjoint from prior ingests
    * unless re-delivered under the same `batchKey`).
    */
  def merge(spark: SparkSession, stateDir: String, newDocs: DataFrame,
      batchKey: Option[String] = None): Int = {
    // multi-writer: the generation is write-only (independent of the live
    // state), so fresh allocation serializes N parallel ingest jobs
    // (GenState.claimFresh); the keyed exactly-once no-op rides inside
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, commitTable) match {
      case Left(v) => return v // already ingested: re-delivery is a no-op
      case Right(nc) => nc
    }
    // persist across the four writes below: the stats projection is one
    // compiled tokenize+score pass over the batch TEXT — uncached, each
    // write would redo it, quadrupling per-trigger ingest cost
    val stats = TextAnalysis.cardDocStats(newDocs).persist()
    try {
      // materialize the cached stats pass ONCE, on this thread, before the
      // concurrent writes fan out — otherwise all four race to compute the
      // same cached partitions and the slowest write pays the text pass
      stats.count()
      // key tables first, additive commit table LAST: a crash leaves an
      // incomplete generation that the next attempt rebuilds wholesale.
      // The d28-style PER-DOC sidecar rides first: hashes/langs are
      // DISTINCT (a doc's membership is not recoverable from them) and
      // partials are aggregated, so only the sidecar lets [[delete]]
      // subtract a doc — and lets the distinct counts drop a key exactly
      // when its LAST surviving carrier goes (multiplicity, tracked by
      // keeping the keys per-doc instead of per-batch-distinct).
      // The four key tables are mutually independent projections of the
      // cached stats — written CONCURRENTLY ([[GenState.inParallel]]):
      // sequential, each paid its own full driver round, which dominated
      // the per-trigger wall clock at micro-batch size.
      GenState.inParallel(Seq(
        () => GenState.fencedParquet(spark, stateDir, next, "docs", claim,
          commitTable)(stats),
        () => GenState.fencedParquet(spark, stateDir, next, "hashes", claim,
          commitTable)(stats.select(col("source"), col("h")).distinct()),
        () => GenState.fencedParquet(spark, stateDir, next, "langs", claim,
          commitTable)(stats.select(col("source"), col("lang")).distinct()),
        // the O(1)-per-group sufficient statistic: mergeable HLL sketches
        // of the same keys (Apache DataSketches via hll_sketch_agg) — the
        // serve-time choice between exact and approx is a READ choice; the
        // ingest pays both (one extra aggregation of the already-computed
        // stats, kilobytes written)
        () => GenState.fencedParquet(spark, stateDir, next, "sketches", claim,
          commitTable)(sketchesOf(stats))))
      // the COMMIT write lands through the fence: a writer stalled past
      // the TTL whose in-flight dir a concurrent sweep reclaimed aborts
      // here, never landing a torn complete generation
      GenState.fencedParquet(spark, stateDir, next, "partials", claim, commitTable)(
        partialsOf(stats))
    } finally stats.unpersist()
    next
  }

  /** t26: TOMBSTONE a set of doc_ids — right-to-be-forgotten for the
    * maintained datasheet, the COUNT-DISTINCT hard case: a deleted doc's
    * additive contribution subtracts (sums are an abelian group), but a
    * distinct key must leave the card only when its LAST surviving
    * carrier goes — multiplicity the distinct-key tables do not track.
    * The per-doc sidecar does: a tombstoned read serves the card from the
    * surviving sidecar rows (the one-shot t22 arithmetic over survivors,
    * exactly), and [[compact]] re-derives every table from the survivors
    * and purges the deleted rows physically. LSM shadowing as everywhere:
    * a tombstone affects generations older than itself only, so a later
    * re-ingest of the same doc_id is live again. Requires every live
    * generation to carry the sidecar — a state dir persisted before
    * sidecar retention cannot serve deletes and is refused up front.
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalCard.delete: no state at $stateDir")
    require(live.forall(v => GenState.tableExists(spark, stateDir, v, "docs")),
      s"IncrementalCard.delete: state at $stateDir predates per-doc sidecar " +
        "retention — distinct-key multiplicity is not recoverable from the " +
        "distinct tables")
    val (next, claim) = GenState.claimFresh(spark, stateDir, commitTable)
    // tombstones + empty peers are mutually independent — written
    // concurrently (guide §2.6 via [[GenState.inParallel]]); empty
    // partials LAST — the commit marker, landed through the fence
    GenState.inParallel(
      (() => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim,
        commitTable)(
        ids.select(col("doc_id").cast("long").as("node")).dropDuplicates("node"))) +:
      Seq("docs", "hashes", "langs", "sketches").map(t =>
        () => GenState.fencedParquet(spark, stateDir, next, t, claim, commitTable)(
          spark.read.parquet(
            GenState.tablePath(spark, stateDir, live.head, t)).limit(0))))
    GenState.fencedParquet(spark, stateDir, next, "partials", claim, commitTable)(
      spark.read.parquet(partialsPath(spark, stateDir, live.head)).limit(0))
    next
  }

  /** The surviving per-doc sidecar rows: every sidecar row whose doc_id
    * does NOT carry a tombstone newer than the row's generation — the
    * shared row-level shadowing rule ([[LabelState.purgeByGen]]; a
    * re-ingested doc's newer rows survive).
    */
  private def survivorStats(spark: SparkSession, stateDir: String,
      versions: Seq[Int]): DataFrame =
    LabelState.purgeByGen(
      LabelState.tombstonesByGen(spark, stateDir, versions),
      versions.map(v => (v, spark.read.parquet(docsPath(spark, stateDir, v)))),
      Seq("doc_id"))

  /** The current card from state alone — identical columns, values, and
    * rounding to the one-shot t22. Tombstone-free state (the common case)
    * folds the slim partials and distinct-key tables; a tombstoned state
    * serves the t22 arithmetic over the surviving sidecar rows instead —
    * the distinct counts need per-doc multiplicity the key tables don't
    * carry. [[compact]] restores the slim fast path.
    */
  def serve(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    require(versions.nonEmpty, s"IncrementalCard.serve: no state at $stateDir")
    if (LabelState.tombstoneVersions(spark, stateDir, versions).nonEmpty)
      return TextAnalysis.cardOf(survivorStats(spark, stateDir, versions))
    val sums = foldedPartials(spark, stateDir, versions)
    val nd = spark.read.parquet(versions.map(hashesPath(spark, stateDir, _)): _*)
      .distinct().groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct_texts"))
    val nl = spark.read.parquet(versions.map(langsPath(spark, stateDir, _)): _*)
      .distinct().groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"))
    sums.join(nl, "source").join(nd, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("n_distinct_texts"),
        round(lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        round(col("sc_sum").cast("double") / col("n_docs") / lit(1e12), 6)
          .as("avg_score"))
      .orderBy(col("source"))
  }

  /** t24: the APPROXIMATE card — dup rate and language spread from the
    * folded HLL sketches instead of the distinct-key tables. Same
    * additive columns, estimated distincts. This is the 100 TB dial: the
    * exact key tables grow with DISTINCT CONTENT (already bounded, but
    * real), while the sketch state is O(sources × sketch size) —
    * kilobytes, forever — and a deployment that accepts ~1% distinct
    * error can drop the key tables entirely and keep this read. Sketch
    * union is associative and deterministic, so any split-ingest serves
    * the same estimate.
    */
  def serveApprox(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    require(versions.nonEmpty, s"IncrementalCard.serveApprox: no state at $stateDir")
    // Delete contract for the SKETCHED half: HLL cannot subtract, so
    // between a delete and the next [[compact]] the distinct ESTIMATES
    // still include deleted content (an upper bound); the additive
    // columns are corrected immediately (served from survivors). Compact
    // re-sketches from the surviving sidecar rows, restoring the
    // estimates — rebuild-on-compact is the accuracy contract of the
    // approximate card under deletion.
    val delVs = LabelState.tombstoneVersions(spark, stateDir, versions)
    val sums =
      if (delVs.isEmpty) foldedPartials(spark, stateDir, versions)
      else partialsOf(survivorStats(spark, stateDir, versions))
    val est = spark.read.parquet(versions.map(sketchesPath(spark, stateDir, _)): _*)
      .groupBy(col("source"))
      .agg(expr("cast(round(hll_sketch_estimate(hll_union_agg(hsk))) as bigint)")
          .as("n_distinct_est"),
        expr("cast(round(hll_sketch_estimate(hll_union_agg(lsk))) as bigint)")
          .as("n_langs_est"))
    sums.join(est, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs_est"), col("n_distinct_est"),
        round(lit(1.0) - col("n_distinct_est").cast("double") / col("n_docs"), 6)
          .as("dup_rate_est"),
        round(col("sc_sum").cast("double") / col("n_docs") / lit(1e12), 6)
          .as("avg_score"))
      .orderBy(col("source"))
  }

  /** Fold the live generations into one: sums re-aggregate, key tables
    * dedup, sketches union — state returns to O(distinct content) exact
    * plus O(1) sketched. Markers travel with the fold (re-delivery must
    * stay a no-op after maintenance).
    *
    * Tombstones are applied PHYSICALLY: every table — partials, key
    * tables, and the SKETCHES (the half that cannot subtract
    * incrementally) — re-derives from the surviving sidecar rows, so
    * deleted bytes leave disk, [[serveApprox]]'s estimates snap back to
    * the survivors, and no tombstones are carried. The sidecar folds only
    * when EVERY source generation carries one (a legacy fold must not
    * fabricate a sidecar that would wrongly pass [[delete]]'s retention
    * check).
    */
  def compact(spark: SparkSession, stateDir: String): Int = {
    // the tombstoned fold's survivors stay cached until the commit write
    // (the fold's last frame) has run
    var cached: Option[DataFrame] = None
    try fold(spark, stateDir) { (versions, next, claim) =>
      def write(table: String)(df: DataFrame): Unit =
        GenState.fencedParquet(spark, stateDir, next, table, claim, commitTable)(df)
      if (LabelState.tombstoneVersions(spark, stateDir, versions).nonEmpty) {
        // tombstoned fold: one survivors projection feeds all five tables
        val survivors = survivorStats(spark, stateDir, versions).persist()
        cached = Some(survivors)
        write("docs")(survivors)
        write("hashes")(survivors.select(col("source"), col("h")).distinct())
        write("langs")(survivors.select(col("source"), col("lang")).distinct())
        write("sketches")(sketchesOf(survivors))
        partialsOf(survivors)
      } else {
        def all(path: (SparkSession, String, Int) => String): DataFrame =
          spark.read.parquet(versions.map(path(spark, stateDir, _)): _*)
        if (versions.forall(v => GenState.tableExists(spark, stateDir, v, "docs")))
          write("docs")(all(docsPath))
        write("hashes")(all(hashesPath).distinct())
        write("langs")(all(langsPath).distinct())
        write("sketches")(all(sketchesPath).groupBy(col("source"))
          .agg(expr("hll_union_agg(hsk)").as("hsk"), expr("hll_union_agg(lsk)").as("lsk")))
        foldedPartials(spark, stateDir, versions)
      }
    } finally cached.foreach(_.unpersist())
  }
}
