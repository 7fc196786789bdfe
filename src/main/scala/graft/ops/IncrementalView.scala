package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q65/q66: INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the relational
  * twin of d18's write-only dedup state. The maintained view is the q14
  * events daily rollup (`day × event_type → count, sum(value)`), whose
  * sufficient statistics are a commutative monoid (count, double-sum), so
  * the d18 insight applies verbatim: each ingest batch appends ONLY its
  * own partial aggregate as a generation — never reading prior state —
  * and the served view is one re-aggregation over the slim partials.
  *
  * Why this beats the two streaming alternatives the engine already has:
  *
  *   - complete-mode (q41) recomputes the WHOLE aggregate every
  *     micro-batch: per-batch cost grows with history, O(corpus) state in
  *     the store. Here per-batch cost is O(|batch|) and the write path is
  *     read-free.
  *   - watermarked windows (q18/q28) must BOUND lateness to close
  *     windows. Here a late event for a month-old day simply appends
  *     another partial row for that day — the fold at serve time absorbs
  *     arbitrary lateness with no watermark contract at all.
  *
  * The serve-time round: partials store the RAW double sum; `round(…, 2)`
  * is applied once at serve. Rounding per-partial would break the
  * fold (round is not associative); rounding once at the end makes
  * split-ingest agree with the one-shot q14 aggregate to the same 2-dp
  * tolerance Spark-vs-DuckDB already relies on. Compaction likewise folds
  * WITHOUT rounding — it must be lossless so folding never changes the
  * served view.
  *
  * Exactly-once under at-least-once re-delivery (the foreachBatch crash
  * window) reuses the d18 batch-key markers: re-appending a partial would
  * double-count, so a keyed merge whose key a complete generation already
  * records is a no-op. Crash-idempotent compaction via the `_COMPACTED`
  * manifest, unchanged from [[GenState]].
  *
  * At 100 TB: the view is bounded by |days × event_types| per generation
  * regardless of corpus size; generations are kilobytes; the only
  * corpus-sized work ever done is the map-side partial aggregation of
  * each batch at its own ingest — the minimum any engine must pay.
  */
object IncrementalView extends StateFamily {

  val commitTable = "partials"

  /** Reserved marker namespace for [[retract]] keys — see the note there.
    * FORMAT NOTE: state dirs whose retractions were recorded before this
    * namespace existed store raw keys; a re-delivered retraction against
    * such a dir would not match its old marker. Rebuild (or compact-and-
    * verify) pre-namespace state dirs rather than relying on retraction
    * re-delivery across the upgrade. (Checking the raw key as a fallback
    * would re-open the cross-op collision this namespace closes.)
    */
  private val retractPrefix = "retract."

  private def partialsPath(spark: SparkSession, stateDir: String, v: Int) =
    GenState.tablePath(spark, stateDir, v, "partials")

  /** One batch's partial aggregate of the q14 rollup — raw double sum, no
    * rounding (see class doc). Input must already carry a normalized
    * TimestampType `ts` ([[graft.sources.Tables.events]] /
    * [[graft.streaming.EventsStream.readEventsStream]] both guarantee it).
    */
  private def partialOf(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Ingest a batch of events: WRITE-ONLY append of its partial aggregate.
    * `batchKey` gives exactly-once under re-delivery (d18 protocol).
    */
  def merge(spark: SparkSession, stateDir: String, newEvents: DataFrame,
      batchKey: Option[String] = None): Int = {
    batchKey.foreach { k =>
      require(!k.startsWith(retractPrefix),
        s"IncrementalView.merge: batch key '$k' collides with the reserved " +
          s"retraction namespace ('$retractPrefix*') — a merge marker must " +
          "never satisfy a retraction's exactly-once check (or vice versa)")
    }
    // MULTI-WRITER allocation (GenState.allocateFresh): partials are signed
    // commutative deltas, so any interleaving of parallel ingests folds to
    // the same served view — N concurrent jobs serialize into N generations
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, commitTable) match {
      case Left(v) => return v // already ingested: re-delivery is a no-op
      case Right(nc) => nc
    }
    // the COMMIT write lands through the fence: a writer stalled past the
    // TTL whose in-flight dir a concurrent sweep reclaimed aborts here
    GenState.fencedParquet(spark, stateDir, next, "partials", claim, commitTable)(
      partialOf(newEvents))
    next
  }

  /** q79: RETRACT a batch of previously-ingested events — the NEGATIVE
    * delta the additive-partials protocol gets for free: counts and sums
    * are an abelian GROUP, not just a monoid, so a correction ingests as
    * one more write-only generation whose partial carries negated n /
    * sum_value. Everything downstream already carries the math — the fold
    * sums signed partials, time travel sees the view before/after the
    * correction, and the change feed reports the retraction as a negative
    * delta a chained view ([[Weekly]]) absorbs by the same addition it
    * already does. A correction workflow is retract(bad) + merge(fixed);
    * a group whose events are all retracted folds to n == 0 and leaves
    * the served view ([[presentable]]'s emptied-group drop) exactly as the
    * direct rollup over the corrected events would have no row.
    *
    * The caller must retract events AS ORIGINALLY INGESTED (same rows) —
    * over-retraction is not detectable from aggregates (a negative-n
    * serve would be, and fold refuses it loudly rather than serving a
    * nonsense row). `batchKey` gives the same exactly-once contract as
    * [[merge]]: a re-delivered retraction must not subtract twice.
    */
  def retract(spark: SparkSession, stateDir: String, badEvents: DataFrame,
      batchKey: Option[String] = None): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalView.retract: no state at $stateDir")
    // markers are namespaced per OPERATION: merge() and retract() share the
    // generation marker store, so a retraction whose caller-supplied key
    // happened to equal an earlier merge's key would silently no-op as
    // "already applied" and DROP the correction. The reserved prefix makes
    // the two exactly-once ledgers disjoint (merge() refuses keys in this
    // namespace), so a cross-op key reuse can never satisfy the wrong check.
    val nsKey = batchKey.map(retractPrefix + _)
    val (next, claim) = GenState.allocateFresh(spark, stateDir, nsKey, commitTable) match {
      case Left(v) => return v // already retracted: re-delivery is a no-op
      case Right(nc) => nc
    }
    // the COMMIT write lands through the fence (see merge)
    GenState.fencedParquet(spark, stateDir, next, "partials", claim, commitTable)(
      partialOf(badEvents)
        .select(col("day"), col("event_type"), (-col("n")).as("n"),
          (-col("sum_value")).as("sum_value")))
    next
  }

  private def rollup(spark: SparkSession, stateDir: String, versions: Seq[Int]): DataFrame = {
    if (versions.isEmpty) {
      import spark.implicits._
      return Seq.empty[(java.sql.Date, String, Long, Double)]
        .toDF("day", "event_type", "n", "sum_value")
    }
    spark.read.parquet(versions.map(partialsPath(spark, stateDir, _)): _*)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), round(sum(col("sum_value")), 2).as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  /** The VIEW-SERVING half of the retraction contract, applied on top of
    * a fold only where the result presents as the maintained view (serve
    * / serveAsOf / Weekly.serve) and NEVER on a change feed, whose rows
    * are DELTAS: there a negative n is a legitimate retraction delta and
    * an n == 0 row can still carry a real sum correction. On a serving
    * surface: a fully-retracted group leaves the view (the direct rollup
    * over corrected events has no such row), and a NEGATIVE count means
    * the caller retracted events never ingested — refuse loudly rather
    * than serve a nonsense row.
    */
  private def presentable(folded: DataFrame, timeCol: String): DataFrame =
    folded
      .withColumn("n", when(col("n") < 0, raise_error(concat(
        lit("IncrementalView: negative count after retraction for group ("),
        col(timeCol), lit(", "), col("event_type"),
        lit(") — a retraction must cover only previously-ingested events"))))
        .otherwise(col("n")))
      .where(col("n") =!= 0)

  /** The maintained view: fold the live partials, round once, q14 shape. */
  def serve(spark: SparkSession, stateDir: String): DataFrame =
    presentable(rollup(spark, stateDir, completeVersions(spark, stateDir)), "day")

  /** TIME TRAVEL: the view as of generation `v` — fold the live
    * generations with version ≤ v. Because every generation is an
    * immutable delta, any historical version is just a shorter fold: no
    * snapshot copies, no undo log. The horizon is bounded by compaction
    * (the vacuum of this layout): a fold target older than the oldest
    * live generation was physically folded away, and asking for it is an
    * error rather than a silently-wrong answer.
    */
  def serveAsOf(spark: SparkSession, stateDir: String, v: Int): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    require(versions.isEmpty || versions.head <= v || v < 0,
      s"IncrementalView.serveAsOf: generation $v predates the oldest live " +
        s"generation ${versions.head} — history before a compaction " +
        "boundary is vacuumed")
    presentable(rollup(spark, stateDir, versions.filter(_ <= v)), "day")
  }

  /** CHANGE FEED: what the view gained BETWEEN generation `fromExclusive`
    * and generation `toInclusive` — the CDC read surface of the
    * maintained view. Because partials are already deltas, the feed is a
    * fold over just the generations in the window: each output row is a
    * (day, event_type) whose aggregate changed, with the n / sum_value
    * DELTAS (sum of the window's partials). A downstream consumer applies
    * it by adding — the additive-CDC contract that makes view chaining
    * (view over view) work without replaying history.
    */
  def changeFeed(spark: SparkSession, stateDir: String,
      fromExclusive: Int, toInclusive: Int): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    // validity: a live COMPACTED generation inside the window must not
    // have folded sources from BEFORE the window start — the fold can't
    // split, so such a feed would re-report pre-window ingests as
    // changes. (fromExclusive < 0 is always valid: the feed is then the
    // full view, whatever was folded.)
    val f = GenState.fs(spark, stateDir)
    val straddles = versions
      .filter(v => v > fromExclusive && v <= toInclusive)
      .exists(v => GenState.readManifest(f, stateDir, v).exists(_ <= fromExclusive))
    require(fromExclusive < 0 || !straddles,
      s"IncrementalView.changeFeed: a compacted generation in the window " +
        s"($fromExclusive, $toInclusive] folds history from at or before " +
        "the window start — that boundary is vacuumed")
    // DELTAS, not a view: negative n is a legitimate retraction delta and
    // an n == 0 row can still carry a sum correction — no [[presentable]]
    rollup(spark, stateDir, versions.filter(v => v > fromExclusive && v <= toInclusive))
  }

  /** UNROUNDED change feed — the view-chaining contract. A downstream
    * view ingesting this feed must see the raw double partials: rounded
    * deltas would accumulate presentation error (sum of rounded ≠ round
    * of sum), while raw deltas keep the chained view bit-equal to
    * computing it from scratch. Same window/vacuum checks as
    * [[changeFeed]]; rounding stays a serve-time concern of whichever
    * view finally presents.
    */
  def changeFeedRaw(spark: SparkSession, stateDir: String,
      fromExclusive: Int, toInclusive: Int): DataFrame = {
    val versions = completeVersions(spark, stateDir)
    val f = GenState.fs(spark, stateDir)
    val straddles = versions
      .filter(v => v > fromExclusive && v <= toInclusive)
      .exists(v => GenState.readManifest(f, stateDir, v).exists(_ <= fromExclusive))
    require(fromExclusive < 0 || !straddles,
      s"IncrementalView.changeFeedRaw: a compacted generation in the window " +
        s"($fromExclusive, $toInclusive] folds history from at or before " +
        "the window start — that boundary is vacuumed")
    val window = versions.filter(v => v > fromExclusive && v <= toInclusive)
    if (window.isEmpty) {
      import spark.implicits._
      return Seq.empty[(java.sql.Date, String, Long, Double)]
        .toDF("day", "event_type", "n", "sum_value")
    }
    spark.read.parquet(window.map(partialsPath(spark, stateDir, _)): _*)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"))
  }

  /** q70: a WEEKLY view maintained purely from the daily view's raw
    * change feed — view-over-view chaining. The weekly partials are one
    * further associative reduction of the feed's (day → week) rows, so
    * the whole generational protocol (markers, folds, serve-time
    * rounding) applies unchanged one level up, and the chained view
    * equals computing the weekly rollup from the raw events — without
    * ever reading them. At scale this is how rollup pyramids (minute →
    * hour → day → week) stay O(delta) per level per ingest.
    */
  object Weekly {

    private def path(spark: SparkSession, stateDir: String, v: Int) =
      GenState.tablePath(spark, stateDir, v, "partials")

    def completeVersions(spark: SparkSession, stateDir: String): Seq[Int] =
      GenState.completeVersions(spark, stateDir, "partials")

    /** Ingest one RAW daily-feed window ([[changeFeedRaw]] output). */
    def merge(spark: SparkSession, stateDir: String, rawFeed: DataFrame,
        batchKey: Option[String] = None): Int = {
      val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey, "partials") match {
        case Left(v) => return v
        case Right(nc) => nc
      }
      // the COMMIT write lands through the fence (the daily merge's rule)
      GenState.fencedParquet(spark, stateDir, next, "partials", claim, "partials")(
        rawFeed
          .groupBy(date_trunc("week", col("day")).cast("date").as("week"), col("event_type"))
          .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value")))
      next
    }

    def serve(spark: SparkSession, stateDir: String): DataFrame = {
      val versions = completeVersions(spark, stateDir)
      if (versions.isEmpty) {
        import spark.implicits._
        return Seq.empty[(java.sql.Date, String, Long, Double)]
          .toDF("week", "event_type", "n", "sum_value")
      }
      // retractions chain through as negative deltas; the weekly SERVE is
      // a view surface, so the same presentation rule as the daily serve
      // applies: emptied groups leave, negative counts refuse loudly
      presentable(
        spark.read.parquet(versions.map(path(spark, stateDir, _)): _*)
          .groupBy(col("week"), col("event_type"))
          .agg(sum(col("n")).as("n"), round(sum(col("sum_value")), 2).as("sum_value"))
          .orderBy(col("week"), col("event_type")),
        "week")
    }
  }

  /** Fold the live partials into ONE generation — losslessly (no
    * rounding), so the served view is unchanged; `_COMPACTED` manifest
    * before the commit, markers travel with the fold (d18 protocol).
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, _, _) =>
      spark.read.parquet(versions.map(partialsPath(spark, stateDir, _)): _*)
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"))
    }
}
