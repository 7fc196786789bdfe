package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generational incremental-state family: a state dir of [[GenState]]
  * generations whose liveness is keyed on ONE commit table (its
  * `_SUCCESS`, or its `_COMMIT` pointer, commits the generation). The
  * version listing, the size-tiered compaction policy and the compaction
  * commit protocol are the same for every family and live here and in
  * [[GenState.fold]]; what differs per family — merge, serve and the fold
  * body itself — stays on the family object.
  */
trait StateFamily {

  /** The table whose commit makes a generation complete. */
  def commitTable: String

  /** Fold every live generation into one fresh generation; returns it. */
  def compact(spark: SparkSession, stateDir: String): Int

  def completeVersions(spark: SparkSession, stateDir: String): Seq[Int] =
    GenState.completeVersions(spark, stateDir, commitTable)

  def latestVersion(spark: SparkSession, stateDir: String): Option[Int] =
    GenState.latestVersion(spark, stateDir, commitTable)

  /** [[GenState.maybeCompact]] policy over [[compact]]: fold when live
    * generations exceed `maxLive` (read amplification is O(live)).
    */
  def maybeCompact(spark: SparkSession, stateDir: String, maxLive: Int): Option[Int] =
    GenState.maybeCompact(spark, stateDir, maxLive, commitTable)(compact(spark, stateDir))

  /** [[GenState.fold]] on this family's commit table; `body` writes the
    * peer tables of `next` and returns the commit table's frame.
    */
  protected def fold(spark: SparkSession, stateDir: String)(
      body: (Seq[Int], Int, String) => DataFrame): Int =
    GenState.fold(spark, stateDir, commitTable,
      s"${getClass.getSimpleName.stripSuffix("$")}.compact")(body)
}

/** A [[StateFamily]] that takes right-to-be-forgotten deletes: a
  * tombstone generation shadows the ids in older generations, and
  * [[compact]] drops them physically. [[Deletes]] drives every such
  * family through this contract.
  */
trait TombstoneFamily extends StateFamily {

  /** The id column the family's state stores (doc_id / vec_id / name). */
  def idColumn: String

  /** Tombstone `ids` (one `idColumn` column); returns the new generation. */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int
}
