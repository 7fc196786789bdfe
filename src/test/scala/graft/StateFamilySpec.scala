package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

/** The [[StateFamily]] contract's compaction policy, driven through the
  * family objects themselves: `maybeCompact` is the trait's one
  * implementation for every family, so one loop over families whose
  * commit tables differ pins it — a no-op under the threshold that
  * touches nothing on disk, and above it a fold to exactly one live
  * generation (listed under the family's OWN commit table) that serves
  * the same answer.
  */
class StateFamilySpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, sf0001)
  private def events = graft.sources.Tables.events(spark, sf0001)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every file under `dir` with its length and mtime. */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    val it = GenState.fs(spark, dir).listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var out = Map.empty[String, (Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      out += st.getPath.toString -> (st.getLen, st.getModificationTime)
    }
    out
  }

  private case class Case(
      family: StateFamily,
      commitTable: String,
      merge: (String, Int) => Unit, // (stateDir, batch 0|1)
      serve: String => DataFrame)

  private def half(df: DataFrame, idCol: String, b: Int): DataFrame =
    df.where(pmod(col(idCol), lit(2)) === b)

  private val cases = Seq(
    Case(IncrementalCard, "partials",
      (s, b) => IncrementalCard.merge(spark, s, half(docs, "doc_id", b), Some(s"k$b")),
      s => IncrementalCard.serve(spark, s)),
    Case(IncrementalTopK, "counts",
      (s, b) => IncrementalTopK.merge(spark, s, half(docs, "doc_id", b), Some(s"k$b")),
      s => IncrementalTopK.topK(spark, s)),
    Case(IncrementalSubstring, "hits",
      (s, b) => IncrementalSubstring.merge(spark, s, half(docs, "doc_id", b), Some(s"k$b")),
      s => IncrementalSubstring.spans(spark, s).select("d1", "d2", "span_len")),
    Case(IncrementalView, "partials",
      (s, b) => IncrementalView.merge(spark, s, half(events, "event_id", b), Some(s"k$b")),
      s => IncrementalView.serve(spark, s)),
    Case(IncrementalMinHash, "labels",
      (s, b) => IncrementalMinHash.merge(spark, s, half(docs, "doc_id", b), batchKey = Some(s"k$b")),
      s => IncrementalMinHash.clusters(spark, s)
        .select("doc_id", "cluster_id", "cluster_size", "is_keeper")))

  test("maybeCompact: a no-op at the threshold, one live generation above it, same serve") {
    for (c <- cases) {
      val name = c.family.getClass.getSimpleName.stripSuffix("$")
      val state = graft.util.TmpDirs.scratch(s"graft_sf_${c.commitTable}_").toString
      c.merge(state, 0)
      c.merge(state, 1)
      val live = GenState.completeVersions(spark, state, c.commitTable)
      assert(live.size == 2, s"[$name] two merges must leave two live generations")
      assert(c.family.completeVersions(spark, state) == live)
      val want = rows(c.serve(state))

      val before = listing(state)
      assert(c.family.maybeCompact(spark, state, maxLive = live.size).isEmpty,
        s"[$name] at the threshold maybeCompact must not fold")
      assert(listing(state) == before, s"[$name] a maybeCompact that did not fold wrote files")

      val folded = c.family.maybeCompact(spark, state, maxLive = 1)
      assert(folded.isDefined, s"[$name] above the threshold maybeCompact must fold")
      assert(GenState.completeVersions(spark, state, c.commitTable) == folded.toSeq,
        s"[$name] the fold must leave exactly one live ${c.commitTable} generation")
      assert(c.family.latestVersion(spark, state) == folded)
      assert(rows(c.serve(state)) == want, s"[$name] compaction changed the served output")
    }
  }
}
