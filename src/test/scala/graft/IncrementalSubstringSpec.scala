package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, IncrementalSubstring}

/** d20: the exact-substring modality's incremental state merge must be
  * hash-identical to d13's one-shot span table on the union, for any batch
  * split — including across the occurrence cap, whose two halves
  * (merge-time cold-anchor probe, read-time final-count filter) must
  * compose to EXACTLY d13's corpus-wide cap rule — and must touch old
  * documents only through the persisted positional anchor generations.
  */
class IncrementalSubstringSpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, sf0001)

  private def spansSorted(df: org.apache.spark.sql.DataFrame) =
    df.select("d1", "d2", "span_len").collect().map(_.toSeq).sortBy(_.toString).toSeq

  private def oneShot(dir: String) = spansSorted(Dedup.exactSubstringPairs(spark, dir))

  /** Write a documents table with the given (doc_id, text) rows to a
    * scratch sf dir (the ExactSubstringSpec fixture shape).
    */
  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = graft.util.TmpDirs.scratch("graft_d20_spec_").toString
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "web", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("split-ingest == one-shot d13 spans on sf0.001, any split") {
    val full = oneShot(sf0001)
    assert(full.nonEmpty, "sf0.001 should contain shared-span pairs")
    for (mod <- Seq(2, 3)) {
      val state = graft.util.TmpDirs.scratch(s"graft_d20_t_${mod}_").toString
      (0 until mod).foreach { r =>
        IncrementalSubstring.merge(spark, state,
          docs.where(pmod(col("doc_id"), lit(mod)) === r))
      }
      assert(IncrementalSubstring.latestVersion(spark, state).contains(mod - 1))
      assert(spansSorted(IncrementalSubstring.spans(spark, state)) == full,
        s"$mod-way split-ingest diverged from the one-shot span table")
    }
  }

  test("cap crossing between ingests: read-time filter lands exactly on d13's rule") {
    // span S: shared by docs 0/1 in batch 1 (a genuine pair), then pushed
    // past anchorMaxOcc by batch 2's 101 planted copies — the one-shot
    // drops EVERY pair through S's anchors, so the incremental read must
    // retro-drop the (0, 1) hit its first merge stored. Span T is the
    // cold control: one member per batch, found at batch 2's merge.
    val s14 = (1 to 14).map(i => s"s$i").mkString(" ")
    val t14 = (1 to 14).map(i => s"t$i").mkString(" ")
    val batch1 = Seq(
      0L -> s"a0 b0 $s14 c0 d0",
      1L -> s"x1 y1 z1 $s14 w1",
      2L -> s"p2 q2 $t14 u2 v2")
    val batch2 = (10L to 110L).map(i => i -> s"f$i $s14 g$i") :+
      (200L -> s"k2 l2 $t14 m2")
    val dir = corpus(batch1 ++ batch2)
    val full = oneShot(dir)
    assert(full == Seq(Seq(2L, 200L, 14L)),
      s"one-shot fixture expectation drifted: $full")

    val state = graft.util.TmpDirs.scratch("graft_d20_cap_").toString
    val all = graft.sources.Tables.documents(spark, dir)
    IncrementalSubstring.merge(spark, state, all.where(col("doc_id") < 10))
    // before the cap crossing, the (0, 1) hit is live
    assert(spansSorted(IncrementalSubstring.spans(spark, state))
      == Seq(Seq(0L, 1L, 14L)))
    IncrementalSubstring.merge(spark, state, all.where(col("doc_id") >= 10))
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == full,
      "spans after the cap crossing diverged from the one-shot rule")
  }

  test("keyed re-delivered batch is a NO-OP: no new generation, spans unchanged") {
    val state = graft.util.TmpDirs.scratch("graft_d20_redel_").toString
    val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val b2 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    IncrementalSubstring.merge(spark, state, b1, Some("b0"))
    IncrementalSubstring.merge(spark, state, b2, Some("b1"))
    val before = spansSorted(IncrementalSubstring.spans(spark, state))
    // the q58 crash window: merge landed, stream checkpoint didn't —
    // the re-delivered keyed merge must not even create a generation
    // (the merge-side cold counter counts stored rows, so a duplicated
    // batch would inflate anchor occurrence; the marker prevents it)
    assert(IncrementalSubstring.merge(spark, state, b2, Some("b1")) == 1)
    assert(IncrementalSubstring.completeVersions(spark, state) == Seq(0, 1),
      "re-delivered keyed batch created a generation")
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == before,
      "re-delivered batch changed the span table")
    assert(before == oneShot(sf0001))
    // and the no-op survives compaction (markers travel with the fold)
    val v = IncrementalSubstring.compact(spark, state)
    assert(IncrementalSubstring.merge(spark, state, b2, Some("b1")) == v)
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == before)
  }

  test("compaction folds anchors AND hits; post-compact merges stay exact") {
    val state = graft.util.TmpDirs.scratch("graft_d20_cpt_").toString
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(3)) === 0))
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(3)) === 1))
    val before = spansSorted(IncrementalSubstring.spans(spark, state))
    val v = IncrementalSubstring.compact(spark, state)
    assert(IncrementalSubstring.completeVersions(spark, state) == Seq(v))
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == before)
    val f = graft.ops.GenState.fs(spark, state)
    for (sub <- Seq("anchors", "hits")) {
      assert(f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/$sub/_SUCCESS")),
        s"compacted generation is missing $sub")
    }
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(3)) === 2))
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == oneShot(sf0001))
  }

  test("merge probes old docs ONLY via the persisted anchor index") {
    val state = graft.util.TmpDirs.scratch("graft_d20_plan_").toString
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(5)) =!= 0))
    // batch 2's probe, exactly as merge builds it: new anchors (written to
    // a scratch generation) against the persisted v0 union — no document
    // re-read, no re-tokenization; only slim anchor parquet scans
    val batch2 = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val scratch2 = graft.util.TmpDirs.scratch("graft_d20_plan_b2_").toString
    IncrementalSubstring.merge(spark, scratch2, batch2)
    val newAnch = spark.read.parquet(s"$scratch2/v0/anchors")
    val hot = spark.read.parquet(s"$state/v0/occ", s"$scratch2/v0/occ")
      .groupBy(col("anchor")).agg(sum(col("aocc")).as("aocc"))
      .where(col("aocc") > Dedup.anchorMaxOcc).select(col("anchor"))
    val cand = IncrementalSubstring.candidateHits(newAnch,
      spark.read.parquet(s"$state/v0/anchors"), hot)
    val plan = cand.queryExecution.executedPlan.toString
    assert(!plan.contains("ws_tokens"), s"probe re-tokenizes documents:\n$plan")
    assert(!plan.contains("documents"), s"probe re-reads document text:\n$plan")
    assert(plan.contains("anchors"), s"probe skips the persisted anchor index:\n$plan")
  }

  test("merge probe plan is ZERO-SHUFFLE: hot-set and new-batch sides broadcast") {
    // the candidate-hits job must resolve to broadcast joins with no
    // positional-row shuffle — a Spark upgrade or AQE threshold change that
    // silently reintroduces an Exchange over the corpus-wide anchor union
    // fails here
    val state = graft.util.TmpDirs.scratch("graft_d20_noshuf_").toString
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(5)) =!= 0))
    val scratch2 = graft.util.TmpDirs.scratch("graft_d20_noshuf_b2_").toString
    IncrementalSubstring.merge(spark, scratch2, docs.where(pmod(col("doc_id"), lit(5)) === 0))
    def probePlan(): String = {
      val hot = spark.read.parquet(s"$state/v0/occ", s"$scratch2/v0/occ")
        .groupBy(col("anchor")).agg(sum(col("aocc")).as("aocc"))
        .where(col("aocc") > Dedup.anchorMaxOcc).select(col("anchor"))
      val cand = IncrementalSubstring.candidateHits(
        spark.read.parquet(s"$scratch2/v0/anchors"),
        spark.read.parquet(s"$state/v0/anchors"), hot)
      cand.collect() // let AQE finalize the plan
      cand.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    val plan = probePlan()
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 0, s"merge probe pays a hash-partition shuffle:\n$plan")
    assert(smj == 0, s"merge probe fell back to sort-merge:\n$plan")
    // ≥1: the new-vs-union equi-join must broadcast; the hot anti-joins
    // appear too when the hot set is non-empty (AQE elides them at this
    // SF because the capped set is empty — fine, that's also shuffle-free)
    assert(bhj >= 1, s"the anchor equi-join does not broadcast:\n$plan")
    // sensitivity check: with broadcasting forced off the same job MUST
    // shuffle — proving the assertion above actually discriminates
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val shuffled = "Exchange hashpartitioning".r.findAllIn(probePlan()).size
      assert(shuffled > 0, "broadcast-off run still shows no shuffle — the pin is vacuous")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("d32 delete: tombstoned-incident spans drop; occurrence stays append-only; compact purges") {
    // shadowing is per-pair (a hit never routes through a third doc), so
    // spans-after-delete must equal the FULL state's spans filtered to
    // surviving pairs — exact by construction, whatever the cap did
    val dead = (id: org.apache.spark.sql.Column) => pmod(id, lit(7)) === 3
    val full = graft.util.TmpDirs.scratch("graft_d32_full_").toString
    IncrementalSubstring.merge(spark, full, docs.where(pmod(col("doc_id"), lit(2)) === 0))
    IncrementalSubstring.merge(spark, full, docs.where(pmod(col("doc_id"), lit(2)) === 1))
    val expected = spansSorted(IncrementalSubstring.spans(spark, full)
      .where(!dead(col("d1")) && !dead(col("d2"))))
    val state = graft.util.TmpDirs.scratch("graft_d32_del_").toString
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(2)) === 0))
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(2)) === 1))
    IncrementalSubstring.delete(spark, state,
      docs.where(dead(col("doc_id"))).select(col("doc_id")))
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == expected)
    assert(expected.nonEmpty, "the delete set should leave some surviving spans")
    assert(expected != spansSorted(IncrementalSubstring.spans(spark, full)),
      "the delete set should actually remove some spans")
    // compact: anchors and hits purge; occ keeps the full history (the
    // append-only cap statistic delete() documents); serve unchanged
    val v = IncrementalSubstring.compact(spark, state)
    val f = graft.ops.GenState.fs(spark, state)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/tombstones")))
    assert(spark.read.parquet(s"$state/v$v/anchors")
      .where(dead(col("doc_id"))).count() == 0, "purged anchors still hold deleted docs")
    assert(spark.read.parquet(s"$state/v$v/hits")
      .where(dead(col("d1")) || dead(col("d2"))).count() == 0,
      "purged hits still hold deleted-incident rows")
    // occ fold is IDENTICAL to the full state's (history retained)
    val occOfDir = (s0: String) => spark.read.parquet(
        IncrementalSubstring.completeVersions(spark, s0).map(vv => s"$s0/v$vv/occ"): _*)
      .groupBy(col("anchor")).agg(sum(col("aocc")).as("aocc"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(occOfDir(state) == occOfDir(full),
      "compaction must retain deleted docs' occurrence history (append-only cap)")
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == expected)
  }

  test("d32 delete-revive-delete: the second tombstone sticks (newest-tombstone-per-node rule)") {
    // the substring modality shares LabelState.effectiveTombstones (via
    // the slim docs-projection probe), so it inherits the r14 fix: a doc
    // deleted, re-ingested, then deleted AGAIN must stay deleted
    val dead = (id: org.apache.spark.sql.Column) => pmod(id, lit(7)) === 3
    val state = graft.util.TmpDirs.scratch("graft_d32_drd_").toString
    IncrementalSubstring.merge(spark, state, docs)
    IncrementalSubstring.delete(spark, state,
      docs.where(dead(col("doc_id"))).select(col("doc_id")))
    IncrementalSubstring.merge(spark, state, docs.where(dead(col("doc_id"))))
    IncrementalSubstring.delete(spark, state,
      docs.where(dead(col("doc_id"))).select(col("doc_id")))
    val served = spansSorted(IncrementalSubstring.spans(spark, state))
    assert(served.nonEmpty)
    assert(!served.exists(r =>
        r.head.asInstanceOf[Long] % 7 == 3 || r(1).asInstanceOf[Long] % 7 == 3),
      "a re-deleted doc's spans survived its second tombstone")
  }

  test("pre-occ state dirs backfill: occ partials derive from anchors; compact migrates") {
    val state = graft.util.TmpDirs.scratch("graft_d20_preocc_").toString
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(3)) === 0))
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(3)) === 1))
    // simulate a state dir persisted by the pre-occ layout: drop every
    // occ table (generations then hold only anchors + hits)
    val f = graft.ops.GenState.fs(spark, state)
    for (v <- IncrementalSubstring.completeVersions(spark, state))
      f.delete(new org.apache.hadoop.fs.Path(s"$state/v$v/occ"), true)
    // the read path backfills the missing partials from anchors on the fly
    val served = spansSorted(IncrementalSubstring.spans(spark, state))
    // a further merge folds its hot set over one backfilled + one real partial
    IncrementalSubstring.merge(spark, state, docs.where(pmod(col("doc_id"), lit(3)) === 2))
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == oneShot(sf0001))
    // compact is the migration point: the folded generation materializes occ
    val v = IncrementalSubstring.compact(spark, state)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/occ/_SUCCESS")),
      "compaction must materialize the occ partial for migrated state")
    assert(spansSorted(IncrementalSubstring.spans(spark, state)) == oneShot(sf0001))
    assert(served == spansSorted(IncrementalSubstring.spans(spark,
      { val s2 = graft.util.TmpDirs.scratch("graft_d20_preocc_ref_").toString
        IncrementalSubstring.merge(spark, s2, docs.where(pmod(col("doc_id"), lit(3)) === 0))
        IncrementalSubstring.merge(spark, s2, docs.where(pmod(col("doc_id"), lit(3)) === 1))
        s2 })),
      "backfilled serve diverged from the occ-partial serve on the same two batches")
  }
}
