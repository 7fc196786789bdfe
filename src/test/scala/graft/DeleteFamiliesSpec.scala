package graft

import org.apache.spark.sql.functions._

import graft.ops.{IncrementalCard, IncrementalClassifier, IncrementalDsir,
  IncrementalIvfPq, IncrementalRotMedia, TextAnalysis}

/** Round-14 right-to-be-forgotten completions: tombstone deletes for the
  * six stateful families that still lacked them — IVF-PQ codes (s16),
  * orbit media (d35), DSIR selection (c15), the trained classifier (t25),
  * and the count-distinct card (t26); view retractions (q79) live in
  * [[IncrementalViewSpec]]. Every delete must serve the survivors-only
  * one-shot, revive a re-ingested id, and purge physically at compact.
  */
class DeleteFamiliesSpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, sf0001)
  private def vecs = graft.sources.Tables.embeddings(spark, sf0001)
  private def survivors = docs.where(pmod(col("doc_id"), lit(7)) =!= 3)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.toString).toSeq

  // ---------------------------------------------------------------- s16

  test("s16: delete serves survivors-only ADC top-k; re-ingest revives; compact purges codes") {
    val model = graft.util.TmpDirs.scratch("graft_s16_model_").toString
    IncrementalIvfPq.persistedRefVectors(spark, sf0001, model)
    val state = graft.util.TmpDirs.scratch("graft_s16_spec_").toString
    (0 until 3).foreach(r => IncrementalIvfPq.merge(spark, state, model,
      vecs.where(pmod(col("vec_id"), lit(3)) === r)))
    IncrementalIvfPq.delete(spark, state,
      vecs.where(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id")))
    // one-shot comparator: a fresh state holding only the survivors —
    // encodings are pure functions of the frozen model, so only the
    // candidate set differs
    val survState = graft.util.TmpDirs.scratch("graft_s16_surv_").toString
    IncrementalIvfPq.merge(spark, survState, model,
      vecs.where(pmod(col("vec_id"), lit(7)) =!= 3))
    val want = rows(IncrementalIvfPq.annTopK(spark, sf0001, survState, model))
    assert(rows(IncrementalIvfPq.annTopK(spark, sf0001, state, model)) == want,
      "tombstoned top-k diverged from the survivors-only one-shot")
    // compact applies the tombstones physically: no deleted code rows,
    // no deletes table carried
    val v = IncrementalIvfPq.compact(spark, state)
    assert(IncrementalIvfPq.completeVersions(spark, state) == Seq(v))
    assert(rows(IncrementalIvfPq.annTopK(spark, sf0001, state, model)) == want)
    val f = graft.ops.GenState.fs(spark, state)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/deletes")))
    assert(spark.read.parquet(s"$state/v$v/codes")
      .where(pmod(col("vec_id"), lit(7)) === 3).count() == 0,
      "compacted codes still hold deleted vectors")
    // re-ingest after the purge: the full index is live again
    IncrementalIvfPq.merge(spark, state, model,
      vecs.where(pmod(col("vec_id"), lit(7)) === 3))
    val fullState = graft.util.TmpDirs.scratch("graft_s16_full_").toString
    IncrementalIvfPq.merge(spark, fullState, model, vecs)
    assert(rows(IncrementalIvfPq.annTopK(spark, sf0001, state, model)) ==
      rows(IncrementalIvfPq.annTopK(spark, sf0001, fullState, model)),
      "re-ingested vectors must be live candidates again")
  }

  // ---------------------------------------------------------------- d35

  test("d35: delete removes tombstone-incident orbit pairs; re-ingest revives; compact purges sigs") {
    val media = spark.read.format("binaryFile")
      .load(graft.ops.Multimodal.ppmRotFixtureDir)
      .select(substring_index(col("path"), "/", -1).as("name"), col("content"))
    val state = graft.util.TmpDirs.scratch("graft_d35_spec_").toString
    IncrementalRotMedia.merge(spark, state, media.where(!col("name").contains("_")))
    IncrementalRotMedia.merge(spark, state, media.where(col("name").contains("_")))
    val full = rows(IncrementalRotMedia.pairs(spark, state))
    val dead = "imga_rot90.ppm"
    IncrementalRotMedia.delete(spark, state,
      media.where(col("name") === dead).select(col("name")))
    val want = full.filterNot(r => r(0) == dead || r(1) == dead)
    assert(want.size < full.size, "the tombstoned asset must have carried pairs")
    assert(rows(IncrementalRotMedia.pairs(spark, state)) == want,
      "tombstoned pair table diverged from the survivors-only golden set")
    // compact: tombstones consumed, orbit signature rows purged
    val v = IncrementalRotMedia.compact(spark, state)
    assert(rows(IncrementalRotMedia.pairs(spark, state)) == want)
    val f = graft.ops.GenState.fs(spark, state)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/tombstones")))
    assert(spark.read.parquet(s"$state/v$v/sigs")
      .where(col("name") === dead).count() == 0,
      "compacted sigs still hold the deleted asset's orbit")
    // re-ingest the deleted asset: every golden pair comes back (the
    // re-merge probes the surviving orbit index and re-finds them)
    IncrementalRotMedia.merge(spark, state, media.where(col("name") === dead))
    assert(rows(IncrementalRotMedia.pairs(spark, state)) == full,
      "re-ingested asset must recover its golden pairs")
  }

  // ---------------------------------------------------------------- c15

  test("c15: delete re-fits the selection over survivors; re-ingest revives; compact purges counts") {
    val state = graft.util.TmpDirs.scratch("graft_c15_spec_").toString
    IncrementalDsir.merge(spark, state, docs.where(pmod(col("doc_id"), lit(2)) === 0))
    IncrementalDsir.merge(spark, state, docs.where(pmod(col("doc_id"), lit(2)) === 1))
    IncrementalDsir.delete(spark, state,
      docs.where(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")))
    // the selection is corpus-global: model sums, weights, and ranks all
    // re-fit over the survivors — == a survivors-only one-shot state
    val survState = graft.util.TmpDirs.scratch("graft_c15_surv_").toString
    IncrementalDsir.merge(spark, survState, survivors)
    val want = rows(IncrementalDsir.select(spark, survState))
    assert(rows(IncrementalDsir.select(spark, state)) == want,
      "tombstoned selection diverged from the survivors-only one-shot")
    // compact purges the deleted docs' count rows physically
    val v = IncrementalDsir.compact(spark, state)
    assert(rows(IncrementalDsir.select(spark, state)) == want)
    val f = graft.ops.GenState.fs(spark, state)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/tombstones")))
    assert(spark.read.parquet(s"$state/v$v/counts")
      .where(pmod(col("doc_id"), lit(7)) === 3).count() == 0,
      "compacted counts still hold deleted docs' rows")
    // re-ingest after the purge: the full-corpus selection is back
    IncrementalDsir.merge(spark, state, docs.where(pmod(col("doc_id"), lit(7)) === 3))
    val fullState = graft.util.TmpDirs.scratch("graft_c15_full_").toString
    IncrementalDsir.merge(spark, fullState, docs)
    assert(rows(IncrementalDsir.select(spark, state)) ==
      rows(IncrementalDsir.select(spark, fullState)),
      "re-ingested docs must contribute to the selection again")
  }

  // ---------------------------------------------------------------- t25

  test("t25: delete subtracts exactly — model == survivors-trained one-shot; compact purges sidecar") {
    val state = graft.util.TmpDirs.scratch("graft_t25_spec_").toString
    IncrementalClassifier.merge(spark, state, docs.where(pmod(col("doc_id"), lit(2)) === 0))
    IncrementalClassifier.merge(spark, state, docs.where(pmod(col("doc_id"), lit(2)) === 1))
    IncrementalClassifier.delete(spark, state,
      docs.where(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")))
    // the subtracted model must equal training on survivors alone —
    // GROUPS included (a bin emptied by the delete must leave the model)
    val survState = graft.util.TmpDirs.scratch("graft_t25_surv_").toString
    IncrementalClassifier.merge(spark, survState, survivors)
    assert(rows(IncrementalClassifier.modelCounts(spark, state)) ==
      rows(IncrementalClassifier.modelCounts(spark, survState)),
      "subtracted model counts diverged from survivors-only training")
    val want = rows(IncrementalClassifier.classify(spark, survState, survivors))
    assert(rows(IncrementalClassifier.classify(spark, state, survivors)) == want)
    // compact: counts fold subtracted, sidecar purged, tombstones gone
    val v = IncrementalClassifier.compact(spark, state)
    assert(rows(IncrementalClassifier.classify(spark, state, survivors)) == want)
    val f = graft.ops.GenState.fs(spark, state)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/tombstones")))
    assert(spark.read.parquet(s"$state/v$v/docs")
      .where(pmod(col("doc_id"), lit(7)) === 3).count() == 0,
      "compacted sidecar still holds deleted docs' feature rows")
    // re-ingest after delete: contributions count again
    IncrementalClassifier.merge(spark, state, docs.where(pmod(col("doc_id"), lit(7)) === 3))
    val fullState = graft.util.TmpDirs.scratch("graft_t25_full_").toString
    IncrementalClassifier.merge(spark, fullState, docs)
    assert(rows(IncrementalClassifier.modelCounts(spark, state)) ==
      rows(IncrementalClassifier.modelCounts(spark, fullState)),
      "re-ingested docs must contribute to the model again")
  }

  test("t25: delete refuses a pre-sidecar state dir (contributions not recoverable)") {
    val state = graft.util.TmpDirs.scratch("graft_t25_presid_").toString
    IncrementalClassifier.merge(spark, state, docs.where(col("doc_id") < 100))
    val f = graft.ops.GenState.fs(spark, state)
    f.delete(new org.apache.hadoop.fs.Path(s"$state/v0/docs"), true)
    val ex = intercept[IllegalArgumentException] {
      IncrementalClassifier.delete(spark, state,
        docs.where(col("doc_id") < 10).select(col("doc_id")))
    }
    assert(ex.getMessage.contains("sidecar"))
    // the sidecar-less dir still serves and compacts; the fold must not
    // invent a partial sidecar that would wrongly pass the check later
    val v = IncrementalClassifier.compact(spark, state)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/docs")),
      "pre-sidecar compact must not fabricate a sidecar")
  }

  // ---------------------------------------------------------------- t26

  test("t26: delete == survivors-only card; compact purges; approx estimates snap at compact") {
    val state = graft.util.TmpDirs.scratch("graft_t26_spec_").toString
    IncrementalCard.merge(spark, state, docs.where(pmod(col("doc_id"), lit(3)) =!= 0), Some("b0"))
    IncrementalCard.merge(spark, state, docs.where(pmod(col("doc_id"), lit(3)) === 0), Some("b1"))
    val approxBefore = rows(IncrementalCard.serveApprox(spark, state)
      .select(col("source"), col("n_distinct_est"), col("n_langs_est")))
    IncrementalCard.delete(spark, state,
      docs.where(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id")))
    // exact card == the one-shot t22 arithmetic over the survivors
    val want = rows(TextAnalysis.cardOf(TextAnalysis.cardDocStats(survivors)))
    assert(rows(IncrementalCard.serve(spark, state)) == want,
      "tombstoned card diverged from the survivors-only one-shot")
    // approx contract: additive columns corrected immediately, sketch
    // estimates UNCHANGED until compact (HLL cannot subtract)
    val approxAfter = IncrementalCard.serveApprox(spark, state)
    assert(rows(approxAfter.select(col("source"), col("n_distinct_est"),
      col("n_langs_est"))) == approxBefore,
      "estimates must be the folded (stale) sketches before compact")
    val survDocs = survivors.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    assert(rows(approxAfter.select(col("source"), col("n_docs"))) == rows(survDocs),
      "additive columns must correct immediately after a delete")
    // compact: every table re-derived from survivors; estimates snap to a
    // survivors-only rebuild; deleted sidecar rows leave disk
    val v = IncrementalCard.compact(spark, state)
    assert(rows(IncrementalCard.serve(spark, state)) == want)
    val survState = graft.util.TmpDirs.scratch("graft_t26_surv_").toString
    IncrementalCard.merge(spark, survState, survivors)
    assert(rows(IncrementalCard.serveApprox(spark, state)) ==
      rows(IncrementalCard.serveApprox(spark, survState)),
      "post-compact estimates must equal a survivors-only re-sketch")
    val f = graft.ops.GenState.fs(spark, state)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/tombstones")))
    assert(spark.read.parquet(s"$state/v$v/docs")
      .where(pmod(col("doc_id"), lit(7)) === 3).count() == 0,
      "compacted sidecar still holds deleted docs' rows")
  }

  test("t26: distinct keys track multiplicity — a key leaves only with its last carrier") {
    import spark.implicits._
    val mk = (id: Long, text: String) =>
      (id, text, "web", "en", text.length.toLong)
    val base = Seq(
      mk(1L, "shared duplicated content body"),
      mk(2L, "shared duplicated content body"),
      mk(3L, "unique content body the third"))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
    val state = graft.util.TmpDirs.scratch("graft_t26_mult_").toString
    IncrementalCard.merge(spark, state, base)
    def distinctTexts() = IncrementalCard.serve(spark, state)
      .select(col("n_distinct_texts")).head().getLong(0)
    assert(distinctTexts() == 2)
    // delete ONE carrier of the duplicated content: the key must STAY
    // (doc 2 still carries it) — the multiplicity case the distinct-key
    // tables alone cannot answer
    IncrementalCard.delete(spark, state, Seq(1L).toDF("doc_id"))
    assert(distinctTexts() == 2,
      "a distinct key must survive while any carrier survives")
    // delete the LAST carrier: now the key leaves
    IncrementalCard.delete(spark, state, Seq(2L).toDF("doc_id"))
    assert(distinctTexts() == 1,
      "a distinct key must leave with its last carrier")
    // and the n_docs column tracked both deletes
    assert(IncrementalCard.serve(spark, state)
      .select(col("n_docs")).head().getLong(0) == 1)
  }

  test("delete-revive-delete: the SECOND tombstone sticks (newest-tombstone-per-node rule)") {
    // regression pin for the bug the cluster soak caught: with every
    // tombstone row joined into the re-ingest probe, a doc deleted (d1),
    // re-ingested (g), then deleted again (d2 > g) matched `g > d1` and
    // came back ALIVE. The probe must compare against the NEWEST
    // tombstone per node. Pinned on all three effectiveTombstones
    // implementations: the shared long-keyed one (cluster modality) and
    // the two string-keyed media copies.
    import graft.ops.{Dedup, IncrementalDedup, IncrementalMedia, IncrementalRotMedia}
    val state = graft.util.TmpDirs.scratch("graft_drd_cluster_").toString
    IncrementalDedup.merge(spark, state, docs)
    val dead = docs.where(pmod(col("doc_id"), lit(7)) === 3)
    IncrementalDedup.delete(spark, state, dead.select(col("doc_id")))
    IncrementalDedup.merge(spark, state, dead)
    IncrementalDedup.delete(spark, state, dead.select(col("doc_id")))
    val sdir = graft.util.TmpDirs.scratch("graft_drd_oneshot_").toString
    survivors.write.mode("overwrite").parquet(s"$sdir/documents.parquet")
    assert(rows(IncrementalDedup.clusters(spark, state)) ==
      rows(Dedup.dupClusters(spark, sdir)),
      "a re-deleted doc survived its second tombstone (cluster modality)")
    // media modality (string-keyed copy)
    val media = spark.read.format("binaryFile")
      .load(graft.ops.Multimodal.ppmNearFixtureDir)
      .select(substring_index(col("path"), "/", -1).as("name"), col("content"))
    val mstate = graft.util.TmpDirs.scratch("graft_drd_media_").toString
    IncrementalMedia.merge(spark, mstate, media)
    val mdead = media.where(col("name") === "imga_bright.ppm")
    IncrementalMedia.delete(spark, mstate, mdead.select(col("name")))
    IncrementalMedia.merge(spark, mstate, mdead)
    IncrementalMedia.delete(spark, mstate, mdead.select(col("name")))
    assert(!rows(IncrementalMedia.pairs(spark, mstate))
      .exists(r => r(0) == "imga_bright.ppm" || r(1) == "imga_bright.ppm"),
      "a re-deleted asset survived its second tombstone (media modality)")
    // orbit modality (the other string-keyed copy)
    val rmedia = spark.read.format("binaryFile")
      .load(graft.ops.Multimodal.ppmRotFixtureDir)
      .select(substring_index(col("path"), "/", -1).as("name"), col("content"))
    val rstate = graft.util.TmpDirs.scratch("graft_drd_rot_").toString
    IncrementalRotMedia.merge(spark, rstate, rmedia)
    val rdead = rmedia.where(col("name") === "imga_rot90.ppm")
    IncrementalRotMedia.delete(spark, rstate, rdead.select(col("name")))
    IncrementalRotMedia.merge(spark, rstate, rdead)
    IncrementalRotMedia.delete(spark, rstate, rdead.select(col("name")))
    assert(!rows(IncrementalRotMedia.pairs(spark, rstate))
      .exists(r => r(0) == "imga_rot90.ppm" || r(1) == "imga_rot90.ppm"),
      "a re-deleted asset survived its second tombstone (orbit modality)")
  }

  test("tombstone-free fast paths never scan the sidecars (the delete tax is write-side only)") {
    // the sidecar exists so deletes CAN subtract; a tombstone-free read
    // must not pay for it — serve plans scan only the slim aggregate
    // tables. Pinned so a refactor can't quietly tax every read with a
    // corpus-sized sidecar scan.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def roots(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten
    val cardState = graft.util.TmpDirs.scratch("graft_t26_fast_").toString
    IncrementalCard.merge(spark, cardState, docs.where(col("doc_id") < 200))
    val cardRoots = roots(IncrementalCard.serve(spark, cardState))
    assert(cardRoots.exists(_.contains("/hashes")) && cardRoots.exists(_.contains("/partials")))
    assert(!cardRoots.exists(_.contains("/docs")),
      s"tombstone-free card serve scans the sidecar: $cardRoots")
    val clsState = graft.util.TmpDirs.scratch("graft_t25_fast_").toString
    IncrementalClassifier.merge(spark, clsState, docs.where(col("doc_id") < 200))
    val clsRoots = roots(IncrementalClassifier.modelCounts(spark, clsState))
    assert(clsRoots.exists(_.contains("/counts")))
    assert(!clsRoots.exists(_.contains("/docs")),
      s"tombstone-free model serve scans the sidecar: $clsRoots")
  }

  // ------------------------------------------------------------- facade

  test("Deletes facade: one sweep tombstones the same ids across co-located modality stores") {
    import spark.implicits._
    import graft.ops.{Dedup, Deletes, IncrementalExact}
    // three co-located stores over the same corpus, three different
    // modalities (and two different internal id column names)
    val exactState = graft.util.TmpDirs.scratch("graft_sweep_exact_").toString
    val dsirState = graft.util.TmpDirs.scratch("graft_sweep_dsir_").toString
    val cardState = graft.util.TmpDirs.scratch("graft_sweep_card_").toString
    IncrementalExact.merge(spark, exactState, docs)
    IncrementalDsir.merge(spark, dsirState, docs)
    IncrementalCard.merge(spark, cardState, docs)
    // the sweep: ONE loop, one id frame (arbitrary column name), every
    // store tombstoned
    val ids = docs.where(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id").as("forget_me"))
    val out = Deletes.sweep(spark,
      Seq((exactState, "exact"), (dsirState, "dsir"), (cardState, "card")), ids)
    assert(out.map(_._3) == Seq(1, 1, 1), s"unexpected tombstone generations: $out")
    // each store now serves its survivors-only one-shot
    assert(rows(IncrementalExact.dedup(spark, exactState)) ==
      rows(survivors
        .select(col("doc_id"),
          sha2(graft.ops.Text.normalized(col("text")).cast("binary"), 256).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))))
    val dsirSurv = graft.util.TmpDirs.scratch("graft_sweep_dsurv_").toString
    IncrementalDsir.merge(spark, dsirSurv, survivors)
    assert(rows(IncrementalDsir.select(spark, dsirState)) ==
      rows(IncrementalDsir.select(spark, dsirSurv)))
    assert(rows(IncrementalCard.serve(spark, cardState)) ==
      rows(TextAnalysis.cardOf(TextAnalysis.cardDocStats(survivors))))
    // loud failures: unknown modality, multi-column id frame
    intercept[IllegalArgumentException] {
      Deletes.tombstone(spark, exactState, "nosuch", ids)
    }
    intercept[IllegalArgumentException] {
      Deletes.tombstone(spark, exactState, "exact",
        docs.select(col("doc_id"), col("source")))
    }
    // each registry entry names its family's commit table: purge's forced
    // final sweep keys generation liveness on it, so a wrong table would
    // erase (or keep) the wrong generations without any error
    val familyCommitTables = Map(
      "exact" -> "hashes", "cluster" -> "labels", "minhash" -> "labels",
      "substring" -> "hits", "embedding" -> "labels", "semantic" -> "labels",
      "ivf" -> "postings", "ivfpq" -> "codes", "media" -> "pairs",
      "audio" -> "pairs", "video" -> "pairs", "png" -> "pairs", "jpeg" -> "pairs",
      "tiff" -> "pairs", "rotmedia" -> "pairs", "dsir" -> "counts",
      "classifier" -> "counts", "card" -> "partials", "topk" -> "counts")
    assert(Deletes.modalities.map { case (k, m) => k -> m.commitTable } == familyCommitTables)
  }

  test("Deletes.purgeSweep: one loop tombstones AND erases across co-located stores") {
    import spark.implicits._
    import graft.ops.{Deletes, IncrementalExact}
    val exactState = graft.util.TmpDirs.scratch("graft_purge_exact_").toString
    val cardState = graft.util.TmpDirs.scratch("graft_purge_card_").toString
    IncrementalExact.merge(spark, exactState, docs)
    IncrementalCard.merge(spark, cardState, docs)
    val ids = docs.where(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id"))
    val out = Deletes.purgeSweep(spark,
      Seq((exactState, "exact"), (cardState, "card")), ids)
    val f = graft.ops.GenState.fs(spark, exactState)
    out.foreach { case (dir, modality, v) =>
      // each store folded to its compacted generation, tombstone-free,
      // with the deleted docs' bytes gone from the per-doc tables
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/v$v/tombstones")),
        s"$modality purge carried tombstones")
      assert(spark.read.parquet(s"$dir/v$v/docs")
        .where(pmod(col("doc_id"), lit(7)) === 3).count() == 0,
        s"$modality purge left deleted rows on disk")
    }
    // and both stores serve the survivors-only answer
    assert(rows(IncrementalCard.serve(spark, cardState)) ==
      rows(TextAnalysis.cardOf(TextAnalysis.cardDocStats(survivors))))
    assert(rows(IncrementalExact.dedup(spark, exactState)) ==
      rows(survivors
        .select(col("doc_id"),
          sha2(graft.ops.Text.normalized(col("text")).cast("binary"), 256).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))))
  }

  test("t26: delete refuses a pre-sidecar state dir (multiplicity not recoverable)") {
    val state = graft.util.TmpDirs.scratch("graft_t26_presid_").toString
    IncrementalCard.merge(spark, state, docs.where(col("doc_id") < 100))
    val f = graft.ops.GenState.fs(spark, state)
    f.delete(new org.apache.hadoop.fs.Path(s"$state/v0/docs"), true)
    val ex = intercept[IllegalArgumentException] {
      IncrementalCard.delete(spark, state,
        docs.where(col("doc_id") < 10).select(col("doc_id")))
    }
    assert(ex.getMessage.contains("sidecar"))
    // sidecar-less state still serves and compacts the legacy way
    val v = IncrementalCard.compact(spark, state)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$state/v$v/docs")),
      "pre-sidecar compact must not fabricate a sidecar")
  }
}
