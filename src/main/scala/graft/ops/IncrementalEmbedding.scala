package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d14: incremental EMBEDDING dedup-state merge — the semantic-space twin
  * of [[IncrementalDedup]] (d12). Persisted state per generation:
  *
  *   - `vN/vecs`: batch N's LSH index rows — (vec_id, the raw FLOAT
  *     embedding, its norm, the deterministic SRP sign bucket). Floats
  *     and doubles round-trip parquet losslessly, so verification
  *     arithmetic on reloaded vectors is bit-identical to fresh ones.
  *   - `vN/labels`: batch N's label DELTA ([[LabelState]] — the current
  *     labeling is the latest-wins fold), whose `_SUCCESS` commits the
  *     generation.
  *
  * A merge buckets ONLY the new batch, finds candidate pairs by exact
  * bucket equality against the union of persisted vec generations
  * (bucket equality is a deterministic function of the vector and is
  * symmetric, so probing just the new side against the union yields
  * every new-new and new-old candidate — no recall argument needed, this
  * is set algebra), verifies with the same rounded-cosine threshold d6
  * uses, and runs seeded CC with the previous labeling as star edges.
  * Result: hash-identical to d11's one-shot recompute on the union, for
  * ANY batch split (shared oracle).
  *
  * Scale: per-ingest write volume is O(|batch|) vectors. The candidate
  * join is SLIM — the generation parquet is column-pruned to
  * (vec_id, bucket), hot buckets are dropped by the occupancy cap
  * ([[Similarity.maxBucketOccupancy]]), and the embedding payloads are
  * joined back by vec_id only for surviving candidate pairs — so no
  * exchange ever carries a vector once per candidate pair, and worst-case
  * candidate fan-out is O(buckets · cap²), corpus-independent.
  */
object IncrementalEmbedding extends TombstoneFamily {

  val commitTable = "labels"
  val idColumn = "vec_id"

  // resolved through [[GenState.tablePath]]: publish-mode-agnostic reads;
  // `tok` is the claim token for pre-commit reads of an OWN in-flight
  // generation under PointerPublish (pointer resolution wins for complete
  // generations, so passing the token on a mixed-version read is safe)
  private def vecsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "vecs", tok)
  private def pairsPath(spark: SparkSession, stateDir: String, v: Int,
      tok: Option[String] = None) = GenState.tablePath(spark, stateDir, v, "pairs", tok)

  /** Slim candidate phase of one merge: (d1, d2) pairs from exact bucket
    * equality of the NEW batch against the full index, hot buckets dropped
    * by occupancy measured over the UNION. Carries only (vec_id, bucket) —
    * the parquet scans are column-pruned to two slim columns (ReadSchema
    * shows no `e`), and no exchange in this subtree moves an embedding
    * (IncrementalDedupSpec plan-asserts it). Lazy — [[merge]] executes it.
    */
  private[graft] def candidatePairs(slimNew: DataFrame, slimAll: DataFrame,
      cap: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // occupancy over DISTINCT vec_ids: under at-least-once re-delivery a
    // duplicated batch appears in two generations, and counting raw union
    // rows would double a bucket's occupancy and could falsely trip the
    // cap — silently dropping candidates that the one-shot keeps. The
    // dedup is on the already-slim (vec_id, bucket) projection, so the
    // extra exchange carries two columns.
    val cold = slimAll.dropDuplicates("vec_id", "bucket")
      .groupBy(col("bucket")).agg(count(lit(1)).as("occ"))
      .where(col("occ") <= cap).select(col("bucket"))
    slimNew.join(broadcast(cold), "bucket").as("a")
      .join(slimAll.join(broadcast(cold), "bucket").as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("d1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("d2"))
      .dropDuplicates("d1", "d2")
  }

  /** Ingest `newVecs` (a (vec_id, embedding) projection with vec_ids
    * disjoint from prior ingests); returns the new generation number.
    * MULTI-WRITER since round 17 (the d15 pattern — see
    * [[IncrementalMinHash]]'s object doc): fresh allocation, `_PROBED`
    * manifests, keyed exactly-once via `batchKey`; cross pairs and the
    * label-fold split of concurrent commits reconciled at read
    * ([[clusters]]) and made durable at [[compact]].
    *
    * The occupancy cap ([[Similarity.maxBucketOccupancy]], pinned in
    * `_CONFIG`) is evaluated over the UNION at each merge. While no
    * bucket ever crosses it, incremental = one-shot exactly (the d11
    * parity contract). If a bucket crosses the cap mid-history, pairs
    * found while it was cold stay merged — the incremental clustering is
    * then a SUPERSET of the one-shot's in that bucket, never wrong
    * (every pair was exact-cosine-verified when admitted); the cap's job
    * is bounding candidate fan-out, and recall in a capped bucket is
    * forfeited by design in both computations.
    */
  def merge(spark: SparkSession, stateDir: String, newVecs: DataFrame,
      threshold: Double = 0.4,
      cap: Int = Similarity.maxBucketOccupancy,
      batchKey: Option[String] = None,
      planes: Int = graft.exprs.SrpBucket.numPlanes): Int = {
    // pin the verification regime across ingests (see GenState.checkConfig).
    // `planes` is the SRP bucket width — state geometry exactly like d12's
    // SimHash width (buckets are persisted; a flip mid-history would mix
    // incompatible candidate geometries), so it is regime-pinned. The
    // default-8 pin is by ABSENCE for back-compat with pre-dial _CONFIGs:
    // a non-default dir refuses a default merge and vice versa, which is
    // the width-migration contract (re-ingest into a fresh dir to re-gear).
    // WHY the dial exists: 2^planes is the bucket count, and the occupancy
    // cap forfeits recall in buckets holding > cap vectors — at fixed
    // planes=8 (256 buckets) a corpus outgrows the geometry at ~cap×256
    // spread vectors. Size planes ≈ log2(n / targetOccupancy); see
    // SCALE.md for the measured decades.
    GenState.checkConfig(spark, stateDir,
      Map("threshold" -> threshold.toString, "cap" -> cap.toString) ++
        (if (planes != graft.exprs.SrpBucket.numPlanes)
          Map("planes" -> planes.toString) else Map.empty))
    // MULTI-WRITER (round 17, the d15 pattern): fresh allocation with the
    // keyed exactly-once ledger and a _PROBED manifest of the post-claim
    // snapshot. The occupancy cap composes with concurrency for free: a
    // blind merge's subset view can only UNDER-count occupancy, keeping
    // pairs the full view would cap — exactly the documented
    // pairs-found-while-cold-stay-merged superset semantics, every one of
    // them exact-cosine-verified.
    val (next, claim) = GenState.allocateFresh(spark, stateDir, batchKey) match {
      case Left(v) => return v // re-delivered batch key: no-op
      case Right(nc) => nc
    }
    val live = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, live :+ next, claim)

    // 1. index the new batch once (norm + SRP bucket) and persist it —
    // the generation dir doubles as the materialized copy the join reads
    GenState.fencedParquet(spark, stateDir, next, "vecs", claim)(
      newVecs
        .select(col("vec_id"), col("embedding").as("e"))
        .withColumn("nrm", sqrt(call_function("array_dot", col("e"), col("e"))))
        .withColumn("bucket", call_function("srp_bucket", col("e"), lit(planes))))

    // 2. SLIM candidates: new side vs the PROBED union on exact bucket
    // equality — both scans pruned to (vec_id, bucket), no vector payload
    // in the candidate join
    val allPaths = live.map(vecsPath(spark, stateDir, _)) :+
      vecsPath(spark, stateDir, next, Some(claim))
    val slimNew = spark.read.parquet(vecsPath(spark, stateDir, next, Some(claim)))
      .select(col("vec_id"), col("bucket"))
    val slimAll = spark.read.parquet(allPaths: _*)
      .select(col("vec_id"), col("bucket"))
    val cand = candidatePairs(slimNew, slimAll, cap)

    // 3. verify: payloads joined back BY KEY from the same generation
    // files (pruned to vec_id/e/nrm — one vector per corpus row crosses
    // the wire, not one per candidate); cosine mirrors d6 exactly
    // zero-norm vectors have undefined cosine (and ANSI double division
    // throws on /0) — excluded from verification like d6's one-shot path
    val pay = spark.read.parquet(allPaths: _*)
      .select(col("vec_id"), col("e"), col("nrm"))
      .where(col("nrm") > 0)
    val p1 = pay.select(col("vec_id").as("d1"), col("e").as("e1"), col("nrm").as("n1"))
    val p2 = pay.select(col("vec_id").as("d2"), col("e").as("e2"), col("nrm").as("n2"))
    val cos = call_function("array_dot", col("e1"), col("e2")) /
      (col("n1") * col("n2"))
    val pairs = cand.join(p1, "d1").join(p2, "d2")
      .where(round(cos, 6) >= threshold)
      .select(col("d1"), col("d2"))

    // MATERIALIZE the candidate+verify join ONCE — to the generation dir,
    // where it is state-shaped scratch a crash abandons with the rest of
    // vN. The emptiness probe and CC both read the slim parquet back, so
    // a duplicate-bearing merge pays the join exactly once (it used to
    // execute again from scratch inside CC after the limit(1) probe).
    GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(pairs)
    val matPairs = spark.read.parquet(pairsPath(spark, stateDir, next, Some(claim)))

    // 3. affected-component-scoped seeded CC over the PROBED fold → this
    // batch's label DELTA (empty for a pair-free batch — the common
    // streaming case; see [[LabelState]] for the fold/delta contract)
    val labels = LabelState.deltaLabels(spark, stateDir, live, matPairs, next)

    // 4. commit (labels' _SUCCESS marks the generation complete; fenced —
    // an atomic directory publish)
    GenState.fencedParquet(spark, stateDir, next, "labels", claim)(labels)
    next
  }

  /** The cross pairs two genuinely-concurrent generations never probed:
    * generation `a`'s vecs against `b`'s on exact bucket equality,
    * cold-filtered by occupancy over the FULL live union (a bucket hot in
    * the final view is one whose recall both the one-shot and the
    * incremental forfeit by design, and the full-view filter bounds the
    * recon fan-out to ≤ cap² like every other candidate join), verified
    * by cosine at the `_CONFIG`-pinned threshold. `vecsOf` lets compact
    * pass tombstone-purged projections.
    */
  private def crossPairs(spark: SparkSession, stateDir: String,
      a: Int, b: Int, live: Seq[Int], vecsOf: Int => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cfg = GenState.readConfig(spark, stateDir)
    val threshold = cfg.getOrElse("threshold", "0.4").toDouble
    val cap = cfg.getOrElse("cap", Similarity.maxBucketOccupancy.toString).toInt
    val slimAll = live.map(v => vecsOf(v).select(col("vec_id"), col("bucket")))
      .reduce(_ unionByName _)
    val cold = slimAll.dropDuplicates("vec_id", "bucket")
      .groupBy(col("bucket")).agg(count(lit(1)).as("occ"))
      .where(col("occ") <= cap).select(col("bucket"))
    val sa = vecsOf(a).select(col("vec_id"), col("bucket"))
      .join(broadcast(cold), "bucket")
    val sb = vecsOf(b).select(col("vec_id"), col("bucket"))
      .join(broadcast(cold), "bucket")
    val cand = sa.as("a")
      .join(sb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("d1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("d2"))
      .dropDuplicates("d1", "d2")
    val pay = vecsOf(a).unionByName(vecsOf(b))
      .select(col("vec_id"), col("e"), col("nrm"))
      .where(col("nrm") > 0)
    val p1 = pay.select(col("vec_id").as("d1"), col("e").as("e1"), col("nrm").as("n1"))
    val p2 = pay.select(col("vec_id").as("d2"), col("e").as("e2"), col("nrm").as("n2"))
    val cos = call_function("array_dot", col("e1"), col("e2")) /
      (col("n1") * col("n2"))
    cand.join(p1, "d1").join(p2, "d2")
      .where(round(cos, 6) >= threshold)
      .select(col("d1"), col("d2"))
  }

  /** [[LabelState.reconInputs]] over this family's cross-pair recompute. */
  private def reconInputs(spark: SparkSession, stateDir: String,
      live: Seq[Int], vecsOf: Int => DataFrame)
      : Option[(DataFrame, DataFrame)] =
    LabelState.reconInputs(spark, stateDir, live, pairsPath(spark, stateDir, _),
      (a, b) => crossPairs(spark, stateDir, a, b, live, vecsOf))

  /** LSM maintenance ([[IncrementalDedup.compact]]'s shape): fold every
    * live generation's vecs into one new generation, labels carried
    * forward, `_COMPACTED` manifest before the commit, then delete the
    * sources plus crash-window leftovers. Floats/doubles round-trip
    * parquet losslessly, so folded vectors verify bit-identically.
    */
  def compact(spark: SparkSession, stateDir: String): Int =
    fold(spark, stateDir) { (versions, next, claim) =>
      // tombstones applied PHYSICALLY at the fold, per-GENERATION
      // ([[LabelState.purgeByGen]]): pre-delete vecs/pairs leave disk even
      // for re-ingested ids; the labels snapshot is the corrected labeling,
      // no tombstones carried. Tombstone-free state keeps the one-scan fold.
      val hasTombs = LabelState.tombstoneVersions(spark, stateDir, versions).nonEmpty
      def tombs = LabelState.tombstonesByGen(spark, stateDir, versions)
      def purgedVecs(v: Int): DataFrame =
        if (!hasTombs) spark.read.parquet(vecsPath(spark, stateDir, v))
        else LabelState.purgeByGen(tombs,
          Seq((v, spark.read.parquet(vecsPath(spark, stateDir, v)))), Seq("vec_id"))
      GenState.writeProbed(spark, stateDir, next, Seq(next), claim)
      GenState.fencedParquet(spark, stateDir, next, "vecs", claim)(
        if (!hasTombs) spark.read.parquet(versions.map(vecsPath(spark, stateDir, _)): _*)
        else LabelState.purgeByGen(tombs,
          versions.map(v => (v, spark.read.parquet(vecsPath(spark, stateDir, v)))),
          Seq("vec_id")))
      // outstanding concurrent-commit reconciliation becomes DURABLE here
      // (recon cross pairs from PURGED vecs — deleted ids never resurface)
      val recon = reconInputs(spark, stateDir, versions, purgedVecs)
      val pairVs = versions.filter(v => GenState.tableExists(spark, stateDir, v, "pairs"))
      require(recon.isEmpty || pairVs == versions,
        s"IncrementalEmbedding.compact: concurrent commits at $stateDir need every " +
          "generation's pairs table to reconcile — pre-retention layout found")
      if (pairVs == versions) {
        val stored =
          (if (!hasTombs)
             spark.read.parquet(pairVs.map(pairsPath(spark, stateDir, _)): _*)
               .select(col("d1").cast("long"), col("d2").cast("long"))
           else LabelState.purgePairsByGen(tombs,
             LabelState.effectiveTombstones(spark, stateDir, versions, "vecs", "vec_id"),
             pairVs.map(v => (v, spark.read.parquet(pairsPath(spark, stateDir, v))
               .select(col("d1").cast("long"), col("d2").cast("long")))),
             Seq("d1", "d2")))
        GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
          recon.map(_._1).fold(stored)(r => stored.unionByName(
              r.select(col("d1").cast("long"), col("d2").cast("long"))))
            .dropDuplicates("d1", "d2"))
      }
      LabelState.deletedAwareLabels(spark, stateDir, versions, "vecs", "vec_id",
          recon.map(_._1), recon.map(_._2))
        .withColumn("gen", lit(next))
    }

  /** The d11-shaped cluster table from the current state (latest-wins
    * fold over the live label deltas — see [[LabelState]]), with the
    * `_PROBED` reconciliation for histories holding genuinely-concurrent
    * commits (multi-writer, round 17; sequential histories pay nothing).
    */
  def clusters(spark: SparkSession, stateDir: String): DataFrame = {
    val live = completeVersions(spark, stateDir)
    val recon = reconInputs(spark, stateDir, live,
      v => spark.read.parquet(vecsPath(spark, stateDir, v)))
    Dedup.clustersOf(
        LabelState.deletedAwareLabels(spark, stateDir, live, "vecs", "vec_id",
          recon.map(_._1), recon.map(_._2)))
      .withColumnRenamed("doc_id", "vec_id")
  }

  /** d30: TOMBSTONE a set of vectors — [[IncrementalDedup.delete]]'s d29
    * protocol on the embedding modality (same shadowing semantics, same
    * affected-component re-labeling over surviving stored edges, same
    * physical purge at [[compact]]).
    */
  def delete(spark: SparkSession, stateDir: String, ids: DataFrame): Int = {
    val live = completeVersions(spark, stateDir)
    require(live.nonEmpty, s"IncrementalEmbedding.delete: no state at $stateDir")
    live.foreach(v => require(GenState.tableExists(spark, stateDir, v, "pairs"),
      s"IncrementalEmbedding.delete: generation v$v at $stateDir has no pairs " +
        "table (pre-retention layout) — rebuild the state dir first"))
    // fresh allocation (multi-writer, round 17): empty vecs ⇒ nothing to
    // reconcile, so mark everything live as probed — listed AFTER the
    // claim so a sibling merge committing just before it is not omitted
    val (next, claim) = GenState.claimFresh(spark, stateDir)
    val liveNow = completeVersions(spark, stateDir).filterNot(_ == next)
    GenState.writeProbed(spark, stateDir, next, liveNow :+ next, claim)
    // tombstones + empty peers are mutually independent — written
    // concurrently (guide §2.6 via [[GenState.inParallel]]); the labels
    // commit stays strictly after, preserving the crash contract
    GenState.inParallel(Seq(
      () => GenState.fencedParquet(spark, stateDir, next, "tombstones", claim)(
        ids.select(col("vec_id").cast("long").as("node")).dropDuplicates("node")),
      () => GenState.fencedParquet(spark, stateDir, next, "vecs", claim)(
        spark.read.parquet(vecsPath(spark, stateDir, live.head)).limit(0)),
      () => GenState.fencedParquet(spark, stateDir, next, "pairs", claim)(
        spark.read.parquet(pairsPath(spark, stateDir, live.head)).limit(0))))
    GenState.fencedParquet(spark, stateDir, next, "labels", claim)(
      LabelState.emptyDelta(spark))
    next
  }
}
