package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus-management operators for training-data pipelines: token-window
  * chunking, deterministic stratified sampling, and sketch-based distinct
  * estimation. All pure Column expressions (codegen, zero shuffles beyond
  * the stated aggregations) and all reproducible in DuckDB for the oracle.
  */
object Corpus {
  import Text._

  /** Chunk geometry: windows of `chunkTokens` whitespace tokens starting
    * every `strideTokens` (so consecutive chunks overlap by
    * `chunkTokens - strideTokens` tokens — the standard training-data
    * windowing so no span longer than the overlap is lost at a boundary).
    */
  val chunkTokens = 64
  val strideTokens = 48

  /** Token-window chunking: one output row per (doc, window). The chunk
    * count covers every token — the last window starts at the smallest
    * multiple of the stride reaching the tail and may be short; a document
    * shorter than one window yields exactly one chunk.
    *
    * Scale design: a per-row flatMap (transform + explode) — no shuffle,
    * no state; 100 TB chunks exactly as fast as 100 TB scans. The ORDER BY
    * here is for the deterministic gate; a real pipeline would write
    * unordered.
    */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(ceil((n - chunkTokens).cast("double") / strideTokens).cast("int") + 1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), t.as("t"), nChunks.as("nc"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("nc") - 1), c =>
          struct(c.as("chunk_no"),
            slice(col("t"), c * strideTokens + 1, lit(chunkTokens)).as("w")))).as("e"))
      .select(col("doc_id"), col("e.chunk_no"),
        size(col("e.w")).as("n_tokens"),
        array_join(col("e.w"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_no"))
  }

  /** Per-stratum sampling rates (percent) for [[hashSample]]. */
  val sampleRates: Map[String, Int] = Map(
    "en" -> 50, "de" -> 20, "fr" -> 20, "es" -> 10, "pt" -> 10)
  val defaultRate = 5

  /** Deterministic stratified sampling — the training-data mixing
    * primitive. Each doc lands in a bucket 0..99 by md5 of its id; a doc
    * is kept iff its bucket is under its language's rate.
    *
    * Scale design: hash-bucket sampling beats `ORDER BY rand()` (full
    * sort) and `TABLESAMPLE` (non-deterministic, non-repeatable) because
    * it is a stateless per-row filter: reproducible across runs/engines,
    * consistent across tables (the same doc_id always samples the same
    * way, so joined tables stay aligned), and it pushes down to the scan.
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100).cast("int")
    val rate = sampleRates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("rate"))
      .where(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Split-point percentages for [[trainValTestSplit]]: buckets below
    * `trainPct` train, below `trainPct + valPct` validate, the rest test.
    */
  val trainPct = 90
  val valPct = 5

  /** Deterministic train/validation/test split (c6) — the assignment every
    * training pipeline must make exactly once and never change: the same
    * md5 bucket as [[hashSample]] (stateless per-row, reproducible across
    * runs/engines/tables, pushes down to the scan), cut at fixed
    * percentages. Contamination honesty at scale depends on this being a
    * pure function of the document id — a rand()-based split reshuffles
    * membership every run and silently leaks test docs into training.
    * Output: per (lang, split) counts with the split name (audit surface;
    * the split column itself is a projection any query can reuse).
    */
  def trainValTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100).cast("int")
    val split = when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
    Tables.documents(spark, dir)
      .select(col("lang"), split.as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("split"))
  }

  /** Language rebalancing — deterministic downsampling of every language
    * to (approximately) the rarest language's size, the "don't let English
    * drown everything" step of corpus mixing. Uses the same md5 bucket as
    * [[hashSample]]; a doc is kept iff `bucket · n_lang < 100 · n_min`,
    * an exact integer comparison of the rational sampling rate — no
    * floats, no rounding drift, reproducible on any engine.
    *
    * Scale design: the per-language counts are one partial-agg shuffle
    * (5 rows), broadcast back; the keep decision is then a stateless
    * map-side filter — the corpus itself never shuffles. Output is the
    * audit summary (orig vs kept per language), not the kept rows.
    */
  def rebalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      .withColumn("n_min", min(col("n_lang")).over(Window.partitionBy()))
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100).cast("int")
    docs.select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .join(broadcast(counts), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_orig"),
        sum((col("bucket") * col("n_lang") < lit(100L) * col("n_min")).cast("long"))
          .as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Bucket modulus for [[temperatureSample]] — finer than the 100-bucket
    * [[hashSample]] grid because temperature rates are irrational
    * (√-ratios), so resolution is the only rounding in play.
    */
  val temperatureBuckets = 1000

  /** Temperature-flattened language sampling (c13) — the multilingual
    * mixing step published with XLM-R/mT5: instead of [[rebalance]]'s hard
    * cap at the rarest language, resample so the kept distribution follows
    * q_l ∝ p_l^α, boosting low-resource languages without flattening to
    * uniform. α = 1/2 here, chosen because it makes the accept test EXACT
    * INTEGER arithmetic: keep iff bucket/B < √(n_min/n_l), i.e.
    * `bucket² · n_l < B² · n_min` — no pow(), no float normalization, so
    * Spark and the DuckDB oracle agree to the bit (the same
    * scaled-integer trick as c5/c11; see SCALE.md "Order-exact scoring
    * sums"). The rarest language keeps everything (rate 1); a language k×
    * bigger keeps 1/√k of itself, so kept_l ∝ n_l/√n_l = √n_l = n_l^α.
    *
    * Scale design: identical shape to [[rebalance]] — the per-language
    * count is one partial-agg shuffle (a handful of rows) broadcast back,
    * and the keep decision is a stateless map-side filter on the md5
    * bucket; the corpus never shuffles and the same doc always samples the
    * same way across runs and engines. Output is the per-language audit
    * (n_orig, n_kept), the mixing report a pipeline run would log.
    * Overflow headroom: bucket² ≤ 10⁶, so the compare stays in int64 up
    * to ~10¹² docs per language.
    */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      .withColumn("n_min", min(col("n_lang")).over(Window.partitionBy()))
    val b = lit(temperatureBuckets.toLong)
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % temperatureBuckets)
    docs.select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .join(broadcast(counts), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_orig"),
        sum((col("bucket") * col("bucket") * col("n_lang") < b * b * col("n_min"))
          .cast("long")).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Shard count for [[shuffleExport]] — the parallel unit of the written
    * training set. Local constant; a deployment sets it to O(cluster
    * write parallelism) so each shard is one writer's worth of data.
    */
  val exportShards = 8

  /** c14: deterministic GLOBAL SHUFFLE + sharded export assignment — the
    * last step before a corpus becomes training shards. Trainers need the
    * corpus in an order uncorrelated with ingest (adjacent web pages are
    * near-identical; an unshuffled epoch is a curriculum nobody chose),
    * and the shuffle must be REPRODUCIBLE so a resumed/re-run export
    * yields byte-identical shards.
    *
    * One salted hash drives everything: skey = md5('shuf:' || doc_id) is
    * the permutation rank; its leading 64 bits mod [[exportShards]] pick
    * the shard, and position within the shard is the rank of skey. A doc's
    * (shard, pos) is a pure function of its id — stateless, repeatable,
    * engine-independent.
    *
    * Scale shape: `ORDER BY rand()` is a full global sort with a
    * non-reproducible key; this is one hash projection + one shuffle on
    * shard with a within-shard sort (at scale: repartition on shard +
    * sortWithinPartitions, each shard streaming to its writer — the
    * window formulation here is the same plan shape at local shard
    * counts). Doc payloads move exactly once, to their writer.
    */
  def shuffleExport(spark: SparkSession, dir: String): DataFrame = {
    val skey = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
    val shard = (conv(substring(col("skey"), 1, 8), 16, 10)
      .cast("long") % exportShards).cast("int")
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), skey.as("skey"))
      .select(col("doc_id"), col("skey"), shard.as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Benchmark source for [[contamination]] — the held-out slice whose
    * n-grams must not leak into training data.
    */
  val benchmarkSource = "src0"

  /** Train/test decontamination: for every training document sharing at
    * least one distinct 3-shingle with the benchmark corpus, the count of
    * shared shingles and the contamination ratio (shared / own distinct
    * shingles).
    *
    * Scale design: the benchmark side is small by definition (a test set),
    * so its distinct-shingle set is BROADCAST and the whole training
    * corpus is screened map-side — the only shuffle is the per-doc count
    * aggregation, which partial-aggregates to one row per contaminated
    * doc. The corpus itself never shuffles; 100 TB of training text
    * streams through a hash probe.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val docs = Tables.documents(spark, dir)
    // materialization barrier: both aggregations below (own + shared)
    // consume trainSh — the exchange makes the scan + shingle explode run
    // once and be reused (same ReuseExchange pattern as Dedup's
    // shingleIndex), not once per consumer.
    val trainSh = docs.where(col("source") =!= benchmarkSource)
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .repartition(col("doc_id"))
    val benchSh = docs.where(col("source") === benchmarkSource)
      .select(explode(shingles(col("text"))).as("shingle")).distinct()
    val own = trainSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_own"))
    val shared = trainSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    own.join(shared, "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_own"),
        round(col("n_shared").cast("double") / col("n_own"), 6).as("ratio"))
      .orderBy(col("doc_id"))
  }

  /** c9: the CONTAMINATION REGISTRY — [[contamination]] split into its
    * production shape: the benchmark's distinct-shingle set is a
    * persisted artifact (built once from the test corpora, like s7's
    * centroids or t16's merge table), and every INGEST BATCH is screened
    * against it independently. Per-doc contamination is a pure function
    * of (doc, registry), so batch-wise screening unioned over any split
    * equals the one-shot [[contamination]] — c3's oracle gates it.
    *
    * Scale shape: the registry parquet is test-set-sized (broadcast);
    * each batch streams through the hash probe map-side with one per-doc
    * count aggregation — the ingest pipeline's decontamination gate runs
    * per batch without ever re-reading the benchmark corpora.
    */
  def buildContaminationRegistry(spark: SparkSession, dir: String,
      registryDir: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(registryDir, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      Tables.documents(spark, dir)
        .where(col("source") === benchmarkSource)
        .select(explode(shingles(col("text"))).as("shingle")).distinct()
        .write.mode("overwrite").parquet(registryDir)
    }
  }

  /** Screen one ingest batch against a persisted registry (same output
    * shape and values as [[contamination]] restricted to the batch).
    */
  def contaminationAgainst(spark: SparkSession, registryDir: String,
      batch: DataFrame): DataFrame =
    contaminationWith(spark.read.parquet(registryDir), batch)

  /** [[contaminationAgainst]] over an already-loaded registry frame — a
    * per-trigger screening loop (q72) loads/persists the frozen registry
    * ONCE per drain instead of re-reading it per micro-batch.
    */
  private[graft] def contaminationWith(benchSh: DataFrame,
      batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val trainSh = batch
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .repartition(col("doc_id"))
    val own = trainSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_own"))
    val shared = trainSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    own.join(shared, "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_own"),
        round(col("n_shared").cast("double") / col("n_own"), 6).as("ratio"))
  }

  /** c10: the APPENDABLE contamination registry — c9's artifact under the
    * GenState protocol, because benchmark suites arrive continuously in
    * practice (a new eval set must start screening ingest batches the day
    * it lands, without rebuilding the registry from every suite so far).
    * Each [[appendContaminationRegistry]] call writes one generation
    * `vN/shingles` holding the NEW suite's distinct 3-shingles; screening
    * reads the distinct union of live generations. A registry is a set
    * and set-union is associative, so append-then-screen equals
    * rebuild-then-screen EXACTLY for any suite split (c3's oracle gates
    * the composition); [[compactRegistry]] folds generations the LSM way
    * (crash-idempotent via the `_COMPACTED` manifest).
    *
    * Scale shape: an append reads only the new suite (test-set-sized);
    * the union the screen broadcasts stays test-set-sized regardless of
    * suite count; per-generation file-listing overhead is bounded by
    * [[GenState.maybeCompact]].
    */
  private val registryTable = "shingles"

  private def registryPath(spark: SparkSession, registryDir: String, v: Int) =
    GenState.tablePath(spark, registryDir, v, registryTable)

  def appendContaminationRegistry(spark: SparkSession, registryDir: String,
      suiteDocs: DataFrame): Int = {
    // multi-writer: a registry is a distinct-union SET, so concurrent suite
    // appends commute — fresh allocation serializes them (GenState.claimFresh)
    val (next, claim) = GenState.claimFresh(spark, registryDir, registryTable)
    // the COMMIT write lands through the fence: a writer stalled past the
    // TTL whose in-flight dir a concurrent sweep reclaimed aborts here
    GenState.fencedParquet(spark, registryDir, next, registryTable, claim,
      registryTable)(
      suiteDocs.select(explode(shingles(col("text"))).as("shingle")).distinct())
    next
  }

  /** The registry's current distinct-shingle set (union of live
    * generations — suites overlap, so the union re-distincts).
    */
  def registryShingles(spark: SparkSession, registryDir: String): DataFrame = {
    val live = GenState.completeVersions(spark, registryDir, registryTable)
    require(live.nonEmpty, s"registryShingles: no registry at $registryDir")
    spark.read.parquet(live.map(registryPath(spark, registryDir, _)): _*).distinct()
  }

  /** Screen one ingest batch against the generational registry — same
    * output shape and values as [[contaminationAgainst]] over a one-shot
    * registry holding the same suites.
    */
  def contaminationAgainstRegistry(spark: SparkSession, registryDir: String,
      batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val benchSh = registryShingles(spark, registryDir)
    val trainSh = batch
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .repartition(col("doc_id"))
    val own = trainSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_own"))
    val shared = trainSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    own.join(shared, "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_own"),
        round(col("n_shared").cast("double") / col("n_own"), 6).as("ratio"))
  }

  /** c16: the BLOOM-SCREENED registry gate — what [[contaminationAgainst]]
    * becomes when the registry outgrows broadcast size. c3/c9/c10 ship the
    * exact distinct-shingle set to every task (right for benchmark-suite
    * scale, impossible for a multi-gigabyte registry); here the only thing
    * broadcast is a Bloom filter over the registry's xxhash64'd shingles —
    * 8 bits per shingle (~2% FPP) instead of the full strings, an order of
    * magnitude smaller — and the EXACT set participates only in a join
    * against the Bloom SURVIVORS. No false negatives (a Bloom filter never
    * misses a member), and false positives are verified away by the exact
    * join, so the output is VALUE-IDENTICAL to [[contaminationAgainst]] —
    * c3's oracle gates it.
    *
    * Scale shape: the corpus side streams through a codegen'd constant
    * probe map-side (the filter literal deserializes once per task); only
    * the surviving sliver — true contamination plus the FPP fraction —
    * reaches the exact join, which AQE plans as broadcast when the
    * registry is small and as a shuffle join when it is not. Either way
    * the exact set is no longer a per-task residency requirement. The
    * filter artifact persists next to the c9 registry (`_BLOOM`), built
    * once per registry build, model-artifact-sized driver traffic (the
    * one collect, same budget as the ≤256-row IVF model loads).
    *
    * STALENESS: the artifact is only valid for the exact registry bytes it
    * was built from — a rebuilt/changed registry under a stale filter
    * would produce false NEGATIVES (missed contamination), silently
    * breaking the no-false-negative contract. So the build persists a
    * metadata fingerprint of the registry's parquet files (`_BLOOM_FP`:
    * names + lengths + mtimes, no data scan — parquet part names carry
    * job UUIDs, so any rewrite changes it), rebuilds whenever it
    * mismatches, and [[readRegistryBloom]] refuses a filter whose
    * fingerprint no longer matches the registry on disk.
    */
  private def registryFingerprint(fs: org.apache.hadoop.fs.FileSystem,
      registryDir: String): String = {
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(registryDir)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(files.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(buf)
      buf
    } finally in.close()
  }

  def buildRegistryBloom(spark: SparkSession, registryDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(registryDir, "_BLOOM")
    val fpPath = new org.apache.hadoop.fs.Path(registryDir, "_BLOOM_FP")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = registryFingerprint(fs, registryDir)
    val fresh = fs.exists(p) && fs.exists(fpPath) &&
      new String(readSmallFile(fs, fpPath), "UTF-8") == fp
    if (!fresh) {
      // Spark's BloomFilterAggregate SILENTLY clamps its size to the
      // runtime-filter conf limits (maxNumBits default 64M bits, maxNumItems
      // 4M) — at exactly the over-broadcast registry scale this gate exists
      // for, a clamped filter degrades toward coin-flip FPP and the
      // "surviving sliver" becomes the whole corpus (still correct — the
      // exact join verifies — but the scaling claim evaporates). The build
      // runs on a CLONED session (own SQLConf, shared SparkContext) with
      // the limits raised THERE, so the requested size is honored and the
      // caller's session — including queries planned concurrently with
      // this build — never sees the flip.
      val scoped = org.apache.spark.sql.graftbridge.PlanBridge.cloneSession(spark)
      val reg = scoped.read.parquet(registryDir)
      val n = math.max(reg.count(), 1L)
      val bits = n * 8
      scoped.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        math.max(bits, 67108864L).toString)
      scoped.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
        math.max(n, 4000000L).toString)
      val bytes =
        reg.agg(graft.exprs.BloomScreen.bloomAgg(xxhash64(col("shingle")), n, bits))
          .collect()(0).getAs[Array[Byte]](0)
      // loud, not silent: a clamped build would break the documented FPP
      val built = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      require(built.bitSize() >= bits,
        s"buildRegistryBloom: requested $bits bits but the aggregate " +
          s"produced ${built.bitSize()} — a conf clamp survived; the c16 " +
          "FPP contract would silently degrade")
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
      // fingerprint LAST: it is the freshness commit marker — a crash
      // between the two writes leaves a mismatching/missing fingerprint,
      // which reads refuse and the next build repairs
      val fpOut = fs.create(fpPath, true)
      try fpOut.write(fp.getBytes("UTF-8")) finally fpOut.close()
    }
  }

  private def readRegistryBloom(spark: SparkSession, registryDir: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(registryDir, "_BLOOM")
    val fpPath = new org.apache.hadoop.fs.Path(registryDir, "_BLOOM_FP")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no _BLOOM artifact at $registryDir — run buildRegistryBloom")
    val want = registryFingerprint(fs, registryDir)
    val have =
      if (fs.exists(fpPath)) new String(readSmallFile(fs, fpPath), "UTF-8") else "<missing>"
    require(have == want,
      s"_BLOOM at $registryDir is STALE: the registry's parquet files changed " +
        "since the filter was built (fingerprint mismatch) — a stale filter " +
        "would produce false NEGATIVES (missed contamination); re-run " +
        "buildRegistryBloom, which detects the mismatch and rebuilds")
    readSmallFile(fs, p)
  }

  /** Screen one ingest batch through the Bloom gate: map-side probe, exact
    * join on the survivors only (no broadcast hint on the exact set — AQE
    * picks). Same output shape and values as [[contaminationAgainst]].
    */
  def contaminationBloomScreened(spark: SparkSession, registryDir: String,
      batch: DataFrame): DataFrame = {
    val bloom = readRegistryBloom(spark, registryDir)
    val benchSh = spark.read.parquet(registryDir)
    val trainSh = batch
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .repartition(col("doc_id"))
    val own = trainSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_own"))
    val survivors = trainSh
      .where(graft.exprs.BloomScreen.mightContain(bloom, xxhash64(col("shingle"))))
    val shared = survivors.join(benchSh, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    own.join(shared, "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_own"),
        round(col("n_shared").cast("double") / col("n_own"), 6).as("ratio"))
  }

  /** Fold every live registry generation into one ([[GenState.fold]]);
    * the folded set is the same distinct union the screen reads, so
    * screening is invariant across compactions.
    */
  def compactRegistry(spark: SparkSession, registryDir: String): Int =
    GenState.fold(spark, registryDir, registryTable, "Corpus.compactRegistry") {
      (versions, _, _) =>
        spark.read.parquet(versions.map(registryPath(spark, registryDir, _)): _*).distinct()
    }

  /** Pack capacity (tokens) for [[pack]]. */
  val packTokens = 256

  /** Sequence packing: assign documents to fixed-capacity token packs —
    * the step that turns a cleaned corpus into training sequences. A doc
    * goes to the pack its cumulative token count STARTS in
    * (`floor(prefix_sum / capacity)`), so packs are contiguous runs of the
    * per-language doc_id order and every pack except a stream's last holds
    * ≥ capacity tokens once its straddling doc arrives. A doc longer than
    * the capacity advances the cursor several pack widths (still ONE pack
    * for that doc), so pack ids may skip. Output is the pack manifest:
    * doc count, token count, and the doc_id span per pack.
    *
    * Scale design: prefix sums need a total order, which is inherently
    * sequential — so the order is scoped PER LANGUAGE (the window
    * partition), giving one independent packing stream per language; a
    * 100 TB corpus would scope it per (shard, language) with the same
    * expression. One shuffle on lang for the window, one partial-agg
    * shuffle for the manifest; nothing else moves.
    *
    * Token counts are REAL BPE counts (`bpe_stats`'s merge loop over the
    * checked-in t12 table, one compiled pass) — pack capacity in model
    * tokens, not the whitespace proxy a trainer never sees.
    */
  def pack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        element_at(call_function("bpe_stats", col("text"),
          lit(graft.exprs.BpeStats.spec)), 2).as("ntok"))
      .withColumn("cum", sum(col("ntok")).over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("ntok")) / lit(packTokens.toDouble)).cast("bigint"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("pack_id"))
  }

  /** c8: CURRICULUM packing — [[pack]]'s manifest with the stream order
    * flipped from doc_id to QUALITY (t3's score, descending, doc_id
    * tie-break): early packs hold the best-quality documents, the shape a
    * curriculum or quality-annealed training run consumes. Token counts
    * stay real BPE counts; per-pack score bounds use min/max (order-
    * insensitive — an avg of partial-agg'd doubles would flip 6-dp bits
    * between engines). Same scale shape as c4: one window shuffle per
    * language stream, one manifest aggregation; the score projection is
    * expression-only.
    */
  def curriculumPack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        element_at(call_function("bpe_stats", col("text"),
          lit(graft.exprs.BpeStats.spec)), 2).as("ntok"))
    val sc = TextAnalysis.scored(spark, dir).select(col("doc_id"), col("score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(sc, "doc_id")
      .withColumn("cum", sum(col("ntok")).over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("ntok")) / lit(packTokens.toDouble)).cast("bigint"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"))
      .orderBy(col("lang"), col("pack_id"))
  }

  /** KMV sketch size for [[kmvEstimate]]: relative error ≈ 1/√(k−2) ≈ 18%
    * at 32 — a 32-hash sketch per group versus shuffling every distinct
    * value. (The b1 sketch query keeps k=8 so its output stays readable.)
    */
  val kmvK = 32

  /** Distinct-count estimation from the [[graft.exprs.BottomKMd5]] bottom-k
    * (KMV) sketch, next to the exact count it estimates: with the k-th
    * smallest of n distinct uniform hashes at fraction f of the hash space,
    * E[n] ≈ (k-1)/f. A group with fewer than k distinct values degenerates
    * to its exact sketch size.
    *
    * Why this matters at 100 TB: `count(DISTINCT x)` shuffles every
    * distinct value; the sketch shuffles k hashes per group per mapper and
    * merges associatively — and two sketches union into a sketch, so
    * per-partition estimates roll up without rescanning.
    *
    * Determinism across engines: the fraction uses only the first 13 hex
    * digits (52 bits), so both engines' arithmetic is exact until the one
    * final division — same IEEE operands, same result.
    */
  def kmvEstimate(spark: SparkSession, dir: String): DataFrame = {
    val kth = element_at(col("sk"), kmvK)
    val v = conv(substring(kth, 1, 13), 16, 10).cast("double")
    val est = when(size(col("sk")) < kmvK, size(col("sk")).cast("double"))
      .otherwise(lit((kmvK - 1).toDouble * math.pow(2, 52)) / v)
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(expr(s"bottom_k_md5(text, $kmvK)").as("sk"),
        countDistinct(col("text")).as("n_exact"))
      .select(col("lang"), col("n_exact"), round(est, 3).as("kmv_estimate"))
      .orderBy(col("lang"))
  }

  /** b3: KMV sketch SET OPERATIONS — the reason mergeable sketches earn
    * their place in a corpus pipeline: estimate the distinct-content
    * union and overlap between every pair of sources WITHOUT a
    * corpus-level text join. Per source pair:
    *
    *   - union sketch  = bottom-k of the two sketches' merge (the KMV
    *     union rule — exact, not an approximation of the sketch);
    *   - `est_union`   = b2's (k−1)/kth-hash estimator on it;
    *   - `n_common`    = how many of the union sketch's k minima appear
    *     in BOTH input sketches;
    *   - `est_intersect` = (n_common / |union sketch|) · est_union — the
    *     theta-sketch intersection rule (the union's minima are a
    *     uniform sample of the union's distinct values; membership in
    *     both sketches marks the intersection's share of that sample).
    *
    * `n_exact_common` (a distinct-text self-join) rides along as the
    * verification twin, the same way b2 carries `n_exact` — at 100 TB
    * you run ONLY the sketch side: per-source sketches are one partial
    * aggregation (mergeable, map-side), and the pairwise table is
    * |sources|² sketch merges of k hashes each — model-sized work
    * replacing a corpus-sized join. Everything is md5-ranked and
    * engine-exact; only the final divisions are doubles (b2's 52-bit
    * hex-prefix trick), so the DuckDB replay matches bit for bit.
    */
  def kmvSetOps(spark: SparkSession, dir: String): DataFrame =
    kmvSetOpsOf(Tables.documents(spark, dir))

  private[graft] def kmvSetOpsOf(docs: DataFrame): DataFrame = {
    val k = kmvK
    val sk = docs
      .groupBy(col("source"))
      .agg(expr(s"bottom_k_md5(text, $k)").as("sk"))
    val a = sk.select(col("source").as("src1"), col("sk").as("ska"))
    val b = sk.select(col("source").as("src2"), col("sk").as("skb"))
    val pairs = a.join(b, col("src1") < col("src2"))
      .withColumn("us",
        slice(array_sort(array_distinct(concat(col("ska"), col("skb")))), 1, k))
      .withColumn("n_common",
        size(filter(col("us"), x =>
          array_contains(col("ska"), x) && array_contains(col("skb"), x))))
    val v = conv(substring(element_at(col("us"), k), 1, 13), 16, 10).cast("double")
    val estU = when(size(col("us")) < k, size(col("us")).cast("double"))
      .otherwise(lit((k - 1).toDouble * math.pow(2, 52)) / v)
    val dx = docs.select(col("source"), col("text")).distinct()
    val ex = dx.as("x")
      .join(dx.as("y"),
        col("x.text") === col("y.text") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src1"), col("y.source").as("src2"))
      .agg(countDistinct(col("x.text")).as("n_exact_common"))
    pairs
      .withColumn("est_union", round(estU, 3))
      .withColumn("est_intersect",
        round((col("n_common").cast("double") / size(col("us"))) * estU, 3))
      .join(ex, Seq("src1", "src2"), "left")
      .select(col("src1"), col("src2"), col("n_common").cast("long").as("n_common"),
        col("est_union"), col("est_intersect"),
        coalesce(col("n_exact_common"), lit(0L)).as("n_exact_common"))
      .orderBy(col("src1"), col("src2"))
  }

  /** c11 DSIR geometry: hashed-feature bucket count and selection size. */
  val dsirBuckets = 256
  val dsirSelectN = 100

  /** c11: DSIR-style importance selection (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling") — pick the
    * raw-corpus documents most distributionally similar to a small target
    * slice (here the benchmark source, standing in for the curated
    * high-quality target):
    *
    *   1. features = hashed unigrams + bigrams WITH multiplicity, md5 →
    *      [[dsirBuckets]] buckets (the paper's hashed n-gram generative
    *      model);
    *   2. two bag-of-buckets models: target (benchmark slice) and raw
    *      (everything else), Laplace +1 smoothing;
    *   3. per-doc importance weight = Σ_f log p_target(f) − log p_raw(f);
    *   4. deterministic top-[[dsirSelectN]] by weight (the
    *      zero-temperature limit of the paper's Gumbel-top-k resampling —
    *      a deployment adds per-doc Gumbel noise to the same score; the
    *      engine keeps the argmax deterministic so the gate can replay it).
    *
    * Exactness across engines: per-bucket log-ratios are computed ONCE on
    * the 256-row weight table and frozen to integer micro-nats
    * (round(1e6·x) as BIGINT); each doc's score is then a pure INTEGER
    * dot product cnt·lw — aggregation-order-insensitive, so Spark's
    * partial aggregates and DuckDB's single-threaded fold agree
    * bit-for-bit, unlike a double sum (same scaled-integer trick as the
    * Lloyd's trainer).
    *
    * Scale shape: one corpus pass explodes features map-side into a
    * (bucket)-keyed count — 256 partial-agg rows per task, a vanishing
    * shuffle; the weight table is broadcast back for the per-doc score
    * (map-side join + one (doc_id)-keyed aggregation); top-N is
    * TakeOrderedAndProject (per-partition heads, no global sort). The
    * corpus text never shuffles.
    */
  def importanceSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelectFromCounts(spark, dsirCounts(Tables.documents(spark, dir)))

  /** The EXPENSIVE half of c11 — one text pass to the slim per-doc bucket
    * count table `(doc_id, source, b, cnt)`: tokenize, form bigrams, hash
    * to [[dsirBuckets]], count with multiplicity. Everything downstream
    * (both models AND the per-doc scores) derives from this table, which
    * is what the incremental path ([[IncrementalDsir]]) persists per
    * generation: feature extraction runs once per document ever.
    */
  private[graft] def dsirCounts(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val bigrams = zip_with(slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val bucket = conv(substring(md5(col("f")), 1, 2), 16, 10).cast("int")
    docs
      .select(col("doc_id"), col("source"),
        explode(concat(t, bigrams)).as("f"))
      .select(col("doc_id"), col("source"), bucket.as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The CHEAP half of c11 — model fit + scoring + top-N over a per-doc
    * bucket count table (fresh from [[dsirCounts]] or folded from
    * generational state): both bag models are (b)-keyed sums of the slim
    * counts, weights freeze to integer micro-nats on the 256-row table,
    * scores are integer dot products, top-N is TakeOrderedAndProject.
    */
  private[graft] def dsirSelectFromCounts(spark: SparkSession,
      counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tb = counts.where(col("source") === benchmarkSource)
      .groupBy(col("b")).agg(sum(col("cnt")).as("tc"))
    val rb = counts.where(col("source") =!= benchmarkSource)
      .groupBy(col("b")).agg(sum(col("cnt")).as("rc"))
    val spine = spark.range(dsirBuckets).select(col("id").cast("int").as("b"))
    val wAll = Window.partitionBy()
    val weights = spine
      .join(tb, Seq("b"), "left").join(rb, Seq("b"), "left")
      .select(col("b"), coalesce(col("tc"), lit(0L)).as("tc"),
        coalesce(col("rc"), lit(0L)).as("rc"))
      .withColumn("lw",
        round((log(col("tc") + 1) - log(col("rc") + 1)) * 1e6).cast("long"))
      .withColumn("c",
        round((log(sum(col("rc")).over(wAll) + dsirBuckets)
          - log(sum(col("tc")).over(wAll) + dsirBuckets)) * 1e6).cast("long"))
      .select(col("b"), col("lw"), col("c"))
    val db = counts.where(col("source") =!= benchmarkSource)
      .select(col("doc_id"), col("b"), col("cnt"))
    val scored = db.join(broadcast(weights), "b")
      .groupBy(col("doc_id"))
      .agg((sum(col("cnt") * col("lw")) + sum(col("cnt")) * max(col("c")))
        .as("ss"))
    val wRank = Window.orderBy(col("ss").desc, col("doc_id"))
    scored.orderBy(col("ss").desc, col("doc_id")).limit(dsirSelectN)
      .withColumn("rnk", row_number().over(wRank).cast("int"))
      .select(col("doc_id"), col("rnk"),
        round(col("ss").cast("double") / 1e6, 6).as("score"))
      .orderBy(col("rnk"))
  }

  /** c7 curation thresholds — every gate compares EXACT integers (cross-
    * multiplied ratios), so the keep/drop verdict can never flip on a
    * float rounding difference between engines. One definition, both
    * engines (interpolated into the oracle).
    */
  val curationMinTokens = 20
  val curationMwlMin = 3      // mean word length lower bound (totlen >= 3·ntok)
  val curationMwlMax = 10     // mean word length upper bound (totlen <= 10·ntok)
  val curationSymbolPct = 10  // symbol ratio ≤ 1/10 (10·nsym <= nchar)
  val curationTriPct10 = 3    // dup-trigram fraction ≤ 3/10 (10·dup <= 3·ntri)
  val curationContHalf = 2    // contaminated when 2·n_shared >= n_own

  /** c7: the END-TO-END curation verdict — the query a real training-data
    * pipeline runs last, composing the engine's own building blocks into
    * one per-document keep/drop decision with a reason:
    *
    *   1. `benchmark`    — the held-out eval slice itself never trains;
    *   2. `quality`      — Gopher-style gates (t10's statistics) as exact
    *      integer threshold comparisons;
    *   3. `duplicate`    — SimHash cluster non-keepers (d7's labeling —
    *      read from the session label memo, never recomputed);
    *   4. `contaminated` — c3's shared-shingle screen at ratio ≥ 1/2;
    *   5. `keep`         — everything else. First matching rule wins.
    *
    * Scale shape: the quality gates are a pure projection; the duplicate
    * and contamination sides arrive as SLIM (doc_id)-keyed tables (the
    * label table and the screened-doc table are both vanishing fractions
    * of the corpus), joined on doc_id — the corpus text itself is read
    * once and never shuffles.
    */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val ntok = size(t).cast("long")
    val ntri = greatest(size(t) - 2, lit(0)).cast("long")
    val ndis = size(shingles(col("text"))).cast("long")
    val nchar = length(col("text")).cast("long")
    val nsym = (length(col("text")) -
      length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))).cast("long")
    val totlen = aggregate(transform(t, w => length(w)), lit(0), (a, x) => a + x)
      .cast("long")
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), ntok.as("ntok"), ntri.as("ntri"),
        ndis.as("ndis"), nchar.as("nchar"), nsym.as("nsym"), totlen.as("totlen"))
    val dups = Dedup.dupClusters(spark, dir)
      .where(col("is_keeper") === 0)
      .select(col("doc_id"), lit(1).as("is_dup"))
    val cont = contamination(spark, dir)
      .select(col("doc_id"), col("n_shared"), col("n_own"))
    val qualityFail = col("ntok") < curationMinTokens ||
      col("totlen") < lit(curationMwlMin) * col("ntok") ||
      col("totlen") > lit(curationMwlMax) * col("ntok") ||
      lit(curationSymbolPct) * col("nsym") > col("nchar") ||
      lit(10) * (col("ntri") - col("ndis")) > lit(curationTriPct10) * col("ntri")
    stats
      .join(dups, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("source") === benchmarkSource, "benchmark")
          .when(qualityFail, "quality")
          .when(col("is_dup") === 1, "duplicate")
          .when(lit(curationContHalf) * col("n_shared") >= col("n_own"), "contaminated")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }
}
