package graft

import org.apache.spark.sql.functions._

import graft.ops.{Deletes, GenState, IncrementalCard, IncrementalExact, IncrementalMedia,
  IncrementalMinHash}

/** Randomized crash-point soak for the generation protocol.
  *
  * The torn-generation and double-fold windows are each closed by
  * construction and pinned by DOCTORED scenarios (backdated leases,
  * barriered threads); this soak instead kills the writer at a random
  * filesystem mutation and asserts the invariants hold from ANY prefix
  * of its writes. Mechanism: a scripted history — merge, merge,
  * tombstone, compact — runs against a `crash://` state dir
  * ([[CrashFs]]); a counting pass records each operation's mutation
  * span and the serve after each prefix (the oracles); then, per
  * operation, a seeded-random mutation inside its span becomes the kill
  * point — the writer's process "dies" there (every later mutation
  * throws), and the spec asserts:
  *
  *   1. READS survive the corpse: the serve equals the exact state of a
  *      completed prefix — oracle(i-1) when the killed op never
  *      committed, oracle(i) when it died after its commit point (e.g.
  *      a compactor killed mid-sweep) — never a torn in-between;
  *   2. RECOVERY is total: re-running the killed op (same batch key —
  *      the crash-retry contract) and the rest of the script converges
  *      to exactly the no-crash final state.
  *
  * Four families, chosen to span the protocol surface: exact
  * (count-partial — double-counting is the failure mode), MinHash
  * (probe-at-merge label family — pair/label state), media (binary
  * codec chassis + facade tombstone), card (count-distinct partials
  * whose compact re-derives five tables from persisted tombstone
  * survivors). The seed is logged for replay.
  */
class CrashSoakSpec extends SparkSpec {

  private val seed: Long =
    sys.props.get("graft.soak.seed").map(_.toLong).getOrElse(System.nanoTime())
  private val rng = new scala.util.Random(seed)
  info(s"crash-soak seed=$seed (replay with -Dgraft.soak.seed=$seed)")

  private def docs = graft.sources.Tables.documents(spark, sf0001)

  private def crashDir(prefix: String): String =
    s"crash://${graft.util.TmpDirs.scratch(prefix)}"

  override def withFixture(test: NoArgTest) = {
    // register the scheme once; idempotent
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.crash.impl", classOf[CrashFs], classOf[org.apache.hadoop.fs.FileSystem])
    try super.withFixture(test)
    finally CrashFs.disarm()
  }

  private case class Family(
      name: String,
      commitTable: String,
      ops: Seq[(String, String => Unit)],   // (opName, stateDir => run)
      serve: String => Seq[String])

  private def sortedServe(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def exactFamily: Family = {
    val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val b2 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val victims = { import spark.implicits._
      docs.select(col("doc_id")).limit(5) }
    Family("exact", "hashes",
      Seq(
        "merge-b1" -> (s => { IncrementalExact.merge(spark, s, b1, Some("k1")); () }),
        "merge-b2" -> (s => { IncrementalExact.merge(spark, s, b2, Some("k2")); () }),
        "tombstone" -> (s => { Deletes.tombstone(spark, s, "exact", victims); () }),
        "compact" -> (s => { IncrementalExact.compact(spark, s); () })),
      s => if (GenState.completeVersions(spark, s, "hashes").isEmpty) Seq("∅")
        else sortedServe(IncrementalExact.dedup(spark, s)))
  }

  private def minhashFamily: Family = {
    val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val b2 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val victims = docs.select(col("doc_id")).limit(5)
    Family("minhash", "labels",
      Seq(
        "merge-b1" -> (s => { IncrementalMinHash.merge(spark, s, b1, batchKey = Some("k1")); () }),
        "merge-b2" -> (s => { IncrementalMinHash.merge(spark, s, b2, batchKey = Some("k2")); () }),
        "tombstone" -> (s => { Deletes.tombstone(spark, s, "minhash", victims); () }),
        "compact" -> (s => { IncrementalMinHash.compact(spark, s); () })),
      s => if (GenState.completeVersions(spark, s, "labels").isEmpty) Seq("∅")
        else sortedServe(IncrementalMinHash.clusters(spark, s)
          .select("doc_id", "cluster_id", "cluster_size", "is_keeper")))
  }

  private def mediaFamily: Family = {
    val media = spark.read.format("binaryFile")
      .load(graft.ops.Png.pngFixtureDir)
      .select(substring_index(col("path"), "/", -1).as("name"), col("content"))
    val originals = media.where(!col("name").contains("_"))
    val variants = media.where(col("name").contains("_"))
    val victims = { import spark.implicits._
      Seq("imga.png").toDF("name") }
    val ct = Deletes.modalities("png").commitTable
    Family("media", ct,
      Seq(
        "merge-originals" -> (s => { IncrementalMedia.merge(spark, s, originals, codec = "png-dhash"); () }),
        "merge-variants" -> (s => { IncrementalMedia.merge(spark, s, variants, codec = "png-dhash"); () }),
        "tombstone" -> (s => { Deletes.tombstone(spark, s, "png", victims); () }),
        "compact" -> (s => { IncrementalMedia.compact(spark, s); () })),
      s => if (GenState.completeVersions(spark, s, ct).isEmpty) Seq("∅")
        else sortedServe(IncrementalMedia.pairs(spark, s)))
  }

  private def cardFamily: Family = {
    val b1 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val b2 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val victims = docs.select(col("doc_id")).limit(5)
    Family("card", "partials",
      Seq(
        "merge-b1" -> (s => { IncrementalCard.merge(spark, s, b1, Some("k1")); () }),
        "merge-b2" -> (s => { IncrementalCard.merge(spark, s, b2, Some("k2")); () }),
        "tombstone" -> (s => { Deletes.tombstone(spark, s, "card", victims); () }),
        "compact" -> (s => { IncrementalCard.compact(spark, s); () })),
      s => if (GenState.completeVersions(spark, s, "partials").isEmpty) Seq("∅")
        else sortedServe(IncrementalCard.serve(spark, s)))
  }

  private def stackText(t: Throwable): String = {
    val w = new java.io.StringWriter()
    t.printStackTrace(new java.io.PrintWriter(w))
    w.toString
  }

  /** A crashed compactor leaves a FRESH `_MAINT` lease; the recovery
    * compactor's documented remedy is waiting out the TTL — the soak
    * plays the role of time and backdates it.
    */
  private def elapseMaint(state: String): Unit = {
    val f = GenState.fs(spark, state)
    val p = new org.apache.hadoop.fs.Path(s"$state/_MAINT")
    if (f.exists(p))
      f.setTimes(p, System.currentTimeMillis() - GenState.leaseTtlMs(spark, state) - 60000, -1)
  }

  private def soak(fam: Family): Unit = {
    // ---- counting pass: mutation span + oracle serve per prefix --------
    CrashFs.reset()
    val base = crashDir(s"graft_soak_${fam.name}_base_")
    var spans = Vector.empty[(Long, Long)] // (fromExclusive, toInclusive]
    var oracles = Vector(fam.serve(base))  // oracle(0): the empty state
    for ((_, op) <- fam.ops) {
      val before = CrashFs.mutations.get()
      op(base)
      spans :+= (before, CrashFs.mutations.get())
      oracles :+= fam.serve(base)
    }
    val want = oracles.last
    assert(spans.forall { case (a, b) => b > a },
      s"[${fam.name}] every op must mutate the filesystem: $spans")

    // ---- kill passes: one seeded-random point inside each op's span ----
    for (opIdx <- fam.ops.indices) {
      val (from, to) = spans(opIdx)
      val kill = from + 1 + rng.nextLong(to - from)
      val state = crashDir(s"graft_soak_${fam.name}_k${opIdx}_")
      CrashFs.reset(newBudget = kill - 1) // the kill-th mutation throws
      var crashedAt = -1
      var crashEx: Throwable = null
      try {
        for (((_, op), i) <- fam.ops.zipWithIndex if crashedAt < 0) {
          try op(state)
          catch { case t: Throwable => crashedAt = i; crashEx = t }
        }
      } finally CrashFs.disarm()
      if (crashedAt < 0) {
        // mutation counts drifted enough that the budget outlived the
        // script (possible: task file names/retries vary) — then the
        // whole history committed and must equal the no-crash oracle
        assert(fam.serve(state) == want,
          s"[${fam.name}] uncrashed replay must serve the final oracle (seed=$seed)")
      } else {
        assert(stackText(crashEx).contains("CRASH-INJECTED"),
          s"[${fam.name}] op $crashedAt died of something OTHER than the " +
            s"injected crash (seed=$seed):\n${stackText(crashEx).take(4000)}")
        // 1. reads survive the corpse: an exact prefix state, never torn
        val served = fam.serve(state)
        assert(served == oracles(crashedAt) || served == oracles(crashedAt + 1),
          s"[${fam.name}] after a kill inside op $crashedAt " +
            s"(${fam.ops(crashedAt)._1}, mutation $kill, seed=$seed) the serve " +
            s"matches NO completed prefix:\n got=$served\n " +
            s"pre=${oracles(crashedAt)}\n post=${oracles(crashedAt + 1)}")
        // 2. recovery: re-run the killed op and the rest of the script
        for (((name, op), i) <- fam.ops.zipWithIndex if i >= crashedAt) {
          if (name == "compact") elapseMaint(state)
          op(state)
        }
        assert(fam.serve(state) == want,
          s"[${fam.name}] recovery after a kill inside op $crashedAt " +
            s"(mutation $kill, seed=$seed) must converge to the no-crash state")
      }
    }
  }

  test("exact family: killed at a random mutation of every op — prefix reads exact, recovery total") {
    soak(exactFamily)
  }

  test("MinHash family: killed at a random mutation of every op — prefix reads exact, recovery total") {
    soak(minhashFamily)
  }

  test("media family: killed at a random mutation of every op — prefix reads exact, recovery total") {
    soak(mediaFamily)
  }

  test("card family: killed at a random mutation of every op — prefix reads exact, recovery total") {
    soak(cardFamily)
  }

  /** The same soak under the rename-free POINTER publish: every mutation
    * of the nonce-dir writes, the `_COMMIT` conditional put, and the
    * pointer-aware sweeps is a kill point — the object-store commit path
    * must be prefix-exact and totally recoverable exactly like the
    * rename path. (The simulation granularity is the mutation CALL, as
    * everywhere in this suite; whole-object put atomicity is the store's
    * contract and is modeled by the single create mutation.)
    */
  private def soakPointer(fam: Family): Unit = {
    val before = GenState.publishMode
    GenState.publishMode = GenState.PointerPublish
    try soak(fam) finally GenState.publishMode = before
  }

  test("exact family under POINTER publish: killed at a random mutation of every op — same invariants") {
    soakPointer(exactFamily)
  }

  test("MinHash family under POINTER publish: killed at a random mutation of every op — same invariants") {
    soakPointer(minhashFamily)
  }
}
