package graft

import java.io.File

import graft.ops.Dedup

/** Durable CC checkpointing on the DISTRIBUTED branch (round-7 verdict
  * item 4, updated for the round-11 adaptive dial): past the
  * small-edge bound, the connected-components loop truncates lineage
  * with reliable `checkpoint()` files — the shape that survives executor
  * loss mid-loop on a real cluster — not executor-local
  * `localCheckpoint` blocks. This spec forces the loop (edgeLimit = 0),
  * pins that the checkpoint files materialize under the per-context dir
  * and the label lineage is cut to a checkpointed scan, and pins that
  * the two branches of the dial agree label-for-label on the same graph.
  */
class DurableCheckpointSpec extends SparkSpec {

  test("the distributed CC branch checkpoints durably; both branches agree") {
    import org.apache.spark.sql.functions.col
    Dedup.clearCaches()
    val pairs = Dedup.simhashPairs(spark, sf0001).select(col("d1"), col("d2"))
    // edgeLimit = 0 forces the checkpointed loop on a graph the adaptive
    // default would hand to the driver union-find
    val labels = graft.ops.ConnectedComponents
      .adaptiveMinLabels(spark, pairs, edgeLimit = 0)
    labels.count()

    // parity across the dial: driver union-find == distributed loop
    val small = graft.ops.ConnectedComponents.adaptiveMinLabels(spark, pairs)
    assert(labels.collect().map(_.toSeq).sortBy(_.toString).toSeq
      == small.collect().map(_.toSeq).sortBy(_.toString).toSeq,
      "adaptive branches disagree on the same pair graph")

    // the context checkpoint dir is set and is the session-scoped scratch
    // dir (or SPARK_GRAFT_CHECKPOINT_DIR on a real deployment)
    val ckptRoot = spark.sparkContext.getCheckpointDir
    assert(ckptRoot.isDefined, "no SparkContext checkpoint dir was set")
    val want = graft.util.TmpDirs.sessionCheckpointDir(spark)
    assert(ckptRoot.get.contains(new File(want).getName),
      s"checkpoint dir ${ckptRoot.get} is not the session scratch dir $want")

    // durable checkpoints are FILES on (distributed) storage, not
    // executor-memory blocks: per-round rdd-* dirs with part files
    val root = new File(new java.net.URI(ckptRoot.get).getPath)
    def partFiles(d: File): Int =
      Option(d.listFiles).toSeq.flatten.map { f =>
        if (f.isDirectory) partFiles(f)
        else if (f.getName.startsWith("part-")) 1 else 0
      }.sum
    assert(partFiles(root) > 0,
      s"no checkpoint part files under $root — loop did not checkpoint durably")

    // lineage cut: the label table plans as a scan of checkpointed data,
    // not the multi-round join tree that produced it
    val plan = labels.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD"),
      s"label table lineage was not truncated to a checkpointed scan:\n$plan")
    assert(!plan.toLowerCase.contains("simhash"),
      s"label table plan still contains the signature job:\n$plan")
  }

  test("a host-app-set checkpoint dir is ADOPTED, not fought over") {
    val sc = spark.sparkContext
    // remember the session's own root so the shared context is restored
    val saved = graft.util.TmpDirs.sessionCheckpointDir(spark)
    val hostDir = graft.util.TmpDirs.scratch("graft_hostckpt_").toString
    sc.setCheckpointDir(hostDir)
    try {
      val resolved = graft.util.TmpDirs.resolveCheckpointDir(sc)
      // adopted the host's dir (its UUID subdir), no fresh scratch minted
      assert(resolved == sc.getCheckpointDir.get,
        s"resolveCheckpointDir minted $resolved instead of adopting the host dir")
      assert(resolved.contains(new File(hostDir).getName),
        s"$resolved is not under the host-set $hostDir")
      // and durable() accepts it — the embedding-application failure mode
      // was an IllegalStateException right here
      graft.ops.ConnectedComponents.durable(spark, resolved)
    } finally sc.setCheckpointDir(saved)
  }

  test("embedding clusters (d11) ride the same durable checkpoint path") {
    val before = spark.sparkContext.getCheckpointDir
    graft.ops.Similarity.embeddingDupClusters(spark, sf0001).count()
    val after = spark.sparkContext.getCheckpointDir
    assert(after.isDefined)
    // one shared per-context dir — d11 must not fight d7 over the global
    // checkpoint location (ConnectedComponents.durable refuses redirects)
    before.foreach(b => assert(after.get == b))
  }

  test("a GraftSession lets the context cleaner delete durable checkpoint files") {
    assert(spark.sparkContext.getConf.getOption(GraftSession.CleanCheckpoints).contains("true"))
  }

  test("an unknown spark.graft.splice.checkpoint value is rejected, not read as local") {
    val key = "spark.graft.splice.checkpoint"
    val df = spark.range(3).toDF("node")
    spark.conf.set(key, "durabel")
    try {
      val e = intercept[IllegalArgumentException](graft.ops.LabelState.spliceMaterialize(df))
      for (v <- Seq("durabel", "none", "local", "durable"))
        assert(e.getMessage.contains(v), e.getMessage)
      spark.conf.set(key, "none")
      assert(graft.ops.LabelState.spliceMaterialize(df) eq df)
    } finally spark.conf.unset(key)
  }
}
