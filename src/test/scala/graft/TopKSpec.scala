package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TopK
import graft.plans.{FinalTopKPerKeyExec, PartialTopKPerKeyExec}

/** The custom TopKPerKey operator: equivalence with the window-rank
  * formulation (the semantics it replaces), plan shape, and edge cases.
  */
class TopKSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }

  test("equals window-rank formulation on skewed synthetic data") {
    // key 0 holds ~half the rows (skew), keys up to 99; values collide
    // often so the id tie-break matters.
    val df = spark.range(100000)
      .select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 100).as("key"),
        (col("id") * 37 % 1000).as("v"),
        col("id"))
      .repartition(7)
      .cache()
    val got = TopK.perKey(df, Seq("key"), Seq("v" -> false, "id" -> true), 5)
      .orderBy("key", "id").collect().toSeq
    val want = windowTopK(df, 5).orderBy("key", "id").collect().toSeq
    assert(got == want)
    df.unpersist()
  }

  test("null keys form their own group; k larger than group returns whole group") {
    val df = Seq((Some(1L), 10L, 1L), (Some(1L), 20L, 2L), (None, 5L, 3L),
      (None, 7L, 4L), (Some(2L), 1L, 5L))
      .toDF("key", "v", "id").repartition(3)
    val got = TopK.perKey(df, Seq("key"), Seq("v" -> false, "id" -> true), 10)
      .orderBy("id").collect().toSeq
    assert(got.size == 5) // nothing dropped when k exceeds every group size
    val top1 = TopK.perKey(df, Seq("key"), Seq("v" -> false, "id" -> true), 1)
      .select("id").as[Long].collect().toSet
    assert(top1 == Set(2L, 4L, 5L)) // max v per group incl. the null group
  }

  test("plan is partial -> exchange -> final (bounded shuffle), no sort of input") {
    val df = graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val plan = TopK.perKey(df, Seq("o_custkey"),
      Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
      .queryExecution.executedPlan
    assert(collectFirst(plan) { case p: PartialTopKPerKeyExec => p }.isDefined)
    assert(collectFirst(plan) { case f: FinalTopKPerKeyExec => f }.isDefined)
    // the final's subtree must contain the exchange AND the partial below it
    val fin = collectFirst(plan) { case f: FinalTopKPerKeyExec => f }.get
    val ex = collectFirst(fin.child) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
    assert(ex.isDefined, "hash exchange must sit between partial and final")
    // no SortExec anywhere: the whole point is no full sort of the input
    val sorts = collect(plan) { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.isEmpty, s"unexpected sort in plan:\n$plan")
  }

  test("RewriteWindowTopK fires on the rank-filter-drop idiom and preserves results") {
    val df = spark.range(10000)
      .select((col("id") % 50).as("key"), (col("id") * 13 % 500).as("v"), col("id"))
    val q = windowTopK(df, 4) // withColumn(rn) + filter + drop
    val plan = q.queryExecution.executedPlan
    assert(collectFirst(plan) { case f: FinalTopKPerKeyExec => f }.isDefined,
      s"rewrite did not fire:\n$plan")
    assert(collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)
    // and the rewritten plan computes the right thing: 4 rows per key,
    // each the window formulation's pick (reference computed with the
    // rewrite disabled, so WindowExec really produces it)
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    spark.conf.set(graft.plans.RewriteWindowTopK.enabledKey, "false")
    val want =
      try {
        val ref = df.withColumn("rn", row_number().over(w)).where(col("rn") <= 4).drop("rn")
        val refPlan = ref.queryExecution.executedPlan
        assert(collectFirst(refPlan) {
          case we: org.apache.spark.sql.execution.window.WindowExec => we }.isDefined &&
          collectFirst(refPlan) { case f: FinalTopKPerKeyExec => f }.isEmpty,
          s"disabling the rewrite must leave WindowExec in place:\n$refPlan")
        ref.orderBy("key", "id").collect().toSeq
      } finally spark.conf.unset(graft.plans.RewriteWindowTopK.enabledKey)
    assert(q.orderBy("key", "id").collect().toSeq == want)
  }

  test("rank-emitting mode fires when the rank column survives, and ranks match WindowExec") {
    val df = spark.range(1000)
      .select((col("id") % 10).as("key"), (col("id") % 97).as("v"), col("id"))
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    val q = df.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .select(col("key"), col("rn"), col("id"))
    val plan = q.queryExecution.executedPlan
    val fin = collectFirst(plan) { case f: FinalTopKPerKeyExec => f }
    assert(fin.isDefined, s"rank-mode rewrite did not fire:\n$plan")
    assert(fin.get.rankAttr.isDefined)
    assert(collect(plan) {
      case we: org.apache.spark.sql.execution.window.WindowExec => we }.isEmpty)
    spark.conf.set(graft.plans.RewriteWindowTopK.enabledKey, "false")
    val want =
      try df.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select(col("key"), col("rn"), col("id"))
        .orderBy("key", "rn").collect().toSeq
      finally spark.conf.unset(graft.plans.RewriteWindowTopK.enabledKey)
    assert(q.orderBy("key", "rn").collect().toSeq == want)
    // bare-filter shape (no projection after the filter) also rewrites —
    // and EXECUTES: collect/orderBy above the operator demand UnsafeRow,
    // so this exercises the unsafe-projection emit path end-to-end
    val bare = df.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
    assert(collectFirst(bare.queryExecution.executedPlan) {
      case f: FinalTopKPerKeyExec => f }.isDefined)
    val bareRows = bare.orderBy("key", "rn").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(2))) // (key, rn, id)
    assert(bareRows == want.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))))
  }

  test("rewrite fires on q7-shaped SQL TEXT, not just the Column API path") {
    // the same rank-filter idiom arriving through the parser: a Spark
    // upgrade that changes the analyzed shape of SQL windows must not
    // silently fall the SQL surface back to a full WindowExec sort while
    // the Column API keeps the operator
    graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .createOrReplaceTempView("topk_sql_orders")
    try {
      val sql =
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY o_custkey
          |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM topk_sql_orders) WHERE rn <= 3""".stripMargin
      val q = spark.sql(sql)
      val plan = q.queryExecution.executedPlan
      assert(collectFirst(plan) { case f: FinalTopKPerKeyExec => f }.isDefined,
        s"rewrite did not fire on SQL text:\n$plan")
      assert(collect(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
        "SQL-text plan fell back to a full window sort")
      // and the SQL-surface result equals the WindowExec reference
      spark.conf.set(graft.plans.RewriteWindowTopK.enabledKey, "false")
      val want =
        try spark.sql(sql).orderBy("o_custkey", "o_orderkey").collect().toSeq
        finally spark.conf.unset(graft.plans.RewriteWindowTopK.enabledKey)
      assert(q.orderBy("o_custkey", "o_orderkey").collect().toSeq == want)
    } finally spark.catalog.dropTempView("topk_sql_orders")
  }

  test("spark.graft.rewriteWindowTopK=false disables the rewrite") {
    val df = spark.range(1000)
      .select((col("id") % 10).as("key"), (col("id") % 97).as("v"), col("id"))
    spark.conf.set(graft.plans.RewriteWindowTopK.enabledKey, "false")
    try {
      val plan = windowTopK(df, 3).queryExecution.executedPlan
      assert(collectFirst(plan) { case f: FinalTopKPerKeyExec => f }.isEmpty)
      assert(collect(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }.nonEmpty)
    } finally spark.conf.unset(graft.plans.RewriteWindowTopK.enabledKey)
  }

  test("rewrite bails on float/double partition keys and degenerate k") {
    // double key: NormalizeFloatingNumbers runs after our batch, so the
    // rewrite must leave the Window plan (else -0.0 vs 0.0 split keys)
    val dfd = spark.range(1000)
      .select((col("id") % 10).cast("double").as("key"), (col("id") % 97).as("v"), col("id"))
    val pd = windowTopK(dfd, 3).queryExecution.executedPlan
    assert(collectFirst(pd) { case f: FinalTopKPerKeyExec => f }.isEmpty,
      s"rewrite must bail on double keys:\n$pd")
    assert(collect(pd) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.nonEmpty)
    // -0.0 and 0.0 must land in the same group either way
    val dfz = Seq((0.0, 1L, 1L), (-0.0, 2L, 2L)).toDF("key", "v", "id")
    assert(windowTopK(dfz, 1).collect().length == 1)
    // degenerate k (effectively-unbounded rank filter): keep WindowExec,
    // whose external sort spills instead of holding ~all rows on heaps
    val dfl = spark.range(1000)
      .select((col("id") % 10).as("key"), (col("id") % 97).as("v"), col("id"))
    val pl = windowTopK(dfl, 100000000).queryExecution.executedPlan
    assert(collectFirst(pl) { case f: FinalTopKPerKeyExec => f }.isEmpty,
      s"rewrite must bail on k > maxK:\n$pl")
  }

  test("q31 oracle twin: custom operator equals window formulation on orders") {
    val got = TopK.topOrdersPerCustomer(spark, sf0001).collect().toSeq
    val orders = graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_custkey").as("key"), col("o_orderkey").as("id"), col("o_totalprice").as("v"))
    val want = windowTopK(orders, 3)
      .select(col("key").as("o_custkey"), col("id").as("o_orderkey"), col("v").as("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey")).collect().toSeq
    assert(got == want)
  }
}
