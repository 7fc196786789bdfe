package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine — the ONE place session config is
  * pinned (Verify, Bench, and the test suites all build through here, so
  * timezone/AQE/parquet-legacy settings cannot drift between the
  * correctness and bench paths).
  *
  * Config that matters at scale:
  *   - `spark.sql.shuffle.partitions` sized to the executor-core count
  *     (32 locally; on a real cluster this would be ~2-3x total cores or
  *     left to AQE coalescing).
  *   - AQE on (Spark 4 default) so skewed joins and over-partitioned
  *     shuffles re-plan at runtime.
  *   - UTC session timezone so timestamp semantics match the DuckDB oracle.
  *   - `nanosAsLong` set here, once, at creation: the events table ships
  *     TIMESTAMP(NANOS) parquet which the vectorized reader otherwise
  *     rejects. Setting it at build time (not inside a loader) keeps parquet
  *     read behavior order-independent across the session.
  */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def create(appName: String = "graft", cores: Int = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      // Engine extension surface: native Catalyst expressions, callable
      // from Column API and SQL text alike.
      .withExtensions { ext =>
        ext.injectFunction(graft.exprs.RollingMinHash.registration)
        ext.injectFunction(graft.exprs.BottomKMd5.registration)
        ext.injectFunction(graft.exprs.MisraGries.registration)
        ext.injectFunction(graft.exprs.VectorSumScaled.registration)
        ext.injectFunction(graft.exprs.IvfProbe.registration)
        ext.injectFunction(graft.exprs.BpeStats.registration)
        ext.injectFunction(graft.exprs.HtmlEntities.registration)
        ext.injectFunction(graft.exprs.HtmlTexts.registration)
        ext.injectFunction(graft.exprs.BpeStats.pairsRegistration)
        graft.exprs.TextSketches.registrations.foreach(ext.injectFunction)
        ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
        ext.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
      }
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // JS object assignment is last-wins; the OOH pay/industry map
      // builders (graft.exprs.OohExtractors) inherit that semantic.
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // Managed-table warehouse (bucketed tables) outside the repo tree.
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
