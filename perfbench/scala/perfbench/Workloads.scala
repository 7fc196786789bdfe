package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.ops.{Dedup, Deletes, IncrementalDedup, IncrementalExact}
import graft.pipeline.OohPipeline
import graft.sources.Tables
import graft.streaming.DocumentsStream

object Params {
  def str(p: Map[String, Any], k: String): String = p(k).toString
  def strs(p: Map[String, Any], k: String): Seq[String] = p(k).asInstanceOf[Seq[Any]].map(_.toString)
  def long(p: Map[String, Any], k: String): Long = p(k).toString.toLong
  def maps(p: Map[String, Any], k: String): Seq[Map[String, Any]] =
    p(k).asInstanceOf[Seq[Map[String, Any]]]
}

object Io {
  def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Files (path -> bytes) under a directory. */
  def listing(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally w.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val w = Files.walk(src)
    try w.iterator().asScala.foreach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }
}

/** `batch`: SparkEntry queries over one table directory (relational
  * operators, TopKPerKey, the SQL and bucketed-join engine paths, and the
  * one-shot curation operators), run in a seeded order each pass. Each
  * result is collected to the driver (every column materialized, no file
  * commit in the timed op); the last pass's rows are written out afterwards
  * for the oracle check.
  */
final class QuerySet(p: Map[String, Any]) extends Workload {
  private val dir = Params.str(p, "input")
  private val warmDir = Params.str(p, "warm")
  private val queries = Params.maps(p, "queries").map(q => (q("name").toString, q("span").toString))
  private val warmQueries = Params.strs(p, "warm_queries")
  private val entry = SparkEntry.queries
  private val last = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  val records: Long = Params.long(p, "records")

  def warmup(spark: SparkSession): Unit =
    warmQueries.foreach(q => try entry(q)(spark, warmDir).collect() catch { case NonFatal(_) => () })

  def pass(spark: SparkSession, rec: Recorder, rng: scala.util.Random): Unit =
    for ((name, span) <- rng.shuffle(queries))
      rec.op(name, span, "query")(Main.collect(entry(name)(spark, dir)))
        .foreach(r => last(name) = r)

  def dump(spark: SparkSession, outDir: String): Map[String, String] = {
    last.foreach { case (name, (rows, schema)) =>
      Main.writeRows(spark, rows, schema, s"$outDir/$name")
    }
    queries.map(_._1).map(q => q -> SparkEntry.oracleSql(q)).toMap
  }

  /** sources.scan_s: one full scan of every input table. */
  override def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val tables = Tables.names.filter(n => Files.exists(Paths.get(s"$dir/$n.parquet")))
    Map("sources.scan_s" -> tables.map(n => Io.time(Io.noop(Tables.table(spark, dir, n)))).sum)
  }
}

/** `ooh_extract`: the paper's dataflow over XML compilation shards. Per
  * shard two operations: read -> occupations, and the filtered report,
  * each collected to the driver like the batch queries (no file commit in
  * the timed op); the last pass's rows go to parquet for the check.
  */
final class OohExtract(p: Map[String, Any]) extends Workload {
  private val shards = Params.strs(p, "shards")
  private val warmShards = Params.strs(p, "warm_shards")
  private val last = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  val records: Long = Params.long(p, "records")

  private def occupations(spark: SparkSession, tracer: Tracer, path: String) =
    OohPipeline.occupations(tracer.span("pipeline.read")(OohPipeline.read(spark, path)))

  private def shard(spark: SparkSession, rec: Recorder, path: String, i: Int): Unit = {
    rec.op(s"occupations.$i", "pipeline.extract", "query")(
      Main.collect(occupations(spark, rec.tracer, path))).foreach(r => last(s"$i/occupations") = r)
    rec.op(s"report.$i", "pipeline.report", "query")(
      Main.collect(OohPipeline.report(occupations(spark, rec.tracer, path))))
      .foreach(r => last(s"$i/report") = r)
  }

  def warmup(spark: SparkSession): Unit = {
    val rec = new Recorder(new Tracer(false, "warm"))
    warmShards.zipWithIndex.foreach { case (s, i) => shard(spark, rec, s, i) }
  }

  def pass(spark: SparkSession, rec: Recorder, rng: scala.util.Random): Unit = {
    last.clear()
    for (i <- rng.shuffle(shards.indices.toList)) shard(spark, rec, shards(i), i)
  }

  def dump(spark: SparkSession, outDir: String): Map[String, String] = {
    for ((key, (rows, schema)) <- last) Main.writeRows(spark, rows, schema, s"$outDir/ooh/$key")
    Map.empty
  }

  /** pipeline.read_s: the XML scan alone; exprs.ooh_columns_s: the
    * extractor projection over a cached raw scan. Medians over shards.
    */
  override def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val probe = shards.take(4)
    val read = probe.map(s => Io.time(Io.noop(OohPipeline.read(spark, s))))
    val cols = probe.map { s =>
      val raw = OohPipeline.read(spark, s).cache()
      raw.count()
      try Io.time(Io.noop(OohPipeline.occupations(raw))) finally raw.unpersist(true)
    }
    Map("pipeline.read_s" -> Main.median(read), "exprs.ooh_columns_s" -> Main.median(cols))
  }
}

/** One generational-state family of `trickle_ingest`. */
final case class Family(name: String, modality: String,
    merge: (SparkSession, String, String) => Unit,
    ingestSpan: String,
    serve: (SparkSession, String) => DataFrame,
    maybeCompact: (SparkSession, String, Int) => Option[Int],
    versions: (SparkSession, String) => Seq[Int])

/** `trickle_ingest`: small batches merged into two generational-state
  * families (SimHash by direct merge, exact through the DocumentsStream
  * foreachBatch runner), a served-result read after every
  * batch, and periodic tombstone deletes followed by `maybeCompact`. Every
  * pass starts from a copy of the base generation loaded during set-up.
  */
final class TrickleIngest(p: Map[String, Any]) extends Workload {
  private val base = Params.str(p, "base")
  private val batches = Params.strs(p, "batches")
  private val deletes = p("deletes").asInstanceOf[Map[String, Any]].map { case (k, v) => k.toInt -> v.toString }
  private val maxLive = Params.long(p, "max_live").toInt
  private val warm = Params.str(p, "warm")
  private val stateRoot = Params.str(p, "state")
  val records: Long = Params.long(p, "records")
  private var snapshot = ""
  private var live = ""

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  val families: Seq[Family] = Seq(
    Family("simhash", "cluster", (s, st, d) => IncrementalDedup.merge(s, st, docs(s, d)),
      "genstate.merge.simhash", IncrementalDedup.clusters, IncrementalDedup.maybeCompact,
      IncrementalDedup.completeVersions),
    Family("exact", "exact",
      (s, st, d) => { DocumentsStream.runExactDedupAvailableNow(s, d, Some(st), files = 1); () },
      "streaming.batch.exact", IncrementalExact.dedup, IncrementalExact.maybeCompact,
      IncrementalExact.completeVersions))

  /** The signature kernel the merges run, on a small corpus. */
  def warmup(spark: SparkSession): Unit = Dedup.simhashSignatures(spark, warm).collect()

  /** Base load: a direct merge per family, then one served read each. */
  override def prepare(spark: SparkSession, rep: Int): Unit = {
    if (snapshot.nonEmpty) Io.deleteTree(snapshot)
    snapshot = s"$stateRoot/base$rep"
    families.foreach { f =>
      val st = s"$snapshot/${f.name}"
      if (f.name == "exact") IncrementalExact.merge(spark, st, docs(spark, base))
      else f.merge(spark, st, base)
      f.serve(spark, st).collect()
    }
  }

  /** Every pass starts from a fresh copy of the base generation. */
  override def beforePass(): Unit = {
    live = s"$stateRoot/live"
    Io.deleteTree(live)
    Io.copyTree(snapshot, live)
  }

  def pass(spark: SparkSession, rec: Recorder, rng: scala.util.Random): Unit = {
    def st(f: Family) = s"$live/${f.name}"
    for ((dir, b) <- batches.zipWithIndex) {
      for (f <- families) {
        val before = if (rec.traced) Io.listing(st(f)) else Map.empty[String, Long]
        rec.op(s"merge.${f.name}", f.ingestSpan, "ingest")(f.merge(spark, st(f), dir))
        if (rec.traced) {
          val after = Io.listing(st(f))
          val added = after.keySet -- before.keySet
          rec.sample("genstate.files_per_merge", added.size)
          rec.sample("genstate.bytes_per_merge", added.toSeq.map(after).sum)
          rec.sample("genstate.live_versions", f.versions(spark, st(f)).size)
        }
        rec.op(s"serve.${f.name}", s"genstate.serve.${f.name}", "serve")(f.serve(spark, st(f)).collect())
      }
      deletes.get(b).foreach { idsDir =>
        val ids = spark.read.parquet(idsDir)
        for (f <- families)
          rec.op(s"delete.${f.name}", s"genstate.delete.${f.name}", "delete")(
            Deletes.tombstone(spark, st(f), f.modality, ids))
        for (f <- families) {
          val before = if (rec.traced) Io.listing(st(f)) else Map.empty[String, Long]
          val ran = rec.op(s"compact.${f.name}", s"genstate.compact.${f.name}", "compact")(
            f.maybeCompact(spark, st(f), maxLive))
          if (rec.traced && ran.exists(_.isDefined)) {
            val after = Io.listing(st(f))
            rec.sample("genstate.compact_bytes_rewritten",
              (after.keySet -- before.keySet).toSeq.map(after).sum)
          }
        }
      }
    }
  }

  def dump(spark: SparkSession, outDir: String): Map[String, String] = {
    families.foreach { f =>
      val df = f.serve(spark, s"$live/${f.name}")
      val (rows, schema) = Main.collect(df)
      Main.writeRows(spark, rows, schema, s"$outDir/trickle_${f.name}")
    }
    // the served state must equal the one-shot operator over the survivors
    val oneShot = Map("simhash" -> "d7_dup_clusters", "exact" -> "d1_exact_dedup")
    families.map(f => s"trickle_${f.name}" -> SparkEntry.oracleSql(oneShot(f.name))).toMap
  }
}
