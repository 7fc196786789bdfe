package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.xml.XmlFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

import graft.exprs.OohExtractors._
import graft.model.Occupation

/** The reference's entire dataflow (index.js:136-188) as one declarative
  * Spark plan:
  *
  *   XML scan (rowTag=occupation)  — S1/S2
  *     → wide select of 20 extracted columns (P1–P11)  — D1
  *     → null-safe filter over nested map keys  — D2
  *     → report / file sinks  — S5/S6
  *
  * Pipeline DEFINITION is separated from EXECUTION (the reference runs its
  * pipeline at module top level, index.js:186 — a testability flaw SURVEY
  * §3.2 calls out). Nothing here triggers a job until a sink is invoked.
  *
  * Scale notes: the XML source is splittable by `rowTag`, so a 100 TB
  * compilation reads partition-parallel; the wide select is a single
  * narrow (shuffle-free) whole-stage-codegen'd projection; the filter is
  * likewise narrow. The whole pipeline has ZERO shuffles.
  */
object OohPipeline {

  /** Source schema declared explicitly (SURVEY §1.3): nested `qf_*` value
    * elements become structs; CDATA-bearing sections stay StringType and
    * are decomposed by expressions, never re-scanned (S3 mapping).
    */
  val rawSchema: StructType = {
    def s(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })
    val valueOnly = s("value" -> StringType)
    val sectionBody = s("section_body" -> StringType)
    s(
      "title" -> StringType,
      "description" -> StringType,
      "qf_median_pay_annual" -> valueOnly,
      "qf_median_pay_hourly" -> valueOnly,
      "qf_entry_level_education" -> valueOnly,
      "qf_work_experience" -> valueOnly,
      "qf_on_the_job_training" -> valueOnly,
      "qf_number_of_jobs" -> valueOnly,
      "qf_employment_outlook" -> s("description" -> StringType, "value" -> StringType),
      "qf_employment_openings" -> valueOnly,
      "summary_what_they_do" -> StringType,
      "summary_how_to_become_one" -> StringType,
      "summary_work_environment" -> StringType,
      "summary_pay" -> StringType,
      "similar_occupations" -> sectionBody,
      "work_environment" -> sectionBody,
      "how_to_become_one" -> sectionBody)
  }

  /** S1/S2: the XML file scan. `rowTag=occupation` makes each
    * `<occupation>` element one Row (the reference's `//occupation`
    * iterator, index.js:136); the source is lazy, splittable and prunes to
    * `rawSchema`.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .format("xml")
      .option("rowTag", "occupation")
      .schema(rawSchema)
      .load(path)

  /** D1: the 20-column wide projection (index.js:138-174), with the
    * Military Careers guard (P11, index.js:146-148) nulling every
    * post-guard column, plus a `warnings` data-quality column standing in
    * for the reference's cardinality log line (index.js:33-35).
    *
    * The projection is analyzed and optimized once per session, not once
    * per call. The session's [[Record]] keeps the analyzed plan of the
    * first call and, once a later call needs it, that call's optimized
    * plan, so keeping them costs no analyzer or optimizer run of its own.
    * A later call re-binds them to `raw`:
    *
    *   - the analyzed plan over `raw`'s analyzed plan, with the template's
    *     input attributes mapped to `raw`'s and every output alias given a
    *     fresh id (so two results self-join like two directly analyzed
    *     frames);
    *   - when `raw` is a bare XML scan with the record's read options and
    *     the session caches nothing, also the optimized plan: `raw`'s
    *     relation swapped in, its attributes and the outputs mapped to the
    *     same ids. The result then skips the optimizer too
    *     (`PlanBridge.ofPrepared`); physical planning and the job run as
    *     for any frame. Any other `raw` is only analyzed once
    *     (`PlanBridge.ofAnalyzed`).
    *
    * The record is keyed on `raw`'s schema, a snapshot of the session's
    * confs (`spark.conf.getAll`: ANSI mode, the session time zone and
    * other confs shape both plans) and the XML read options without the
    * path; a different key builds a new record in place of the old. Each
    * live session holds one record, dropped once its SparkContext has
    * stopped (purged on the next call).
    */
  def occupations(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    val child = raw.queryExecution.analyzed
    val scan = xmlScan(child)
    val key = Key(child.schema, spark.conf.getAll, scan.map(readOptions))
    templates.keySet.removeIf(_.sparkContext.isStopped)
    val rec = templates.compute(spark, (_, old) =>
      if (old != null && old.key.schema == key.schema && old.key.confs == key.confs &&
        (key.options.isEmpty || old.key.options == key.options)) old
      else new Record(key))
    // a scan's record always has its options: compute keeps no other
    val prepare = scan.isDefined && PlanBridge.cacheIsEmpty(spark)
    val t = rec.occupations
    if (t == null || prepare && t.optimized.isEmpty) {
      val df = definition(raw)
      rec.occupations = new Template(df.queryExecution)
      return df
    }
    val Project(list, leaf) = t.analyzed: @unchecked
    val rebind = reId(leaf.output.zip(child.output), list)
    val analyzed = Project(list.map(_.transform(rebind).asInstanceOf[NamedExpression]), child)
    if (!prepare) return PlanBridge.ofAnalyzed(spark, analyzed)
    analyzed.setTagValue(PreparedBy, rec)
    PlanBridge.ofPrepared(spark, analyzed,
      swapRelation(t.optimized.get, scan.get).transformAllExpressions(rebind))
  }

  /** What shapes a session's OOH plans besides their definition. */
  private[graft] final case class Key(
      schema: StructType, confs: Map[String, String], options: Option[Map[String, String]])

  /** One session's templates of [[occupations]] and [[report]] for one key;
    * each is set by the first call that finds it unset.
    */
  private[graft] final class Record(val key: Key) {
    @volatile var occupations: Template = _
    @volatile var report: Template = _
  }

  /** One operation's analyzed plan and, read off the same call's
    * QueryExecution the first time a later call asks for it, its
    * optimized plan. The optimized plan is kept only when it reads
    * nothing but the analyzed plan's one XML relation (no cached data).
    */
  private[graft] final class Template(qe: QueryExecution) {
    val analyzed: LogicalPlan = qe.analyzed
    private var first = qe
    private var opt: Option[LogicalPlan] = None

    def optimized: Option[LogicalPlan] = synchronized {
      if (first != null) {
        opt = analyzed.collectLeaves() match {
          case Seq(scan: LogicalRelation) => Some(first.optimizedPlan).filter(_.collectLeaves().forall {
            case lr: LogicalRelation => lr.relation eq scan.relation
            case _ => false
          })
          case _ => None
        }
        first = null
      }
      opt
    }
  }

  private[graft] val templates = new ConcurrentHashMap[SparkSession, Record]

  /** Marks the analyzed plan of a prepared [[occupations]] result with the
    * record it came from, so [[report]] can re-bind its own template.
    */
  private val PreparedBy = TreeNodeTag[Record]("graft.ooh.prepared")

  /** `plan` when it is a bare XML file scan: no partition columns, no
    * bucketing, no catalog table, not streaming.
    */
  private def xmlScan(plan: LogicalPlan): Option[LogicalRelation] = plan match {
    case lr @ LogicalRelation(fs: HadoopFsRelation, _, None, false, None)
        if fs.fileFormat.isInstanceOf[XmlFileFormat] && fs.partitionSchema.isEmpty &&
          fs.bucketSpec.isEmpty => Some(lr)
    case _ => None
  }

  /** The scan's read options, less the path: the path changes per file but
    * never the plans.
    */
  private def readOptions(lr: LogicalRelation): Map[String, String] =
    lr.relation.asInstanceOf[HadoopFsRelation].options.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }.removedAll(Seq("path", "paths"))

  /** Maps a template's input attributes to the new input's, and its
    * output aliases (and references to them) to fresh ids.
    */
  private def reId(inputs: Seq[(Attribute, Attribute)],
      outputs: Seq[NamedExpression]): PartialFunction[Expression, Expression] = {
    val attrs = inputs.map { case (from, to) => from.exprId -> to }.toMap
    val fresh = outputs.collect { case a: Alias => a.exprId -> NamedExpression.newExprId }.toMap

    {
      case a: AttributeReference if attrs.contains(a.exprId) => attrs(a.exprId)
      case a: AttributeReference if fresh.contains(a.exprId) => a.withExprId(fresh(a.exprId))
      case a: Alias if fresh.contains(a.exprId) =>
        a.copy()(fresh(a.exprId), a.qualifier, a.explicitMetadata, a.nonInheritableMetadataKeys)
    }
  }

  /** `plan` reading `scan`'s relation (its files and options) in place of
    * the template's.
    */
  private def swapRelation(plan: LogicalPlan, scan: LogicalRelation): LogicalPlan =
    plan.transformUp { case lr: LogicalRelation => lr.copy(relation = scan.relation) }

  /** The definition of [[occupations]]; analyzed and optimized on every
    * call, so callers go through [[occupations]], which does both once.
    */
  private[graft] def definition(raw: DataFrame): DataFrame = {
    val military = col("title") === "Military Careers"
    def guarded(c: Column): Column = when(!military, c)

    raw.select(
      col("title"),
      workSchedules(col("work_environment.section_body")).as("workSchedules"),
      importantQualities(col("how_to_become_one.section_body")).as("importantQualities"),
      guarded(col("description")).as("description"),
      guarded(toDoubleOrNull(col("qf_median_pay_annual.value"))).as("medianPayAnnual"),
      guarded(toDoubleOrNull(col("qf_median_pay_hourly.value"))).as("medianPayHourly"),
      guarded(col("qf_entry_level_education.value")).as("education"),
      guarded(col("qf_work_experience.value")).as("workExperience"),
      guarded(col("qf_on_the_job_training.value")).as("training"),
      guarded(col("qf_number_of_jobs.value")).as("numberOfJobs"),
      guarded(col("qf_employment_outlook.description")).as("employmentOutlook"),
      guarded(col("qf_employment_outlook.value")).as("employmentOutlookCode"),
      guarded(col("qf_employment_openings.value")).as("projectedChangeInNumberOfJobs"),
      guarded(cdataConcat(col("summary_what_they_do"), "//p/text()")).as("whatTheyDo"),
      guarded(cdataConcat(col("summary_how_to_become_one"), "//p/text()")).as("howToBecomeOne"),
      guarded(cdataConcat(col("summary_work_environment"), "//p/text()")).as("workEnvironment"),
      guarded(payText(col("summary_pay"))).as("payText"),
      guarded(pay(col("summary_pay"))).as("pay"),
      guarded(similarOccupations(col("similar_occupations.section_body"))).as("similarOccupations"),
      guarded(topIndustries(col("work_environment.section_body"))).as("topIndustries"),
      guarded(filter(array(
        cardinalityWarning(col("summary_what_they_do"), "//p/text()", "summary_what_they_do"),
        cardinalityWarning(col("summary_how_to_become_one"), "//p/text()", "summary_how_to_become_one"),
        cardinalityWarning(col("summary_work_environment"), "//p/text()", "summary_work_environment")),
        w => w.isNotNull)).as("warnings"))
  }

  /** Typed surface: the same projection as a Dataset[Occupation]. */
  def occupationsDs(raw: DataFrame): Dataset[Occupation] = {
    val spark = raw.sparkSession
    import spark.implicits._
    occupations(raw).drop("warnings").as[Occupation]
  }

  /** D2 (index.js:177): keep rows where ANY key of the qualities map is
    * longer than 26 chars. Null-safe divergence (SURVEY §2.3): the
    * reference throws on a null map; `exists` over null yields null →
    * row dropped.
    */
  def qualityFilter(occ: DataFrame): DataFrame =
    occ.where(exists(map_keys(col("importantQualities")), k => length(k) > 26))

  /** S5: the report projection the reference prints (index.js:177-183).
    *
    * Over a prepared [[occupations]] result whose record is still the
    * session's (same confs, nothing cached), the record's report template
    * is re-bound like the projection: its `Filter`/`Project` over `occ`'s
    * plan, and its optimized plan with `occ`'s relation and output ids.
    * The first such call builds the template; every other `occ` is
    * analyzed and optimized as usual.
    */
  def report(occ: DataFrame): DataFrame = {
    val spark = occ.sparkSession
    def direct: DataFrame = reportDefinition(occ)
    val (p, scan) = occ.queryExecution.analyzed match {
      case p @ Project(_, lr: LogicalRelation) => (p, lr)
      case _ => return direct
    }
    val rec = p.getTagValue(PreparedBy).orNull
    if (rec == null || !(templates.get(spark) eq rec) || rec.key.confs != spark.conf.getAll ||
        !PlanBridge.cacheIsEmpty(spark)) return direct
    val t = rec.report
    val shape = if (t == null) None else t.analyzed match {
      case Project(list, Filter(cond, p0 @ Project(_, lr0: LogicalRelation))) =>
        t.optimized.map(opt => (list, cond, p0.output ++ lr0.output, opt))
      case _ => None
    }
    shape match {
      case None =>
        val df = direct
        rec.report = new Template(df.queryExecution)
        df
      case Some((list, cond, inputs, opt)) =>
        val rebind = reId(inputs.zip(p.output ++ scan.output), list)
        PlanBridge.ofPrepared(spark,
          Project(list.map(_.transform(rebind).asInstanceOf[NamedExpression]),
            Filter(cond.transform(rebind), p)),
          swapRelation(opt, scan).transformAllExpressions(rebind))
    }
  }

  /** The definition of [[report]], analyzed and optimized on every call. */
  private[graft] def reportDefinition(occ: DataFrame): DataFrame =
    qualityFilter(occ).select(
      col("title"), col("medianPayAnnual"), col("employmentOutlookCode"),
      col("importantQualities"))

  /** Full pipeline: read → extract → filter → report columns. */
  def run(spark: SparkSession, path: String): DataFrame =
    report(occupations(read(spark, path)))

  /** Default fixture (FIXTURES.md §A) for harness entry points — an
    * ENGINE-SHIPPED classpath resource (`src/main/resources/ooh`),
    * extracted once per JVM to a self-cleaning scratch file so the file
    * source can read it on any checkout/deployment (a hardcoded build-tree
    * path broke everywhere but the original workspace — the same
    * portability fix as the PPM fixtures).
    */
  lazy val fixturePath: String = {
    val dir = graft.util.TmpDirs.scratch("graft_ooh_fixture_")
    val name = "xml-compilation.xml"
    val in = getClass.getResourceAsStream(s"/ooh/$name")
    require(in != null, s"classpath resource /ooh/$name missing from the graft jar")
    try java.nio.file.Files.copy(in, dir.resolve(name)) finally in.close()
    dir.resolve(name).toString
  }
}
