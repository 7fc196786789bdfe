package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, lit}

import graft.pipeline.OohPipeline

/** End-to-end goldens over the FIXTURES.md §A fixture: full record for the
  * happy case, the Military Careers partial row, and the D2 filter result.
  */
class OohPipelineSpec extends SparkSpec {

  private lazy val occ =
    OohPipeline.occupations(OohPipeline.read(spark, OohPipeline.fixturePath)).cache()

  private def rowFor(title: String): Row =
    occ.where(occ("title") === title).head()

  test("fixture scans into 8 occupation rows (S1/S2)") {
    assert(occ.count() == 8)
    assert(occ.columns.length == 21) // 20 record fields + warnings
  }

  test("happy case: the full 20-column golden record (D1)") {
    val r = rowFor("Data Engineers")
    assert(r.getAs[String]("workSchedules") == "Most work full time.")
    assert(r.getAs[Map[String, String]]("importantQualities") == Map(
      "Analytical skills" -> "They reason about data.",
      "Very long quality name over 26 chars" -> "Sentence body."))
    assert(r.getAs[String]("description") == "Build pipelines.")
    assert(r.getAs[Double]("medianPayAnnual") == 104000.0)
    assert(r.getAs[Double]("medianPayHourly") == 50.0)
    assert(r.getAs[String]("education") == "Bachelor's degree")
    assert(r.getAs[String]("workExperience") == "None")
    assert(r.getAs[String]("training") == "None")
    assert(r.getAs[String]("numberOfJobs") == "168,000") // stays string, index.js:156
    assert(r.getAs[String]("employmentOutlook") == "Much faster than average")
    assert(r.getAs[String]("employmentOutlookCode") == "7")
    assert(r.getAs[String]("projectedChangeInNumberOfJobs") == "12,000")
    assert(r.getAs[String]("whatTheyDo") == "One paragraph.")
    assert(r.getAs[String]("howToBecomeOne") == "Another.")
    assert(r.getAs[String]("workEnvironment") == "Offices.")
    assert(r.getAs[String]("payText") ==
      "The median annual wage for data engineers was $104,000 in May 2023." +
      "The median hourly wage for junior data engineers was $35.50 in May 2023.")
    assert(r.getAs[Map[String, Double]]("pay") ==
      Map("data engineers" -> 50.0, "junior data engineers" -> 35.5))
    assert(r.getAs[collection.Seq[String]]("similarOccupations") == Seq("Database Administrators"))
    assert(r.getAs[Map[String, String]]("topIndustries") == Map("Tech" -> "45", "Finance" -> "20"))
    assert(r.getAs[collection.Seq[String]]("warnings") == Seq.empty)
  }

  test("Military Careers guard keeps only title/workSchedules/importantQualities (P11)") {
    val r = rowFor("Military Careers")
    assert(r.getAs[String]("workSchedules") == "Deployments vary.")
    assert(r.getAs[Map[String, String]]("importantQualities") ==
      Map("Discipline" -> "They follow orders."))
    for (f <- Seq("description", "medianPayAnnual", "medianPayHourly", "education",
        "workExperience", "training", "numberOfJobs", "employmentOutlook",
        "employmentOutlookCode", "projectedChangeInNumberOfJobs", "whatTheyDo",
        "howToBecomeOne", "workEnvironment", "payText", "pay",
        "similarOccupations", "topIndustries", "warnings"))
      assert(r.isNullAt(r.fieldIndex(f)), s"expected null $f on the Military row")
  }

  test("multi-match case concatenates and records a cardinality warning (P3)") {
    val r = rowFor("Statisticians")
    assert(r.getAs[String]("whatTheyDo") == "First part.Second part.")
    assert(r.getAs[collection.Seq[String]]("warnings") == Seq("summary_what_they_do"))
  }

  test("missing headers yield null workSchedules / importantQualities (P8/P9)") {
    val r = rowFor("Mystery Workers")
    assert(r.isNullAt(r.fieldIndex("workSchedules")))
    assert(r.isNullAt(r.fieldIndex("importantQualities")))
  }

  test("odd td count pairs the trailing industry with null (P7 divergence)") {
    val r = rowFor("Surveyors")
    assert(r.getAs[Map[String, String]]("topIndustries") ==
      Map("Engineering" -> "71", "Government" -> null))
  }

  test("D2 filter: >26-char quality key, boundary exact, null-safe") {
    val kept = OohPipeline.qualityFilter(occ).select("title")
      .collect().map(_.getString(0)).toSet
    // 26-char key excluded (Boundary kept only via its 27-char key);
    // Mystery Workers' null map dropped without throwing.
    assert(kept == Set("Data Engineers", "Boundary Testers", "Archivists"))
  }

  test("report projection matches the reference's printed fields (S5)") {
    val rep = OohPipeline.run(spark, OohPipeline.fixturePath)
    assert(rep.columns.toSeq ==
      Seq("title", "medianPayAnnual", "employmentOutlookCode", "importantQualities"))
    val de = rep.where(rep("title") === "Data Engineers").head()
    assert(de.getAs[Double]("medianPayAnnual") == 104000.0)
    assert(de.getAs[String]("employmentOutlookCode") == "7")
  }

  test("typed Dataset[Occupation] surface round-trips the schema") {
    val ds = OohPipeline.occupationsDs(OohPipeline.read(spark, OohPipeline.fixturePath))
    val de = ds.collect().find(_.title == "Data Engineers").get
    assert(de.pay.get == Map("data engineers" -> 50.0, "junior data engineers" -> 35.5))
    assert(ds.collect().find(_.title == "Military Careers").get.description.isEmpty)
  }

  // ---- the templates behind occupations and report -------------------------

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getString(0))

  /** The fixture with every title but Military Careers renamed and the
    * occupations in reverse order.
    */
  private lazy val secondFile: String = {
    val xml = new String(Files.readAllBytes(Paths.get(OohPipeline.fixturePath)), UTF_8)
    val body = "(?s)<occupation>.*?</occupation>".r.findAllIn(xml).toSeq.reverse
      .map(_.replaceAll("(?<!Military Careers)</title>", " II</title>"))
    val f = graft.util.TmpDirs.scratch("graft_ooh_second_").resolve("second.xml")
    Files.write(f, body.mkString("<compilation>\n", "\n", "\n</compilation>\n").getBytes(UTF_8))
    f.toString
  }

  private def read(path: String = OohPipeline.fixturePath): DataFrame =
    OohPipeline.read(spark, path)

  /** Empties the session's cache, which the prepared path needs, and
    * builds both templates (a report template needs a prepared input).
    */
  private def warm(): Unit = {
    spark.catalog.clearCache()
    OohPipeline.occupations(read())
    OohPipeline.report(OohPipeline.occupations(read()))
  }

  /** Collects `df`; true when that ran no optimizer, i.e. `df` is prepared. */
  private def prepared(df: DataFrame): Boolean = {
    df.collect()
    !df.queryExecution.tracker.phases.contains("optimization")
  }

  test("template: rows and schema match the definition analyzed directly, on two files") {
    warm()
    for (path <- Seq(OohPipeline.fixturePath, secondFile)) {
      val raw = read(path)
      val got = OohPipeline.occupations(raw)
      val want = OohPipeline.definition(raw)
      assert(prepared(got), path)
      assert(got.schema == want.schema)
      assert(got.queryExecution.optimizedPlan.sameResult(want.queryExecution.optimizedPlan), path)
      assert(rows(got) == rows(want), path)
      assert(rows(got).length == 8)
      val rep = OohPipeline.report(got)
      val wantRep = OohPipeline.reportDefinition(want)
      assert(prepared(rep), path)
      assert(rep.schema == wantRep.schema)
      assert(rep.queryExecution.optimizedPlan.sameResult(wantRep.queryExecution.optimizedPlan), path)
      assert(rows(rep) == rows(wantRep), path)
      assert(rows(rep).length == 3)
    }
    assert(rows(OohPipeline.occupations(read(secondFile)))
      .map(_.getString(0)).contains("Data Engineers II"))
  }

  test("template: a second call is not analyzed again") {
    warm()
    val template = OohPipeline.templates.get(spark)
    for (df <- Seq(OohPipeline.occupations(read()),
        OohPipeline.report(OohPipeline.occupations(read())))) {
      val qe = df.queryExecution
      assert(qe.analyzed eq qe.logical)
      df.collect()
      val phases = qe.tracker.phases
      assert(!phases.contains("optimization"), phases)
      assert(phases.contains("planning"), phases)
    }
    assert(OohPipeline.templates.get(spark) eq template, "the template was built again")
  }

  test("template: a cached raw still reads through InMemoryRelation") {
    warm()
    val raw = read()
    // prepared before the cache, run after it
    val early = OohPipeline.occupations(raw)
    val earlyReport = OohPipeline.report(OohPipeline.occupations(raw))
    raw.cache()
    try {
      val occ = OohPipeline.occupations(raw)
      for (df <- Seq(occ, OohPipeline.report(occ), early, earlyReport)) {
        assert(!prepared(df))
        assert(df.queryExecution.optimizedPlan.collectFirst { case r: InMemoryRelation => r }
          .isDefined, df.queryExecution.optimizedPlan)
      }
      assert(rows(occ) == rows(OohPipeline.definition(read())))
      assert(rows(early) == rows(occ))
    } finally raw.unpersist(blocking = true)
  }

  test("template: two occupations frames self-join on title") {
    warm()
    val a = OohPipeline.occupations(read())
    val b = OohPipeline.occupations(read())
    assert(prepared(a) && prepared(b))
    assert(a.join(b, "title").count() == 8)
    assert(a.join(b, a("medianPayAnnual") <=> b("medianPayAnnual") && a("title") === b("title"))
      .count() == 8)
    val raw = read()
    val (c, d) = (OohPipeline.occupations(raw), OohPipeline.occupations(raw))
    assert(prepared(c) && prepared(d))
    assert(c.join(d, "title").count() == 8)
    val (r1, r2) = (OohPipeline.report(c), OohPipeline.report(d))
    assert(prepared(r1) && prepared(r2))
    assert(r1.join(r2, "title").count() == 3)
  }

  test("template: a conf flip builds a new template (spark.sql.ansi.enabled)") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    def plans(): (LogicalPlan, LogicalPlan) = {
      val raw = read()
      OohPipeline.occupations(raw)
      val got = OohPipeline.occupations(raw)
      val want = OohPipeline.definition(raw)
      assert(prepared(got))
      assert(got.queryExecution.optimizedPlan.sameResult(want.queryExecution.optimizedPlan))
      (got.queryExecution.analyzed.canonicalized, want.queryExecution.analyzed.canonicalized)
    }
    warm()
    val record = OohPipeline.templates.get(spark)
    val (asIs, asIsDirect) = plans()
    assert(asIs == asIsDirect)
    spark.conf.set(key, (!before.toBoolean).toString)
    try {
      val (flipped, flippedDirect) = plans()
      assert(flipped == flippedDirect)
      assert(flipped != asIs, "the ANSI flip did not change the analyzed plan")
      assert(!(OohPipeline.templates.get(spark) eq record), "the ANSI flip kept the record")
    } finally spark.conf.set(key, before)
    assert(plans()._1 == asIs)
  }

  test("template: a raw frame with another schema still gives correct rows") {
    warm()
    val raw = read()
    val wider = raw.select((lit(1).as("extra") +: raw.columns.reverse.toSeq.map(raw(_))): _*)
    val got = OohPipeline.occupations(wider)
    assert(rows(got) == rows(OohPipeline.definition(wider)))
    assert(rows(got) == rows(OohPipeline.occupations(raw)))
  }

  test("template: other inputs take the standard path with correct rows") {
    warm()
    val record = OohPipeline.templates.get(spark)
    val want = rows(OohPipeline.definition(read()))
    // a projection over the scan: the analyzed template, not the optimized one
    val raw = read()
    val projected = OohPipeline.occupations(raw.select(raw.columns.toSeq.map(raw(_)): _*))
    assert(!prepared(projected))
    assert(rows(projected) == want)
    assert(OohPipeline.templates.get(spark) eq record)
    // an XML read with other options: a record of its own
    val other = spark.read.format("xml").option("rowTag", "occupation")
      .option("mode", "PERMISSIVE").schema(OohPipeline.rawSchema).load(OohPipeline.fixturePath)
    val occ = OohPipeline.occupations(other)
    assert(!prepared(occ))
    assert(rows(occ) == want)
    assert(!(OohPipeline.templates.get(spark) eq record))
    // a report over anything but the bare prepared projection
    warm()
    val filtered = OohPipeline.occupations(read())
      .filter(col("title") =!= "Data Engineers")
    val rep = OohPipeline.report(filtered)
    assert(!prepared(rep))
    assert(rows(rep).map(_.getString(0)) == Seq("Archivists", "Boundary Testers"))
  }

  test("template: stopping a session drops its entry") {
    // a stopped SparkContext cannot be shared with the other specs: the
    // check runs in its own JVM
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ MultiJvmHarness.addOpens ++
      Seq("-Xmx1g", "-Dspark.ui.enabled=false", "-cp", System.getProperty("java.class.path"),
        "graft.OohTemplateStopCheck")
    val log = java.io.File.createTempFile("graft_ooh_stop_", ".log")
    log.deleteOnExit()
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    assert(proc.waitFor(5, java.util.concurrent.TimeUnit.MINUTES), "check did not finish")
    val out = new String(Files.readAllBytes(log.toPath), UTF_8)
    assert(proc.exitValue() == 0 && out.contains("template dropped"), out.takeRight(2000))
  }
}

/** Run by [[OohPipelineSpec]] in its own JVM: a stopped session's template
  * entry is gone after the next session's first call.
  */
object OohTemplateStopCheck {
  def main(args: Array[String]): Unit = {
    def occupations(s: SparkSession): Long =
      OohPipeline.occupations(OohPipeline.read(s, OohPipeline.fixturePath)).count()
    val first = GraftSession.create("ooh-template-stop-1", cores = 1)
    occupations(first)
    OohPipeline.report(OohPipeline.occupations(OohPipeline.read(first, OohPipeline.fixturePath)))
      .collect()
    OohPipeline.report(OohPipeline.occupations(OohPipeline.read(first, OohPipeline.fixturePath)))
      .collect()
    val record = OohPipeline.templates.get(first)
    require(record != null, "no template for a live session")
    require(record.occupations.optimized.isDefined && record.report.optimized.isDefined,
      "the live session's record holds no optimized plans")
    first.stop()
    val second = GraftSession.create("ooh-template-stop-2", cores = 1)
    try {
      occupations(second)
      require(!OohPipeline.templates.containsKey(first), "the stopped session's template is kept")
      require(OohPipeline.templates.size == 1, s"${OohPipeline.templates.size} templates")
    } finally second.stop()
    println("template dropped")
  }
}
