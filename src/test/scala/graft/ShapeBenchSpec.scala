package graft

import org.apache.spark.sql.DataFrame

/** The shape benchmark is only meaningful if both shapes compute the SAME
  * answer — this pins that: reference-literal job structure and library
  * job structure produce identical Gold outputs on the sf0.001 fixtures.
  */
class ShapeBenchSpec extends SparkSpec {

  test("reference shape and graft shape produce identical gold outputs") {
    val ref = ShapeBench.referenceShape(spark, sf001)
    val ours = ShapeBench.graftShape(spark, sf001)
    assert(ref.profileRows == ours.profileRows)
    assert(ref.portfolioRows == ours.portfolioRows)
    assert(ref.profileRows > 0 && ref.portfolioRows > 0)
  }

  test("the reference replay's step 4 equals the library's dynamic-pivot builder") {
    // the replay states the reference's three aggregates and two joins
    // itself; the library's one-pass builder must give the same rows
    val prev = graft.queries.MedallionQueries.previousApps(spark, sf001)
    val ref = ShapeBench.referencePreviousApplications(prev)
    val lib = graft.pipeline.Silver.previousApplications(prev, None)
    assert(ref.schema.map(f => f.name -> f.dataType) == lib.schema.map(f => f.name -> f.dataType))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted
    val refRows = rows(ref)
    assert(refRows.nonEmpty)
    assert(refRows == rows(lib))
  }

  test("graft-shape gold outputs equal the q60/q61 registered queries") {
    // the shape bench writes what q60/q61 compute — same frames, different sink
    import org.apache.spark.sql.functions.col
    val q60 = SparkEntry.queries("q60_medallion_profile")(spark, sf001)
    val q61 = SparkEntry.queries("q61_medallion_portfolio")(spark, sf001)

    def canon(df: DataFrame): Set[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    }

    val out = java.nio.file.Files.createTempDirectory("graft_shape_check").toString
    val unioned = graft.ops.SetOps.unionByNameTolerant(
      graft.queries.MedallionQueries.train(spark, sf001),
      graft.queries.MedallionQueries.test(spark, sf001))
    val validApp = graft.ops.Validation.validate(
      graft.pipeline.Silver.normalizeApplication(unioned),
      graft.pipeline.Silver.clientApplicationRules)
    val profile = graft.pipeline.Gold.clientRiskProfile(
      validApp,
      graft.pipeline.Silver.bureauSummary(
        graft.queries.MedallionQueries.bureau(spark, sf001),
        graft.queries.MedallionQueries.bureauBalance(spark, sf001)),
      graft.pipeline.Silver.paymentBehavior(
        graft.queries.MedallionQueries.installments(spark, sf001)),
      graft.pipeline.Silver.previousApplications(
        graft.queries.MedallionQueries.previousApps(spark, sf001),
        Some(graft.queries.MedallionQueries.statuses)))
    assert(canon(profile) == canon(q60))
    assert(canon(graft.pipeline.Gold.portfolioRisk(profile)) == canon(q61))
  }
}
