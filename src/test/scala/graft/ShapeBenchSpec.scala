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

  test("the reference replay's steps 2 and 4 equal the library's builders") {
    // the replay states the reference's latest-month join (step 2) and its
    // three aggregates and two joins (step 4) itself; the library's
    // one-aggregation builders must give the same schema and rows
    import graft.pipeline.Silver
    import graft.queries.MedallionQueries
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted
    val bureau = MedallionQueries.bureau(spark, sf001)
    val balance = MedallionQueries.bureauBalance(spark, sf001)
    val prev = MedallionQueries.previousApps(spark, sf001)
    Seq(
      "step 2" -> (Silver.bureauSummaryUnfiltered(ShapeBench.referenceBureauWithLatest(bureau, balance))
        .where("SK_ID_CURR IS NOT NULL"),
        Silver.bureauSummary(bureau, balance)),
      "step 4" -> (ShapeBench.referencePreviousApplications(prev),
        Silver.previousApplications(prev, None))
    ).foreach { case (step, (ref, lib)) =>
      assert(ref.schema.map(f => f.name -> f.dataType) == lib.schema.map(f => f.name -> f.dataType), step)
      val refRows = rows(ref)
      assert(refRows.nonEmpty, step)
      assert(refRows == rows(lib), step)
    }
  }

  test("graft-shape gold outputs equal the q60/q61 registered queries") {
    // both shapes' written Gold tables, read back, against what q60/q61
    // compute in memory: row for row, column for column
    import org.apache.spark.sql.functions.col
    import graft.pipeline.Medallion
    def canon(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      cols.mkString(",") +:
        df.select(cols.map(col): _*).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    }
    val want = Seq("q60_medallion_profile", "q61_medallion_portfolio")
      .map(q => canon(SparkEntry.queries(q)(spark, sf001)))
    assert(want.forall(_.size > 1))
    val date = ShapeBench.Date
    def gold(dir: String): Seq[Seq[String]] = Seq("gold_client_risk_profile", "gold_portfolio_risk")
      .map(t => canon(Medallion.readPartition(spark, dir, t, date)))

    val lib = java.nio.file.Files.createTempDirectory("graft_shape_check").toString
    Medallion.runBatch(graft.queries.MedallionQueries.sources(spark, sf001), lib, lib, date,
      graft.queries.MedallionQueries.statuses)
    assert(gold(lib) == want)
    val ref = java.nio.file.Files.createTempDirectory("graft_shape_ref").toString
    ShapeBench.referenceShapeAt(spark, sf001, ref)
    assert(gold(ref) == want)
  }
}
