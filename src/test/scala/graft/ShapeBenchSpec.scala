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
