package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.ops.{Serving, SetOps, Validation}
import graft.pipeline.{Bronze, Gold, Medallion, Silver}
import graft.pipeline.Medallion.PartitionDate
import graft.queries.MedallionQueries
import graft.sources.{Sinks, Tables}

/** Where a workload reads and writes. `fixture` holds the seeded source
  * tables, `oracle` the DuckDB answers computed over them.
  */
final case class Env(spark: SparkSession, tracer: Tracer, fixture: String,
                     oracle: String, work: String, seed: Long, cores: Int)

/** One closed-loop workload. `setup` is timed and repeated (the last
  * call's outputs feed the ops); `prepare` computes expected answers
  * untimed; `op` is the timed operation; `check` compares its output
  * with the expected answer, untimed, and returns why it is wrong. The
  * first `warmOps` ops warm the JVM and Spark's caches: checked and
  * counted, never timed.
  */
abstract class Workload(val env: Env) {
  protected def spark: SparkSession = env.spark
  protected def tracer: Tracer = env.tracer

  def setup(dir: String): Unit
  def prepare(): Unit
  /** Op label (request kind or query name). */
  def kind(i: Int): String
  /** Share of each op kind in the workload: the weights of the per-kind
    * medians in the reported op time.
    */
  def mix: Map[String, Int]
  def warmOps: Int
  def beforeOp(i: Int): Unit = ()
  def op(i: Int): Any
  def check(i: Int, out: Any): Option[String]
  /** Extra per-op figures for the record. */
  def detail(out: Any): Map[String, Any] = Map.empty

  private val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Pipeline step durations (ms) of the last op; recorded traced or not. */
  def takeSteps(): Map[String, Double] = { val s = steps.toMap; steps.clear(); s }

  protected def step[T](name: String)(body: => T): T = {
    val t = tracer.span("step", name)(body)
    steps(name) = t.ms
    t.value
  }
  protected def build[T](body: => T): T = tracer.timed("build", "build")(body)
  protected def action[T](body: => T): T = tracer.timed("action", "action")(body)

  protected def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }
}

object Workload {
  val Date: PartitionDate = PartitionDate(2026, 1, 31)
  val IngestDate = "2026-01-31"
  val DerbyProps: Map[String, String] = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  def apply(name: String, env: Env): Workload = name match {
    case n if n.startsWith("medallion") => new MedallionBatch(env)
    case n if n.startsWith("serving") => new ServingRequests(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def derbyUrl(dir: String): String = s"jdbc:derby:$dir/derby;create=true"

  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** Bronze CSV + JDBC ingest → four Silver tables → two Gold tables →
  * JDBC datamart, one full batch per op (the library shape of the
  * reference pipeline).
  */
final class MedallionBatch(env: Env) extends Workload(env) {
  import Workload._

  private val csvSources: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "application_test" -> MedallionQueries.test,
    "bureau" -> MedallionQueries.bureau,
    "bureau_balance" -> MedallionQueries.bureauBalance,
    "installments_payments" -> MedallionQueries.installments,
    "previous_application" -> MedallionQueries.previousApps)

  private var src = ""
  private var schemas = Map.empty[String, StructType]
  private var expectProfile: Either[String, String] = Left("unset")
  private var expectPortfolio: Either[String, String] = Left("unset")
  private def batchDir = s"${env.work}/batch"

  def setup(dir: String): Unit = {
    csvSources.foreach { case (t, f) => Sinks.csv(f(spark, env.fixture), s"$dir/csv/$t") }
    Sinks.jdbcOverwrite(MedallionQueries.train(spark, env.fixture), derbyUrl(dir),
      "APPLICATION_TRAIN", "", "", numPartitions = env.cores, props = DerbyProps)
    src = dir
  }

  def prepare(): Unit = {
    schemas = csvSources.map { case (t, f) => t -> f(spark, env.fixture).schema }.toMap
    val q = SparkEntry.queries
    expectProfile = Canon.ofOracle(spark, s"${env.oracle}/q60_medallion_profile.parquet",
      q("q60_medallion_profile")(spark, env.fixture).schema)
    expectPortfolio = Canon.ofOracle(spark, s"${env.oracle}/q61_medallion_portfolio.parquet",
      q("q61_medallion_portfolio")(spark, env.fixture).schema)
  }

  def kind(i: Int): String = "batch"
  def mix: Map[String, Int] = Map("batch" -> 1)
  def warmOps: Int = 1
  override def beforeOp(i: Int): Unit = deleteTree(batchDir)

  private final case class Out(sourceRows: Long, validation: Observation,
                               profile: Observation, portfolio: Observation)

  def op(i: Int): Any = {
    val (bronze, silver, gold) = (s"$batchDir/bronze", s"$batchDir/silver", s"$batchDir/gold")
    val url = derbyUrl(src)
    val csvRows = step("bronze.csv_ingest") {
      csvSources.map { case (t, _) =>
        Bronze.ingestCsv(spark, s"$src/csv/$t", bronze, t, IngestDate, "csv", Some(schemas(t)))
          .rowsWritten
      }.sum
    }
    val jdbcRows = step("bronze.jdbc_ingest") {
      Bronze.ingestFrame(Tables.jdbc(spark, url, "APPLICATION_TRAIN", DerbyProps),
        bronze, "application_train", IngestDate, "jdbc").rowsWritten
    }
    def bronzeTable(t: String): DataFrame =
      Bronze.readIngestDate(spark, bronze, t, IngestDate).drop("ingest_date", "source_system")
    def persistAndWrite(df: DataFrame, table: String): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      action { Medallion.writePartitioned(p, silver, table, Date) }
      p
    }

    val (app, validation) = step("silver.client_application") {
      val (valid, obs) = build {
        Validation.validateObserved(Silver.normalizeApplication(SetOps.unionByNameTolerant(
          bronzeTable("application_train"), bronzeTable("application_test"))),
          Silver.clientApplicationRules)
      }
      (persistAndWrite(valid, "silver_client_application"), obs)
    }
    val bureau = step("silver.bureau_summary") {
      persistAndWrite(build(Silver.bureauSummary(bronzeTable("bureau"), bronzeTable("bureau_balance"))),
        "silver_bureau_summary")
    }
    val payment = step("silver.payment_behavior") {
      persistAndWrite(build(Silver.paymentBehavior(bronzeTable("installments_payments"))),
        "silver_payment_behavior")
    }
    val previous = step("silver.previous_applications") {
      persistAndWrite(build(Silver.previousApplications(bronzeTable("previous_application"),
        Some(MedallionQueries.statuses))), "silver_previous_applications")
    }
    val (profile, profileObs) = step("gold.client_risk_profile") {
      val p = build(Gold.clientRiskProfile(app, bureau, payment, previous)
        .persist(StorageLevel.MEMORY_AND_DISK))
      val (observed, obs) = Canon.observe(p, s"profile$i")
      action { Medallion.writePartitioned(observed, gold, "gold_client_risk_profile", Date) }
      (p, obs)
    }
    val (portfolio, portfolioObs) = step("gold.portfolio_risk") {
      val p = build(Gold.portfolioRisk(profile).persist(StorageLevel.MEMORY_AND_DISK))
      val (observed, obs) = Canon.observe(p, s"portfolio$i")
      action { Medallion.writePartitioned(observed, gold, "gold_portfolio_risk", Date) }
      (p, obs)
    }
    step("gold.datamart_jdbc") {
      Sinks.jdbcOverwrite(profile, url, "GOLD_CLIENT_RISK_PROFILE", "", "",
        numPartitions = env.cores, props = DerbyProps)
      Sinks.jdbcOverwrite(portfolio, url, "GOLD_PORTFOLIO_RISK", "", "",
        numPartitions = 1, props = DerbyProps)
    }
    Seq(app, bureau, payment, previous, profile, portfolio).foreach(_.unpersist(false))
    Out(csvRows + jdbcRows, validation, profileObs, portfolioObs)
  }

  /** Source rows ingested and Silver rows kept ÷ rows validated. */
  override def detail(out: Any): Map[String, Any] = out match {
    case Out(rows, v, _, _) =>
      val m = v.get
      Map("source_rows" -> rows,
        "keep_ratio" -> m("passed_rows").toString.toDouble / m("total_rows").toString.toDouble)
    case _ => Map.empty
  }

  def check(i: Int, out: Any): Option[String] = out match {
    case Out(_, _, p, q) =>
      expectProfile.fold(e => Some(s"q60 oracle: $e"), want => mismatch("gold_client_risk_profile", Canon.of(p), want))
        .orElse(expectPortfolio.fold(e => Some(s"q61 oracle: $e"), want => mismatch("gold_portfolio_risk", Canon.of(q), want)))
    case other => Some(s"unexpected op output $other")
  }
}

/** Dashboard requests against the Gold and Silver tables: a fixed 4:3:2:1
  * mix of client point lookups, ordered pages within a risk segment,
  * null-tolerant range filters with a count, and portfolio reads. The
  * seed fixes the order of the mix and every key and page.
  */
final class ServingRequests(env: Env) extends Workload(env) {
  import Workload._

  private val Deck = Vector.fill(4)("lookup") ++ Vector.fill(3)("page") ++
    Vector.fill(2)("range") ++ Vector("portfolio")
  private val PageSize = 20
  private var base = ""
  private var profiles = Vector.empty[Row]
  private var byKey = Map.empty[Long, Row]
  private var bySegment = Map.empty[String, Vector[Row]]
  private var annuities = Vector.empty[Option[Double]]
  private var portfolio = Vector.empty[Row]

  def setup(dir: String): Unit = {
    val fx = env.fixture
    val app = Silver.clientApplication(MedallionQueries.train(spark, fx), MedallionQueries.test(spark, fx))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val profile = Gold.clientRiskProfile(app,
      Silver.bureauSummary(MedallionQueries.bureau(spark, fx), MedallionQueries.bureauBalance(spark, fx)),
      Silver.paymentBehavior(MedallionQueries.installments(spark, fx)),
      Silver.previousApplications(MedallionQueries.previousApps(spark, fx), Some(MedallionQueries.statuses)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    Medallion.writePartitioned(app, dir, "silver_client_application", Date)
    Medallion.writePartitioned(profile, dir, "gold_client_risk_profile", Date)
    Medallion.writePartitioned(Gold.portfolioRisk(profile), dir, "gold_portfolio_risk", Date)
    Seq(app, profile).foreach(_.unpersist(false))
    base = dir
  }

  private def table(t: String): DataFrame = Medallion.readPartition(spark, base, t, Date)

  def prepare(): Unit = {
    profiles = table("gold_client_risk_profile").collect().toVector
      .sortBy(_.getAs[Long]("SK_ID_CURR"))
    byKey = profiles.map(r => r.getAs[Long]("SK_ID_CURR") -> r).toMap
    bySegment = profiles.groupBy(_.getAs[String]("risk_segment"))
    annuities = table("silver_client_application").select("AMT_ANNUITY").collect().toVector
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    portfolio = table("gold_portfolio_risk").collect().toVector
      .sortBy(_.getAs[String]("risk_segment"))
  }

  private def rng(i: Int, salt: Int): Random = new Random(env.seed * 1000003L + i * 31L + salt)

  def kind(i: Int): String = rng(i / Deck.size, 1).shuffle(Deck).apply(i % Deck.size)
  def mix: Map[String, Int] = Deck.groupBy(identity).map { case (k, v) => k -> v.size }
  def warmOps: Int = Deck.size

  private final case class Lookup(key: Long, rows: Array[Row])
  private final case class Page(seg: String, offset: Int, rows: Array[Row])
  private final case class Range(lo: Double, hi: Double, n: Long)
  private final case class Portfolio(rows: Array[Row])

  def op(i: Int): Any = {
    val r = rng(i, 2)
    kind(i) match {
      case "lookup" =>
        val key = profiles(r.nextInt(profiles.size)).getAs[Long]("SK_ID_CURR")
        val df = build(Serving.pointLookup(table("gold_client_risk_profile"), "SK_ID_CURR", key))
        Lookup(key, action(df.collect()))
      case "page" =>
        val segs = bySegment.keys.toVector.sorted
        val seg = segs(r.nextInt(segs.size))
        val offset = r.nextInt((bySegment(seg).size + PageSize - 1) / PageSize) * PageSize
        val df = build(Serving.paginate(
          table("gold_client_risk_profile").filter(col("risk_segment") === seg),
          Seq(col("SK_ID_CURR")), offset, PageSize))
        Page(seg, offset, action(df.collect()))
      case "range" =>
        val lo = 100.0 * r.nextInt(30)
        val hi = lo + 100.0 * (1 + r.nextInt(30))
        val df = build(Serving.rangeFilterNullTolerant(table("silver_client_application"),
          Seq(("AMT_ANNUITY", Some(lo), Some(hi)))))
        Range(lo, hi, action(df.count()))
      case _ =>
        val df = build(Serving.paginate(table("gold_portfolio_risk"),
          Seq(col("risk_segment")), 0, PageSize))
        Portfolio(action(df.collect()))
    }
  }

  def check(i: Int, out: Any): Option[String] = out match {
    case Lookup(key, rows) => mismatch(s"lookup $key", rows.toSeq, Seq(byKey(key)))
    case Page(seg, offset, rows) =>
      mismatch(s"page $seg@$offset", rows.toSeq, bySegment(seg).slice(offset, offset + PageSize))
    case Range(lo, hi, n) =>
      mismatch(s"range [$lo, $hi]", n, annuities.count(a => a.forall(v => v >= lo && v <= hi)).toLong)
    case Portfolio(rows) =>
      // the segment sizes are derived independently, from the profiles
      mismatch("portfolio", rows.toSeq, portfolio.take(PageSize)).orElse(mismatch("portfolio sizes",
        rows.map(r => r.getAs[String]("risk_segment") -> r.getAs[Long]("client_count")).toMap,
        bySegment.map { case (seg, rs) => seg -> rs.size.toLong }))
    case other => Some(s"unexpected op output $other")
  }
}
