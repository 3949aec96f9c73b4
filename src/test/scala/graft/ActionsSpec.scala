package graft

import org.apache.spark.sql.functions._

import graft.ops.{Sampling, Similarity}
import graft.pipeline.Medallion
import graft.sources.{Sinks, Tables}

/** Sampling/preview/export actions, sinks, catalog registration, IVF ANN. */
class ActionsSpec extends SparkSpec {

  test("bernoulliSample is seed-stable and fraction-plausible") {
    val df = Tables.orders(spark, sf001)
    val a = Sampling.bernoulliSample(df, 0.2).select("o_orderkey").collect().map(_.getLong(0)).toSet
    val b = Sampling.bernoulliSample(df, 0.2).select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(a == b, "same seed must give the same sample")
    val n = df.count()
    assert(a.size > n * 0.08 && a.size < n * 0.35, s"sample size ${a.size} of $n implausible")
  }

  test("preview and exportRows cap driver-side data") {
    val p = Sampling.preview(Tables.customer(spark, sf001), n = 3)
    assert(p.rowCount == 150 && p.rows.size == 3)
    assert(p.schemaDdl.contains("c_custkey"))
    val (header, it) = Sampling.exportRows(Tables.customer(spark, sf001), maxRows = 10)
    assert(header.head == "c_custkey")
    assert(it.size == 10)
  }

  test("csv sink round-trips with header") {
    val dir = java.nio.file.Files.createTempDirectory("csv_sink").toString + "/out"
    Sinks.csv(Tables.region(spark, sf001), dir)
    val back = Tables.csv(spark, dir)
    assert(back.count() == 5)
    assert(back.columns.toSeq == Seq("r_regionkey", "r_name"))
  }

  test("path-encoded partition sink (S7) lands in the partition directory") {
    val base = java.nio.file.Files.createTempDirectory("s7").toString
    Sinks.parquetIntoPartitionDir(Tables.region(spark, sf001), base, "region",
      "ingest_date" -> "2026-08-12")
    val back = spark.read.parquet(s"$base/region/ingest_date=2026-08-12")
    assert(back.count() == 5)
  }

  test("dynamic partition overwrite rewrites ONLY the touched partitions") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dyn").toString + "/t"
    // initial load: two partitions
    Sinks.parquetOverwriteDynamic(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p"), base, Seq("p"))
    // re-ingest partition a ONLY, with different content
    Sinks.parquetOverwriteDynamic(
      Seq((9L, "a")).toDF("id", "p"), base, Seq("p"))
    val back = spark.read.parquet(base)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // partition b SURVIVES; partition a holds only the new batch.
    // (static overwrite mode would have wiped b with the table root)
    assert(back == Set((9L, "a"), (3L, "b")), s"got $back")
  }

  test("catalog registration (S9) enables name-based SQL") {
    val base = java.nio.file.Files.createTempDirectory("cat").toString
    Sinks.parquet(Tables.nation(spark, sf001), s"$base/nation")
    Medallion.registerTable(spark, "silver_db", "nation_ext", s"$base/nation")
    val n = spark.sql("SELECT count(*) AS n FROM silver_db.nation_ext").head().getLong(0)
    assert(n == 25)
  }

  test("ivfTopK finds identical-vector neighbors and stays a subset of correct cosines") {
    val emb = Tables.embeddings(spark, sf001)
    val q = emb.filter(col("vec_id") < 3)
    // corpus includes the query vectors → top-1 must be the identical row
    val out = Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 1,
      nCentroids = 8, nProbe = 2).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "top-1 must be the identical vector")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6)
    }
  }

  test("portableStratifiedSample is repartition-stable with exact edge fractions") {
    import graft.ops.Sampling
    val events = graft.sources.Tables.events(spark, sf001)
    val fracs = Map("click" -> 0.5, "error" -> 1.0, "view" -> 0.0)
    val sampled = Sampling.portableStratifiedSample(events, "event_type", "event_id", fracs)
    val got = sampled.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = events.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.getOrElse("error", 0L) == base("error"), "frac 1.0 must keep every row")
    assert(!got.contains("view"), "frac 0.0 must keep none")
    val unlisted = base.keySet -- fracs.keySet
    assert(unlisted.nonEmpty && (got.keySet & unlisted).isEmpty, "a stratum missing from the map drops out")
    assert(math.abs(got("click").toDouble / base("click") - 0.5) < 0.1)
    // the kept ID SET (not just counts) survives repartitioning
    val again = Sampling.portableStratifiedSample(
      events.repartition(7), "event_type", "event_id", fracs)
    assert(again.select("event_id").exceptAll(sampled.select("event_id")).count() == 0)
    assert(again.count() == sampled.count())
  }

  test("capPerGroup equals the window top-n and is partition-layout-stable") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Sampling
    val docs = graft.sources.Tables.documents(spark, sf001)
    val got = Sampling.capPerGroup(docs, "source", "doc_id",
        col("n_chars").cast("double"), n = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id").asc)
    val expect = docs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("source", "doc_id", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty)
    // heap merge order must not affect the kept set
    val again = Sampling.capPerGroup(docs.repartition(7), "source", "doc_id",
        col("n_chars").cast("double"), n = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == got)
  }

  test("hexThreshold maps fractions onto the md5 hex space monotonically") {
    import graft.ops.Sampling
    assert(Sampling.hexThreshold(0.0) == "0" * 32)
    assert(Sampling.hexThreshold(1.0) == "g")
    assert(Sampling.hexThreshold(0.5).startsWith("8"))
    assert(Sampling.hexThreshold(0.5).length == 32)
    assert(Sampling.hexThreshold(0.25) < Sampling.hexThreshold(0.75))
  }

  test("xlsx export writes a valid workbook with typed cells") {
    import spark.implicits._
    val df = Seq(
      (1L, "a & <b>", 1.5, true),
      (2L, "plain", -0.25, false)
    ).toDF("id", "name", "score", "flag")
    val path = java.nio.file.Files.createTempDirectory("graft_xlsx").toString + "/out.xlsx"
    graft.sources.XlsxExport.write(df, path, maxRows = 10)

    val zf = new java.util.zip.ZipFile(path)
    try {
      val names = {
        val e = zf.entries(); val b = Seq.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result()
      }
      assert(names.toSet == Set("[Content_Types].xml", "_rels/.rels",
        "xl/workbook.xml", "xl/_rels/workbook.xml.rels", "xl/worksheets/sheet1.xml"))
      // sheet must be well-formed XML with escaped strings and typed numbers
      val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder().parse(zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")))
      assert(doc.getElementsByTagName("c").getLength == 12) // 4 header + 2 rows x 4
      val xml = {
        val in = zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml"))
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
      assert(xml.contains("a &amp; &lt;b&gt;"))
      assert(xml.contains("""t="n"><v>1.5</v>"""))
      assert(xml.contains("""t="b"><v>1</v>"""))
    } finally zf.close()
  }

  test("CSV quarantine split: pinned PERMISSIVE semantics, disjoint-complete") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_q").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      "1,GOOD,10.5\n2,SHORT\n3,BAD,oops\n4,LONG,7.25,extra\n5,ok,0.125\n"
        .getBytes("UTF-8"))
    val parsed = graft.sources.CsvQuarantine.read(spark, dir,
      "id BIGINT, status STRING, price DOUBLE")
    val (good, bad) = graft.sources.CsvQuarantine.split(parsed)
    // quarantine counts: 3 malformed classes, 2 clean rows
    assert(good.count() == 2L && bad.count() == 3L)
    assert(!good.columns.contains("_corrupt_record"))
    // pinned semantics: parsed prefix survives on malformed rows
    val byId = bad.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getString(1) == "SHORT" && byId(2L).isNullAt(2))
    assert(byId(3L).isNullAt(2) && byId(3L).getString(3) == "3,BAD,oops")
    assert(byId(4L).getDouble(2) == 7.25) // extra token dropped, rest kept
    // disjoint-complete: union of the split equals the parse
    assert(good.count() + bad.count() == parsed.count())
  }
  test("stratifiedSplit: exact integer quotas per stratum, deterministic, no float") {
    import spark.implicits._
    // strata of awkward sizes: 7, 10, 1 — quotas must be exactly
    // floor(n*cum/10) differences: 7 -> (5,1,1); 10 -> (8,1,1); 1 -> (0,0,1)
    val df = ((1 to 7).map(i => ("a", i.toLong)) ++
      (1 to 10).map(i => ("b", 100L + i)) ++ Seq(("c", 999L)))
      .toDF("lang", "doc_id")
    val out = Sampling.stratifiedSplit(df, "lang", "doc_id",
      Seq("train" -> 8L, "val" -> 1L, "test" -> 1L))
    val counts = out.groupBy("lang", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts.getOrElse(("a", "train"), 0L) == 5L)  // floor(7*8/10)=5
    assert(counts.getOrElse(("a", "val"), 0L) == 1L)    // floor(7*9/10)-5=1
    assert(counts.getOrElse(("a", "test"), 0L) == 1L)
    assert(counts.getOrElse(("b", "train"), 0L) == 8L)
    assert(counts.getOrElse(("b", "val"), 0L) == 1L)
    assert(counts.getOrElse(("b", "test"), 0L) == 1L)
    // a 1-row stratum lands in the LAST split (rank*10 > 9*1)
    assert(counts.getOrElse(("c", "test"), 0L) == 1L)
    assert(!counts.contains(("c", "train")) && !counts.contains(("c", "val")))
    // deterministic: same assignment on a re-run
    val again = Sampling.stratifiedSplit(df, "lang", "doc_id",
      Seq("train" -> 8L, "val" -> 1L, "test" -> 1L))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    val first = out.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(again == first)
  }

}
