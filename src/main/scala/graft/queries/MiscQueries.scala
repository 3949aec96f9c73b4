package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.Tables
import graft.ops.Aggregations.exactSumSql

/** Remaining surface: percentiles, JSON extraction (the `events.props`
  * column), intersect/except set ops.
  */
object MiscQueries {

  val all: Seq[QueryDef] = Seq(

    // Exact (sort-based) continuous percentiles. Spark `percentile` and
    // DuckDB `quantile_cont` share the linear-interpolation definition;
    // the final multiply-add rounding differs in the last ulp, hence
    // round(6) on both sides.
    QueryDef("q38_percentiles",
      (s, d) => Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price")),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
             |  round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // Gini impurity of the status mix per priority — the diversity
    // metric a profiler reports where entropy would need ln (libm
    // drift). Stated in INTEGER arithmetic until the last step:
    // per-class counts, then Σn², then one double division — exact
    // regardless of aggregation order, so the hash compare holds.
    QueryDef("q123_gini_impurity",
      (s, d) => {
        val counts = Tables.orders(s, d)
          .groupBy(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).alias("n"))
        counts.groupBy(col("o_orderpriority"))
          .agg(sum(col("n") * col("n")).alias("sumsq"), sum(col("n")).alias("total"))
          .select(col("o_orderpriority"),
            col("total"),
            round(lit(1.0) - col("sumsq").cast("double") /
              (col("total") * col("total")), 6).alias("gini"))
      },
      Some("""WITH c AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
             |          FROM orders GROUP BY 1, 2)
             |SELECT o_orderpriority,
             |  CAST(SUM(n) AS BIGINT) AS total,
             |  round(1.0 - CAST(SUM(n * n) AS DOUBLE) /
             |    (CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT)), 6) AS gini
             |FROM c GROUP BY o_orderpriority""".stripMargin)),

    // Approximate percentiles (GK sketch via approx_percentile) — the
    // single-pass mergeable path next to q38's exact sort-based one
    // (the q36/q37 pairing applied to quantiles). Engine-specific
    // estimate → rows-only; the rank-error bound is pinned at sf0.1 in
    // ApproxBoundsSpec.
    QueryDef("q119_approx_percentiles",
      (s, d) => Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("p50_price"),
          expr("approx_percentile(l_extendedprice, 0.99, 1000)").alias("p99_price")),
      None),

    // JSON extraction from the props column: row-level typed value +
    // per-type rollup of the extracted ints.
    QueryDef("q39_json_extract",
      (s, d) => Tables.events(s, d)
        .withColumn("k_value", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).alias("n_events"),
          sum(col("k_value")).alias("total_k"),
          max(col("k_value")).alias("max_k")),
      Some("""SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
             |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type""".stripMargin)),

    // TYPED nested-JSON ingestion — the other half of q39's scalar hops:
    // a nested document (struct-in-struct + typed array) is parsed ONCE
    // with from_json(schema) and flattened via dot access + posexplode,
    // the semi-structured ingestion path a JSON-lines corpus needs at
    // scale (one parse per row, then columnar; never N get_json_object
    // re-parses). The JSON itself is synthesized identically in both
    // engines from event columns; the oracle re-extracts with DuckDB's
    // json functions + a typed BIGINT[] cast and unnests with ordinality.
    QueryDef("q231_json_flatten",
      (s, d) => {
        val js = concat(
          lit("{\"meta\":{\"uid\":"), col("user_id").cast("string"),
          lit(",\"type\":\""), col("event_type"),
          lit("\"},\"k\":"), get_json_object(col("props"), "$.k"),
          lit(",\"vals\":["), (col("event_id") % 7).cast("string"),
          lit(","), (col("event_id") % 11).cast("string"),
          lit(","), (col("event_id") % 13).cast("string"), lit("]}"))
        val schema = "meta STRUCT<uid: BIGINT, type: STRING>, k BIGINT, vals ARRAY<BIGINT>"
        Tables.events(s, d)
          .select(col("event_id"),
            from_json(js, org.apache.spark.sql.types.StructType.fromDDL(schema))
              .alias("p"))
          .select(col("event_id"),
            col("p.meta.uid").alias("uid"),
            col("p.meta.type").alias("etype"),
            col("p.k").alias("k"),
            posexplode(col("p.vals")).as(Seq("pos", "val")))
      },
      Some("""WITH j AS (SELECT event_id,
             |  '{"meta":{"uid":' || CAST(user_id AS VARCHAR) ||
             |  ',"type":"' || event_type ||
             |  '"},"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) ||
             |  ',"vals":[' || CAST(event_id % 7 AS VARCHAR) ||
             |  ',' || CAST(event_id % 11 AS VARCHAR) ||
             |  ',' || CAST(event_id % 13 AS VARCHAR) || ']}' AS js
             |  FROM events),
             |p AS (SELECT event_id,
             |  CAST(json_extract(js, '$.meta.uid') AS BIGINT) AS uid,
             |  json_extract_string(js, '$.meta.type') AS etype,
             |  CAST(json_extract(js, '$.k') AS BIGINT) AS k,
             |  CAST(json_extract(js, '$.vals') AS BIGINT[]) AS vals
             |  FROM j)
             |SELECT event_id, uid, etype, k,
             |  CAST(u.i AS INTEGER) AS pos, vals[u.i + 1] AS val
             |FROM p, unnest(range(len(vals))) AS u(i)""".stripMargin)),

    // Error-TOLERANT ingestion (q231's failure half): a seventh of the
    // rows carry truncated JSON; PERMISSIVE from_json with a
    // columnNameOfCorruptRecord captures the raw malformed text in-band
    // (fields null, pipeline keeps flowing) instead of failing the job —
    // how a 100 TB ingest survives the bad records every real corpus
    // has. Oracle states the same contract with json_valid guards.
    QueryDef("q235_json_malformed",
      (s, d) => {
        val good = concat(lit("{\"uid\":"), col("user_id").cast("string"),
          lit(",\"k\":"), get_json_object(col("props"), "$.k"), lit("}"))
        val js = when(col("event_id") % 7 === 0, substring(good, 1, 9))
          .otherwise(good)
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "uid BIGINT, k BIGINT, _corrupt_record STRING")
        Tables.events(s, d)
          .select(col("event_id"), from_json(js, schema,
            Map("columnNameOfCorruptRecord" -> "_corrupt_record")).alias("p"))
          .select(col("event_id"),
            col("p.uid").alias("uid"), col("p.k").alias("k"),
            col("p._corrupt_record").alias("corrupt_raw"),
            col("p._corrupt_record").isNotNull.alias("is_corrupt"))
      },
      Some("""WITH j AS (SELECT event_id,
             |  CASE WHEN event_id % 7 = 0
             |    THEN substr('{"uid":' || CAST(user_id AS VARCHAR) ||
             |           ',"k":' || CAST(json_extract(props, '$.k') AS VARCHAR)
             |           || '}', 1, 9)
             |    ELSE '{"uid":' || CAST(user_id AS VARCHAR) ||
             |           ',"k":' || CAST(json_extract(props, '$.k') AS VARCHAR)
             |           || '}' END AS js
             |  FROM events)
             |SELECT event_id,
             |  CASE WHEN json_valid(js)
             |    THEN CAST(json_extract(js, '$.uid') AS BIGINT) END AS uid,
             |  CASE WHEN json_valid(js)
             |    THEN CAST(json_extract(js, '$.k') AS BIGINT) END AS k,
             |  CASE WHEN NOT json_valid(js) THEN js END AS corrupt_raw,
             |  NOT json_valid(js) AS is_corrupt
             |FROM j""".stripMargin)),

    // CSV malformed-record ingestion (round-11 verdict #3 — q235's twin
    // for the reference's ACTUAL ingest path, spark/bronze/feeder_csv.py):
    // a CSV fixture with three planted malformation classes (truncated
    // row, type-failing field, extra field) read back PERMISSIVE with
    // columnNameOfCorruptRecord. The oracle reads the SAME files via
    // read_text and restates Spark's pinned PERMISSIVE contract as a
    // string split: parsed prefix kept, failing field null, raw line
    // captured in-band. The oracle reads the files of the sf it is
    // verified at (`__TARGET__` and `__SF_NAME__`, like q72); the write is
    // parallel, the read is one parse per line.
    QueryDef("q239_csv_malformed",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val out = s"${Fixtures.targetDir}/graft_csv_bad/$sfName/orders"
        val good = concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(12,2)").cast("string"))
        val line = when(col("o_orderkey") % 7 === 0,
            concat_ws(",", col("o_orderkey"), col("o_orderstatus")))
          .when(col("o_orderkey") % 11 === 0,
            concat_ws(",", col("o_orderkey"), col("o_orderstatus"), lit("oops")))
          .when(col("o_orderkey") % 13 === 0, concat(good, lit(",extra")))
          .otherwise(good)
        Tables.orders(s, d).select(line.alias("value"))
          .write.mode("overwrite").text(out)
        graft.sources.CsvQuarantine.read(s, out,
          "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"),
            col("_corrupt_record").alias("corrupt_raw"),
            col("_corrupt_record").isNotNull.alias("is_corrupt"))
      },
      Some("""WITH raw AS (
             |  SELECT unnest(string_split(content, chr(10))) AS line
             |  FROM read_text('__TARGET__/graft_csv_bad/__SF_NAME__/orders/part-*.txt')),
             |t AS (SELECT line, string_split(line, ',') AS toks
             |      FROM raw WHERE line <> ''),
             |j AS (SELECT line, toks,
             |  (len(toks) <> 3 OR TRY_CAST(toks[3] AS DOUBLE) IS NULL)
             |    AS bad FROM t)
             |SELECT TRY_CAST(toks[1] AS BIGINT) AS o_orderkey,
             |  toks[2] AS o_orderstatus,
             |  TRY_CAST(toks[3] AS DOUBLE) AS o_totalprice,
             |  CASE WHEN bad THEN line END AS corrupt_raw,
             |  bad AS is_corrupt
             |FROM j""".stripMargin)),

    // Single-pass dataset profiling (long/string columns only: double→
    // string casts format differently across engines in scientific-
    // notation ranges).
    QueryDef("q47_profile_customer",
      (s, d) => graft.ops.Profiling.profile(Tables.customer(s, d),
        Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey")),
      Some(Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey").map { c =>
        s"""SELECT '$c' AS "column",
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
           |  COUNT(DISTINCT $c) AS distinct_count,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value
           |FROM customer""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    // Transitive near-dup resolution: MinHash pairs → connected components
    // → min-id keeper per cluster (engine-internal hashing → rows-only;
    // cluster semantics pinned in ProfilingSpec).
    QueryDef("q48_neardup_clusters",
      (s, d) => graft.ops.Dedup.resolveNearDupClusters(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.5),
      None),

    // INTERSECT: customers holding both finished and open orders.
    QueryDef("q45_intersect",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey").alias("customer_id"))
          .intersect(
            o.filter(col("o_orderstatus") === "O").select(col("o_custkey").alias("customer_id")))
      },
      Some("""SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'F'
             |INTERSECT
             |SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'O'""".stripMargin)),

    // CSV round-trip (SURVEY §2.1 S1, reference spark/bronze/feeder_csv.py:95-100):
    // the orders fixture is written to CSV (header, explicit timestamp
    // format) then read back with header + inferSchema — the DuckDB oracle
    // reads the SAME files via read_csv_auto, so quoting, header, type
    // inference and timestamp parsing are pinned against an independent
    // CSV reader, not just a Spark-to-Spark round trip. Both sides cast
    // to one explicit type set: Spark infers INT where DuckDB infers
    // BIGINT, so uncasted schemas can never hash-compare. The write lands
    // under target/ keyed by sf name, and the oracle path names the
    // same dir through the `__TARGET__` and `__SF_NAME__` tokens Verify
    // substitutes, so runs at different sfs never read each other's
    // files. The write is PARALLEL — the oracle globs *.csv, so funneling
    // the table through one task (coalesce(1)) would buy nothing and
    // serialize the whole write at scale.
    QueryDef("q72_csv_roundtrip",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val out = s"${Fixtures.targetDir}/graft_csv/$sfName/orders"
        Tables.orders(s, d).write.mode("overwrite")
          .option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .csv(out)
        Tables.csv(s, out).select(
          col("o_orderkey").cast("long").alias("o_orderkey"),
          col("o_custkey").cast("long").alias("o_custkey"),
          col("o_orderstatus").cast("string").alias("o_orderstatus"),
          col("o_totalprice").cast("double").alias("o_totalprice"),
          col("o_orderdate").cast("timestamp").alias("o_orderdate"),
          col("o_orderpriority").cast("string").alias("o_orderpriority"))
      },
      Some("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
             |  CAST(o_custkey AS BIGINT) AS o_custkey,
             |  CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
             |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
             |  CAST(o_orderpriority AS VARCHAR) AS o_orderpriority
             |FROM read_csv_auto('__TARGET__/graft_csv/__SF_NAME__/orders/*.csv', header=true)""".stripMargin)),

    // Partitioned-Parquet round-trip (SURVEY §2.1 S4/S6, reference
    // spark/silver/processor.py:179-188 + gold/processor.py:117-130): the
    // orders fixture is written hive-partitioned on year=/month= (derived
    // from o_orderdate — multiple real partitions, unlike the reference's
    // single literal load date) and read back through a partition FILTER,
    // so directory layout, partition-value encoding and pruning semantics
    // are all pinned by DuckDB reading the same files with
    // hive_partitioning — the q72 trick for the partitioned sink/scan.
    // Partition columns come back as inferred ints on both engines; the
    // explicit BIGINT cast on both sides makes the schemas comparable.
    // PlanSpec pins that the filter lands in PartitionFilters (pruned
    // listing), not a post-scan Filter.
    QueryDef("q73_partitioned_roundtrip",
      (s, d) => {
        val out = Fixtures.partPath(d, "orders")
        Tables.orders(s, d)
          .withColumn("year", year(col("o_orderdate")))
          .withColumn("month", month(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("year", "month").parquet(out)
        Tables.parquet(s, out)
          .where(col("year") === 1995 && col("month") >= 7)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("year").cast("long").alias("year"),
            col("month").cast("long").alias("month"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |  CAST(year AS BIGINT) AS year, CAST(month AS BIGINT) AS month
             |FROM parquet_scan('__TARGET__/graft_part/__SF_NAME__/orders/**/*.parquet',
             |                  hive_partitioning=true)
             |WHERE year = 1995 AND month >= 7""".stripMargin)),

    // Path-encoded partition sink round-trip (SURVEY §2.1 S7, reference
    // spark/bronze/feeder_postgres.py:94-105: the partition value is baked
    // into the PATH, not written via partitionBy): write customers into
    // `.../ingest_date=2026-08-12`, read the TABLE ROOT back so the
    // directory name surfaces as a partition column, and oracle via DuckDB
    // hive_partitioning over the same files — pinning that the path
    // encoding produces a real, readable hive layout.
    QueryDef("q79_path_partition_roundtrip",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val base = s"${Fixtures.targetDir}/graft_pathpart/$sfName"
        graft.sources.Sinks.parquetIntoPartitionDir(
          Tables.customer(s, d), base, "customer", ("ingest_date", "2026-08-12"))
        Tables.parquet(s, s"$base/customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("ingest_date").cast("string").alias("ingest_date"))
      },
      Some("""SELECT c_custkey, c_name, c_acctbal,
             |  CAST(ingest_date AS VARCHAR) AS ingest_date
             |FROM parquet_scan('__TARGET__/graft_pathpart/__SF_NAME__/customer/**/*.parquet',
             |                  hive_partitioning=true)""".stripMargin)),

    // JSONL round-trip: the documents corpus written as JSON lines (the
    // LLM-training-data interchange format) and read back with an
    // EXPLICIT schema, oracled by DuckDB's independent JSON reader over
    // the same files — quoting/escaping of real document text (unicode,
    // newlines, quotes) is pinned across two engines' JSON codecs.
    // Parallel write; oracle globs *.json like q72.
    QueryDef("q81_jsonl_roundtrip",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val out = s"${Fixtures.targetDir}/graft_jsonl/$sfName/documents"
        Tables.documents(s, d).write.mode("overwrite").json(out)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", LongType),
          org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars", LongType)))
        Tables.jsonl(s, out, Some(schema))
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM read_json_auto('__TARGET__/graft_jsonl/__SF_NAME__/documents/*.json',
             |                    format='newline_delimited')""".stripMargin)),

    // ORC round-trip: the orders fixture written to ORC (Spark's native
    // second columnar format) and read back through the ORC scan. The
    // oracle is the SOURCE parquet table — hash equality proves the ORC
    // write+read preserved every row and type (long/string/double/
    // timestamp) through a different columnar codec. Parallel write, no
    // coalesce; the read keeps full pushdown/pruning freedom.
    QueryDef("q82_orc_roundtrip",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val out = s"${Fixtures.targetDir}/graft_orc/$sfName/orders"
        Tables.orders(s, d).write.mode("overwrite").orc(out)
        Tables.orc(s, out).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
             |  o_totalprice, o_orderdate, o_orderpriority
             |FROM orders""".stripMargin)),

    // Live JDBC round-trip as a DRIVER query (SURVEY §2.1 S2+S8,
    // reference gold/processor.py:284-313 write + bronze/feeder_postgres
    // read): the orders fixture is written to an embedded Derby database
    // (drop+recreate overwrite, 2 connections) and read back through the
    // JDBC source. The oracle is simply the source table — hash equality
    // proves the write+read pipeline preserved every row and type
    // through a real SQL database's storage and JDBC type mapping.
    QueryDef("q80_jdbc_roundtrip",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val url = s"jdbc:derby:${Fixtures.targetDir}/graft_derby_q80/$sfName;create=true"
        val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
        // bounded: the gate pins write+read correctness through a real SQL
        // database; a single-node embedded DB is not a throughput surface,
        // so larger SFs round-trip the same 15k rows instead of scaling
        val src = Tables.orders(s, d).filter(col("o_orderkey") < 15000).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
        graft.sources.Sinks.jdbcOverwrite(src, url, "orders_rt", "app", "pw",
          numPartitions = 2, props = props)
        Tables.jdbc(s, url, "orders_rt", props + ("user" -> "app", "password" -> "pw"))
          .select(col("o_orderkey").cast("long").alias("o_orderkey"),
            col("o_custkey").cast("long").alias("o_custkey"),
            col("o_orderstatus").cast("string").alias("o_orderstatus"),
            col("o_totalprice").cast("double").alias("o_totalprice"),
            col("o_orderdate").cast("timestamp").alias("o_orderdate"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
             |FROM orders WHERE o_orderkey < 15000""".stripMargin)),

    // Portable stratified mixture sample (O2's oracle-exact companion —
    // the q71/q74 pattern applied to sampling): the keep decision is an
    // md5-threshold draw any engine reproduces bit-for-bit, so the
    // sampled ROW SET itself is hash-verified against DuckDB computing
    // the same mixture independently. Heavier sources at 0.6, tail at
    // 0.2 — the reproducible-corpus-mixture primitive at 100 TB (zero
    // shuffle, stable across repartitioning).
    QueryDef("q90_mixture_sample",
      (s, d) => {
        val fracs = (0 until 20).map(i => s"src$i" -> (if (i < 10) 0.6 else 0.2)).toMap
        graft.ops.Sampling.portableStratifiedSample(
          Tables.documents(s, d), "source", "doc_id", fracs)
          .select(col("doc_id"), col("source"))
      },
      Some {
        val t06 = graft.ops.Sampling.hexThreshold(0.6)
        val t02 = graft.ops.Sampling.hexThreshold(0.2)
        val heavy = (0 until 10).map(i => s"'src$i'").mkString(", ")
        val tail = (10 until 20).map(i => s"'src$i'").mkString(", ")
        s"""SELECT doc_id, source FROM documents
           |WHERE (source IN ($heavy)
           |       AND md5(CAST(doc_id AS VARCHAR) || ':42') < '$t06')
           |   OR (source IN ($tail)
           |       AND md5(CAST(doc_id AS VARCHAR) || ':42') < '$t02')""".stripMargin
      }),

    // Token-budget mixture (q90's companion for TOKEN-denominated
    // mixing, how training-set recipes are actually stated): within each
    // source, docs are drawn in portable md5 order until the source's
    // token budget fills. Per-source window prefix sum — parallel across
    // sources, no global ordering; the same draw is reproducible on any
    // engine, so the selected rows hash-verify.
    QueryDef("q111_token_budget_mixture",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source"))
          .orderBy(col("__key"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d).select(
            col("doc_id"), col("source"),
            size(graft.functions.TextFunctions.tokens(col("text")))
              .cast(LongType).alias("n_tokens"),
            md5(concat(col("doc_id").cast("string"), lit(":mix"))).alias("__key"))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .filter(col("cum_tokens") <= 800)
          .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              |  CAST(len(${graft.functions.TextFunctions.tokensSql}) AS BIGINT) AS n_tokens,
              |  md5(CAST(doc_id AS VARCHAR) || ':mix') AS k FROM documents),
              |c AS (SELECT doc_id, source, n_tokens,
              |  CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              |  FROM t)
              |SELECT doc_id, source, n_tokens, cum_tokens FROM c
              |WHERE cum_tokens <= 800""".stripMargin)),

    // Temperature-weighted mixture (α = 0.5): source draw fractions
    // proportional to src_tokens^α — up-weights small sources, the
    // Pile/GPT-3 mixing recipe. sqrt is the one correctly-rounded power
    // (general pow has libm drift), the normalizer accumulates in
    // decimal, and the draw is a portable integer hash, so the fractions
    // — and therefore the drawn row set — are bit-identical across
    // engines.
    QueryDef("q117_temperature_mixture",
      (s, d) => {
        val nTokC = size(graft.functions.TextFunctions.tokens(col("text"))).cast(LongType)
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), nTokC.alias("n_tokens"))
        val stats = docs.groupBy(col("source"))
          .agg(sum(col("n_tokens")).alias("src_tokens"))
        val z = stats.agg(
          graft.ops.Aggregations.exactSum(sqrt(col("src_tokens"))).alias("z"))
        val fr = stats.crossJoin(broadcast(z))
          .select(col("source"),
            least(lit(1.0),
              lit(10000.0) * (sqrt(col("src_tokens")) / col("z")) / col("src_tokens"))
              .alias("frac"))
        docs.join(broadcast(fr), Seq("source"))
          .filter(((col("doc_id") * 2654435761L) % 1000000007L).cast("double") <
            col("frac") * 1000000007.0)
          .select(col("doc_id"), col("source"), col("n_tokens"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              |  CAST(len(${graft.functions.TextFunctions.tokensSql}) AS BIGINT) AS n_tokens
              |  FROM documents),
              |s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
              |      FROM t GROUP BY source),
              |z AS (SELECT ${exactSumSql("sqrt(src_tokens)")} AS z FROM s),
              |f AS (SELECT source,
              |        least(1.0, 10000.0 * (sqrt(src_tokens) / z.z) / src_tokens) AS frac
              |      FROM s, z)
              |SELECT t.doc_id, t.source, t.n_tokens
              |FROM t JOIN f USING (source)
              |WHERE CAST((t.doc_id * 2654435761) % 1000000007 AS DOUBLE) <
              |      f.frac * 1000000007.0""".stripMargin)),

    // Equal-width histogram (the data-profiling companion to q47/q38):
    // 20 buckets spanning [min, max], bucket edges derived from the same
    // 1-row min/max frame both engines compute — floor arithmetic on
    // identical IEEE doubles, so the bucketing is bit-reproducible.
    QueryDef("q116_histogram",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_extendedprice").alias("v"))
        val mm = li.agg(min(col("v")).alias("lo"), max(col("v")).alias("hi"))
        li.crossJoin(broadcast(mm))
          .select(least(floor((col("v") - col("lo")) / ((col("hi") - col("lo")) / 20.0)),
            lit(19.0)).cast(LongType).alias("bucket"),
            col("v"), col("lo"), col("hi"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).alias("n"),
            round(first(col("lo")) + col("bucket") * ((first(col("hi")) - first(col("lo"))) / 20.0), 6)
              .alias("bucket_lo"))
      },
      Some("""WITH mm AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
             |            FROM lineitem),
             |b AS (SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 20.0)),
             |        19.0) AS BIGINT) AS bucket, lo, hi
             |      FROM lineitem, mm)
             |SELECT bucket, COUNT(*) AS n,
             |  round(min(lo) + bucket * ((min(hi) - min(lo)) / 20.0), 6) AS bucket_lo
             |FROM b GROUP BY bucket""".stripMargin)),

    // INTERSECT ALL / EXCEPT ALL — the MULTISET variants (q45/q46 are
    // the distinct set forms): duplicates survive with min/difference
    // multiplicity. Customer ids repeat per order, so the two semantics
    // genuinely diverge on this data.
    QueryDef("q105_multiset_ops",
      (s, d) => {
        val o = Tables.orders(s, d)
        val f = o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").alias("customer_id"))
        val open = o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").alias("customer_id"))
        f.intersectAll(open).withColumn("op", lit("both"))
          .unionByName(f.exceptAll(open).withColumn("op", lit("only_f")))
      },
      Some("""WITH f AS (SELECT o_custkey AS customer_id FROM orders
             |           WHERE o_orderstatus = 'F'),
             |o AS (SELECT o_custkey AS customer_id FROM orders
             |      WHERE o_orderstatus = 'O')
             |SELECT customer_id, 'both' AS op FROM (
             |  SELECT customer_id FROM f INTERSECT ALL SELECT customer_id FROM o)
             |UNION ALL
             |SELECT customer_id, 'only_f' AS op FROM (
             |  SELECT customer_id FROM f EXCEPT ALL SELECT customer_id FROM o)""".stripMargin)),

    // EXCEPT: customers with finished orders but no open ones.
    QueryDef("q46_except",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey").alias("customer_id"))
          .except(
            o.filter(col("o_orderstatus") === "O").select(col("o_custkey").alias("customer_id")))
      },
      Some("""SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'F'
             |EXCEPT
             |SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'O'""".stripMargin)),

    // Epoch upsampling mix — the weight-ABOVE-1 half of recipe mixing
    // (q90/q117 are the ≤1 half): heavy sources repeat 2.3× (2 full
    // passes + an md5-drawn 0.3 pass), tail sources contribute a 0.7
    // fractional pass. Zero shuffle — one narrow explode + a map-side
    // filter — and the draw is portable md5 keyed by (doc, pass), so the
    // REPLICATED row set itself hash-verifies against DuckDB computing
    // the same mixture independently. Thresholds come from the shared
    // hexThreshold on the BINARY value of the fraction (2.3 − 2 is
    // 0x1.333…p-2, not 0.3), so both engines cut the md5 space at the
    // identical 128-bit point.
    QueryDef("q133_epoch_upsample_mix",
      (s, d) => {
        val weights = (0 until 20).map(i => s"src$i" -> (if (i < 5) 2.3 else 0.7)).toMap
        graft.ops.Mixing.mixCorpora(
            Tables.documents(s, d), "source", "doc_id", weights)
          .select(col("doc_id"), col("source"), col("pass"))
      },
      Some {
        val tHeavy = graft.ops.Sampling.hexThreshold(2.3 - 2)
        val tTail = graft.ops.Sampling.hexThreshold(0.7)
        val heavy = (0 until 5).map(i => s"'src$i'").mkString(", ")
        val tail = (5 until 20).map(i => s"'src$i'").mkString(", ")
        s"""WITH p AS (SELECT pass FROM range(0, 3) t(pass)),
           |draw AS (SELECT d.doc_id, d.source, p.pass,
           |  md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(p.pass AS VARCHAR) || ':42') AS k
           |  FROM documents d CROSS JOIN p)
           |SELECT doc_id, source, pass FROM draw
           |WHERE (source IN ($heavy) AND (pass < 2 OR (pass = 2 AND k < '$tHeavy')))
           |   OR (source IN ($tail) AND pass = 0 AND k < '$tTail')""".stripMargin
      }),

    // Deterministic shard-and-order export — the training pipeline's
    // final "globally shuffle, then shard" step stated WITHOUT a global
    // sort: the shard is the first md5 nibble (16-way uniform), the
    // in-shard order is the remaining md5 string — one hash exchange on
    // the shard key and 16 independent in-partition sorts, so position
    // assignment parallelizes across the cluster instead of funneling
    // 100 TB through a single total-order sort. Draw and order are
    // portable md5, so every (doc, shard, position) triple hash-verifies
    // against DuckDB deriving the same permutation.
    QueryDef("q134_shard_shuffle_export",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = md5(concat(col("doc_id").cast("string"), lit(":shard:42")))
        Tables.documents(s, d).select(col("doc_id"), k.alias("__k"))
          .withColumn("shard",
            expr("locate(substring(__k, 1, 1), '0123456789abcdef') - 1")
              .cast(LongType))
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("shard")).orderBy(col("__k"), col("doc_id")))
            .cast(LongType))
          .select(col("doc_id"), col("shard"), col("pos"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |  md5(CAST(doc_id AS VARCHAR) || ':shard:42') AS k FROM documents),
             |s AS (SELECT doc_id, k,
             |  CAST(strpos('0123456789abcdef', substr(k, 1, 1)) - 1 AS BIGINT) AS shard
             |  FROM t)
             |SELECT doc_id, shard,
             |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
             |FROM s""".stripMargin)),

    // Fuzzy record linkage: blocking + thresholded edit distance (the
    // entity-resolution candidate stage). Block key = (last name token,
    // brand) — composite deterministic blocking keeps blocks tiny (max 20
    // records at sf0.01) so the in-block quadratic never bites; oversized
    // blocks are dropped by the maxBlock skew guard, mirrored in the
    // oracle's window count. Spark runs the banded O(t·n) thresholded
    // levenshtein; the oracle states the full distance with a <= filter —
    // identical result set.
    QueryDef("q153_fuzzy_linkage",
      (s, d) => graft.ops.Linkage.fuzzyPairs(
        Tables.part(s, d), "p_partkey", "p_name",
        blockCols = Seq(element_at(split(col("p_name"), " "), -1), col("p_brand")),
        maxDist = 3, maxBlock = 1000),
      Some("""WITH b AS (
             |  SELECT p_partkey, p_name, p_brand,
             |         string_split(p_name, ' ')[-1] AS blk,
             |         COUNT(*) OVER (PARTITION BY string_split(p_name, ' ')[-1], p_brand) AS bsz
             |  FROM part),
             |c AS (SELECT * FROM b WHERE bsz <= 1000)
             |SELECT a.p_partkey AS k1, a.p_name AS name1,
             |       b2.p_partkey AS k2, b2.p_name AS name2,
             |       CAST(levenshtein(a.p_name, b2.p_name) AS BIGINT) AS dist
             |FROM c a JOIN c b2
             |  ON a.blk = b2.blk AND a.p_brand = b2.p_brand
             | AND a.p_partkey < b2.p_partkey
             |WHERE levenshtein(a.p_name, b2.p_name) <= 3""".stripMargin)),

    // Entity resolution on top of q153's match graph: transitive closure
    // (A≈B, B≈C ⇒ one entity even when dist(A,C) exceeds the budget) via
    // the dedup family's pointer-doubling components; singletons keep
    // their own key. The oracle rebuilds the same closure as a recursive
    // CTE (q135's pattern), so the full per-record entity assignment
    // hash-verifies.
    QueryDef("q154_entity_resolution",
      (s, d) => graft.ops.Linkage.resolveEntities(
        Tables.part(s, d), "p_partkey", "p_name",
        blockCols = Seq(element_at(split(col("p_name"), " "), -1), col("p_brand")),
        maxDist = 3, maxBlock = 1000),
      Some("""WITH RECURSIVE b AS (
             |  SELECT p_partkey, p_name, p_brand,
             |         string_split(p_name, ' ')[-1] AS blk,
             |         COUNT(*) OVER (PARTITION BY string_split(p_name, ' ')[-1], p_brand) AS bsz
             |  FROM part),
             |c AS (SELECT * FROM b WHERE bsz <= 1000),
             |pairs AS (
             |  SELECT a.p_partkey AS id_a, b2.p_partkey AS id_b
             |  FROM c a JOIN c b2
             |    ON a.blk = b2.blk AND a.p_brand = b2.p_brand
             |   AND a.p_partkey < b2.p_partkey
             |  WHERE levenshtein(a.p_name, b2.p_name) <= 3),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION
             |  SELECT id_b AS src, id_a AS dst FROM pairs),
             |cc AS (
             |  SELECT src AS id, src AS comp FROM edges
             |  UNION
             |  SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.src),
             |lab AS (SELECT id, min(comp) AS entity_id FROM cc GROUP BY id)
             |SELECT p.p_partkey, coalesce(l.entity_id, p.p_partkey) AS entity_id
             |FROM (SELECT DISTINCT p_partkey FROM part) p
             |LEFT JOIN lab l ON p.p_partkey = l.id""".stripMargin)),

    // Batch MERGE / upsert with audit actions — the dimension-maintenance
    // primitive (SCD Type-1): a deterministic change batch (updates =
    // custkey%7=3 with +100 balance; inserts = shifted new keys) replaces/
    // extends the customer dimension. The target NEVER shuffles: broadcast
    // anti join keeps untouched rows, a second map-side semi pass learns
    // which batch keys existed ('updated' vs 'inserted'). The full-outer-
    // join MERGE would shuffle all 100 TB of the dimension instead.
    QueryDef("q157_merge_upsert",
      (s, d) => {
        val cust = Tables.customer(s, d)
        graft.ops.Joins.upsertWithAction(cust, customerChangeBatch(cust), Seq("c_custkey"))
      },
      Some(s"""WITH $customerChangeBatchSql
             |SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal,
             |       t.c_mktsegment, 'kept' AS action
             |FROM customer t
             |WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.c_custkey = t.c_custkey)
             |UNION ALL
             |SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal,
             |       b.c_mktsegment,
             |  CASE WHEN EXISTS (SELECT 1 FROM customer t
             |                    WHERE t.c_custkey = b.c_custkey)
             |       THEN 'updated' ELSE 'inserted' END AS action
             |FROM batch b""".stripMargin)),

    // Snapshot diff — the inverse of q157: given the customer dimension
    // and its post-merge next version, derive the change-data feed
    // (added/removed/changed; unchanged keys omitted). Null-safe
    // column-wise compare; the diff recovers exactly the merge's updates
    // ('changed') and inserts ('added'). Both sides are full snapshots,
    // so the full-outer join's shuffle is structural — the 100 TB answer
    // is key-bucketed snapshot layout (co-partitioned scans, no
    // exchange), not a different operator.
    QueryDef("q159_snapshot_diff",
      (s, d) => {
        val cust = Tables.customer(s, d)
        graft.ops.Joins.snapshotDiff(cust, mergedCustomer(s, d), Seq("c_custkey"))
      },
      Some(s"""WITH $mergedCustomerSql
             |SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
             |  CASE WHEN o.c_custkey IS NULL THEN 'added'
             |       WHEN n.c_custkey IS NULL THEN 'removed'
             |       WHEN (o.c_name IS DISTINCT FROM n.c_name)
             |         OR (o.c_nationkey IS DISTINCT FROM n.c_nationkey)
             |         OR (o.c_acctbal IS DISTINCT FROM n.c_acctbal)
             |         OR (o.c_mktsegment IS DISTINCT FROM n.c_mktsegment)
             |       THEN 'changed' END AS change
             |FROM customer o FULL OUTER JOIN new_snap n USING (c_custkey)
             |WHERE CASE WHEN o.c_custkey IS NULL THEN 'added'
             |       WHEN n.c_custkey IS NULL THEN 'removed'
             |       WHEN (o.c_name IS DISTINCT FROM n.c_name)
             |         OR (o.c_nationkey IS DISTINCT FROM n.c_nationkey)
             |         OR (o.c_acctbal IS DISTINCT FROM n.c_acctbal)
             |         OR (o.c_mktsegment IS DISTINCT FROM n.c_mktsegment)
             |       THEN 'changed' END IS NOT NULL""".stripMargin)),

    // Z-order (Morton) layout key over (customer, order-day) — the
    // multi-dimensional clustering key whose range-partitioned sorted
    // layout gives min/max zone pruning on BOTH dimensions (a single-
    // column sort prunes only itself). Pure shift/and/add bit algebra —
    // disjoint bits sum without carries — stated identically in both
    // engines, so every interleaved key hash-verifies.
    QueryDef("q160_zorder_key",
      (s, d) => {
        val x = pmod(col("o_custkey"), lit(65536L))
        val y = pmod(expr("unix_micros(o_orderdate) div 86400000000"), lit(65536L))
        Tables.orders(s, d).select(col("o_orderkey"),
          x.alias("cust_bucket"), y.alias("day_bucket"),
          graft.ops.Layout.zOrderKey(Seq(x, y), 16).alias("zval"))
      },
      Some {
        val x = "o_custkey % 65536"
        val y = "(epoch_us(o_orderdate) // 86400000000) % 65536"
        s"""SELECT o_orderkey, $x AS cust_bucket, $y AS day_bucket,
           |  ${graft.ops.Layout.zOrderSql(Seq(x, y), 16)} AS zval
           |FROM orders""".stripMargin
      }),

    // Equal-frequency binning (quantile cut) of the price column,
    // reported as a per-bin histogram. NOT ntile: a global ntile funnels
    // the total order through one task; here the 9 exact decile
    // boundaries come from one mergeable percentile aggregate, broadcast,
    // and bins assign map-side — zero data shuffle. Boundary ties go to
    // the lower bin on both engines (deterministic, unlike ntile's
    // arbitrary tie split).
    QueryDef("q161_equal_freq_binning",
      (s, d) => graft.ops.Profiling.binEqualFreq(
          Tables.lineitem(s, d).select(col("l_extendedprice")),
          "l_extendedprice", k = 10)
        .groupBy(col("bin"))
        .agg(count(lit(1)).alias("n"),
          round(min(col("l_extendedprice")), 6).alias("lo"),
          round(max(col("l_extendedprice")), 6).alias("hi")),
      Some("""WITH b AS (
             |  SELECT list_transform(
             |    quantile_cont(CAST(l_extendedprice AS DOUBLE),
             |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
             |    q -> round(q, 6)) AS bounds
             |  FROM lineitem),
             |a AS (
             |  SELECT l_extendedprice,
             |    CAST(1 + len(list_filter(b.bounds,
             |      x -> CAST(l_extendedprice AS DOUBLE) > x)) AS BIGINT) AS bin
             |  FROM lineitem, b)
             |SELECT bin, COUNT(*) AS n,
             |  round(MIN(l_extendedprice), 6) AS lo,
             |  round(MAX(l_extendedprice), 6) AS hi
             |FROM a GROUP BY bin""".stripMargin)),

    // Incremental aggregate maintenance (materialized-view delta merge):
    // the per-customer gold aggregate is kept as a mergeable state
    // (count, DECIMAL sum, min, max); a new fact batch (orders >= the
    // cutoff) merges into the history state by re-aggregating the two
    // state frames — no history rescan. The ORACLE is the one-shot
    // aggregate over ALL orders: hash equality proves merged-then-
    // finalized ≡ full scan bit-for-bit, which is exactly the mergeability
    // contract (double partials would drift at every merge; decimal
    // partials cannot).
    QueryDef("q162_incremental_agg_merge",
      (s, d) => {
        import graft.ops.Aggregations._
        val o = Tables.orders(s, d)
        val cutoff = lit("1999-01-01 00:00:00").cast("timestamp")
        val hist = aggState(o.filter(col("o_orderdate") < cutoff),
          Seq("o_custkey"), "o_totalprice")
        val batch = aggState(o.filter(col("o_orderdate") >= cutoff),
          Seq("o_custkey"), "o_totalprice")
        finalizeAggState(mergeAggStates(Seq(hist, batch), Seq("o_custkey")),
          Seq("o_custkey"))
      },
      Some(s"""SELECT o_custkey, COUNT(*) AS n,
             |  ${exactSumSql("o_totalprice")} AS total,
             |  ${exactSumSql("o_totalprice")} / COUNT(*) AS avg_v,
             |  MIN(o_totalprice) AS min_v,
             |  MAX(o_totalprice) AS max_v
             |FROM orders GROUP BY o_custkey""".stripMargin)),

    // Subject-deletion propagation (right to be forgotten): tombstoned
    // customers cascade through orders to lineitem, and the query emits
    // the per-table compliance audit (before/after/deleted). Bounded
    // first-level tombstones broadcast; the CASCADED order-key set is a
    // constant fraction of the fact table, so its anti/left join shuffles
    // honestly (flag false) instead of pretending a 100 TB-scale set
    // broadcasts.
    QueryDef("q163_tombstone_cascade",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val ord = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val tomb = cust.filter(col("c_custkey") % 13 === 5)
          .select(col("c_custkey").alias("key"))
        val delOrders = ord
          .join(broadcast(tomb), col("o_custkey") === col("key"), "left_semi")
          .select(col("o_orderkey"))
        graft.ops.Redaction.tombstoneAudit(Seq(
          ("customer", cust, col("c_custkey"), tomb, true),
          ("orders", ord, col("o_custkey"), tomb, true),
          ("lineitem", li, col("l_orderkey"), delOrders, false)))
      },
      Some("""WITH tomb AS (
             |  SELECT c_custkey AS key FROM customer WHERE c_custkey % 13 = 5),
             |del_orders AS (
             |  SELECT o_orderkey FROM orders
             |  WHERE o_custkey IN (SELECT key FROM tomb))
             |SELECT 'customer' AS table_name,
             |  (SELECT COUNT(*) FROM customer) AS rows_before,
             |  (SELECT COUNT(*) FROM customer
             |   WHERE c_custkey NOT IN (SELECT key FROM tomb)) AS rows_after,
             |  (SELECT COUNT(*) FROM customer
             |   WHERE c_custkey IN (SELECT key FROM tomb)) AS rows_deleted
             |UNION ALL
             |SELECT 'orders',
             |  (SELECT COUNT(*) FROM orders),
             |  (SELECT COUNT(*) FROM orders
             |   WHERE o_custkey NOT IN (SELECT key FROM tomb)),
             |  (SELECT COUNT(*) FROM orders
             |   WHERE o_custkey IN (SELECT key FROM tomb))
             |UNION ALL
             |SELECT 'lineitem',
             |  (SELECT COUNT(*) FROM lineitem),
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_orders)),
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))""".stripMargin)),

    // Cross-table reconciliation audit: does each order header's stored
    // total equal the exact-decimal sum of its lineitem lines? Emits the
    // full per-key report (match/mismatch/missing_detail/missing_fact)
    // with the delta — the invariant check a warehouse runs between every
    // fact and its detail. Status uses the ROUNDED delta on both engines,
    // so the boolean can't flip on a last-ulp disagreement.
    QueryDef("q165_fact_detail_reconcile",
      (s, d) => graft.ops.Validation.reconcileAggregate(
        Tables.orders(s, d), "o_orderkey", col("o_totalprice"),
        Tables.lineitem(s, d), "l_orderkey",
        graft.ops.Aggregations.exactSum(col("l_extendedprice")), tol = 0.01),
      Some(s"""WITH dt AS (
             |  SELECT l_orderkey AS key, ${exactSumSql("l_extendedprice")} AS dv
             |  FROM lineitem GROUP BY 1)
             |SELECT coalesce(o.o_orderkey, dt.key) AS key,
             |  o.o_totalprice AS fact_value,
             |  round(dt.dv, 6) AS detail_value,
             |  round(o.o_totalprice - dt.dv, 6) AS delta,
             |  CASE WHEN o.o_orderkey IS NULL THEN 'missing_fact'
             |       WHEN dt.key IS NULL THEN 'missing_detail'
             |       WHEN abs(round(o.o_totalprice - dt.dv, 6)) <= 0.01 THEN 'match'
             |       ELSE 'mismatch' END AS status
             |FROM orders o FULL OUTER JOIN dt ON o.o_orderkey = dt.key""".stripMargin)),

    // Categorical dictionary encoding: stable dense ids in lexicographic
    // term order (reproducible across runs/engines, unlike hash or
    // first-seen ids); the ordered pass runs over the DISTINCT terms and
    // the corpus takes a broadcast join — no corpus shuffle.
    QueryDef("q172_dictionary_encode",
      (s, d) => graft.ops.Features.dictionaryEncode(
          Tables.customer(s, d), "c_mktsegment", "segment_id")
        .select(col("c_custkey"), col("c_mktsegment"), col("segment_id")),
      Some("""WITH dict AS (
             |  SELECT c_mktsegment,
             |    CAST(row_number() OVER (ORDER BY c_mktsegment) AS BIGINT) AS segment_id
             |  FROM (SELECT DISTINCT c_mktsegment FROM customer))
             |SELECT c.c_custkey, c.c_mktsegment, dict.segment_id
             |FROM customer c JOIN dict USING (c_mktsegment)""".stripMargin)),

    // Leave-one-out target encoding — the leakage-safe categorical
    // encoder: each row gets the target mean of the OTHER rows in its
    // category ((Σy − y)/(n − 1)); singletons null. Decimal-exact Σy,
    // decimal subtraction, ONE double divide — hash-stable.
    QueryDef("q173_target_encode_loo",
      (s, d) => graft.ops.Features.targetEncodeLOO(
          Tables.customer(s, d), "c_mktsegment", "c_acctbal", "loo_enc")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("loo_enc")),
      Some("""WITH a AS (
             |  SELECT c_mktsegment,
             |    SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS sy,
             |    COUNT(c_acctbal) AS n
             |  FROM customer GROUP BY 1)
             |SELECT c_custkey, c_mktsegment, c_acctbal,
             |  CASE WHEN a.n > 1 THEN
             |    CAST(CAST(sy - CAST(c_acctbal AS DECIMAL(30,8)) AS VARCHAR) AS DOUBLE)
             |      / (a.n - 1)
             |  END AS loo_enc
             |FROM customer JOIN a USING (c_mktsegment)""".stripMargin)),

    // RFM segmentation — the classic customer-value grid: recency (days
    // from a customer's last order to the corpus max date), frequency
    // (order count), monetary (exact-decimal spend), each cut into
    // quartiles by the q161 discipline (ONE mergeable array-percentile
    // aggregate per dimension, bounds broadcast, map-side bin assign —
    // never ntile's global sort). Recency scores INVERT (recent = 4).
    // Segment is the 3-digit integer r·100+f·10+m, not a string concat
    // — integer arithmetic is engine-identical by construction.
    QueryDef("q187_rfm_segmentation",
      (s, d) => {
        import graft.ops.Aggregations.exactSum
        val o = Tables.orders(s, d)
        val maxD = o.agg(max(to_date(col("o_orderdate"))).alias("__maxd"))
        val rfm = o.groupBy(col("o_custkey"))
          .agg(max(to_date(col("o_orderdate"))).alias("__last"),
            count(lit(1)).alias("frequency"),
            round(exactSum(col("o_totalprice")), 2).alias("monetary"))
          .crossJoin(broadcast(maxD))
          .select(col("o_custkey"),
            datediff(col("__maxd"), col("__last")).cast(LongType).alias("recency_days"),
            col("frequency"), col("monetary"))
        val binned = Seq("recency_days" -> "__rb", "frequency" -> "__fb",
            "monetary" -> "__mb")
          .foldLeft(rfm) { case (acc, (c, b)) =>
            graft.ops.Profiling.binEqualFreq(acc, c, 4).withColumnRenamed("bin", b)
          }
        binned.select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary"),
          (lit(5L) - col("__rb")).alias("r_score"),
          col("__fb").alias("f_score"), col("__mb").alias("m_score"),
          ((lit(5L) - col("__rb")) * 100L + col("__fb") * 10L + col("__mb"))
            .alias("segment"))
      },
      Some(s"""WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
              |rfm AS (
              |  SELECT o_custkey,
              |    CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), maxd.maxd)
              |         AS BIGINT) AS recency_days,
              |    COUNT(*) AS frequency,
              |    round(${exactSumSql("o_totalprice")}, 2) AS monetary
              |  FROM orders, maxd GROUP BY o_custkey, maxd.maxd),
              |rb AS (SELECT list_transform(quantile_cont(CAST(recency_days AS DOUBLE),
              |         [0.25, 0.5, 0.75]), q -> round(q, 6)) AS b FROM rfm),
              |fb AS (SELECT list_transform(quantile_cont(CAST(frequency AS DOUBLE),
              |         [0.25, 0.5, 0.75]), q -> round(q, 6)) AS b FROM rfm),
              |mb AS (SELECT list_transform(quantile_cont(CAST(monetary AS DOUBLE),
              |         [0.25, 0.5, 0.75]), q -> round(q, 6)) AS b FROM rfm),
              |sc AS (
              |  SELECT rfm.*,
              |    CAST(1 + len(list_filter(rb.b, x -> CAST(recency_days AS DOUBLE) > x))
              |         AS BIGINT) AS rbin,
              |    CAST(1 + len(list_filter(fb.b, x -> CAST(frequency AS DOUBLE) > x))
              |         AS BIGINT) AS fbin,
              |    CAST(1 + len(list_filter(mb.b, x -> CAST(monetary AS DOUBLE) > x))
              |         AS BIGINT) AS mbin
              |  FROM rfm, rb, fb, mb)
              |SELECT o_custkey, recency_days, frequency, monetary,
              |  5 - rbin AS r_score, fbin AS f_score, mbin AS m_score,
              |  (5 - rbin) * 100 + fbin * 10 + mbin AS segment
              |FROM sc""".stripMargin)),

    // Schema-evolution scan (SURVEY §2.1 S3 hardening): two parquet
    // GENERATIONS of the same table — gen=1 written before a column
    // existed, gen=2 carries the added `o_channel` — read back as ONE
    // dataset via mergeSchema (schema = union of all file footers;
    // pre-evolution rows surface SQL NULL for the added column), plus
    // the gen partition column from the directory layout. The aggregate
    // proves both generations landed in one frame with the right null
    // semantics. This is the ALTER TABLE ADD COLUMN discipline of a
    // parquet lake: old files are never rewritten.
    QueryDef("q192_schema_evolution_scan",
      (s, d) => {
        val sfName = new java.io.File(d).getName
        val out = s"${Fixtures.targetDir}/graft_evo/$sfName/orders"
        val o = Tables.orders(s, d)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$out/gen=1")
        o.filter(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            concat(lit("ch_"), col("o_orderkey") % 3).alias("o_channel"))
          .write.mode("overwrite").parquet(s"$out/gen=2")
        s.read.option("mergeSchema", "true").parquet(out)
          .groupBy(col("gen").cast(LongType).alias("gen"), col("o_channel"))
          .agg(count(lit(1)).alias("n"),
            round(graft.ops.Aggregations.exactSum(col("o_totalprice")), 2)
              .alias("revenue"))
      },
      Some(s"""WITH v1 AS (
              |  SELECT o_orderkey, o_custkey, o_totalprice,
              |    CAST(NULL AS VARCHAR) AS o_channel, 1 AS gen
              |  FROM orders WHERE o_orderkey % 2 = 0),
              |v2 AS (
              |  SELECT o_orderkey, o_custkey, o_totalprice,
              |    'ch_' || CAST(o_orderkey % 3 AS VARCHAR) AS o_channel, 2 AS gen
              |  FROM orders WHERE o_orderkey % 2 <> 0),
              |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
              |SELECT CAST(gen AS BIGINT) AS gen, o_channel, COUNT(*) AS n,
              |  round(${exactSumSql("o_totalprice")}, 2) AS revenue
              |FROM u GROUP BY 1, 2""".stripMargin)),

    // Per-group winsorization (robust-preprocessing tier alongside
    // q172-q174): prices clipped to their return-flag group's exact
    // [p05, p95] — tames fat tails without dropping rows. Bounds follow
    // the q38/q161 parity discipline (exact percentile rounded to 6 dp
    // BEFORE the comparison); one group-sized bounds frame broadcast
    // back, clip is map-side least/greatest.
    QueryDef("q198_winsorize",
      (s, d) => graft.ops.Features.winsorize(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
            col("l_extendedprice")),
          Seq("l_returnflag"), "l_extendedprice", lo = 0.05, hi = 0.95,
          outCol = "price_w"),
      Some("""WITH b AS (
             |  SELECT l_returnflag,
             |    round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05), 6) AS lo,
             |    round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 6) AS hi
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |  l_extendedprice,
             |  least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi) AS price_w
             |FROM lineitem JOIN b USING (l_returnflag)""".stripMargin)),

    // Per-group z-score standardization from exact decimal moments
    // (population σ) — the feature-scaling pass of an ML pipeline:
    // group stats broadcast, transform map-side, corpus never shuffles.
    QueryDef("q199_zscore_scaling",
      (s, d) => graft.ops.Features.zscore(
          Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal")),
          Seq("c_mktsegment"), "c_acctbal", outCol = "z"),
      Some("""WITH m AS (
             |  SELECT c_mktsegment, COUNT(*) AS n,
             |    CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS VARCHAR)
             |         AS DOUBLE) AS sx,
             |    CAST(CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(30,8)))
             |         AS VARCHAR) AS DOUBLE) AS sx2
             |  FROM customer GROUP BY 1),
             |st AS (
             |  SELECT c_mktsegment,
             |    sx / CAST(n AS DOUBLE) AS mu,
             |    CASE WHEN sx2 / CAST(n AS DOUBLE)
             |              - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)) > 0
             |         THEN sqrt(sx2 / CAST(n AS DOUBLE)
             |              - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))
             |         END AS sigma
             |  FROM m)
             |SELECT c_mktsegment, c_custkey, c_acctbal,
             |  round((CAST(c_acctbal AS DOUBLE) - mu) / sigma, 6) AS z
             |FROM customer JOIN st USING (c_mktsegment)""".stripMargin)),

    // Exact ROC AUC per group (the ML-evaluation primitive): AUC is the
    // Mann–Whitney U statistic — computed EXACTLY from tie-aware integer
    // ranks, never from a sampled curve. Ties get the midrank; to stay
    // integral the sum accumulates 2·avgrank = 2·rank + ties − 1, so
    // AUC = (Σ2r − np(np+1)) / (2·np·nn) is all-integer until ONE double
    // division. Scorer: does n_chars predict English? Degenerate groups
    // (single-class) yield null, not a division blow-up.
    QueryDef("q200_roc_auc",
      (s, d) => graft.ops.Features.rocAuc(
        Tables.documents(s, d).select(col("source"),
          col("n_chars").alias("score"), (col("lang") === "en").alias("label")),
        Seq("source"), "score", "label"),
      Some("""WITH t AS (
             |  SELECT source, n_chars AS score, (lang = 'en') AS label
             |  FROM documents),
             |r AS (
             |  SELECT source, label,
             |    CAST(rank() OVER (PARTITION BY source ORDER BY score) AS BIGINT) AS rnk,
             |    CAST(COUNT(*) OVER (PARTITION BY source, score) AS BIGINT) AS tie
             |  FROM t WHERE label IS NOT NULL),
             |a AS (
             |  SELECT source,
             |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
             |    CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS nn,
             |    CAST(SUM(CASE WHEN label THEN 2 * rnk + tie - 1 ELSE 0 END)
             |         AS BIGINT) AS s2
             |  FROM r GROUP BY source)
             |SELECT source, np, nn,
             |  round(CASE WHEN np > 0 AND nn > 0
             |        THEN CAST(s2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nn)
             |        END, 6) AS auc
             |FROM a""".stripMargin)),

    // Robust standardization — (x − median)/MAD, the outlier-immune
    // counterpart of q199's z-score (a single spike drags μ/σ but barely
    // moves median/MAD); q38/q158 percentile-parity discipline, group
    // stats broadcast, transform map-side.
    QueryDef("q214_robust_scaling",
      (s, d) => graft.ops.Features.robustScale(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal")),
        Seq("c_mktsegment"), "c_acctbal", "robust_z"),
      Some("""WITH med AS (
             |  SELECT c_mktsegment,
             |    round(quantile_cont(CAST(c_acctbal AS DOUBLE), 0.5), 6) AS m
             |  FROM customer GROUP BY 1),
             |wm AS (
             |  SELECT c_custkey, c_mktsegment, c_acctbal, m,
             |    abs(CAST(c_acctbal AS DOUBLE) - m) AS ad
             |  FROM customer JOIN med USING (c_mktsegment)),
             |mad AS (SELECT c_mktsegment, round(quantile_cont(ad, 0.5), 6) AS md
             |        FROM wm GROUP BY 1)
             |SELECT c_custkey, c_mktsegment, c_acctbal,
             |  CASE WHEN md > 0
             |       THEN round((CAST(c_acctbal AS DOUBLE) - m) / md, 6) END
             |    AS robust_z
             |FROM wm JOIN mad USING (c_mktsegment)""".stripMargin)),

    // Benford first-digit audit (the fraud-analytics screen): leading
    // digit taken from the EXACT integer cents' decimal string (a
    // float-format path would be engine-specific; BIGINT→VARCHAR is
    // not), observed share vs the Benford expectation log₁₀(1+1/d) —
    // hardcoded as 6-dp literals on BOTH sides, so no libm at runtime —
    // plus the per-digit chi-square term. Margins over the 9-row digit
    // frame.
    QueryDef("q215_benford_audit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val benford = Seq(0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
          0.066947, 0.057992, 0.051153, 0.045757)
        val digit = substring(round(col("o_totalprice") * 100).cast(LongType)
          .cast("string"), 1, 1).cast(LongType).alias("digit")
        val cells = Tables.orders(s, d).select(digit)
          .groupBy(col("digit")).agg(count(lit(1)).alias("n"))
        val tot = sum(col("n")).over(Window.partitionBy())
        val e = element_at(array(benford.map(lit): _*), col("digit").cast("int"))
        cells.select(col("digit"), col("n"),
          round(col("n").cast(DoubleType) / tot, 6).alias("share"),
          e.alias("expected"),
          round((col("n") - tot * e) * (col("n") - tot * e) / (tot * e), 6)
            .alias("chi2_term"))
      },
      Some("""WITH d AS (
             |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
             |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
             |  FROM orders),
             |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
             |w AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS tot FROM c),
             |e AS (SELECT *,
             |  CAST(([0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
             |    0.066947, 0.057992, 0.051153, 0.045757])[CAST(digit AS INT)]
             |    AS DOUBLE) AS expected
             |  FROM w)
             |SELECT digit, n,
             |  round(CAST(n AS DOUBLE) / tot, 6) AS share, expected,
             |  round((n - tot * expected) * (n - tot * expected)
             |        / (tot * expected), 6) AS chi2_term
             |FROM e""".stripMargin)),

    // CUBE + grouping_id surface (q99's grouping-sets sibling): all four
    // grouping combinations in one pass, with the bitmask that lets a
    // consumer tell a real NULL group from a rolled-up one.
    QueryDef("q216_cube_gid",
      (s, d) => Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).alias("n"),
          round(graft.ops.Aggregations.exactSum(col("l_extendedprice")), 2)
            .alias("revenue"),
          grouping_id().cast(LongType).alias("gid")),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  round(${exactSumSql("l_extendedprice")}, 2) AS revenue,
              |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
              |FROM lineitem
              |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // Fully-distributed long-form column profile of an arbitrary frame
    // (the data-quality gate of a pipeline): every column's nulls,
    // exact distincts, typed extremes and exact mean in ONE aggregate
    // over one scan (multi-distinct plans through Expand), exploded to a
    // row per column — the output never touches the driver, unlike the
    // collect-based Profiling.profile. Extremes are typed by kind
    // (double / epoch-micros / string), never stringified: value
    // rendering is engine-specific, values are not.
    QueryDef("q201_column_profile",
      (s, d) => graft.ops.Profiling.profileLong(Tables.lineitem(s, d)),
      Some {
        def numBlock(c: String, dt: String) =
          s"""SELECT '$c' AS col_name, '$dt' AS dtype,
             |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(MIN($c) AS DOUBLE) AS min_num, CAST(MAX($c) AS DOUBLE) AS max_num,
             |  round(${exactSumSql(c)} / COUNT($c), 6) AS mean,
             |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
             |FROM lineitem""".stripMargin
        def strBlock(c: String) =
          s"""SELECT '$c', 'string', CAST(COUNT(*) - COUNT($c) AS BIGINT),
             |  CAST(COUNT(DISTINCT $c) AS BIGINT),
             |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             |  MIN($c), MAX($c)
             |FROM lineitem""".stripMargin
        def tsBlock(c: String) =
          s"""SELECT '$c', 'timestamp', CAST(COUNT(*) - COUNT($c) AS BIGINT),
             |  CAST(COUNT(DISTINCT $c) AS BIGINT),
             |  CAST(epoch_us(MIN($c)) AS DOUBLE), CAST(epoch_us(MAX($c)) AS DOUBLE),
             |  CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
             |FROM lineitem""".stripMargin
        (Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
          "l_suppkey" -> "bigint", "l_linenumber" -> "int",
          "l_quantity" -> "double", "l_extendedprice" -> "double",
          "l_discount" -> "double", "l_tax" -> "double")
          .map { case (c, dt) => numBlock(c, dt) } ++
          Seq(strBlock("l_returnflag"), strBlock("l_linestatus"),
            tsBlock("l_shipdate")))
          .mkString("\nUNION ALL\n")
      })
  )

  /** q157's merge applied WITHOUT the audit column — the "next snapshot"
    * q159 diffs against.
    */
  private def mergedCustomer(s: org.apache.spark.sql.SparkSession, d: String) = {
    val cust = Tables.customer(s, d)
    graft.ops.Joins.upsert(cust, customerChangeBatch(cust), Seq("c_custkey"))
  }

  /** q157's change batch over the customer dimension: updates =
    * custkey%7=3 with +100 balance; inserts = shifted new keys.
    */
  private def customerChangeBatch(cust: org.apache.spark.sql.DataFrame) = {
    val updates = cust.filter(col("c_custkey") % 7 === 3)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
    val inserts = cust.filter(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 1000000L).alias("c_custkey"), col("c_name"),
        col("c_nationkey"), lit(0.0).alias("c_acctbal"),
        lit("NEW").alias("c_mktsegment"))
    updates.unionByName(inserts)
  }

  // defs, not vals: `all` above initializes first and would interpolate a
  // null val (object-init order)
  /** Oracle CTE `batch`: [[customerChangeBatch]]. */
  private def customerChangeBatchSql =
    """batch AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |         c_acctbal + 100.0 AS c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 7 = 3
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_nationkey,
      |         CAST(0.0 AS DOUBLE), 'NEW'
      |  FROM customer WHERE c_custkey % 97 = 0)""".stripMargin

  /** Shared oracle CTEs: the q157 change batch and the merged snapshot. */
  private def mergedCustomerSql =
    s"""$customerChangeBatchSql,
      |new_snap AS (
      |  SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment
      |  FROM customer t
      |  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.c_custkey = t.c_custkey)
      |  UNION ALL
      |  SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal, b.c_mktsegment
      |  FROM batch b)""".stripMargin
}
