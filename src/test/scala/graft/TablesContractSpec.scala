package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.tables.Tables

/** The round-12 declarative schema contract: every input table's loaded
  * schema is diffed against `Tables.Expected` at load, so a testdata
  * regen that drifts (widened key, dropped column, reorder) is a loud
  * one-line diagnosis at the ingest edge instead of a mid-query analysis
  * error N operators deep (the events/embeddings loaders got this
  * hardening in round 11 because they broke; this extends it to all 10).
  */
class TablesContractSpec extends SparkSpec {

  private def write(dir: String, name: String, schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  test("contract covers exactly the ten driver tables, matching the real testdata") {
    assert(Tables.Expected.keySet === Tables.AllNames.toSet)
    // the committed fixtures must be drift-free against the contract —
    // if this fails, either the driver regenerated testdata (update the
    // contract deliberately) or the contract itself drifted
    val d = "/root/testdata/sf0.001"
    Tables.AllNames.foreach { t =>
      val schema = spark.read.parquet(s"$d/$t.parquet").schema
      assert(Tables.drift(t, schema).isEmpty,
        s"$t: ${Tables.drift(t, schema).map(_.summary)}")
    }
  }

  test("int-widening drift: one-line retype diagnosis, load still succeeds (warn mode)") {
    val dir = Files.createTempDirectory("graft-drift-widen").toString
    // nation with n_nationkey widened INT -> BIGINT
    write(dir, "nation", StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      Seq(Row(1L, "FRANCE", 1)))
    val d = Tables.drift("nation",
      spark.read.parquet(s"$dir/nation.parquet").schema).get
    assert(!d.fatal)
    assert(d.retyped === Seq("n_nationkey INT->BIGINT"))
    assert(d.message("nation") ===
      "nation: schema drift vs contract — retyped=[n_nationkey INT->BIGINT]")
    // warn mode: the table still loads (by-name access tolerates it)
    assert(Tables.nation(spark, dir).count() === 1L)
  }

  test("column-reorder drift: diagnosed, non-fatal") {
    val dir = Files.createTempDirectory("graft-drift-reorder").toString
    write(dir, "region", StructType(Seq(
      StructField("r_name", StringType), StructField("r_regionkey", IntegerType))),
      Seq(Row("EUROPE", 3)))
    val d = Tables.drift("region",
      spark.read.parquet(s"$dir/region.parquet").schema).get
    assert(!d.fatal && d.reordered)
    assert(d.summary === "schema drift vs contract — reordered")
    assert(Tables.region(spark, dir).count() === 1L)
  }

  test("missing column is fatal at load with the column named") {
    val dir = Files.createTempDirectory("graft-drift-missing").toString
    write(dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_mktsegment", StringType))), // c_acctbal dropped
      Seq(Row(1L, "c1", 1, "BUILDING")))
    val e = intercept[IllegalArgumentException](Tables.customer(spark, dir))
    assert(e.getMessage.contains("customer.parquet: schema drift vs contract"))
    assert(e.getMessage.contains("missing=[c_acctbal DOUBLE]"))
  }

  test("strict mode turns tolerable drift into a load failure") {
    val dir = Files.createTempDirectory("graft-drift-strict").toString
    write(dir, "supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType),
      StructField("s_comment", StringType))), // extra column
      Seq(Row(1L, "s1", 1, 2.5, "x")))
    assert(Tables.supplier(spark, dir).count() === 1L) // warn mode: fine
    spark.conf.set("spark.graft.strictSchema", "true")
    try {
      val e = intercept[IllegalArgumentException](Tables.supplier(spark, dir))
      assert(e.getMessage.contains("extra=[s_comment STRING]"))
    } finally spark.conf.unset("spark.graft.strictSchema")
  }

  test("events/embeddings wildcard columns stay the canonicalizers' business") {
    // a TIMESTAMP ts (vs the fixtures' TIMESTAMP_NTZ) is NOT contract
    // drift — normalizeEventTs owns that axis and is judged separately
    val dir = Files.createTempDirectory("graft-drift-events").toString
    write(dir, "events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      Seq(Row(1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L)),
        7L, "click", 1.0, "{}")))
    assert(Tables.drift("events",
      spark.read.parquet(s"$dir/events.parquet").schema).isEmpty)
    assert(Tables.events(spark, dir).count() === 1L)
  }

  test("workload fixture drift: one-line diagnosis at view construction, not mid-query") {
    import graft.ingest.WorkloadViews
    import graft.queries.AnalyzerGates
    // the committed fixture the 30 analyzer gates read must be
    // contract-clean (the contract IS the QuerySummary encoder schema)
    val committed = spark.read.parquet(AnalyzerGates.fixtureDir)
    WorkloadViews(committed) // no throw, no drift
    assert(WorkloadViews.summaryDrift(committed.schema).isEmpty,
      "committed workload fixture drifted vs the QuerySummary contract")
    // a drifted fixture (regen that dropped the state column) dies HERE
    // in one readable line, not as an unresolved-column error deep in
    // an analyzer's explode→dedup→classify chain
    val e = intercept[IllegalArgumentException](WorkloadViews(committed.drop("state")))
    assert(e.getMessage.startsWith("workload summaries: schema drift vs contract"))
    assert(e.getMessage.contains("missing=[state STRING]"))
    // tolerable drift (extra column) warns and proceeds; strict mode
    // escalates it — the star-schema loaders' exact semantics
    import org.apache.spark.sql.functions.lit
    val extra = committed.withColumn("regen_note", lit("x"))
    WorkloadViews(extra) // warn mode: views still construct
    spark.conf.set("spark.graft.strictSchema", "true")
    try {
      val s = intercept[IllegalArgumentException](WorkloadViews(extra))
      assert(s.getMessage.contains("extra=[regen_note STRING]"))
    } finally spark.conf.unset("spark.graft.strictSchema")
  }

  test("inputSchemaJson carries the drift diagnosis into the artifact") {
    val dir = Files.createTempDirectory("graft-drift-echo").toString
    // populate all ten tables from the clean fixture, then drift one
    val src = "/root/testdata/sf0.001"
    Tables.AllNames.foreach { t =>
      Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.Paths.get(s"$src/$t.parquet"))
    }
    Files.delete(java.nio.file.Paths.get(s"$dir/nation.parquet"))
    write(dir, "nation", StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
      Seq(Row(1L, "FRANCE", 1)))
    val json = Tables.inputSchemaJson(spark, dir)
    assert(json.contains("!schema drift vs contract — retyped=[n_nationkey INT->BIGINT]"),
      s"artifact echo missing the drift marker: $json")
    // clean tables carry no marker
    assert(!json.split("\"region\"")(1).split(",\"nation\"")(0).contains("drift"))
  }

  test("GraftSession: the shared test session carries every fixed conf") {
    // SparkSpec's session is GraftSession("graft-test", 2); a second
    // factory call here would reconfigure that shared session
    assert(spark.sparkContext.master === "local[2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "2")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("GraftSession: SPARK_GRAFT_CPUS parses or fails naming the variable") {
    assert(GraftSession.parseCpus(None, 7) === 7)
    assert(GraftSession.parseCpus(Some(" "), 7) === 7)
    assert(GraftSession.parseCpus(Some("3"), 7) === 3)
    Seq("0", "-1", "lots").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(v), 7))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("GraftSession is the only session builder under src/main and src/test") {
    import scala.jdk.CollectionConverters._
    val builder = """SparkSession\s*\.\s*[Bb]uilder""".r
    val hits = Seq("src/main", "src/test").flatMap { root =>
      val dir = java.nio.file.Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${dir.toAbsolutePath}")
      val walk = Files.walk(dir)
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
        .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
        .map(_.toString).toList
      finally walk.close()
    }
    assert(hits.isEmpty, s"build sessions through GraftSession, not by hand: ${hits.mkString(", ")}")
  }
}
