package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.engine.{Sinks, Sources}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("S1: semicolon CSV with header round-trips (extract.py:129-130 shape)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val csv = s"$dir/input.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      "annee;code_commune;adresse;conso_mwh\n" +
        "2023;06029;1 RUE DE LA PAIX;12.5\n" +
        "2023;06030;2 AVENUE FOCH;7.25\n")
    val df = spark.read.option("sep", ";").option("header", "true")
      .option("inferSchema", "true").csv(csv)
    assert(df.columns.toSeq === Seq("annee", "code_commune", "adresse", "conso_mwh"))
    assert(df.count() === 2)
    assert(df.select("conso_mwh").as[Double].collect().sorted.toSeq === Seq(7.25, 12.5))
  }

  test("display-header CSV variant normalizes to canonical snake names") {
    // extract.py:336-344 renames French display headers; normalizeColumns
    // subsumes the hand-written mapping generically
    val dir = Files.createTempDirectory("graft_disp").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/disp.csv"),
      "Adresse;Nom Commune;Code Commune;Code IRIS;Code Département\n" +
        "1 RUE X;NICE;06029;060290101;06\n")
    val df = graft.engine.Names.normalizeColumns(
      spark.read.option("sep", ";").option("header", "true")
        .csv(s"$dir/disp.csv"))
    assert(df.columns.toSeq === Seq("adresse", "nom_commune", "code_commune",
      "code_iris", "code_departement"))
  }

  test("empty-input assert (E1) raises when opted in") {
    val df = spark.range(0).selectExpr("id AS a")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.EtlPipeline.assertRequired(df, Seq("a"), requireNonEmpty = true)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("S6/S8: JSON-lines sink then scan preserves rows") {
    val dir = Files.createTempDirectory("graft_json").toString + "/out"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    df.write.json(dir)
    val back = spark.read.json(dir)
    assert(back.count() === 2)
    assert(back.columns.sorted.toSeq === Seq("id", "name", "v"))
  }

  test("S5: gzip parquet sink writes readable gzip files") {
    val dir = Files.createTempDirectory("graft_pq").toString + "/out"
    val df = Seq((1L, "x")).toDF("id", "s")
    Sinks.parquetGzip(df, dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.contains(".gz.parquet")))
    assert(Sources.parquet(spark, dir).count() === 1)
  }

  test("ORC sink/scan round-trips rows, schema, and partition pruning") {
    val dir = Files.createTempDirectory("graft_orc").toString + "/out"
    val df = Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p1"))
      .toDF("id", "name", "part")
    df.write.partitionBy("part").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === 3)
    assert(back.columns.sorted.toSeq === Seq("id", "name", "part"))
    // partition predicate prunes at the directory level
    val pruned = back.filter(org.apache.spark.sql.functions.col("part") === "p1")
    assert(pruned.count() === 2)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), pruned.queryExecution.executedPlan)
  }

  test("dynamic partition overwrite replaces only the rewritten partitions") {
    val dir = Files.createTempDirectory("graft_dyn").toString + "/zone"
    // the mode is a write-scoped option, so concurrent writers on one
    // session cannot race each other into a whole-table truncation
    def overwritePartitions(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "gzip")
        .partitionBy("day").parquet(dir)
    val day1 = Seq((1L, "d1", "a"), (2L, "d2", "b"))
      .toDF("id", "day", "v")
    overwritePartitions(day1)
    // re-run day 2 only, with corrected rows; day 1 must survive
    val day2fix = Seq((2L, "d2", "B2"), (3L, "d2", "c"))
      .toDF("id", "day", "v")
    overwritePartitions(day2fix)
    val got = Sources.parquet(spark, dir)
      .select("id", "day", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "d1", "a"), (2L, "d2", "B2"), (3L, "d2", "c")))
    // write-scoped option, not session conf: the session mode is untouched
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .toLowerCase !== "dynamic")
    // backfilled partitions keep the S5 gzip zone format
    val files = new java.io.File(s"$dir/day=d2").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.contains(".gz.")), files.toSeq)
  }

  test("mergeSchema scan unions evolving batch schemas; old files read null") {
    val dir = Files.createTempDirectory("graft_evo").toString + "/zone"
    Seq((1L, "x")).toDF("id", "v")
      .write.parquet(s"$dir/batch=b1")
    Seq((2L, "y", 9.5)).toDF("id", "v", "score")
      .write.parquet(s"$dir/batch=b2")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.toSet === Set("id", "v", "score", "batch"))
    val byId = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(byId(1L).fieldIndex("score")))
    assert(byId(2L).getDouble(byId(2L).fieldIndex("score")) === 9.5)
  }

  test("date tags: fixed-clock yyyy_MM_dd naming (fonctions.py:75-79)") {
    val clock = java.time.Clock.fixed(
      java.time.Instant.parse("2026-08-12T10:00:00Z"), java.time.ZoneOffset.UTC)
    assert(engine.Dates.todayTag(clock) === "2026_08_12")
    assert(engine.Dates.zoneFileName("adresses", "b7", clock) ===
      "adresses_2026_08_12_b7")
  }

  test("telemetry recorder observes action durations (decorator_logger analog)") {
    import graft.engine.Telemetry
    val rec = Telemetry.attach(spark)
    spark.range(100).count()
    // listener delivery is async; give the bus a moment
    val deadline = System.currentTimeMillis() + 5000
    while (rec.records.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(rec.records.nonEmpty)
    assert(rec.records.forall(!_.failed))
  }
}
