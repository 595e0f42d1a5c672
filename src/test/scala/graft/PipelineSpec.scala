package graft

import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.engine.Dates
import graft.pipeline.EtlPipeline
import graft.pipeline.EtlPipeline.Zones

class PipelineSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def tmpZones(): (Zones, String) = {
    val root = Files.createTempDirectory("graft_etl").toString
    (Zones(s"$root/bronze", s"$root/silver", s"$root/gold"), s"$root/db")
  }

  // fixed clock: zone file names embed the date; pin it for assertions
  private val clock = java.time.Clock.fixed(
    java.time.Instant.parse("2026-08-12T00:00:00Z"), java.time.ZoneOffset.UTC)

  private val loadKeys = Map(
    "adresses" -> Seq("c_custkey_ban"),
    "logements" -> Seq("o_orderkey_enedis"),
    "tests_statistiques" -> Seq("batch_id", "etiquette"))

  test("EP1 end-to-end: extract -> transform -> load over medallion zones") {
    val (zones, db) = tmpZones()
    val gold = EtlPipeline.run(spark, sfDir, zones, db, batchId = "b1", clock)

    // zone contract: bronze/silver/gold files exist; gold names follow the
    // reference's `{entity}_{date}_{batch_id}` convention (transform.py:308)
    assert(new java.io.File(s"${zones.bronze}/merged_enedis_ban").exists())
    assert(new java.io.File(s"${zones.silver}/silver_data").exists())
    assert(new java.io.File(s"${zones.gold}/adresses_2026_08_12_b1").exists())

    // silver is batch-partitioned and stamped
    val silver = spark.read.parquet(s"${zones.silver}/silver_data")
    assert(silver.select("batch_id").distinct().count() === 1)

    // entities populated; defaults materialized for declared-but-absent col
    assert(gold("adresses").count() > 0)
    assert(gold("logements").count() > 0)
    assert(gold("logements").filter(col("conso_kwh_m2") === -1.0).count() === 0)
    val stats = gold("tests_statistiques")
    assert(stats.count() === 5) // one row per o_orderpriority label
    assert(stats.columns.contains("paired_t_test_p_value"))

    // loaded target exists and matches entity cardinality (keys distinct)
    val loaded = spark.read.parquet(s"$db/adresses")
    assert(loaded.count() === gold("adresses").count())
  }

  test("loader is idempotent: re-running the same batch appends nothing") {
    val (zones, db) = tmpZones()
    EtlPipeline.run(spark, sfDir, zones, db, batchId = "b1", clock)
    val before = spark.read.parquet(s"$db/logements").count()
    // replay load with identical gold zone
    EtlPipeline.load(spark, zones, db, loadKeys, "b1", clock)
    val after = spark.read.parquet(s"$db/logements").count()
    assert(after === before)
  }

  test("instrumented run returns per-action telemetry records") {
    val (zones, db) = tmpZones()
    val (gold, records) =
      EtlPipeline.runInstrumented(spark, sfDir, zones, db, "b1", clock)
    assert(gold("adresses").count() > 0)
    assert(records.forall(r => !r.failed && r.durationNs > 0))
    // one record per zone write: bronze + silver, 3 gold, 3 load appends
    assert(records.count(_.action == "command") === 8)
  }

  test("extract re-reads bronze with the schema its footers hold") {
    val (zones, _) = tmpZones()
    EtlPipeline.extract(spark, sfDir, zones, "b1")
    val inferred = spark.read.parquet(s"${zones.bronze}/merged_enedis_ban").schema
    assert(EtlPipeline.footerSchema(EtlPipeline.enedisBan(spark, sfDir)) === inferred)
  }

  test("every job transform and load start carries the caller's job group and properties") {
    val (zones, db) = tmpZones()
    val silver = EtlPipeline.extract(spark, sfDir, zones, "b1")
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).getOrElse(new Properties()))
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("pipeline-spec", "concurrent actions")
    sc.setLocalProperty("graft.spec.layer", "etl")
    try {
      EtlPipeline.transform(spark, silver, zones, "b1", clock = clock)
      EtlPipeline.load(spark, zones, db, loadKeys, "b1", clock)
      GraftListenerBus.drain(sc)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.layer", null)
    }
    // ≥ one job per gold write, statistics collect and load append
    assert(jobs.size >= 7)
    jobs.asScala.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") === "pipeline-spec")
      assert(p.getProperty("graft.spec.layer") === "etl")
    }
  }

  test("failed gold writes surface after their sibling writes have finished") {
    val (zones, _) = tmpZones()
    val silver = EtlPipeline.extract(spark, sfDir, zones, "b1")
    // a copy of each entity whose directory must go under a regular file
    Files.createDirectories(Paths.get(zones.gold))
    val blocked = EtlPipeline.GoldEntities.map { s =>
      Files.createFile(Paths.get(zones.gold, s"blocked_${s.name}"))
      s.copy(name = s"blocked_${s.name}/${s.name}")
    }
    def mentions(t: Throwable, what: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(what))
    val e = intercept[Exception] {
      EtlPipeline.transform(spark, silver, zones, "b1",
        EtlPipeline.GoldEntities ++ blocked, clock)
    }
    // the first failure in branch order, the other one suppressed on it
    assert(mentions(e, "blocked_adresses"))
    assert(e.getSuppressed.exists(mentions(_, "blocked_logements")))
    Seq("adresses", "logements", "tests_statistiques").foreach { name =>
      val dir = s"${zones.gold}/${Dates.zoneFileName(name, "b1", clock)}"
      assert(new java.io.File(s"$dir/_SUCCESS").exists(), dir)
    }
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName.startsWith("EtlPipeline-")))
  }

  test("extract asserts required columns (E1 semantics)") {
    import spark.implicits._
    val bad = Seq((1, "x")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      EtlPipeline.assertRequired(bad, Seq("a", "missing_col"))
    }
    assert(e.getMessage.contains("missing_col"))
  }
}
