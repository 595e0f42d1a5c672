package graft.pipeline

import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.engine._

/** The reference's three entry points (SURVEY.md §3: EP1 flow, EP2 extract,
  * EP3 transform, plus the loader) re-composed as pure
  * `DataFrame => DataFrame` stages over a medallion bronze/silver/gold
  * layout — no Prefect, no mutable pipeline classes; orchestration is
  * function composition, retries/scheduling belong to the caller.
  *
  * Dataflow shape mirrors `extract.py:590-640` on the testdata star schema:
  * a fact-side input joined inner against one enrichment table (J1), left
  * against a second after string-key casts (J2), suffix-namespaced (E8),
  * batch-stamped (E11); transform runs the reference's fixed chain
  * (`transform.py:382-409`): cast → impute → derive → split → stats; load
  * appends only new keys (J3/J4). Zone writes are the observable contract
  * (files per zone, `{batch_id}` partitioned). Extract re-reads each zone
  * it wrote, like the reference's bronze write→reload
  * (`extract.py:539-561`).
  *
  * Actions that do not depend on each other run at the same time, one
  * thread each, and each call returns only when all of them have ended:
  *   - `transform`: after cast inference and imputation (in order), every
  *     gold entity write and the statistics branch (collect, then write);
  *   - `load`: every entity's read → `LoadDedup.newRows` → append, each
  *     into its own target directory. The parquet target has no foreign
  *     keys, so the reference's FK order (`load.py:181-212`) constrains
  *     nothing here. A JDBC target with FK constraints must run the same
  *     step entity by entity, parents first.
  * The threads inherit the caller's Spark local properties (job group,
  * description, tags) and active session, so cancellation and job
  * attribution by local property cover every job a call starts.
  */
object EtlPipeline {

  final case class Zones(bronze: String, silver: String, gold: String)

  /** E1 (`extract.py:317-331`): schema assert — required columns present
    * and (optionally) input non-empty. The emptiness probe runs a one-row
    * job (`isEmpty` = limit-1 scan), so it is opt-in for hot paths. */
  def assertRequired(df: DataFrame, required: Seq[String],
      requireNonEmpty: Boolean = false): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing required columns: $missing")
    if (requireNonEmpty) require(!df.isEmpty, "input frame is empty")
    df
  }

  /** EP2 extract: build the wide silver frame from the three sources,
    * write bronze + silver zones, return the silver frame (re-read from
    * the zone — the reference's memory barrier). */
  def extract(spark: SparkSession, sfDir: String, zones: Zones,
      batchId: String): DataFrame = {
    val merged = enedisBan(spark, sfDir)
    Sinks.parquetGzip(merged, s"${zones.bronze}/merged_enedis_ban")

    // J2: ⟕ second source on string-cast keys + dedup (per-order rollup
    // keeps the join 1:1, as the reference's ademe-by-id_ban is)
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val perOrder = lineitem.groupBy(col("l_orderkey")).agg(
      sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
        .as("quantite_totale_ademe"),
      sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,2)")).cast("double").as("montant_net_ademe"),
      count(lit(1)).cast("double").as("nb_lignes_ademe"))
    // bronze is unpartitioned, so the schema just written is the one its
    // footers hold; passing it skips the footer-inference job. Silver stays
    // inferred: its `batch_id` type comes from partition inference.
    val bronze = Sources.parquet(spark, s"${zones.bronze}/merged_enedis_ban",
      Some(footerSchema(merged)))
    val silver = Joins.leftOuterOnStringKey(bronze, perOrder,
      "o_orderkey_enedis", "l_orderkey")
    val stamped = Derive.withBatchId(Names.sortColumns(silver), batchId)
    Sinks.parquetGzip(stamped, s"${zones.silver}/silver_data",
      partitionByCols = Seq("batch_id"))
    Sources.parquet(spark, s"${zones.silver}/silver_data")
  }

  /** J1: orders ⋈ customer (broadcast), E8 suffix-namespaced — the rows
    * of the bronze zone. */
  private[graft] def enedisBan(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = assertRequired(
      Tables.load(spark, sfDir, "customer"), Seq("c_custkey", "c_name"))
    val e = Names.withSuffix(Tables.load(spark, sfDir, "orders"), "_enedis")
    val b = Names.withSuffix(customer, "_ban")
    Joins.innerEqui(e, b, "o_custkey_enedis", "c_custkey_ban",
      broadcastRight = true)
  }

  /** The schema a parquet write of `df` leaves in its footers: every
    * field nullable. */
  private[graft] def footerSchema(df: DataFrame): StructType =
    StructType(df.schema.map(_.copy(nullable = true)))

  /** Gold entity declarations (shape of `schema_golden_data`): column
    * subsets + defaults for declared-but-absent columns. */
  val GoldEntities: Seq[Entities.EntitySpec] = Seq(
    Entities.EntitySpec("adresses", Seq(
      "c_custkey_ban" -> Entities.ColSpec("string", "N/C"),
      "c_name_ban" -> Entities.ColSpec("string", "N/C"),
      "c_mktsegment_ban" -> Entities.ColSpec("string", "N/C")),
      required = Seq("c_custkey_ban")),
    Entities.EntitySpec("logements", Seq(
      "o_orderkey_enedis" -> Entities.ColSpec("string", "N/C"),
      "c_custkey_ban" -> Entities.ColSpec("string", "N/C"),
      "conso_kwh" -> Entities.ColSpec("float64", -1.0),
      "conso_kwh_m2" -> Entities.ColSpec("float64", -1.0),
      "montant_net_ademe" -> Entities.ColSpec("float64", -1.0),
      "etiquette" -> Entities.ColSpec("string", "N/C"),
      "batch_id" -> Entities.ColSpec("string", "N/C")),
      required = Seq("o_orderkey_enedis")))

  /** EP3 transform: the reference's fixed chain (`transform.py:402-409`)
    * over the silver frame; returns the gold entity frames (written gzip
    * parquet under the gold zone). */
  def transform(spark: SparkSession, silver: DataFrame, zones: Zones,
      batchId: String,
      entitySpecs: Seq[Entities.EntitySpec] = GoldEntities,
      clock: java.time.Clock = java.time.Clock.systemUTC()): Map[String, DataFrame] = {
    // 1. casting (T1 inference)
    val (cast, _) = Cast.autoCastStringColumns(silver)

    // 2. imputation (A1-A4) on the float columns that carry nulls
    val floatCols = Seq("quantite_totale_ademe", "montant_net_ademe",
      "nb_lignes_ademe").filter(cast.columns.contains)
    val (filled, _) = Impute.fillFloats(cast, floatCols)

    // 3. derives (T3-T6 shapes)
    val derived = filled
      .withColumn("conso_kwh",
        Derive.scaledFromFirstExisting(filled,
          Seq("quantite_totale_ademe"), 1000.0))
      .withColumn("conso_kwh_m2",
        Derive.safeRatio(col("conso_kwh"), col("nb_lignes_ademe")))
      .withColumn("ecart_absolu",
        Derive.absDiff(col("montant_net_ademe"), col("conso_kwh")))
      .withColumn("etiquette", col("o_orderpriority_enedis"))

    // 4. split into gold entities (T7/T8/A10)
    val entities = Entities.splitAll(derived, entitySpecs)

    // zone file naming mirrors the reference's `{entity}_{date}_{batch_id}`
    // contract (`transform.py:308`) — the loader locates the same run by
    // reconstructing the name from (batchId, clock)
    def write(name: String, df: DataFrame): (String, DataFrame) = {
      Sinks.parquetGzip(df, s"${zones.gold}/${Dates.zoneFileName(name, batchId, clock)}")
      name -> df
    }
    // 5. the gold writes and the per-label paired statistics (A5-A9) →
    // tests_statistiques entity, all at once
    concurrently(entities.toSeq.map { case (name, df) => () => write(name, df) } :+
      (() => write("tests_statistiques", graft.engine.Stats.dpeStatistics(
        derived, "etiquette", "conso_kwh_m2", "montant_net_ademe", batchId)))
    ).toMap
  }

  /** Loader (`load.py:181-212`): idempotent append of each gold entity
    * into the serving store — here a parquet target standing in for the
    * reference's Postgres; a JDBC target appends the same
    * `LoadDedup.newRows` with Spark's JDBC writer. The entities load
    * concurrently; see the object doc for why no FK order applies. */
  def load(spark: SparkSession, zones: Zones, targetDir: String,
      keys: Map[String, Seq[String]], batchId: String,
      clock: java.time.Clock = java.time.Clock.systemUTC()): Unit = {
    val entities = Seq("adresses", "logements", "tests_statistiques")
      .filter(keys.contains)
    concurrently(entities.map { entity => () =>
      val incoming = Sources.parquet(spark,
        s"${zones.gold}/${Dates.zoneFileName(entity, batchId, clock)}")
      val target = s"$targetDir/$entity"
      // existence via the Hadoop FS API, so hdfs://, s3a://, and local
      // targets all work (java.io.File would silently skip the anti-join
      // for any non-local URI and break idempotence)
      val targetPath = new org.apache.hadoop.fs.Path(target)
      val fs = targetPath.getFileSystem(spark.sessionState.newHadoopConf())
      val existing = Option.when(fs.exists(targetPath))(
        Sources.parquet(spark, target))
      LoadDedup.newRows(incoming, existing, keys(entity))
        .write.mode(SaveMode.Append).parquet(target)
    })
  }

  /** Runs independent actions at the same time, one thread each, and
    * returns their results in order once all have ended. The threads are
    * started from the caller, so they inherit its Spark local properties
    * and active session. The first failure in branch order is rethrown,
    * with the other failures attached as suppressed. */
  private def concurrently[T](branches: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](branches.size)
    val failures = new Array[Throwable](branches.size)
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      new Thread(() =>
        try results(i) = branch()
        catch { case t: Throwable => failures(i) = t },
        s"EtlPipeline-action-$i")
    }
    try {
      threads.foreach(_.start())
      threads.foreach(_.join())
    } finally {
      // live threads here only if the caller was interrupted while
      // waiting or a thread failed to start
      val live = threads.filter(_.isAlive)
      live.foreach(_.interrupt())
      live.foreach(_.join())
    }
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => results.toSeq.map(_.asInstanceOf[T])
    }
  }

  /** EP1: the full E→T→L flow. */
  def run(spark: SparkSession, sfDir: String, zones: Zones, targetDir: String,
      batchId: String,
      clock: java.time.Clock = java.time.Clock.systemUTC()): Map[String, DataFrame] = {
    val silver = extract(spark, sfDir, zones, batchId)
    val gold = transform(spark, silver, zones, batchId, clock = clock)
    load(spark, zones, targetDir, Map(
      "adresses" -> Seq("c_custkey_ban"),
      "logements" -> Seq("o_orderkey_enedis"),
      "tests_statistiques" -> Seq("batch_id", "etiquette")), batchId, clock)
    gold
  }

  /** EP1 with per-action telemetry — the Spark-native analog of the
    * reference's `decorator_logger` timing wrapper around every pipeline
    * stage (`utils/__init__.py:156-182`): returns the gold entities plus
    * one (action, duration) record per executed query. */
  def runInstrumented(spark: SparkSession, sfDir: String, zones: Zones,
      targetDir: String, batchId: String,
      clock: java.time.Clock = java.time.Clock.systemUTC())
      : (Map[String, DataFrame], Seq[Telemetry.QueryRecord]) = {
    // QueryExecutionListener callbacks ride the asynchronous listener bus:
    // drain it before attaching (no earlier action's record) and after the
    // run (every record of this one)
    GraftListenerBus.drain(spark.sparkContext)
    val recorder = Telemetry.attach(spark)
    try {
      val gold = run(spark, sfDir, zones, targetDir, batchId, clock)
      GraftListenerBus.drain(spark.sparkContext)
      (gold, recorder.records)
    } finally spark.listenerManager.unregister(recorder)
  }
}
