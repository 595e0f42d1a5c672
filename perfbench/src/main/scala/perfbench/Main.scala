package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.{Clock, Instant, ZoneOffset}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row, SparkSession}

import graft.QueryRegistry
import graft.engine.Dates
import graft.pipeline.EtlPipeline

/** One benchmark run inside one JVM: set up the workload, run its cold
  * ops, then a closed loop of ops (one client thread, the next op starts
  * when the previous one has returned) for the configured seconds and at
  * least `min_ops` ops, ending at a whole pass of `pass_ops` ops, and write
  * every op's timing, check result and layer counters as JSON.
  *
  * Usage: `perfbench.Main <config.json>`; the config is written by
  * `perfbench/run.py`, which also generates the inputs and aggregates the
  * output into metrics. Workloads:
  *   - `etl_fresh`: `EtlPipeline.extract` → `transform` → `load` of one
  *     batch into fresh zones and an empty target per op; after the cold
  *     op the batch is loaded again and must append nothing;
  *   - `query_mix`: one registry query per op, result fully collected.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  // gold zone file names embed the run date; a fixed clock lets the loader
  // and the checks find the zone files of every op
  private val ZoneClock = Clock.fixed(Instant.parse("2024-01-01T00:00:00Z"), ZoneOffset.UTC)
  // the loader keys `EtlPipeline.run` uses
  private val LoadKeys = Map(
    "adresses" -> Seq("c_custkey_ban"),
    "logements" -> Seq("o_orderkey_enedis"),
    "tests_statistiques" -> Seq("batch_id", "etiquette"))
  private val GoldNames = Seq("adresses", "logements", "tests_statistiques")

  final case class Op(name: String, cold: Boolean, traced: Boolean,
      wallS: Double, ok: Boolean, error: String,
      layers: Map[String, Map[String, Double]], extra: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val cfg = mapper.readTree(new File(args(0)))
    val cpus = cfg.get("cpus").asInt
    val work = cfg.get("work").asText
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.llm.TopK.raiseSortFallbackThreshold(spark)
    try new Main(spark, cfg, t0).run()
    finally spark.stop()
  }

  private def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
        .foreach(Files.delete)
      finally s.close()
    }
  }

  /** Order-insensitive hash of a collected result: the sum of per-row
    * hashes, so any row order gives the same value. */
  def resultHash(rows: Array[Row]): Long = rows.iterator.map { r =>
    MurmurHash3.orderedHash(r.toSeq.map {
      case null => 0
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case v => v.hashCode
    }).toLong
  }.sum
}

final class Main(spark: SparkSession, cfg: JsonNode, t0: Long) {
  import Main._

  private val workload = cfg.get("workload").asText
  private val work = cfg.get("work").asText
  private val input = cfg.get("input").asText
  private val seconds = cfg.get("seconds").asDouble
  private val tracer: Option[Tracer] =
    if (cfg.get("trace").asInt == 1) Some(new Tracer(spark)) else None
  private val batchId = s"b${cfg.get("seed").asLong}"
  private val expected = cfg.get("expected")
  private val heapMax = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var watchHeap = false

  private def expectedCounts(zone: String): Map[String, Long] =
    GoldNames.map(n => n -> expected.get(zone).get(n).asLong).toMap

  private def watchGc(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      val listener: NotificationListener = (n, _) =>
        if (watchHeap && n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData])
          // after a full collection the used heap is the live heap; after a
          // young one it still holds old-generation garbage
          if (info.getGcAction == "end of major GC") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
              .map(_.getUsed).sum
            heapMax.accumulateAndGet(used, math.max(_, _))
          }
        }
      gc.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null)
    }

  /** Times one layer call; when this op is traced, also collects the
    * layer's counters through the tracer. */
  private final class OpCtx(opId: Int, name: String, traced: Boolean) {
    val span: Option[Span] = if (traced) tracer.map(_.opSpan(opId, name)) else None
    val layers = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    def layer[T](layerName: String)(body: => T): T = span match {
      case Some(op) =>
        val (out, s) = tracer.get.layer(op, layerName)(body)
        layers(layerName) = s.counters.toMap
        out
      case None =>
        val t = System.nanoTime()
        val out = body
        layers(layerName) = Map("wall_s" -> (System.nanoTime() - t) / 1e9)
        out
    }
  }

  private def count(path: String): Long = spark.read.parquet(path).count()

  private def goldPath(gold: String, entity: String): String =
    s"$gold/${Dates.zoneFileName(entity, batchId, ZoneClock)}"

  private def targetCounts(target: String): Map[String, Long] =
    GoldNames.map(n => n -> count(s"$target/$n")).toMap

  private def etlRun(ctx: OpCtx, dir: String): EtlPipeline.Zones = {
    val zones = EtlPipeline.Zones(s"$dir/bronze", s"$dir/silver", s"$dir/gold")
    val silver = ctx.layer("extract") {
      EtlPipeline.extract(spark, input, zones, batchId)
    }
    ctx.layer("transform") {
      EtlPipeline.transform(spark, silver, zones, batchId, clock = ZoneClock)
    }
    ctx.layer("load") {
      EtlPipeline.load(spark, zones, s"$dir/target", LoadKeys, batchId, ZoneClock)
    }
    zones
  }

  /** Checks an E→T→L result against the counts computed independently over
    * the generated input; returns (mismatch or "", byte and row figures). */
  private def checkEtl(dir: String): (String, Map[String, Double]) = {
    val gold = GoldNames.map(n => n -> count(goldPath(s"$dir/gold", n))).toMap
    val target = targetCounts(s"$dir/target")
    val err =
      if (gold != expectedCounts("gold")) s"gold rows $gold != ${expectedCounts("gold")}"
      else if (target != expectedCounts("target"))
        s"target rows $target != ${expectedCounts("target")}"
      else ""
    (err, Map(
      "zone_bytes" -> Seq("bronze", "silver", "gold").map(z => dirBytes(s"$dir/$z")).sum.toDouble,
      "silver_bytes" -> dirBytes(s"$dir/silver").toDouble,
      "target_bytes" -> dirBytes(s"$dir/target").toDouble,
      "gold_rows" -> gold.values.sum.toDouble,
      "appended_rows" -> target.values.sum.toDouble))
  }

  private def timed(name: String, cold: Boolean, opId: Int)(
      body: OpCtx => Unit)(check: => (String, Map[String, Double])): Op = {
    spark.catalog.clearCache()
    System.gc()
    // warm ops are traced in an ABBA pattern, so a trend over the run
    // (JIT warm-up) does not bias the traced-minus-untraced overhead
    val ctx = new OpCtx(opId, name, tracer.isDefined && !cold && (opId + 1) % 4 < 2)
    val t = System.nanoTime()
    val failure =
      try { body(ctx); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t) / 1e9
    ctx.span.foreach(_.close())
    val (err, extra) = failure match {
      case Some(f) => (f, Map.empty[String, Double])
      case None =>
        try check catch { case e: Throwable => (s"check failed: ${e.getMessage}", Map.empty[String, Double]) }
    }
    Op(name, cold, ctx.span.isDefined, wall, err.isEmpty, err, ctx.layers.toMap, extra)
  }

  private def etlFresh(): (Map[String, Any], (Int, Boolean) => Op) =
    (Map.empty, (i, cold) => {
      val dir = s"$work/op$i"
      try timed("etl", cold, i)(ctx => etlRun(ctx, dir)) {
        val (err, extra) = checkEtl(dir)
        (if (err.isEmpty && cold) checkReplay(dir) else err, extra)
      } finally deleteTree(dir)
    })

  /** Loads the op's gold batch into its target once more, untimed: the
    * re-load of a loaded batch must append nothing. */
  private def checkReplay(dir: String): String = {
    val zones = EtlPipeline.Zones(s"$dir/bronze", s"$dir/silver", s"$dir/gold")
    EtlPipeline.load(spark, zones, s"$dir/target", LoadKeys, batchId, ZoneClock)
    val target = targetCounts(s"$dir/target")
    if (target != expectedCounts("target")) s"re-load changed the target rows to $target"
    else ""
  }

  private def queryMix(): (Map[String, Any], (Int, Boolean) => Op) = {
    val sample = cfg.get("queries").elements.asScala.map(_.asText).toVector
    val verified = mutable.Map.empty[String, Long]
    val order = Iterator.continually(sample).flatten
    val verifyDir = s"$work/verify"
    // each sampled query's first run is the cold op; its rows are written
    // for the oracle compare and its hash becomes the per-op check value
    def op(i: Int, cold: Boolean): Op = {
      val q = if (cold) sample(i) else order.next()
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      timed(q, cold, i) { ctx =>
        val df = ctx.layer("query.build")(QueryRegistry.byName(q).run(spark, input))
        rows = ctx.layer("query.exec")(df.collect())
        schema = df.schema
      } {
        val h = resultHash(rows)
        if (cold) {
          verified(q) = h
          spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
          try spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$verifyDir/$q")
          finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
          ("", Map("rows" -> rows.length.toDouble))
        } else {
          val err = verified.get(q) match {
            case None => "no verified result"
            case Some(v) if v != h => s"result hash $h != verified $v"
            case _ => ""
          }
          (err, Map("rows" -> rows.length.toDouble))
        }
      }
    }
    val oracles = sample.map(q => q -> QueryRegistry.byName(q).oracle.getOrElse("")).toMap
    (Map("verify_dir" -> verifyDir, "oracles" -> oracles, "cold_ops" -> sample.size), op)
  }

  def run(): Unit = {
    val (info, op) = workload match {
      case "etl_fresh" => etlFresh()
      case "query_mix" => queryMix()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val coldOps = info.getOrElse("cold_ops", 1).asInstanceOf[Int]
    val setupS = (System.nanoTime() - t0) / 1e9
    watchGc()
    val ops = mutable.ArrayBuffer.empty[Op]
    (0 until coldOps).foreach(i => ops += op(i, true))
    // Spark's ContextCleaner frees the cold ops' broadcast and shuffle
    // blocks only after a GC has found them unreachable, on its own thread;
    // let it finish, so the warm loop's first GC does not race it
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(1000)
    tracer.foreach(_.attach())
    watchHeap = true
    val loopStart = System.nanoTime()
    var i = 0
    val minOps = cfg.get("min_ops").asInt
    val passOps = cfg.get("pass_ops").asInt
    while (i < minOps || i % passOps != 0 ||
        (System.nanoTime() - loopStart) / 1e9 < seconds) {
      ops += op(i, false)
      i += 1
    }
    watchHeap = false
    tracer.foreach(_.detach())
    val spans = tracer.map(_.spans).getOrElse(Nil).map { s =>
      Map("id" -> s.id, "name" -> s.name, "op" -> s.opId, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }
    val out = Map(
      "setup_s" -> setupS, "heap_max_bytes" -> heapMax.get,
      "heap_limit_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "ops" -> ops.toSeq, "spans" -> spans) ++ (info - "cold_ops")
    mapper.writeValue(new File(cfg.get("out").asText), out)
  }
}
