package graft

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.engine.LoadDedup

/** S9/S10 end-to-end against a REAL database: embedded Apache Derby (on
  * Spark's own classpath — it ships Derby for the Hive metastore), so
  * Spark's JDBC reader/writer and the loader's `LoadDedup.newRows` step run
  * against actual SQL DDL, PK/FK constraints, and a second process-visible
  * store — not a parquet stand-in. Mirrors reference `load.py:123-212`. */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dbRoot = {
    val d = java.nio.file.Files.createTempDirectory("graft-derby")
    // Derby writes derby.log to derby.system.home; keep it in the tmp dir
    System.setProperty("derby.system.home", d.toString)
    d
  }
  private lazy val url = s"jdbc:derby:$dbRoot/graftdb;create=true"
  private val props = new Properties() // embedded driver via ServiceLoader

  private def ddl(statements: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try statements.foreach { s =>
      val st = conn.createStatement(); try st.executeUpdate(s) finally st.close()
    } finally conn.close()
  }

  private def read(table: String): DataFrame = spark.read.jdbc(url, table, props)

  /** The loader's step against a JDBC target: append the batch's new rows. */
  private def loadNew(table: String, batch: DataFrame, keys: Seq[String]): Unit =
    LoadDedup.newRows(batch, Some(read(table)), keys)
      .write.mode(SaveMode.Append).jdbc(url, table, props)

  test("S9/S10: write, read back, partitioned read, idempotent append-new") {
    // quoted lowercase DDL column names so Spark's quoted INSERT matches
    ddl("""CREATE TABLE customers ("id" BIGINT PRIMARY KEY, "name" VARCHAR(50))""")
    Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
      .write.mode(SaveMode.Append).jdbc(url, "customers", props)

    val read1 = read("customers")
    assert(read1.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((1L, "alice"), (2L, "bob")))

    // overlapping second batch: only the new key lands
    val batch2 = Seq((2L, "bob"), (3L, "carol")).toDF("id", "name")
    loadNew("customers", batch2, Seq("id"))
    assert(read("customers").count() === 3)

    // idempotence: replaying the same batch appends nothing (and trips no
    // PK violation, because the anti-join removed the dupes first)
    loadNew("customers", batch2, Seq("id"))
    assert(read("customers").count() === 3)

    // S9 partitioned parallel read: same rows, multiple partitions
    val part = spark.read.jdbc(url, "customers", "\"id\"", 0L, 10L, 3, props)
    assert(part.rdd.getNumPartitions === 3)
    assert(part.count() === 3)
  }

  test("FK-ordered load: parents land before children; replay is a no-op") {
    ddl(
      """CREATE TABLE region_t ("r_id" BIGINT PRIMARY KEY, "r_name" VARCHAR(30))""",
      """CREATE TABLE nation_t ("n_id" BIGINT PRIMARY KEY,
        | "n_region" BIGINT REFERENCES region_t ("r_id"))""".stripMargin)

    val regions = Seq((1L, "europe"), (2L, "asia")).toDF("r_id", "r_name")
    val nations = Seq((10L, 1L), (11L, 2L)).toDF("n_id", "n_region")

    // child-first would violate the FK — the DB itself proves order matters
    val ex = intercept[Exception] {
      nations.write.mode(SaveMode.Append).jdbc(url, "nation_t", props)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(
      _.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException]))

    // FK order (parents first, one load step each) loads cleanly…
    def loadBatch(): Unit = {
      loadNew("region_t", regions, Seq("r_id"))
      loadNew("nation_t", nations, Seq("n_id"))
    }
    loadBatch()
    assert(read("region_t").count() === 2)
    assert(read("nation_t").count() === 2)

    // …and replaying the whole batch is a no-op (anti-join per entity)
    loadBatch()
    assert(read("region_t").count() === 2)
    assert(read("nation_t").count() === 2)
  }

  test("a batch carrying one new key twice appends one row into a PK table") {
    ddl("""CREATE TABLE accounts ("id" BIGINT PRIMARY KEY, "name" VARCHAR(20))""")
    Seq((1L, "alice")).toDF("id", "name")
      .write.mode(SaveMode.Append).jdbc(url, "accounts", props)
    // key 2 twice: an anti-join alone would append both rows, and the PK
    // would reject the whole append
    val batch = Seq((1L, "alice"), (2L, "bob2"), (2L, "bob")).toDF("id", "name")
    loadNew("accounts", batch, Seq("id"))
    def rows = read("accounts").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // keep-first under the sorted-column order: ("bob" < "bob2")
    assert(rows === Seq((1L, "alice"), (2L, "bob")))
    loadNew("accounts", batch, Seq("id"))
    assert(rows === Seq((1L, "alice"), (2L, "bob")))
  }

  test("upsert round-trip: JDBC-read state, upsert, write back") {
    ddl("""CREATE TABLE kv ("k" BIGINT PRIMARY KEY, "v" VARCHAR(20))""")
    Seq((1L, "old"), (2L, "keep")).toDF("k", "v")
      .write.mode(SaveMode.Append).jdbc(url, "kv", props)
    val existing = read("kv")
    val incoming = Seq((1L, "new"), (3L, "add")).toDF("k", "v")
    // MATERIALIZE before overwriting the table the plan reads from:
    // Spark truncates the JDBC target before evaluating the lazy plan, so
    // an un-materialized merged frame would re-scan the already-empty
    // table and silently drop every existing row.
    val merged = graft.engine.LoadDedup.upsert(existing, incoming, Seq("k"),
      orderBy = Seq("k")).localCheckpoint()
    // full-refresh write of the merged state (Overwrite + truncate)
    merged.write.mode(SaveMode.Overwrite).option("truncate", "true")
      .jdbc(url, "kv", props)
    val got = read("kv").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "new"), (2L, "keep"), (3L, "add")))
  }
}
