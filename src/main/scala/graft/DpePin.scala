package graft

import org.apache.spark.sql.SparkSession

/** Prints the `StatsQueries.dpePinnedSf*` literal block(s) for one or
  * more fixture dirs — the mechanical replacement for the prose
  * regeneration recipe in StatsSpec ("dpe pinned oracle"). The
  * q_dpe_statistics oracle is a literal VALUES set (the p-value layer is
  * not DuckDB-expressible); when a fixture changes or a new scale is
  * added, run
  *
  *   sbt "runMain graft.DpePin /root/testdata/sf0.01 /root/testdata/sf0.001"
  *
  * and paste each printed val into `queries/StatsQueries.scala`
  * byte-for-byte (the formatter reproduces the committed literal style:
  * integral doubles as `<long>.0`, everything else as the shortest
  * round-trip repr with a lowercase exponent). StatsSpec re-derives the
  * same rows from the engine and fails loudly on drift, so a stale paste
  * cannot survive `sbt test`.
  */
object DpePin {

  /** Scala-source literal for a Double, matching the committed pin style:
    * integral values print as `<long>.0` (not `5.7107319e7`), all others
    * as `java.lang.Double.toString` with a lowercase exponent — both
    * parse back to the exact same bits. */
  private[graft] def slit(d: Double): String = {
    val s = java.lang.Double.toString(d) // shortest round-trip repr
    val e = s.indexOf('E')
    if (e < 0) s
    else if (s.substring(e + 1).toInt >= 15 || s.substring(e + 1).toInt < 0)
      s.replace('E', 'e') // huge/tiny magnitudes stay scientific
    else {
      // 1e7..1e15: the committed pins write these plain (56966784.5);
      // the plain decimal denotes the same exact value, so it parses
      // back to the identical bits
      val p = new java.math.BigDecimal(s).toPlainString
      if (p.contains('.')) p else p + ".0"
    }
  }

  /** `sf0.01` → `Sf001` (dots dropped), the committed val-name suffix. */
  private[graft] def valSuffix(dir: String): String = {
    val base = new java.io.File(dir).getName
    "Sf" + base.stripPrefix("sf").replace(".", "")
  }

  def pinBlock(spark: SparkSession, dir: String): String = {
    val spec = QueryRegistry.byName("q_dpe_statistics")
    import spark.implicits._
    val rows = spec.run(spark, dir)
      .as[(String, Long, Double, Double, Double, Double, String)]
      .collect().toSeq.sortBy(_._1)
    val body = rows.map { case (f, n, tS, pT, wS, pW, _) =>
      s"""      ("$f", ${n}L, ${slit(tS)}, ${slit(pT)}, ${slit(wS)}, ${slit(pW)})"""
    }.mkString(",\n")
    s"""  private[graft] val dpePinned${valSuffix(dir)}: Seq[(String, Long, Double, Double, Double, Double)] =
       |    Seq(
       |$body)""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.DpePin <fixtureDir> [more dirs...]")
    val spark = Sessions.local()
    args.foreach { dir =>
      println(s"// generated by graft.DpePin from $dir")
      println(pinBlock(spark, dir))
      println()
    }
    spark.stop()
  }
}
