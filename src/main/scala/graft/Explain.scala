package graft

/** Dev tool: dump `explain("formatted")` for selected queries (all headline
  * queries by default) — used to audit pushdown/broadcast/codegen choices. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSet
      else QueryRegistry.all.filter(_.headline).map(_.name).toSet
    // the mains' own session, so the printed plans are the plans
    // Bench/Verify execute
    val spark = Sessions.local()
    QueryRegistry.all.filter(q => names.contains(q.name)).foreach { q =>
      println(s"\n=================== ${q.name} ===================")
      q.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
