package graft.engine

/** Date tags used by the reference for zone file naming
  * (`utils/fonctions.py:75-79`: `YYYY_MM_DD` of today), as
  * driver-side strings for file names. */
object Dates {
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy_MM_dd")

  def todayTag(clock: java.time.Clock = java.time.Clock.systemUTC()): String =
    java.time.LocalDate.now(clock).format(fmt)

  /** Reference zone file naming: `{entity}_{date}_{batch_id}` (
    * `transform.py:308`). */
  def zoneFileName(entity: String, batchId: String,
      clock: java.time.Clock = java.time.Clock.systemUTC()): String =
    s"${entity}_${todayTag(clock)}_$batchId"
}
