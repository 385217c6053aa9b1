package graft

import org.apache.spark.sql.SparkSession

/** The one graft session config. Every graft main and the test
  * session start from this builder, so a conf change reaches all of
  * them at once. */
object Sessions {

  /** A local builder with `cpus` task slots and as many shuffle
    * partitions, UTC session time, ICU case mapping (the Column-form
    * lower() then rides the same path graft's native expressions pin —
    * plans/TextStats scaladoc — so the two can never diverge under a
    * session-level conf flip), no UI, and WARN driver logging. */
  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
}
