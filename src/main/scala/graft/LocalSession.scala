package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder behind the dev mains and the test suite:
  * `local[cores]`, one shuffle partition per core, UTC, no UI, WARN logs.
  *
  * `spark.sql.legacy.parquet.nanosAsLong` is set from the start, as
  * [[Tables.events]] needs it: it is part of [[Tables.parquet]]'s schema
  * memo key, so setting it at the first `events` read would make every
  * table memoized before that read be inferred again, one job each. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else 4: the core count `SWEEP.json` and the test
    * suite run at, so a sweep or a Verify dump does not change with the host. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def apply(cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
