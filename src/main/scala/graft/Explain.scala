package graft

/** Dev-only: print the formatted physical plan of one query.
  * Usage: Explain <query_name> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = LocalSession()
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
