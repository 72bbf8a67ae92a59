package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.util.Ckpt

/** Writes the inputs of `perfbench/make_expected.py`: each query's
  * full result as Parquet under `out/<query>`, its digest (as the
  * benchmark computes it) in `out/digests.tsv`, and the engine's oracle
  * SQL in `out/oracle_sql.json`.
  *
  * Usage: Expected <dataDir> <outDir> <cores> */
object Expected {
  def main(args: Array[String]): Unit = {
    val Array(data, out, cores) = args
    val names = Main.curationStages
    val spark = Main.session(cores.toInt, out)
    val lines = names.map { n =>
      val fn = SparkEntry.queries(n)
      val d =
        try {
          val df = fn(spark, data)
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
          Ckpt.release(spark, blocking = true)
          Main.digest(fn(spark, data).collect())
        } catch { case e: Throwable =>
          s"error: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"
        } finally Ckpt.release(spark, blocking = true)
      System.err.println(s"[expected] $n $d")
      s"$n\t$d"
    }
    Files.write(Paths.get(s"$out/digests.tsv"), lines.asJava)
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
