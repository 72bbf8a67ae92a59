package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (SURVEY.md §5 guidance:
  * one SparkSession per suite/JVM, not per test). */
object TestSpark {
  lazy val session: SparkSession = LocalSession(4)
  val Sf = "/root/testdata/sf0.001"
}
