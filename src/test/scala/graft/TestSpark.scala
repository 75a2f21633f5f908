package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, with the engine's
  * semantics ([[GraftSession.builder]]) so specs see what mains see.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("graft-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
