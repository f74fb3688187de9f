package graft.tools

/** Dev smoke runner: drives SparkEntry.entry exactly as the driver's
  * t1 smoke does (rows > 0) and prints the result.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("graft-smoke", 4)
    val df = graft.SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}
