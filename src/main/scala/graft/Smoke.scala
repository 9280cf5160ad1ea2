package graft

/** Quick end-to-end smoke: runs SparkEntry.entry (the driver's t1 gate) and
  * prints the row count. `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Bench.benchSession(Bench.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY ROWS: " + df.count())
    df.show(5, truncate = false)
    spark.stop()
  }
}
