package graft

/** Plan inspector: prints the formatted physical plan for the named queries
  * (or all). `sbt "runMain graft.Plans rel_topk rel_join_broadcast"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.benchSession(Bench.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.allQueries.map(_.name)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
