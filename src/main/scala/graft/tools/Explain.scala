package graft.tools

/** Dump formatted physical plans for the named queries (or all):
  * `runMain graft.tools.Explain [q15_dedup_minhash ...]` — the
  * plan-audit loop: check pushed filters, read schemas, join
  * strategies, exchange counts.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, dir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
