package graft

/** Print the formatted physical plan of registered queries, in ONE
  * session built by [[GraftSession]]:
  * `runMain graft.Explain <q1,q2,...|all> [sfDir]`. Each plan is printed
  * under a `== <query> ==` header; a query that fails to plan prints
  * `EXPLAIN FAILED: <exception>` in its place. */
object Explain {
  def main(args: Array[String]): Unit = {
    val names: Seq[String] =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.build(defaultCpus = "4")
    names.foreach { name =>
      val plan =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case t: Throwable => s"EXPLAIN FAILED: $t" }
      println(s"== $name ==\n$plan")
    }
    spark.stop()
  }
}
