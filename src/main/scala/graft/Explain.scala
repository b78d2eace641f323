package graft
import graft.operators.Sessions

/** Dev tool: print the formatted physical plan of the selected queries.
  * Usage: runMain graft.Explain <sfDir> [<prefix> ...]
  * (no prefixes = all queries; a full query name is its own prefix). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = SparkEntry.select(args.drop(1).toSeq)
    val spark = Sessions.local(Sessions.envCpus)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
