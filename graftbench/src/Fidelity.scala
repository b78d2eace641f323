package graftbench

import scala.collection.mutable
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.WriteFiles
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry

/** Sink-fidelity check: the plan the benchmark times through the noop sink
  * is Verify's plan below the write node, and it keeps the work `count()`
  * lets Catalyst prune: c45's per-round exchanges and b70's Window.
  *
  * Usage: Fidelity <testdata-dir> <scratch-dir>. Prints PASS/FAIL lines and
  * exits 1 if any check fails. */
object Fidelity {
  def main(argv: Array[String]): Unit = {
    val Array(data, scratch) = argv
    val spark = Harness.session(scratch, trace = false)
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    /** The QueryExecution of the one action `body` runs. */
    def capture(body: => Unit): QueryExecution = {
      seen.synchronized(seen.clear())
      body
      val t0 = System.nanoTime()
      while (seen.synchronized(seen.isEmpty) && System.nanoTime() - t0 < 10e9) Thread.sleep(5)
      seen.synchronized(seen.last)
    }
    var failures = 0
    def check(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $what")
      if (!ok) failures += 1
    }

    for ((key, sf) <- Seq("c45_pagerank" -> "sf0.01", "b70_interpolate" -> "sf0.001")) {
      val df = SparkEntry.queries(key)(spark, s"$data/$sf")
      val noop = capture(Harness.sink(df))
      val verify = capture(df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/$key"))
      val counted = capture(df.count())
      check(query(noop.optimizedPlan).sameResult(query(verify.optimizedPlan)),
        s"$key: noop-sink plan equals Verify's plan below the write node")
      check(!query(noop.optimizedPlan).sameResult(counted.optimizedPlan),
        s"$key: the count() plan differs from it")
      val nodes = Collector.nodes(noop.executedPlan)
      val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      val countExchanges = Collector.nodes(counted.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])
      key match {
        case "c45_pagerank" =>
          check(exchanges > countExchanges,
            s"$key: noop sink runs $exchanges exchanges, count() $countExchanges")
        case _ =>
          check(nodes.exists(_.isInstanceOf[WindowExec]), s"$key: noop sink keeps the Window")
      }
    }
    spark.stop()
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** The query under a write node, without Verify's single-file coalesce
    * (which only sets the number of output files). */
  def query(p: LogicalPlan): LogicalPlan = p match {
    case w: V2WriteCommand => query(w.query)
    case w: DataWritingCommand => query(w.query)
    case w: WriteFiles => query(w.child)
    case Repartition(1, false, child) => child
    case other => other
  }
}
