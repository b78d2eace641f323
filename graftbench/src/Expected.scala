package graftbench

import org.apache.spark.sql.SparkSession

/** Prints the expected-fingerprint lines (`workload key rows hash source`)
  * of a workload from a Verify output directory whose results passed
  * `tools/compare.py` at the workload's scale.
  *
  * Usage: Expected <workload> <verify-out-dir> */
object Expected {
  def main(argv: Array[String]): Unit = {
    val Array(workload, verifyOut) = argv
    val w = Workloads(workload)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    w.keys.sorted.foreach { k =>
      val (rows, hash) = Harness.fingerprint(spark.read.parquet(s"$verifyOut/$k"))
      println(s"${w.name}\t$k\t$rows\t$hash\toracle")
    }
    spark.stop()
  }
}
