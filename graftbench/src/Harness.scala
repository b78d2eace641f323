package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** One benchmark run in one JVM: session start and one cold pass over the
  * workload's keys (together the set-up), the live heap after forced full
  * GCs, timed passes (at least [[MinPasses]], and at least --seconds long),
  * then the output check.
  *
  * Every execution is timed from the `SparkEntry.queries(k)(spark, sf)` call
  * until `write.format("noop")` returns: the noop sink executes the same
  * physical plan Verify writes, minus parquet encoding, where `count()` would
  * let Catalyst prune sorts, windows and iterative chains.
  *
  * With `--trace 1` the run records spans and per-layer numbers from Spark's
  * listener APIs and prints the per-layer metrics instead of the end-to-end
  * ones; the untraced run's end-to-end numbers are unaffected by tracing. */
object Harness {
  /** Timed passes per run at least, however short --seconds is. JIT
    * leaves the first warm passes 10-40% slower than later ones: over six
    * passes each key's median sits past the steepest part of that, and a
    * fixed pass count keeps a slow run from fitting fewer of the fast late
    * passes than its neighbours. */
  val MinPasses = 6

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        spawnNs: Long, data: String, out: String, expected: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("spawn-ns").toLong, need("data"), need("out"), need("expected"))
  }

  def epochNs(): Long = { val t = java.time.Instant.now(); t.getEpochSecond * 1000000000L + t.getNano }

  /** The session Verify builds (local[cores], shuffle partitions = cores,
    * UTC), with scratch and warehouse dirs kept under the run's output dir. */
  def session(out: String, trace: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The timed sink: executes the whole physical plan and discards the rows. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Row count and an order-insensitive content hash: the exact decimal sum
    * of one 64-bit hash per row, each taken over the row's JSON text. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Expected fingerprints: `workload key rows hash source` per TSV line. */
  def loadExpected(path: String, workload: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
      .collect { case Array(`workload`, k, rows, hash, _) => k -> (rows.toLong, hash) }.toMap

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  /** Heap left by a full GC (the heap pools' usage after their last
    * collection, so nothing allocated since counts), repeated while Spark's
    * cleaner, which runs on what a GC frees, frees more. */
  def liveHeapMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    def used = { System.gc(); Thread.sleep(100); pools.map(_.getCollectionUsage.getUsed).sum }
    var (prev, cur, rounds) = (Long.MaxValue, used, 1)
    while (cur < prev - (1L << 20) && rounds < 6) { prev = cur; cur = used; rounds += 1 }
    cur / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload)
    val sfDir = s"${a.data}/${w.sf}"
    require(new File(sfDir).isDirectory, s"input dir $sfDir not found")
    val expected = loadExpected(a.expected, w.name)
    val unchecked = w.keys.filterNot(expected.contains)
    require(unchecked.isEmpty, s"no expected fingerprint for ${unchecked.mkString(", ")}")
    new File(a.out).mkdirs()

    val spark = session(a.out, a.trace)
    val sessionS = (epochNs() - a.spawnNs) / 1e9
    val cores = spark.sparkContext.defaultParallelism
    val tracer = if (a.trace) Some(new Trace(spark, cores, s"${w.name}/${a.seed}")) else None

    var attempted = 0
    var failed = 0
    /** Runs one key through the sink; None if it threw. */
    def execute(key: String, pass: Int): Option[Double] = {
      attempted += 1
      val r = tracer match {
        case Some(t) => t.query(key, pass)(SparkEntry.queries(key)(spark, sfDir))
        case None =>
          val t0 = System.nanoTime()
          try {
            sink(SparkEntry.queries(key)(spark, sfDir))
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case NonFatal(e) =>
            System.err.println(s"[graftbench] $key failed: $e"); None
          }
      }
      if (r.isEmpty) failed += 1
      r
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def compileNs: Long = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

    // set-up: the cold pass pays memo builds, at-rest layout writes,
    // codegen and JIT
    val (cg0, cc0) = (compileNs, codegen.getCount)
    // the key order of every pass, for the seed test
    val order = new PrintWriter(new File(a.out, "passes.tsv"))
    val cold0 = System.nanoTime()
    val coldKeys = Workloads.order(w, a.seed, 0)
    order.println(s"0\t${coldKeys.mkString(",")}")
    coldKeys.foreach(execute(_, 0))
    val firstPassS = (System.nanoTime() - cold0) / 1e9
    val (cg1, cc1) = (compileNs, codegen.getCount)
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    // live heap at a fixed point, after set-up: later it would grow with
    // the number of passes a run fits (Spark's status store keeps every job)
    val heapLiveMb = liveHeapMb()

    // timed passes
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passGc = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.ArrayBuffer.empty[Double]
    val perKey = mutable.LinkedHashMap(w.keys.sorted.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val timed0 = System.nanoTime()
    var pass = 1
    while (passWall.size < MinPasses || (System.nanoTime() - timed0) / 1e9 < a.seconds) {
      val g0 = gcMs
      val p0 = System.nanoTime()
      val keys = Workloads.order(w, a.seed, pass)
      order.println(s"$pass\t${keys.mkString(",")}")
      keys.foreach(k => execute(k, pass).foreach { t => samples += t; perKey(k) += t })
      passWall += (System.nanoTime() - p0) / 1e9
      passGc += (gcMs - g0) / 1e3
      pass += 1
    }
    order.close()
    val timedS = (System.nanoTime() - timed0) / 1e9
    // a typical pass, key by key: each key's median over the timed passes,
    // so a pass that a stall or late JIT hit counts once per key at most
    val keyMedians = perKey.map { case (k, xs) => k -> (if (xs.isEmpty) Double.NaN else median(xs.toSeq)) }
    val passS = keyMedians.values.sum

    // output check, after set-up and the timed passes
    tracer.foreach(_.enable(false))
    val check0 = System.nanoTime()
    val fp = new PrintWriter(new File(a.out, "fingerprints.tsv"))
    w.keys.sorted.foreach { k =>
      attempted += 1
      val got = try Some(fingerprint(SparkEntry.queries(k)(spark, sfDir)))
        catch { case NonFatal(e) => System.err.println(s"[graftbench] check $k failed: $e"); None }
      got.foreach { case (rows, hash) => fp.println(s"$k\t$rows\t$hash") }
      if (!got.contains(expected(k))) {
        failed += 1
        System.err.println(s"[graftbench] $k: fingerprint ${got.getOrElse("-")} != expected ${expected(k)}")
      }
    }
    fp.close()
    val checkS = (System.nanoTime() - check0) / 1e9
    tracer.foreach(_.enable(true))

    val end2end = Seq(
      ("setup_s", sessionS + firstPassS, "s"),
      ("pass_s", passS, "s"),
      ("heap_live_mb", heapLiveMb, "MB"))
    // summary line only: with one middle key of five, p50 is that key's
    // latency; p90 needs 100 samples; failed_frac is 0 on a correct run
    val latency = Seq(
      ("query_p50_s", median(samples.toSeq), "s"),
      ("query_p90_s", quantile(samples.toSeq, 0.9), "s"),
      ("failed_frac", failed.toDouble / attempted, "ratio"))
    val setupLayers = Seq(
      ("setup.session_s", sessionS, "s"),
      ("setup.first_pass_s", firstPassS, "s"),
      ("setup.cached_mb", cachedMb, "MB"),
      ("codegen.compile_s", (cg1 - cg0) / 1e9, "s"),
      ("codegen.classes", (cc1 - cc0).toDouble, "count"),
      ("jvm.gc_s", median(passGc.toSeq), "s"),
      ("jvm.peak_rss_mb", Trace.peakRssMb, "MB"))
    val reported = tracer match {
      case Some(t) =>
        t.writeArtifacts(a.out)
        setupLayers ++ t.passMetrics ++ Seq(("trace.pass_s", passS, "s"))
      case None => end2end
    }
    // human-readable record of the run, with the latency sample count
    println(s"""{"workload": "${w.name}", "seed": ${a.seed}, "trace": ${a.trace}, "passes": ${passWall.size}, """ +
      s""""pass_walls_s": ${passWall.map(fmt).mkString("[", ", ", "]")}, "query_samples": ${samples.size}, """ +
      s""""timed_s": ${fmt(timedS)}, "check_s": ${fmt(checkS)}, """ +
      s""""key_walls_s": ${perKey.map { case (k, v) => s""""$k": ${v.map(fmt).mkString("[", ", ", "]")}""" }.mkString("{", ", ", "}")}, """ +
      s""""summary": ${metricsJson(end2end ++ latency ++ setupLayers)}}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${metricsJson(reported)}}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
