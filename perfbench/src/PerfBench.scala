package org.apache.spark.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Calls into single layers, timed on their own in traced runs. */
object Probes {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** `expr`: `TextFunctions.charNgramCodes(text, 3)` over the generated
    * corpus (`documents.parquet`); its rows and seconds. */
  def ngram(spark: SparkSession, tr: Tracer, dir: String): Map[String, Any] = {
    import org.apache.spark.sql.functions.{col, count, lit, size, sum}
    val (rows, s) = timed(tr.span("expr.ngram", "expr") {
      spark.read.parquet(s"$dir/documents.parquet")
        .select(count(lit(1)), sum(size(org.apache.spark.sql.graft.TextFunctions.charNgramCodes(col("text"), 3))))
        .head().getLong(0)
    })
    Map("rows" -> rows, "s" -> s)
  }
}

/** Spans of every traced pass, written out once at the end of the run. */
object Trace {
  private val kept = mutable.ArrayBuffer[Span]()
  def keep(tr: Tracer): Unit = kept.synchronized { kept ++= tr.all }
  def all: Seq[Span] = kept.synchronized(kept.toList)
}

/** Benchmark harness main, launched by `perfbench/run.py`:
  *
  *   PerfBench <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores> <setupReps> <rates>
  *
  * `rates` (events/s, comma-separated) are gmall_stream's offered rates.
  *
  * Writes `<outDir>/result.json` (raw samples; run.py turns them into
  * metrics) and, when tracing, `<outDir>/spans.json`. */
object PerfBench {

  val GmallQueries = Seq("q_pv_hourly", "q_uv_hourly", "q_uv_daily_approx", "q_channel_stats",
    "q_sessions", "q_hot_items", "q_hot_pages", "q_ad_blacklist", "q_login_fail",
    "q_order_timeout", "q_reconcile")

  val CorpusQueries = Seq("p_daily_admission", "p_near_ingest_e2e", "d_near_ingest",
    "d_dedup_clusters", "d_cluster_sizes")

  /** Session config as graft.Bench: local[cores], shuffle partitions =
    * cores, AQE on, UTC, no UI; all scratch under the run dir. */
  def session(cores: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `reps` set-ups, each a fresh session plus the untimed warm call
    * (`teardown` runs before a session is replaced); returns the last
    * session (kept for the timed phase) and each set-up's seconds. */
  def setup(cores: Int, out: String, reps: Int, teardown: () => Unit = () => ())(
      warm: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val secs = (0 until reps).map { _ =>
      if (spark != null) {
        teardown()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cores, out)
      warm(spark)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, secs)
  }

  def writeFile(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes(UTF_8))

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, out, secondsArg, traceArg, coresArg, repsArg, ratesArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val reps = repsArg.toInt
    val t0 = System.nanoTime()
    val rec: Map[String, Any] = workload match {
      case "gmall_batch" | "corpus_admission" =>
        val (queries, table) =
          if (workload == "gmall_batch") (GmallQueries, "events") else (CorpusQueries, "documents")
        val w = new BatchWorkload(dir, queries, table)
        new java.io.File(s"$out/check").mkdirs()
        // the untimed warm pass of each set-up is also the correctness pass
        val (spark, setupS) = setup(cores, out, reps)(s => w.dumpForCheck(s, s"$out/check"))
        w.timed(spark, seconds, trace)
        spark.stop()
        w.record ++ Map("setup_s" -> setupS)
      case "gmall_stream" =>
        StreamWorkload.run(dir, out, seconds, trace, cores, reps, ratesArg.split(",").map(_.toInt).toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) writeFile(s"$out/spans.json", Json(Trace.all))
    writeFile(s"$out/result.json", Json(rec ++ Map(
      "peak_rss_mb" -> peakRssMb, "jvm_wall_s" -> (System.nanoTime() - t0) / 1e9)))
    // streaming leaves non-daemon engine threads behind that hold the JVM
    // open long after the sessions stopped
    System.exit(0)
  }
}
