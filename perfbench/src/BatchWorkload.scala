package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.io.Tables

/** Closed-loop batch workload: one client runs the workload's query list
  * one query at a time through `SparkEntry.queries`. Each query is split
  * into three calls, as `graft.TimeProbe` does: constructing the
  * DataFrame (layer `entry`, build), forcing `queryExecution.executedPlan`
  * (layer `entry`, plan), and executing that same physical plan (layer
  * `ops`), so planning is paid once. */
final class BatchWorkload(dir: String, queries: Seq[String], table: String) {

  final case class Sample(name: String, pass: Int, traced: Boolean,
      build_s: Double, plan_s: Double, exec_s: Double, total_s: Double, rows: Long)

  val samples = mutable.ArrayBuffer[Sample]()
  val passes = mutable.ArrayBuffer[Map[String, Any]]()
  val layers = mutable.ArrayBuffer[Map[String, Any]]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L

  private def tag(spark: SparkSession, t: String): Unit =
    spark.sparkContext.setLocalProperty(LayerListener.TagKey, t)

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** One query through build -> plan -> exec; None if it threw. */
  def runQuery(spark: SparkSession, tr: Tracer, name: String, pass: Int): Option[Sample] = {
    attempted += 1
    try tr.span(s"query:$name", "bench") {
      val t0 = System.nanoTime()
      tag(spark, "build")
      val df = tr.span("entry.build", "entry")(SparkEntry.queries(name)(spark, dir))
      val t1 = System.nanoTime()
      tag(spark, "plan")
      tr.span("entry.plan", "entry")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      tag(spark, "exec")
      val rows = tr.span("ops.exec", "ops")(df.queryExecution.toRdd.count())
      val t3 = System.nanoTime()
      tag(spark, "other")
      spark.catalog.clearCache()
      Some(Sample(name, pass, tr.enabled, secs(t0, t1), secs(t1, t2), secs(t2, t3), secs(t0, t3), rows))
    } catch {
      case e: Exception =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        spark.catalog.clearCache()
        None
    }
  }

  /** One timed pass over the query list. */
  def pass(spark: SparkSession, tr: Tracer, p: Int): Unit = {
    val t0 = System.nanoTime()
    val got = queries.flatMap(q => runQuery(spark, tr, q, p))
    samples ++= got
    passes += Map("pass" -> p, "traced" -> tr.enabled, "wall_s" -> secs(t0, System.nanoTime()), "ok" -> got.size)
  }

  /** Timed phase: passes until `seconds` have elapsed (at least two). A
    * traced run makes at least four, untraced and traced in the order
    * ABBA ABBA .., so the record carries the tracing overhead without
    * favouring either side with warm-up; layer counters cover the traced
    * passes. */
  def timed(spark: SparkSession, seconds: Double, trace: Boolean): Unit = {
    val t0 = System.nanoTime()
    var p = 0
    while (p < (if (trace) 4 else 2) || secs(t0, System.nanoTime()) < seconds) {
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      val tr = new Tracer(traced)
      if (traced) {
        val l = new LayerListener
        spark.sparkContext.addSparkListener(l)
        pass(spark, tr, p)
        layers += layerRecord(spark, tr, l, p)
        spark.sparkContext.removeSparkListener(l)
        Trace.keep(tr)
      } else pass(spark, tr, p)
      p += 1
    }
  }

  /** Per-pass layer numbers: the listener's counters by phase, plus the
    * `io` scan-only call and the `expr` n-gram call, each timed on its
    * own after the pass. */
  private def layerRecord(spark: SparkSession, tr: Tracer, l: LayerListener, p: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    val build = l.take(sc, "build")
    val plan = l.take(sc, "plan")
    val exec = l.take(sc, "exec")
    tag(spark, "io")
    val (scanRows, scanS) = Probes.timed(tr.span("io.scan", "io") {
      val t = Tables(spark, dir)
      (if (table == "events") t.events else t.documents).queryExecution.toRdd.count()
    })
    val io = l.take(sc, "io")
    tag(spark, "expr")
    val exprRec = Probes.ngram(spark, tr, dir)
    l.take(sc, "expr")
    tag(spark, "other")
    Map("pass" -> p, "build" -> build.toMap, "plan" -> plan.toMap, "exec" -> exec.toMap,
      "io_scan" -> (io.toMap ++ Map("s" -> scanS, "rows" -> scanRows)), "expr" -> exprRec)
  }

  /** Warm pass that doubles as the correctness pass: each result to
    * parquet, plus the oracle SQL the checker runs on the same generated
    * tables. Failures are counted on the last set-up only. */
  def dumpForCheck(spark: SparkSession, out: String): Unit = {
    val oracle = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    PerfBench.writeFile(s"$out/oracle_sql.json", Json(oracle))
    queries.foreach { q =>
      new java.io.File(s"$out/$q.error").delete()
      try SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q")
      catch {
        case e: Exception =>
          PerfBench.writeFile(s"$out/$q.error", String.valueOf(e.getMessage))
      }
      spark.catalog.clearCache()
    }
  }

  def record: Map[String, Any] = Map(
    "samples" -> samples.toSeq, "passes" -> passes.toSeq, "layers" -> layers.toSeq,
    "errors" -> errors.toSeq, "attempted" -> attempted)
}
