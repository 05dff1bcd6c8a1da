package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON writer for the harness' record (no dependency beyond the
  * Scala library). */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None          => "null"
    case Some(x)              => apply(x)
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_]          => apply(a.toSeq)
    case s: Iterable[_]       => s.map(apply).mkString("[", ",", "]")
    case p: Product           => apply(p.productElementNames.zip(p.productIterator).toMap)
    case other                => quote(other.toString)
  }
}

/** One traced interval: a call into a layer from the benchmark. `parent`
  * is the id of the enclosing span (0 = none). Times are ns since the
  * tracer's origin. */
final case class Span(id: Int, parent: Int, name: String, layer: String, start: Long, end: Long)

/** In-memory span recorder. Spans nest per thread; disabled tracers
  * record nothing and add one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime() - origin
      try body
      finally {
        stack.set(stack.get.tail)
        add(Span(id, parent, name, layer, t0, System.nanoTime() - origin))
      }
    }

  /** Record a top-level span measured elsewhere in wall-clock ms (a
    * streaming micro-batch, from its progress event). */
  def recordWall(name: String, layer: String, startMs: Long, endMs: Long): Unit =
    if (enabled) {
      val shift = System.currentTimeMillis() * 1000000L - (System.nanoTime() - origin)
      add(Span(ids.incrementAndGet(), 0, name, layer, startMs * 1000000L - shift, endMs * 1000000L - shift))
    }

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Spark job/stage/task counters per benchmark phase. The phase is the
  * [[LayerListener.TagKey]] local property set by the harness before each
  * call; jobs carry it in their properties, stages and tasks inherit it
  * from their job. Read after [[LayerListener.drain]]. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val aggs = mutable.Map[String, Agg]()

  private def agg(tag: String): Agg = aggs.synchronized(aggs.getOrElseUpdate(tag, new Agg))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("other")
    e.stageIds.foreach(stageTag.put(_, tag))
    agg(tag).synchronized(agg(tag).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageTag.getOrDefault(e.stageInfo.stageId, "other"))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = agg(stageTag.getOrDefault(e.stageId, "other"))
    a.synchronized {
      a.tasks += 1
      a.busyMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
      a.recordsRead += m.inputMetrics.recordsRead
      a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  /** Counters of `tag` since the last take, then reset. */
  def take(sc: SparkContext, tag: String): Agg = {
    drain(sc)
    aggs.synchronized(aggs.remove(tag)).getOrElse(new Agg)
  }
}

object LayerListener {
  val TagKey = "perfbench.layer"

  final class Agg {
    var jobs, stages, tasks, busyMs, gcMs, shuffleWrite, spill, bytesRead, recordsRead = 0L
    val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

    /** Per stage with two or more tasks: max over median task run time;
      * averaged over stages, weighted by each stage's busy time. */
    def skew: Double = {
      val st = stageTasks.values.filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        val med = math.max(1.0, (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0)
        (s.last / med, s.sum.toDouble)
      }
      val w = st.map(_._2).sum
      if (w <= 0) 1.0 else st.map { case (r, b) => r * b }.sum / w
    }

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_busy_s" -> busyMs / 1000.0, "gc_s" -> gcMs / 1000.0,
      "shuffle_write_mb" -> shuffleWrite / 1e6, "spill_mb" -> spill / 1e6,
      "bytes_read_mb" -> bytesRead / 1e6, "rows_read" -> recordsRead, "task_skew" -> skew)
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Every streaming progress event, kept in memory per query id. */
final class ProgressListener extends StreamingQueryListener {
  import StreamingQueryListener._
  val events = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
