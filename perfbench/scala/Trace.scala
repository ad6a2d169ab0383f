package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** Span recorder plus stage listener for the traced run.
  *
  * A span is (id, parent, request, layer, name, start, end); all spans
  * of one query execution share its request id. Spans are kept in
  * memory and written once, with the report. The current span id rides
  * on a Spark local property, so the listener can bill every job,
  * stage and task to the span that launched it.
  */
final class Trace(spark: SparkSession, val cores: Int) {
  import Trace._
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val stats = new ConcurrentHashMap[Int, StageStats]()
  private val listener = new Listener(stats)
  sc.addSparkListener(listener)

  /** Opens a span; `req` is the request id (inherited when empty). */
  def begin(req: String, layer: String, name: String): Span = {
    val parent = stack.headOption
    val s = Span(spans.size, parent.fold(-1)(_.id),
      if (req.nonEmpty) req else parent.fold("")(_.req), layer, name,
      System.nanoTime())
    spans += s
    stack ::= s
    sc.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  def end(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack = stack.dropWhile(_ ne s).drop(1)
    sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
  }

  def span[T](layer: String, name: String, req: String = "")(body: => T): T = {
    val s = begin(req, layer, name)
    try body finally end(s)
  }

  /** Stage statistics of one span, after all its events arrived. */
  def statsOf(s: Span): StageStats = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Option(stats.get(s.id)).getOrElse(new StageStats)
  }

  def report(): Map[String, Any] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Map("spans" -> spans.map { s =>
      val st = Option(stats.get(s.id)).getOrElse(new StageStats)
      Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ st.toMap
    })
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, req: String, layer: String,
      name: String, startNs: Long) {
    var endNs: Long = startNs
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Work billed to one span by the listener. */
  final class StageStats {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "shuffle_write_b" -> shuffleWrite,
      "shuffle_read_b" -> shuffleRead, "spill_b" -> spill)
  }

  private final class Listener(stats: ConcurrentHashMap[Int, StageStats])
      extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    private def of(span: Int) = stats.computeIfAbsent(span, _ => new StageStats)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .foreach { id =>
          val span = id.toInt
          of(span).jobs += 1
          e.stageIds.foreach(stageSpan.put(_, span))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(of(_).stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (span <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val st = of(span)
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }
}
