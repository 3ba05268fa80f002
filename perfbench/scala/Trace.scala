package graftbench

import scala.collection.mutable

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one benchmark-side call into a layer. Times are epoch µs. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startUs: Long, endUs: Long)

/** Counters of one layer tag (the span a Spark job was submitted under). */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows, outputBytes = 0L
}

/** Records spans in memory and, while enabled, feeds per-tag counters from a
  * SparkListener and Catalyst phase times from a QueryExecutionListener.
  * Both listeners belong to the benchmark; they are registered only for
  * traced passes, so untraced passes run with no listener at all.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val anchorUs = System.currentTimeMillis() * 1000
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val TagKey = "graftbench.span"

  /** Run `body` as span `name` under `parent`; jobs it submits carry `name`. */
  def span[T](name: String, parent: Long, op: Long)(body: => T): T = {
    nextId += 1
    val id = nextId
    val prevTag = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, name)
    val t0 = nowUs
    try body
    finally {
      spans += Span(id, parent, op, name, t0, nowUs)
      sc.setLocalProperty(TagKey, prevTag)
    }
  }
  def newId(): Long = { nextId += 1; nextId }
  def record(s: Span): Unit = spans += s

  // --- Spark-side counters (filled on the listener bus thread) ---
  val byTag = mutable.Map.empty[String, Acc]
  private val stageTag = mutable.Map.empty[Int, String]
  private def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)

  /** Catalyst phase sums (ms) and one (startMs, endMs) window per query. */
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val planWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Output arity of each V2 write (the noop sink) seen, in order. */
  val writeArity = mutable.ArrayBuffer.empty[Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("other")
      acc(tag).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      acc(stageTag.getOrElse(e.stageInfo.stageId, "other")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(stageTag.getOrElse(e.stageId, "other"))
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val phases = qe.tracker.phases
        phases.foreach { case (p, s) => phaseMs(p) += s.durationMs }
        if (phases.nonEmpty)
          planWindows += ((phases.values.map(_.startTimeMs).min, phases.values.map(_.endTimeMs).max))
        qe.analyzed.collectFirst { case w: V2WriteCommand => w.query.output.size }
          .foreach(writeArity += _)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The returned frame was analyzed eagerly while it was built, in a query
    * execution no listener sees; count that analysis phase too. */
  def noteAnalysis(df: org.apache.spark.sql.DataFrame): Unit = synchronized {
    df.queryExecution.tracker.phases.get("analysis").foreach(s => phaseMs("analysis") += s.durationMs)
  }

  private var on = false
  def enable(): Unit = if (!on) {
    sc.addSparkListener(sparkListener); spark.listenerManager.register(qeListener); on = true
  }
  def disable(): Unit = if (on) {
    drain(); sc.removeSparkListener(sparkListener); spark.listenerManager.unregister(qeListener)
    on = false
  }
  /** Wait until both listeners have seen every event posted so far (the
    * QueryExecutionListener callbacks ride the same bus). */
  def drain(): Unit = ListenerBusBridge.drain(sc)
}
