package perfbench

import scala.collection.mutable

import org.apache.spark.BenchListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` is the id of the span that was open when it
  * started (0 for a root), `attr` a free-form tag such as a module name. */
final case class Span(id: Int, name: String, attr: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around every public call the benchmark makes, plus Spark listener
  * tallies, for the traced run only. Spans stay in memory and are written
  * out once, when the run ends. While a span is open its id is set as a
  * local property of the calling thread, so each Spark job (and its stages
  * and tasks) is attributed to the innermost span that started it. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var nextId = 1
  private val stack = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer[Span]()
  private var on = false
  def tracing: Boolean = on

  /** Times `f` as a span when tracing is on; runs it bare otherwise. */
  def span[A](name: String, attr: String = "")(f: => A): A =
    if (!on) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, name, attr, parent, t0, System.nanoTime())
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.toString).orNull)
      }
    }

  val tally = new Tally

  /** Starts tracing: listeners attached, tallies zeroed. */
  def start(): Unit = {
    BenchListenerBus.drain(sc)
    tally.reset()
    sc.addSparkListener(tally)
    spark.listenerManager.register(tally.planning)
    on = true
  }

  /** Stops tracing once every event of the traced work has been delivered. */
  def stop(): Unit = {
    on = false
    BenchListenerBus.drain(sc)
    sc.removeSparkListener(tally)
    spark.listenerManager.unregister(tally.planning)
  }

  /** Self time per span name: each span's duration minus the part of it
    * that its child spans cover (children never overlap: one thread). */
  def selfSeconds(of: Seq[Span]): Map[String, Double] = {
    val childTime = of.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    of.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val byName = selfSeconds(spans.toSeq)
    val sb = new StringBuilder("{\"spans\":[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"attr":${Json.str(s.attr)},""")
      sb.append(s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("],\"self_s\":").append(Json.obj(byName.toSeq.sortBy(_._1).map {
      case (k, v) => k -> Json.num(v)
    })).append('}')
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Scheduler, executor, shuffle, input and Catalyst counts for the traced
  * work. Counters are only read after the listener bus is drained. */
final class Tally extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var planMs = 0L
  /** Jobs per span id that started them. */
  val jobsBySpan = mutable.Map[Int, Int]().withDefaultValue(0)
  /** Task durations per stage, for the skew of the heaviest stage. */
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0; inputBytes = 0
    inputRecords = 0; planMs = 0
    jobsBySpan.clear(); stageTasks.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
    span.foreach(s => jobsBySpan(s.toInt) += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Max ÷ median task time in the stage with the most task time. */
  def skew: Double = synchronized {
    val heaviest = stageTasks.values.maxByOption(_.sum)
    heaviest.map { ts =>
      val s = ts.sorted
      val median = s(s.size / 2)
      if (median > 0) s.last.toDouble / median else 1.0
    }.getOrElse(0.0)
  }

  /** Analysis + optimisation + planning time of every executed query. */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Tally.this.synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }
}
