package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
                      attrs: Seq[(String, String)] = Nil) {
  def durMs: Double = endMs - startMs
}

/** The traced run's recorder. Spans are kept in memory and written when
  * the run ends. Counters come from listeners attached from outside the
  * program: a SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for planning time and executed-plan metrics. */
final class Tracer {
  private val spans = ArrayBuffer[Span]()
  private var nextId = 1
  private val open = scala.collection.mutable.Stack[Int]()

  def add(parent: Int, name: String, startMs: Double, endMs: Double,
          attrs: Seq[(String, String)] = Nil): Int = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, parent, name, startMs, endMs, attrs)
    id
  }

  /** A span around `f`, nested under the innermost open span. */
  def span[A](name: String)(f: => A): A = {
    val parent = synchronized(open.headOption.getOrElse(0))
    val id = add(parent, name, Sut.wallMs(), Double.NaN, Seq("own" -> "1"))
    synchronized(open.push(id))
    try f
    finally synchronized {
      open.pop()
      val i = spans.indexWhere(_.id == id)
      spans(i) = spans(i).copy(endMs = Sut.wallMs())
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  // ------------------------------------------------------------ counters

  final class Totals {
    var runMs, cpuMs, gcMs = 0.0
    var inputBytes, shuffleWrite, shuffleRead, spill, outputBytes = 0L
    var jobs, tasks = 0L
    var planningMs = 0.0
    var broadcastBytes, candidates, verified = 0L
  }
  @volatile var totals = new Totals
  /** Starts the measured phases: counters, jobs and stages seen so far
    * (set-up's warm-up batches) are dropped. */
  def reset(): Unit = synchronized {
    totals = new Totals
    jobs.clear()
    stages.clear()
  }

  private final case class Job(id: Int, startMs: Double, batch: Option[Long],
      stages: Seq[Int], var endMs: Double = Double.NaN)
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stages = ArrayBuffer[(Int, String, Double, Double, Seq[(String, String)])]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val batch = Option(e.properties).flatMap(p =>
        Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
      jobs(e.jobId) = Job(e.jobId, e.time.toDouble, batch, e.stageIds)
      totals.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stages += ((i.stageId, i.name, s.toDouble, c.toDouble,
            Seq("tasks" -> i.numTasks.toString)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val t = totals
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuMs += m.executorCpuTime / 1e6
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.outputBytes += m.outputMetrics.bytesWritten
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val ns = Tracer.nodes(qe.executedPlan)
      val bcast = ns.collect { case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L) }.sum
      // The near-dup verify is the node (a filter or a join condition)
      // evaluating pcm_aligned_corr; its candidates are the materialized
      // (id_a, id_b) pair sets the same plan scans.
      val verifies = ns.filter(n => n.metrics.contains("numOutputRows") &&
        n.expressions.exists(_.exists(_.getClass.getSimpleName == "PcmAlignedCorr")))
      val candidateScans = if (verifies.isEmpty) Nil else ns.filter(n =>
        n.children.isEmpty && n.output.map(_.name) == Seq("id_a", "id_b"))
      def rows(n: SparkPlan) = n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      Tracer.this.synchronized {
        totals.planningMs += planning
        totals.broadcastBytes += bcast
        totals.verified += verifies.map(rows).sum
        totals.candidates += candidateScans.map(rows).sum
      }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
  }

  /** Waits for the listener bus to deliver every posted event (the bus is
    * package-private in Spark, hence the reflection). */
  def drain(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethods.find(_.getName == "waitUntilEmpty")
    m.foreach(mm => scala.util.Try(
      if (mm.getParameterCount == 0) mm.invoke(bus) else mm.invoke(bus, Long.box(10000L))))
  }

  /** Adds the jobs and stages the listener saw as spans: a job under the
    * micro-batch named by its `streaming.sql.batchId` property, else under
    * the innermost benchmark span open when it started; a stage under its
    * job. */
  def linkJobs(batchSpans: Map[Long, Int]): Unit = {
    val (js, ss) = synchronized((jobs.values.toList, stages.toList))
    val own = all.filter(s => s.attrs.exists(_._1 == "own"))
    def enclosing(t: Double): Int =
      own.filter(s => s.startMs <= t && t <= s.endMs).sortBy(_.startMs).lastOption
        .map(_.id).getOrElse(0)
    val jobSpan = js.filter(!_.endMs.isNaN).map { j =>
      val parent = j.batch.flatMap(batchSpans.get).getOrElse(enclosing(j.startMs))
      j -> add(parent, "job", j.startMs, j.endMs, Seq("job_id" -> j.id.toString))
    }
    ss.foreach { case (sid, name, s, c, attrs) =>
      val parent = jobSpan.find(_._1.stages.contains(sid)).map(_._2).getOrElse(0)
      add(parent, "stage", s, c, attrs ++ Seq("stage_id" -> sid.toString, "op" -> name.take(60)))
    }
  }

  /** Self time: a span's duration less the part its children cover. */
  def selfTimes(): Map[Int, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(t => t._2 > t._1).sortBy(_._1)
      var covered = 0.0; var hi = Double.NegativeInfinity
      iv.foreach { case (a, b) =>
        if (b > hi) { covered += b - math.max(a, hi); hi = b }
      }
      s.id -> (s.durMs - covered)
    }.toMap
  }

  def write(f: Path, summary: Seq[(String, String)]): Unit = {
    Files.createDirectories(f.getParent)
    val self = selfTimes()
    val lines = all.map { s =>
      val a = s.attrs.map { case (k, v) => s""","${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString
      f"""{"span":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        f""""start_ms":${s.startMs}%.3f,"dur_ms":${s.durMs}%.3f,"self_ms":${self(s.id)}%.3f$a}"""
    }
    val byName = all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      f"""{"summary":"${Json.esc(n)}","count":${xs.size},""" +
        f""""total_ms":${xs.map(_.durMs).sum}%.3f,"self_ms":${xs.map(s => self(s.id)).sum}%.3f}"""
    }
    val head = summary.map { case (k, v) => s""""${Json.esc(k)}":$v""" }.mkString("{", ",", "}")
    Files.write(f, (head +: (byName ++ lines)).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive wrappers and query
    * stages; reused exchanges are skipped so nothing counts twice. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
