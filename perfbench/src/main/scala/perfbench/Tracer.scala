package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-layer accounting for a traced run. Everything is kept in memory and
  * written once, by [[Tracer.writeTo]], when the run ends.
  *
  * Spark work is attributed to an owner:
  *   - `op:<name>`  a registry entry, tagged with a job tag by the harness;
  *   - `ingest`     the streaming micro-batch thread (Spark's own
  *                  `sql.streaming.queryId` property, or the harness tag);
  *   - `api`        everything else, i.e. REST and GraphQL handler threads.
  *
  * Jobs, stages, tasks and shuffle bytes come from a [[SparkListener]];
  * planning phases and execution time from the SQL execution end event;
  * micro-batch phases from a [[StreamingQueryListener]]; spans around
  * public calls from [[span]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class Owner {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var bytesWritten = 0L
    var executions = 0L; var analysisMs = 0L; var optimizationMs = 0L
    var planningMs = 0L; var executionMs = 0L
  }

  private val owners = new ConcurrentHashMap[String, Owner]()
  private def owner(name: String): Owner = owners.computeIfAbsent(name, _ => new Owner)
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val execOwner = new ConcurrentHashMap[Long, String]()
  private val endedExecs = new ConcurrentHashMap[Long, (Map[String, Long], Long)]()

  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def ownerOf(tags: Iterable[String], streaming: Boolean): Option[String] =
    tags.collectFirst { case t if t.startsWith(OpTagPrefix) => "op:" + t.stripPrefix(OpTagPrefix) }
      .orElse(if (streaming || tags.exists(_ == IngestTag)) Some("ingest") else None)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val tags = prop("spark.job.tags").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
      val execId = prop("spark.sql.execution.id").map(_.toLong)
      val who = ownerOf(tags, prop("sql.streaming.queryId").isDefined)
        .orElse(execId.flatMap(id => Option(execOwner.get(id))))
        .getOrElse("api")
      execId.foreach(id => execOwner.putIfAbsent(id, who))
      e.stageIds.foreach(s => stageOwner.put(s, who))
      owner(who).synchronized { owner(who).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val who = Option(stageOwner.get(e.stageInfo.stageId)).getOrElse("api")
      owner(who).synchronized { owner(who).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val who = Option(stageOwner.get(e.stageId)).getOrElse("api")
      val o = owner(who)
      o.synchronized {
        o.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          o.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        ownerOf(s.jobTags, streaming = false).foreach(execOwner.putIfAbsent(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        endedExecs.put(end.executionId, (SqlEvents.phasesMs(end), SqlEvents.durationNs(end)))
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (e.progress.numInputRows > 0) progress.add(e.progress)
    }
  }

  @volatile private var gcAtStart = gcMs()

  // peak heap occupancy: the largest heap use any collection found on entry
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val peakHeapBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageBeforeGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakHeapBytes.accumulateAndGet(used, math.max(_, _))
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
      case _ =>
    }
  }

  /** Time `body` as a span named `name`; spans stay in memory. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally spans.add(Span(name, t0, System.nanoTime(), Thread.currentThread().getName, attrs.toMap))
  }

  /** Fold the finished SQL executions into their owners. Call after the
    * listener bus has drained. */
  def settle(): Unit = {
    SqlEvents.drain(spark.sparkContext)
    endedExecs.asScala.foreach { case (id, (phases, durationNs)) =>
      val o = owner(Option(execOwner.get(id)).getOrElse("api"))
      o.synchronized {
        o.executions += 1
        o.analysisMs += phases.getOrElse("analysis", 0L)
        o.optimizationMs += phases.getOrElse("optimization", 0L)
        o.planningMs += phases.getOrElse("planning", 0L)
        o.executionMs += durationNs / 1000000L
      }
    }
    endedExecs.clear()
  }

  def ownersSnapshot: Map[String, Owner] = owners.asScala.toMap

  /** Forget the owners' totals, GC time and peak heap so far (the set-up
    * phase's). */
  def reset(): Unit = {
    owners.clear()
    gcAtStart = gcMs()
    peakHeapBytes.set(0L)
  }

  def gcSinceStartMs: Long = gcMs() - gcAtStart

  def peakHeapMb: Double = peakHeapBytes.get / 1048576.0

  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Write every span, owner and micro-batch progress as JSON lines. */
  def writeTo(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.asScala.foreach { s =>
        out.println(Json.obj(Seq("kind" -> "span", "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "ms" -> s.ms, "thread" -> s.thread) ++ s.attrs.toSeq))
      }
      owners.asScala.toSeq.sortBy(_._1).foreach { case (k, o) =>
        out.println(Json.obj(Seq("kind" -> "owner", "owner" -> k, "jobs" -> o.jobs,
          "stages" -> o.stages, "tasks" -> o.tasks, "shuffle_read_bytes" -> o.shuffleRead,
          "shuffle_write_bytes" -> o.shuffleWrite, "bytes_written" -> o.bytesWritten,
          "executions" -> o.executions, "analysis_ms" -> o.analysisMs,
          "optimization_ms" -> o.optimizationMs, "planning_ms" -> o.planningMs,
          "execution_ms" -> o.executionMs)))
      }
      progress.asScala.foreach(p => out.println(p.json))
    } finally out.close()
  }
}

object Tracer {
  val OpTagPrefix = "pbop-"
  val IngestTag = "pbingest"

  final case class Span(name: String, startNs: Long, endNs: Long, thread: String,
      attrs: Map[String, Any]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Minimal JSON writer for flat objects of numbers, strings and booleans. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Percentiles and medians over measured samples. */
object Stats {
  /** 0 for no samples: a layer that did no work reports 0. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
