package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.Serve
import graft.api.{QueryService, RestServer, WsServer}
import graft.ingest.BlockStore
import graft.schema.Model.PackedBlock
import graft.streaming.{BlockFetcher, ChainSimSource, IngestJob}

/** The simulated chain head the serve workloads drive. Its head starts
  * `backlog` blocks in; once [[start]] fixes `t0`, it advances at `rate`
  * blocks/s on the wall clock up to `stopHead`. Block `n > backlog` is due
  * at `t0 + (n - backlog) / rate`. One JVM-wide instance: Spark builds the
  * fetcher from its class name, and local mode keeps readers in this JVM. */
object LiveChain {
  @volatile var backlog: Long = 0L
  @volatile var rate: Double = 0.0
  @volatile var t0Ms: Long = Long.MaxValue
  @volatile var stopHead: Long = 0L

  def start(t0: Long, seconds: Double): Unit = {
    stopHead = backlog + math.floor(seconds * rate).toLong
    t0Ms = t0
  }

  def head(nowMs: Long): Long =
    if (nowMs < t0Ms || rate <= 0) backlog
    else math.min(stopHead, backlog + math.floor((nowMs - t0Ms) / 1000.0 * rate).toLong)
}

/** The fetcher `Serve` loads by class name: sim-chain blocks, harness head. */
final class LiveFetcher extends BlockFetcher {
  override def head(): Long = LiveChain.head(System.currentTimeMillis())
  override def fetchBlock(n: Long): Option[PackedBlock] = ChainSimSource.fetchBlock(n)
}

/** The store with spans around its public read and write calls. Ingest
  * calls also tag their thread, so the tracer books the micro-batch
  * thread's Spark work to `ingest`. */
final class TracedBlockStore(spark: SparkSession, root: String, tr: Tracer)
    extends BlockStore(spark, root) {
  private def tagIngest(): Unit = spark.sparkContext.addJobTag(Tracer.IngestTag)
  override def view(table: String): DataFrame = tr.span("store.view", "table" -> table)(super.view(table))
  override def storeBatch(packed: DataFrame, batchId: Long): Unit = {
    tagIngest(); tr.span("ingest.store", "batch" -> batchId)(super.storeBatch(packed, batchId))
  }
  override def promote(latest: Long, confirmations: Long): Long = {
    tagIngest(); tr.span("ingest.promote")(super.promote(latest, confirmations))
  }
}

object ServeBench {

  /** What the harness needs from a running deployment. */
  final case class Deployment(store: BlockStore, job: IngestJob,
      query: org.apache.spark.sql.streaming.StreamingQuery,
      restPort: Int, wsPort: Int, stop: () => Unit)

  def config(storeRoot: String): Serve.Config = Serve.Config(
    port = 0, wsPort = 0, storeRoot = storeRoot,
    fetcherOverride = classOf[LiveFetcher].getName, maxNumber = Long.MaxValue / 4)

  /** Untraced: the deployment exactly as `Serve.run` composes it. */
  def boot(spark: SparkSession, cfg: Serve.Config): Deployment = {
    val r = Serve.run(spark, cfg)
    Deployment(r.store, r.job, r.query, r.restPort, r.wsPort, () => r.stop())
  }

  /** Traced: the same public constructors `Serve.run` calls, with a
    * [[TracedBlockStore]] and a span around `WsServer.publish`. */
  def bootTraced(spark: SparkSession, cfg: Serve.Config, tr: Tracer): Deployment = {
    val store = new TracedBlockStore(spark, s"${cfg.storeRoot}/store", tr)
    val fanout = new WsServer(cfg.wsPort)
    fanout.start()
    val job = new IngestJob(spark, store, cfg.blockConfirmations,
      onPublish = df => tr.span("fanout.publish")(fanout.publish(df)))
    val startCount = store.view("blocks").count()
    val startedAt = System.nanoTime()
    val inserted = new AtomicLong(0L)
    val stream = spark.readStream
      .format(classOf[ChainSimSource].getName)
      .option("blocksPerBatch", cfg.sliceBlocks.toString)
      .option("maxNumber", cfg.maxNumber.toString)
      .option("fetcher", cfg.fetcherOption)
      .load()
      .select(org.apache.spark.sql.functions.from_json(
        org.apache.spark.sql.functions.col("value"), graft.schema.Schemas.packedBlock).as("p"))
      .select("p.*")
    val query = job.start(stream, s"${cfg.storeRoot}/checkpoint")
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == query.id) {
          val m = e.progress.observedMetrics.get("ingest")
          if (m != null && !m.isNullAt(m.fieldIndex("blocks_processed")))
            inserted.addAndGet(m.getAs[Long]("blocks_processed"))
        }
    }
    spark.streams.addListener(listener)
    val service = new QueryService(store.view("blocks"), store.view("transactions"),
      store.view("events"), maxBlockRange = cfg.blockRange, maxTimeRange = cfg.timeRange)
    def status(): RestServer.SyncStatus = {
      val latest = job.latest.get()
      val count = startCount + inserted.get()
      RestServer.SyncStatus(latest, count, inserted.get(), (System.nanoTime() - startedAt) / 1e9,
        if (latest >= 0 && count >= latest + 1) "synced" else "syncing")
    }
    val rest = new RestServer(service, () => status(), cfg.port)
    rest.start()
    Deployment(store, job, query, rest.boundPort, fanout.boundPort, () => {
      try query.stop() catch { case scala.util.control.NonFatal(_) => () }
      spark.streams.removeListener(listener)
      rest.stop()
      fanout.stop()
    })
  }

  /** Highest present sim-chain block at or below `n`. */
  def lastPresent(n: Long): Long = Iterator.iterate(n)(_ - 1).find(m => ChainSimSource.fetchBlock(m).isDefined).get

  private def waitUntil(timeoutS: Double)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(5)
    cond
  }

  private def dirBytes(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Run `serve_read` (rate 0: the head never moves) or `serve_live`. The
    * load comes from a separate process; this side boots, catches up,
    * reports READY, starts the head on GO and reports store figures on STOP. */
  def run(spark: SparkSession, h: Harness.Args, tracer: Option[Tracer]): Map[String, Any] = {
    // the store under `root` holds sim blocks 0..h.history (see `prepare`);
    // the head starts h.backlog blocks beyond it
    LiveChain.backlog = h.history + h.backlog
    LiveChain.rate = h.rate
    val root = s"${h.workDir}/serve"
    val cfg = config(root)
    val bootStart = System.nanoTime()
    val d = tracer.map(bootTraced(spark, cfg, _)).getOrElse(boot(spark, cfg))
    val bootS = (System.nanoTime() - bootStart) / 1e9
    val target = lastPresent(LiveChain.backlog)
    val synced = h.backlog == 0 || waitUntil(120)(d.job.latest.get() >= target)
    val syncS = (System.nanoTime() - bootStart) / 1e9 - bootS
    // the catch-up batch goes on to publish and promote: wait until the
    // stream is idle so the measured phase starts on a settled store
    waitUntil(120)(!d.query.status.isTriggerActive && !d.query.status.isDataAvailable)
    val settledS = (System.nanoTime() - bootStart) / 1e9
    Harness.mark("READY", Map("rest" -> d.restPort, "ws" -> d.wsPort, "boot_s" -> bootS,
      "sync_s" -> syncS, "synced" -> synced, "settled_s" -> settledS, "target" -> target))
    Harness.awaitCommand("GO")
    val t0 = System.currentTimeMillis() + 300
    val measuredFromNs = System.nanoTime() + 300000000L
    tracer.foreach { tr => tr.settle(); tr.reset() }
    LiveChain.start(t0, h.seconds)
    Harness.mark("T0", Map("t0_ms" -> t0, "stop_head" -> LiveChain.stopHead))
    Harness.awaitCommand("STOP")
    // traced: let the running micro-batch finish, so every batch the spans
    // and Spark counters saw also has its progress event
    if (tracer.isDefined) waitUntil(60)(!d.query.status.isTriggerActive)
    val heap = Harness.heapFigures(tracer)
    val finalLatest = d.job.latest.get()
    val storeDir = s"$root/store"
    val segments = Seq("blocks", "transactions", "events").map(t =>
      t -> Option(Paths.get(s"$storeDir/confirmed/$t/_segments")).filter(Files.exists(_))
        .map(p => Files.readAllLines(p).asScala.count(_.nonEmpty)).getOrElse(0))
    val hotBlocks = d.store.hot.count()
    val storeBytes = dirBytes(storeDir)
    val storedBlocks = d.store.view("blocks").count()
    val base = Map[String, Any](
      "boot_s" -> bootS, "sync_s" -> syncS, "synced" -> synced,
      "sync_blocks_per_s" -> (if (h.backlog == 0) 0.0 else h.backlog / syncS),
      "final_latest" -> finalLatest, "stop_head" -> LiveChain.stopHead,
      "stored_blocks" -> storedBlocks, "store_bytes" -> storeBytes,
      "store_bytes_per_block" -> storeBytes.toDouble / math.max(1L, storedBlocks),
      "segments" -> segments.toMap, "hot_blocks" -> hotBlocks)
    val layers = tracer.map(tr => serveLayers(tr, segments.map(_._2), hotBlocks, storeBytes, storedBlocks, h, measuredFromNs))
    d.stop()
    base ++ heap ++ layers.getOrElse(Map.empty)
  }

  /** Build the store every serve run starts from: sim blocks 0..history,
    * ingested by `Serve.run` in one catch-up micro-batch, then stopped. */
  def prepare(spark: SparkSession, h: Harness.Args): Map[String, Any] = {
    LiveChain.backlog = h.history
    val t0 = System.nanoTime()
    val d = boot(spark, config(s"${h.workDir}/serve"))
    val synced = waitUntil(600)(d.job.latest.get() >= lastPresent(h.history))
    waitUntil(600)(!d.query.status.isTriggerActive && !d.query.status.isDataAvailable)
    d.stop()
    Map("synced" -> synced, "seconds" -> (System.nanoTime() - t0) / 1e9)
  }

  /** `store.*`, `ingest.*`, `stream.*`, `fanout.publish_ms` and the server
    * side of `api.*` from the traced deployment. */
  private def serveLayers(tr: Tracer, segments: Seq[Int], hotBlocks: Long, storeBytes: Long,
      storedBlocks: Long, h: Harness.Args, measuredFromNs: Long): Map[String, Any] = {
    tr.settle()
    val owners = tr.ownersSnapshot
    val api = owners.getOrElse("api", new tr.Owner)
    val ingest = owners.getOrElse("ingest", new tr.Owner)
    // ChainOffset JSON: `next` or `next,reorgSeq`, possibly quoted
    def block(offset: String): Long =
      Option(offset).map(_.split(',')(0).trim.stripPrefix("\"").stripSuffix("\"").toLong).getOrElse(0L)
    def endOffset(p: StreamingQueryProgress): Long = p.sources.headOption.map(s => block(s.endOffset)).getOrElse(0L)
    def latestOffset(p: StreamingQueryProgress): Long = p.sources.headOption.map(s => block(s.latestOffset)).getOrElse(0L)
    // micro-batches of the measured phase: those that read past the backlog
    val progress = tr.progress.asScala.toSeq.filter(p => endOffset(p) > LiveChain.backlog + 1)
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val batches = progress.size
    val spans = (n: String) => tr.spansNamed(n).filter(_.startNs >= measuredFromNs)
    val spanMs = (n: String) => spans(n).map(_.ms)
    // one store, publish and promote call per batch: keep those of the
    // batches counted above, not of one still running at STOP
    val batchSpanMs = (n: String) => spans(n).sortBy(_.startNs).take(batches).map(_.ms)
    val storeMs = batchSpanMs("ingest.store"); val promoteMs = batchSpanMs("ingest.promote")
    val publishMs = batchSpanMs("fanout.publish")
    // the offset range, not numInputRows: foreachBatch evaluates the batch
    // several times, and each evaluation adds to numInputRows
    def startOffset(p: StreamingQueryProgress): Long = p.sources.headOption.map(s => block(s.startOffset)).getOrElse(0L)
    val blocksIngested = progress.map(p => endOffset(p) - startOffset(p)).sum
    val perBatch = (xs: Seq[Double]) => if (batches == 0) 0.0 else xs.sum / batches
    val batchMs = dur("addBatch")
    val viewMs = spanMs("store.view")
    // the views a request resolves run on the REST server's own threads
    val apiViewMs = spans("store.view").filter(_.thread.startsWith("rest-server")).map(_.ms)
    Map(
      "store.view_ms" -> Stats.mean(viewMs),
      "store.segments" -> segments.sum, "store.hot_blocks" -> hotBlocks,
      "store.bytes" -> storeBytes,
      "store.bytes_per_block" -> storeBytes.toDouble / math.max(1L, storedBlocks),
      "ingest.batches" -> batches,
      "ingest.blocks_per_batch" -> (if (batches == 0) 0.0 else blocksIngested.toDouble / batches),
      "ingest.batch_p50_ms" -> Stats.median(batchMs),
      "ingest.batch_p90_ms" -> Stats.quantile(batchMs, 0.9),
      "ingest.store_ms" -> perBatch(storeMs), "ingest.publish_ms" -> perBatch(publishMs),
      "ingest.promote_ms" -> perBatch(promoteMs),
      "ingest.other_ms" -> perBatch(Seq(batchMs.sum - storeMs.sum - publishMs.sum - promoteMs.sum)),
      "ingest.jobs_per_batch" -> (if (batches == 0) 0.0 else ingest.jobs.toDouble / batches),
      "ingest.tasks_per_batch" -> (if (batches == 0) 0.0 else ingest.tasks.toDouble / batches),
      "ingest.bytes_written_per_block" -> ingest.bytesWritten.toDouble / math.max(1L, blocksIngested),
      "stream.latest_offset_ms" -> Stats.mean(dur("latestOffset")),
      "stream.query_planning_ms" -> Stats.mean(dur("queryPlanning")),
      "stream.wal_commit_ms" -> Stats.mean(dur("walCommit")),
      "stream.trigger_ms" -> Stats.mean(dur("triggerExecution")),
      "stream.lag_blocks_start" -> progress.headOption.map(p => latestOffset(p) - endOffset(p)).getOrElse(0L),
      "stream.lag_blocks_end" -> progress.lastOption.map(p => latestOffset(p) - endOffset(p)).getOrElse(0L),
      "fanout.publish_ms" -> perBatch(publishMs),
      "server.api_executions" -> api.executions,
      "server.api_plan_ms_total" -> (api.analysisMs + api.optimizationMs + api.planningMs + apiViewMs.sum),
      "server.api_exec_ms_total" -> api.executionMs,
      "server.api_jobs" -> api.jobs, "server.api_tasks" -> api.tasks)
  }
}
