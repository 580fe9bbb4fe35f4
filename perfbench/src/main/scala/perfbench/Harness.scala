package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** JVM side of the benchmark. `perfbench/run.py` starts it once per run and
  * talks to it over stdin/stdout: every protocol line starts with `PB `,
  * and the last one is `PB RESULT {json}`.
  *
  * Usage: Harness --workload registry_sf01|serve_read|serve_live|serve_live_reads
  *   --seed N --seconds S --trace 0|1 --work DIR --data DIR
  *   --registry FILE [--history H --backlog B --rate R] [--trace-file FILE]
  *   Harness --workload prepare_store --work DIR --history H ...
  *   Harness --pin --data DIR --names a,b,c */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: String, dataDir: String, registryFile: String, history: Long, backlog: Long, rate: Double,
      traceFile: String, cpus: Int)

  private val stdin = new BufferedReader(new InputStreamReader(System.in))

  def mark(tag: String, fields: Map[String, Any] = Map.empty): Unit = {
    println(s"PB $tag ${Json.obj(fields.toSeq)}")
    System.out.flush()
  }

  def awaitCommand(cmd: String): Unit = {
    var line = stdin.readLine()
    while (line != null && line.trim != cmd) line = stdin.readLine()
    if (line == null) throw new IllegalStateException(s"stdin closed while waiting for $cmd")
  }

  /** At the end of the measured phase: `retained_heap_mb`, the heap the
    * program still holds (heap in use after a full collection; unlike the
    * process's RSS it does not read back the fixed heap size), and, traced,
    * the measured phase's GC time and peak heap, taken before that
    * collection. */
  def heapFigures(tracer: Option[Tracer]): Map[String, Any] = {
    val jvm = tracer.map(tr => Map[String, Any]("jvm.gc_ms" -> tr.gcSinceStartMs,
      "jvm.peak_heap_mb" -> tr.peakHeapMb)).getOrElse(Map.empty)
    // the least of four collections 250 ms apart: Spark's ContextCleaner
    // drops a finished job's broadcasts only after a collection has found
    // them unreachable, so the first reading still holds them; and a
    // running micro-batch's working set comes and goes
    val usedMb = (1 to 4).map { _ =>
      System.gc()
      val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(250)
      used
    }.min
    jvm + ("retained_heap_mb" -> usedMb)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.get(s"local[$cpus]", cpus)
    if (argv.contains("--pin")) {
      Registry.pin(spark, kv("data"), kv("names").split(',').toSeq)
      spark.stop()
      return
    }
    val h = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv.getOrElse("data", ""), kv.getOrElse("registry", ""),
      kv.getOrElse("history", "0").toLong, kv.getOrElse("backlog", "0").toLong,
      kv.getOrElse("rate", "0").toDouble, kv.getOrElse("trace-file", ""), cpus)
    val tracer = if (h.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val result =
      try h.workload match {
        case "registry_sf01" => Registry.run(spark, h, tracer)
        case "serve_read" | "serve_live" | "serve_live_reads" => ServeBench.run(spark, h, tracer)
        case "prepare_store" => ServeBench.prepare(spark, h)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } catch {
        case t: Throwable =>
          Map[String, Any]("error" -> s"${t.getClass.getName}: ${t.getMessage}")
      }
    tracer.foreach { tr =>
      tr.settle()
      if (h.traceFile.nonEmpty) tr.writeTo(h.traceFile)
    }
    mark("RESULT", result)
    // the result is out and every deployment is stopped; skip Spark's
    // multi-second orderly shutdown (run.py clears the run directory)
    Runtime.getRuntime.halt(0)
  }
}
