package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, GraftSession, SparkEntry}

/** Dev profiler for registry entries (not part of the library surface).
  *
  *   - `plan <sfDir> <outDir> <suffix> [name,...]` writes each entry's
  *     FormattedMode physical plan to `<outDir>/<name>_<suffix>.txt` —
  *     the before/after plan evidence kept under `plans/`.
  *   - `jobs <sfDir> [name,...]` forces each entry once untimed, then
  *     once more after [[Bench.isolate]], and prints for that warm pass
  *     its wall time, Spark jobs, stages, tasks, shuffle read/write bytes
  *     and the analysis/optimization/planning time of its SQL executions
  *     (`queryExecution.tracker`).
  *
  * Without a name list every entry is profiled. For timing alone use
  * `graft.Bench [name,...]`, for oracle checks `graft.Verify`. */
object Profile {
  def main(args: Array[String]): Unit = args.toList match {
    case "plan" :: sfDir :: outDir :: suffix :: rest if rest.size <= 1 =>
      plans(sfDir, outDir, suffix, SparkEntry.select(rest.headOption))
    case "jobs" :: sfDir :: rest if rest.size <= 1 =>
      jobs(sfDir, SparkEntry.select(rest.headOption))
    case _ =>
      System.err.println("usage: Profile plan <sfDir> <outDir> <suffix> [name,...]\n" +
        "       Profile jobs <sfDir> [name,...]")
      sys.exit(2)
  }

  private def plans(sfDir: String, outDir: String, suffix: String, names: Seq[String]): Unit = {
    val spark = GraftSession.get()
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        df.queryExecution.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
      println(s"PLAN wrote $name")
    }
    spark.stop()
  }

  private def jobs(sfDir: String, names: Seq[String]): Unit = {
    val spark = GraftSession.get()
    val counters = Seq("jobs", "stages", "tasks", "shufR", "shufW",
      "analysis", "optimization", "planning").map(_ -> new AtomicLong).toMap
    def add(k: String, v: Long): Unit = { counters(k).addAndGet(v); () }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = add("jobs", 1)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        add("stages", 1)
        add("tasks", s.stageInfo.numTasks)
        Option(s.stageInfo.taskMetrics).foreach { m =>
          add("shufR", m.shuffleReadMetrics.totalBytesRead)
          add("shufW", m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Seq("analysis", "optimization", "planning").foreach { p =>
          qe.tracker.phases.get(p).foreach(s => add(p, s.durationMs))
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    // listeners run on Spark's event bus; give it time to deliver a
    // pass's events before the counters are reset or read
    def settle(): Unit = Thread.sleep(300)

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      Bench.time(Bench.force(name, fn(spark, sfDir))) match {
        case Left(m) => println(s"PROFILE $name ERROR ${m.take(120)}")
        case Right(_) =>
          Bench.isolate(spark)
          settle()
          counters.values.foreach(_.set(0))
          val warm = Bench.time(Bench.force(name, fn(spark, sfDir)))
          settle()
          val c = counters.map { case (k, v) => k -> v.get }
          println(warm.fold(m => s"PROFILE $name ERROR ${m.take(120)}", sec =>
            f"PROFILE $name%-32s warm=$sec%7.3f jobs=${c("jobs")}%3d " +
              f"stages=${c("stages")}%3d tasks=${c("tasks")}%5d " +
              f"shufR=${c("shufR") / 1024}%8dK shufW=${c("shufW") / 1024}%8dK " +
              f"analysis=${c("analysis")}%5dms optimization=${c("optimization")}%5dms " +
              f"planning=${c("planning")}%5dms"))
      }
    }
    spark.stop()
  }
}
