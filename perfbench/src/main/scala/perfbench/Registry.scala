package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.{Bench, SparkEntry}

/** The `registry_sf01` workload: the pinned registry entries, forced one
  * by one after an untimed warm-up pass, in a seed-shuffled order per
  * timed pass. Each forced scalar is checked against its pinned value. */
object Registry {

  final case class Entry(name: String, group: String, expected: Long)

  /** Timed passes run until `--seconds` pass, and at least this many. */
  val MinPasses = 3

  def load(path: String): Seq[Entry] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.get("entries").elements().asScala.map { e =>
      Entry(e.get("name").asText, e.get("group").asText, e.get("expected").asLong)
    }.toSeq
  }

  /** `evm` = ev_*, `pipeline` = p_*, `operators` = the rest (a/g/j/q/t*). */
  def groupOf(name: String): String =
    if (name.startsWith("ev_")) "evm" else if (name.startsWith("p_")) "pipeline" else "operators"

  /** The value [[Bench.force]] computes and discards: the row count, or for
    * [[Bench.decodeForced]] entries the xor of a hash over every column. */
  def forcedScalar(name: String, df: DataFrame): Long =
    if (Bench.decodeForced(name)) {
      val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(expr("bit_xor(h)")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    } else df.count()

  final case class Timed(entry: Entry, pass: Int, seconds: Double, ok: Boolean, error: String)

  /** Force `e` once: wall seconds, and whether its scalar matched. */
  def runOnce(spark: SparkSession, sfDir: String, e: Entry, pass: Int,
      tracer: Option[Tracer]): Timed = {
    val sc = spark.sparkContext
    val tag = Tracer.OpTagPrefix + e.name
    tracer.foreach(_ => sc.addJobTag(tag))
    val t0 = System.nanoTime()
    val outcome =
      try {
        val got = forcedScalar(e.name, SparkEntry.queries(e.name)(spark, sfDir))
        if (got == e.expected) Right(()) else Left(s"scalar $got, pinned ${e.expected}")
      } catch { case t: Throwable => Left(Option(t.getMessage).getOrElse(t.getClass.getName).take(300)) }
    val secs = (System.nanoTime() - t0) / 1e9
    tracer.foreach { tr =>
      sc.removeJobTag(tag)
      tr.spans.add(Tracer.Span("registry.entry", t0, t0 + (secs * 1e9).toLong,
        Thread.currentThread().getName, Map("entry" -> e.name, "group" -> e.group, "pass" -> pass)))
    }
    Timed(e, pass, secs, outcome.isRight, outcome.left.getOrElse(""))
  }

  /** Bench's isolation between passes: drop cached relations, then GC so
    * ContextCleaner frees the previous pass's shuffle and broadcast state. */
  def isolate(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** Print the scalar of every listed entry (to pin them). */
  def pin(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val v = forcedScalar(n, SparkEntry.queries(n)(spark, sfDir))
      println(Json.obj(Seq("name" -> n, "group" -> groupOf(n), "expected" -> v)))
    }

  def run(spark: SparkSession, h: Harness.Args, tracer: Option[Tracer]): Map[String, Any] = {
    val entries = load(h.registryFile)
    val missing = entries.map(_.name).filterNot(SparkEntry.queries.contains)
    val warm = entries.map(e => runOnce(spark, h.dataDir, e, 0, None))
    tracer.foreach { tr => tr.settle(); tr.reset() }
    Harness.mark("SETUP_DONE")
    val rng = new scala.util.Random(h.seed)
    val timed = Seq.newBuilder[Timed]
    var pass = 0
    var passTotals = Seq.empty[Double]
    val t0 = System.nanoTime()
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < h.seconds) {
      pass += 1
      isolate(spark)
      val done = rng.shuffle(entries).map(e => runOnce(spark, h.dataDir, e, pass, tracer))
      timed ++= done
      passTotals :+= done.map(_.seconds).sum
    }
    val heap = Harness.heapFigures(tracer)
    val all = warm ++ timed.result()
    val failures = all.filterNot(_.ok)
    // an entry's time is its median over the timed passes: robust to one
    // pass that hit host contention, and unlike a minimum it does not
    // drift with the number of passes a run fits in
    val entryMs = timed.result().groupBy(_.entry.name).map { case (n, ts) => n -> Stats.median(ts.map(_.seconds * 1000)) }
    val times = entryMs.values.toSeq
    val base = Map[String, Any](
      "attempted" -> all.size,
      "failed" -> failures.size,
      "failures" -> failures.map(f => s"${f.entry.name} (pass ${f.pass}): ${f.error}").distinct.take(20),
      "missing_entries" -> missing,
      "passes" -> pass,
      "entries" -> entries.size,
      "registry_total_s" -> times.sum / 1000,
      "pass_total_s" -> Stats.median(passTotals),
      "latency_p50_ms" -> Stats.median(times),
      "latency_p90_ms" -> Stats.quantile(times, 0.9),
      "throughput_per_s" -> times.size * 1000 / times.sum,
      "samples" -> timed.result().size,
      "warmup_ms" -> warm.map(t => t.entry.name -> t.seconds * 1000).toMap,
      "timed_ms" -> entryMs)
    base ++ heap ++ tracer.map(tr => layers(spark, tr, timed.result(), pass)).getOrElse(Map.empty)
  }

  /** The `registry.*` per-layer figures: per-pass planning phases, execution,
    * jobs/stages/tasks and shuffle bytes over the timed passes, split by group. */
  private def layers(spark: SparkSession, tr: Tracer, timed: Seq[Timed],
      passes: Int): Map[String, Any] = {
    tr.settle()
    val floorMs = {
      val runs = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); spark.range(1).count(); (System.nanoTime() - t0) / 1e6
      }
      Stats.median(runs)
    }
    val owners = tr.ownersSnapshot
    def perPass(pick: Tracer#Owner => Long, names: Set[String]): Double =
      owners.collect { case (k, o) if k.startsWith("op:") && names(k.drop(3)) => pick(o) }.sum.toDouble / passes
    val allNames = timed.map(_.entry.name).toSet
    val perEntryMedianMs = timed.groupBy(_.entry.name).map { case (n, ts) => n -> Stats.median(ts.map(_.seconds * 1000)) }
    val groups = Seq("evm", "operators", "pipeline").flatMap { g =>
      val names = timed.filter(_.entry.group == g).map(_.entry.name).toSet
      Seq(s"registry.$g.total_s" -> timed.filter(_.entry.group == g).map(_.seconds).sum / passes,
        s"registry.$g.planning_ms" -> perPass(o => o.analysisMs + o.optimizationMs + o.planningMs, names),
        s"registry.$g.jobs" -> perPass(_.jobs, names))
    }
    Map(
      "registry.analysis_ms" -> perPass(_.analysisMs, allNames),
      "registry.optimization_ms" -> perPass(_.optimizationMs, allNames),
      "registry.planning_ms" -> perPass(_.planningMs, allNames),
      "registry.execution_ms" -> perPass(_.executionMs, allNames),
      "registry.jobs" -> perPass(_.jobs, allNames),
      "registry.stages" -> perPass(_.stages, allNames),
      "registry.tasks" -> perPass(_.tasks, allNames),
      "registry.shuffle_read_bytes" -> perPass(_.shuffleRead, allNames),
      "registry.shuffle_write_bytes" -> perPass(_.shuffleWrite, allNames),
      "registry.floor_ms" -> floorMs,
      "registry.floor_bound_entries" -> perEntryMedianMs.count(_._2 < 2 * floorMs)) ++ groups
  }
}
